"""Physical-plan audit: assert the scale-critical plan properties hold.

Prints each headline query's formatted plan highlights and FAILS (exit 1)
if a property regresses.  Properties audited:

  1. column pruning  — the flagship pipeline never materializes the fat
     ``html`` binary column (ReadSchema excludes it at the parquet scan)
  2. filter pushdown — q29's pre-retrieval corpus filter reaches the scan
     (PushedFilters contains the lang predicate)
  3. index reuse     — q19's BM25 plan reads the persisted inverted index
     (InMemoryTableScan) instead of re-tokenizing the corpus
  4. broadcast       — q17's query side broadcasts (BroadcastExchange /
     BroadcastNestedLoopJoin), the corpus never shuffles
  5. codegen         — q01's agg pipeline runs inside WholeStageCodegen
                       (checked on the executed AQE final plan)
  6. no corpus broadcast in pair scoring — score_pairs joins the records
     table via hash-partitioned shuffle joins (never BroadcastHashJoin):
     a corpus-side broadcast is a driver-serial HashedRelation build
     shipped per-executor, measured anti-scaling 30→160 s at 4 executors,
     and cannot exist at 10^12 docs
  7. decontamination broadcasts the (small) eval n-gram set — the corpus
     never shuffles for the overlap join
  8. host stats stay fully JVM (no Python eval node) with map-side
     partial aggregation before the domain shuffle
  9. shard packing never range-partitions (no global sort) — the only
     exchange is the hash shuffle on the md5-prefix bucket

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import re as _pa_re
import sys
import tempfile

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.01"
FAILURES: list[str] = []


def check(name: str, ok: bool, detail: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'} {name}: {detail}")
    if not ok:
        FAILURES.append(name)


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from semantic_entity_matching_spark.session import get_session

    spark = get_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # 1. column pruning: html never read by the pipeline's record prep
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        prepare_records,
    )
    from semantic_entity_matching_spark.sources.synth import (
        SynthConfig,
        synth_webpages,
    )

    with tempfile.TemporaryDirectory() as d:
        pages, _ = synth_webpages(spark, SynthConfig(n_entities=10, seed=7))
        pages.write.mode("overwrite").parquet(f"{d}/pages")
        scan = spark.read.parquet(f"{d}/pages")
        explained = prepare_records(
            scan, MatchConfig()
        )._jdf.queryExecution().explainString(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        read_schema = [
            ln for ln in explained.splitlines() if "ReadSchema" in ln
        ]
        check(
            "html_pruned_at_scan",
            bool(read_schema) and all("html" not in ln for ln in read_schema),
            (read_schema or ["<no ReadSchema>"])[0].strip()[:140],
        )

    def explained_of(df) -> str:
        return df._jdf.queryExecution().explainString(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # 2. filter pushdown on q29's corpus filter
    q29 = E.q29_search_rerank(spark, SF)
    e29 = explained_of(q29)
    pushed = [
        ln
        for ln in e29.splitlines()
        if "PushedFilters" in ln and "lang" in ln
    ]
    check(
        "q29_lang_filter_pushed",
        bool(pushed),
        (pushed or ["<no lang PushedFilters>"])[0].strip()[:140],
    )

    # 3. q19 reuses the persisted inverted index (one tokenization pass)
    q19 = E.q19_lexical_bm25(spark, SF)
    e19 = explained_of(q19)
    n_mem = e19.count("InMemoryTableScan")
    n_docscan = sum(
        1
        for ln in e19.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    )
    check(
        "q19_single_tokenization",
        n_mem >= 1,
        f"InMemoryTableScan x{n_mem}, documents parquet scans x{n_docscan}",
    )

    # 4. q17: grouped brute-force scoring — the corpus crosses the Python
    # boundary ONCE in a single MapInPandas (the query matrix rides an
    # sc.broadcast, replacing the round-5 broadcast join that replicated
    # every corpus vector per query), no Exchange may sit between the scan
    # and the scorer, and the per-query top-k must carry the map-side
    # WindowGroupLimit partial (no full per-query sort task).
    q17 = E.q17_ann_topk(spark, SF)
    e17 = explained_of(q17)
    # the formatted tree prints root-first, so the scorer's UPSTREAM
    # (scan side) is the tree text AFTER its line — that slice must hold
    # no Exchange
    tree17 = e17.split("\n\n")[0].splitlines()
    mip_idx = [i for i, ln in enumerate(tree17) if "MapInPandas" in ln]
    below = "\n".join(tree17[mip_idx[0] + 1 :]) if mip_idx else ""
    check(
        "q17_grouped_scorer_no_corpus_shuffle",
        bool(mip_idx) and "Exchange" not in below,
        f"MapInPandas x{len(mip_idx)}, exchanges below scorer: "
        f"{below.count('Exchange')}",
    )
    check(
        "q17_topk_window_group_limit_partial",
        "WindowGroupLimit" in e17 and "Partial" in e17,
        f"WindowGroupLimit x{e17.count('WindowGroupLimit')}",
    )

    # 5. q01 agg inside whole-stage codegen (explain mode "codegen" reports
    # "Found N WholeStageCodegen subtrees"; pre-execution AQE plans hide the
    # markers in simple/formatted modes)
    q01 = E.q01_pricing_summary(spark, SF)
    q01.collect()  # AQE reveals codegen subtrees only in the final plan
    e01c = q01._jdf.queryExecution().explainString(  # noqa: SLF001
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
    )
    found = [ln for ln in e01c.splitlines() if "WholeStageCodegen subtrees" in ln]
    n_subtrees = int(found[0].split()[1]) if found else 0
    check(
        "q01_wholestage_codegen",
        n_subtrees >= 1,
        (found or ["<none>"])[0].strip(),
    )

    # 6. score_pairs never broadcasts the corpus side (float + int8 paths)
    from semantic_entity_matching_spark.plans.pipeline import score_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from semantic_entity_matching_spark.functions.embed import (
        TokenHashEmbeddingProvider,
    )

    recs = docs.select(
        F.col("doc_id").alias("url"),
        F.col("text"),
        TokenHashEmbeddingProvider(dim=64).udf()(F.col("text")).alias(
            "embedding"
        ),
    )
    prs = spark.createDataFrame(
        [(1, 2, "k")], "id_a long, id_b long, block_key string"
    )
    for label, cfg in (
        ("float", MatchConfig(id_col="url")),
        ("int8", MatchConfig(id_col="url", quantization="int8")),
    ):
        e_sp = explained_of(score_pairs(prs, recs, cfg))
        check(
            f"score_pairs_no_corpus_broadcast_{label}",
            "BroadcastHashJoin" not in e_sp,
            "no BroadcastHashJoin"
            if "BroadcastHashJoin" not in e_sp
            else "corpus-side BroadcastHashJoin present",
        )

    # 7. decontamination joins the (small) eval n-gram set by BROADCAST —
    # the corpus side must never shuffle for the overlap join (the only
    # shuffle in the plan is the per-doc count aggregate)
    from semantic_entity_matching_spark.operators.decontaminate import (
        decontaminate,
    )

    eval_df = docs.where(F.col("doc_id") % 50 == 0)
    corpus_df = docs.where(F.col("doc_id") % 50 != 0)
    e_dc = explained_of(decontaminate(corpus_df, eval_df, n=3))
    check(
        "decontaminate_broadcasts_eval",
        "BroadcastHashJoin" in e_dc and "SortMergeJoin" not in e_dc,
        "eval side broadcast, no sort-merge join"
        if "BroadcastHashJoin" in e_dc
        else "eval-side broadcast missing",
    )

    # 8. host stats stay fully JVM (no Python eval node) with map-side
    # partial aggregation before the domain shuffle
    from semantic_entity_matching_spark.functions.urlops import host_stats

    pages = E._docs_with_urls(spark, SF)
    e_hs = explained_of(host_stats(pages, url_col="url", text_col="text"))
    no_python = (
        "BatchEvalPython" not in e_hs and "ArrowEvalPython" not in e_hs
    )
    partial = "partial_" in e_hs or e_hs.count("HashAggregate") >= 2
    check(
        "host_stats_jvm_partial_agg",
        no_python and partial,
        "pure JVM exprs + partial aggregation"
        if no_python and partial
        else f"python_node={not no_python} partial_agg={partial}",
    )

    # 9. shard packing is a bucket-wise prefix-sum, not a global sort: the
    # plan must contain NO range-partitioning exchange (the signature of a
    # global Sort/window) — only the hash exchange on the bucket column.
    # (A within-partition Sort under FlatMapGroupsInPandas is fine: it
    # sorts each bucket locally, never range-shuffles the corpus.)
    from semantic_entity_matching_spark.operators.pack import (
        pack_by_token_budget,
    )

    e_pk = explained_of(pack_by_token_budget(docs, budget=2_000))
    n_hash_ex = e_pk.count("hashpartitioning")
    check(
        "pack_no_global_sort",
        "rangepartitioning" not in e_pk,
        f"no rangepartitioning exchange (hash exchanges x{n_hash_ex})"
        if "rangepartitioning" not in e_pk
        else "rangepartitioning exchange present — global sort leaked in",
    )

    # 10. candidate-pair generation is ONE fused self-join: the per-key
    # dynamic salt count routes cold and hot keys through a single
    # (block_key, _salt) join — the plan must contain NO Union node (the
    # signature of the old two-branch cold/hot formulation) and exactly
    # one join of the block table with itself.
    from semantic_entity_matching_spark.operators.pairs import (
        PairGenConfig,
        generate_candidate_pairs,
    )

    blocks_df = docs.selectExpr(
        "doc_id AS id", "substring(lower(text), 1, 8) AS block_key"
    ).where("block_key IS NOT NULL AND block_key <> ''")
    e_pr = explained_of(
        generate_candidate_pairs(
            blocks_df, id_col="id", config=PairGenConfig(), keep_block_key=False
        )
    )
    n_joins = e_pr.count("SortMergeJoin") + e_pr.count("ShuffledHashJoin")
    no_union = "Union" not in e_pr
    check(
        "pairgen_single_fused_join",
        no_union and n_joins <= 1,
        f"no Union, shuffle self-joins x{n_joins}"
        if no_union and n_joins <= 1
        else f"union={not no_union} shuffle_joins={n_joins} — cold/hot "
        "branches have un-fused",
    )

    # 10b. pair generation never broadcasts the FULL block-size table —
    # that table is corpus-cardinality (one row per distinct key; ~35
    # keys/doc on the webtext corpus) and a forced broadcast of it OOMs
    # the driver at 1e12 docs.  Only the Zipf head (block_size > threshold)
    # may broadcast: every BroadcastExchange whose input carries block_size
    # must sit directly above a Filter on block_size.  Formatted-plan
    # numbering is depth-first, so a unary node's child is (N-1).
    detail_blocks = {}
    for blk in e_pr.split("\n\n"):
        m = _pa_re.match(r"\((\d+)\)\s+(\S+)", blk.strip())
        if m:
            detail_blocks[int(m.group(1))] = (m.group(2), blk)
    bad_bx = []
    for n, (node, blk) in detail_blocks.items():
        if node != "BroadcastExchange" or "block_size" not in blk:
            continue
        child = detail_blocks.get(n - 1)
        if not (
            child
            and child[0] == "Filter"
            and "block_size" in child[1]
            and ">" in child[1]
        ):
            bad_bx.append(n)
    check(
        "pairgen_no_fullsizes_broadcast",
        not bad_bx,
        "every size-table BroadcastExchange sits above a block_size filter"
        if not bad_bx
        else f"BroadcastExchange nodes {bad_bx} broadcast the UNfiltered "
        "block-size table",
    )

    # 11. HTML extraction + outlink graph stay fully JVM: strip/entity/
    # href regexps are codegen Column exprs — a Python eval node here
    # would put a per-row interpreter in the hottest webtext path; the
    # DF/IDF top-k must be a TakeOrdered (per-partition heap), never a
    # global Sort of the token table.
    e_html = explained_of(E.q18_html_extract(spark, SF))
    e_out = explained_of(E.q25_outlink_domains(spark, SF))
    no_py = all(
        "evalpython" not in e for e in (e_html.lower(), e_out.lower())
    )
    check(
        "htmlops_jvm_only",
        no_py,
        "no Python eval nodes in q18/q25 plans"
        if no_py
        else "Python eval node leaked into the HTML strip/outlink path",
    )
    e_df = explained_of(E.q27_document_frequency(spark, SF))
    ok_dfidf = "TakeOrderedAndProject" in e_df
    check(
        "dfidf_takeordered_topk",
        ok_dfidf,
        "top-k is TakeOrderedAndProject"
        if ok_dfidf
        else "q27 top-k is not a TakeOrdered — global sort leaked in",
    )

    # 12. exact-substring span dedup aggregates on the window key — the
    # plan must contain NO Window node and NO rangepartitioning (a
    # window/sort formulation would pile every boilerplate hot key into
    # one unsplittable sort partition).
    import re as _re

    e_spans = explained_of(E.q33_duplicate_spans(spark, SF)).lower()
    # match the Window NODE header in BOTH formatted-explain renderings —
    # tree lines ("+- Window (5)") and detail headers ("(5) Window") —
    # without tripping on windowspecdefinition arguments or the n_windows
    # column name.  (Empirically verified against a row_number() plan: the
    # previous ^window\( pattern matched NEITHER form — dead assertion.)
    has_window_node = bool(
        _re.search(
            r"(?:^|[-+:\s])\(\d+\)\s+window(?:grouplimit)?\b"
            r"|^[\s:+|-]*window(?:grouplimit)?\s+\(\d+\)",
            e_spans,
            _re.M,
        )
    )
    ok_spans = not has_window_node and "rangepartitioning" not in e_spans
    check(
        "span_dedup_no_window_no_sort",
        ok_spans,
        "aggregate-only plan (no Window, no rangepartitioning)"
        if ok_spans
        else "Window/rangepartitioning leaked into the span-dedup plan",
    )

    # 13. golden-record survivorship is aggregate-only — the modal pick
    # must be the melt + count + min(struct) formulation, never a Window
    # over the melted table (hot mega-clusters would pile into one sort
    # partition).
    e_gr = explained_of(E.q39_golden_record(spark, SF)).lower()
    has_gr_window = bool(
        _re.search(
            r"(?:^|[-+:\s])\(\d+\)\s+window(?:grouplimit)?\b"
            r"|^[\s:+|-]*window(?:grouplimit)?\s+\(\d+\)",
            e_gr,
            _re.M,
        )
    )
    ok_gr = not has_gr_window and "rangepartitioning" not in e_gr
    check(
        "golden_record_no_window",
        ok_gr,
        "aggregate-only modal pick (no Window, no rangepartitioning)"
        if ok_gr
        else "Window/rangepartitioning leaked into the golden-record plan",
    )

    # 13b. survivor selection (keep-best, SemDeDup diversity-keep) is
    # aggregate + join — NO Window node: a chain-merged mega-component
    # would pile into one unsplittable window sort task, while the
    # min(struct) aggregate combines map-side and a skewed join splits
    # under AQE.
    for qname, fn in (
        ("q05_dedup_survivors", E.q05_dedup_survivors),
        ("q37_semantic_dedup", E.q37_semantic_dedup),
    ):
        e_sv = explained_of(fn(spark, SF)).lower()
        has_w = bool(
            _re.search(
                r"(?:^|[-+:\s])\(\d+\)\s+window(?:grouplimit)?\b"
                r"|^[\s:+|-]*window(?:grouplimit)?\s+\(\d+\)",
                e_sv,
                _re.M,
            )
        )
        check(
            f"survivor_no_window_{qname.split('_')[0]}",
            not has_w,
            "aggregate+join survivor mark (no Window node)"
            if not has_w
            else f"a Window node leaked into the {qname} plan",
        )

    # 14. FS scoring is pure codegen: the baked-in log-weight literals
    # must not drag a Python eval node into the pair table's hot path.
    e_fs = explained_of(E.q67_fellegi_sunter(spark, SF)).lower()
    ok_fs = "evalpython" not in e_fs
    check(
        "fs_scoring_jvm_only",
        ok_fs,
        "no Python eval node in the FS scoring plan"
        if ok_fs
        else "Python eval node leaked into FS scoring",
    )

    # 15. SemDeDup nearest-centroid assignment is a single map: no
    # Exchange before the mapInPandas (the centroid matrix rides in the
    # closure; any shuffle here would be pure waste at corpus scale).
    from semantic_entity_matching_spark.operators.dedup import (
        assign_nearest_centroid,
        hash_centroid_vectors,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e_asn = explained_of(
        assign_nearest_centroid(emb, hash_centroid_vectors(8, 64))
    ).lower()
    ok_asn = "exchange" not in e_asn
    check(
        "semdedup_assign_no_shuffle",
        ok_asn,
        "centroid assignment plan has zero exchanges"
        if ok_asn
        else "an Exchange leaked into the SemDeDup assignment map",
    )

    # 16. unigram-perplexity scoring joins the 1-row totals via broadcast
    # (never a CartesianProduct) and the vocabulary join is a hash join,
    # never a corpus-side broadcast of the (vocab-sized) LM table built
    # on the driver... a BroadcastNLJ over ONE row is the right plan; a
    # CartesianProduct anywhere is not.
    e_ppl = explained_of(E.q40_unigram_ppl(spark, SF)).lower()
    ok_ppl = "cartesianproduct" not in e_ppl
    check(
        "unigram_ppl_no_cartesian",
        ok_ppl,
        "scalar totals ride a broadcast join; no CartesianProduct"
        if ok_ppl
        else "CartesianProduct leaked into the perplexity plan",
    )

    # 17. meta-blocking (q76): the WNP per-node thresholds are hash
    # aggregates + id-keyed joins — no Window (per-node neighbourhoods are
    # unbounded at corpus scale, a window could not AQE-split) and no
    # CartesianProduct; the only BroadcastExchange allowed would be AQE's
    # own small-side choice, never a forced corpus-side build (the edge
    # and threshold tables are corpus-cardinality).
    e_mb = explained_of(E.q76_meta_blocking(spark, SF)).lower()
    ok_mb = "window" not in e_mb and "cartesianproduct" not in e_mb
    check(
        "metablocking_no_window_no_cartesian",
        ok_mb,
        "WNP pruning = aggregates + id-keyed joins (no Window/Cartesian)"
        if ok_mb
        else "a Window or CartesianProduct leaked into the q76 plan",
    )

    # 18. q82 merge candidates: centroid aggregation + cell-keyed pair
    # join + entity-keyed size joins — no Window (the aggregate/transform
    # reassembly replaces one), no CartesianProduct, and no
    # BroadcastHashJoin anywhere: the entity table scales with
    # corpus / avg-cluster-size and the size joins are hinted
    # shuffle_hash (pipeline.py convention).  The only allowed broadcast
    # is the centroid matrix inside the mapInPandas closure, which never
    # appears as a plan node.
    e_mc = explained_of(E.q82_merge_candidates(spark, SF)).lower()
    ok_mc = (
        "cartesianproduct" not in e_mc
        and "broadcasthashjoin" not in e_mc
        and "window" not in e_mc
    )
    check(
        "merge_candidates_no_broadcast_no_window",
        ok_mc,
        "entity joins are shuffle-hash; no Window/Cartesian/broadcast"
        if ok_mc
        else "a broadcast, Window or Cartesian leaked into the q82 plan",
    )

    # 19. q83 split clusters: the same-component guard and the
    # subcomponent attach are id-keyed shuffle-hash joins — clusters and
    # edges are corpus-cardinality, a broadcast of either OOMs at web
    # scale; CC supersteps are the only iteration.
    e_sc = explained_of(E.q83_split_clusters(spark, SF)).lower()
    ok_sc = (
        "cartesianproduct" not in e_sc
        and "broadcasthashjoin" not in e_sc
        and "window" not in e_sc
    )
    check(
        "split_clusters_no_broadcast_no_window",
        ok_sc,
        "corpus-side joins are shuffle-hash; no Window/Cartesian/broadcast"
        if ok_sc
        else "a broadcast, Window or Cartesian leaked into the q83 plan",
    )

    # 20. cluster-aware split: ONE codegen CASE over an existing column —
    # zero exchanges, zero Python.  A shuffle here would mean the split
    # re-partitions a 10^12-row corpus for a map-only stamp.
    from semantic_entity_matching_spark.operators.sample import (
        cluster_split,
    )

    docs_cs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 5).alias("component")
    )
    e_cs = explained_of(
        cluster_split(docs_cs, {"train": 0.8, "val": 0.1, "test": 0.1})
    ).lower()
    ok_cs = "exchange" not in e_cs and "python" not in e_cs
    check(
        "cluster_split_zero_exchange",
        ok_cs,
        "split stamp is one codegen CASE — no Exchange, no Python"
        if ok_cs
        else "cluster_split plan contains an Exchange or Python node",
    )

    # 21. sketches (HLL + CMS) build as pure-JVM hash aggregates: no
    # Python eval node, no Window, no Cartesian; partial aggregation
    # (map-side combine) present before the one register/cell shuffle.
    from semantic_entity_matching_spark.functions.sketch import (
        cms_sketch,
        hll_distinct,
    )

    docs_sk = spark.read.parquet(f"{SF}/documents.parquet")
    e_hll = explained_of(hll_distinct(docs_sk, "lang", "text", p=8)).lower()
    toks_sk = docs_sk.where(F.col("text").isNotNull()).select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    )
    e_cms = explained_of(cms_sketch(toks_sk, "tok", d=4, w=1024)).lower()
    ok_sk = all(
        ("python" not in e) and ("window" not in e)
        and ("cartesianproduct" not in e) and ("partial" in e)
        for e in (e_hll, e_cms)
    )
    check(
        "sketches_jvm_partial_agg",
        ok_sk,
        "HLL/CMS build = JVM-only hash aggregates with map-side combine"
        if ok_sk
        else "a sketch plan grew a Python/Window/Cartesian node or lost partial agg",
    )

    # 22. incremental CC update: the delta fold touches the previous
    # assignment with semi/anti joins only — no Cartesian, no Window, and
    # no broadcast of the corpus-cardinality assignment table.
    from semantic_entity_matching_spark.operators.cluster import (
        update_components,
    )

    prev_a = docs_cs.select(
        F.col("doc_id").alias("id"), F.col("component")
    )
    delta_e = docs_cs.limit(20).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 5).alias("id_b")
    )
    e_uc = explained_of(update_components(prev_a, delta_e)).lower()
    ok_uc = (
        "cartesianproduct" not in e_uc
        and "window" not in e_uc
    )
    check(
        "update_components_join_only",
        ok_uc,
        "delta fold = semi/anti joins + CC supersteps; no Window/Cartesian"
        if ok_uc
        else "update_components plan grew a Window or Cartesian node",
    )

    # 23. lossless similarity joins (q84 prefix-filter containment, q104
    # prefix-filter Jaccard, q105 qgram edit-distance — one core in
    # operators/simjoin.py): every annotation table in these plans —
    # the DF/vocabulary table (one row per distinct token), the
    # signature / token-set / length / string side tables (one row per
    # record or token) — is corpus- or vocabulary-cardinality and must
    # NEVER broadcast.  Catalyst would happily broadcast them off
    # small-scale stats, so the core pins shuffle_hash; assert no
    # BroadcastHashJoin (or BroadcastNLJ/Cartesian) survives in any plan.
    for qname, fn in (
        ("q84", E.q84_containment_neardup),
        ("q104", E.q104_simjoin_jaccard),
        ("q105", E.q105_edit_distance_join),
    ):
        e_sj = explained_of(fn(spark, SF)).lower()
        ok_sj = (
            "broadcastexchange" not in e_sj
            and "cartesianproduct" not in e_sj
        )
        check(
            f"simjoin_no_broadcast_{qname}",
            ok_sj,
            "vocabulary/record annotation joins are all shuffle-hash"
            if ok_sj
            else f"a broadcast/Cartesian leaked into the {qname} plan",
        )

    if FAILURES:
        print(f"\n{len(FAILURES)} plan properties FAILED: {FAILURES}")
        sys.exit(1)
    print("\nALL PLAN PROPERTIES OK")


if __name__ == "__main__":
    main()
