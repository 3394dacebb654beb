"""Exact set-similarity and edit-distance self-joins via prefix filtering.

The LSH family (operators/blocking.py, operators/dedup.py) trades recall for
cost: banding misses a tunable fraction of true pairs.  This module is the
LOSSLESS alternative for thresholds where exactness is required — the
classic signature-based similarity joins:

* ``prefix_filter_jaccard_join`` — AllPairs/PPJoin-style prefix filtering
  (Bayardo et al., WWW 2007 "Scaling Up All Pairs Similarity Search";
  Xiao et al., WWW 2008): order every document's distinct tokens by GLOBAL
  ascending document frequency, emit only the first
  ``|x| - ceil(t*|x|) + 1`` tokens (the rarest ones) as join signatures —
  any pair with jaccard >= t provably shares a signature token, so the
  candidate set is complete, and the final jaccard verification makes the
  output exact.
* ``containment_near_duplicates`` — the asymmetric form
  (Chaudhuri/Ganti/Kaushik ICDE'06): containment >= t bounds only the
  SMALLER set's missing tokens, so its prefix is probed against the other
  doc's FULL token list.
* ``edit_distance_join`` — EDJoin-style (Xiao, Wang, Lin, VLDB 2008):
  q-gram signatures under the same global order with prefix length
  ``k*q + 1`` (one edit destroys at most ``q`` overlapping q-grams, so two
  strings within edit distance ``k`` cannot disagree on ``k*q + 1`` rarest
  grams), length filter ``abs(|x|-|y|) <= k`` in the join condition, exact
  ``levenshtein`` verification at the end.

All three run on one prefix-filter core; each caller only tokenizes
(strings, hashed strings, q-grams), picks a prefix length and adds its
filters:

* :func:`_df_ordered_tokens` — the global rarest-first token order (and the
  core's single lineage cut, see its eager-construction contract);
* :func:`_signature_join` — candidate pairs sharing a signature token;
* :func:`_overlap_verify` — exact ``array_intersect`` overlap (Jaccard and
  containment; edit distance verifies with ``levenshtein``).

The reference has no exact-join analog — its candidate generation is ANN
(reference lib/opensearch/services/search_query_builder.py:43-58) — but its
rerank stage IS an exact verifier over candidates
(reference lib/rerank.py:15-74); these operators fuse the two roles.

Scale shape, by construction:
* Join keys are the RAREST tokens/grams in the corpus (lowest df under the
  global order), so a prefix-against-prefix join's key distribution is the
  inverse of the Zipf head — hot boilerplate tokens never become join keys
  and need no salting.  Only containment's full-index side sees head tokens
  as keys, and only it salts them.
* The df ranking table is vocabulary-cardinality and is joined with a plain
  shuffle join — NEVER broadcast (same rule as the BM25 IDF table,
  operators/search.py).
* Verification joins fetch full token arrays by id AFTER candidate dedup,
  so the wide payload crosses the wire once per surviving pair side.
* Everything is DataFrame built-ins + ``F.levenshtein`` — zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.dedup import _distinct_tokens

# Containment's full-index join: a token in more than HOT_TOKEN_THRESHOLD
# docs spreads its index rows over N_SALTS reducers.
HOT_TOKEN_THRESHOLD = 20
N_SALTS = 8


def _df_ordered_tokens(toks: DataFrame, max_df: int | None = None) -> DataFrame:
    """``(_id, <per-doc columns>, _tok array)`` -> ``(_id, <per-doc
    columns>, _ord, _n)``: ``_ord`` holds the doc's tokens as ``(_df, _t)``
    structs sorted by (global df asc, token asc), ``_n`` its length.  This
    is the one global total order every prefix-filter proof requires; ties
    are broken by token so both engines agree.  Token-empty and NULL sets
    are dropped.

    ``max_df`` caps the vocabulary: tokens in more than that many docs
    (stopwords/boilerplate) leave the UNIVERSE — orders, prefixes, index and
    verify all see the filtered sets, so results stay exact w.r.t. them.

    **Eager-construction contract** (all three public joins): this is the
    core's only lineage cut.  Its consumers (prefix sides, index side,
    verify sides, the short-string stratum) would otherwise each re-run the
    tokenize->df->order chain, so it is a ``localCheckpoint(eager=True)``:
    every public join runs these Spark jobs before it returns, even if the
    result is never consumed.  The cut is executor-local and NOT replicated
    — losing an executor fails later jobs on the result instead of
    recomputing it.
    """
    keys = [c for c in toks.columns if c != "_tok"]
    ex = toks.where(F.size("_tok") > 0).select(
        *keys, F.explode("_tok").alias("_t")
    )
    df_tab = ex.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        df_tab = df_tab.where(F.col("_df") <= int(max_df))
    # vocabulary-cardinality table: pinned to a shuffle hash join —
    # Catalyst would broadcast it off small-scale stats, and at web
    # scale the vocabulary cannot broadcast (the BM25 IDF rule; the
    # plan audit asserts no BroadcastExchange survives in q84/q104/q105).
    # The inner join doubles as the max_df vocabulary filter.
    ranked = ex.join(df_tab.hint("shuffle_hash"), "_t")
    return (
        ranked.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_t"))).alias("_ord"))
        .select(*keys, "_ord", F.size("_ord").alias("_n"))
        .localCheckpoint(eager=True)
    )


def _signature_rows(ordered: DataFrame, upto: Column) -> DataFrame:
    """One row per (doc, token) for the doc's first ``upto`` tokens under
    the global order: per-doc columns plus the token's 0-based position
    ``_p`` (PPJoin's positional filter), ``_t`` and its df ``_df``."""
    keys = [c for c in ordered.columns if c != "_ord"]
    return ordered.select(
        *keys, F.posexplode(F.slice("_ord", F.lit(1), upto)).alias("_p", "_e")
    ).select(*keys, "_p", F.col("_e._t").alias("_t"), F.col("_e._df").alias("_df"))


def _signature_join(
    ordered: DataFrame,
    prefix_len: Column,
    cond: Column | None = None,
    full_index: bool = False,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, with repeats:
    distinct docs whose signature rows share a token (and pass ``cond``).

    Both sides are :func:`_signature_rows` aliased ``a`` and ``b``, so
    ``cond`` can reference e.g. ``a._n`` or ``b._p``.  Side ``b`` is each
    doc's first ``prefix_len`` tokens.  Side ``a`` is the same prefix
    (Jaccard, edit distance: a qualifying pair shares a prefix token on
    both sides) or, with ``full_index``, every token (containment: only the
    smaller set's prefix must hit the other set).

    The full index carries the Zipf head as join keys, so only that form
    salts, with the discipline of ``pairs.block_pair_stream``: each row
    KNOWS its token's df, so a hot token (df > ``HOT_TOKEN_THRESHOLD``)
    splits the big index side over ``N_SALTS`` reducers by
    ``pmod(xxhash64(id), N_SALTS)`` while the small probe side replicates
    to every salt — no size-table join.  The join is pinned shuffle_hash
    with the probe side as build: both sides are corpus-cardinality and
    must never broadcast.
    """
    probe = _signature_rows(ordered, prefix_len)
    ida, idb = F.col("a._id"), F.col("b._id")
    key = F.col("a._t") == F.col("b._t")
    if full_index:
        index = _signature_rows(ordered, F.col("_n"))
        salts = F.when(
            F.col("_df") > HOT_TOKEN_THRESHOLD, F.lit(N_SALTS)
        ).otherwise(F.lit(1))
        probe = probe.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), salts - 1))
        )
        index = index.withColumn(
            "_salt", F.pmod(F.xxhash64("_id"), salts).cast("int")
        )
        # a pair is found from either side's prefix: normalise its order
        key = key & (F.col("a._salt") == F.col("b._salt")) & (ida != idb)
        ida, idb = F.least(ida, idb), F.greatest(ida, idb)
    else:
        # prefix against prefix is symmetric: keep one orientation
        index = probe
        key = key & (ida < idb)
    if cond is not None:
        key = key & cond
    return (
        index.alias("a")
        .join(probe.alias("b").hint("shuffle_hash"), key)
        .select(ida.alias("id_a"), idb.alias("id_b"))
    )


def _overlap_verify(cand: DataFrame, ordered: DataFrame) -> DataFrame:
    """Deduplicated candidates joined to both docs' full token sets ->
    ``(id_a, id_b, _i, _na, _nb, jaccard)``, where ``_i`` is the exact
    overlap (JVM ``array_intersect``) and ``_na``/``_nb`` the set sizes."""
    full = ordered.select("_id", F.col("_ord._t"), "_n")
    inter = F.size(F.array_intersect("_ta", "_tb"))
    return (
        cand.distinct()
        .join(full.toDF("id_a", "_ta", "_na").hint("shuffle_hash"), "id_a")
        .join(full.toDF("id_b", "_tb", "_nb").hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", inter.alias("_i"), "_na", "_nb")
        .withColumn(
            "jaccard",
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double"),
        )
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Exact jaccard >= threshold self-join over whitespace token sets.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``, one row per
    qualifying unordered pair.  Empty and NULL token sets are dropped (a
    threshold > 0 can never admit them against a non-empty set, and the
    empty-vs-empty pair is degenerate for dedup purposes).

    Tokenization is the engine-wide :func:`_distinct_tokens` so results are
    directly comparable with the MinHash path (q21) at the same threshold.
    Runs its lineage cut at construction: see the eager-construction
    contract of :func:`_df_ordered_tokens`.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    ordered = _df_ordered_tokens(
        df.select(
            F.col(id_col).alias("_id"), _distinct_tokens(text_col).alias("_tok")
        )
    )
    # prefix length |x| - ceil(t|x|) + 1: the rarest tokens whose absence
    # from the other side would already cap jaccard below t
    plen = F.col("_n") - F.ceil(F.lit(t) * F.col("_n")).cast("int") + F.lit(1)
    na, nb, pa, pb = (F.col(c) for c in ("a._n", "b._n", "a._p", "b._p"))
    # Two lossless filters folded into the join:
    # * length filter: jaccard >= t forces min(|x|,|y|)/max(|x|,|y|) >= t;
    # * POSITIONAL filter (PPJoin, Xiao et al. WWW'08): both token lists
    #   follow the same global total order, so a common token at 0-based
    #   positions (pa, pb) bounds the overlap by
    #   min(pa, pb) + 1 + min(|x|-pa-1, |y|-pb-1) (commons before it sit
    #   before it on BOTH sides; commons after it likewise), while
    #   jaccard >= t needs overlap >= t/(1+t) * (|x|+|y|).  The bound
    #   over-counts the true overlap, so every token of a qualifying
    #   pair passes — keeping pairs that pass on ANY token loses nothing
    #   (the 1e-9 slack keeps float ceil from over-rounding the
    #   requirement; under-rounding only admits extra candidates).
    required = F.ceil(F.lit(t / (1.0 + t)) * (na + nb) - F.lit(1e-9))
    pos_bound = (
        F.least(pa, pb) + F.lit(1) + F.least(na - pa - F.lit(1), nb - pb - F.lit(1))
    )
    cand = _signature_join(
        ordered,
        plen,
        (F.least(na, nb) >= F.lit(t) * F.greatest(na, nb))
        & (pos_bound >= required),
    )
    return (
        _overlap_verify(cand, ordered)
        .select("id_a", "id_b", "jaccard")
        .where(F.col("jaccard") >= t)
    )


def containment_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    containment_threshold: float = 0.9,
    max_token_df: int | None = None,
) -> DataFrame:
    """Pairs where the SMALLER token set is mostly inside the larger one:
    ``containment = |A∩B| / min(|A|,|B|) >= threshold`` -> (id_a, id_b,
    containment, jaccard), ``id_a < id_b``.

    Symmetric-Jaccard LSH structurally misses small-inside-big duplication
    (a quote page inside an aggregator page has jaccard |A|/|B| ~ 0 but
    containment 1), which is why dedup pipelines carry a containment pass
    alongside MinHash (the reference's kNN retrieval has the same blind
    spot — cosine over whole-doc embeddings dilutes an embedded fragment;
    reference lib/opensearch/services/search_query_builder.py:46-62).

    **Exact, not probabilistic**: if the smaller set A has containment
    >= t in B then at most ``floor((1-t)·|A|)`` of A's tokens are missing
    from B, so by pigeonhole at least one of A's first
    ``floor((1-t)·|A|)+1`` rarest tokens (its PREFIX) appears in B.
    Joining prefixes against the full inverted index therefore finds every
    qualifying pair, and the ``array_intersect`` verify over the hashed
    token sets makes the output exact.  Rarest-first ordering keeps the
    probe side cheap: per-token candidate lists stay short.

    ``max_token_df`` is the vocabulary cap for web scale (see
    :func:`_df_ordered_tokens`); dropping stopwords index-side only would
    silently lose recall.  Default None keeps the full vocabulary (the
    oracle-comparable form).  Token-empty docs (blank text, or fully
    stopword under the cap) never pair — the q21 oracle convention.

    Runs its lineage cut at construction: see the eager-construction
    contract of :func:`_df_ordered_tokens`.
    """
    t = float(containment_threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(
            f"containment_threshold must be in (0, 1], got {containment_threshold}"
        )
    ordered = _df_ordered_tokens(
        df.select(
            F.col(id_col).alias("_id"),
            F.transform(_distinct_tokens(text_col), lambda x: F.xxhash64(x)).alias(
                "_tok"
            ),
        ),
        max_df=max_token_df,
    )
    # floor((1-t)·n)+1, guarded against float-low rounding (an undersized
    # prefix breaks the pigeonhole guarantee; oversized only costs work)
    plen = F.least(
        (F.floor((1.0 - t) * F.col("_n") + 1e-9) + 1).cast("int"), F.col("_n")
    )
    cand = _signature_join(ordered, plen, full_index=True)
    containment = F.col("_i").cast("double") / F.least("_na", "_nb").cast("double")
    return (
        _overlap_verify(cand, ordered)
        .select("id_a", "id_b", containment.alias("containment"), "jaccard")
        .where(F.col("containment") >= t)
    )


def _qgram_set(s: Column, q: int) -> Column:
    """Distinct q-grams of ``s``; a string shorter than q contributes
    itself as its only gram (so very short strings still join)."""
    grams = F.when(
        F.length(s) < q, F.array(s)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (q - 1)),
            lambda i: F.substring(s, i, q),
        )
    )
    return F.array_distinct(grams)


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    q: int = 2,
) -> DataFrame:
    """Exact ``levenshtein <= k`` self-join via q-gram prefix signatures.

    Returns ``(id_a, id_b, distance)`` with ``id_a < id_b``.  NULL strings
    are dropped.  Prefix length is ``k*q + 1``: one edit touches at most
    ``q`` grams, so for strings with MORE than ``k*q`` grams the disjoint-
    prefix overlap bound (``|Gx ∩ Gy| < max(|Gx|,|Gy|) - k*q`` whenever the
    two prefixes are disjoint under the global order) contradicts the
    ED-implied overlap — the prefix join is complete on that stratum.

    Strings with at most ``k*q`` grams carry too little gram evidence for
    ANY signature scheme ("a" vs "" is distance 1 with zero shared grams),
    so they take the EDJoin short-string corner case: each joins every
    string whose length is within ``k`` via an exploded length-window key
    and goes straight to verification.  Stratum membership is by DISTINCT
    q-gram count, so it holds two populations: genuinely short strings
    (length <= k*q + q - 1 ≈ 5 chars for k=2,q=2 — alphabet-bounded at
    web scale) and arbitrarily long LOW-ENTROPY strings ('aaaa…a' has one
    distinct bigram at any length).  Correctness is unaffected (the
    levenshtein verification prunes), but the stratum's join cost is
    bounded by the alphabet only for the first population; a corpus heavy
    in long repetitive strings pays |stratum| x |±k length window| in
    candidates there.

    Runs its lineage cut at construction: see the eager-construction
    contract of :func:`_df_ordered_tokens`.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    strs = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_s")
    ).where(F.col("_s").isNotNull())
    # the string length rides along as a per-doc column of the order
    ordered = _df_ordered_tokens(
        strs.select(
            "_id", F.length("_s").alias("_len"), _qgram_set(F.col("_s"), q).alias("_tok")
        )
    )
    cand = _signature_join(
        ordered.where(F.col("_n") > k * q),
        F.lit(k * q + 1),
        F.abs(F.col("a._len") - F.col("b._len")) <= k,
    )
    # EDJoin short-string corner case: <= k*q grams is too little gram
    # evidence for the prefix bound ("a" vs "" is distance 1 with zero
    # shared grams), so these rows — alphabet-bounded at web scale — join
    # EVERY string in their +-k length window and rely on verification
    # alone.  Exploding the short side to its 2k+1 candidate lengths keeps
    # the join an equi-join (no range condition).  Statically the join is
    # pinned shuffle_hash like everything else here — Catalyst's static
    # size estimate could pick the corpus-cardinality `lens` side as the
    # build; AQE converts the shuffle to a runtime broadcast of the short
    # side when it measures it tiny, which is the only trustworthy signal.
    lens = ordered.select("_id", "_len")
    short = (
        ordered.where(F.col("_n") <= k * q)
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_len") - k, F.col("_len") + k)
            ).alias("_len2"),
        )
        .where(F.col("_len2") >= 0)
    )
    short_cand = (
        short.alias("s")
        .join(
            lens.alias("l").hint("shuffle_hash"),
            (F.col("s._len2") == F.col("l._len"))
            & (F.col("s._id") != F.col("l._id")),
        )
        .select(
            F.least("s._id", "l._id").alias("id_a"),
            F.greatest("s._id", "l._id").alias("id_b"),
        )
    )
    cand = cand.unionAll(short_cand).distinct()
    return (
        cand.join(strs.toDF("id_a", "_sa").hint("shuffle_hash"), "id_a")
        .join(strs.toDF("id_b", "_sb").hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_sa", "_sb").alias("distance"),
        )
        .where(F.col("distance") <= k)
    )
