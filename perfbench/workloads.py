"""The benchmark's workloads.

Each workload writes its seeded inputs to parquet, does its own set-up, and
then runs one operation at a time (a closed loop with one client).  An
operation returns its complete result as driver-side rows; ``check`` lists
every way that result is wrong, ``quality`` scores it against the planted
truth, and ``digest`` fingerprints it so repeated operations can be compared.

With a ``SpanRecorder`` the operation brackets calls into the layers' public
functions.  Where a layer returns a lazy DataFrame, the bracket materialises
it (``localCheckpoint``) so the layer's work runs inside its own bracket;
results are unchanged and the extra cost is part of the tracing overhead.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
from collections import Counter, defaultdict

from perfbench import gen

# run_pipeline configuration of the linkage workloads
SCORE_ROUND = 6
# near_dup join threshold
JACCARD_T = 0.8
# search_rerank parameters (the reference defaults: k = size x overfetch)
SEARCH_SIZE, SEARCH_OVERFETCH, SEARCH_TOP_K = 10, 2, 5
EMBED_DIM = 256

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's ASCII \s, as Spark's split uses


def _bracket(rec, name: str):
    return contextlib.nullcontext() if rec is None else rec.span(name)


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


_ARROW_TYPES = {"string": "string", "long": "int64", "binary": "binary"}


def _write(spark, rows, schema: str, path: str):
    """Write ``rows`` as parquet with pyarrow, in as many part files as
    ``spark.createDataFrame(rows).write`` would make, so reading them back
    gives the program the same partitions without paying for a Spark job
    in set-up.  ``schema`` is a Spark DDL string of ``string``, ``long``,
    ``binary`` and ``timestamp`` (UTC) columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = []
    for col in schema.split(", "):
        name, kind = col.rsplit(" ", 1)
        kind = pa.timestamp("us", tz="UTC") if kind == "timestamp" else _ARROW_TYPES[kind]
        fields.append(pa.field(name.strip("`"), kind))
    arrow_schema = pa.schema(fields)
    parts = spark.sparkContext.defaultParallelism
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i in range(parts):  # the slicing of SparkContext.parallelize
        chunk = rows[len(rows) * i // parts: len(rows) * (i + 1) // parts]
        columns = list(zip(*chunk)) if chunk else [[] for _ in fields]
        table = pa.table([pa.array(c, f.type) for c, f in zip(columns, fields)],
                         schema=arrow_schema)
        pq.write_table(table, f"{path}/part-{i:05d}.parquet")


def _pair_quality(clusters: dict[str, str], family: dict[str, int]) -> tuple[float, float]:
    """Same-cluster pairs vs same-family pairs, counted from cell sizes
    (no pair enumeration).  Pages outside every family count only toward
    the predicted side."""
    pred = Counter(clusters.values())
    gold = Counter(family.values())
    cells = Counter((c, family[u]) for u, c in clusters.items() if u in family)
    both = sum(n * (n - 1) // 2 for n in cells.values())
    n_pred = sum(n * (n - 1) // 2 for n in pred.values())
    n_gold = sum(n * (n - 1) // 2 for n in gold.values())
    return both / max(n_pred, 1), both / max(n_gold, 1)


def _union_find_clusters(ids, edges) -> dict[str, str]:
    """Driver-side reference: (id -> min id of its component)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _partition_problems(rows, ids: list[str]) -> list[str]:
    seen = Counter(r[0] for r in rows)
    problems = []
    if set(seen) != set(ids):
        problems.append(f"cluster ids differ from input ids ({len(seen)} vs {len(ids)})")
    dup = [i for i, n in seen.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} ids assigned to several clusters")
    return problems


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


class Workload:
    name = ""
    records = 0

    def __init__(self, seed: int, tiny: bool):
        self.seed = seed
        self.tiny = tiny

    def write_inputs(self, spark, work: str) -> None:
        raise NotImplementedError

    def setup(self, spark, work: str) -> None:
        pass

    def op(self, spark, rec):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def quality(self, result) -> tuple[float, float]:
        raise NotImplementedError

    def digest(self, result) -> str:
        return _digest(result)


def _pipeline_config():
    from semantic_entity_matching_spark.plans.pipeline import MatchConfig

    return MatchConfig(score_round=SCORE_ROUND)


class BatchLink(Workload):
    """run_pipeline over one generated corpus."""

    name = "batch_link"

    def write_inputs(self, spark, work):
        spec = gen.PagesSpec(n_pages=300 if self.tiny else 3000)
        self.pages = gen.webpages(self.seed, spec)
        self.ids = [r[0] for r in self.pages.rows]
        self.records = len(self.ids)
        _write(spark, self.pages.rows, PAGES_SCHEMA, f"{work}/pages")
        self.df = spark.read.parquet(f"{work}/pages")

    def op(self, spark, rec):
        from semantic_entity_matching_spark.plans.pipeline import run_pipeline
        from perfbench.trace import stage_reporter

        reporter = None if rec is None else stage_reporter(rec)
        res = run_pipeline(self.df, _pipeline_config(), reporter=reporter)
        clusters = sorted(tuple(r) for r in res.clusters.collect())
        edges = sorted(tuple(r) for r in res.edges.select("id_a", "id_b").collect())
        return clusters, edges

    def check(self, result):
        clusters, edges = result
        problems = _partition_problems(clusters, self.ids)
        if dict(clusters) != _union_find_clusters(self.ids, edges):
            problems.append("clusters differ from a union-find over the returned edges")
        return problems

    def quality(self, result):
        return _pair_quality(dict(result[0]), self.pages.family)


class IncrementalFold(Workload):
    """run_incremental folds a day-2 delta into a day-1 clustering."""

    name = "incremental_fold"

    def write_inputs(self, spark, work):
        spec = gen.PagesSpec(n_pages=300 if self.tiny else 3000)
        self.pages = gen.webpages(self.seed, spec)
        day1, day2 = gen.split_days(self.seed, self.pages, 0.1)
        self.ids = [r[0] for r in self.pages.rows]
        self.records = len(day2)
        _write(spark, day1, PAGES_SCHEMA, f"{work}/day1")
        _write(spark, day2, PAGES_SCHEMA, f"{work}/day2")
        self.day1 = spark.read.parquet(f"{work}/day1")
        self.day2 = spark.read.parquet(f"{work}/day2")

    def setup(self, spark, work):
        from semantic_entity_matching_spark.plans.pipeline import run_pipeline
        from semantic_entity_matching_spark.streaming.incremental_match import (
            ReferenceIndex,
        )

        cfg = _pipeline_config()
        run_pipeline(self.day1, cfg).clusters.write.mode("overwrite").parquet(
            f"{work}/day1_clusters"
        )
        self.prev = spark.read.parquet(f"{work}/day1_clusters")
        self.index = ReferenceIndex(self.day1, cfg)
        self.index.records.count()
        self.index.blocks.count()
        full = run_pipeline(self.day1.unionByName(self.day2), cfg)
        self.expected = sorted(tuple(r) for r in full.clusters.collect())

    def op(self, spark, rec):
        from semantic_entity_matching_spark.plans import incremental

        with _traced_incremental(rec):
            res = incremental.run_incremental(
                self.day1, self.prev, self.day2, _pipeline_config(), index=self.index
            )
            return sorted(tuple(r) for r in res.clusters.collect())

    def check(self, result):
        problems = _partition_problems(result, self.ids)
        if result != self.expected:
            problems.append("fold differs from a from-scratch run_pipeline over day 1 + day 2")
        return problems

    def quality(self, result):
        return _pair_quality(dict(result), self.pages.family)


@contextlib.contextmanager
def _traced_incremental(rec):
    """Bracket the three layer calls run_incremental makes, by swapping the
    names it looks up in its own module for the duration of one operation."""
    if rec is None:
        yield
        return
    from semantic_entity_matching_spark.plans import incremental
    from perfbench.trace import stage_reporter

    orig = (incremental.match_edges, incremental.run_pipeline, incremental.update_components)

    def match_edges(*a, **kw):
        with rec.span("streaming.incremental_match") as span:
            out = orig[0](*a, **kw).localCheckpoint(eager=True)
            span.rows = out.count()
        return out

    def run_pipeline(*a, **kw):
        return orig[1](*a, reporter=stage_reporter(rec), **kw)

    def update_components(*a, **kw):
        with rec.span("operators.cluster") as span:
            out = orig[2](*a, **kw).localCheckpoint(eager=True)
            span.rows = out.count()
        return out

    incremental.match_edges = match_edges
    incremental.run_pipeline = run_pipeline
    incremental.update_components = update_components
    try:
        yield
    finally:
        incremental.match_edges, incremental.run_pipeline, incremental.update_components = orig


class SearchRerank(Workload):
    """Embed noisy free-text queries, then search_and_rerank against a
    pre-embedded LOINC-style catalog."""

    name = "search_rerank"

    def write_inputs(self, spark, work):
        n_cat, n_q = (500, 50) if self.tiny else (3000, 1200)
        cat = gen.catalog(self.seed, n_cat)
        queries = gen.queries_labeled(self.seed, cat, n_q)
        self.gold = {i: q[0] for i, q in enumerate(queries)}
        self.records = n_q
        _write(spark, cat, "LOINC_NUM string, LONG_COMMON_NAME string, COMPONENT string, "
               "CLASS string", f"{work}/catalog")
        _write(spark, [(i, *q) for i, q in enumerate(queries)],
               "query_id long, `loinc code` string, `department name` string, "
               "`test description` string", f"{work}/queries")

    def setup(self, spark, work):
        from pyspark.sql import functions as F
        from semantic_entity_matching_spark.functions.embed import (
            TokenHashEmbeddingProvider,
        )

        self.embed = TokenHashEmbeddingProvider(dim=EMBED_DIM).udf()
        spark.read.parquet(f"{work}/catalog").select(
            F.col("LOINC_NUM").alias("candidate_id"),
            F.col("LONG_COMMON_NAME").alias("text"),
            self.embed(F.col("LONG_COMMON_NAME")).alias("embedding"),
        ).write.mode("overwrite").parquet(f"{work}/catalog_embedded")
        self.corpus = spark.read.parquet(f"{work}/catalog_embedded")
        self.queries = spark.read.parquet(f"{work}/queries").select(
            "query_id",
            F.concat_ws(" ", "department name", "test description").alias("query_text"),
        )

    def op(self, spark, rec):
        from pyspark.sql import functions as F
        from semantic_entity_matching_spark.operators.ann import brute_force_topk
        from semantic_entity_matching_spark.operators.search import search_and_rerank

        with _bracket(rec, "functions.embed") as span:
            q = self.queries.withColumn(
                "embedding", self.embed(F.col("query_text"))
            ).localCheckpoint(eager=True)
            if span is not None:
                span.rows = self.records

        def timed_retriever(*a, **kw):
            with rec.span("operators.ann") as span:
                hits = brute_force_topk(*a, **kw).localCheckpoint(eager=True)
                span.rows = hits.count()
            return hits

        with _bracket(rec, "operators.search") as span:
            hits = search_and_rerank(
                q, self.corpus, size=SEARCH_SIZE, overfetch=SEARCH_OVERFETCH,
                top_k=SEARCH_TOP_K,
                retriever=brute_force_topk if rec is None else timed_retriever,
            )
            rows = sorted(
                (r.query_id, r.rank, r.candidate_id, r.knn_score, r.rerank_score)
                for r in hits.collect()
            )
            if span is not None:
                span.rows = len(rows)
        return rows

    def check(self, result):
        problems = []
        by_query = defaultdict(list)
        for row in result:
            by_query[row[0]].append(row)
        if set(by_query) != set(self.gold):
            problems.append(f"{len(set(self.gold) - set(by_query))} queries got no rows")
        for qid, rows in by_query.items():
            if len(rows) > SEARCH_TOP_K:
                problems.append(f"query {qid}: {len(rows)} rows > top_k")
            if [r[1] for r in rows] != list(range(1, len(rows) + 1)):
                problems.append(f"query {qid}: ranks are not 1..n")
            order = [(-r[4], r[2]) for r in rows]
            if order != sorted(order):
                problems.append(f"query {qid}: ranking out of order")
        return problems[:20]

    def quality(self, result):
        """-> (precision of the top-1 mapping, recall of the gold row in
        the top_k list), over all queries."""
        top1 = sum(1 for r in result if r[1] == 1 and r[2] == self.gold[r[0]])
        found = {r[0] for r in result if r[2] == self.gold[r[0]]}
        return top1 / len(self.gold), len(found) / len(self.gold)

    def digest(self, result):
        return _digest([(a, b, c, round(d, 9), round(e, 9)) for a, b, c, d, e in result])


class NearDup(Workload):
    """Exact Jaccard self-join over longer pages with dense families."""

    name = "near_dup"

    def write_inputs(self, spark, work):
        spec = gen.PagesSpec(
            n_pages=300 if self.tiny else 1500, words=120, max_family=8,
            noise=0.1, hard_negative_rate=0.05,
        )
        self.pages = gen.webpages(self.seed, spec)
        self.records = len(self.pages.rows)
        _write(spark, self.pages.rows, PAGES_SCHEMA, f"{work}/pages")
        self.df = spark.read.parquet(f"{work}/pages")

    def setup(self, spark, work):
        self.expected = exact_jaccard_pairs(
            [(r[0], r[3]) for r in self.pages.rows], JACCARD_T
        )

    def op(self, spark, rec):
        from semantic_entity_matching_spark.operators.simjoin import (
            prefix_filter_jaccard_join,
        )

        with _bracket(rec, "operators.simjoin.order") as span:
            joined = prefix_filter_jaccard_join(self.df, "url", "text", JACCARD_T)
            if span is not None:
                span.rows = self.records
        with _bracket(rec, "operators.simjoin.join") as span:
            rows = sorted(tuple(r) for r in joined.collect())
            if span is not None:
                span.rows = len(rows)
        return rows

    def check(self, result):
        if result != self.expected:
            got, want = set(result), set(self.expected)
            return [f"join differs from the driver-side truth: {len(got - want)} extra, "
                    f"{len(want - got)} missing rows"]
        return []

    def quality(self, result):
        fam = self.pages.family
        emitted = {(a, b) for a, b, _ in result}
        hits = sum(1 for a, b in emitted if a in fam and fam.get(a) == fam.get(b))
        n_gold = sum(n * (n - 1) // 2 for n in Counter(fam.values()).values())
        return hits / max(len(emitted), 1), hits / max(n_gold, 1)


class SearchDedup(Workload):
    """``search_rerank`` then ``near_dup``, timed as one operation.  The two
    paths that bypass blocking, pairs and clustering share one workload, so
    that a run of the benchmark fits its time budget and still measures
    ``operators.ann``, ``operators.search`` and ``operators.simjoin``.
    Each part keeps its own inputs and output check; the quality reported is
    the search part's (the join's is fixed by its exact check)."""

    name = "search_dedup"

    def __init__(self, seed: int, tiny: bool):
        super().__init__(seed, tiny)
        self.parts = (SearchRerank(seed, tiny), NearDup(seed, tiny))

    def write_inputs(self, spark, work):
        for part in self.parts:
            part.write_inputs(spark, f"{work}/{part.name}")
        self.records = sum(part.records for part in self.parts)

    def setup(self, spark, work):
        for part in self.parts:
            part.setup(spark, f"{work}/{part.name}")

    def op(self, spark, rec):
        return tuple(part.op(spark, rec) for part in self.parts)

    def check(self, result):
        return [f"{part.name}: {problem}"
                for part, r in zip(self.parts, result) for problem in part.check(r)]

    def quality(self, result):
        return self.parts[0].quality(result[0])

    def digest(self, result):
        return _digest([part.digest(r) for part, r in zip(self.parts, result)])


def exact_jaccard_pairs(docs: list[tuple[str, str | None]], t: float) -> list[tuple]:
    """Driver-side truth for the near-dup join: every unordered pair of
    documents whose sets of lowercased whitespace tokens (empty sets
    excluded) reach Jaccard >= t, as sorted ``(id_a, id_b, jaccard)`` with
    ``id_a < id_b``.  A pair can only reach
    t if the two sets share a token among their rarest ``n - floor(t*n) + 1``
    (a conservative prefix); every candidate is then verified exactly."""
    sets = {}
    for i, text in docs:
        toks = set(_WS.split(text.lower())) - {""} if text is not None else set()
        if toks:
            sets[i] = toks
    freq = Counter(tok for toks in sets.values() for tok in toks)
    index: dict[str, list[str]] = defaultdict(list)
    out = []
    for i in sorted(sets, key=lambda k: len(sets[k])):
        toks = sets[i]
        n = len(toks)
        prefix = sorted(toks, key=lambda tok: (freq[tok], tok))[: n - int(t * n) + 1]
        cands = {j for tok in prefix for j in index[tok]}
        for j in cands:
            inter = len(toks & sets[j])
            jac = inter / (n + len(sets[j]) - inter)
            if jac >= t:
                a, b = (i, j) if i < j else (j, i)
                out.append((a, b, jac))
        for tok in prefix:
            index[tok].append(i)
    return sorted(out)


WORKLOADS = {
    w.name: w for w in (BatchLink, IncrementalFold, SearchRerank, NearDup, SearchDedup)
}
