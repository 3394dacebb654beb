"""Nearest-neighbor search over an embedding column.

Replaces the reference's OpenSearch HNSW kNN retrieval (reference
lib/opensearch/services/search_query_builder.py:46-62) with Spark-native
strategies:

* ``brute_force_topk`` — exact cosine top-k.  The query matrix is
  broadcast and each corpus Arrow batch is scored against every query in
  one numpy pass that keeps only the cells that can still reach their
  query's top k; ``ranked_topk`` merges the batches.  O(|Q| x |C|) work
  but embarrassingly parallel (corpus partitions never shuffle).
* ``lsh_topk`` — scale path: random-hyperplane LSH buckets both sides;
  candidates only meet inside a bucket (equi-join), then exact cosine +
  top-k.  Recall is tunable via (n_tables, n_bits); the reference's 2x
  over-fetch knob (k = 2*size, search_query_builder.py:58) maps to
  ``overfetch``.
* ``ivf_topk`` — scale path: each query probes its nearest k-means cells.

All return (query_id, candidate_id, score, rank) with rank 1-based by
(score desc, candidate_id asc) — deterministic tiebreak (SURVEY §2.5 W1).
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.similarity import cosine_udf


def ranked_topk(scored: DataFrame, k: int, query_col: str = "query_id") -> DataFrame:
    """Per-query top-k of a ``(query_id, candidate_id, score)`` table
    WITHOUT a candidate-set-sized sort partition.

    The scale hazard is a single window per query sorting that query's
    whole candidate set in ONE task (corpus-cardinality for brute force;
    window partitions cannot be AQE-split).  Spark 3.5+/4.x removes it in
    the engine: ``row_number() <= k`` triggers the InferWindowGroupLimit
    rule, which inserts a map-side ``WindowGroupLimit(Partial)`` BEFORE
    the exchange — each input partition forwards at most k rows per query
    — and a ``WindowGroupLimit(Final)`` after it, so the per-query window
    task sees <= k * num_input_partitions rows, never the candidate set.
    The plan shape (WindowGroupLimit Partial present, single Exchange) is
    pinned by tools/plan_audit.py; ties resolve identically because both
    phases use the same (score desc, candidate_id asc) total order, so
    output is partitioning-independent."""
    w = Window.partitionBy(query_col).orderBy(F.desc("score"), F.asc("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_col, "candidate_id", "score", "rank")
    )


# Query sides are scored in chunks of at most this many queries, one
# broadcast and one mapInPandas pass over the corpus per chunk.  Sizes the
# broadcast (16k queries x dim 1024 in float64, the dtype exactness
# requires: ~128 MB) and the dense per-batch matrices (brute_force_topk).
GROUPED_QUERY_BOUND = 16_384

# Slack on top of the 10^-d rounding width: cosines lie in [-1, 1], so the
# float error of Spark's rounding and of ``kth - delta`` is ~1e-16.
_ROUND_SLACK = 1e-12


def _select_cells(
    scores: np.ndarray, k: int | None, delta: float = 0.0, drop=None
) -> tuple[np.ndarray, np.ndarray]:
    """Row-major (row, column) indices of the cells of an ``(n_rows,
    n_queries)`` score matrix that can still reach their column's top k:
    score >= the column's k-th best - ``delta``.  A cell in a query's top k
    over all batches is in its own batch's top k under the same total
    order, so ``ranked_topk`` over the kept cells is exact.  Rounding to d
    decimals afterwards is monotone and moves a score by at most 10^-d / 2,
    so ``delta`` = 10^-d (plus float slack) keeps this for the rounded
    ranking.  A NaN score reaches Spark as null (pandas-to-Arrow), which
    the descending window ranks last, so NaN ranks as -inf here.  ``drop``
    cells (self-pairs; overwritten in ``scores``) are never kept and do
    not count toward k; ``k=None`` keeps every other cell.

    Bound: with no two scores of a column within ``delta`` of its k-th
    best, at most k cells per column are kept, so a 2,048-row batch against
    GROUPED_QUERY_BOUND queries yields at most k x 16,384 rows, not 33.5M."""
    n_rows = scores.shape[0]
    if k is None or n_rows <= k:
        keep = np.ones(scores.shape, dtype=bool)
    else:
        nan = np.isnan(scores)
        scores[nan] = -np.inf
        if drop is not None:
            scores[drop] = -np.inf
        kth = np.partition(scores, n_rows - k, axis=0)[n_rows - k]
        keep = scores >= kth - delta
        scores[nan] = np.nan
    if drop is not None:
        keep[drop] = False
    return np.nonzero(keep)


def _score_batches(
    batches: Iterator[pd.DataFrame], bc, k: int | None, delta: float, exclude_self: bool
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: each corpus batch against all broadcast queries in
    one float64 ``einsum("ij,kj->ik")`` — bit-identical to the per-pair
    ``einsum("ij,ij->i")`` of the pandas cosine UDF — trimmed by
    ``_select_cells``.  Self-pairs are ids equal by Python value."""
    qids, qmat, qnorm = bc.value
    qid_arr = np.asarray(qids, dtype=object)
    self_cols: dict = {}
    for j, qid in enumerate(qids if exclude_self else ()):
        self_cols.setdefault(qid, []).append(j)
    for batch in batches:
        if batch.empty:
            continue
        mat = np.vstack(batch["_cv"].to_numpy()).astype(np.float64)
        scores = np.einsum("ij,kj->ik", mat, qmat)  # (n, nq) dots
        norms = np.linalg.norm(mat, axis=1)[:, None] * qnorm[None, :]
        valid = norms > 0
        np.divide(scores, norms, out=scores, where=valid)
        scores[~valid] = 0.0
        del norms, valid
        ids = batch["candidate_id"].to_numpy()
        cells = [(i, j) for i, cid in enumerate(ids.tolist()) for j in self_cols.get(cid, ())]
        drop = tuple(np.array(cells, dtype=np.intp).T) if cells else None
        rows, cols = _select_cells(scores, k, delta, drop)
        yield pd.DataFrame(
            {"query_id": qid_arr[cols], "candidate_id": ids[rows], "score": scores[rows, cols]}
        )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    score_round: int | None = None,
    exclude_pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k.  The query side is collected (one job at
    construction) and sc.broadcast in chunks of GROUPED_QUERY_BOUND; per
    chunk, ONE mapInPandas pass scores every corpus Arrow batch against all
    of the chunk's queries and keeps the rows that can reach a query's top
    k (``_score_batches``).  ``ranked_topk`` over the union is the exact
    merge.  The corpus never shuffles; null vectors are never scored.

    ``score_round``: round the cosine BEFORE ranking so near-ties (< 1 ulp
    apart) become exact ties broken by candidate_id — makes the top-k set
    reproducible across engines/partitionings (SURVEY §7.3 hard part (c)).

    ``exclude_self`` drops equal-id cells (and, like SQL ``!=``, null ids)
    before selection.  ``exclude_pairs`` — a ``(query_id, candidate_id)``
    table anti-joined off the candidate stream before RANKING (so excluded
    rows can never displace a result): the hook hard-negative mining uses
    to remove known positives.  The scorer then keeps every row for an
    ordinary hash anti-join — the pair table may be corpus-scale (one
    positive per record), never force-broadcast.

    Bounds: the driver holds |Q| x dim float64; per task, a batch_rows x
    chunk_queries float64 score matrix — 256 MB at the 2,048-row Arrow
    batch and GROUPED_QUERY_BOUND queries — plus one more of that size
    (the norms, then np.partition's copy) and 32 MB boolean masks.
    """
    if exclude_pairs is not None:
        missing = {"query_id", "candidate_id"} - set(exclude_pairs.columns)
        if missing:
            raise ValueError(
                f"exclude_pairs needs columns query_id/candidate_id, missing {sorted(missing)}"
            )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")
    ).where(F.col("_qv").isNotNull())
    c = corpus.select(
        F.col(corpus_id).alias("candidate_id"), F.col(vec_col).alias("_cv")
    ).where(F.col("_cv").isNotNull())
    if exclude_self:
        q = q.where(F.col("query_id").isNotNull())
        c = c.where(F.col("candidate_id").isNotNull())
    q_rows = q.collect()
    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    schema = f"query_id {qid_type}, candidate_id {cid_type}, score double"
    # k < 1 ranks nothing; selecting at least 1 keeps the index valid
    body = partial(
        _score_batches,
        k=max(k, 1) if exclude_pairs is None else None,
        delta=0.0 if score_round is None else 10.0**-score_round + _ROUND_SLACK,
        exclude_self=exclude_self,
    )
    parts = []
    for lo in range(0, len(q_rows), GROUPED_QUERY_BOUND):
        chunk = q_rows[lo : lo + GROUPED_QUERY_BOUND]
        qmat = np.array([r["_qv"] for r in chunk], dtype=np.float64)
        bc = corpus.sparkSession.sparkContext.broadcast(
            ([r["query_id"] for r in chunk], qmat, np.linalg.norm(qmat, axis=1))
        )
        parts.append(c.mapInPandas(partial(body, bc=bc), schema=schema))
    if not parts:  # no query has a vector
        return ranked_topk(corpus.sparkSession.createDataFrame([], schema), k)
    scored = reduce(DataFrame.union, parts)
    if exclude_pairs is not None:
        scored = scored.join(
            exclude_pairs.select("query_id", "candidate_id"),
            ["query_id", "candidate_id"],
            "left_anti",
        )
    if score_round is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), score_round))
    # per-batch selection leaves a superset of each top k; this is the exact merge
    return ranked_topk(scored, k)


def _hyperplanes(n_tables: int, n_bits: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_tables, n_bits, dim)).astype(np.float32)


def _bucket_keys_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    out_id: str,
) -> DataFrame:
    """(id, bucket) rows: one bucket key per LSH table — sign pattern of the
    vector against n_bits random hyperplanes.  Single mapInPandas pass."""
    n_tables, n_bits, dim = planes.shape
    flat = planes.reshape(n_tables * n_bits, dim)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = np.uint64(1) << np.arange(n_bits, dtype=np.uint64)
        for batch in batches:
            vecs = batch[vec_col]
            mask = vecs.notna()
            if not mask.any():
                yield pd.DataFrame(
                    {
                        out_id: pd.Series([], dtype=object),
                        "_tab": pd.Series([], dtype="int32"),
                        "_code": pd.Series([], dtype="int64"),
                    }
                )
                continue
            mat = np.vstack(vecs[mask].to_numpy()).astype(np.float32)
            proj = mat @ flat.T  # (n, n_tables*n_bits)
            bits = (proj > 0).reshape(len(mat), n_tables, n_bits)
            codes = (bits.astype(np.uint64) * weights[None, None, :]).sum(axis=2)
            ids = batch.loc[mask, batch.columns[0]].to_numpy()
            # typed (id, table, code) columns; the 't<t>:<hex>' string is
            # assembled in JVM codegen below (no per-row Python formatting)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, n_tables),
                    "_tab": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(mat)
                    ),
                    # two's-complement view: JVM hex(bigint) prints the
                    # same digits Python's f"{code:x}" prints for uint64
                    "_code": codes.reshape(-1).view(np.int64),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    raw = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        gen, schema=f"{out_id} {id_type}, _tab int, _code bigint"
    )
    return raw.select(
        F.col(out_id),
        F.concat(
            F.lit("t"),
            F.col("_tab").cast("string"),
            F.lit(":"),
            F.lower(F.hex(F.col("_code"))),
        ).alias("bucket"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 12,
    dim: int | None = None,
    seed: int = 42,
    overfetch: int = 2,
    exclude_self: bool = False,
    score_round: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k (random hyperplane / SimHash family,
    Charikar'02).  Work is proportional to bucket collisions, not |Q|x|C|.

    ``overfetch``: candidates are ranked and k*overfetch kept before the
    final exact top-k — mirrors the reference's k=2xsize over-fetch then
    caller-side truncation (search_query_builder.py:58).
    """
    if dim is None:
        # schema-first: parquet/Arrow vector columns carry their width in
        # field metadata when written by our sinks; fall back to a one-row
        # probe ONLY if no metadata exists (never a full scan either way,
        # but the probe is an extra Spark job — pass dim at 100 TB)
        meta = corpus.schema[vec_col].metadata or {}
        dim = meta.get("dim")
    if dim is None:
        dim = len(
            corpus.select(vec_col).where(F.col(vec_col).isNotNull()).first()[0]
        )
    planes = _hyperplanes(n_tables, n_bits, int(dim), seed)

    qb = _bucket_keys_df(queries, query_id, vec_col, planes, "query_id")
    cb = _bucket_keys_df(corpus, corpus_id, vec_col, planes, "candidate_id")

    cand = qb.join(cb, "bucket").select("query_id", "candidate_id").distinct()
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("candidate_id"))

    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("candidate_id"), F.col(vec_col).alias("_cv"))
    scored = (
        cand.join(q, "query_id")
        .join(c, "candidate_id")
        # null-filter the inputs, not the UDF output (guide §4.4: an
        # output filter re-evaluates the UDF below the pushed filter)
        .where(F.col("_qv").isNotNull() & F.col("_cv").isNotNull())
        .withColumn("score", cosine_udf(F.col("_qv"), F.col("_cv")))
    )
    if score_round is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), score_round))
    # over-fetch happens implicitly at candidate generation (each query's
    # bucket set yields >= k*overfetch collisions when n_tables is sized
    # right); the final exact rank truncates to k like the reference's
    # caller-side cut.
    # hot buckets make a query's candidate set unbounded: ranked_topk's
    # partial limit keeps it out of one window task
    return ranked_topk(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _ivf_sample_plan(src: DataFrame, n_vecs: int, sample_n: int) -> DataFrame:
    """Hash-range sampling filter over ``src(_h, v)`` — the plan is a pure
    filter (no Sort/TakeOrdered), sized so ~2×sample_n rows survive."""
    mod = max(1, n_vecs // max(1, 2 * sample_n))
    return src.where(F.pmod(F.col("_h"), F.lit(mod)) == 0)


def parquet_footer_row_count(df: DataFrame) -> int | None:
    """Total row count of a parquet-backed DataFrame from the file FOOTERS —
    driver-side metadata reads, zero Spark jobs (``inputFiles`` is a listing
    the scan already performed).  Returns None when the plan is not a plain
    local parquet scan (non-file scheme, non-parquet files, in-memory
    relation); callers fall back to a counting job.  For a filtered plan the
    footer count is an UPPER bound on the post-filter rows — fine wherever
    the count only sizes something (the IVF sampling modulus)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import urllib.parse

    import pyarrow.parquet as pq

    total = 0
    for uri in files:
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("", "file") or not uri.endswith(".parquet"):
            return None
        path = urllib.parse.unquote(parsed.path)
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "candidate_id",
    nlist: int = 16,
    sample_n: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """k-means coarse quantizer trained on a bounded, DETERMINISTIC sample.

    Sampling is a hash-range FILTER, not a sort: rows with
    ``pmod(xxhash64(id), m) == 0`` (m sized from a metadata-cheap count so
    ~2×sample_n rows survive) are collected and the final ``sample_n`` are
    picked by hash order driver-side.  Partitioning-independent like the
    old ``orderBy(xxhash64).limit`` formulation, but the plan is scan →
    filter → collect — no Sort / TakeOrdered node touches the corpus at any
    scale.  Lloyd iterations run in numpy on the driver: the centroid table
    is tiny (nlist × dim) and training data is capped at ``sample_n`` rows,
    so this never scales with the corpus.  Empty cells re-seed to the
    farthest point (k-means++-ish repair)."""
    src = corpus.where(F.col(vec_col).isNotNull()).select(
        F.xxhash64(F.col(id_col)).alias("_h"), F.col(vec_col).alias("v")
    )
    # size the sampling modulus from parquet FOOTER metadata when the corpus
    # is a file scan — no counting job; the footer total upper-bounds the
    # non-null vector count, which only shrinks the survivor set slightly
    # (still hash-deterministic).  Non-parquet inputs pay one count job.
    footer_n = parquet_footer_row_count(corpus)
    n_vecs = footer_n if footer_n is not None else src.count()
    rows = _ivf_sample_plan(src, n_vecs, sample_n).collect()
    # redo only if the modulus actually FILTERED (mod > 1 requires
    # n_vecs >= 4*sample_n): with mod == 1 every row already survived, so
    # an exact recount would re-collect the identical set for nothing
    if footer_n is not None and len(rows) < sample_n and n_vecs >= 4 * sample_n:
        # the footer total counts ALL rows of the underlying files, but a
        # selective filter on the corpus (e.g. lang='en' keeping 1%) can
        # shrink the post-filter population far below it — the modulus is
        # then oversized and the hash-range sample under-delivers (possibly
        # to zero on a non-empty corpus).  Detect under-delivery and redo
        # the sizing from an exact count — one extra job, paid only on
        # filtered corpora where the cheap metadata bound was wrong.
        n_vecs = src.count()
        rows = _ivf_sample_plan(src, n_vecs, sample_n).collect()
    rows.sort(key=lambda r: r["_h"])
    rows = rows[:sample_n]
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(mat) == 0:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    nlist = min(nlist, len(mat))
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=nlist, replace=False)]
    for _ in range(iters):
        # cosine assignment: normalize both sides, argmax dot
        cn = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
        mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        assign = (mn @ cn.T).argmax(axis=1)
        for c in range(nlist):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
            else:
                dists = 1.0 - (mn @ cn.T).max(axis=1)
                centroids[c] = mat[int(dists.argmax())]
    return centroids.astype(np.float32)


def _cell_assign_df(
    df: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray,
    out_id: str, nprobe: int = 1,
) -> DataFrame:
    """(id, cell) rows — top-``nprobe`` nearest centroids per vector (cosine).
    Centroids ride inside the UDF closure (broadcast by Spark's task
    serialization — nlist × dim floats, KBs)."""
    cn = centroids.astype(np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            vecs = batch[vec_col]
            mask = vecs.notna()
            if not mask.any():
                yield pd.DataFrame({out_id: [], "cell": []})
                continue
            mat = np.vstack(vecs[mask].to_numpy()).astype(np.float64)
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            sims = mat @ cn.T  # (n, nlist)
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            ids = batch.loc[mask, batch.columns[0]].to_numpy()
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, top.shape[1]),
                    "cell": top.reshape(-1).astype(np.int32),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        gen, schema=f"{out_id} {id_type}, cell int"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 42,
    exclude_self: bool = False,
    score_round: int | None = None,
) -> DataFrame:
    """IVF approximate top-k (Faiss-style inverted file, public technique):
    corpus rows live in exactly one k-means cell; each query probes its
    ``nprobe`` nearest cells and scores only those candidates — work is
    O(|Q| * |C| * nprobe / nlist) instead of O(|Q| x |C|).

    ``nprobe == nlist`` probes every cell: the result is then EXACTLY the
    brute-force top-k (same scoring, same deterministic tiebreak), which is
    what the oracle checks; smaller nprobe trades recall for cost.  Pass
    precomputed ``centroids`` on repeated runs to skip training.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, vec_col=vec_col, id_col=corpus_id, nlist=nlist, seed=seed
        )
    qcells = _cell_assign_df(
        queries, query_id, vec_col, centroids, "query_id", nprobe=nprobe
    )
    ccells = _cell_assign_df(
        corpus, corpus_id, vec_col, centroids, "candidate_id", nprobe=1
    )
    cand = qcells.join(ccells, "cell").select("query_id", "candidate_id").distinct()
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("candidate_id"))
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("candidate_id"), F.col(vec_col).alias("_cv"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "candidate_id")
        # null-filter the inputs, not the UDF output (guide §4.4: an
        # output filter re-evaluates the UDF below the pushed filter)
        .where(F.col("_qv").isNotNull() & F.col("_cv").isNotNull())
        .withColumn("score", cosine_udf(F.col("_qv"), F.col("_cv")))
    )
    if score_round is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), score_round))
    # a hot probed cell makes the candidate set unbounded: ranked_topk's
    # partial limit keeps it out of one window task
    return ranked_topk(scored, k)


def mine_hard_negatives(
    records: DataFrame,
    positives: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter=None,
    score_round: int | None = None,
    symmetric: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-cosine-similar records that are NOT known positives
    -> (query_id, candidate_id, score, rank).

    The training-data generation step of every embedding fine-tune (the
    reference's model domain — its Titan/Cohere embed-and-rerank serving
    path presumes such a trained model): in-batch random negatives are
    easy, so the encoder learns most from the nearest NON-matching
    neighbours (Xiong et al. 2021, ANCE — public method).

    ``positives(query_id, candidate_id)`` are the gold/weak match edges;
    with ``symmetric=True`` (unordered ER labels) the reversed pairs are
    excluded too (one unionByName of two projections — no extra scan of
    the corpus side).  Exclusion is a hash anti-join applied BEFORE
    ranking (excluded pairs never displace a result); self-pairs are
    always excluded.

    Retrieval here is the exact brute-force baseline; at corpus scale
    mine per-shard with ``lsh_topk``/``ivf_topk`` candidates and apply the
    same exclusion — the anti-join composes with any candidate stream.
    ``query_filter`` (a Column over ``records``) restricts the anchor
    side, e.g. to the labeled subset.
    """
    queries = records if query_filter is None else records.where(query_filter)
    excl = positives.select(
        F.col(positives.columns[0]).alias("query_id"),
        F.col(positives.columns[1]).alias("candidate_id"),
    )
    if symmetric:
        excl = excl.unionByName(
            excl.select(
                F.col("candidate_id").alias("query_id"),
                F.col("query_id").alias("candidate_id"),
            )
        )
    return brute_force_topk(
        queries,
        records,
        k=k,
        query_id=id_col,
        corpus_id=id_col,
        vec_col=vec_col,
        exclude_self=True,
        score_round=score_round,
        exclude_pairs=excl,
    )
