"""Exactness and bounds of the brute-force cosine scorer's per-batch top-k.

The Spark result is compared against a driver-side reference that scores
every pair with the pandas cosine UDF's own function, sorts by (score
descending, then candidate_id ascending) and takes k.  A NaN score
crosses the Arrow boundary as null, so it ranks after every double."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.similarity import _cosine_batch
from semantic_entity_matching_spark.operators import ann
from semantic_entity_matching_spark.operators.ann import (
    GROUPED_QUERY_BOUND,
    _select_cells,
    brute_force_topk,
)

K = 5
BATCH_ROWS = 8


def _unit(dims: dict[int, float]) -> list[float]:
    v = [0.0] * 4
    for d, x in dims.items():
        v[d] = x
    return v


def _tables():
    """(queries, corpus) rows of (id, vector).

    Random corpus vectors are negative on dims 2 and 3, so the planted
    rows decide the top k of the two probe queries:
    * query 100 = e3: cosines 0.9, 0.8, 0.745 +/- 3e-9 (rounds to 0.75 /
      0.74), 0.7401 and 0.7351.  At ``score_round=2`` three rows tie at
      0.74 across the k boundary and ranks 4 and 5 go to ids 32 and 33;
      id 32 has the lowest raw score of the three, and a selector without
      rounding slack loses it.
    * query 101 = e2: five identical vectors (ids 40-42, 44, 45) tie on
      the k boundary behind id 43.
    Id 53 has an infinite component, so every score against it is NaN (null
    in Spark, ranked last); it shares the planted rows' batch, where a
    selector ranking NaN first would cut the k-th best.  Id 52 has a NaN
    component (score 0.0), 51 is all zeros, 50 is null."""
    rng = np.random.default_rng(11)
    rand = []
    for i in range(24):
        v = rng.standard_normal(4)
        v[2:] = -np.abs(v[2:])
        rand.append((i, [float(x) for x in v]))
    c = math.sqrt

    def e3(cos: float) -> list[float]:
        return _unit({0: c(1 - cos * cos), 3: cos})

    planted = [
        (30, e3(0.9)),
        (31, e3(0.8)),
        (32, e3(0.7351)),
        (33, e3(0.745 - 3e-9)),
        (34, e3(0.7401)),
        (35, e3(0.745 + 3e-9)),
    ]
    dup = _unit({0: 0.6, 2: 0.8})
    dups = [(40, dup), (41, dup), (42, dup), (43, _unit({2: 2.0})), (44, dup), (45, dup)]
    special = [
        (50, None),
        (51, [0.0, 0.0, 0.0, 0.0]),
        (52, [1.0, float("nan"), 0.0, 0.0]),
        (53, [float("inf"), 1.0, 0.0, 0.0]),
    ]
    # planted rows and id 53 sit together inside one Arrow batch of the
    # coalesced corpus (rows 16-22 of batches of 8); the duplicates
    # straddle two batches
    corpus = (
        rand[:16] + planted + special[3:] + rand[16:21] + dups[:1]
        + rand[21:] + dups[1:] + special[:3]
    )
    by_id = dict(rand)
    queries = [
        (0, by_id[0]),
        (5, by_id[5]),
        (100, _unit({3: 1.0})),
        (101, _unit({2: 1.0})),
        (102, None),
        (103, [0.0, 0.0, 0.0, 0.0]),
        (104, [0.5, float("nan"), 0.0, 0.0]),
    ]
    return queries, corpus


def _spark_round(x: float, d: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal string."""
    if math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-d), ROUND_HALF_UP))


def _reference(queries, corpus, k, exclude_self, score_round):
    out = []
    cands = [(cid, v) for cid, v in corpus if v is not None]
    for qid, qv in queries:
        if qv is None:
            continue
        pool = [(cid, v) for cid, v in cands if not (exclude_self and cid == qid)]
        scores = _cosine_batch(
            pd.Series([qv] * len(pool)), pd.Series([v for _, v in pool])
        ).to_numpy(dtype=np.float64)
        rows = []
        for (cid, _), s in zip(pool, scores):
            s = float(s)
            if score_round is not None:
                s = _spark_round(s, score_round)
            rows.append((cid, s))
        rows.sort(key=lambda r: (math.isnan(r[1]), 0.0 if math.isnan(r[1]) else -r[1], r[0]))
        out += [
            (qid, cid, None if math.isnan(s) else s, rank)
            for rank, (cid, s) in enumerate(rows[:k], 1)
        ]
    return out


def _canon(rows):
    """Sortable rows; -0.0 reads as 0.0."""
    return sorted(
        (q, rank, c, "null" if s is None else repr(s + 0.0))
        for q, c, s, rank in rows
    )


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BATCH_ROWS))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("exclude_self", [False, True])
@pytest.mark.parametrize("score_round", [None, 2])
def test_matches_numpy_reference(spark, small_batches, exclude_self, score_round):
    queries, corpus = _tables()
    schema = "id long, embedding array<double>"
    q = spark.createDataFrame(queries, schema)
    c = spark.createDataFrame(corpus, schema).coalesce(1)
    got = brute_force_topk(
        q, c, k=K, query_id="id", corpus_id="id",
        exclude_self=exclude_self, score_round=score_round,
    ).collect()
    want = _reference(queries, corpus, K, exclude_self, score_round)
    assert _canon(tuple(r) for r in got) == _canon(want)
    # the planted ties decided the k boundary as described in _tables
    top = {(q_, r_): c_ for q_, c_, _, r_ in want}
    assert [top[(100, r)] for r in (4, 5)] == (
        [33, 34] if score_round is None else [32, 33]
    )
    assert [top[(101, r)] for r in range(1, 6)] == [43, 40, 41, 42, 44]


def test_select_cells_bound_at_query_bound():
    """A full 2,048-row batch against GROUPED_QUERY_BOUND queries with no
    ties keeps exactly k cells per query: k x 16,384 rows, not 33.5M."""
    n, nq, k = 2_048, GROUPED_QUERY_BOUND, 10
    # a distinct permutation of 0..n-1 down every column (7919 is odd)
    scores = np.empty((n, nq), dtype=np.float32)
    col_offset = (np.arange(nq) * 104_729) % n
    for i in range(n):
        scores[i] = (i * 7_919 + col_offset) % n
    r, c = _select_cells(scores, k)
    assert len(r) == k * nq
    assert np.bincount(c, minlength=nq).max() == k
    assert (scores[r, c] >= n - k).all()


def test_select_cells_ties_nan_delta_and_drop():
    s = np.array(
        [[0.9, np.nan], [0.5, 0.1], [0.5, 0.2], [0.4, np.nan], [0.1, 0.3]]
    )
    def cells(*args, **kw):
        r, c = _select_cells(s.copy(), *args, **kw)
        return sorted(zip(r.tolist(), c.tolist()))

    # column 0: 0.5 ties at the k-th place, both kept; column 1: NaN ranks
    # last (it is null in Spark), so the two best are 0.3 and 0.2
    assert cells(2) == [(0, 0), (1, 0), (2, 0), (2, 1), (4, 1)]
    # delta widens the cut to k-th best - delta
    assert cells(2, delta=0.15) == [
        (0, 0), (1, 0), (1, 1), (2, 0), (2, 1), (3, 0), (4, 1)
    ]
    # fewer than k non-NaN cells: the whole column, NaN included
    assert [rc for rc in cells(4) if rc[1] == 1] == [(0, 1), (1, 1), (2, 1), (3, 1), (4, 1)]
    # a dropped cell is never kept and does not count toward k
    drop = (np.array([0]), np.array([0]))
    assert cells(1, drop=drop) == [(1, 0), (2, 0), (4, 1)]
    assert len(cells(None, drop=drop)) == s.size - 1


def test_chunked_query_side_equals_unchunked(spark, monkeypatch):
    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(6)]) for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") < 20)
    positives = spark.createDataFrame(
        [(q, (q * 7) % 60) for q in range(20)], "query_id long, candidate_id long"
    )

    def run(**kw):
        out = brute_force_topk(
            queries, emb, k=4, query_id="vec_id", corpus_id="vec_id",
            exclude_self=True, score_round=6, **kw,
        )
        return out, sorted(tuple(r) for r in out.collect())

    for kw in ({}, {"exclude_pairs": positives}):
        _, whole = run(**kw)
        with monkeypatch.context() as m:
            m.setattr(ann, "GROUPED_QUERY_BOUND", 7)
            chunked, parts = run(**kw)
        plan = chunked._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInPandas") == 3  # ceil(20 / 7) scorer passes
        assert parts == whole and len(whole) == 20 * 4
