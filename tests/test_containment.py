"""Containment (asymmetric-Jaccard) near-dup
(operators/simjoin.py containment_near_duplicates)."""

from __future__ import annotations

import itertools
import re

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators import simjoin
from semantic_entity_matching_spark.operators.simjoin import (
    containment_near_duplicates,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _toks(t):
    return set(x for x in re.split(r"\s+", t.lower()) if x) if t else set()


def _truth(rows, t):
    tk = {r[0]: _toks(r[1]) for r in rows}
    out = set()
    for a, b in itertools.combinations(sorted(tk), 2):
        A, B = tk[a], tk[b]
        if not A or not B:
            continue
        if len(A & B) / min(len(A), len(B)) >= t:
            out.add((a, b))
    return out


_ROWS = [
    # d1 ⊂ d2 token-wise: jaccard 0.5, containment 1.0 — the pair
    # symmetric-Jaccard misses at any useful threshold
    ("d1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (
        "d2",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10",
    ),
    ("d3", "alpha beta gamma"),  # tiny, contained in d1 and d2
    ("d4", "unrelated words only here nothing shared at all"),
    ("d5", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # =d1
    # 9/10 of d1's tokens (containment 0.9, at-threshold boundary)
    ("d6", "alpha beta gamma delta epsilon zeta eta theta iota OMEGA"),
    ("d7", None),
    ("d8", "   "),
]


def test_exact_vs_bruteforce(spark):
    out = containment_near_duplicates(
        _docs(spark, _ROWS), containment_threshold=0.9
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == _truth(_ROWS, 0.9)


def test_small_inside_big_found_jaccard_low(spark):
    out = {
        (r.id_a, r.id_b): r
        for r in containment_near_duplicates(
            _docs(spark, _ROWS), containment_threshold=0.95
        ).collect()
    }
    r = out[("d1", "d2")]
    assert r.containment == 1.0
    assert r.jaccard == pytest.approx(0.5)  # LSH-at-0.9 would never keep it
    # boundary pair d1-d6 (containment exactly 0.9) excluded at 0.95
    assert ("d1", "d6") not in out


def test_boundary_inclusive(spark):
    got = {
        (r.id_a, r.id_b)
        for r in containment_near_duplicates(
            _docs(spark, _ROWS), containment_threshold=0.9
        ).collect()
    }
    assert ("d1", "d6") in got  # exactly at threshold -> kept (>=)


def test_null_and_blank_never_pair(spark):
    got = containment_near_duplicates(
        _docs(spark, _ROWS), containment_threshold=0.5
    ).collect()
    ids = {x for r in got for x in (r.id_a, r.id_b)}
    assert "d7" not in ids and "d8" not in ids


def test_vocabulary_cap_filters_universe(spark):
    # 'common' appears in every doc; with max_token_df=2 it leaves the
    # universe entirely, so e1/e2 (which share ONLY 'common') cannot pair,
    # while e3/e4 still pair on their rare shared tokens.
    rows = [
        ("e1", "common aaa bbb"),
        ("e2", "common ccc ddd"),
        ("e3", "common rare1 rare2"),
        ("e4", "common rare1 rare2 extra"),
    ]
    full = {
        (r.id_a, r.id_b)
        for r in containment_near_duplicates(
            _docs(spark, rows), containment_threshold=0.3
        ).collect()
    }
    assert ("e1", "e2") in full
    capped = {
        (r.id_a, r.id_b): r
        for r in containment_near_duplicates(
            _docs(spark, rows), containment_threshold=0.3, max_token_df=2
        ).collect()
    }
    assert ("e1", "e2") not in capped
    # e3 = {rare1, rare2} after the cap, fully inside e4's filtered set
    assert capped[("e3", "e4")].containment == 1.0


def test_hot_token_salting_identical_output(spark, monkeypatch):
    # force every token hot (threshold 0) — salted fan-out must not change
    # the result set
    base = containment_near_duplicates(
        _docs(spark, _ROWS), containment_threshold=0.9
    )
    monkeypatch.setattr(simjoin, "HOT_TOKEN_THRESHOLD", 0)
    monkeypatch.setattr(simjoin, "N_SALTS", 4)
    salted = containment_near_duplicates(
        _docs(spark, _ROWS),
        containment_threshold=0.9,
    )
    assert {tuple(r) for r in base.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_threshold_validation(spark):
    with pytest.raises(ValueError):
        containment_near_duplicates(
            _docs(spark, _ROWS), containment_threshold=0.0
        )


def test_prefix_pigeonhole_randomized(spark):
    # deterministic pseudo-random corpus with overlapping token pools —
    # exactness means NO candidate filtering strategy may lose a pair
    import hashlib

    def h(i, j):
        return int(hashlib.md5(f"{i}-{j}".encode()).hexdigest(), 16)

    rows = []
    for i in range(40):
        pool = 30 + (h(i, 0) % 25)
        n = 4 + h(i, 1) % 12
        toks = sorted({f"t{h(i, 2 + j) % pool}" for j in range(n)})
        rows.append((f"r{i:02d}", " ".join(toks)))
    for t in (0.5, 0.8, 1.0):
        got = {
            (r.id_a, r.id_b)
            for r in containment_near_duplicates(
                _docs(spark, rows), containment_threshold=t
            ).collect()
        }
        assert got == _truth(rows, t), f"threshold {t}"
