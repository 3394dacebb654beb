"""Byte-identity of canonical text extraction vs the reference semantics.

The oracle side re-implements the reference's exact expressions
(lib/search_and_rerank.py:79-85, lib/ingest.py:35-53, lib/evaluate.py:93-107)
inline in the test, so a regression in the shared function cannot hide.
"""

from __future__ import annotations

import math

import pandas as pd

from semantic_entity_matching_spark.functions.extract import (
    canonical_entity_text,
    canonical_text_udf,
    filter_nan_values,
    is_skippable_query,
    query_text,
    query_text_udf,
    valid_query_filter,
)


def _reference_source_text(source: dict, suffix: str = "_embedding") -> str:
    # verbatim reference expression (lib/search_and_rerank.py:79-85)
    return "\n".join(
        f"{k}: {v}" for k, v in source.items() if not k.endswith(suffix)
    )


def _reference_filter_nan(record: dict) -> dict:
    # verbatim reference logic (lib/ingest.py:35-53)
    def valid(value):
        if value is None:
            return False
        if isinstance(value, (list, tuple)):
            return True
        return bool(pd.notna(value))

    return {k: v for k, v in record.items() if valid(value=v)}


RECORDS = [
    {"url": "https://a", "text": "Blood sugar, fasting", "lang": "en"},
    {"url": "https://b", "text": None, "lang": "en"},
    {"url": "https://c", "text": "x", "lang": float("nan")},
    {"url": "https://d", "text": "", "lang": "de", "score": 1.5},
    {"url": "https://e", "text": "tabs\tand\nnewlines", "lang": "zh", "n": 42},
    {"url": "https://f", "text": "vec", "text_embedding": [0.1, 0.2], "lang": "en"},
    {"url": "https://g", "text": "keep-empty-list", "tags": [], "lang": "en"},
]


def test_canonical_text_matches_reference_per_record():
    for rec in RECORDS:
        expected = _reference_source_text(_reference_filter_nan(rec))
        assert canonical_entity_text(rec) == expected


def test_filter_nan_matches_reference():
    for rec in RECORDS:
        assert filter_nan_values(rec) == _reference_filter_nan(rec)


def test_canonical_text_udf_matches_python(spark):
    # nullable-int, bool and array columns: each value must render as str()
    # of its per-record value whatever shares its Arrow batch (a null int in
    # the batch must not turn 42 into 42.0)
    cols = ["url", "text", "lang", "n", "flag", "tags"]
    rows = [
        ("https://a", "Blood sugar, fasting", "en", 42, True, ["x", "y"]),
        ("https://b", None, "en", None, False, []),
        ("https://c", "x", None, 7, None, None),
        ("https://e", "tabs\tand\nnewlines", "zh", -1, True, ["solo"]),
        ("https://f", "f", "en", 0, False, [None]),
        ("https://g", "g", "en", None, None, ["a", None, "it's"]),
        ("https://h", "h", "en", 2**31 - 1, True, []),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, text string, lang string, n int, flag boolean, "
        "tags array<string>",
    )
    for frame in (df, df.coalesce(1)):
        got = {
            r["url"]: r["out"]
            for r in frame.select(
                "url", canonical_text_udf(cols).alias("out")
            ).collect()
        }
        for row in rows:
            expected = canonical_entity_text(dict(zip(cols, row)))
            assert got[row[0]] == expected, f"mismatch for {row[0]!r}"


def test_query_text_nan_semantics():
    # str(nan) == 'nan' exactly as the reference produces (lib/evaluate.py:93-95)
    rec = {"a": float("nan"), "b": "x"}
    assert query_text(rec, ["a", "b"]) == "nan x"
    assert is_skippable_query(query_text({"a": float("nan")}, ["a"]))
    assert is_skippable_query("   ")
    assert not is_skippable_query("nan x")
    assert math.isnan(float("nan"))  # sanity


def test_query_text_udf_and_filter(spark):
    df = spark.createDataFrame(
        [("x", "y"), (None, "y"), (None, None), ("", " ")],
        "a string, b string",
    )
    out = df.select(query_text_udf(["a", "b"]).alias("q"))
    vals = [r["q"] for r in out.collect()]
    assert vals == ["x y", "nan y", "nan nan", "  "]
    kept = [r["q"] for r in out.where(valid_query_filter("q")).collect()]
    assert kept == ["x y", "nan y", "nan nan"]
