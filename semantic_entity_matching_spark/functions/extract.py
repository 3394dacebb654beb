"""Canonical entity-text extraction — byte-identical to the reference.

The reference renders each document to a matching text in two places:

* candidate "source" text: ``"\\n".join(f"{k}: {v}" for k, v in doc.items()
  if not k.endswith("_embedding"))`` over a document whose None/NaN fields
  were already dropped at ingest (reference lib/search_and_rerank.py:79-85 +
  lib/ingest.py:35-53 ``_filter_nan_values``).
* query text: ``" ".join(str(row[c]) for c in evaluation_columns)`` with
  pandas NaN stringifying to ``"nan"``, then skipped if empty/"nan"
  (reference lib/evaluate.py:93-107).

The pure-Python functions below are the per-record oracle shared with
pytest.  The Spark UDFs are Arrow-batched, vectorized twins of them, and
their byte-identity with the oracle is pinned by tests/test_extract.py.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import StringType

EMBEDDING_COLUMN_SUFFIX = "_embedding"  # reference lib/vectorize_columns.py:34


def is_valid_value(value: Any) -> bool:
    """Reference ``_is_valid_value`` (lib/ingest.py:35-49): None/NaN are
    invalid; lists/tuples are always valid (even empty)."""
    if value is None:
        return False
    if isinstance(value, (list, tuple)):
        return True
    try:
        return bool(pd.notna(value))
    except (TypeError, ValueError):  # e.g. numpy arrays from parquet
        return True


def filter_nan_values(record: dict[str, Any]) -> dict[str, Any]:
    """Reference ``_filter_nan_values`` (lib/ingest.py:51-53)."""
    return {k: v for k, v in record.items() if is_valid_value(v)}


def canonical_entity_text(
    record: dict[str, Any],
    embedding_column_suffix: str = EMBEDDING_COLUMN_SUFFIX,
) -> str:
    """Render one document exactly like the reference rerank source builder
    (lib/search_and_rerank.py:79-85), including its upstream NaN drop."""
    filtered = filter_nan_values(record)
    return "\n".join(
        f"{k}: {v}"
        for k, v in filtered.items()
        if not k.endswith(embedding_column_suffix)
    )


def query_text(record: dict[str, Any], evaluation_columns: list[str]) -> str:
    """Reference query construction (lib/evaluate.py:93-95): plain str() of
    each column value joined by a single space; NaN renders as 'nan'."""
    return " ".join(str(record[c]) for c in evaluation_columns)


def is_skippable_query(text: str) -> bool:
    """Reference skip predicate (lib/evaluate.py:97-107)."""
    return pd.isna(text) or str(text).strip() == "" or text == "nan"


# ---------------------------------------------------------------------------
# Spark-side wrappers
# ---------------------------------------------------------------------------


def _render_valid(col: pa.Array) -> pa.Array:
    """``str(v)`` of each per-record value ``v`` of ``col``, NULL where
    :func:`is_valid_value` rejects it.  Strings, integers and booleans
    render vectorized (Arrow's integer cast and the ``True``/``False``
    literals are exactly ``str`` of the Python value); every other type —
    floats (NaN is invalid), lists, arrays — goes through the per-record
    oracle functions themselves."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_integer(t):
        return col.cast(pa.string())
    if pa.types.is_boolean(t):
        return pc.if_else(col, "True", "False")
    return pa.array(
        [str(v) if is_valid_value(v) else None for v in col.to_pylist()],
        pa.string(),
    )


def canonical_text_udf(columns: list[str]) -> Column:
    """Column expression producing ``canonical_entity_text`` over the named
    columns (in order — dict insertion order == column order in the
    reference's `_source`).

    Implemented as one Arrow UDF over a struct of the columns, so all
    values cross the JVM→Python boundary in a single Arrow batch and the
    string work runs in Arrow compute kernels.

    The body is a VECTORIZED twin of :func:`canonical_entity_text` (which
    stays the per-record oracle shared with pytest): per column, every
    valid value renders as ``str`` of its per-record Python value
    (:func:`_render_valid`), and rows accumulate ``"k: v"`` segments joined
    by newline in column order.  Rendering follows the column's Arrow
    type, never a pandas dtype: pandas turns a nullable int column into
    floats in exactly the batches that hold a null, so ``42`` would render
    ``42.0`` or ``42`` depending on its batch neighbours, and it renders
    arrays with numpy's repr instead of the list's.  Byte-identity over
    string, nullable-int, bool and array columns is pinned by
    tests/test_extract.py::test_canonical_text_udf_matches_python.  The
    old ``to_dict(orient="records")`` + per-row join was the single most
    expensive Python stage of the flagship pipeline (measured 1.8 s vs
    0.9 s for the dim-256 embed UDF at sf0.1).
    """

    @arrow_udf(StringType())
    def _extract(batch: pa.Array) -> pa.Array:
        acc = pa.nulls(len(batch), pa.string())
        for field, col in zip(batch.type, batch.flatten()):
            if field.name.endswith(EMBEDDING_COLUMN_SUFFIX):
                continue
            seg = pc.binary_join_element_wise(
                field.name + ": ", _render_valid(col), ""
            )
            acc = pc.coalesce(pc.binary_join_element_wise(acc, seg, "\n"), acc, seg)
        # a row with no valid cell renders as "\n".join([]) == ""
        return pc.fill_null(acc, "")

    return _extract(F.struct(*[F.col(c) for c in columns]))


def query_text_udf(columns: list[str]) -> Column:
    """Column expression for the reference query text (str()-joined)."""

    @pandas_udf(StringType())
    def _qtext(batch: pd.DataFrame) -> pd.Series:
        # vectorized: astype(str) matches Python str() semantics per element
        # (floats via repr, NaN -> 'nan'), then elementwise concat.  Spark
        # nulls arrive as None in object columns — coerce to NaN first so
        # they render 'nan' like the reference's pandas rows do.
        parts = [
            batch[c].where(batch[c].notna(), float("nan")).astype(str)
            for c in batch.columns
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out + " " + p
        return out

    return _qtext(F.struct(*[F.col(c) for c in columns]))


def valid_query_filter(col: str | Column) -> Column:
    """Spark predicate mirroring ``is_skippable_query`` (P4 in SURVEY §2.2):
    keep rows with non-null, non-blank, non-'nan' query text."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (F.trim(c) != "") & (c != "nan")
