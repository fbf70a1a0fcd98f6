"""Scalar function surface — F1-F7 (SURVEY.md §2.6).

Everything here is a thin, documented composition of built-in
``pyspark.sql.functions`` — no Python UDFs, so every expression stays
inside whole-stage codegen (the reference likewise uses no UDFs,
SURVEY.md §2.8). Each function cites the reference behavior it
reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def max_timestamp(col: Column | str) -> Column:
    """F4 — running high-water mark: MAX over timestamps. The reference
    folds ``max(received_at)`` across pages as strings (bronze.py:220);
    on TimestampType the same fold is timezone-safe."""
    return F.max(col)


def extract_json_field(col: Column | str, path: str) -> Column:
    """F5 — JSON field extraction (the reference parses
    string-or-JSON secrets at bronze.py:44-46). ``path`` is a JSONPath
    like ``$.k``."""
    return F.get_json_object(col, path)


def strip(col: Column | str) -> Column:
    """F5 — whitespace strip (bronze.py:44)."""
    return F.trim(col)


def to_double(col: Column | str) -> Column:
    """F6 — string→double cast (silver.py:78)."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("double")


def coalesce_updated(*cols: Column | str, sentinel: str | None = None) -> Column:
    """P4 — null-coalescing field fallback (bronze.py:163-169):
    ``updated or updated_at or created or created_at or sentinel``."""
    resolved = [F.col(c) if isinstance(c, str) else c for c in cols]
    if sentinel is not None:
        resolved.append(F.lit(sentinel))
    return F.coalesce(*resolved)
