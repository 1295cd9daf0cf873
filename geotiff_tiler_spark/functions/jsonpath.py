"""Semi-structured JSON field extraction (web-crawl metadata columns).

Web-text pipelines carry per-record JSON metadata (WARC headers, crawl
props, page attributes) next to the payload; extracting typed scalars
from it is a pure map — the cheapest possible 100-TB shape (no shuffle,
predicate-pushdown-friendly once projected). Spark side uses the
JVM-native ``get_json_object`` (whole-stage-codegen'd, no Python); the
DuckDB twin uses ``json_extract_string`` with the SAME JSONPath string,
so the two sides cannot drift.

Both engines return NULL for a missing path or malformed JSON, and the
numeric casts are TRY_CASTs on BOTH sides (ANSI CAST throws on a
non-numeric string in each engine) — the shared null contract: missing,
malformed, or non-numeric all yield NULL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def json_bigint(col, path: str) -> Column:
    """Extract `path` (e.g. ``$.k``) from a JSON string column as bigint."""
    return F.get_json_object(_c(col), path).try_cast("bigint")


def json_bigint_sql(expr: str, path: str) -> str:
    """DuckDB twin of :func:`json_bigint` (same path syntax)."""
    return f"TRY_CAST(json_extract_string({expr}, '{path}') AS BIGINT)"


