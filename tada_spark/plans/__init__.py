"""Plan-level helpers: semantics shims shared by every operator."""

from tada_spark.plans.semantics import (
    NULL_STRINGS,
    canon_sql,
    canon_str,
    normalize_nulls,
    null_safe_div,
    sort_exprs,
    with_rowid,
)

__all__ = [
    "NULL_STRINGS",
    "canon_sql",
    "canon_str",
    "normalize_nulls",
    "null_safe_div",
    "sort_exprs",
    "with_rowid",
]
