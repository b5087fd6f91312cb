"""Reshaping operators (reference §2.2/§2.7 tail).

Multi-level column names follow the reference's flat encoding: levels
joined by "|" in the column name (optionLevelSeparator options.go:9),
never nested structs — Spark schemas stay flat.

Transpose is an inherently small-data op (the reference coerces all
values to interface{}, dataframe.go:1188-1263); here it collects through
Arrow and re-creates — guarded by a row cap so it can't be misused at
scale.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tada_spark.frame import Frame
from tada_spark.session import local_frame

LEVEL_SEP = "|"


def split_levels(name: str) -> list[str]:
    return name.split(LEVEL_SEP)


def join_levels(levels: list[str]) -> str:
    return LEVEL_SEP.join(levels)


def col_names_at_level(frame: Frame, level: int) -> list[str]:
    """ListColNamesAtLevel (reference dataframe.go:306-326) — delegates
    to the Frame method so the level encoding lives in one place."""
    return frame.list_col_names_at_level(level)


def transpose(frame: Frame, *, max_rows: int = 10_000) -> Frame:
    """Rows ↔ columns (reference dataframe.go:1189-1263). Label values
    become column names; column names become a label column. Small-data
    only — collects via Arrow; errors above max_rows."""
    df = frame.to_df()
    # one action, not count()-then-toPandas(): fetch cap+1 rows and
    # refuse on overflow without a second job
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(f"transpose: >{max_rows} rows; transpose is a small-data op")
    label_cols = frame.labels or []
    if label_cols:
        pdf = pdf.set_index(label_cols[0] if len(label_cols) == 1 else label_cols)
    tp = pdf.T
    # multi-label frames transpose to a pandas MultiIndex of tuples;
    # encode them with the module's '|' level scheme (join_levels) so
    # split_levels/col_names_at_level round-trip — str(tuple) names
    # ("('a', 'b')") parse as one garbled level and crashed the Frame
    # ctor before reset_index even produced a 'name' column
    tp.columns = [
        join_levels([str(x) for x in c]) if isinstance(c, tuple) else str(c)
        for c in tp.columns
    ]
    tp = tp.reset_index().rename(columns={"index": "name"})
    tp.columns = [str(c) for c in tp.columns]
    spark = SparkSession.getActiveSession()
    # heterogeneous rows after transpose ⇒ coerce to string (reference
    # coerces to interface{}; Spark has no heterogeneous columns, §1.3).
    # NULL/NaN cells must stay NULL — astype(str) would stamp the
    # literal text 'None'/'nan'
    import math

    def _cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return str(v)

    tp = tp.map(_cell) if hasattr(tp, "map") else tp.applymap(_cell)
    schema = ", ".join(f"`{c}` string" for c in tp.columns)
    return Frame(spark.createDataFrame(tp, schema=schema), labels=["name"])


def promote_to_col_level(frame: Frame, name: str, value_col: str) -> Frame:
    """Pivot a column's distinct values into a new column level
    (reference PromoteToColLevel dataframe.go:1269-1373): remaining
    labels group, promoted values become 'value|promoted' columns."""
    residual = [l for l in frame.labels if l != name]
    if not residual:
        raise ValueError("promote_to_col_level: needs at least one residual label")
    out = frame.df.groupBy(*residual).pivot(name).agg(F.first(F.col(value_col)))
    renamed = out.select(
        *residual,
        *[
            F.col(c).alias(join_levels([value_col, c]))
            for c in out.columns
            if c not in residual
        ],
    )
    return Frame(renamed, labels=residual)


def make_multilevel_labels(spark: SparkSession, levels: dict[str, list]) -> Frame:
    """Cartesian product of label slices (reference
    dataframe.go:20-65) via crossJoin of distinct level values; each
    level is an Arrow local relation of one nullable string column."""
    frames = []
    for name, values in levels.items():
        # labels are stringly-typed (reference accepts arbitrary slices);
        # stringify so int/date level values don't fail schema checks
        schema = T.StructType([T.StructField(name, T.StringType())])
        frames.append(
            local_frame(spark, schema, [[str(v) if v is not None else None for v in values]])
        )
    df = _reduce(lambda a, b: a.crossJoin(b), frames)
    return Frame(df, labels=list(levels))


def concat_series(base: Frame, *series: Frame, how: str = "left") -> Frame:
    """Fold frames left-to-right via lookup joins on shared labels
    (reference ConcatSeries dataframe.go:86-100)."""
    out = base
    for s in series:
        out = out.lookup(s, how=how)
    return out


def agg_all(frame: Frame, aggs: list[str], *cols: str) -> Frame:
    """Per-column whole-frame aggregates melted to one row per column
    (reference DataFrame-wide aggs → Series, dataframe.go:1910-1993)."""
    from tada_spark.operators.grouped import _SIMPLE

    cols = list(cols) or [
        c
        for c, t in frame.to_df().dtypes
        if c in frame.value_columns and t in ("double", "float", "bigint", "int")
    ]
    df = frame.to_df()
    agged = df.agg(
        *[
            _SIMPLE[a](F.col(c).cast("double")).alias(f"{a}::{c}")
            for a in aggs
            for c in cols
        ]
    )
    stack_expr = ", ".join(
        "'{c}', {vals}".format(c=c, vals=", ".join(f"`{a}::{c}`" for a in aggs)) for c in cols
    )
    melted = agged.select(
        F.expr(f"stack({len(cols)}, {stack_expr}) as (column, {', '.join(aggs)})")
    )
    return Frame(melted, labels=["column"])


def cube(frame: Frame, keys: list[str], **exprs) -> Frame:
    """Free extension beyond the reference (§2.7 notes): CUBE grouping
    sets via Spark's native cube."""
    out = frame.df.cube(*keys).agg(*[e.alias(n) for n, e in exprs.items()])
    return Frame(out, labels=keys)


def rollup(frame: Frame, keys: list[str], **exprs) -> Frame:
    """ROLLUP grouping sets (free extension)."""
    out = frame.df.rollup(*keys).agg(*[e.alias(n) for n, e in exprs.items()])
    return Frame(out, labels=keys)
