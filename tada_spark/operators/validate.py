"""Data-quality expectations: declarative rules → one-pass audit report.

The ingest-gate primitive a 100 TB lake needs in front of every table:
declare rules (not-null, unique, range, value-set, regex), get back one
row per rule with violation counts — computed in a SINGLE aggregate
pass over the data (all row-level rules become conditional sums in one
hash-agg; uniqueness rides the same pass as count - count_distinct), so
the audit costs one scan regardless of how many rules are attached.

Null convention (pinned, mirrored by the SQL oracle): value rules
(range / in-set / regex) SKIP nulls — a null is a completeness problem,
which is `not_null`'s job, not a validity violation; their n_checked is
the non-null count. `not_null` checks all rows; `unique` counts
duplicate non-null rows (n_nonnull - n_distinct).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tada_spark.session import local_frame


@dataclass(frozen=True)
class Expectation:
    rule: str
    column: str
    #: predicate over the column: True = OK, False = violation (nulls
    #: pre-filtered for value rules); None for the structural rules
    #: (not_null / unique) which have dedicated aggregation shapes.
    pred: Column | None = None


def expect_not_null(column: str) -> Expectation:
    return Expectation("not_null", column)


def expect_unique(column: str) -> Expectation:
    return Expectation("unique", column)


def expect_range(column: str, lo, hi) -> Expectation:
    c = F.col(column)
    return Expectation("range", column, (c >= F.lit(lo)) & (c <= F.lit(hi)))


def expect_in_set(column: str, values) -> Expectation:
    return Expectation("in_set", column, F.col(column).isin(list(values)))


def expect_regex(column: str, pattern: str) -> Expectation:
    return Expectation("regex", column, F.col(column).rlike(pattern))


REPORT_SCHEMA = T.StructType(
    [
        T.StructField("rule", T.StringType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("n_checked", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def validate(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Run all expectations in ONE aggregate pass; returns one row per
    rule: (rule, column_name, n_violations, n_checked, ok). An empty
    rule list returns an empty report, not an error (rules often come
    from config)."""
    if not expectations:
        return local_frame(df.sparkSession, REPORT_SCHEMA, [[]] * len(REPORT_SCHEMA))
    aggs: list[Column] = []
    for i, e in enumerate(expectations):
        c = F.col(e.column)
        if e.rule == "not_null":
            aggs.append(F.count(F.when(c.isNull(), 1)).alias(f"v{i}"))
            aggs.append(F.count(F.lit(1)).alias(f"c{i}"))
        elif e.rule == "unique":
            aggs.append((F.count(c) - F.countDistinct(c)).alias(f"v{i}"))
            aggs.append(F.count(c).alias(f"c{i}"))
        else:
            # value rules skip nulls: checked = non-null, violation =
            # non-null AND NOT pred. A predicate that evaluates to SQL
            # NULL on a non-null value (e.g. expect_in_set with None in
            # the set — IN with NULL) must count as a VIOLATION, not
            # silently pass: ~NULL is NULL and F.when would skip it
            aggs.append(
                F.count(
                    F.when(c.isNotNull() & ~F.coalesce(e.pred, F.lit(False)), 1)
                ).alias(f"v{i}")
            )
            aggs.append(F.count(c).alias(f"c{i}"))
    row = df.agg(*aggs)
    reports = F.array(
        *[
            F.struct(
                F.lit(e.rule).alias("rule"),
                F.lit(e.column).alias("column_name"),
                F.col(f"v{i}").cast("long").alias("n_violations"),
                F.col(f"c{i}").cast("long").alias("n_checked"),
                (F.col(f"v{i}") == 0).alias("ok"),
            )
            for i, e in enumerate(expectations)
        ]
    )
    return row.select(F.inline(reports))


def referential_check(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    *,
    edge: str | None = None,
) -> DataFrame:
    """Foreign-key integrity audit for one FK edge: one row
    (edge, n_rows, n_null_key, n_orphan, ok) counting child rows whose
    non-null key has no parent. Null keys are a completeness problem
    (not_null's job), counted separately and never called orphans —
    the same null convention as the value rules above.

    Shape at scale: ONE scan of the child — left-join the DISTINCT
    parent keys (Catalyst broadcasts dimension parents on its own; the
    distinct is one bounded-key shuffle on the big-parent path), then
    every count is a conditional sum in a single aggregate. A null key
    never joins, so orphan = key present but no parent marker. Two
    exchanges per edge, O(1) output."""
    name = edge or f"{child_key}->{parent_key}"
    keys = (
        parent.select(F.col(parent_key).alias(child_key))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    joined = child.select(child_key).join(keys, child_key, "left")
    return joined.agg(
        F.lit(name).alias("edge"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col(child_key).isNull(), F.lit(1))).alias("n_null_key"),
        F.count(
            F.when(F.col(child_key).isNotNull() & F.col("__hit__").isNull(), F.lit(1))
        ).alias("n_orphan"),
    ).select(
        "edge",
        "n_rows",
        "n_null_key",
        "n_orphan",
        (F.col("n_orphan") == 0).alias("ok"),
    )


def referential_report(edges) -> DataFrame:
    """Union of referential_check over (child, child_key, parent,
    parent_key[, edge]) tuples — one audit row per FK edge."""
    from functools import reduce

    frames = [
        referential_check(*e[:4], edge=e[4] if len(e) > 4 else None) for e in edges
    ]
    return reduce(lambda a, b: a.unionByName(b), frames)


def fk_candidates(
    columns: list[tuple[DataFrame, str, str]],
    *,
    min_containment_e6: int = 950000,
) -> DataFrame:
    """Foreign-key DISCOVERY across tables (the inference complement of
    referential_check's known-edge audit): for every ordered pair of
    candidate key columns, the containment fraction
    |distinct(child) ∩ distinct(parent)| / |distinct(child)| — a
    near-1 containment of a non-key column in a key column is how
    profilers propose FK edges on an undocumented lake.

    Input: (df, column, label) triples. ALL pairs are scored by ONE
    value-keyed self-join over the stacked per-column distinct values —
    never |columns|² separate scans: the RAW (label, value) rows of
    every column union first and a single hash-aggregate dedupes the
    whole stack (one shuffle for all columns, not one per column), and
    the join groups straight back down to O(pairs) counts.

    Emits (child_col, parent_col, n_child, n_shared, containment_e6,
    is_candidate) for every directed pair WITH ≥ 1 shared value —
    zero-overlap pairs produce no row (the inner join drops them; they
    are by definition never candidates). Containment divides once
    (floor idiom). NULL values are ignored (they carry no FK
    evidence)."""
    from functools import reduce

    labels = [label for _df, _col, label in columns]
    if len(set(labels)) != len(labels):
        # two columns sharing a label would silently MERGE their
        # distinct-value sets under one col_id, corrupting n_child and
        # every containment score (the mutual_information r8 rule)
        dupes = sorted({l for l in labels if labels.count(l) > 1})
        raise ValueError(f"fk_candidates: duplicate column label(s) {dupes}")
    stacks = [
        df.select(
            F.lit(label).alias("col_id"),
            F.col(col).cast("string").alias("val"),
        ).filter(F.col("val").isNotNull())
        for df, col, label in columns
    ]
    vals = reduce(lambda a, b: a.unionByName(b), stacks).distinct()
    counts = vals.groupBy("col_id").agg(F.count(F.lit(1)).alias("n_child"))
    a = vals.select(F.col("col_id").alias("child_col"), "val")
    b = vals.select(F.col("col_id").alias("parent_col"), "val")
    inter = (
        a.join(b, "val")
        .filter(F.col("child_col") != F.col("parent_col"))
        .groupBy("child_col", "parent_col")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    scored = inter.join(
        counts.withColumnRenamed("col_id", "child_col"), "child_col"
    )
    containment = F.floor(
        F.col("n_shared").cast("double") / F.col("n_child").cast("double") * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return scored.select(
        "child_col",
        "parent_col",
        "n_child",
        "n_shared",
        containment.alias("containment_e6"),
        (containment >= F.lit(min_containment_e6)).alias("is_candidate"),
    )
