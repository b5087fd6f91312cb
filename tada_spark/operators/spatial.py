"""Spatial joins without a spatial engine: integer grid-cell bucketing.

Spark has no native spatial operator; the scalable radius join is the
same banding trick LSH uses — bucket points into grid cells at least as
wide as the radius, explode ONE side to its 3×3 neighbor cells, equi-
join on the cell, and verify the exact distance predicate inside the
bucket. Work ∝ Σ (points per cell)², never |P|² — the plan is all
hash joins, and the verify step is integer arithmetic (squared
distances on integer coordinates), so results hash-match a naive
quadratic oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tada_spark.plans.semantics import pin


def grid_radius_join(
    points: DataFrame,
    *,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
    cell: int | None = None,
) -> DataFrame:
    """All unordered point pairs within ``radius`` (integer coordinate
    units, inclusive): emits (id_a, id_b, dist2) with id_a < id_b and
    dist2 = (xa−xb)² + (ya−yb)² ≤ radius². ``cell`` defaults to the
    smallest power-of-2 ≥ radius, guaranteeing a 3×3 neighbor-cell
    cover. EXACT: coordinates and distances never leave int64
    (|x|, |y| ≲ 1.5e9).

    100 TB shape: the left side keys by its own cell, the right side
    explodes to 9 neighbor cells — one equi-join keyed on (cx, cy),
    candidate work bounded by cell occupancy; the id_a < id_b filter
    dedupes the symmetric candidates for free."""
    if cell is None:
        cell = 1
        while cell < radius:
            cell <<= 1
    pts = points.filter(
        F.col(id_col).isNotNull() & F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id__"),
        F.col(x_col).cast("long").alias("__x__"),
        F.col(y_col).cast("long").alias("__y__"),
    )
    left = pts.select(
        F.col("__id__").alias("id_a"),
        F.col("__x__").alias("xa"),
        F.col("__y__").alias("ya"),
        F.floor(F.col("__x__") / cell).cast("long").alias("cx"),
        F.floor(F.col("__y__") / cell).cast("long").alias("cy"),
    )
    offs = F.expr("explode(flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))")
    right = pts.select(
        F.col("__id__").alias("id_b"),
        F.col("__x__").alias("xb"),
        F.col("__y__").alias("yb"),
        (F.floor(F.col("__x__") / cell).cast("long")).alias("__cx0__"),
        (F.floor(F.col("__y__") / cell).cast("long")).alias("__cy0__"),
    ).select(
        "id_b",
        "xb",
        "yb",
        "__cx0__",
        "__cy0__",
        offs.alias("__o__"),
    ).select(
        "id_b",
        "xb",
        "yb",
        (F.col("__cx0__") + F.col("__o__.dx")).alias("cx"),
        (F.col("__cy0__") + F.col("__o__.dy")).alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    dist2 = dx * dx + dy * dy
    return (
        left.join(right, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist2.alias("dist2"))
        .filter(F.col("dist2") <= F.lit(int(radius) * int(radius)))
    )


def dbscan_classify(
    points: DataFrame,
    *,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    min_pts: int,
) -> DataFrame:
    """DBSCAN point classification (Ester et al. 1996) on integer
    coordinates: |N_eps(p)| counts every point within ``eps`` INCLUDING
    p itself; core ⇔ |N_eps| ≥ min_pts, border ⇔ non-core with a core
    point within eps, noise otherwise. Returns (id, n_in_eps, role) —
    the density classification that seeds cluster expansion (cluster
    ids need the label-propagation pass near_dup_components already
    provides; the classification itself is the densest, joins-only
    stage and is exact against a naive quadratic oracle).

    100 TB shape: neighbor counting reuses grid_radius_join's 3×3
    neighbor-cell equi-join (work ∝ Σ cell², never |P|²); the border
    test is one semi-join of the pair list against the broadcastable
    core set. Integer distances throughout — no float admits a tie."""
    # staged (r12): the grid-join pair list feeds both the neighbor
    # counts and the border semi-join, and the counts feed the core
    # set and the final classification. AQE reuses only the input
    # exchanges' map sides; each consumer re-executed the join
    # evaluation (probe + exact dist2 filter — the expensive part of a
    # radius join) and the aggregates above it. Two lazy
    # pins: the pair list (the join output that gets
    # aggregated anyway) and the point-cardinality count table; both
    # recomputed per invocation. Measured −5% at sf0.1 (the radius
    # join is cheap on one file locally; at scale each staged table
    # replaces a full re-execution of the grid join per consumer —
    # OPTIMIZATION_r12.md).
    pairs = pin(grid_radius_join(points, id_col=id_col, x_col=x_col, y_col=y_col, radius=eps))
    sym = pairs.select(F.col("id_a").alias("pid"), F.col("id_b").alias("nbr")).unionByName(
        pairs.select(F.col("id_b").alias("pid"), F.col("id_a").alias("nbr"))
    )
    ids = points.filter(
        F.col(id_col).isNotNull() & F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(id_col).alias("pid"))
    counts = pin(
        sym.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("__nb__"))
        .join(ids, "pid", "right")
        .select("pid", (F.coalesce(F.col("__nb__"), F.lit(0)) + F.lit(1)).alias("n_in_eps"))
    )
    core = counts.filter(F.col("n_in_eps") >= min_pts).select("pid")
    near_core = (
        sym.join(core.withColumnRenamed("pid", "nbr"), "nbr", "left_semi")
        .select("pid")
        .distinct()
    )
    return (
        counts.join(core.withColumn("__c__", F.lit(1)), "pid", "left")
        .join(near_core.withColumn("__b__", F.lit(1)), "pid", "left")
        .select(
            "pid",
            "n_in_eps",
            F.when(F.col("__c__") == 1, F.lit("core"))
            .when(F.col("__b__") == 1, F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )


def grid_containment_join(
    points: DataFrame,
    rects: DataFrame,
    *,
    point_id: str,
    x_col: str,
    y_col: str,
    rect_id: str,
    xmin: str,
    xmax: str,
    ymin: str,
    ymax: str,
    cell: int,
) -> DataFrame:
    """Point-in-rectangle containment join on integer coordinates
    (bounds inclusive): emits (rect_id, point_id). The geofence /
    region-tagging primitive — Spark has no spatial join, so each
    rectangle explodes to the grid cells it covers and points equi-join
    on their single cell, then the exact bounds predicate filters
    inside the bucket. Work ∝ Σ (cells per rect × points per cell),
    never |R|×|P|.

    ``cell`` trades explode fan-out (≈ area/cell² cells per rect)
    against bucket selectivity — size it near the typical rect edge.
    Degenerate/inverted rects (xmin > xmax) emit nothing, matching the
    naive predicate. 100 TB shape: the exploded rect-cell table is the
    small build side of ONE hash join keyed on (cx, cy); points carry
    no fan-out at all."""
    pts = points.filter(
        F.col(point_id).isNotNull() & F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(point_id).alias("__pid__"),
        F.col(x_col).cast("long").alias("__px__"),
        F.col(y_col).cast("long").alias("__py__"),
        F.floor(F.col(x_col).cast("long") / cell).cast("long").alias("cx"),
        F.floor(F.col(y_col).cast("long") / cell).cast("long").alias("cy"),
    )
    r = rects.filter(
        F.col(rect_id).isNotNull()
        & F.col(xmin).isNotNull() & F.col(xmax).isNotNull()
        & F.col(ymin).isNotNull() & F.col(ymax).isNotNull()
    ).select(
        F.col(rect_id).alias("__rid__"),
        F.col(xmin).cast("long").alias("__x0__"),
        F.col(xmax).cast("long").alias("__x1__"),
        F.col(ymin).cast("long").alias("__y0__"),
        F.col(ymax).cast("long").alias("__y1__"),
    )
    cells = r.filter((F.col("__x0__") <= F.col("__x1__")) & (F.col("__y0__") <= F.col("__y1__"))).select(
        "__rid__", "__x0__", "__x1__", "__y0__", "__y1__",
        F.explode(
            F.sequence(
                F.floor(F.col("__x0__") / cell).cast("long"),
                F.floor(F.col("__x1__") / cell).cast("long"),
            )
        ).alias("cx"),
    ).select(
        "__rid__", "__x0__", "__x1__", "__y0__", "__y1__", "cx",
        F.explode(
            F.sequence(
                F.floor(F.col("__y0__") / cell).cast("long"),
                F.floor(F.col("__y1__") / cell).cast("long"),
            )
        ).alias("cy"),
    )
    return (
        pts.join(cells, ["cx", "cy"])
        .filter(
            (F.col("__px__") >= F.col("__x0__"))
            & (F.col("__px__") <= F.col("__x1__"))
            & (F.col("__py__") >= F.col("__y0__"))
            & (F.col("__py__") <= F.col("__y1__"))
        )
        .select(F.col("__rid__").alias(rect_id), F.col("__pid__").alias(point_id))
    )
