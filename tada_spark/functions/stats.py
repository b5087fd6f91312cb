"""Closed-form statistical estimators as exact aggregate algebra.

Regression/trend fitting at 100 TB is one pass of exact integer sums
(n, Σx, Σy, Σxy, Σx²) + O(groups) of closed-form arithmetic — never an
iterative solver. The sums are exact longs; the closed forms cast them
to doubles (correctly rounded int→double, bit-identical everywhere) and
run an identical IEEE expression tree on both engines, so results
hash-match their DuckDB oracles via the floor idiom.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tada_spark.plans.semantics import pin, round_det


def ols_by_group(
    df: DataFrame,
    group_col: str,
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-group simple linear regression (OLS) of integer-exact y on
    integer-exact x — the per-segment trend estimator (is this
    customer segment's spend rising? is this domain's doc quality
    drifting?). One hash-aggregate computes the five exact long sums;
    the slope/intercept closed forms run on their double casts:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n

    Emits slope_e6 (floor-quantized millionths) and intercept_2dp; a
    degenerate group (all x equal, or a single point) yields NULLs.
    Overflow envelope: Σxy must stay in int64 — with x = days-since-
    epoch (~2e4) and y = cents (~5e7), that holds to ~9e6 rows·SF per
    group; beyond that, lift the sums to DECIMAL(38,0) without touching
    the closed forms (the q1 scaled-integer discipline).

    100 TB shape: ONE map-side-combined hash-agg over the scan (five
    longs per group), then k-row arithmetic. No second pass, no window,
    no solver.

    Rows with a NULL x or y are dropped up front: SUM skips nulls but
    COUNT(*) would not, and an n inconsistent with the sums silently
    corrupts every closed form.
    """
    df = df.filter(x.isNotNull() & y.isNotNull())
    sums = df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(x.cast("long")).alias("sx"),
        F.sum(y.cast("long")).alias("sy"),
        F.sum((x.cast("long") * y.cast("long"))).alias("sxy"),
        F.sum((x.cast("long") * x.cast("long"))).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    slope = F.when(den != 0, num / den)
    intercept = F.when(den != 0, (syd - (num / den) * sxd) / nd)
    return sums.select(
        group_col,
        "n",
        F.floor(slope * F.lit(1e6) + F.lit(0.5)).cast("long").alias("slope_e6"),
        round_det(intercept, 2).alias("intercept_2dp"),
    )


def corr_by_group(
    df: DataFrame,
    group_col: str,
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-group Pearson correlation of integer-exact x and y — the
    companion readout to ols_by_group (slope says how much, r says how
    tightly). Six exact long sums in ONE hash-aggregate, then the
    closed form on double casts; sqrt is IEEE-correctly-rounded on
    every engine so the whole tree stays hash-deterministic (the
    det_ln argument). Emits corr_e6 (floor-quantized millionths);
    degenerate groups (zero variance in either variable) yield NULL.
    NULL x/y rows are dropped up front (the ols_by_group consistency
    rule: n must count exactly the rows the sums saw).
    """
    df = df.filter(x.isNotNull() & y.isNotNull())
    sums = df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(x.cast("long")).alias("sx"),
        F.sum(y.cast("long")).alias("sy"),
        F.sum((x.cast("long") * y.cast("long"))).alias("sxy"),
        F.sum((x.cast("long") * x.cast("long"))).alias("sxx"),
        F.sum((y.cast("long") * y.cast("long"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    corr = F.when((denx > 0) & (deny > 0), num / (F.sqrt(denx) * F.sqrt(deny)))
    return sums.select(
        group_col,
        "n",
        F.floor(corr * F.lit(1e6) + F.lit(0.5)).cast("long").alias("corr_e6"),
    )


def period_growth(
    df: DataFrame,
    bucket: Column,
    value_cents: Column,
    *,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Period-over-period growth of an exact-cents measure: aggregate to
    one row per ``bucket`` (month, week, …), then growth vs the previous
    period as floor-quantized millionths of the previous value —
    (cur − prev)/|prev| on the double casts of exact long sums, the
    identical IEEE tree on both engines. First period and prev = 0 emit
    NULL growth.

    100 TB shape: the scan collapses to O(#periods) rows in ONE
    map-side-combined hash-agg; the lag window then runs over that tiny
    aggregate (a single-partition window over #periods rows, not over
    the fact table — the same post-aggregation window shape as
    resample + shift). Emits (bucket, total_cents, growth_e6).
    """
    from pyspark.sql import Window

    base = df.filter(bucket.isNotNull() & value_cents.isNotNull())
    agg = base.groupBy(bucket.alias(bucket_name)).agg(
        F.sum(value_cents.cast("long")).alias("total_cents")
    )
    prev = F.lag("total_cents").over(Window.orderBy(bucket_name))
    cur_d = F.col("total_cents").cast("double")
    growth = F.when(
        prev.isNotNull() & (prev != 0),
        F.floor((cur_d - prev.cast("double")) / F.abs(prev).cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    return agg.select(bucket_name, "total_cents", growth.alias("growth_e6"))


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_cents: Column,
    ts_epoch_us: Column,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index of a measure's distribution, first
    half of the timeline vs the second, per group — the standard
    industry drift gauge beside kl_divergence's vocabulary drift:
    PSI = Σ_bins (p − q)·ln(p/q), where p/q are Laplace-smoothed bin
    shares ((cnt+1)/(tot+n_bins), so empty bins never hit ln 0). The
    era split (epoch_us ≤ midpoint) and the equi-width binning are pure
    integer arithmetic ((v − vmin)·n_bins DIV (vmax − vmin + 1), capped
    at n_bins−1); the ln is det_ln (plans/semantics) and each bin's
    contribution is e6-floor-quantized BEFORE the exact integer sum —
    the BM25/KL discipline, so the result hash-matches DuckDB.

    100 TB shape: one 1-row min/max stats broadcast (the allowlisted
    scalar-subquery BNLJ), then ONE (group, bin) hash-agg over the scan
    with the eras pivoted into columns; a second O(groups × bins)
    aggregate folds each group's sparse bin counts into a map, and the
    dense bin spine is rebuilt by explode + map lookup — no joins, no
    third scan. The facts are read exactly twice (stats + counts).
    Rows with NULL group, value or ts are dropped up front (the
    ols_by_group rule).
    """
    from tada_spark.plans.semantics import det_ln

    base = df.filter(
        F.col(group_col).isNotNull() & value_cents.isNotNull() & ts_epoch_us.isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        value_cents.cast("long").alias("v"),
        ts_epoch_us.cast("long").alias("s"),
    )
    stats = base.groupBy().agg(
        F.min("s").alias("smin"),
        F.max("s").alias("smax"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    b = base.crossJoin(F.broadcast(stats)).select(
        "grp",
        F.when(F.col("s") <= F.expr("smin + (smax - smin) div 2"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("era"),
        F.least(
            F.lit(n_bins - 1),
            F.expr(f"((v - vmin) * {n_bins}) div (vmax - vmin + 1)"),
        ).alias("bin"),
    )
    cnt = b.groupBy("grp", "bin").agg(
        F.sum(F.when(F.col("era") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("era") == 1, 1).otherwise(0)).alias("n1"),
    )
    g = cnt.groupBy("grp").agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "n0"))).alias("m0"),
        F.map_from_entries(F.collect_list(F.struct("bin", "n1"))).alias("m1"),
        F.sum("n0").alias("t0"),
        F.sum("n1").alias("t1"),
    )
    dense = g.select(
        "grp",
        "t0",
        "t1",
        "m0",
        "m1",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    ).select(
        "grp",
        "t0",
        "t1",
        F.coalesce(F.element_at("m0", F.col("bin").cast("long")), F.lit(0)).alias("n0"),
        F.coalesce(F.element_at("m1", F.col("bin").cast("long")), F.lit(0)).alias("n1"),
    )
    p = (F.col("n0") + 1).cast("double") / (F.col("t0") + n_bins).cast("double")
    q = (F.col("n1") + 1).cast("double") / (F.col("t1") + n_bins).cast("double")
    contrib = dense.select(
        "grp",
        "t0",
        "t1",
        F.floor((p - q) * det_ln(p / q) * F.lit(1e6) + F.lit(0.5)).cast("long").alias("c_e6"),
    )
    return contrib.groupBy(
        F.col("grp").alias(group_col),
        F.col("t0").alias("n_first"),
        F.col("t1").alias("n_second"),
    ).agg(F.sum("c_e6").alias("psi_e6"))


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    g1,
    g2,
    *,
    scale: int = 100,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic, exact over a binned
    domain: D = max_x |F1(x) - F2(x)| with CDFs stepped at
    floor(value·scale) integer bins. Binning makes the statistic
    well-defined at any data size (the classic KS needs a global sort
    of the pooled samples; the binned variant needs one bounded
    aggregate + a window over ≤ domain·scale bin rows — the same
    bounded-agg-then-window idiom as the PSI drift operator) and is
    exact FOR THE BINNED DISTRIBUTIONS on both engines: cumulative
    counts are integers, and the sup is taken over the integer
    cross-difference |c1·n2 − c2·n1| before a single quantized
    division. Integer bound: n1·n2 must stay under 2^63 (~3e9 rows per
    side); switch the cross-products to decimal(38,0) beyond that.

    Returns one row: (n_g1, n_g2, d_num, d_e6) where
    D = d_num / (n_g1·n_g2) and d_e6 = floor(D·1e6 + 0.5)."""
    from pyspark.sql.window import Window

    ev = df.filter(F.col(group_col).isin([g1, g2]) & F.col(value_col).isNotNull())
    binned = ev.select(
        F.floor(F.col(value_col) * F.lit(float(scale))).cast("long").alias("b"),
        (F.col(group_col) == F.lit(g1)).alias("is1"),
    )
    counts = binned.groupBy("b").agg(
        F.count(F.when(F.col("is1"), F.lit(1))).alias("c1"),
        F.count(F.when(~F.col("is1"), F.lit(1))).alias("c2"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stepped = counts.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    agg = stepped.groupBy("n1", "n2").agg(
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))).alias("d_num")
    )
    d = F.col("d_num").cast("double") / (F.col("n1") * F.col("n2")).cast("double")
    return agg.select(
        F.col("n1").alias("n_g1"),
        F.col("n2").alias("n_g2"),
        "d_num",
        # one-sided input (a group empty/misspelled): 0/0 is NaN and
        # floor(NaN) casts to 0 — reading "distributions identical";
        # the statistic is undefined, so NULL (the mann_whitney guard)
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.floor(d * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("d_e6"),
    )


def time_weighted_mean(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    seq_col: str,
) -> DataFrame:
    """Per-key time-weighted average (TWAP) under step interpolation:
    each value holds from its event until the next one; the last event
    per key carries no duration. Exactness: weights are integer
    microsecond durations, values exact integer cents (2-dp money), so
    numerator and denominator are exact integer sums and only ONE
    final division rounds (floor idiom, e6). Keys whose observed span
    is zero (all events simultaneous, or a single event) drop — no
    0/0. One partitioned window + one aggregate, both on the key —
    shuffles once, scales with key cardinality."""
    from pyspark.sql.window import Window

    from tada_spark.plans.timeutil import epoch_us

    dts = df.schema[ts_col].dataType
    ev = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(key_col),
        F.col(seq_col),
        epoch_us(F.col(ts_col), dts).alias("__us__"),
        F.round(F.col(value_col) * 100).cast("long").alias("__cents__"),
    )
    w = Window.partitionBy(key_col).orderBy("__us__", seq_col)
    dur = F.lead("__us__").over(w) - F.col("__us__")
    stepped = ev.select(key_col, "__cents__", dur.alias("__dur__")).filter(
        F.col("__dur__").isNotNull()
    )
    agg = stepped.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("__cents__") * F.col("__dur__")).alias("__num__"),
        F.sum("__dur__").alias("__den__"),
    )
    twap = F.col("__num__").cast("double") / (F.col("__den__") * F.lit(100)).cast("double")
    return agg.filter(F.col("__den__") > 0).select(
        key_col,
        "n_intervals",
        F.floor(twap * F.lit(1e6) + F.lit(0.5)).cast("long").alias("twap_e6"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    g1,
    g2,
    *,
    scale: int = 100,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test, exact over a
    binned domain with midrank tie handling. The rank machinery never
    sorts rows: values bin to floor(value·scale) integers, ONE bounded
    aggregate counts each bin per group, and a window over the ≤
    domain·scale bin rows assigns midranks — doubled (midrank_x2 =
    2·rank_before + t + 1) so every rank quantity stays an exact
    integer through the tie-corrected variance. Same bounded-agg-then-
    window idiom as ks_statistic above; z uses the normal approximation
    WITHOUT continuity correction (pinned convention, oracle-mirrored).

    Integer bound: the tie term Σ(t³−t) needs max-bin-count³ < 2^63
    (~2e6 rows in ONE bin); n1·(n1+1) needs n1 < 3e9. Returns one row
    (n_g1, n_g2, u1_x2, z_e6): U₁ = u1_x2/2 exact; z quantized to
    millionths via an IEEE expression tree both engines share. A
    degenerate pool (all values one bin) yields a NULL z."""
    from pyspark.sql.window import Window

    ev = df.filter(F.col(group_col).isin([g1, g2]) & F.col(value_col).isNotNull())
    binned = ev.select(
        F.floor(F.col(value_col) * F.lit(float(scale))).cast("long").alias("b"),
        (F.col(group_col) == F.lit(g1)).alias("is1"),
    )
    counts = binned.groupBy("b").agg(
        F.count(F.when(F.col("is1"), F.lit(1))).alias("c1"),
        F.count(F.when(~F.col("is1"), F.lit(1))).alias("c2"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    ranked = counts.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("t"),
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0)).alias("before"),
    )
    agg = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * (F.lit(2) * F.col("before") + F.col("t") + F.lit(1))).alias("r1_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + F.lit(1))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    td = F.col("tie").cast("double")
    var = n1d * n2d / F.lit(12.0) * (nd + F.lit(1.0) - td / (nd * (nd - F.lit(1.0))))
    z = (u1_x2.cast("double") - n1d * n2d) / (F.lit(2.0) * F.sqrt(var))
    z_e6 = F.when(var > 0, F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long"))
    return agg.select(
        F.col("n1").alias("n_g1"),
        F.col("n2").alias("n_g2"),
        u1_x2.alias("u1_x2"),
        z_e6.alias("z_e6"),
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value: Column,
) -> DataFrame:
    """Per-group Gini coefficient of an integer-exact value (spend
    concentration per region, token share per source):

        G = (2·Σ i·x_(i)) / (n·Σx) − (n + 1)/n

    over values sorted ascending within the group (ties broken by value
    order only — any tie order yields the same Σi·x for equal x). Both
    Σ i·x_(i) and Σx are exact longs from ONE ranked window pass; the
    closed form divides once per group (floor idiom, e6). Negative
    values DROP up front (Gini is defined on non-negative domains —
    the weighted_quantile w ≤ 0 convention); groups with Σx = 0 or
    n = 0 drop.

    Integer bound: Σ i·x needs n·max(x)·n < 2^63 — with cents ~5e7 that
    holds to ~4e5 rows per group; lift to DECIMAL(38,0) beyond.

    100 TB shape: one shuffle on the group key, a per-group ranked
    window (linear), one aggregate. No global sort."""
    from pyspark.sql.window import Window

    ev = (
        df.filter(value.isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col), value.cast("long").alias("__x__"))
        .filter(F.col("__x__") >= 0)
    )
    w = Window.partitionBy(group_col).orderBy("__x__")
    ranked = ev.withColumn("__i__", F.row_number().over(w))
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x__").alias("sx"),
        F.sum(F.col("__i__").cast("long") * F.col("__x__")).alias("six"),
    )
    nd = F.col("n").cast("double")
    g = (
        F.lit(2.0) * F.col("six").cast("double") / (nd * F.col("sx").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return agg.filter((F.col("n") > 0) & (F.col("sx") > 0)).select(
        group_col,
        "n",
        "sx",
        F.floor(g * F.lit(1e6) + F.lit(0.5)).cast("long").alias("gini_e6"),
    )


def wilson_interval_by_group(
    df: DataFrame,
    group_col: str,
    success: Column,
    *,
    z: float = 1.959964,
) -> DataFrame:
    """Per-group Wilson score interval for a binomial proportion (the
    conversion-rate CI that behaves at small n and extreme p, unlike
    the Wald interval):

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    ``success`` must evaluate to a boolean; rows with a NULL success
    drop. n and k are exact longs from one hash-agg; the closed form is
    a fixed IEEE tree over their double casts (z is passed as a literal
    double — the default is the 97.5 % normal quantile to 6 dp, NOT a
    transcendental computed at runtime). Emits lo_e6/hi_e6 clamped to
    [0, 1e6]. One map-side-combined aggregate; O(groups) arithmetic."""
    ev = df.filter(success.isNotNull() & F.col(group_col).isNotNull())
    agg = ev.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(success, F.lit(1))).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2 = F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd))
        / denom
    )
    lo = F.greatest(F.lit(0.0), center - half)
    hi = F.least(F.lit(1.0), center + half)
    return agg.select(
        group_col,
        "n",
        "k",
        F.floor(lo * F.lit(1e6) + F.lit(0.5)).cast("long").alias("lo_e6"),
        F.floor(hi * F.lit(1e6) + F.lit(0.5)).cast("long").alias("hi_e6"),
    )


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value: Column,
    *,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key retrospective change-point locator: the position where
    the centered cumulative sum S_i = Σ_{j≤i}(x_j) − i·(Σx)/n is
    farthest from zero — the classic CUSUM statistic whose argmax
    estimates a single mean shift. Exactness: comparing |S_i| =
    |n·Σ_{j≤i}x_j − i·Σx| / n needs no division at all — the argmax is
    taken over the exact integer cross-term, and only the reported
    magnitude divides once (floor idiom). Ties break to the earliest
    position; pass ``tiebreak`` (a unique id) when ``order_col`` can
    collide within a key, else the series order — and the result — is
    not deterministic. Keys with n < 2 drop.

    100 TB shape: one shuffle on the key; a per-key ordered window
    computes running sums; one aggregate takes the argmax via max_by.
    Integer bound: n·Σx < 2^63."""
    from pyspark.sql.window import Window

    ev = df.filter(
        value.isNotNull() & F.col(key_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(
        F.col(key_col),
        F.col(order_col),
        *([F.col(tiebreak)] if tiebreak else []),
        value.cast("long").alias("__x__"),
    )
    order_keys = [order_col, *([tiebreak] if tiebreak else [])]
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_keys])
    tot = Window.partitionBy(key_col)
    stepped = ev.select(
        key_col,
        order_col,
        F.row_number().over(w).alias("__i__"),
        F.sum("__x__").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__cum__"),
        F.sum("__x__").over(tot).alias("__sx__"),
        F.count(F.lit(1)).over(tot).alias("__n__"),
    )
    dev = F.abs(
        F.col("__n__") * F.col("__cum__") - F.col("__i__").cast("long") * F.col("__sx__")
    )
    scored = stepped.filter(F.col("__n__") >= 2).select(
        key_col,
        order_col,
        F.col("__n__").alias("n"),
        dev.alias("__dev__"),
        F.col("__i__"),
    )
    pick = F.max_by(
        F.struct(F.col(order_col), F.col("__dev__"), F.col("n")),
        F.struct(F.col("__dev__"), (-F.col("__i__")).alias("__ni__")),
    )
    agg = scored.groupBy(key_col).agg(pick.alias("__p__"))
    mag = F.col("__p__")["__dev__"].cast("double") / F.col("__p__")["n"].cast("double")
    return agg.select(
        key_col,
        F.col("__p__")[order_col].alias("change_at"),
        F.col("__p__")["n"].alias("n"),
        F.floor(mag * F.lit(1e6) + F.lit(0.5)).cast("long").alias("cusum_e6"),
    )


def ols2_by_group(
    df: DataFrame,
    group_col: str,
    x1: Column,
    x2: Column,
    y: Column,
) -> DataFrame:
    """Per-group TWO-feature least squares y ~ b0 + b1·x1 + b2·x2 — the
    smallest genuinely multivariate regression, solved in closed form
    by Cramer's rule on the 3×3 normal equations. ONE hash-aggregate
    emits the nine exact long sums (n, Σx1, Σx2, Σy, Σx1², Σx2²,
    Σx1x2, Σx1y, Σx2y); the determinants are a fixed IEEE tree over
    their double casts, so the oracle can replicate bit-for-bit. A
    singular system (collinear or constant features) yields NULLs.

    Integer bound: the largest sum is Σx·x — with both features ≤ 1e5
    and cents targets, exact to ~9e8 rows per group; lift the sums to
    DECIMAL(38,0) beyond (ols_by_group's envelope note).

    100 TB shape: identical to ols_by_group — one map-side-combined
    aggregate over the scan, then O(groups) arithmetic. Adding features
    only widens the sum tuple; it never adds a pass."""
    df = df.filter(
        F.col(group_col).isNotNull() & x1.isNotNull() & x2.isNotNull() & y.isNotNull()
    )
    a = x1.cast("long")
    b = x2.cast("long")
    t = y.cast("long")
    sums = df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(a).alias("s1"),
        F.sum(b).alias("s2"),
        F.sum(t).alias("sy"),
        F.sum(a * a).alias("s11"),
        F.sum(b * b).alias("s22"),
        F.sum(a * b).alias("s12"),
        F.sum(a * t).alias("s1y"),
        F.sum(b * t).alias("s2y"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sy = F.col("sy").cast("double")
    s11 = F.col("s11").cast("double")
    s22 = F.col("s22").cast("double")
    s12 = F.col("s12").cast("double")
    s1y = F.col("s1y").cast("double")
    s2y = F.col("s2y").cast("double")
    # det of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] (symmetric Gram)
    det = (
        nd * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        nd * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        nd * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    ok = det != 0
    e6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    return sums.select(
        group_col,
        "n",
        F.when(ok, e6(det0 / det)).alias("b0_e6"),
        F.when(ok, e6(det1 / det)).alias("b1_e6"),
        F.when(ok, e6(det2 / det)).alias("b2_e6"),
    )


def _midranks_x2(df: DataFrame, group_col: str, col: str, out: str) -> DataFrame:
    """Doubled midranks of ``col`` within ``group_col`` via the bounded
    bin-table trick (mann_whitney_u): counts per distinct value, a
    window over the per-group value spine, join back on (group, value).
    The join's build side is the spine — O(groups × distinct values),
    broadcastable — so rank assignment never sorts the fact rows."""
    from pyspark.sql.window import Window

    counts = df.groupBy(group_col, col).agg(F.count(F.lit(1)).alias("__t__"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spine = counts.select(
        group_col,
        col,
        (
            F.lit(2) * F.coalesce(F.sum("__t__").over(w), F.lit(0))
            + F.col("__t__")
            + F.lit(1)
        ).alias(out),
    )
    return df.join(spine, [group_col, col])


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x: Column,
    y: Column,
) -> DataFrame:
    """Per-group Spearman rank correlation with midrank ties — the
    monotone-association companion to corr_by_group's linear Pearson:
    ρ = Pearson over the rank vectors. Doubled midranks keep every rank
    an exact integer (the mann_whitney_u device), so the six Pearson
    sums are exact longs and ρ's closed form is one fixed IEEE tree.
    NULL on zero rank variance (a constant variable). NULL x/y rows
    drop up front.

    100 TB shape: two bounded (group, value)-spine windows + two
    broadcastable joins back to the facts, then ONE six-sum hash-agg —
    rank assignment with no fact-table sort. Integer bound: Σ(rx·ry)
    with doubled ranks needs n³ ≲ 2^61 → n ≲ 1.3e6 rows per group;
    beyond that lift the sums to DECIMAL(38,0)."""
    base = df.filter(x.isNotNull() & y.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col), x.cast("long").alias("__x__"), y.cast("long").alias("__y__")
    )
    ranked = _midranks_x2(
        _midranks_x2(base, group_col, "__x__", "__rx__"), group_col, "__y__", "__ry__"
    )
    a = F.col("__rx__")
    b = F.col("__ry__")
    sums = ranked.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(a).alias("sx"),
        F.sum(b).alias("sy"),
        F.sum(a * b).alias("sxy"),
        F.sum(a * a).alias("sxx"),
        F.sum(b * b).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    rho = F.when((denx > 0) & (deny > 0), num / (F.sqrt(denx) * F.sqrt(deny)))
    return sums.select(
        group_col,
        "n",
        F.floor(rho * F.lit(1e6) + F.lit(0.5)).cast("long").alias("spearman_e6"),
    )


#: Benford first-digit probabilities log10(1 + 1/d), pinned as 6-dp
#: literals so the chi-square tree never computes a transcendental at
#: runtime (the wilson z convention).
BENFORD_P = (0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
             0.066947, 0.057992, 0.051153, 0.045757)


def benford_chi2(df: DataFrame, value: Column) -> DataFrame:
    """Benford's-law first-digit audit of a positive integer measure —
    the classic fabricated-data screen. One conditional-sum aggregate
    counts digits 1-9 (first digit via string head — exact on integers,
    no float log); χ² = Σ_d (obs − n·p_d)²/(n·p_d) with p_d pinned
    literals, each digit's contribution e6-floor-quantized BEFORE the
    exact integer sum (the BM25/KL discipline). Returns one row:
    (n, chi2_e6, and obs_1..obs_9 for the full fingerprint). Non-
    positive values drop (Benford is defined on positive magnitudes).

    The magnitude is truncated to LONG before both the digit
    extraction and the positivity filter, so n always equals
    Σ obs_d: a fractional value in (0, 1) truncates to 0 and is
    filtered out, instead of passing ``value > 0`` while its string
    head '0' lands in no digit bucket (which silently inflated every
    χ² deviation term).

    Callers with fractional-scale measures must PRE-SCALE to integers
    — Benford's law is conventionally stated on the first SIGNIFICANT
    digit, but this audit deliberately reads the first digit of the
    integer part only, because a float-log/normalization path would
    reintroduce the cross-engine transcendental drift the e6 integer
    discipline exists to avoid. benford_order_totals does exactly this
    (totals in cents); a measure dense in (0, 1) should be multiplied
    by a fixed power of ten first or its rows will all drop."""
    mag = value.cast("long")
    d = F.substring(mag.cast("string"), 1, 1).cast("int")
    base = df.filter(mag.isNotNull() & (mag > 0)).select(d.alias("__d__"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("__d__") == i, F.lit(1))).alias(f"obs_{i}")
            for i in range(1, 10)
        ],
    )
    nd = F.col("n").cast("double")
    terms = []
    for i, p in enumerate(BENFORD_P, start=1):
        e = nd * F.lit(p)
        dev = F.col(f"obs_{i}").cast("double") - e
        terms.append(F.floor(dev * dev / e * F.lit(1e6) + F.lit(0.5)).cast("long"))
    chi2_e6 = terms[0]
    for t in terms[1:]:
        chi2_e6 = chi2_e6 + t
    return agg.select(
        "n",
        # an empty (or all-non-positive, e.g. unscaled-fractional)
        # input has no first digits: each term is 0/0 → NaN → 0 after
        # the cast, reading "perfect Benford fit" — undefined is NULL
        F.when(F.col("n") > 0, chi2_e6).alias("chi2_e6"),
        *[f"obs_{i}" for i in range(1, 10)],
    )


def km_survival(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve per group, kept in LOG domain so it
    is exact and hash-comparable: input is one row per subject
    (group, integer duration, event flag — False = right-censored);
    output is one row per event time d with

        log S(d) = Σ_{t ≤ d, steps} q6(det_ln((n_t − e_t)/n_t))

    where n_t = at-risk count (subjects with duration ≥ t), e_t =
    events at t. Each step's log term quantizes to e6 BEFORE the exact
    integer cumulative sum (the EWMA/KL replayable-recurrence
    discipline), so the curve is an integer column both engines agree
    on; S itself is exp(log_surv_e6/1e6) for display. Steps where all
    at-risk fail (n = e) clamp to det_ln's floor — both engines clamp
    identically.

    100 TB shape: subjects collapse to a (group, duration) spine in ONE
    hash-agg; at-risk counts and the cumulative log-sum are two framed
    passes over the SAME per-group spine sort (O(distinct durations)
    rows, not subjects). Emits (group, d, n_risk, d_events,
    log_surv_e6)."""
    from pyspark.sql.window import Window

    from tada_spark.plans.semantics import det_ln

    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
    ).select(
        F.col(group_col),
        F.col(duration_col).cast("long").alias("d"),
        F.col(event_col).cast("boolean").alias("ev"),
    )
    spine = base.groupBy(group_col, "d").agg(
        F.count(F.when(F.col("ev"), F.lit(1))).alias("e"),
        F.count(F.lit(1)).alias("arrivals"),
    )
    w = Window.partitionBy(group_col).orderBy("d")
    before = F.coalesce(
        F.sum("arrivals").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    total = F.sum("arrivals").over(Window.partitionBy(group_col))
    risked = spine.select(
        group_col,
        "d",
        "e",
        (total - before).alias("n_risk"),
    ).filter(F.col("e") > 0)
    term = F.floor(
        det_ln(
            (F.col("n_risk") - F.col("e")).cast("double") / F.col("n_risk").cast("double")
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    stepped = risked.withColumn("__t__", term)
    cum = F.sum("__t__").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return stepped.select(
        group_col,
        "d",
        F.col("n_risk"),
        F.col("e").alias("d_events"),
        cum.alias("log_surv_e6"),
    )


def quantile_normalize(
    df: DataFrame,
    source_col: str,
    value_col: str,
    id_col: str,
    *,
    bucket: int = 4096,
) -> DataFrame:
    """Map every source's values onto the POOLED distribution (the
    map-to-reference form of quantile normalization): a row at ordinal
    rank r of n_src within its source lands at pooled position
    p = round((r−1)·(N−1)/(n_src−1)) + 1 and takes the pooled value
    whose CDF interval contains p (nearest-rank inverse CDF — no
    interpolation, so everything stays exact integers; a single-row
    source maps to the pooled median position; ranks tie-break on
    ``id_col``). The cross-source feature equalizer that makes quality
    scores comparable across crawls.

    100 TB shape: per-source ranks are one keyed window; the pooled
    CDF is a (value)-spine aggregate; the inverse-CDF lookup is a
    BUCKETED equi-join in position space (intervals explode to the
    fixed-width buckets they span — the range_join device), never a
    broadcast of the spine or a nested loop. N (pooled count) rides a
    1-row broadcast (the allowlisted scalar crossJoin). Integer bound:
    (r−1)·(N−1) < 2^63 → N < 3e9 rows.

    Emits (id, source, value, norm_value)."""
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(source_col).isNotNull() & F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col), F.col(source_col), F.col(value_col).cast("long").alias("__v__")
    )
    wsrc = Window.partitionBy(source_col).orderBy("__v__", id_col)
    ranked = base.select(
        id_col,
        source_col,
        "__v__",
        F.row_number().over(wsrc).alias("__r__"),
        F.count(F.lit(1)).over(Window.partitionBy(source_col)).alias("__ns__"),
    )
    total = base.agg(F.count(F.lit(1)).alias("__N__"))
    den = F.col("__ns__") - 1
    # integral DIV, not floor-of-double-division: the 2·(r−1)·(N−1)
    # numerator reaches 2^53 already at N ≈ 6.7e7 rows, where the
    # double quotient starts rounding while DuckDB's // stays exact
    p = (
        F.when(
            den > 0,
            F.expr("(2 * ((__r__ - 1) * (__N__ - 1)) + (__ns__ - 1)) div (2 * (__ns__ - 1))"),
        )
        .otherwise(F.floor((F.col("__N__") - 1) / F.lit(2.0) + F.lit(0.5)))
        .cast("long")
        + F.lit(1)
    )
    probes = ranked.crossJoin(F.broadcast(total)).select(
        id_col,
        source_col,
        "__v__",
        p.alias("__p__"),
        F.floor((p - 1) / F.lit(bucket)).cast("long").alias("__bkt__"),
    )
    wpool = Window.orderBy("__v__").rowsBetween(Window.unboundedPreceding, -1)
    spine = (
        base.groupBy("__v__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .select(
            F.col("__v__").alias("__nv__"),
            (F.coalesce(F.sum("__cnt__").over(wpool), F.lit(0)) + 1).alias("__lo__"),
            (F.coalesce(F.sum("__cnt__").over(wpool), F.lit(0)) + F.col("__cnt__")).alias("__hi__"),
        )
    )
    intervals = spine.withColumn(
        "__bkt__",
        F.explode(
            F.sequence(
                F.floor((F.col("__lo__") - 1) / F.lit(bucket)).cast("long"),
                F.floor((F.col("__hi__") - 1) / F.lit(bucket)).cast("long"),
            )
        ),
    )
    return (
        probes.join(intervals, "__bkt__")
        .filter((F.col("__p__") >= F.col("__lo__")) & (F.col("__p__") <= F.col("__hi__")))
        .select(
            id_col,
            source_col,
            F.col("__v__").alias("value"),
            F.col("__nv__").alias("norm_value"),
        )
    )


def burstiness_by_key(
    df: DataFrame,
    key_col: str,
    ts_us: Column,
    *,
    seq_col: str,
) -> DataFrame:
    """Per-key burstiness of inter-event times — the bot/automation
    signal: B = (σ − μ)/(σ + μ) over the gaps between consecutive
    events, where B → −1 is a metronome (periodic scraper), B ≈ 0 is
    Poisson (organic), B → 1 is heavy-tailed human bursts. Gaps are
    floored to whole SECONDS so Σd² stays in int64 (µs² would overflow
    at day-scale gaps); μ and population σ come from the exact long
    sums (n, Σd, Σd²) of ONE lead-window pass + one aggregate on the
    same keyed sort. Keys with < 2 gaps, or σ + μ = 0, yield NULL.
    Emits (key, n_gaps, b_e6)."""
    from pyspark.sql.window import Window

    ev = df.filter(F.col(key_col).isNotNull() & ts_us.isNotNull()).select(
        F.col(key_col), ts_us.alias("__us__"), F.col(seq_col)
    )
    w = Window.partitionBy(key_col).orderBy("__us__", seq_col)
    gap_s = F.floor(
        (F.lead("__us__").over(w) - F.col("__us__")) / F.lit(1e6)
    ).cast("long")
    gaps = ev.select(F.col(key_col), gap_s.alias("__d__")).filter(
        F.col("__d__").isNotNull()
    )
    agg = gaps.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("__d__").alias("sd"),
        F.sum(F.col("__d__") * F.col("__d__")).alias("sdd"),
    )
    nd = F.col("n_gaps").cast("double")
    mu = F.col("sd").cast("double") / nd
    var = F.col("sdd").cast("double") / nd - mu * mu
    sig = F.sqrt(F.greatest(var, F.lit(0.0)))
    b = F.when((F.col("n_gaps") >= 2) & (sig + mu > 0), (sig - mu) / (sig + mu))
    return agg.select(
        key_col,
        "n_gaps",
        F.floor(b * F.lit(1e6) + F.lit(0.5)).cast("long").alias("b_e6"),
    )


def weighted_quantile_by_group(
    df: DataFrame,
    group_col: str,
    value: Column,
    weight: Column,
    *,
    q_num: int,
    q_den: int,
) -> DataFrame:
    """Per-group exact WEIGHTED quantile (lower convention): the
    smallest value v whose cumulative weight reaches q of the group
    total — the spend-weighted median and friends. With integer
    weights and a rational q = q_num/q_den, the crossing test is pure
    integer cross-multiplication (cumw·q_den ≥ q_num·W): no division
    ever happens, so the result is exact at any scale. Zero/negative
    weights drop; empty groups vanish.

    100 TB shape: the facts collapse to a (group, distinct-value)
    spine in ONE map-side-combined hash-agg (weights of equal values
    sum — the crossing point only ever lands on a distinct value), so
    the running-weight window sorts the bounded spine, never the fact
    rows. Exactly one fact shuffle. Integer bound: W·q_num < 2^63."""
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(group_col).isNotNull() & value.isNotNull() & weight.isNotNull()
    ).select(
        F.col(group_col),
        value.cast("long").alias("__v__"),
        weight.cast("long").alias("__w__"),
    ).filter(F.col("__w__") > 0)
    spine = base.groupBy(group_col, "__v__").agg(F.sum("__w__").alias("__vw__"))
    w = Window.partitionBy(group_col).orderBy("__v__")
    tot = Window.partitionBy(group_col)
    stepped = spine.select(
        group_col,
        "__v__",
        F.sum("__vw__").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__cum__"),
        F.sum("__vw__").over(tot).alias("__W__"),
    )
    crossing = stepped.filter(
        F.col("__cum__") * F.lit(int(q_den)) >= F.lit(int(q_num)) * F.col("__W__")
    )
    return crossing.groupBy(group_col).agg(
        F.min("__v__").alias("wq_value"),
        F.max("__W__").alias("total_weight"),
    )


def best_split_by_group(
    df: DataFrame,
    group_col: str,
    feature: Column,
    label: Column,
) -> DataFrame:
    """Per-group single-feature decision stump: the split threshold s
    (left = feature ≤ s) minimizing weighted Gini impurity over a
    binary label — the CART split-finding primitive. Minimizing
    nL·G_L + nR·G_R is maximizing the purity gain
    (aL² + bL²)/nL + (aR² + bR²)/nR (a/b = label counts). The two
    divisions run on EXACT integer operands (squares and counts are
    longs; exact as doubles up to 2^53 → n ≲ 9e7 rows per group) and
    the sum is e6 floor-quantized — the ols_by_group discipline, so
    both engines produce the identical score_e6. NOTE: the round-8
    version ranked by the cross-multiplied numerator
    (aL²+bL²)·nR + (aR²+bR²)·nL alone, whose implicit denominator
    nL·nR varies per split — NOT order-equivalent (a perfect
    separation could lose to an impure middle split); fixed in round 9
    with the oracle and brute-force property test updated in lockstep.
    One (group, feature-value) spine aggregate, running counts over the
    spine window, argmax via max_by (quantized ties → smallest
    threshold). Splits with an empty side are excluded.

    Emits (group, split_at, n_left, n_right, score_e6)."""
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(group_col).isNotNull() & feature.isNotNull() & label.isNotNull()
    ).select(
        F.col(group_col),
        feature.cast("long").alias("__f__"),
        label.cast("boolean").alias("__y__"),
    )
    spine = base.groupBy(group_col, "__f__").agg(
        F.count(F.when(F.col("__y__"), F.lit(1))).alias("__a__"),
        F.count(F.when(~F.col("__y__"), F.lit(1))).alias("__b__"),
    )
    w = Window.partitionBy(group_col).orderBy("__f__")
    tot = Window.partitionBy(group_col)
    run = spine.select(
        group_col,
        F.col("__f__").alias("split_at"),
        F.sum("__a__").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("aL"),
        F.sum("__b__").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("bL"),
        F.sum("__a__").over(tot).alias("A"),
        F.sum("__b__").over(tot).alias("B"),
    )
    nL = F.col("aL") + F.col("bL")
    aR = F.col("A") - F.col("aL")
    bR = F.col("B") - F.col("bL")
    nR = aR + bR
    gain = (
        (F.col("aL") * F.col("aL") + F.col("bL") * F.col("bL")).cast("double")
        / nL.cast("double")
    ) + ((aR * aR + bR * bR).cast("double") / nR.cast("double"))
    score = F.floor(gain * F.lit(1e6) + F.lit(0.5)).cast("long")
    cand = run.filter((nL > 0) & (nR > 0)).select(
        group_col,
        "split_at",
        nL.alias("n_left"),
        nR.alias("n_right"),
        score.alias("score_e6"),
    )
    pick = F.max_by(
        F.struct("split_at", "n_left", "n_right", "score_e6"),
        F.struct(F.col("score_e6"), -F.col("split_at")),
    )
    return cand.groupBy(group_col).agg(pick.alias("__p__")).select(
        group_col,
        F.col("__p__.split_at").alias("split_at"),
        F.col("__p__.n_left").alias("n_left"),
        F.col("__p__.n_right").alias("n_right"),
        F.col("__p__.score_e6").alias("score_e6"),
    )


def jackknife_mean_by_group(
    df: DataFrame,
    group_col: str,
    value: Column,
    id_col: str,
    *,
    n_buckets: int = 20,
) -> DataFrame:
    """Per-group mean with a delete-one-bucket jackknife standard
    error — distribution-free error bars for a metric at any scale,
    with ZERO randomness: rows assign to B pseudo-replicates by md5 of
    their id (content-addressed, so the estimate is reproducible and
    partition-invariant), leave-one-out means come from the exact
    bucket sums, and

        se² = (B−1)/B · Σ_b (m_(b) − m̄_loo)²

    is one fixed IEEE tree over those sums. Emits
    (group, n, mean_e6, se_e6). Groups with < 2 non-empty buckets give
    NULL se. Two aggregates total: (group, bucket) sums, then O(B)
    rows per group.

    100 TB shape: the facts are scanned once into a (group, bucket)
    hash-agg (≤ B rows per group); everything after is arithmetic on
    the tiny replicate table."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )
    base = df.filter(
        F.col(group_col).isNotNull() & value.isNotNull() & F.col(id_col).isNotNull()
    ).select(F.col(group_col), value.cast("long").alias("__v__"), bucket.alias("__b__"))
    per_bucket = base.groupBy(group_col, "__b__").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("__v__").alias("sb"),
    )
    tot = per_bucket.groupBy(group_col).agg(
        F.sum("nb").alias("N"),
        F.sum("sb").alias("S"),
        F.count(F.lit(1)).alias("B"),
        # deterministic fold order: collect_list order is partition-
        # dependent and float addition is not associative — sort the
        # replicate list so the loo sums are bit-stable (the
        # paragraph-dedup device); equal structs commute harmlessly
        F.array_sort(F.collect_list(F.struct("nb", "sb"))).alias("reps"),
    )
    loo = F.transform(
        F.col("reps"),
        lambda r: (F.col("S") - r["sb"]).cast("double")
        / (F.col("N") - r["nb"]).cast("double"),
    )
    loo_mean = F.aggregate(
        loo, F.lit(0.0), lambda acc, x: acc + x
    ) / F.col("B").cast("double")
    ss = F.aggregate(
        F.transform(loo, lambda x: (x - loo_mean) * (x - loo_mean)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bd = F.col("B").cast("double")
    se = F.sqrt((bd - F.lit(1.0)) / bd * ss)
    mean = F.col("S").cast("double") / F.col("N").cast("double")
    return tot.select(
        group_col,
        F.col("N").alias("n"),
        F.floor(mean * F.lit(1e6) + F.lit(0.5)).cast("long").alias("mean_e6"),
        F.when(F.col("B") >= 2, F.floor(se * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
            "se_e6"
        ),
    )


#: NDCG position discounts 1/log2(i+1) for ranks 1..10, pinned as
#: literals (the Benford/Wilson convention — no runtime transcendental
#: in a hash-compared output).
NDCG_DISCOUNTS = (1.0, 0.630929753571, 0.5, 0.430676558073, 0.386852807235,
                  0.356207187108, 0.333333333333, 0.315464876786,
                  0.301029995664, 0.289064826318)


def ndcg_at_10(
    df: DataFrame,
    group_col: str,
    rank_col: str,
    rel_col: str,
) -> DataFrame:
    """NDCG@10 per query group — the standard graded-relevance ranking
    metric: DCG = Σ (2^rel − 1)·d_i over the top 10 by ``rank_col``
    (1-based, unique within group), IDCG the same over gains sorted
    descending. Gains are exact integers; the ten discounts are pinned
    literals; both float folds run in a FIXED order (array_sort then
    sequential aggregate — the jackknife device), so ndcg_e6
    hash-matches across engines. Groups with IDCG = 0 (all-zero
    relevance) yield NULL.

    One group-keyed aggregate collects ≤ 10 (rank, gain) pairs; all
    arithmetic is per-group on that tiny array."""
    # negative relevance is a labeling error, not a gain: Java shift
    # masking makes shiftleft(1, -1) = 1<<31, silently driving the
    # whole group's DCG hugely negative — fail loudly instead
    gain = F.expr(
        f"CASE WHEN cast({rel_col} as int) >= 0"
        f" THEN shiftleft(1, cast({rel_col} as int)) - 1"
        f" ELSE raise_error(concat('ndcg_at_10: negative relevance ', "
        f"cast({rel_col} as string))) END"
    )
    top = df.filter(
        F.col(group_col).isNotNull()
        & F.col(rank_col).isNotNull()
        & (F.col(rank_col) >= 1)
        & (F.col(rank_col) <= 10)
        & F.col(rel_col).isNotNull()
    ).select(
        F.col(group_col),
        F.col(rank_col).cast("int").alias("__rk__"),
        gain.cast("long").alias("__g__"),
    )
    packed = top.groupBy(group_col).agg(
        F.array_sort(F.collect_list(F.struct("__rk__", "__g__"))).alias("by_rank"),
        F.reverse(F.array_sort(F.collect_list("__g__"))).alias("by_gain"),
    )
    disc = F.array(*[F.lit(d) for d in NDCG_DISCOUNTS])
    # discount by the RANK VALUE, not list position: a dropped/missing
    # rank must not shift later documents onto more generous discounts
    dcg = F.aggregate(
        F.transform(
            F.col("by_rank"),
            lambda s: s["__g__"].cast("double") * F.element_at(disc, s["__rk__"]),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    idcg = F.aggregate(
        F.zip_with(
            F.transform(F.col("by_gain"), lambda g: g.cast("double")),
            F.slice(disc, 1, F.size("by_gain")),
            lambda g, d: g * d,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    stepped = packed.select(
        group_col,
        F.size("by_rank").alias("n_ranked"),
        dcg.alias("__dcg__"),
        idcg.alias("__idcg__"),
    )
    return stepped.select(
        group_col,
        "n_ranked",
        F.floor(F.col("__dcg__") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("dcg_e6"),
        F.when(
            F.col("__idcg__") > 0,
            F.floor(F.col("__dcg__") / F.col("__idcg__") * F.lit(1e6) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("ndcg_e6"),
    )


def mutual_information(
    df: DataFrame, x: Column, pairs: list[tuple[str, Column]]
) -> DataFrame:
    """Mutual information I(X;Y) in nats between a categorical X and
    each candidate feature Y — the model-free dependence gauge feature
    selection and leakage audits run before training (PMI's aggregate:
    I = Σ p_xy · ln(p_xy/(p_x·p_y))). One row per audit:
    (pair, n, mi_e6), ``pairs`` = [(label, y_column), ...].

    Determinism: the ratio (n_xy·N)/(n_x·n_y) is built from exact
    counts lifted to double in ONE fixed tree (products before the
    division), its ln is det_ln (plans/semantics — transcendental-
    free), and each cell's contribution is e6-floor-quantized before
    the exact integer sum, so the result hash-matches DuckDB cell for
    cell. Bound: counts must stay under 2^53 (N ≲ 9e15 rows).

    100 TB shape: the fact table is scanned ONCE for every audit — each
    row explodes to its (pair, y) candidates inline, then one
    map-side-combined (pair, x, y) hash-agg; the marginals are re-aggs
    of the tiny CELL table (≤ Σ|X|·|Y| rows) equi-joined back broadcast
    on the pair key, so no scalar cross join and no second fact pass.
    Pair labels are the contingency-table key: a duplicate label would
    silently merge two different y-columns into one meaningless table,
    so duplicates raise (r8 ADVICE).
    """
    from tada_spark.plans.semantics import det_ln

    names = [name for name, _y in pairs]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"mutual_information: duplicate pair label(s) {dupes}")

    exploded = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("pair"), y.cast("string").alias("__y__"))
                for name, y in pairs
            ]
        )
    )
    base = (
        df.filter(x.isNotNull())
        .select(x.cast("string").alias("__x__"), exploded.alias("p"))
        .select("__x__", "p.pair", "p.__y__")
        .filter(F.col("__y__").isNotNull())
    )
    # staged (r12): the cell table feeds FOUR consumers (three
    # marginals + the contribution probe). AQE reuses only the map
    # side of the shared (pair, x, y) exchange; each consumer re-ran
    # the reduce-side final aggregate and replicated the subtree
    # through planning. The lazy pin holds the
    # ≤ Σ|X|·|Y|-row table once per invocation — measured −5% at
    # sf0.1 (small locally; the shared fact pass is the point at
    # scale — OPTIMIZATION_r12.md).
    cells = pin(
        base.groupBy("pair", "__x__", "__y__")
        .agg(F.count(F.lit(1)).alias("__nxy__"))
    )
    mx = cells.groupBy("pair", "__x__").agg(F.sum("__nxy__").alias("__nx__"))
    my = cells.groupBy("pair", "__y__").agg(F.sum("__nxy__").alias("__ny__"))
    tot = cells.groupBy("pair").agg(F.sum("__nxy__").alias("__n__"))
    nxy = F.col("__nxy__").cast("double")
    nn = F.col("__n__").cast("double")
    ratio = (nxy * nn) / (F.col("__nx__").cast("double") * F.col("__ny__").cast("double"))
    term = (nxy / nn) * det_ln(ratio)
    full = (
        cells.join(F.broadcast(mx), ["pair", "__x__"])
        .join(F.broadcast(my), ["pair", "__y__"])
        .join(F.broadcast(tot), "pair")
    )
    return full.groupBy("pair").agg(
        F.max("__n__").alias("n"),
        F.sum(F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("long")).alias("mi_e6"),
    )


def roc_auc_by_group(
    df: DataFrame, group_col: str, positive: Column, score: Column
) -> DataFrame:
    """Per-group ROC-AUC of an integer score separating a binary label
    — the classifier-quality readout every filtering-model audit needs,
    computed exactly from rank sums (AUC = U/(n₁n₀), the Mann-Whitney
    identity) with midrank tie handling. Returns (group, n_pos, n_neg,
    auc_e6); NULL when a group lacks one of the classes.

    Exact integers to the last step: doubled midranks (_midranks_x2)
    keep tied ranks integral, U·2 = ΣR⁺·2 − n₁(n₁+1) is a long, and the
    single double division U·2/(2n₁n₀) is one IEEE op both engines
    perform identically. Bound: ΣR·2 ≲ 2n² < 2^63 → n ≲ 2e9 per group.

    100 TB shape: rank assignment joins facts to the bounded per-group
    score spine (no fact sort — the mann_whitney device), then ONE
    hash-agg of three exact sums."""
    base = df.filter(
        score.isNotNull() & positive.isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col),
        positive.cast("int").alias("__pos__"),
        score.cast("long").alias("__s__"),
    )
    ranked = _midranks_x2(base, group_col, "__s__", "__r2__")
    agg = ranked.groupBy(group_col).agg(
        F.sum("__pos__").alias("n_pos"),
        F.sum(F.lit(1) - F.col("__pos__")).alias("n_neg"),
        F.sum(F.col("__r2__").cast("long") * F.col("__pos__")).alias("__r1x2__"),
    )
    np_ = F.col("n_pos").cast("long")
    nn_ = F.col("n_neg").cast("long")
    u_x2 = F.col("__r1x2__") - np_ * (np_ + F.lit(1))
    auc = u_x2.cast("double") / (F.lit(2) * np_ * nn_).cast("double")
    return agg.select(
        group_col,
        "n_pos",
        "n_neg",
        F.when(
            (np_ > 0) & (nn_ > 0),
            F.floor(auc * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("auc_e6"),
    )


def theil_sen_by_group(
    df: DataFrame, group_col: str, x: Column, y: Column
) -> DataFrame:
    """Per-group Theil-Sen slope — the median of all pairwise slopes
    (y_j−y_i)/(x_j−x_i), x_i < x_j: the robust trend estimate that
    shrugs off the outlier days OLS chases (up to 29% contamination).
    Returns (group, n_points, n_pairs, slope_med_e6_x2): twice the
    median of the e6-quantized slopes, kept integral so the even-count
    midpoint (a+b)/2 never touches floats.

    Each pairwise slope is ONE double division of exact longs, floor-
    e6-quantized immediately — the median then operates on integers, so
    tie order inside the sort cannot move the selected values. The two
    middle order statistics are picked by row_number ∈ {⌈n/2⌉, ⌈(n+1)/2⌉}
    (both equal the middle element when n is odd) and summed.

    100 TB shape: the quadratic is over the per-group DISTINCT-x spine
    (collapse y onto it first — for daily series the spine is calendar-
    bounded: 10 years ≈ 3.7k points → ≈ 6.7M pairs per group), never
    over fact rows. The pair self-join is a per-group hash join over a
    probe side repartitioned to cluster parallelism (the spine is tiny,
    so AQE would otherwise coalesce the probe to ONE task). The median
    is distributed rank selection, not a per-group full sort (r12,
    guide §2.1/§2.2): a row_number window partitioned by group sorts
    every pair slope with group-cardinality parallelism — measured at
    sf0.1, 14.5M nearly-unique slopes across 5 groups ran the sort on
    ≤5 cores (20 executor-core-seconds in a 5-task stage). Instead
    (1) one parallel aggregate takes each group's slope envelope
    (min/max/count), (2) slopes land in ≤65537 monotonic equal-width
    buckets per group and a map-side-combined count per (group,
    bucket) locates — in-plan, via a cumulative window over the small
    bucket table — the ≤2 buckets holding the middle ranks, and
    (3) only those buckets' rows are sorted; global rank = bucket
    base + within-bucket row_number. Bucketing is a monotonic function
    of the value, so the selected order statistics are positionally
    identical to the full sort's for any input — ties never straddle a
    bucket edge. The three passes re-probe the checkpointed spine (12k
    rows at sf0.1) rather than staging the pair stream: measured, one
    probe is ~40 executor-core-seconds while READING a 14.5M-row
    localCheckpoint costs the same or more and its storage pressure
    made later passes 5-10x slower — the probe's input is three orders
    of magnitude smaller than its output, so recompute beats staging
    (the inverse of the bm25/kl staging trade, where the staged table
    is the REDUCED side).
"""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    # staged: feeds both self-join sides (b is a broadcast build —
    # the AQE no-reuse shape), npts, and three probe passes
    pts = pin(
        df.filter(x.isNotNull() & y.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g__"), x.cast("long").alias("__x__"))
        .agg(F.sum(y.cast("long")).alias("__y__"))
    )
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    # explicit-numPartitions repartition: AQE never coalesces it, so
    # the probe (pair generation + slope fold) keeps 'par'-way
    # parallelism instead of riding the coalesced spine partitioning
    a = pts.repartition(par).alias("a")
    b = pts.alias("b")
    slope = (F.col("b.__y__") - F.col("a.__y__")).cast("double") / (
        F.col("b.__x__") - F.col("a.__x__")
    ).cast("double")
    pairs = a.join(
        b,
        (F.col("a.__g__") == F.col("b.__g__"))
        & (F.col("a.__x__") < F.col("b.__x__")),
    ).select(
        F.col("a.__g__").alias("__g__"),
        F.floor(slope * F.lit(1e6) + F.lit(0.5)).cast("long").alias("__s_e6__"),
    )
    # pass 1 — per-group envelope; bucket width spans [min, max] in
    # ≤65537 buckets (width ≥ 1, so a constant-slope group is bucket 0).
    # Integer div keeps the mapping exact and monotonic: s ↦ bucket
    # never reorders, so bucket-prefix counts ARE global rank bases.
    gstats = pin(
        pairs.groupBy("__g__")
        .agg(
            F.min("__s_e6__").alias("__mn__"),
            F.max("__s_e6__").alias("__mx__"),
            F.count(F.lit(1)).alias("__np__"),
        )
        .withColumn("__w__", F.expr("(__mx__ - __mn__) div 65536 + 1"))
        .withColumn("__rn1__", F.expr("(__np__ + 1) div 2"))
        .withColumn("__rn2__", F.expr("(__np__ + 2) div 2"))
    )
    pb = pairs.join(F.broadcast(gstats), "__g__").withColumn(
        "__b__", F.expr("(__s_e6__ - __mn__) div __w__")
    )
    # pass 2 — bucket histogram (≤ groups × 65537 rows after map-side
    # combine) → cumulative counts → the ≤2 target buckets per group.
    # 65536 buckets, not 4096: slope distributions peak at the median,
    # so the middle bucket holds far more than np/nbuckets (measured at
    # sf0.1: 5.9M of 14.5M rows at 4096 buckets, ~400k at 65536) and
    # the final sort's size follows the bucket width.
    cum_w = Window.partitionBy("__g__").orderBy("__b__").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    btgt = pin(
        pb.groupBy("__g__", "__b__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .withColumn("__cum__", F.sum("__c__").over(cum_w))
        .withColumn("__base__", F.col("__cum__") - F.col("__c__"))
        .join(F.broadcast(gstats.select("__g__", "__rn1__", "__rn2__")), "__g__")
        .filter(
            (
                (F.col("__base__") < F.col("__rn1__"))
                & (F.col("__rn1__") <= F.col("__cum__"))
            )
            | (
                (F.col("__base__") < F.col("__rn2__"))
                & (F.col("__rn2__") <= F.col("__cum__"))
            )
        )
        .select("__g__", "__b__", "__base__", "__rn1__", "__rn2__")
    )
    # pass 3 — sort ONLY the target buckets; ties share a slope value
    # (bucket is a function of the value), so within-bucket row_number
    # selects the same values the whole-group row_number did
    sel_w = Window.partitionBy("__g__", "__b__").orderBy("__s_e6__")
    sel = (
        pb.select("__g__", "__b__", "__s_e6__")
        .join(F.broadcast(btgt), ["__g__", "__b__"])
        .withColumn("__rn__", F.col("__base__") + F.row_number().over(sel_w))
        .filter(
            (F.col("__rn__") == F.col("__rn1__"))
            | (F.col("__rn__") == F.col("__rn2__"))
        )
    )
    return (
        sel.groupBy("__g__")
        .agg(
            (F.sum("__s_e6__") * F.lit(2) / F.count(F.lit(1))).cast("long").alias(
                "slope_med_e6_x2"
            ),
        )
        .join(gstats.select("__g__", F.col("__np__").alias("n_pairs")), "__g__")
        .join(
            pts.groupBy("__g__").agg(F.count(F.lit(1)).alias("n_points")),
            "__g__",
        )
        .select(
            F.col("__g__").alias(group_col), "n_points", "n_pairs", "slope_med_e6_x2"
        )
    )


def seasonal_decompose_weekday(df: DataFrame, day: Column, cents: Column) -> DataFrame:
    """Classical additive decomposition of a daily series into trend +
    weekday seasonal + remainder (the moving-average STL ancestor):
    trend = centered 7-day moving average (full windows only — edges
    stay NULL), seasonal = per-weekday mean of the detrended series,
    remainder = what's left. Returns one row per observed day:
    (day, revenue_c, trend_e6, seasonal_e6, remainder_e6).

    All-integer pipeline: daily totals are exact cent longs, lifted to
    e6-dollar units (×10⁴); the 7-row window sum is a long and the
    trend its integral ``div`` 7 (positive, so Spark div ≡ DuckDB //);
    the weekday mean is the only double op — one division, floor(·+0.5)
    back to a long both engines round identically (half-up, negative-
    safe) — and the remainder is a long subtraction. Bound: Σ window
    cents·10⁴·7 < 2^63 → daily revenue ≲ $1.3e13.

    The row-window runs over OBSERVED days (a gap shortens the
    calendar span, not the 7-row frame) — resample/interpolate first
    when gaps must count as zeros.

    100 TB shape: one map-side-combined daily hash-agg collapses the
    facts; everything after runs on the calendar-bounded day spine
    (10 years ≈ 3.7k rows) — a single-partition window over the spine
    is deliberate and safe at any fact scale."""
    from pyspark.sql.window import Window

    daily = (
        df.filter(day.isNotNull() & cents.isNotNull())
        .groupBy(day.alias("day"))
        .agg(F.sum(cents.cast("long")).alias("revenue_c"))
    )
    u = F.col("revenue_c") * F.lit(10000)
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "revenue_c",
        u.alias("__u__"),
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.sum(u).over(w7),
        ).alias("__w7__"),
    ).withColumn("trend_e6", F.expr("__w7__ div 7"))
    det = trended.withColumn("__det__", F.col("__u__") - F.col("trend_e6"))
    wd = F.dayofweek(F.col("day")) - F.lit(1)
    seas = (
        det.filter(F.col("__det__").isNotNull())
        .groupBy(wd.alias("__wd__"))
        .agg(
            F.floor(
                F.sum("__det__").cast("double") / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("seasonal_e6")
        )
    )
    return (
        det.join(F.broadcast(seas), wd == F.col("__wd__"), "left")
        .select(
            "day",
            "revenue_c",
            "trend_e6",
            F.when(F.col("trend_e6").isNotNull(), F.col("seasonal_e6")).alias(
                "seasonal_e6"
            ),
            (F.col("__det__") - F.col("seasonal_e6")).alias("remainder_e6"),
        )
    )


def retrieval_metrics_at_k(
    df: DataFrame, group_col: str, rank_col: str, rel_col: str, k: int
) -> DataFrame:
    """Binary-relevance retrieval metrics per query group — the
    MRR / recall@k / precision@k triple reported beside NDCG in every
    retrieval eval: rr = 1/rank of the first relevant hit, recall@k =
    hits_k/n_rel, precision@k = hits_k/k. Returns (group, n_rel,
    first_rel_rank, rr_e6, recall_at_k_e6, precision_at_k_e6); rr and
    recall are NULL when the group has no relevant document.

    One conditional hash-agg over the pre-ranked input — the counts
    are exact longs and each metric is ONE double division floor-e6'd,
    so the oracle matches term for term. Callers supply the ranking
    (row_number with a pinned tiebreak) — the metric never re-sorts.

    100 TB shape: map-side-combined single agg, no window, no join."""
    rel = F.col(rel_col).cast("int")
    rk = F.col(rank_col).cast("long")
    base = df.filter(
        F.col(group_col).isNotNull() & rel.isNotNull() & rk.isNotNull()
    )
    agg = base.groupBy(group_col).agg(
        F.sum(rel.cast("long")).alias("n_rel"),
        F.min(F.when(rel == 1, rk)).alias("first_rel_rank"),
        F.sum(F.when((rel == 1) & (rk <= k), F.lit(1)).otherwise(F.lit(0))).alias(
            "__hits__"
        ),
    )
    hits = F.col("__hits__").cast("double")
    e6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    return agg.select(
        group_col,
        "n_rel",
        "first_rel_rank",
        e6(F.lit(1.0) / F.col("first_rel_rank").cast("double")).alias("rr_e6"),
        F.when(F.col("n_rel") > 0, e6(hits / F.col("n_rel").cast("double"))).alias(
            f"recall_at_{k}_e6"
        ),
        e6(hits / F.lit(float(k))).alias(f"precision_at_{k}_e6"),
    )


def ewma_by_key(
    df: DataFrame,
    key_col: str,
    value: Column,
    order1: Column,
    order2: Column,
    *,
    alpha: float = 0.25,
) -> DataFrame:
    """Per-key event-ordered EWMA as a BATCH fold — the JVM-side twin
    of streaming/stateful.ewma_scores: same quantized recurrence
    s ← floor((α·x + (1−α)·s)·1e6 + 0.5)/1e6 (every intermediate on an
    e6 grid point, so a SQL recursive CTE replays it bit-for-bit; the
    streaming entry's oracle verifies this operator verbatim), folded
    with array_sort + aggregate — higher-order Column algebra in
    whole-stage codegen, no UDF, no state store. Returns
    (key, n_events, ewma_e6). α must be exactly representable
    (default 0.25) so each step is two correctly-rounded IEEE ops.

    100 TB shape: ONE hash-agg collects each key's history into an
    array sorted once per key — the right call when per-key history is
    bounded (sessions, users-per-day); unbounded histories belong to
    the streaming twin, whose state is two scalars regardless of
    length."""
    # the null flag leads the sort struct so NULL order keys fold LAST
    # — Spark's array_sort puts a NULL struct field FIRST, but both the
    # recursive-CTE oracle (ORDER BY ts: DuckDB defaults NULLS LAST)
    # and the streaming twin (pandas sort_values, NaT last) fold them
    # last; without the flag the three implementations diverge on the
    # first NULL-ts row
    base = df.filter(
        F.col(key_col).isNotNull() & value.isNotNull()
    ).select(
        F.col(key_col),
        F.struct(
            order1.isNull().cast("int").alias("z1"),
            order1.alias("o1"),
            order2.isNull().cast("int").alias("z2"),
            order2.alias("o2"),
            value.cast("double").alias("v"),
        ).alias("__e__"),
    )
    packed = base.groupBy(key_col).agg(
        F.array_sort(F.collect_list("__e__")).alias("__h__")
    )
    init = F.struct(
        F.lit(None).cast("double").alias("s"), F.lit(0).cast("long").alias("n")
    )
    a = float(alpha)

    def step(acc, x):
        first = F.floor(x["v"] * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        nxt = (
            F.floor(
                (F.lit(a) * x["v"] + F.lit(1.0 - a) * acc["s"]) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        )
        return F.struct(
            F.when(acc["s"].isNull(), first).otherwise(nxt).alias("s"),
            (acc["n"] + F.lit(1)).alias("n"),
        )

    folded = packed.select(
        key_col, F.aggregate(F.col("__h__"), init, step).alias("__f__")
    )
    return folded.select(
        key_col,
        F.col("__f__.n").alias("n_events"),
        F.floor(F.col("__f__.s") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("ewma_e6"),
    )
