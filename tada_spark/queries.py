"""Query catalog: the driver-facing inventory of implemented operators.

Each entry pairs a Spark implementation (built on the tada_spark engine
API — this is what demonstrates operator coverage from SURVEY.md §2)
with an ANSI-SQL oracle that DuckDB runs on the same parquet tables.
Aliases MUST match between the two: the driver sorts columns by name and
hash-compares values.

Float discipline: every floating aggregate is rounded to 2..6 dp with
the SAME floor idiom on both sides — FLOOR(x * 10^n + 0.5) / 10^n in
SQL, _round_det on Spark — so partial-aggregation order differences
between engines can't flip the hash, and no site depends on an engine's
own two-arg ROUND (Spark BigDecimal vs DuckDB std::round diverge on
boundary values; check_oracle.py lints two-arg ROUND out of oracles).
The only sanctioned ROUND is the single-arg exact-cents idiom
ROUND(x * 100)::BIGINT ↔ F.round(col * 100).cast("long").
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tada_spark.frame import Frame
from tada_spark.functions import dedup, similarity, text
from tada_spark.plans.semantics import pin

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


#: Session-scoped scan-plan cache: spark.read.parquet costs ~100 ms of
#: driver-side analysis (file listing + footer schema) per call, and a
#: 5-table star pays it five times per query. DataFrames are immutable
#: logical plans, so sharing the scan node across queries is safe — this
#: is what a table catalog/metastore gives a real deployment. Keyed by
#: the context's applicationId — unique per started context, unlike
#: id(spark), which CPython can reuse after a stopped session is
#: collected and would hand a new session stale plans. Each app id maps
#: to (its SparkContext, path → plan); the context handle exists so
#: eviction can ask liveness — only STOPPED apps' plans are dropped, so
#: two live interleaved sessions never thrash each other's cache. Each
#: call still returns a FRESH Frame wrapper.
_SCAN_CACHE: dict[str, tuple[object, dict[str, DataFrame]]] = {}


def _ctx_stopped(sc) -> bool:
    """True iff a cached SparkContext is no longer usable (stop() nulls
    _jsc; a dropped gateway raises — either way the app is dead)."""
    try:
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return True


def load(spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False) -> Frame:
    sc = spark.sparkContext
    app = sc.applicationId
    # spread=True: widen a narrow scan to cluster parallelism before
    # CPU-heavy per-row work (operators/layout.widen_narrow_scan — a
    # no-op whenever the file layout already provides >= core splits).
    # Cached under its own key so the plain scan plan stays shared.
    path = f"{sf_dir}/{name}.parquet" + ("#spread" if spread else "")
    plans = _SCAN_CACHE.setdefault(app, (sc, {}))[1]
    df = plans.get(path)
    if df is None:
        # evict DEAD sessions' plans on miss: a long-lived driver that
        # cycles SparkSessions would otherwise pin py4j handles forever;
        # live sibling sessions keep theirs (no cross-session thrash)
        for k in [k for k, (octx, _) in _SCAN_CACHE.items() if k != app and _ctx_stopped(octx)]:
            del _SCAN_CACHE[k]
        df = Frame.read_parquet(spark, f"{sf_dir}/{name}.parquet").df
        if spread:
            from tada_spark.operators.layout import widen_narrow_scan

            df = widen_narrow_scan(df)
        plans[path] = df
    return Frame(df)


# ---------------------------------------------------------------------------
# relational core (reference §2.2-2.7 surface)
# ---------------------------------------------------------------------------

#: Money columns are 2-dp; TPC-H specifies exact types and so do we
#: inside aggregates: double sums are summation-order-dependent and
#: true sums/means of 2-dp data land EXACTLY on round boundaries (the
#: 10x sweep caught this class). The scaled-integer pattern keeps the
#: hot aggregation on Tungsten's LONG fast path (a decimal intermediate
#: measured ~1.8x slower on q1): values become exact integer cents /
#: 1e-4 units, the SUM is exact, and rounding of the big sums is pure
#: integer arithmetic — bit-identical on every engine. Small-magnitude
#: quotients (means, ratios) round via the floor(x*s + 0.5)/s idiom:
#: identical IEEE ops on identical doubles, never each engine's own
#: ROUND implementation (Spark rounds the shortest decimal repr via
#: BigDecimal, DuckDB multiplies and std::rounds — they can disagree on
#: boundary quotients).
#: Scale bound: e4-unit long sums stay below int64 overflow to roughly
#: SF 2e4 per aggregation group (~9e18 / ~5e14-per-SF0.1-group); at the
#: 100 TB extreme switch the SUM to decimal(38,0) — Int128, still
#: exact, ~2x agg cost — without touching the rounding algebra.


def _cents(col: str):
    """Exact integer cents of a 2-dp double column (long)."""
    return F.round(F.col(col) * 100).cast("long")


def _rev_e4():
    """Exact revenue term in 1e-4 units: cents(price) * (100 - cents(discount))."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


def _round2_e4(sum_e4):
    """Half-up 2-dp rounding of an exact 1e-4-unit long sum, as double:
    integer (x+50) - pmod(x+50, 100) -> e4 multiple of 100, one exact
    double division. Integer-only until the final /1e4 — no float
    rounding. Sign-safe: pmod is always non-negative, and the SQL
    oracles mirror it with ((x % 100) + 100) % 100 (DuckDB's bare %
    takes the dividend's sign, which would diverge on negative sums)."""
    return (sum_e4 + F.lit(50) - F.pmod(sum_e4 + F.lit(50), 100)) / F.lit(10000.0)


#: det_ln (plans/semantics.py) as a DuckDB SQL fragment: the ln-of-{x}
#: chain every det_ln oracle splices (bit-identical IEEE tree — see the
#: three-engine lockstep test). Emits one column named ``{out}``.
def _det_ln_ctes(x: str, src: str, keys: str, out: str = "lnv", prefix: str = "__l") -> str:
    """CTE chain computing det_ln({x}) over table ``{src}`` carrying
    ``{keys}`` through: returns SQL text defining CTEs {prefix}r,
    {prefix}k, {prefix}z, {prefix}n (final: {keys}, {out}). Distinct
    ``prefix`` values let one oracle splice several det_ln chains."""
    return f"""{prefix}r AS (
  SELECT {keys},
         GREATEST(CAST(FLOOR(({x}) * 1000000.0 + 0.5) AS BIGINT), CAST(1 AS BIGINT)) AS r
  FROM {src}
), {prefix}k AS (
  SELECT {keys}, r, (LENGTH(BIN(r)) - 1) AS k FROM {prefix}r
), {prefix}z AS (
  SELECT {keys}, k,
         (((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)) - 1.0)
          / ((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)) + 1.0)) AS z
  FROM {prefix}k
), {prefix}n AS (
  SELECT {keys},
         ((CAST(k AS DOUBLE) * 0.6931471805599453)
          + ((2.0 * z) * (1.0 + (z*z) * ((1.0/3.0) + (z*z) * ((1.0/5.0) + (z*z) * ((1.0/7.0)
             + (z*z) * ((1.0/9.0) + (z*z) * ((1.0/11.0) + (z*z) * ((1.0/13.0) + (z*z) * (1.0/15.0)))))))))
         ) - 13.815510557964274 AS {out}
  FROM {prefix}z
)"""




from tada_spark.plans.semantics import round_det as _round_det  # noqa: E402 — shared floor-idiom rounding


def q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape: Filter → GroupBy → multi-agg (reference
    GroupBy+Sum/Mean/Count, groupers.go:137-175). Money aggregates in
    exact scaled integers (see _cents / _round2_e4 / _round_det)."""
    li = load(spark, sf, "lineitem")
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            # sums of 2-dp values have <= 2 dp: cents/100 IS the rounded sum
            sum_qty=F.sum(_cents("l_quantity")) / F.lit(100.0),
            sum_base_price=F.sum(_cents("l_extendedprice")) / F.lit(100.0),
            sum_disc_price=_round2_e4(F.sum(_rev_e4())),
            avg_qty=_round_det(F.sum(_cents("l_quantity")) / F.lit(100.0) / n, 2),
            avg_price=_round_det(F.sum(_cents("l_extendedprice")) / F.lit(100.0) / n, 2),
            avg_disc=_round_det(F.sum(_cents("l_discount")) / F.lit(100.0) / n, 4),
            count_order=n,
        )
        .to_df()
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       qty_c / 100.0                                     AS sum_qty,
       price_c / 100.0                                   AS sum_base_price,
       (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0     AS sum_disc_price,
       FLOOR(qty_c / 100.0 / n * 100 + 0.5) / 100        AS avg_qty,
       FLOOR(price_c / 100.0 / n * 100 + 0.5) / 100      AS avg_price,
       FLOOR(disc_c / 100.0 / n * 10000 + 0.5) / 10000   AS avg_disc,
       n                                                 AS count_order
FROM (
  SELECT l_returnflag, l_linestatus,
         SUM(ROUND(l_quantity * 100)::BIGINT)      AS qty_c,
         SUM(ROUND(l_extendedprice * 100)::BIGINT) AS price_c,
         SUM(ROUND(l_discount * 100)::BIGINT)      AS disc_c,
         SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)) AS rev_e4,
         COUNT(*) AS n
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
"""


def q3_top_revenue_orders(spark, sf):
    """Join chain + GroupBy + Sort + top-k (reference Lookup + Sort+Head).

    r12 optimization (guide §3.2 — reduce the big side before the
    heavy work): only ~1/5 of lineitem rows belong to BUILDING-segment
    customers, but the revenue aggregate used to run over ALL of
    lineitem. A semi-join against the (orders ⋈ BUILDING customers)
    key set drops non-qualifying rows BEFORE the rev_e4 evaluation and
    the per-order aggregate — result-identical (the same inner join
    happens downstream; measured 0.70 s → 0.52 s same-session, plan
    hash-matched vs the unchanged oracle). The key set is broadcast
    here (orderkeys of one mktsegment fit the 8 GB broadcast cap up to
    roughly SF 10k); at the 100 TB extreme swap the explicit broadcast
    for the engine's runtime Bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.*, which only arms itself
    above a 10 GiB application-side scan — exactly this shape) or
    operators/bloomjoin.bloom_prefilter: both keep the no-false-
    negative contract, so the aggregate-then-join algebra is unchanged."""
    cust = load(spark, sf, "customer").filter_by_value(c_mktsegment="BUILDING")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    ocust = orders.lookup(
        cust, left_on=["o_custkey"], right_on=["c_custkey"], how="inner", broadcast=True, unique_keys=True
    )
    li_df = li.to_df()
    keys = ocust.to_df().select("o_orderkey")
    li_building = Frame(
        li_df.join(F.broadcast(keys), li_df["l_orderkey"] == keys["o_orderkey"], "left_semi")
    )
    joined = ocust.lookup(
        li_building.group_by("l_orderkey").agg(rev_e4=F.sum(_rev_e4())),
        left_on=["o_orderkey"], right_on=["l_orderkey"], how="inner", unique_keys=True,
    )
    return (
        joined.with_col("revenue", _round2_e4(F.col("rev_e4")))
        .sort(("revenue", False), ("o_orderkey", True))
        .head(10)
        .cols("o_orderkey", "o_orderdate", "revenue")
        .to_df()
        .select("o_orderkey", "o_orderdate", "revenue")
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate,
       (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS revenue
FROM (
  SELECT o.o_orderkey, o.o_orderdate,
         SUM(ROUND(l.l_extendedprice * 100)::BIGINT * (100 - ROUND(l.l_discount * 100)::BIGINT)) AS rev_e4
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
)
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark, sf):
    """Multi-hop dimension join (region→nation→customer→orders→lineitem)
    with broadcast dims, groupBy region."""
    region = load(spark, sf, "region")
    nation = load(spark, sf, "nation")
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    dim = (
        cust.lookup(nation, left_on=["c_nationkey"], right_on=["n_nationkey"], broadcast=True, unique_keys=True)
        .lookup(region, left_on=["n_regionkey"], right_on=["r_regionkey"], broadcast=True, unique_keys=True)
    )
    # r12 optimization (guide §2.3 — aggregate before you shuffle, and
    # shuffle keys instead of payloads): aggregate lineitem per order
    # FIRST, then walk the joins with the ~4× smaller per-order stream.
    # The old shape joined the raw 600k-row lineitem stream through
    # orders+dims and shuffled (r_name, l_orderkey, partial_sum) into a
    # two-phase distinct; r_name is functionally dependent on
    # l_orderkey (order → customer → nation → region), so grouping by
    # l_orderkey alone first is result-identical (hash-matched vs the
    # unchanged oracle), makes the one wide exchange carry only
    # (l_orderkey, sum) longs, and probes both join relations with
    # per-order rows instead of per-lineitem rows. Same exchange count
    # (2), measured 1.19 s → 0.79 s same-session. The two-phase
    # distinct lesson (avoid count_distinct's Expand) still stands —
    # the second phase is now the tiny per-region merge.
    per_order = li.group_by("l_orderkey").agg(rev_e4=F.sum(_rev_e4()))
    fact = per_order.lookup(
        orders, left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True
    )
    joined = fact.lookup(
        dim, left_on=["o_custkey"], right_on=["c_custkey"], how="inner", broadcast=True, unique_keys=True
    )
    out = joined.group_by("r_name").agg(
        revenue=_round2_e4(F.sum("rev_e4")), n_orders=F.count("*")
    )
    return out.to_df().select("r_name", "revenue", "n_orders")


Q5_SQL = """
SELECT r_name,
       (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS revenue,
       n_orders
FROM (
  SELECT r.r_name,
         SUM(ROUND(l.l_extendedprice * 100)::BIGINT * (100 - ROUND(l.l_discount * 100)::BIGINT)) AS rev_e4,
         COUNT(DISTINCT l.l_orderkey) AS n_orders
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name
)
"""


def q6_revenue_delta(spark, sf):
    """Selective filter + scalar agg (reference whole-Series Sum)."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate") >= F.lit("1996-01-01"),
            F.col("l_shipdate") < F.lit("1997-01-01"),
            F.col("l_discount").between(0.05, 0.07),
            F.col("l_quantity") < 24,
        )
        .agg(revenue=_round2_e4(F.sum(_cents("l_extendedprice") * _cents("l_discount"))))
        .df
    )


Q6_SQL = """
SELECT (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS revenue
FROM (
SELECT SUM(ROUND(l_extendedprice * 100)::BIGINT * ROUND(l_discount * 100)::BIGINT) AS rev_e4
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
)
"""


def q4_order_priority(spark, sf):
    """TPC-H Q4 shape: EXISTS-style order-priority count — a SEMI join
    at fact scale (orders semi-joined to late lineitems), not a
    broadcast dim lookup: the build side is itself big, so this is the
    shuffled-semi-join path, then a small conditional aggregate."""
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01"),
        F.col("o_orderdate") < F.lit("1996-04-01"),
    )
    late = (
        load(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-02-01"))
        .cols("l_orderkey")
    )
    return (
        orders.semi_join(late, left_on=["o_orderkey"], right_on=["l_orderkey"])
        .group_by("o_orderpriority")
        .agg(order_count=F.count("*"))
        .to_df()
        .select("o_orderpriority", "order_count")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > TIMESTAMP '1996-02-01')
GROUP BY o_orderpriority
"""


def q7_nation_volume(spark, sf):
    """TPC-H Q7 shape: shipping volume between nation pairs — TWO
    independent broadcast paths into the same dimension (supplier→nation
    aliased vs customer→nation aliased) meeting at the lineitem fact,
    then (supp_nation, cust_nation, year) revenue. Exercises dimension
    aliasing, which a single lookup chain can't express."""
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier").cols("s_suppkey", "s_nationkey")
    cust = load(spark, sf, "customer").cols("c_custkey", "c_nationkey")
    orders = load(spark, sf, "orders").cols("o_orderkey", "o_custkey")
    nation = load(spark, sf, "nation").cols("n_nationkey", "n_name")
    s_nation = Frame(nation.to_df().select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ))
    c_nation = Frame(nation.to_df().select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ))
    j = (
        li.lookup(supp, left_on=["l_suppkey"], right_on=["s_suppkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(s_nation, left_on=["s_nationkey"], right_on=["sn_key"], how="inner", broadcast=True, unique_keys=True)
        .lookup(orders, left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True)
        .lookup(cust, left_on=["o_custkey"], right_on=["c_custkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(c_nation, left_on=["c_nationkey"], right_on=["cn_key"], how="inner", broadcast=True, unique_keys=True)
        .with_col("l_year", F.year("l_shipdate"))
    )
    return (
        j.group_by("supp_nation", "cust_nation", "l_year")
        .agg(rev_e4=F.sum(_rev_e4()))
        .to_df()
        .select(
            "supp_nation", "cust_nation", "l_year",
            ((F.col("rev_e4") + 50 - F.pmod(F.col("rev_e4") + 50, 100)) / 10000.0).alias("revenue"),
        )
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         YEAR(l.l_shipdate) AS l_year,
         SUM(ROUND(l.l_extendedprice * 100)::BIGINT * (100 - ROUND(l.l_discount * 100)::BIGINT)) AS rev_e4
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
  GROUP BY sn.n_name, cn.n_name, YEAR(l.l_shipdate)
)
"""


def q10_returned_customers(spark, sf):
    """TPC-H Q10 shape: revenue lost to returns per customer — 3-way
    join (lineitem ⋈ orders ⋈ customer ⋈ nation, dims broadcast),
    filtered agg, top-20. Exercises the lookup-join + group + top-k
    chain on the largest tables."""
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01"),
        F.col("o_orderdate") < F.lit("1996-07-01"),
    )
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    j = (
        li.lookup(orders.cols("o_orderkey", "o_custkey"), left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True)
        .lookup(cust.cols("c_custkey", "c_name", "c_nationkey", "c_acctbal"), left_on=["o_custkey"], right_on=["c_custkey"], how="inner", unique_keys=True)
        .lookup(nation.cols("n_nationkey", "n_name"), left_on=["c_nationkey"], right_on=["n_nationkey"], how="inner", unique_keys=True)
    )
    return (
        j.group_by("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue=_round2_e4(F.sum(_rev_e4())))
        .top_k(20, ("revenue", False), ("c_custkey", True))
        .to_df()
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS revenue
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)) AS rev_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q12_shipmode_priority(spark, sf):
    """TPC-H Q12 shape: conditional aggregation — line counts split by
    the joined order's priority class per return-flag/status group (the
    synthetic lineitem has no l_shipmode column; l_returnflag +
    l_linestatus stand in as the low-cardinality grouping). Map-side
    CASE folding into one aggregate; the join stays a broadcast
    lookup."""
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01"),
        F.col("l_shipdate") < F.lit("1997-01-01"),
    )
    orders = load(spark, sf, "orders")
    j = li.lookup(
        orders.cols("o_orderkey", "o_orderpriority"),
        left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True,
    )
    # mirror the oracle's CASE exactly: a NULL priority counts as low
    # (isin().cast() would yield NULL and silently drop the row from
    # BOTH sums if the driver ever regenerates data with NULLs)
    cond = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.group_by("l_returnflag", "l_linestatus")
        .agg(
            high_line_count=F.sum(F.when(cond, 1).otherwise(0)),
            low_line_count=F.sum(F.when(cond, 0).otherwise(1)),
        )
        .to_df()
        .select("l_returnflag", "l_linestatus", "high_line_count", "low_line_count")
    )


Q12_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag, l_linestatus
"""


def q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape: promo revenue share — conditional sum over a
    broadcast part join, one scalar output. The ratio folds both sums
    into a single aggregate pass."""
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-03-01"),
        F.col("l_shipdate") < F.lit("1996-04-01"),
    )
    part = load(spark, sf, "part")
    j = li.lookup(
        part.cols("p_partkey", "p_type"),
        left_on=["l_partkey"], right_on=["p_partkey"], how="inner", unique_keys=True,
    )
    rev = _rev_e4()
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))
    # exact long sums, then ONE double division + deterministic floor
    # rounding: the quotient doubles are bit-identical across engines
    # and _round_det never invokes an engine's own ROUND
    return j.agg(
        promo_revenue=_round_det(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 4
        )
    ).df


Q14_SQL = """
SELECT FLOOR(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)
                              ELSE 0 END)::DOUBLE
             / SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT))::DOUBLE
             * 10000 + 0.5) / 10000 AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q18_large_orders(spark, sf):
    """TPC-H Q18 shape: HAVING over a grouped sum (orders whose total
    quantity exceeds a threshold) joined back to customers — the
    group-filter-join composition (GroupedFrame + HavingCount family)."""
    li = load(spark, sf, "lineitem")
    big = (
        li.group_by("l_orderkey")
        .agg(qty_c=F.sum(_cents("l_quantity")))
        .filter(F.col("qty_c") > 250 * 100)  # exact integer threshold
        .with_col("sum_qty", F.col("qty_c") / F.lit(100.0))
        .drop_cols("qty_c")
    )
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    j = (
        big
        .lookup(orders.cols("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"), left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True)
        .lookup(cust.cols("c_custkey", "c_name"), left_on=["o_custkey"], right_on=["c_custkey"], how="inner", unique_keys=True)
    )
    return j.to_df().select(
        "c_name", "c_custkey", F.col("l_orderkey").alias("o_orderkey"), "o_orderdate", "o_totalprice", "sum_qty"
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (
  SELECT l_orderkey, SUM(ROUND(l_quantity * 100)::BIGINT) / 100.0 AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(ROUND(l_quantity * 100)::BIGINT) > 250 * 100
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q13_customer_distribution(spark, sf):
    """TPC-H Q13 shape: customer order-count distribution — LEFT outer
    fact join + two-level aggregation (synthetic orders has no o_comment;
    the NOT-LIKE exclusion is stood in by dropping 1-URGENT orders).
    Plan: orders aggregate once by custkey (one shuffle), customers LEFT
    lookup the unique-keyed counts, then a tiny histogram aggregate —
    the fact table is never joined row-to-row against customers."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = orders.group_by("o_custkey").agg(c_count=F.count("*"))
    withc = cust.lookup(
        per_cust, left_on=["c_custkey"], right_on=["o_custkey"], how="left", unique_keys=True
    ).fill_null("zero", subset=["c_count"])
    return (
        withc.group_by("c_count")
        .agg(custdist=F.count("*"))
        .sort(("custdist", False), ("c_count", False))
        .to_df()
        .select("c_count", "custdist")
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
    ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark, sf):
    """TPC-H Q15 shape: revenue view + global-argmax join-back. The max
    is taken with an unpartitioned window OVER THE PER-SUPPLIER AGGREGATE
    (|suppliers| rows post-shuffle, never the fact table), then supplier
    names broadcast in — the classic two-phase argmax that avoids both a
    driver collect and a fact-scale global sort."""
    from pyspark.sql.window import Window

    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01"),
        F.col("l_shipdate") < F.lit("1996-04-01"),
    )
    rev = li.group_by("l_suppkey").agg(rev_e4=F.sum(_rev_e4()))
    top = (
        rev.with_col("max_e4", F.max("rev_e4").over(Window.partitionBy()))
        .filter(F.col("rev_e4") == F.col("max_e4"))
        .with_col("total_revenue", _round2_e4(F.col("rev_e4")))
    )
    supp = load(spark, sf, "supplier")
    return (
        top.lookup(
            supp.cols("s_suppkey", "s_name"),
            left_on=["l_suppkey"], right_on=["s_suppkey"], how="inner",
            broadcast=True, unique_keys=True,
        )
        .to_df()
        .select(F.col("l_suppkey").alias("s_suppkey"), "s_name", "total_revenue")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)) AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_e4 = (SELECT MAX(rev_e4) FROM rev)
"""


def q17_small_quantity_revenue(spark, sf):
    """TPC-H Q17 shape: correlated per-part avg, decorrelated — one
    aggregate computes each part's (sum_qty, n) pair, joined back to the
    branded lines; the 'qty < 0.2 * avg' threshold becomes the
    integer-exact 5*qty_c*n < sum_qc so no float boundary can flip a row
    between engines. One scalar output (avg weekly-ish revenue /7)."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter_by_value(p_brand="Brand#23")
    branded = li.lookup(
        part.cols("p_partkey"),
        left_on=["l_partkey"], right_on=["p_partkey"], how="inner",
        broadcast=True, unique_keys=True,
    )
    per_part = branded.group_by("l_partkey").agg(
        sum_qc=F.sum(_cents("l_quantity")), n_lines=F.count("*")
    )
    j = branded.lookup(
        per_part.rename({"l_partkey": "pk"}),
        left_on=["l_partkey"], right_on=["pk"], how="inner", unique_keys=True,
    )
    small = j.filter(F.lit(5) * _cents("l_quantity") * F.col("n_lines") < F.col("sum_qc"))
    return small.agg(
        avg_yearly=_round_det(F.sum(_cents("l_extendedprice")) / F.lit(100.0) / F.lit(7.0), 2)
    ).to_df()


Q17_SQL = """
SELECT FLOOR(SUM(ROUND(l_extendedprice * 100)::BIGINT) / 100.0 / 7.0 * 100 + 0.5) / 100 AS avg_yearly
FROM lineitem l
JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#23'
JOIN (
  SELECT l_partkey AS pk, SUM(ROUND(l_quantity * 100)::BIGINT) AS sum_qc, COUNT(*) AS n_lines
  FROM lineitem JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#23'
  GROUP BY l_partkey
) a ON a.pk = l.l_partkey
WHERE 5 * ROUND(l_quantity * 100)::BIGINT * n_lines < sum_qc
"""


def q19_disjunctive_revenue(spark, sf):
    """TPC-H Q19 shape: ONE equi-join on partkey with an OR-of-ANDs
    residual (brand × size-band × quantity-band). Catalyst keeps the
    single broadcast hash join and evaluates the disjunction as a
    post-join filter — not a union of three separate joins."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    j = li.lookup(
        part.cols("p_partkey", "p_brand", "p_size"),
        left_on=["l_partkey"], right_on=["p_partkey"], how="inner",
        broadcast=True, unique_keys=True,
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        revenue=_round2_e4(F.sum(_rev_e4())), n_lines=F.count("*")
    ).to_df()


Q19_SQL = """
SELECT (rev_e4 + 50 - (((rev_e4 + 50) % 100) + 100) % 100) / 10000.0 AS revenue,
       n_lines
FROM (
  SELECT SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)) AS rev_e4,
         COUNT(*) AS n_lines
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
     OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
     OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
)
"""


def q22_inactive_customers(spark, sf):
    """TPC-H Q22 shape: global-scalar threshold + anti join. The scalar
    avg of positive balances is a 1-row aggregate cross-broadcast onto
    customers (no driver collect, no second scan); 'no orders' is a
    fact-side LEFT ANTI join; the threshold comparison is integer-exact
    (bal_c * n > sum_c). Final aggregate is segment-tiny. (Synthetic
    data quirk: every customer has at least one order, so 'inactive'
    means no URGENT order — same plan shape, non-empty result.)"""
    cust = load(spark, sf, "customer")
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        sum_c=F.sum(_cents("c_acctbal")), n=F.count("*")
    )
    # 1-row scalar broadcast: physically a BroadcastNestedLoopJoin, but
    # with exactly one broadcast row it is O(|customer|) — allowlisted in
    # plan_audit (a constant-key equi-join folds back to this anyway)
    rich = Frame(
        cust.to_df().crossJoin(F.broadcast(thr.to_df()))
    ).filter(_cents("c_acctbal") * F.col("n") > F.col("sum_c"))
    urgent = load(spark, sf, "orders").filter_by_value(o_orderpriority="1-URGENT")
    inactive = rich.anti_join(urgent.cols("o_custkey"), left_on=["c_custkey"], right_on=["o_custkey"])
    return (
        inactive.group_by("c_mktsegment")
        .agg(
            numcust=F.count("*"),
            totacctbal=F.sum(_cents("c_acctbal")) / F.lit(100.0),
        )
        .to_df()
        .select("c_mktsegment", "numcust", "totacctbal")
    )


Q22_SQL = """
WITH t AS (
  SELECT SUM(ROUND(c_acctbal * 100)::BIGINT) AS sum_c, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, COUNT(*) AS numcust,
       SUM(ROUND(c_acctbal * 100)::BIGINT) / 100.0 AS totacctbal
FROM customer, t
WHERE ROUND(c_acctbal * 100)::BIGINT * n > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


def q20_dominant_suppliers(spark, sf):
    """TPC-H Q20 shape: nested semi-joins off an aggregate threshold (no
    partsupp — 'excess stock' becomes 'dominant supplier': shipped more
    than 30% of a red part's 1996 volume). Plan: one (supplier, part)
    aggregate, one per-part total joined back (integer-exact 10·sq >
    3·pq), then suppliers SEMI-joined to the qualifying pair set —
    supplier rows are never multiplied."""
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01"),
        F.col("l_shipdate") < F.lit("1997-01-01"),
    )
    red = load(spark, sf, "part").filter(F.col("p_name").contains("red"))
    rli = li.lookup(
        red.cols("p_partkey"), left_on=["l_partkey"], right_on=["p_partkey"],
        how="inner", broadcast=True, unique_keys=True,
    )
    per_sp = rli.group_by("l_suppkey", "l_partkey").agg(sq=F.sum(_cents("l_quantity")))
    per_p = rli.group_by("l_partkey").agg(pq=F.sum(_cents("l_quantity"))).rename(
        {"l_partkey": "pk"}
    )
    dominant = per_sp.lookup(
        per_p, left_on=["l_partkey"], right_on=["pk"], how="inner", unique_keys=True
    ).filter(F.lit(10) * F.col("sq") > F.lit(3) * F.col("pq"))
    supp = load(spark, sf, "supplier")
    return (
        supp.semi_join(dominant.cols("l_suppkey"), left_on=["s_suppkey"], right_on=["l_suppkey"])
        .sort(("s_suppkey", True))
        .to_df()
        .select("s_suppkey", "s_name")
    )


Q20_SQL = """
WITH rli AS (
  SELECT l_suppkey, l_partkey, ROUND(l_quantity * 100)::BIGINT AS qc
  FROM lineitem JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
), per_sp AS (
  SELECT l_suppkey, l_partkey, SUM(qc) AS sq FROM rli GROUP BY 1, 2
), per_p AS (
  SELECT l_partkey AS pk, SUM(qc) AS pq FROM rli GROUP BY 1
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_sp JOIN per_p ON pk = l_partkey WHERE 10 * sq > 3 * pq
)
"""


def q21_waiting_suppliers(spark, sf):
    """TPC-H Q21 shape: the EXISTS + NOT-EXISTS self-join, decorrelated
    (no receipt/commit dates — 'late' is shipped >60 days after the
    order date). A supplier 'kept an order waiting' when it had a late
    line on a multi-supplier order where NO other supplier was late.
    Fact-scale: one (order, supplier, any_late) aggregate, one per-order
    aggregate (distinct suppliers, distinct late suppliers), join back —
    the correlated EXISTS pair never runs per row."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    j = li.lookup(
        orders.cols("o_orderkey", "o_orderdate"),
        left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True,
    ).with_col(
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast("int"),
    )
    per_os = j.group_by("l_orderkey", "l_suppkey").agg(any_late=F.max("late"))
    per_o = per_os.group_by("l_orderkey").agg(
        n_supp=F.count("*"), n_late=F.sum("any_late")
    ).rename({"l_orderkey": "ok"})
    waiting = (
        per_os.filter(F.col("any_late") == 1)
        .lookup(per_o, left_on=["l_orderkey"], right_on=["ok"], how="inner", unique_keys=True)
        .filter(F.col("n_supp") >= 2, F.col("n_late") == 1)
    )
    supp = load(spark, sf, "supplier")
    return (
        waiting.group_by("l_suppkey")
        .agg(numwait=F.count("*"))
        .lookup(supp.cols("s_suppkey", "s_name"), left_on=["l_suppkey"],
                right_on=["s_suppkey"], how="inner", broadcast=True, unique_keys=True)
        .top_k(20, ("numwait", False), ("s_name", True))
        .to_df()
        .select("s_name", "numwait")
    )


Q21_SQL = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
), per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS any_late FROM j GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey AS ok, COUNT(*) AS n_supp, SUM(any_late)::BIGINT AS n_late
  FROM per_os GROUP BY 1
)
SELECT s_name, COUNT(*) AS numwait
FROM per_os
JOIN per_o    ON ok = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE any_late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: per-group min + equality join-back, region-
    constrained (no partsupp table in the synthetic schema — lineitem is
    the part↔supplier relation and line price the 'cost'). All dims
    broadcast; the min table is part-keyed and joined back on the exact
    integer cents pair (l_partkey, price_c) so no float boundary decides
    membership; deterministic top-100 via total-order tiebreak."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter_by_value(p_size="15")
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation")
    reg = load(spark, sf, "region").filter_by_value(r_name="EUROPE")
    eur = (
        li.lookup(part.cols("p_partkey"), left_on=["l_partkey"], right_on=["p_partkey"],
                  how="inner", broadcast=True, unique_keys=True)
        .lookup(supp.cols("s_suppkey", "s_name", "s_acctbal", "s_nationkey"),
                left_on=["l_suppkey"], right_on=["s_suppkey"], how="inner",
                broadcast=True, unique_keys=True)
        .lookup(nat.cols("n_nationkey", "n_name", "n_regionkey"),
                left_on=["s_nationkey"], right_on=["n_nationkey"], how="inner",
                broadcast=True, unique_keys=True)
        .lookup(reg.cols("r_regionkey"), left_on=["n_regionkey"], right_on=["r_regionkey"],
                how="inner", broadcast=True, unique_keys=True)
        .with_col("price_c", _cents("l_extendedprice"))
    )
    mins = eur.group_by("l_partkey").agg(min_c=F.min("price_c")).rename({"l_partkey": "pk"})
    best = eur.lookup(
        mins, left_on=["l_partkey", "price_c"], right_on=["pk", "min_c"],
        how="inner", unique_keys=True,
    )
    return (
        best.cols("s_acctbal", "s_name", "n_name", "l_partkey", "price_c")
        .to_df()
        .distinct()
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("l_partkey").alias("p_partkey"),
            (F.col("price_c") / F.lit(100.0)).alias("price"),
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey").asc(), F.col("s_name").asc())
        .limit(100)
    )


Q2_SQL = """
WITH eur AS (
  SELECT s_acctbal, s_name, n_name, l_partkey, l_suppkey,
         ROUND(l_extendedprice * 100)::BIGINT AS price_c
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey AND p_size = 15
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
), m AS (
  SELECT l_partkey AS pk, MIN(price_c) AS min_c FROM eur GROUP BY l_partkey
)
SELECT DISTINCT s_acctbal, s_name, n_name, l_partkey AS p_partkey, price_c / 100.0 AS price
FROM eur JOIN m ON pk = l_partkey AND min_c = price_c
ORDER BY s_acctbal DESC, p_partkey ASC, s_name ASC
LIMIT 100
"""


def q8_market_share(spark, sf):
    """TPC-H Q8 shape: market share — a conditional-sum ratio per year,
    with nation reached via TWO dimension paths (customer→nation→region
    gates the market; supplier→nation flags the share numerator). The
    ratio divides two exact e4-unit long sums as doubles (both < 2^53),
    then deterministic 6-dp rounding."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation")
    reg = load(spark, sf, "region").filter_by_value(r_name="AMERICA")
    market = (
        li.lookup(orders.cols("o_orderkey", "o_custkey", "o_orderdate"),
                  left_on=["l_orderkey"], right_on=["o_orderkey"], how="inner", unique_keys=True)
        .lookup(cust.cols("c_custkey", "c_nationkey"), left_on=["o_custkey"],
                right_on=["c_custkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(nat.cols("n_nationkey", "n_regionkey").rename({"n_nationkey": "cn_key", "n_regionkey": "cn_region"}),
                left_on=["c_nationkey"], right_on=["cn_key"], how="inner",
                broadcast=True, unique_keys=True)
        .lookup(reg.cols("r_regionkey"), left_on=["cn_region"], right_on=["r_regionkey"],
                how="inner", broadcast=True, unique_keys=True)
        .lookup(supp.cols("s_suppkey", "s_nationkey"), left_on=["l_suppkey"],
                right_on=["s_suppkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(nat.cols("n_nationkey", "n_name").rename({"n_nationkey": "sn_key", "n_name": "supp_nation"}),
                left_on=["s_nationkey"], right_on=["sn_key"], how="inner",
                broadcast=True, unique_keys=True)
    )
    flagged = market.with_col("o_year", F.year("o_orderdate")).with_col(
        "brazil_e4", F.when(F.col("supp_nation") == "NATION_7", _rev_e4()).otherwise(F.lit(0))
    )
    return (
        flagged.group_by("o_year")
        .agg(num_e4=F.sum("brazil_e4"), den_e4=F.sum(_rev_e4()))
        .with_col("mkt_share", _round_det(F.col("num_e4").cast("double") / F.col("den_e4").cast("double"), 6))
        .sort(("o_year", True))
        .to_df()
        .select("o_year", "mkt_share")
    )


Q8_SQL = """
SELECT o_year,
       FLOOR(num_e4::DOUBLE / den_e4::DOUBLE * 1000000 + 0.5) / 1000000 AS mkt_share
FROM (
  SELECT EXTRACT(year FROM o_orderdate)::INT AS o_year,
         SUM(CASE WHEN sn.n_name = 'NATION_7'
                  THEN ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)
                  ELSE 0 END) AS num_e4,
         SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)) AS den_e4
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = cn.n_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  GROUP BY 1
)
"""


def q9_product_profit(spark, sf):
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    part-name substring filter (no ps_supplycost in the synthetic
    schema — cost analog is the part's full retail price × quantity).
    Profit stays in exact 1e-4-unit longs end to end: rev_e4 −
    retail_c·qty_c, both products of cents."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    part = load(spark, sf, "part").filter(F.col("p_name").contains("red"))
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation")
    j = (
        li.lookup(part.cols("p_partkey", "p_retailprice"), left_on=["l_partkey"],
                  right_on=["p_partkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(supp.cols("s_suppkey", "s_nationkey"), left_on=["l_suppkey"],
                right_on=["s_suppkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(nat.cols("n_nationkey", "n_name"), left_on=["s_nationkey"],
                right_on=["n_nationkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(orders.cols("o_orderkey", "o_orderdate"), left_on=["l_orderkey"],
                right_on=["o_orderkey"], how="inner", unique_keys=True)
    )
    profit_e4 = _rev_e4() - _cents("p_retailprice") * _cents("l_quantity")
    return (
        j.with_col("o_year", F.year("o_orderdate"))
        .group_by("n_name", "o_year")
        .agg(sum_profit=_round2_e4(F.sum(profit_e4)))
        .sort(("n_name", True), ("o_year", False))
        .to_df()
        .select("n_name", "o_year", "sum_profit")
    )


Q9_SQL = """
SELECT n_name, o_year,
       (p_e4 + 50 - (((p_e4 + 50) % 100) + 100) % 100) / 10000.0 AS sum_profit
FROM (
  SELECT n_name, EXTRACT(year FROM o_orderdate)::INT AS o_year,
         SUM(ROUND(l_extendedprice * 100)::BIGINT * (100 - ROUND(l_discount * 100)::BIGINT)
             - ROUND(p_retailprice * 100)::BIGINT * ROUND(l_quantity * 100)::BIGINT) AS p_e4
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  GROUP BY n_name, 2
)
"""


def q11_important_parts(spark, sf):
    """TPC-H Q11 shape: per-part value vs a global-share threshold. The
    global total is a 1-row aggregate cross-broadcast onto the per-part
    values (no collect, no second fact scan). TPC-H's fixed share
    fraction shrinks with SF and empties the result at sf0.1, so the
    threshold here is scale-invariant — value above 2× the mean part
    value — still integer-exact: val·n_parts > 2·total."""
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier")
    nat = load(spark, sf, "nation").filter_by_value(n_name="NATION_7")
    n7 = (
        li.lookup(supp.cols("s_suppkey", "s_nationkey"), left_on=["l_suppkey"],
                  right_on=["s_suppkey"], how="inner", broadcast=True, unique_keys=True)
        .lookup(nat.cols("n_nationkey"), left_on=["s_nationkey"], right_on=["n_nationkey"],
                how="inner", broadcast=True, unique_keys=True)
    )
    vals = n7.group_by("l_partkey").agg(
        val_e4=F.sum(_cents("l_extendedprice") * _cents("l_quantity"))
    )
    total = vals.agg(total_e4=F.sum("val_e4"), n_parts=F.count("*"))
    # 1-row scalar broadcast (see q22): linear by construction,
    # allowlisted in plan_audit
    keep = Frame(
        vals.to_df().crossJoin(F.broadcast(total.to_df()))
    ).filter(F.col("val_e4") * F.col("n_parts") > F.lit(2) * F.col("total_e4"))
    return (
        keep.with_col("value", _round2_e4(F.col("val_e4")))
        .sort(("value", False), ("l_partkey", True))
        .to_df()
        .select(F.col("l_partkey").alias("p_partkey"), "value")
    )


Q11_SQL = """
WITH v AS (
  SELECT l_partkey,
         SUM(ROUND(l_extendedprice * 100)::BIGINT * ROUND(l_quantity * 100)::BIGINT) AS val_e4
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey AND n_name = 'NATION_7'
  GROUP BY l_partkey
), g AS (SELECT SUM(val_e4) AS total_e4, COUNT(*) AS n_parts FROM v)
SELECT l_partkey AS p_partkey,
       (val_e4 + 50 - (((val_e4 + 50) % 100) + 100) % 100) / 10000.0 AS value
FROM v, g
WHERE val_e4 * n_parts > 2 * total_e4
"""


def q16_supplier_counts(spark, sf):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, with an excluded-supplier ANTI join (no partsupp — lineitem
    is the part↔supplier relation; the 'complaints' exclusion is stood
    in by a supplier-name substring). Distinct count shuffles once on
    the attribute triple after the anti-joined fact projection."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").filter(
        F.col("p_brand") != "Brand#45", ~F.col("p_type").startswith("MEDIUM"),
        F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22),
    )
    bad = load(spark, sf, "supplier").filter(F.col("s_name").contains("77"))
    j = (
        li.anti_join(bad.cols("s_suppkey"), left_on=["l_suppkey"], right_on=["s_suppkey"])
        .lookup(part.cols("p_partkey", "p_brand", "p_type", "p_size"),
                left_on=["l_partkey"], right_on=["p_partkey"], how="inner",
                broadcast=True, unique_keys=True)
    )
    return (
        j.group_by("p_brand", "p_type", "p_size")
        .agg(supplier_cnt=F.count_distinct("l_suppkey"))
        .sort(("supplier_cnt", False), ("p_brand", True), ("p_type", True), ("p_size", True))
        .to_df()
        .select("p_brand", "p_type", "p_size", "supplier_cnt")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%77%')
GROUP BY p_brand, p_type, p_size
"""


def filter_compound(spark, sf):
    """Compound AND filter + projection (reference Filter, §2.3)."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.02) & (F.col("l_returnflag") == "R"))
        .cols("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .to_df()
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


FILTER_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE l_quantity > 45 AND l_discount < 0.02 AND l_returnflag = 'R'
"""


def filter_by_value_canon(spark, sf):
    """Stringified-equality filter (reference FilterByValue §1.6): the
    int-typed size column is matched with a string literal."""
    part = load(spark, sf, "part")
    return (
        part.filter_by_value(p_size="25")
        .cols("p_partkey", "p_name", "p_size")
        .to_df()
        .select("p_partkey", "p_name", "p_size")
    )


FILTER_BY_VALUE_SQL = "SELECT p_partkey, p_name, p_size FROM part WHERE p_size = 25"


def where_price_tier(spark, sf):
    """Where/case ternary (reference Where §2.3) + groupBy on derived col."""
    orders = load(spark, sf, "orders")
    return (
        orders.where(F.col("o_totalprice") > 200000, F.lit("high"), F.lit("low"), as_col="tier")
        .group_by("tier")
        .agg(n=F.count("*"), total=_round_det(F.sum("o_totalprice"), 2))
        .to_df()
    )


WHERE_SQL = """
SELECT CASE WHEN o_totalprice > 200000 THEN 'high' ELSE 'low' END AS tier,
       COUNT(*) AS n, FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS total
FROM orders GROUP BY 1
"""


def sort_topk_customers(spark, sf):
    """Multi-key sort nulls-last + limit (reference Sort+Head §2.5)."""
    cust = load(spark, sf, "customer")
    return (
        cust.top_k(20, ("c_acctbal", False), ("c_custkey", True))
        .cols("c_custkey", "c_name", "c_acctbal")
        .to_df()
        .select("c_custkey", "c_name", "c_acctbal")
    )


SORT_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC LIMIT 20
"""


def value_counts_priority(spark, sf):
    """ValueCounts (reference internal.go:2481-2496)."""
    return load(spark, sf, "orders").value_counts("o_orderpriority").to_df()


VALUE_COUNTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS count FROM orders
WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority
"""


def distinct_flag_status(spark, sf):
    """Unique rows by value (reference Unique §2.7)."""
    li = load(spark, sf, "lineitem")
    return li.unique("l_returnflag", "l_linestatus").cols("l_returnflag", "l_linestatus").to_df().select(
        "l_returnflag", "l_linestatus"
    )


DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def lookup_orders_customer(spark, sf):
    """Lookup join: first-match dictionary semantics (reference §2.6)."""
    orders = load(spark, sf, "orders").filter(F.col("o_orderkey") < 200)
    cust = load(spark, sf, "customer")
    return (
        orders.lookup(cust, left_on=["o_custkey"], right_on=["c_custkey"], broadcast=True, unique_keys=True)
        .cols("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .to_df()
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


LOOKUP_SQL = """
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey < 200
"""


def append_union(spark, sf):
    """Vertical concat (reference Append §2.2) then stable agg."""
    orders = load(spark, sf, "orders")
    hi = orders.filter(F.col("o_totalprice") > 300000)
    lo = orders.filter(F.col("o_totalprice") < 20000)
    return hi.append(lo).group_by("o_orderstatus").agg(n=F.count("*"), total=_round_det(F.sum("o_totalprice"), 2)).to_df()


APPEND_SQL = """
SELECT o_orderstatus, COUNT(*) AS n, FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS total
FROM (
  SELECT * FROM orders WHERE o_totalprice > 300000
  UNION ALL
  SELECT * FROM orders WHERE o_totalprice < 20000
) GROUP BY o_orderstatus
"""


def group_reducers_full(spark, sf):
    """The full grouped-reducer kernel set in one query (reference
    groupers.go:137-199): mean/median/std-pop/nunique/earliest/latest."""
    li = load(spark, sf, "lineitem")
    return (
        li.group_by("l_returnflag")
        .agg(
            mean_q=_round_det(F.avg("l_quantity"), 4),
            med_q=_round_det(F.median("l_quantity"), 2),
            std_q=_round_det(F.stddev_pop("l_quantity"), 4),
            nuniq_part=F.count_distinct("l_partkey"),
            earliest_ship=F.min("l_shipdate"),
            latest_ship=F.max("l_shipdate"),
        )
        .to_df()
    )


GROUP_REDUCERS_SQL = """
SELECT l_returnflag,
       FLOOR((AVG(l_quantity)) * 10000 + 0.5) / 10000 AS mean_q, FLOOR((MEDIAN(l_quantity)) * 100 + 0.5) / 100 AS med_q,
       FLOOR((STDDEV_POP(l_quantity)) * 10000 + 0.5) / 10000 AS std_q,
       COUNT(DISTINCT l_partkey) AS nuniq_part,
       MIN(l_shipdate) AS earliest_ship, MAX(l_shipdate) AS latest_ship
FROM lineitem GROUP BY l_returnflag
"""


def pivot_returnflag(spark, sf):
    """PivotTable (reference dataframe.go:1791-1829): nation × returnflag
    revenue matrix via Spark pivot."""
    li = load(spark, sf, "lineitem")
    sup = load(spark, sf, "supplier")
    j = li.lookup(sup, left_on=["l_suppkey"], right_on=["s_suppkey"], how="inner", broadcast=True, unique_keys=True)
    out = j.with_col("rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))).pivot_table(
        ["s_nationkey"], "l_returnflag", "rev", "sum"
    )
    df = out.to_df()
    return df.select("s_nationkey", *[_round_det(F.col(c), 2).alias(c) for c in df.columns if c != "s_nationkey"])


PIVOT_SQL = """
SELECT s.s_nationkey,
       FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)) FILTER (WHERE l_returnflag = 'A')) * 100 + 0.5) / 100 AS A,
       FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)) FILTER (WHERE l_returnflag = 'N')) * 100 + 0.5) / 100 AS N,
       FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount)) FILTER (WHERE l_returnflag = 'R')) * 100 + 0.5) / 100 AS R
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
"""


def rolling_1h_sum(spark, sf):
    """RollingDuration [t, t+1h) forward range window (reference
    groupers.go:317-345). Bench headline; the catalog's oracle-checked
    twin is rolling_n_duration_events."""
    ev = load(spark, sf, "events").filter(F.col("user_id") < 30)
    out = ev.group_by("user_id").rolling_duration(3600, "ts", "value", "sum", out="roll1h")
    return out.with_col("roll1h", _round_det("roll1h", 2)).to_df().select("event_id", "user_id", "roll1h")


def ffill_user_value(spark, sf):
    """Forward fill over explicit order (reference FillNull forward,
    internal.go:936-983). Nulls constructed identically on both sides."""
    ev = load(spark, sf, "events").filter(F.col("user_id") < 30)
    ev = ev.with_col("v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")))
    out = ev.fill_null("forward", subset=["v"], order_by=["ts", "event_id"], partition_by=["user_id"])
    return out.with_col("v", _round_det("v", 2)).to_df().select("event_id", "user_id", "v")


FFILL_SQL = """
SELECT event_id, user_id,
       FLOOR((LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS v
FROM events WHERE user_id < 30
"""


def divide_nullsafe(spark, sf):
    """÷0 → null arithmetic (reference series.go:930-938)."""
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 300)
    out = li.with_col("den", F.col("l_quantity") - 20).divide("ratio", "l_extendedprice", "den")
    # floor-scaling instead of round: floor is IEEE-exact given identical
    # double inputs, so no half-way disagreements between engines
    return (
        out.with_col("ratio", F.floor(F.col("ratio") * 10000).cast("long"))
        .to_df()
        .select("l_orderkey", "l_linenumber", "ratio")
    )


DIVIDE_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(FLOOR(CASE WHEN (l_quantity - 20) = 0 THEN NULL
                  ELSE l_extendedprice / (l_quantity - 20) END * 10000) AS BIGINT) AS ratio
FROM lineitem WHERE l_orderkey < 300
"""


def json_extract_props(spark, sf):
    """JSON field extraction + cast-with-null-on-failure (reference Cast
    parse-failure semantics, valueContainers.go:65-71)."""
    ev = load(spark, sf, "events").filter(F.col("event_id") < 2000)
    return (
        ev.with_col("k", F.get_json_object(F.col("props"), "$.k").cast("long"))
        .cols("event_id", "k")
        .to_df()
        .select("event_id", "k")
    )


JSON_SQL = """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
FROM events WHERE event_id < 2000
"""


def ordered_range_rows(spark, sf):
    """Positional Range over explicit ordering (reference Range
    internal.go:1112-1139 + __rowid__ discipline §4.3)."""
    li = load(spark, sf, "lineitem")
    return (
        # (l_orderkey, l_linenumber) is not unique — add the output
        # column as final tiebreaker so the slice is deterministic
        li.ordered("l_orderkey", "l_linenumber", "l_quantity")
        .range(100, 200)
        .cols("l_orderkey", "l_linenumber", "l_quantity")
        .to_df()
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


RANGE_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
ORDER BY l_orderkey, l_linenumber, l_quantity OFFSET 100 LIMIT 100
"""


def rollup_status_priority(spark, sf):
    """ROLLUP grouping sets (free extension beyond reference §2.7)."""
    orders = load(spark, sf, "orders")
    return (
        orders.rollup(["o_orderstatus", "o_orderpriority"], n=F.count("*"), total=_round_det(F.sum("o_totalprice"), 2))
        .to_df()
    )


ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def cube_flag_status(spark, sf):
    """CUBE grouping sets (free extension)."""
    li = load(spark, sf, "lineitem")
    return li.cube(["l_returnflag", "l_linestatus"], sum_qty=_round_det(F.sum("l_quantity"), 2)).to_df()


CUBE_SQL = """
SELECT l_returnflag, l_linestatus, FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def unique_first_appearance(spark, sf):
    """First-appearance Unique via min-rowid over explicit order
    (reference internal.go:2512-2537 + §4.3 __rowid__ discipline)."""
    ev = load(spark, sf, "events")
    out = ev.ordered("ts", "event_id").unique("user_id", "event_type", first_appearance=True)
    return out.to_df().select("event_id", "user_id", "event_type")


UNIQUE_FIRST_SQL = """
SELECT event_id, user_id, event_type
FROM (SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


def promote_region_level(spark, sf):
    """PromoteToColLevel (reference dataframe.go:1269-1373): nation rows,
    region promoted into 'acctbal|<region>' column level."""
    from tada_spark.operators.reshape import promote_to_col_level

    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    j = (
        cust.lookup(nation, left_on=["c_nationkey"], right_on=["n_nationkey"], broadcast=True, unique_keys=True)
        .lookup(region, left_on=["n_regionkey"], right_on=["r_regionkey"], broadcast=True, unique_keys=True)
        .group_by("n_name", "r_name")
        .agg(acctbal=_round_det(F.sum("c_acctbal"), 2))
    )
    promoted = promote_to_col_level(Frame(j.df, labels=["n_name", "r_name"]), "r_name", "acctbal")
    return promoted.to_df()


# promoted column set depends on region names — known: AFRICA AMERICA ASIA EUROPE MIDDLE EAST
PROMOTE_SQL = """
SELECT n.n_name,
       FLOOR((SUM(c.c_acctbal) FILTER (WHERE r.r_name = 'AFRICA')) * 100 + 0.5) / 100      AS "acctbal|AFRICA",
       FLOOR((SUM(c.c_acctbal) FILTER (WHERE r.r_name = 'AMERICA')) * 100 + 0.5) / 100     AS "acctbal|AMERICA",
       FLOOR((SUM(c.c_acctbal) FILTER (WHERE r.r_name = 'ASIA')) * 100 + 0.5) / 100        AS "acctbal|ASIA",
       FLOOR((SUM(c.c_acctbal) FILTER (WHERE r.r_name = 'EUROPE')) * 100 + 0.5) / 100      AS "acctbal|EUROPE",
       FLOOR((SUM(c.c_acctbal) FILTER (WHERE r.r_name = 'MIDDLE EAST')) * 100 + 0.5) / 100 AS "acctbal|MIDDLE EAST"
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name
"""


def sessionize_events(spark, sf):
    """Batch sessionization: session = run of same-user events with
    gaps < 30 min, built from engine Shift + CumSum composition
    (reference-style operator chaining); sessions per user."""
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    f = ev.shift("ts", 1, order_by=["ts", "event_id"], partition_by=["user_id"], as_col="prev_ts")
    # exact microsecond gap: truncated-seconds (unix_timestamp) vs the
    # oracle's rounded EPOCH()::BIGINT diverge on sub-second data — the
    # 10x sweep caught exactly that; integer µs arithmetic is identical
    # on both engines and strictly more faithful
    dts = f.dtype("ts")
    gap_us = epoch_us(F.col("ts"), dts) - epoch_us(F.col("prev_ts"), dts)
    f = f.with_col(
        "new_sess",
        F.when(F.col("prev_ts").isNull() | (gap_us >= 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    f = f.cum_sum("new_sess", order_by=["ts", "event_id"], partition_by=["user_id"], as_col="sess_id")
    return (
        f.group_by("user_id")
        .agg(n_sessions=F.max("sess_id"), n_events=F.count("*"))
        .to_df()
        .select("user_id", F.col("n_sessions").cast("long").alias("n_sessions"), "n_events")
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM g
)
SELECT user_id, MAX(sess_id)::BIGINT AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id
"""


def custom_reduce_weighted_mean(spark, sf):
    """Custom per-group UDAF via applyInPandas (reference ReduceFn
    types.go:201-204, groupers.go:129-135): discount-weighted mean price.
    Arrow-batched; one row out per group."""
    import pandas as pd

    li = load(spark, sf, "lineitem")

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["l_quantity"]
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                # floor half-up idiom, not python round() (half-even) — oracle parity
                "wmean_price": [math.floor(float((pdf["l_extendedprice"] * w).sum() / w.sum()) * 1e4 + 0.5) / 1e4],
            }
        )

    return (
        li.group_by("l_returnflag")
        .reduce("l_returnflag string, wmean_price double", weighted)
        .to_df()
    )


CUSTOM_REDUCE_SQL = """
SELECT l_returnflag,
       FLOOR((SUM(l_extendedprice * l_quantity) / SUM(l_quantity)) * 10000 + 0.5) / 10000 AS wmean_price
FROM lineitem GROUP BY l_returnflag
"""


def custom_apply_zscore(spark, sf):
    """Custom per-group same-length transform via applyInPandas
    (reference Apply groupers.go:38-55): z-score within event_type.
    Population std to match the reference's kernel."""
    import pandas as pd

    ev = load(spark, sf, "events")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        std = float(v.std(ddof=0))
        z = (v - v.mean()) / std if std > 0 else v * 0.0
        return pd.DataFrame({"event_id": pdf["event_id"], "z": z.round(4)})

    return ev.group_by("event_type").apply("event_id long, z double", zscore).to_df()


CUSTOM_APPLY_SQL = """
SELECT event_id,
       FLOOR(((value - AVG(value) OVER w) / STDDEV_POP(value) OVER w) * 10000 + 0.5) / 10000 AS z
FROM events
WINDOW w AS (PARTITION BY event_type)
"""


def token_frequency(spark, sf):
    """Vocabulary building: explode tokens → count → top-100 (the
    classic wordcount shape; map-side partial agg then single shuffle)."""
    docs = load(spark, sf, "documents")
    toks = docs.to_df().select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    )
    return (
        toks.filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(100)
    )


TOKEN_FREQ_SQL = r"""
SELECT token, COUNT(*) AS n
FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS token FROM documents)
WHERE LENGTH(token) > 0
GROUP BY token ORDER BY n DESC, token ASC LIMIT 100
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators (beyond-reference; BASELINE.json north star)
# ---------------------------------------------------------------------------

def lang_id_vote(spark, sf):
    """Marker-stopword language ID vote (text-analysis tier)."""
    docs = load(spark, sf, "documents")
    return (
        docs.with_col("lang_pred", text.lang_id(F.col("text")))
        .group_by("lang_pred")
        .agg(n=F.count("*"))
        .to_df()
    )


_LANG_CNT = {
    lang: "LEN(LIST_FILTER(toks, x -> x IN ({})))".format(
        ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang])
    )
    for lang in text.LANG_PRIORITY
}
LANG_ID_SQL = r"""
WITH t AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+') AS toks FROM documents
), c AS (
  SELECT doc_id, {exprs} FROM t
)
SELECT CASE
  WHEN c_en > 0 AND c_en >= GREATEST(c_en, c_es, c_de, c_fr, c_zh) THEN 'en'
  WHEN c_es > 0 AND c_es >= GREATEST(c_en, c_es, c_de, c_fr, c_zh) THEN 'es'
  WHEN c_de > 0 AND c_de >= GREATEST(c_en, c_es, c_de, c_fr, c_zh) THEN 'de'
  WHEN c_fr > 0 AND c_fr >= GREATEST(c_en, c_es, c_de, c_fr, c_zh) THEN 'fr'
  WHEN c_zh > 0 AND c_zh >= GREATEST(c_en, c_es, c_de, c_fr, c_zh) THEN 'zh'
  ELSE 'unknown' END AS lang_pred,
  COUNT(*) AS n
FROM c GROUP BY 1
""".format(exprs=", ".join(f"{sql} AS c_{lang}" for lang, sql in _LANG_CNT.items()))


def dedup_exact_fingerprint(spark, sf):
    """Exact dedup: min doc per normalized md5 fingerprint."""
    docs = load(spark, sf, "documents")
    return dedup.exact_dedup(docs.to_df())


DEDUP_EXACT_SQL = """
SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


def jaccard_near_dups(spark, sf):
    """n-gram Jaccard near-dup pairs, blocked by language (dedup tier).
    Run over a deterministic 20% sample: all-pairs verify is quadratic
    in block size by design — the production chain confines it to LSH
    candidate pairs; the sample keeps the oracle-checkable demo bounded
    at every SF (2500-doc blocks measured ~6M intersects at sf0.1)."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return dedup.jaccard_pairs(docs.to_df(), block_cols=["lang"], ngram=4, threshold=0.35)


JACCARD_SQL = """
WITH s AS (
  SELECT doc_id, lang,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 3, 1) + 1),
                       i -> SUBSTR(text, i::INT, 4))) AS sh
  FROM documents WHERE doc_id % 5 = 0
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         FLOOR((LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
               / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)))) * 1000000 + 0.5) / 1000000 AS jaccard
  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
-- threshold the ROUNDED value, matching jaccard_pairs (which filters on
-- the round_det'ed column) — a raw-value WHERE would disagree for pairs
-- landing within 5e-7 below the threshold
WHERE jaccard >= 0.35
"""


def near_dup_components(spark, sf):
    """Connected components over the Jaccard near-dup pair graph
    (functions/dedup.connected_components): min-label propagation, the
    clustering step that turns pairwise near-dups into
    keep-one-per-cluster decisions. The graph fits under the broadcast
    limit at every SF here, so the rounds run on the driver after one
    bounded Arrow collect of the pairs; the distributed DataFrame loop
    takes over above it. Oracle: recursive-CTE transitive closure over
    the identical pair set.

    The pair GENERATION here is all-pairs Jaccard within a deterministic
    20% doc sample — all-pairs verify is quadratic in block size (the
    10× sweep measured 2500-doc lang blocks at ~6M array-intersects, a
    wall on both engines), and the production chain feeds CC from LSH
    candidates (minhash_lsh_pairs → jaccard on candidates) instead. The
    CC operator itself is pair-source-agnostic; the sample keeps this
    oracle-checkable demo bounded at every SF."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    pairs = dedup.jaccard_pairs(
        docs.to_df(), block_cols=["lang"], ngram=4, threshold=0.35
    )
    return dedup.connected_components(pairs.select("id_a", "id_b"))


NEAR_DUP_CC_SQL = """
WITH RECURSIVE s AS (
  SELECT doc_id, lang,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 3, 1) + 1),
                       i -> SUBSTR(text, i::INT, 4))) AS sh
  FROM documents WHERE doc_id % 5 = 0
), pairs AS (
  -- rounded-value threshold, mirroring jaccard_pairs (see JACCARD_SQL)
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           FLOOR((LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)))) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.35
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT node, LEAST(node, MIN(r)) AS component,
       node = LEAST(node, MIN(r)) AS keep
FROM reach GROUP BY node
"""


def decontamination_check(spark, sf):
    """Benchmark decontamination (functions/text.contamination_hits):
    training docs sharing >= 1 distinct 24-char shingle with the
    benchmark subset (doc_id % 50 = 0 stands in for an eval set). The
    benchmark shingle set broadcasts; the corpus side is scan + explode
    + map-side join + one count shuffle."""
    from tada_spark.functions.text import contamination_hits

    docs = load(spark, sf, "documents").to_df()
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_hits(corpus, bench, ngram_chars=24)


DECONTAMINATION_SQL = """
WITH sh AS (
  SELECT doc_id,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 23, 1) + 1),
                i -> SUBSTR(text, i::INT, 24)))) AS g
  FROM documents
), bench AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0 AND LENGTH(g) = 24
), corp AS (
  SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 50 != 0 AND LENGTH(g) = 24
)
SELECT c.doc_id, COUNT(*) AS n_hits
FROM corp c JOIN bench b USING (g)
GROUP BY c.doc_id
"""


def minhash_candidate_pairs(spark, sf):
    """MinHash + banded LSH candidate pairs — the 100 TB near-dup path.
    md5-derived hashes, so deterministic; oracle checks rows-only (the
    banded self-join is not reasonably SQL-expressible)."""
    docs = load(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(docs.to_df(), num_hashes=16, bands=4)


def minhash_lsh_oracle(spark, sf):
    """The SAME MinHash+banded-LSH pipeline as minhash_candidate_pairs,
    run with the md5 hash family (dedup._minhash_hash) that DuckDB can
    replicate bit-for-bit — upgrading LSH verification from rows-only to
    full hash-match: shingling, per-seed minima, banding, and the bucket
    self-join are all checked value-exactly. 8 hashes × 4 bands keeps
    the oracle SQL readable; xxhash64 remains the production family."""
    docs = load(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(
        docs.to_df(), num_hashes=8, bands=4, hash_family="md5"
    )


#: The (doc_id, shingle) stream CTEs shared by every md5-family minhash
#: oracle (classic and one-permutation) — the SQL twin of
#: dedup._shingle_stream at shingle_words=3.
_MINHASH_SHINGLE_CTES = r"""toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS t FROM documents
), sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
  WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, array_to_string(t, ' ') AS s
  FROM toks WHERE len(t) < 3 AND array_to_string(t, ' ') <> ''
)"""

MINHASH_ORACLE_SQL = (
    "\nWITH " + _MINHASH_SHINGLE_CTES + r""", sig AS (
  SELECT doc_id,
         MIN(('0x' || md5('0#' || s)[1:8])::BIGINT) AS h0,
         MIN(('0x' || md5('1#' || s)[1:8])::BIGINT) AS h1,
         MIN(('0x' || md5('2#' || s)[1:8])::BIGINT) AS h2,
         MIN(('0x' || md5('3#' || s)[1:8])::BIGINT) AS h3,
         MIN(('0x' || md5('4#' || s)[1:8])::BIGINT) AS h4,
         MIN(('0x' || md5('5#' || s)[1:8])::BIGINT) AS h5,
         MIN(('0x' || md5('6#' || s)[1:8])::BIGINT) AS h6,
         MIN(('0x' || md5('7#' || s)[1:8])::BIGINT) AS h7
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, h0 || ',' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || ',' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || ',' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || ',' || h7 FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""
)


def minhash_oph_pairs(spark, sf):
    """One-permutation MinHash + banded LSH candidate pairs
    (dedup.minhash_oph_lsh_pairs) — the cheaper signature stage for the
    repo's heaviest query: ONE xxhash64 per shingle binned into 16
    slots (classic computes 16 hashes per shingle), rotation-densified,
    same banding downstream. Rows-only (xxhash64 is engine-specific);
    the md5 twin minhash_oph_oracle hash-matches the full pipeline and
    candidate-quality parity vs the classic family is pinned by
    tests/test_r12_ops.py + the SCALE.md A/B."""
    docs = load(spark, sf, "documents")
    return dedup.minhash_oph_lsh_pairs(docs.to_df(), num_hashes=16, bands=4)


def minhash_oph_oracle(spark, sf):
    """The SAME one-permutation pipeline as minhash_oph_pairs with the
    md5 hash family DuckDB replicates bit-for-bit — shingling, the
    single-hash bin minima, rotation densification with distance
    offsets, banding, and the bucket self-join all check value-exactly
    (the minhash_lsh_oracle discipline). 8 bins × 4 bands keeps the
    generated SQL readable; xxhash64/16 remains the production family."""
    docs = load(spark, sf, "documents")
    return dedup.minhash_oph_lsh_pairs(
        docs.to_df(), num_hashes=8, bands=4, hash_family="md5"
    )


def _oph_oracle_sql(k: int = 8, bands: int = 4) -> str:
    """Generated SQL twin of minhash_oph_lsh_pairs(md5, k, bands):
    rendered from the same k/bands/offset constants as the Spark path
    (the _strip_markup_sql_expr discipline — lockstep by construction)."""
    off = dedup._OPH_BORROW_OFFSET
    sparse = ",\n         ".join(
        f"MIN(CASE WHEN h % {k} = {i} THEN h END) AS r{i}" for i in range(k)
    )
    dense = ",\n         ".join(
        "COALESCE("
        + ", ".join(
            f"r{(i + j) % k}" if j == 0 else f"r{(i + j) % k} + {j * off}"
            for j in range(k)
        )
        + f") AS h{i}"
        for i in range(k)
    )
    rpb = k // bands
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(f"h{b * rpb + r}" for r in range(rpb))
        + " AS key FROM dens"
        for b in range(bands)
    )
    return (
        "\nWITH "
        + _MINHASH_SHINGLE_CTES
        + f""", hh AS (
  SELECT doc_id, ('0x' || md5('0#' || s)[1:8])::BIGINT AS h FROM sh
), sig AS (
  SELECT doc_id,
         {sparse}
  FROM hh GROUP BY doc_id
), dens AS (
  SELECT doc_id,
         {dense}
  FROM sig
), bands AS (
  {band_rows}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""
    )


MINHASH_OPH_ORACLE_SQL = _oph_oracle_sql()


def simhash_candidates(spark, sf):
    """SimHash 64-bit fingerprints, banded by 16-bit chunks, kept when
    Hamming distance ≤ 10 (rows-only)."""
    docs = load(spark, sf, "documents")
    return dedup.simhash_bands(docs.to_df()).filter(F.col("hamming") <= 10)


def cosine_topk_neighbors(spark, sf):
    """Brute-force cosine top-5 per query vector (similarity tier)."""
    emb = load(spark, sf, "embeddings").to_df()
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=5)


COSINE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
     scored AS (
       SELECT query_id, neighbor_id,
              LIST_DOT_PRODUCT(qv, cv) / (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(cv, cv))) AS cos_raw
       FROM q JOIN c ON query_id != neighbor_id
     ), ranked AS (
       SELECT query_id, neighbor_id, FLOOR((cos_raw) * 1000000 + 0.5) / 1000000 AS cos,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
       FROM scored
     )
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
"""


def moving_avg_trailing(spark, sf):
    """Trailing 5-row moving average (rolling_n forward=False)."""
    ev = load(spark, sf, "events").filter(F.col("user_id") < 20)
    out = ev.group_by("user_id").rolling_n(
        5, "value", "mean", order_by=["ts", "event_id"], out="ma5", forward=False
    )
    return out.with_col("ma5", _round_det("ma5", 4)).to_df().select("event_id", "user_id", "ma5")


MOVING_AVG_SQL = """
SELECT event_id, user_id,
       CASE WHEN COUNT(*) OVER w = 5 THEN FLOOR((AVG(value) OVER w) * 10000 + 0.5) / 10000 END AS ma5
FROM events WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def intersect_except_orders(spark, sf):
    """Set ops (free extension, §2.9): (status, priority) combos seen
    among 400k+ orders that never occur among 530k+ orders."""
    orders = load(spark, sf, "orders")
    hi = Frame(orders.filter(F.col("o_totalprice") > 400000).to_df().select("o_orderstatus", "o_orderpriority").distinct())
    top = Frame(orders.filter(F.col("o_totalprice") > 530000).to_df().select("o_orderstatus", "o_orderpriority").distinct())
    return hi.except_(top).to_df()


EXCEPT_SQL = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 400000
EXCEPT
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 530000
"""


def top2_orders_per_customer(spark, sf):
    """Top-N per group: each customer's 2 biggest orders
    (GroupedFrame.top_k — row_number window, no global sort)."""
    orders = load(spark, sf, "orders").filter(F.col("o_custkey") < 200)
    ranked = orders.group_by("o_custkey").top_k(
        2, ("o_totalprice", False), ("o_orderkey", True), out="rn"
    )
    return (
        ranked.with_col("o_totalprice", _round_det("o_totalprice", 2))
        .to_df()
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


TOP2_SQL = """
SELECT o_custkey, o_orderkey, FLOOR((o_totalprice) * 100 + 0.5) / 100 AS o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders WHERE o_custkey < 200)
WHERE rn <= 2
"""


def merge_dedupe_names(spark, sf):
    """Merge with overlapping value-column names → `_1` suffix dedupe
    (reference Merge + DeduplicateNames, dataframe.go:1633-1657)."""
    cust = load(spark, sf, "customer").with_col("bal", _round_det(F.col("c_acctbal"), 2)).cols(
        "c_custkey", "c_nationkey", "bal"
    )
    nat_avg = (
        load(spark, sf, "supplier")
        .group_by("s_nationkey")
        .agg(bal=_round_det(F.avg("s_acctbal"), 2))
    )
    merged = cust.merge(nat_avg, left_on=["c_nationkey"], right_on=["s_nationkey"], unique_keys=True)
    return merged.to_df().select("c_custkey", "bal", "bal_1")


MERGE_SQL = """
SELECT c.c_custkey, FLOOR((c.c_acctbal) * 100 + 0.5) / 100 AS bal, s.bal_1
FROM customer c
LEFT JOIN (SELECT s_nationkey, FLOOR((AVG(s_acctbal)) * 100 + 0.5) / 100 AS bal_1
           FROM supplier GROUP BY s_nationkey) s
  ON c.c_nationkey = s.s_nationkey
"""


def set_rows_patch(spark, sf):
    """Positional SetRows: lowercase the name at row positions 0,2,4 of
    the nation table ordered by key (reference series.go:769-792 +
    __rowid__ discipline §4.3)."""
    nat = load(spark, sf, "nation").ordered("n_nationkey")
    out = nat.set_rows("n_name", [0, 2, 4], F.lower(F.col("n_name")))
    return out.to_df().select("n_nationkey", "n_name")


SET_ROWS_SQL = """
SELECT n_nationkey,
       CASE WHEN rn IN (0, 2, 4) THEN LOWER(n_name) ELSE n_name END AS n_name
FROM (SELECT n_nationkey, n_name,
             ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS rn FROM nation)
"""


def multimodal_image_features(spark, sf):
    """Multimodal decode pipeline: binary payload → mapInPandas Arrow
    batches → (width, height, n_bytes, mean_luma). The decoder is the
    deterministic stub (functions/multimodal._decode_image_stub — real
    deployments swap in PIL); the distributed plumbing (binary column,
    batch shape, schema) is the thing under test, and the stub is exact
    enough to oracle-check value-for-value."""
    from tada_spark.functions import multimodal

    # the oracle compares byte-based stub arithmetic against DuckDB's
    # codepoint functions — equal only for ASCII, so pin the contract by
    # filtering to ASCII docs on BOTH sides (today that is all of them)
    docs = (
        load(spark, sf, "documents")
        .to_df()
        .filter(F.col("text").rlike(r"^[\x00-\x7F]*$"))
        .select(F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload"))
    )
    feats = multimodal.image_features(docs)
    return feats.select(
        "media_id", "width", "height", "n_bytes", _round_det("mean_luma", 6).alias("mean_luma")
    )


MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       16 + ord(text[1]) % 64 AS width,
       16 + ord(text[-1]) % 64 AS height,
       length(text) AS n_bytes,
       FLOOR((list_sum(list_transform(string_split(text[1:64], ''), c -> ord(c)))
             / LEAST(length(text), 64) / 255.0) * 1000000 + 0.5) / 1000000 AS mean_luma
FROM documents WHERE regexp_matches(text, '^[\\x00-\\x7f]*$')
"""


def multimodal_audio_features(spark, sf):
    """Audio decode pipeline twin of multimodal_image_features:
    binary payload → mapInPandas → (sample_rate, duration_s, rms),
    deterministic stub decode, oracle-checked value-for-value."""
    from tada_spark.functions import multimodal

    docs = (
        load(spark, sf, "documents")
        .to_df()
        .filter(F.col("text").rlike(r"^[\x00-\x7F]*$"))  # ASCII parity pin
        .select(F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload"))
    )
    return multimodal.audio_features(docs)


MULTIMODAL_AUDIO_SQL = """
WITH d AS (
  SELECT doc_id AS media_id, text,
         8000 + (ord(text[1]) % 3) * 4000 AS sample_rate
  FROM documents WHERE regexp_matches(text, '^[\\x00-\\x7f]*$')
)
SELECT media_id, sample_rate,
       FLOOR((length(text)::DOUBLE / sample_rate) * 1000000 + 0.5) / 1000000 AS duration_s,
       FLOOR((SQRT(list_sum(list_transform(string_split(text[1:64], ''),
                                          c -> ((ord(c) / 255.0) * (ord(c) / 255.0))))
                  / LEAST(length(text), 64))) * 1000000 + 0.5) / 1000000 AS rms
FROM d
"""


def image_resize_real(spark, sf):
    """REAL image resize end-to-end (functions/multimodal
    .image_resize_features — closes the decode/feature/RESIZE/
    frame-sample quartet): deterministic 16×16 grayscale PNGs are
    encoded per doc_id inside mapInPandas (filters None AND Up), REALLY
    decoded (stdlib zlib, png_decode_pixels), area-averaged 4× to 4×4
    thumbnails in exact integer arithmetic, re-encoded with the REAL
    encoder and decoded BACK with an in-plan identity assertion. The
    driver-visible digest (out dims + exact thumbnail pixel sum) is
    derived purely analytically by the oracle."""
    from tada_spark.functions import multimodal

    docs = (
        load(spark, sf, "documents")
        .to_df()
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                payloads.append(
                    multimodal.encode_png_gray8(
                        16, 16, lambda x, y, m=mid: (m * 7 + x * 3 + y * 5) % 256,
                        filter_type=2 if mid % 2 else 0,
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    pngs = docs.mapInPandas(build, schema="media_id long, payload binary")
    return multimodal.image_resize_features(pngs, factor=4)


IMAGE_RESIZE_SQL = """
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0
), blocks AS (
  SELECT media_id, bx.i AS bx, by.j AS by,
         SUM((media_id * 7 + (bx.i * 4 + dx.k) * 3 + (by.j * 4 + dy.l) * 5) % 256)::BIGINT AS s
  FROM ids,
       UNNEST(generate_series(0, 3)) bx(i), UNNEST(generate_series(0, 3)) by(j),
       UNNEST(generate_series(0, 3)) dx(k), UNNEST(generate_series(0, 3)) dy(l)
  GROUP BY media_id, bx.i, by.j
)
SELECT media_id, 4 AS out_w, 4 AS out_h, SUM(s // 16)::BIGINT AS pix_sum
FROM blocks GROUP BY media_id
"""


def wav_decode_real(spark, sf):
    """REAL RIFF/PCM decode end-to-end at the driver (r4 verdict ask #5):
    deterministic mono WAV payloads are struct-packed per doc_id inside
    mapInPandas (stdlib wave — real file headers, not synthetic tuples),
    then decoded by the REAL wav_audio_decoder (stdlib wave + numpy, the
    same swap point a production ffmpeg decoder uses). The oracle derives
    sample_rate/duration/rms purely analytically: sample values are
    k/2^15 with |k| ≤ 1000, so every v·v is exactly representable, the
    sum of squares is exact in ANY summation order (all partials are
    integer·2^-30 < 2^53), and one division + correctly-rounded SQRT +
    the floor idiom give bit-identical doubles on both engines."""
    from tada_spark.functions import multimodal

    wavs = _det_wav_payloads(spark, sf)
    return multimodal.audio_features(wavs, decoder=multimodal.wav_audio_decoder)


def _det_wav_payloads(spark, sf):
    """Deterministic mono RIFF/PCM WAV payloads per doc_id (real file
    headers via stdlib wave inside mapInPandas) — the shared fixture
    stream for the real-decode entries (wav_decode_real,
    audio_downsample_real). Sample k_i = ((id·7 + i·13) mod 2001) −
    1000 at rate 8000 + (id mod 3)·4000, n = 64 + (id mod 5)·16."""
    import io
    import struct
    import wave

    docs = load(spark, sf, "documents").to_df().select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                sr = 8000 + (mid % 3) * 4000
                n = 64 + (mid % 5) * 16
                ks = [((mid * 7 + i * 13) % 2001) - 1000 for i in range(n)]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sr)
                    w.writeframes(struct.pack("<%dh" % n, *ks))
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    return docs.mapInPandas(build, schema="media_id long, payload binary")


WAV_DECODE_REAL_SQL = """
WITH p AS (
  SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr, 64 + (doc_id % 5) * 16 AS n
  FROM documents
), s AS (
  SELECT doc_id, sr, n,
         ((doc_id * 7 + u.i * 13) % 2001 - 1000)::DOUBLE / 32768 AS v
  FROM p, UNNEST(generate_series(0, n - 1)) u(i)
)
SELECT doc_id AS media_id, MAX(sr)::INT AS sample_rate,
       FLOOR(MAX(n)::DOUBLE / MAX(sr) * 1000000 + 0.5) / 1000000 AS duration_s,
       FLOOR(SQRT(SUM(v * v) / MAX(n)) * 1000000 + 0.5) / 1000000 AS rms
FROM s GROUP BY doc_id
"""


def png_decode_real(spark, sf):
    """REAL PNG decode end-to-end at the driver (the image twin of
    wav_decode_real, closing the r4 verdict's 'image decode is dormant'
    gap without Pillow): deterministic grayscale PNGs — real IHDR/IDAT/
    IEND chunks with valid CRCs, zlib-compressed scanlines — are encoded
    per doc_id inside mapInPandas, alternating filter None and filter Up
    rows files so BOTH the raw and the filtered decode paths run, then
    decoded by the REAL png_image_decoder (stdlib zlib + numpy). The
    oracle derives width/height/mean_luma purely analytically: pixels
    are integers from a replicable formula, the luma sum is exact, and
    one double division + the floor idiom give bit-identical values."""
    from tada_spark.functions import multimodal

    docs = load(spark, sf, "documents").to_df().select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 + mid % 5, 6 + mid % 4
                ft = 2 if mid % 2 else 0  # cover None AND Up filter paths
                payloads.append(
                    multimodal.encode_png_gray8(
                        w, h, lambda x, y, m=mid, W=w: (m * 31 + y * W + x * 7) % 256,
                        filter_type=ft,
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    pngs = docs.mapInPandas(build, schema="media_id long, payload binary")
    return multimodal.image_features(pngs, decoder=multimodal.png_image_decoder).select(
        "media_id", "width", "height", "mean_luma"  # n_bytes is the zlib
        # stream length — not analytically derivable, so not asserted
    )


PNG_DECODE_REAL_SQL = """
WITH p AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, ((doc_id * 31 + y.j * w + x.i * 7) % 256) AS v
  FROM p, UNNEST(generate_series(0, h - 1)) y(j), UNNEST(generate_series(0, w - 1)) x(i)
)
SELECT doc_id AS media_id, MAX(w)::INT AS width, MAX(h)::INT AS height,
       FLOOR(SUM(v)::DOUBLE / (MAX(w) * MAX(h) * 255) * 1000000 + 0.5) / 1000000 AS mean_luma
FROM px GROUP BY doc_id
"""


def video_frame_sample(spark, sf):
    """Video frame-sampling plan (functions/multimodal.frame_sample_plan):
    explode every-30th frame index from metadata WITHOUT decoding — the
    pruning step that makes 100 TB video tractable. Frame counts derived
    deterministically from document length for the oracle."""
    from tada_spark.functions import multimodal

    media = (
        load(spark, sf, "documents")
        .to_df()
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 200 + 30).alias("n_frames"),
        )
    )
    return multimodal.frame_sample_plan(media, every_n=30)


VIDEO_SAMPLE_SQL = """
SELECT doc_id AS media_id, f.frame_idx
FROM documents,
     UNNEST(generate_series(0, (n_chars % 200 + 30) - 1, 30)) AS f(frame_idx)
"""


def embed_near_dup_pairs(spark, sf):
    """Embedding-cosine near-dup detection: plant perturbed copies
    (vec_id+1000, first component +0.01) of the first 200 vectors, then
    find all pairs with cosine ≥ 0.99 — exactly the planted pairs.

    Scale path, not all-pairs: 4 OR-ed sign-LSH tables × 8 deterministic
    planes bucket the vectors (per-bucket equi-join — NO cross join /
    BroadcastNestedLoopJoin anywhere in the plan), then the exact cosine
    re-check keeps true pairs only. At cos ≥ 0.99995 (the planted pairs;
    natural pairs top out ≈0.48) the per-pair miss probability is
    (1-(1-θ/π)^8)^4 ≈ 4e-7 — and the fixed-seed planes make the result
    fully deterministic, so the brute-force oracle hash-matches."""
    emb = (
        load(spark, sf, "embeddings")
        .to_df()
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    planted = emb.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.expr("concat(array(v[0] + 0.01d), slice(v, 2, size(v) - 1))").alias("v"),
    )
    allv = emb.unionByName(planted)
    tables = similarity.random_planes(dim=64, n_planes=8, n_tables=4, seed=7)
    return similarity.lsh_cosine_pairs(
        allv, tables, id_col="vec_id", vec_col="v", threshold=0.99
    )


NEAR_DUP_SQL = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200),
     planted AS (SELECT vec_id + 1000 AS vec_id, [v[1] + 0.01] || v[2:] AS v FROM base),
     allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
     pairs AS (
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              FLOOR((LIST_DOT_PRODUCT(a.v, b.v)
                    / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v)))) * 1000000 + 0.5) / 1000000 AS cos
       FROM allv a JOIN allv b ON a.vec_id < b.vec_id
     )
SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.99
"""


def asof_last_purchase(spark, sf):
    """As-of join: each click event picks up the user's most recent
    prior-or-simultaneous purchase value (Frame.asof_join — union +
    running window, one shuffle, no row multiplication). Right side
    pre-deduped per (user, ts) so ties are deterministic on both
    engines."""
    ev = load(spark, sf, "events")
    clicks = Frame(ev.to_df().filter(F.col("event_type") == "click"))
    purchases = Frame(
        ev.to_df()
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purch_value"))
    )
    out = clicks.asof_join(purchases, on="ts", by=["user_id"], value_cols=["purch_value"])
    return out.to_df().select("event_id", "user_id", _round_det("purch_value", 4).alias("purch_value"))


ASOF_SQL = """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
     purchases AS (
       SELECT user_id AS pu, ts AS pts, MAX(value) AS purch_value
       FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
     )
SELECT c.event_id, c.user_id, FLOOR((p.purch_value) * 10000 + 0.5) / 10000 AS purch_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.pu AND c.ts >= p.pts
"""


def pivot_multi_agg_flag(spark, sf):
    """Multi-aggregate pivot (free extension of PivotTable §2.7):
    per (returnflag, linestatus-pivot) cell, both a sum and a count."""
    li = load(spark, sf, "lineitem")
    out = li.pivot_table_multi(
        ["l_returnflag"],
        "l_linestatus",
        {"qty": _round_det(F.sum("l_quantity"), 2), "n": F.count(F.lit(1))},
    )
    return out.to_df()


PIVOT_MULTI_SQL = """
SELECT l_returnflag,
       FLOOR((SUM(l_quantity) FILTER (l_linestatus = 'F')) * 100 + 0.5) / 100 AS F_qty,
       COUNT(*)             FILTER (l_linestatus = 'F')       AS F_n,
       FLOOR((SUM(l_quantity) FILTER (l_linestatus = 'O')) * 100 + 0.5) / 100 AS O_qty,
       COUNT(*)             FILTER (l_linestatus = 'O')       AS O_n
FROM lineitem GROUP BY l_returnflag
"""


def resample_15min_events(spark, sf):
    """Arbitrary-duration resample (reference Resample by duration,
    internal.go:2423-2479): epoch-floor to 900 s buckets, then count."""
    ev = load(spark, sf, "events")
    out = (
        ev.resample("ts", "duration", duration_seconds=900, as_col="bucket")
        .group_by("bucket")
        .agg(n=F.count("*"), total=_round_det(F.sum("value"), 4))
    )
    return out.to_df().select("bucket", "n", "total")


RESAMPLE_DUR_SQL = """
SELECT to_timestamp((epoch_us(ts) // 1000000 // 900) * 900)::TIMESTAMP AS bucket,
       COUNT(*) AS n, FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS total
FROM events GROUP BY 1
"""


def salted_join_events_users(spark, sf):
    """Skew-resistant salted join (operators/skew.salted_join): results
    identical to the plain join, verified by the oracle; hot user_ids
    (threshold 50 at this sf) split across 8 salts."""
    from tada_spark.operators.skew import salted_join

    ev = load(spark, sf, "events").to_df().select("event_id", "user_id", "value")
    # exact total, NOT a rounded double mean: double AVG is
    # summation-order-dependent, and 2-dp data makes the true mean land
    # EXACTLY on .00005 round boundaries (10x sweep: 3147.69/56 =
    # 56.20875 rounded differently per engine; DuckDB has no exact
    # decimal division to pin it). q1's cents-long idiom: the SUM is an
    # exact integer, the one /100.0 is a single exact double division —
    # and the driver-visible output is a canon-safe DOUBLE (r3 lesson:
    # a decimal(28,2) vs DECIMAL(38,2) output hash-diverged at the
    # driver even with identical values).
    users = (
        load(spark, sf, "events")
        .to_df()
        .groupBy("user_id")
        .agg((F.sum(_cents("value")) / F.lit(100.0)).alias("user_total"))
    )
    out = salted_join(ev, users, on=["user_id"], hot_threshold=50, salts=8)
    return out.select("event_id", "user_id", "user_total")


SALTED_JOIN_SQL = """
SELECT e.event_id, e.user_id, u.user_total
FROM events e
JOIN (SELECT user_id, SUM(ROUND(value * 100)::BIGINT) / 100.0 AS user_total
      FROM events GROUP BY user_id) u
  ON e.user_id = u.user_id
"""


STRATIFIED_SQL = """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 AS bucket
  FROM documents
)
SELECT doc_id, lang FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 10 ELSE 50 END
"""


def approx_quantiles_sketch(spark, sf):
    """approx_percentile (KLL-style sketch) — the 100 TB quantile path
    next to the exact percentile. Rows-only: sketch estimates are
    engine-specific by design."""
    li = load(spark, sf, "lineitem")
    return (
        li.group_by("l_returnflag")
        .agg(
            p50=F.expr("approx_percentile(l_extendedprice, 0.5, 10000)"),
            p95=F.expr("approx_percentile(l_extendedprice, 0.95, 10000)"),
        )
        .to_df()
    )


def approx_distinct_checked(spark, sf):
    """Bounded-error HLL verification (r4 verdict ask #3): exact-match
    oracles are impossible for sketch ESTIMATES, but the sketch's error
    CONTRACT is checkable — per group, emit the exact distinct counts
    (hash-verified) plus ``ok = |approx − exact| ≤ 3·rsd·exact`` booleans
    the DuckDB oracle asserts as literal TRUE. A sketch drifting outside
    its 3-sigma band goes red at the driver. Runs the SAME
    approx_count_distinct path as approx_distinct_suppliers (which stays
    as the production rows-only entry)."""
    li = load(spark, sf, "lineitem")
    rsd = 0.05
    out = (
        li.group_by("l_returnflag")
        .agg(
            n_supp_exact=F.count_distinct(F.col("l_suppkey")),
            n_part_exact=F.count_distinct(F.col("l_partkey")),
            a_supp=F.approx_count_distinct(F.col("l_suppkey"), rsd),
            a_part=F.approx_count_distinct(F.col("l_partkey"), rsd),
        )
        .to_df()
    )
    band = F.lit(3 * rsd)

    def ok(a, e):
        return (F.abs(F.col(a) - F.col(e)) <= band * F.col(e)).alias(f"ok{a[1:]}")

    return out.select(
        "l_returnflag", "n_supp_exact", "n_part_exact",
        ok("a_supp", "n_supp_exact"), ok("a_part", "n_part_exact"),
    )


APPROX_DISTINCT_CHECKED_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey)::BIGINT AS n_supp_exact,
       COUNT(DISTINCT l_partkey)::BIGINT AS n_part_exact,
       TRUE AS ok_supp, TRUE AS ok_part
FROM lineitem GROUP BY l_returnflag
"""


def approx_quantiles_checked(spark, sf):
    """Bounded-error KLL/GK verification (r4 verdict ask #3):
    approx_percentile(accuracy=10000) guarantees rank error ≤ 1/accuracy;
    the check brackets each estimate between the EXACT ±2%-rank
    percentiles (a 200× looser envelope, so a healthy sketch always
    passes and a broken one cannot). Output = group count (hash-exact)
    + in-band booleans the oracle asserts TRUE. Same approx_percentile
    path as approx_quantiles_sketch (kept as the production entry)."""
    li = load(spark, sf, "lineitem")
    out = (
        li.group_by("l_returnflag")
        .agg(
            n=F.count(F.col("l_extendedprice")),
            a50=F.expr("approx_percentile(l_extendedprice, 0.5, 10000)"),
            a95=F.expr("approx_percentile(l_extendedprice, 0.95, 10000)"),
            env=F.expr("percentile(l_extendedprice, array(0.48, 0.52, 0.93, 0.97))"),
        )
        .to_df()
    )
    e = F.col("env")
    return out.select(
        "l_returnflag",
        "n",
        F.col("a50").between(e[0], e[1]).alias("ok_p50"),
        F.col("a95").between(e[2], e[3]).alias("ok_p95"),
    )


APPROX_QUANTILES_CHECKED_SQL = """
SELECT l_returnflag, COUNT(l_extendedprice) AS n,
       TRUE AS ok_p50, TRUE AS ok_p95
FROM lineitem GROUP BY l_returnflag
"""


def embedding_centroids(spark, sf):
    """Per-label embedding centroids in long form (label, dim, value):
    posexplode → groupBy(label, dim) → avg. The scalable element-wise
    array aggregate — no UDF, no collect, no array re-assembly; at 100 TB
    the shuffle key (label, dim) spreads each vector across the cluster
    instead of funneling whole arrays to one reducer per label."""
    emb = load(spark, sf, "embeddings").to_df()
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(_round_det(F.avg("v"), 6).alias("centroid_v"))
        .select("label", (F.col("dim") + 1).alias("dim"), "centroid_v")
    )


CENTROID_SQL = """
SELECT label, s.dim, FLOOR((AVG((embedding::DOUBLE[])[s.dim])) * 1000000 + 0.5) / 1000000 AS centroid_v
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(dim)
GROUP BY label, s.dim
"""


def debounce_events(spark, sf):
    """Debounce: drop events repeating the same (user, type) within
    5 minutes of the previous occurrence — Shift composition, the
    standard event-stream noise filter."""
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    f = ev.shift(
        "ts", 1, order_by=["ts", "event_id"], partition_by=["user_id", "event_type"], as_col="prev_ts"
    )
    # exact µs gap (see sessionize_events: truncated seconds diverge
    # from the oracle on sub-second data)
    dts = f.dtype("ts")
    gap_us = epoch_us(F.col("ts"), dts) - epoch_us(F.col("prev_ts"), dts)
    keep = f.filter(F.col("prev_ts").isNull() | (gap_us >= 300 * 1_000_000))
    return keep.to_df().select("event_id", "user_id", "event_type")


DEBOUNCE_SQL = """
SELECT event_id, user_id, event_type
FROM (SELECT event_id, user_id, event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
      FROM events)
WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= 300 * 1000000
"""


def winsorize_value_per_user(spark, sf):
    """Winsorize: clip value to the per-user [p05, p95] band (aligned
    percentile broadcast over a partition window — outlier damping
    before training). Nulls stay null."""
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id")
    lo = F.expr("percentile(value, 0.05)").over(w)
    hi = F.expr("percentile(value, 0.95)").over(w)
    clipped = F.when(
        F.col("value").isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(F.col("value"), lo), hi))
    return (
        ev.with_col("value_w", _round_det(clipped, 4))
        .to_df()
        .select("event_id", "user_id", "value_w")
    )


WINSORIZE_SQL = """
SELECT event_id, user_id,
       CASE WHEN value IS NULL THEN NULL
            ELSE FLOOR((LEAST(GREATEST(value, lo), hi)) * 10000 + 0.5) / 10000 END AS value_w
FROM (SELECT event_id, user_id, value,
             quantile_cont(value, 0.05) OVER (PARTITION BY user_id) AS lo,
             quantile_cont(value, 0.95) OVER (PARTITION BY user_id) AS hi
      FROM events WHERE user_id < 30)
"""


def quantiles_price_by_status(spark, sf):
    """Grouped exact quantiles (25/50/75) — linear-interpolation
    percentile, same definition as DuckDB quantile_cont."""
    orders = load(spark, sf, "orders")
    out = orders.group_by("o_orderstatus").agg(
        q25=_round_det(F.expr("percentile(o_totalprice, 0.25)"), 4),
        q50=_round_det(F.expr("percentile(o_totalprice, 0.5)"), 4),
        q75=_round_det(F.expr("percentile(o_totalprice, 0.75)"), 4),
    )
    return out.to_df()


QUANTILES_SQL = """
SELECT o_orderstatus,
       FLOOR((quantile_cont(o_totalprice, 0.25)) * 10000 + 0.5) / 10000 AS q25,
       FLOOR((quantile_cont(o_totalprice, 0.50)) * 10000 + 0.5) / 10000 AS q50,
       FLOOR((quantile_cont(o_totalprice, 0.75)) * 10000 + 0.5) / 10000 AS q75
FROM orders GROUP BY o_orderstatus
"""


def ntile_quartile_customers(spark, sf):
    """NTILE(4) quartile assignment over account balance (free window
    extension; deterministic via unique c_custkey tiebreaker)."""
    from pyspark.sql.window import Window

    cust = load(spark, sf, "customer")
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (
        cust.with_col("quartile", F.ntile(4).over(w))
        .to_df()
        .select("c_custkey", "quartile")
    )


NTILE_SQL = """
SELECT c_custkey, NTILE(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
FROM customer
"""


def bpe_token_budget(spark, sf):
    """LLM token-budget estimate per language: whitespace tokens vs
    BPE-ish pre-tokenizer matches (functions/text.bpe_token_estimate) —
    the alternation-only regex evaluates identically under Java regex
    and RE2, so the count oracle-checks exactly."""
    docs = load(spark, sf, "documents")
    out = (
        docs.with_col("ws_tokens", text.token_count(F.col("text")))
        .with_col("bpe_tokens", text.bpe_token_estimate(F.col("text")))
        .group_by("lang")
        .agg(
            n_docs=F.count("*"),
            ws_total=F.sum("ws_tokens"),
            bpe_total=F.sum("bpe_tokens"),
        )
    )
    return out.to_df().select("lang", "n_docs", "ws_total", "bpe_total")


BPE_SQL = r"""
SELECT lang, COUNT(*) AS n_docs,
       SUM(len(regexp_extract_all(trim(text), '\S+')))::BIGINT AS ws_total,
       SUM(len(regexp_extract_all(text,
           e'\'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')))::BIGINT AS bpe_total
FROM documents GROUP BY lang
"""


def winnow_shared_fingerprints(spark, sf):
    """Winnowing fingerprint overlap (Schleimer et al. SIGMOD'03): doc
    pairs sharing >= 5 winnowed k-gram hashes — localizes WHERE overlap
    occurs, unlike minhash. Rows-only gate: xxhash64 has no DuckDB
    twin."""
    docs = load(spark, sf, "documents").to_df().filter(F.col("doc_id") < 100)
    fps = text.winnow_fingerprints_long(docs, id_col="doc_id", text_col="text", k=8, w=16)
    # shuffle self-join. Both sides shuffle on fp with canonically
    # identical subtrees, so AQE reuses the map stage and the
    # window-heavy winnowing pipeline runs ONCE (verified r12: the
    # second side's map stage is skipped at runtime). An r12 grouped
    # collect_list-combination rewrite measured 10-20% SLOWER here
    # (ObjectHashAggregate overhead, no compensating win) and was
    # reverted — see OPTIMIZATION_r12.md.
    a, b = fps.alias("a").hint("shuffle_hash"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 5)
    )


SAMPLE_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 AS bucket
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b WHERE bucket < 20
"""


def range_join_purchase_clicks(spark, sf):
    """Range join: clicks landing inside each purchase's following hour
    (operators/interval.range_join — bucketed equi-join, never a
    broadcast nested loop)."""
    from tada_spark.operators.interval import range_join

    ev = load(spark, sf, "events").to_df()
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_start"))
        .withColumn("p_end", F.col("p_start") + F.expr("INTERVAL 1 HOUR"))
    )
    out = range_join(
        clicks, purchases, left_ts="ts", right_start="p_start", right_end="p_end",
        by=["user_id"], bucket_s=3600,
    )
    return out.select("p_id", "c_id", "user_id")


RANGE_JOIN_SQL = """
SELECT p.event_id AS p_id, c.event_id AS c_id, c.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
"""


def approx_distinct_suppliers(spark, sf):
    """HyperLogLog++ cardinality sketch per group — the 100 TB path for
    nunique (exact countDistinct shuffles every distinct value; HLL
    ships a fixed-size sketch). Rows-only gate: sketch estimates differ
    between engines by design."""
    li = load(spark, sf, "lineitem")
    return (
        li.group_by("l_returnflag")
        .approx_nunique("l_suppkey", "l_partkey")
        .to_df()
        .select("l_returnflag", "approx_nunique_l_suppkey", "approx_nunique_l_partkey")
    )


def _fs_input_bytes(spark, path: str) -> int:
    """Total bytes under ``path``, resolved through the Hadoop
    FileSystem Spark itself reads with — so hdfs://, s3a://, abfs://
    and nested partitioned directories are all sized correctly, where
    the previous ``os.path`` probe silently returned 0 off local disk
    (r12 verdict item 2). ``getContentSummary`` is recursive, one
    driver-side RPC per call. Raises on an unreachable path/scheme;
    the caller decides the fallback."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def _stream_state_partitions(spark, sf, name: str = "events") -> int:
    """Scale-adaptive state-store partition count for the availableNow
    replays (r12, guide §2.3): stateful streaming operators pay one
    state-store instance + one delta-file commit per shuffle partition
    per micro-batch, and streaming has no AQE to coalesce tiny state —
    at sf0.1 the stream-stream outer join measured 8.7 s at 32
    partitions vs 2.7 s at 2. Derive the count from the input bytes
    (~1 MB of compressed source per state partition, floor 1, capped at
    4× cluster parallelism so a 100 TB replay still fans out), exactly
    the size-adaptive posture AQE applies to batch shuffles.
    TADA_STREAM_SHUFFLE_PARTITIONS overrides for clusters whose
    state-to-source ratio is unusual.

    Sizing goes through the Hadoop FileSystem (r13, verdict item 2):
    the old os.path probe raised on any non-local URI, nbytes became 0
    and a 100 TB replay ran with ONE state partition. If sizing fails
    now, fall back to full fan-out (4×parallelism), never to serial."""
    import os as _os

    env = int(_os.environ.get("TADA_STREAM_SHUFFLE_PARTITIONS", "0"))
    if env:
        return env
    par = max(int(spark.sparkContext.defaultParallelism), 1)
    try:
        nbytes = _fs_input_bytes(spark, f"{sf}/{name}.parquet")
    except Exception:
        # Unsizable input (scheme without a FS impl, permissions, moved
        # path): the safe failure mode at scale is wide, not serial.
        return 4 * par
    return max(1, min(4 * par, nbytes // (1 << 20) + 1))


def _stream_events(spark, sf):
    """readStream over the events table, robust to the file's actual
    timestamp encoding (the batch twin is Frame.read_parquet):

      * TIMESTAMP(NANOS) — Spark's parquet reader rejects it; stream ts
        as long (nanosAsLong) and rebuild micros-truncated timestamps.
      * naive micros/millis — read natively as TIMESTAMP_NTZ (what the
        batch reader infers), no rebuild. A hard-coded /1000 here would
        silently land every event in January 1970 — detect, don't assume.
      * tz-adjusted — read natively as TIMESTAMP (LTZ).
    """
    from pyspark.sql import types as T

    from tada_spark.plans.timeutil import parquet_time_columns

    unit, tz = parquet_time_columns(f"{sf}/events.parquet").get("ts", ("us", None))
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_type: T.DataType = T.LongType()
    else:
        ts_type = T.TimestampType() if tz else T.TimestampNTZType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # streaming file source requires a directory: point at the sf dir
    # and glob-select the single events file
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    if unit == "ns":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
        )
    return stream


def stream_hourly_totals(spark, sf):
    """Structured Streaming tumbling-window rollup (§2.10: Resample's
    streaming twin) driven to completion with trigger availableNow over
    the static events table; the complete-mode memory-sink snapshot
    equals the batch groupBy, so it oracle-checks like any batch query."""
    from tada_spark.streaming import run_available_now, stream_resample

    stream = _stream_events(spark, sf)
    out = stream_resample(
        stream, "ts", "1 hour", {"n": F.count("*"), "total": _round_det(F.sum("value"), 4)}
    )
    res = run_available_now(out, "q_stream_hourly", state_partitions=_stream_state_partitions(spark, sf))
    return res.select("window_start", "n", "total")


STREAM_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n, FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS total
FROM events GROUP BY 1
"""


def stream_running_totals_users(spark, sf):
    """Custom stateful streaming operator (applyInPandasWithState): per-
    user running (count, sum) across micro-batches. The events table is
    one parquet file, so availableNow delivers one batch and the update-
    mode sink holds exactly the final per-key totals — oracle-checkable."""
    from tada_spark.streaming.stateful import running_totals

    stream = _stream_events(spark, sf)
    out = running_totals(stream, "user_id", "value")
    from tada_spark.streaming import run_available_now

    res = run_available_now(out, "q_stream_state", timeout_s=240, output_mode="update", state_partitions=_stream_state_partitions(spark, sf))
    return res.select("key", "n_events", _round_det("total", 4).alias("total"))


STREAM_STATE_SQL = """
SELECT user_id::VARCHAR AS key, COUNT(value) AS n_events,
       FLOOR((SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0) * 10000 + 0.5) / 10000 AS total
FROM events GROUP BY user_id
"""


def stream_sliding_hourly(spark, sf):
    """Streaming sliding-window rollup (§2.10: RollingDuration's
    streaming twin — streaming/windows.stream_sliding_agg): 1-hour
    windows sliding every 30 min, driven to completion with
    availableNow. Each event lands in exactly len/slide = 2 windows;
    the oracle replays that membership with an UNNEST cross join."""
    from tada_spark.streaming import run_available_now, stream_sliding_agg

    stream = _stream_events(spark, sf)
    out = stream_sliding_agg(
        stream,
        "ts",
        "1 hour",
        "30 minutes",
        {"n": F.count("*"), "total": _round_det(F.sum("value"), 4)},
    )
    res = run_available_now(out, "q_stream_sliding", state_partitions=_stream_state_partitions(spark, sf))
    return res.select("window_start", "n", "total")


STREAM_SLIDING_SQL = """
SELECT to_timestamp(((epoch_us(ts) // 1000000) // 1800 - o) * 1800)::TIMESTAMP AS window_start,
       COUNT(*) AS n, FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS total
FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS o)
GROUP BY 1
"""


def stream_session_windows(spark, sf):
    """Streaming session windows (§2.10 free extension —
    streaming/windows.stream_session_agg): per-user 30-min-gap sessions.
    Spark merges an event into a session iff it lands strictly inside
    last_event + gap, i.e. a new session starts at diff >= gap — the
    same rule as the batch sessionize query and the LAG/cumsum oracle."""
    from tada_spark.streaming import run_available_now, stream_session_agg

    stream = _stream_events(spark, sf)
    out = stream_session_agg(
        stream,
        "ts",
        "30 minutes",
        {"n_events": F.count("*")},
        keys=["user_id"],
    )
    res = run_available_now(out, "q_stream_sessions_w", state_partitions=_stream_state_partitions(spark, sf))
    return res.select(
        "user_id", F.col("window_start").alias("session_start"), "n_events"
    )


STREAM_SESSION_WINDOWS_SQL = """
WITH lagged AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM lagged
), numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM numbered GROUP BY user_id, sid
"""


def stream_dedup_fingerprints(spark, sf):
    """Streaming exact dedup — the ingestion-time twin of
    dedup.exact_dedup: dropDuplicates on the content fingerprint keeps
    state per distinct key and emits each fingerprint once, however
    many times it recurs across micro-batches. In production the state
    is watermark-bounded (dedup horizon); here the full-history variant
    is driven to completion with availableNow. Emits the fingerprint
    set only: WHICH doc of a duplicate group survives ingestion order
    is racy by nature, the fingerprint set is deterministic."""
    from tada_spark.functions.text import fingerprint
    from tada_spark.streaming.windows import run_available_now

    # documents streamed like events: explicit schema, one-file glob
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    out = stream.select(fingerprint(F.col("text")).alias("fp")).dropDuplicates(["fp"])
    return run_available_now(out, "q_stream_dedup", output_mode="append", state_partitions=_stream_state_partitions(spark, sf))


STREAM_DEDUP_SQL = """
SELECT DISTINCT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
FROM documents
"""


def stream_interval_join_purchases(spark, sf):
    """Watermarked stream-stream interval join (§2.10 —
    streaming/windows.stream_interval_join): clicks within [purchase,
    purchase + 1h] per user, both sides streamed. The watermarks bound
    the join state buffer; availableNow drives it to completion so the
    append-mode result equals the batch interval join the oracle
    replays. The last streaming operator to gain a hard oracle row."""
    from tada_spark.streaming.windows import run_available_now, stream_interval_join

    purchases = (
        _stream_events(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"))
    )
    clicks = (
        _stream_events(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts"))
    )
    out = stream_interval_join(
        purchases, clicks, keys=["user_id"], left_ts="p_ts", right_ts="c_ts",
        max_delay="1 hour",
    )
    res = run_available_now(
        out.select("p_id", "c_id", F.col("p_ts").alias("purchase_ts")),
        "q_stream_ivj",
        output_mode="append",
        state_partitions=_stream_state_partitions(spark, sf),
        timeout_s=240,
    )
    return res


STREAM_INTERVAL_JOIN_SQL = """
SELECT p.event_id AS p_id, c.event_id AS c_id, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
"""


def stream_session_stats_users(spark, sf):
    """Event-TIME-dependent custom stateful operator
    (streaming/stateful.session_stats, applyInPandasWithState): per-user
    session count/span with a 30-min gap rule. Every output column is a
    function of the actual ts values, so a corrupted timestamp ingest
    (round 2's /1000 bug) turns this row red instead of hiding behind a
    time-agnostic aggregate like stream_running_totals_users."""
    from tada_spark.streaming.stateful import session_stats

    stream = _stream_events(spark, sf)
    out = session_stats(stream, "user_id", "ts", gap_s=1800)
    from tada_spark.streaming import run_available_now

    res = run_available_now(out, "q_stream_sessions", timeout_s=240, output_mode="update", state_partitions=_stream_state_partitions(spark, sf))
    return res.select(
        "user_id", "n_events", "n_sessions", "span_seconds"
    )


STREAM_SESSION_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       SUM(CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
                THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS span_seconds
FROM (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
) GROUP BY user_id
"""


def salted_group_sum(spark, sf):
    """Two-phase salted aggregation for skewed keys (operators/skew.py):
    identical results to a plain groupBy, verified by the oracle."""
    from tada_spark.operators.skew import salted_agg

    li = load(spark, sf, "lineitem")
    # cents-long cast before the salted sum: 2-dp prices summed as
    # doubles are reassociation-sensitive (same class the 10x sweep
    # caught in the salted join); integer-cent partials merge exactly,
    # and the final /100.0 yields a driver-canon-safe DOUBLE (a wide
    # decimal output is the r3 hash-red class)
    df = li.to_df().withColumn("__price_c", _cents("l_extendedprice"))
    out = salted_agg(
        df,
        ["l_returnflag"],
        {"total_qty": ("sum", "l_quantity"), "n": ("count", "l_quantity"), "price_c": ("sum", "__price_c")},
        salts=16,
    )
    return out.select(
        "l_returnflag",
        _round_det("total_qty", 2).alias("total_qty"),
        "n",
        (F.col("price_c") / F.lit(100.0)).alias("price_total"),
    )


SALTED_SQL = """
SELECT l_returnflag, FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100 AS total_qty,
       COUNT(l_quantity) AS n,
       SUM(ROUND(l_extendedprice * 100)::BIGINT) / 100.0 AS price_total
FROM lineitem GROUP BY l_returnflag
"""


def combine_series_ratio(spark, sf):
    """Label-aligned cross-frame division with ÷0→null (reference Series
    Divide, series.go:891-938): customer vs supplier acctbal per nation."""
    cust = (
        load(spark, sf, "customer")
        .group_by("c_nationkey")
        .agg(cust_bal=F.sum("c_acctbal"))
        .rename({"c_nationkey": "nationkey"})
        .set_as_labels("nationkey")
    )
    supp = (
        load(spark, sf, "supplier")
        .group_by("s_nationkey")
        .agg(supp_bal=F.sum("s_acctbal"))
        .rename({"s_nationkey": "nationkey"})
        .set_as_labels("nationkey")
    )
    out = cust.combine(supp, "/", left_col="cust_bal", right_col="supp_bal", out="ratio")
    return (
        out.with_col("ratio", F.floor(F.col("ratio") * 1000).cast("long"))
        .to_df()
        .select("nationkey", "ratio")
    )


COMBINE_SQL = """
SELECT c.nationkey,
       CAST(FLOOR(CASE WHEN s.supp_bal = 0 THEN NULL ELSE c.cust_bal / s.supp_bal END * 1000) AS BIGINT) AS ratio
FROM (SELECT c_nationkey AS nationkey, SUM(c_acctbal) AS cust_bal FROM customer GROUP BY 1) c
LEFT JOIN (SELECT s_nationkey AS nationkey, SUM(s_acctbal) AS supp_bal FROM supplier GROUP BY 1) s
USING (nationkey)
"""


def cast_multiformat_dates(spark, sf):
    """Multi-format datetime parsing with parse-failure→null (reference
    Cast + accepted-formats list, options.go:20-23). A mixed-format
    string column is built deterministically, then cast."""
    orders = load(spark, sf, "orders").filter(F.col("o_orderkey") < 3000)
    mixed = orders.with_col(
        "d_str",
        F.when(F.col("o_orderkey") % 6 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 6 == 1, F.date_format("o_orderdate", "MM/dd/yyyy"))
        .when(F.col("o_orderkey") % 6 == 2, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("o_orderkey") % 6 == 3, F.date_format("o_orderdate", "MM-dd-yyyy"))
        .when(F.col("o_orderkey") % 6 == 4, F.date_format("o_orderdate", "dd MMM yy HH:mm"))
        .otherwise(F.lit("not a date")),
    )
    out = mixed.cast(d_str="timestamp")
    # cast parses to an INSTANT (LTZ — zoned formats in the accepted
    # list denote real instants, like the reference's tz-normalized
    # time.Time); render the canonical UTC wall clock (NTZ) to match
    # the strptime oracle's naive timestamps
    return out.to_df().select(
        "o_orderkey", F.col("d_str").cast("timestamp_ntz").alias("parsed")
    )


CAST_DATES_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 6 = 0 THEN TRY_STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d')
            WHEN o_orderkey % 6 = 1 THEN TRY_STRPTIME(STRFTIME(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y')
            WHEN o_orderkey % 6 = 2 THEN TRY_STRPTIME(STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
            WHEN o_orderkey % 6 = 3 THEN TRY_STRPTIME(STRFTIME(o_orderdate, '%m-%d-%Y'), '%m-%d-%Y')
            WHEN o_orderkey % 6 = 4 THEN TRY_STRPTIME(STRFTIME(o_orderdate, '%d %b %y %H:%M'), '%d %b %y %H:%M')
            ELSE NULL END AS parsed
FROM orders WHERE o_orderkey < 3000
"""


def ivf_topk_neighbors(spark, sf):
    """IVF approximate nearest neighbors — the ANN scale path: probe the
    nprobe nearest centroid lists instead of the full corpus."""
    emb = load(spark, sf, "embeddings").to_df()
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=2)


IVF_SQL = """
WITH cent AS (
  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 50 = 0
), corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), assigned AS (
  SELECT vec_id, v, cent_id FROM (
    SELECT c.vec_id, c.v, ct.cent_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
             LIST_DOT_PRODUCT(c.v, ct.cv) / (SQRT(LIST_DOT_PRODUCT(c.v, c.v)) * SQRT(LIST_DOT_PRODUCT(ct.cv, ct.cv))) DESC,
             ct.cent_id ASC) AS rk
    FROM corpus c CROSS JOIN cent ct
  ) WHERE rk = 1
), probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, ct.cent_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             LIST_DOT_PRODUCT(q.v, ct.cv) / (SQRT(LIST_DOT_PRODUCT(q.v, q.v)) * SQRT(LIST_DOT_PRODUCT(ct.cv, ct.cv))) DESC,
             ct.cent_id ASC) AS rk
    FROM (SELECT * FROM corpus WHERE vec_id < 5) q CROSS JOIN cent ct
  ) WHERE rk <= 2
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         FLOOR((LIST_DOT_PRODUCT(p.qv, a.v) / (SQRT(LIST_DOT_PRODUCT(p.qv, p.qv)) * SQRT(LIST_DOT_PRODUCT(a.v, a.v)))) * 1000000 + 0.5) / 1000000 AS cos,
         ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
           LIST_DOT_PRODUCT(p.qv, a.v) / (SQRT(LIST_DOT_PRODUCT(p.qv, p.qv)) * SQRT(LIST_DOT_PRODUCT(a.v, a.v))) DESC,
           a.vec_id ASC) AS rank
  FROM probes p JOIN assigned a USING (cent_id)
  WHERE p.query_id != a.vec_id
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# consolidated queries — the external driver verifies the first 50 catalog
# entries, so each query below packs several §2 operators behind ONE oracle;
# the single-operator variants they subsume were removed from the catalog
# (operator coverage is unchanged — see OPERATORS.md for the mapping)
# ---------------------------------------------------------------------------


def agg_frame_and_columns(spark, sf):
    """Whole-frame aggs (Frame.agg — reference series.go:999-1073, std ÷n
    internal.go:2042-2057) + per-column aggs melted to rows (Frame.agg_all
    — reference dataframe.go:1910-1993), one result: a '<frame>' row from
    the whole-frame path above the per-column rows."""
    li = load(spark, sf, "lineitem")
    melted = li.agg_all(["sum", "mean", "min", "max"], "l_quantity", "l_extendedprice", "l_discount")
    mdf = melted.to_df().select(
        "column",
        _round_det("sum", 2).alias("sum"),
        _round_det("mean", 4).alias("mean"),
        F.lit(None).cast("double").alias("med"),
        F.lit(None).cast("double").alias("std"),
        _round_det("min", 4).alias("min"),
        _round_det("max", 4).alias("max"),
        F.lit(None).cast("long").alias("n"),
    )
    whole = li.agg(
        sum=_round_det(F.sum("l_quantity"), 2),
        mean=_round_det(F.avg("l_quantity"), 4),
        med=_round_det(F.median("l_quantity"), 2),
        std=_round_det(F.stddev_pop("l_quantity"), 4),
        min=_round_det(F.min("l_quantity"), 4),
        max=_round_det(F.max("l_quantity"), 4),
        n=F.count("l_quantity"),
    ).df.select(F.lit("<frame>").alias("column"), "sum", "mean", "med", "std", "min", "max", "n")
    return mdf.unionByName(whole)


AGG_FRAME_COLS_SQL = """
SELECT 'l_quantity' AS "column", FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum, FLOOR((AVG(l_quantity)) * 10000 + 0.5) / 10000 AS mean,
       NULL::DOUBLE AS med, NULL::DOUBLE AS std,
       FLOOR((MIN(l_quantity)) * 10000 + 0.5) / 10000 AS min, FLOOR((MAX(l_quantity)) * 10000 + 0.5) / 10000 AS max, NULL::BIGINT AS n FROM lineitem
UNION ALL
SELECT 'l_extendedprice', FLOOR((SUM(l_extendedprice)) * 100 + 0.5) / 100, FLOOR((AVG(l_extendedprice)) * 10000 + 0.5) / 10000,
       NULL, NULL, FLOOR((MIN(l_extendedprice)) * 10000 + 0.5) / 10000, FLOOR((MAX(l_extendedprice)) * 10000 + 0.5) / 10000, NULL FROM lineitem
UNION ALL
SELECT 'l_discount', FLOOR((SUM(l_discount)) * 100 + 0.5) / 100, FLOOR((AVG(l_discount)) * 10000 + 0.5) / 10000,
       NULL, NULL, FLOOR((MIN(l_discount)) * 10000 + 0.5) / 10000, FLOOR((MAX(l_discount)) * 10000 + 0.5) / 10000, NULL FROM lineitem
UNION ALL
SELECT '<frame>', FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100, FLOOR((AVG(l_quantity)) * 10000 + 0.5) / 10000,
       FLOOR((MEDIAN(l_quantity)) * 100 + 0.5) / 100, FLOOR((STDDEV_POP(l_quantity)) * 10000 + 0.5) / 10000,
       FLOOR((MIN(l_quantity)) * 10000 + 0.5) / 10000, FLOOR((MAX(l_quantity)) * 10000 + 0.5) / 10000, COUNT(l_quantity) FROM lineitem
"""


def first_last_nth_per_order(spark, sf):
    """Per-group positional pickers in one pass: First/Last (min_by/max_by
    aggregates — reference groupers.go:187-199) + Nth(2) with OOB ⇒ null
    (reference groupers.go:824-868). (l_orderkey, l_linenumber) is not
    unique in the testdata — l_partkey breaks ties."""
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") < 500)
    first = li.group_by("l_orderkey").first("l_partkey", order_by=["l_linenumber", "l_partkey"])
    last = li.group_by("l_orderkey").last("l_partkey", order_by=["l_linenumber", "l_partkey"])
    nth = li.group_by("l_orderkey").nth("l_partkey", 2, order_by=["l_linenumber", "l_partkey"], out="third_part")
    # all three frames share li's lineage — rename nth's key before the
    # second join or the dropped right key resolves ambiguously
    nth = nth.rename({"l_orderkey": "__ok__"})
    out = first.lookup(last, left_on=["l_orderkey"], right_on=["l_orderkey"], unique_keys=True)
    out = out.lookup(nth, left_on=["l_orderkey"], right_on=["__ok__"], unique_keys=True)
    return out.to_df().select("l_orderkey", "first_l_partkey", "last_l_partkey", "third_part")


FIRST_LAST_NTH_SQL = """
SELECT l_orderkey,
       MIN(l_partkey) FILTER (WHERE rn_a = 1)  AS first_l_partkey,
       MIN(l_partkey) FILTER (WHERE rn_d = 1)  AS last_l_partkey,
       MIN(l_partkey) FILTER (WHERE rn_a = 3)  AS third_part
FROM (
  SELECT l_orderkey, l_partkey,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber ASC,  l_partkey ASC)  AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_partkey DESC) AS rn_d
  FROM lineitem WHERE l_orderkey < 500
) GROUP BY l_orderkey
"""


def shift_cumsum_events(spark, sf):
    """Shift/lag (reference series.go:327-340) + running sum with nulls
    contributing 0 (reference internal.go:2173-2183), both over the same
    explicit per-user order — ONE window exchange serves both columns."""
    ev = load(spark, sf, "events").filter(F.col("user_id") < 50)
    out = ev.shift("value", 1, order_by=["ts", "event_id"], partition_by=["user_id"], as_col="prev_value")
    out = out.cum_sum("value", order_by=["ts", "event_id"], partition_by=["user_id"], as_col="running")
    return (
        out.with_col("prev_value", _round_det("prev_value", 2))
        .with_col("running", _round_det("running", 2))
        .to_df()
        .select("event_id", "user_id", "prev_value", "running")
    )


SHIFT_CUMSUM_SQL = """
SELECT event_id, user_id,
       FLOOR((LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) * 100 + 0.5) / 100 AS prev_value,
       FLOOR((SUM(COALESCE(value, 0)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running
FROM events WHERE user_id < 50
"""


def rank_percentile_customers(spark, sf):
    """Dense rank within nation (nulls → null — reference
    internal.go:2302-2351) + global exclusive percentile (reference
    internal.go:2353-2388) of the same measure, chained row-preserving."""
    cust = load(spark, sf, "customer")
    out = cust.rank("c_acctbal", partition_by=["c_nationkey"], as_col="bal_rank", descending=True)
    out = out.percentile("c_acctbal", as_col="pct")
    return (
        out.with_col("pct", _round_det("pct", 6))
        .cols("c_custkey", "c_nationkey", "bal_rank", "pct")
        .to_df()
        .select("c_custkey", "c_nationkey", "bal_rank", "pct")
    )


RANK_PERCENTILE_SQL = """
SELECT c_custkey, c_nationkey,
       CASE WHEN c_acctbal IS NULL THEN NULL
            ELSE DENSE_RANK() OVER (PARTITION BY c_nationkey, c_acctbal IS NULL ORDER BY c_acctbal DESC) END AS bal_rank,
       CASE WHEN c_acctbal IS NULL THEN NULL
            ELSE FLOOR(((RANK() OVER (PARTITION BY (c_acctbal IS NULL) ORDER BY c_acctbal) - 1)::DOUBLE
                       / COUNT(*) OVER (PARTITION BY (c_acctbal IS NULL))) * 1000000 + 0.5) / 1000000 END AS pct
FROM customer
"""


def bin_pbin_orders(spark, sf):
    """Fixed-edge binning (left-exclusive right-inclusive, nulls
    uncategorized — reference cut internal.go:2208-2300) + percentile
    binning (left-inclusive — reference pcut internal.go:2392-2408) of the
    same measure, cross-tabulated."""
    orders = load(spark, sf, "orders")
    out = orders.bin("o_totalprice", [0, 100000, 200000, 300000, 400000, 500000], as_col="price_band")
    out = out.percentile_bin(
        "o_totalprice", [0, 0.25, 0.5, 0.75, 1.0], labels=["q1", "q2", "q3", "q4"], as_col="pquart"
    )
    return (
        out.group_by("price_band", "pquart")
        .agg(n=F.count("*"), total=_round_det(F.sum("o_totalprice"), 2))
        .to_df()
    )


BIN_PBIN_SQL = """
SELECT CASE WHEN o_totalprice > 0      AND o_totalprice <= 100000 THEN '0-100000'
            WHEN o_totalprice > 100000 AND o_totalprice <= 200000 THEN '100000-200000'
            WHEN o_totalprice > 200000 AND o_totalprice <= 300000 THEN '200000-300000'
            WHEN o_totalprice > 300000 AND o_totalprice <= 400000 THEN '300000-400000'
            WHEN o_totalprice > 400000 AND o_totalprice <= 500000 THEN '400000-500000'
            ELSE NULL END AS price_band,
       CASE WHEN pct >= 0 AND pct < 0.25 THEN 'q1'
            WHEN pct >= 0.25 AND pct < 0.5 THEN 'q2'
            WHEN pct >= 0.5 AND pct < 0.75 THEN 'q3'
            WHEN pct >= 0.75 THEN 'q4' END AS pquart,
       COUNT(*) AS n, FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS total
FROM (
  SELECT o_totalprice,
         (RANK() OVER (ORDER BY o_totalprice) - 1)::DOUBLE / COUNT(*) OVER () AS pct
  FROM orders
) GROUP BY 1, 2
"""


def resample_calendar_revenue(spark, sf):
    """Calendar resample, both grains in one result: month-truncated
    lineitem revenue + Monday-start week-truncated order totals
    (reference internal.go:2423-2479; StartOfWeek 2444-2462)."""
    li = load(spark, sf, "lineitem")
    month = (
        li.resample("l_shipdate", "month", as_col="bucket")
        .group_by("bucket")
        .agg(n=F.count("*"), total=_round_det(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2))
        .to_df()
        .select(F.lit("month").alias("grain"), "bucket", "n", "total")
    )
    orders = load(spark, sf, "orders")
    week = (
        orders.resample("o_orderdate", "week", week_start="MONDAY", as_col="bucket")
        .group_by("bucket")
        .agg(n=F.count("*"), total=_round_det(F.sum("o_totalprice"), 2))
        .to_df()
        .select(F.lit("week").alias("grain"), "bucket", "n", "total")
    )
    return month.unionByName(week)


RESAMPLE_CAL_SQL = """
SELECT 'month' AS grain, DATE_TRUNC('month', l_shipdate)::TIMESTAMP AS bucket,
       COUNT(*) AS n, FLOOR((SUM(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS total
FROM lineitem GROUP BY 2
UNION ALL
SELECT 'week', DATE_TRUNC('week', o_orderdate)::TIMESTAMP,
       COUNT(*), FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100
FROM orders GROUP BY 2
"""


def rolling_n_duration_events(spark, sf):
    """Both rolling-window families in one result: forward count window
    [i, i+3) with incomplete tails ⇒ null (reference groupers.go:295-314)
    + forward duration window [t, t+1h) (reference groupers.go:317-345)."""
    ev = load(spark, sf, "events").filter(F.col("user_id") < 30)
    out = ev.group_by("user_id").rolling_n(3, "value", "sum", order_by=["ts", "event_id"], out="roll3")
    out = out.group_by("user_id").rolling_duration(3600, "ts", "value", "sum", out="roll1h")
    return (
        out.with_col("roll3", _round_det("roll3", 2))
        .with_col("roll1h", _round_det("roll1h", 2))
        .to_df()
        .select("event_id", "user_id", "roll3", "roll1h")
    )


ROLLING_N_DUR_SQL = """
SELECT event_id, user_id,
       CASE WHEN COUNT(*) OVER wn = 3 THEN FLOOR((SUM(value) OVER wn) * 100 + 0.5) / 100 END AS roll3,
       FLOOR((SUM(value) OVER wd) * 100 + 0.5) / 100 AS roll1h
FROM events WHERE user_id < 30
WINDOW wn AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING),
       wd AS (PARTITION BY user_id ORDER BY EPOCH(ts)::BIGINT RANGE BETWEEN CURRENT ROW AND 3599 FOLLOWING)
"""


def align_having_users(spark, sf):
    """Align() group-mean write-back (reference groupers.go:202-228)
    composed with HavingCount group filtering (reference
    groupers.go:232-254): per-event deviation from the user mean, only
    for users with ≥ 30 events."""
    ev = load(spark, sf, "events").filter(F.col("user_id") < 40)
    kept = ev.group_by("user_id").having_count(lambda c: c >= 30)
    aligned = kept.group_by("user_id").align().agg(grp_mean=F.avg("value"))
    # floor-based half-up rounding on BOTH engines: value - mean lands on
    # exact .xxxx5 doubles, where Spark's BigDecimal ROUND and DuckDB's
    # float ROUND disagree; FLOOR(x*1e4 + 0.5)/1e4 is identical IEEE math
    dev = F.floor((F.col("value") - F.col("grp_mean")) * 10000 + 0.5) / 10000
    return (
        aligned.with_col("dev", dev)
        .cols("event_id", "user_id", "dev")
        .to_df()
        .select("event_id", "user_id", "dev")
    )


ALIGN_HAVING_SQL = """
SELECT event_id, user_id,
       FLOOR((value - AVG(value) OVER (PARTITION BY user_id)) * 10000 + 0.5) / 10000 AS dev
FROM events WHERE user_id < 40
QUALIFY COUNT(*) OVER (PARTITION BY user_id) >= 30
"""


def semi_anti_partition(spark, sf):
    """LeftSemi + LeftAnti on the same key (free extension beyond the
    reference's lookup-only joins, §2.6): customers partitioned into
    those with and without a > 400k order — the two joins partition the
    left side exactly."""
    cust = load(spark, sf, "customer")
    big = load(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    semi = (
        cust.semi_join(big, left_on=["c_custkey"], right_on=["o_custkey"])
        .to_df()
        .select("c_custkey", F.lit("has_big").alias("side"))
    )
    anti = (
        cust.anti_join(big, left_on=["c_custkey"], right_on=["o_custkey"])
        .to_df()
        .select("c_custkey", F.lit("no_big").alias("side"))
    )
    return semi.unionByName(anti)


SEMI_ANTI_SQL = """
SELECT c_custkey, 'has_big' AS side FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
UNION ALL
SELECT c_custkey, 'no_big' FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


def text_stats_quality(spark, sf):
    """The per-document text-analysis battery in one scan: token count,
    punctuation ratio, composite quality score, and the BPE-ish
    pre-tokenizer estimate — all pure Column expressions (scan-speed,
    zero shuffles)."""
    docs = load(spark, sf, "documents")
    return (
        docs.with_col("n_tokens", text.token_count(F.col("text")))
        .with_col("punct", _round_det(F.coalesce(text.punct_ratio(F.col("text")), F.lit(0.0)), 6))
        .with_col("quality", text.quality_score(F.col("text")))
        .with_col("bpe_tokens", text.bpe_token_estimate(F.col("text")))
        .cols("doc_id", "n_tokens", "punct", "quality", "bpe_tokens")
        .to_df()
        .select("doc_id", "n_tokens", "punct", "quality", "bpe_tokens")
    )


TEXT_STATS_QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END AS n_tokens,
         COALESCE(CASE WHEN LENGTH(text) = 0 THEN NULL
              ELSE LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / LENGTH(text) END, 0) AS punct,
         COALESCE(CASE WHEN LEN(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) = 0 THEN NULL
              ELSE LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'),
                       x -> x IN ('the','a','and','of','to','in')))::DOUBLE
                   / LEN(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) END, 0) AS sw
  FROM documents
)
SELECT doc_id, n_tokens, FLOOR((punct) * 1000000 + 0.5) / 1000000 AS punct,
       FLOOR((GREATEST(0.0, LEAST(n_tokens / 50.0, 1.0) * (1.0 - punct)
             * (0.5 + LEAST(sw * 2, 0.5)))) * 1000000 + 0.5) / 1000000 AS quality,
       LEN(REGEXP_EXTRACT_ALL(text,
           e'\'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')) AS bpe_tokens
FROM t
"""


def ann_topk_exact_ivf(spark, sf):
    """Similarity search, exact baseline + ANN scale path side by side:
    brute-force cosine top-5 (broadcast query set × partitioned corpus)
    and IVF probe-limited top-5 (nprobe=2 of the centroid lists) — the
    same 5 query vectors, tagged by method."""
    exact = cosine_topk_neighbors(spark, sf).select(F.lit("exact").alias("method"), "*")
    ivf = ivf_topk_neighbors(spark, sf).select(F.lit("ivf").alias("method"), "*")
    return exact.unionByName(ivf)


def sample_splits_docs(spark, sf):
    """Content-addressed sampling in one result: deterministic 20% sample
    with train/val/test assignment, plus the stratified per-language
    rebalance tagged 'strat' — md5-bucketed, partition-layout-invariant,
    zero shuffles."""
    from tada_spark.functions import sampling

    docs = load(spark, sf, "documents").to_df()
    sampled = sampling.deterministic_sample(docs, "doc_id", 20)
    split = sampling.assign_split(sampled, "doc_id", train_pct=80, val_pct=10).select(
        "doc_id", "lang", "split"
    )
    rates = {"en": 10, "de": 50, "es": 50, "fr": 50, "zh": 50}
    strat = sampling.stratified_sample(docs, "doc_id", "lang", rates).select(
        "doc_id", "lang", F.lit("strat").alias("split")
    )
    return split.unionByName(strat)


def gopher_quality_filters(spark, sf):
    """Gopher/C4 quality-filter rules (Rae et al. 2021 §A1.1; Raffel et
    al. 2020) over documents: word-count window, mean word length,
    symbol-to-word ratio, alpha-word fraction, stop-word hits, per-line
    shape fractions — and the combined keep gate. All Column algebra,
    scan-speed; the standard pre-training corpus filter pass."""
    docs = load(spark, sf, "documents")
    lf = text.line_fractions(F.col("text"))
    out = (
        docs.with_col("n_words", text.token_count(F.col("text")))
        .with_col("mean_wlen", text.mean_word_length(F.col("text")))
        .with_col("alpha_frac", text.alpha_word_fraction(F.col("text")))
        .with_col("stop_hits", text.gopher_stop_hits(F.col("text")))
        .with_col("end_punct_frac", lf["end_punct_line_frac"])
        .with_col("keep", text.gopher_keep(F.col("text")))
    )
    return out.to_df().select(
        "doc_id", "n_words", "mean_wlen", "alpha_frac", "stop_hits", "end_punct_frac", "keep"
    )


GOPHER_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END AS n_words,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks,
         REGEXP_SPLIT_TO_ARRAY(text, '\n') AS lines
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words = 0 THEN NULL
              ELSE FLOOR((LENGTH(REGEXP_REPLACE(text, '\s', '', 'g'))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END AS mean_wlen,
         CASE WHEN n_words = 0 THEN NULL
              ELSE FLOOR((LEN(REGEXP_EXTRACT_ALL(text, '#|\.\.\.'))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END AS symbol_ratio,
         CASE WHEN n_words = 0 THEN NULL
              ELSE FLOOR((LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '[A-Za-z]')))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END AS alpha_frac,
         LEN(LIST_INTERSECT(LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'), x -> x),
                            ['the','be','to','of','and','that','have','with'])) AS stop_hits,
         CASE WHEN LEN(lines) = 0 THEN NULL
              ELSE FLOOR((LEN(LIST_FILTER(lines, x -> REGEXP_MATCHES(x, '^\s*[-*•]')))::DOUBLE / LEN(lines)) * 1000000 + 0.5) / 1000000 END AS bullet_frac,
         CASE WHEN LEN(lines) = 0 THEN NULL
              ELSE FLOOR((LEN(LIST_FILTER(lines, x -> REGEXP_MATCHES(x, '\.\.\.\s*$')))::DOUBLE / LEN(lines)) * 1000000 + 0.5) / 1000000 END AS ellipsis_frac,
         CASE WHEN LEN(lines) = 0 THEN NULL
              ELSE FLOOR((LEN(LIST_FILTER(lines, x -> REGEXP_MATCHES(x, '[.!?"]\s*$')))::DOUBLE / LEN(lines)) * 1000000 + 0.5) / 1000000 END AS end_punct_frac
  FROM t
)
SELECT doc_id, n_words, mean_wlen, alpha_frac, stop_hits, end_punct_frac,
       (n_words BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3 AND 10)
       AND (symbol_ratio < 0.1) AND (bullet_frac < 0.9) AND (ellipsis_frac < 0.3)
       AND (alpha_frac > 0.8) AND (stop_hits >= 2) AS keep
FROM m
"""


def tfidf_top_terms(spark, sf):
    """Per-document TF-IDF top-3 terms (classic relevance scoring over
    the corpus): explode lowercase word tokens → per-(doc, term) TF →
    per-term document frequency → idf = ln(N/df) → rank by score with a
    deterministic (score desc, term asc) tiebreak. Scale shape: the
    term stream shuffles once per aggregate with map-side partials; the
    per-term DF table is vocabulary-sized (≪ corpus) and broadcasts
    back onto the TF stream, so the corpus text never re-shuffles."""
    from pyspark.sql.window import Window

    from tada_spark.plans.semantics import det_ln

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    # N as an in-plan 1-row scalar broadcast (allowlisted BNLJ), not a
    # driver-side .count(): at 100 TB that count is a full extra scan
    # and the only driver action that was left in an operator path
    nd = docs.groupBy().agg(F.count("*").alias("__n_docs__"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    # idf via det_ln (r6): the last native-LN oracle migrated to the
    # deterministic ln, emptying check_oracle's transcendental allowlist
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            _round_det(
                F.col("tf")
                * det_ln(F.col("__n_docs__").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


TFIDF_SQL = rf"""
WITH terms AS (
  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS term
  FROM documents WHERE LENGTH(TRIM(text)) > 0
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term != '' GROUP BY doc_id, term
), df_t AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), ratio AS (
  SELECT term, ((SELECT COUNT(*) FROM documents)::DOUBLE / df) AS x FROM df_t
), {_det_ln_ctes("x", "ratio", "term", "idf")}, scored AS (
  SELECT tf.doc_id, tf.term,
         FLOOR((tf.tf * idf) * 1000000 + 0.5) / 1000000 AS tfidf
  FROM tf JOIN __ln USING (term)
)
SELECT doc_id, term, tfidf, rk FROM (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= 3
"""


def corpus_prep_pipeline(spark, sf):
    """The full pre-training corpus-prep chain as ONE Catalyst plan —
    quality gate (Gopher rules) → exact dedup (fingerprint, keep min
    doc id) → per-language yield report. This is the composition a
    reference user actually runs end-to-end; each stage is the
    already-verified operator, and the whole chain stays a single
    declarative plan: scan → Column-expression filter → one window over
    the fingerprint → one aggregate. Two shuffles total at any scale.
    Gate thresholds tuned to the synthetic corpus (min_words=30,
    min_stop_hits=1 — the default 2 assumes natural English prose and
    would zero out the synthetic table, proving nothing)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf, "documents")
    kept = (
        docs.filter(text.gopher_keep(F.col("text"), min_words=30, min_stop_hits=1))
        .with_col("n_words", text.token_count(F.col("text")))
        .with_col("fp", text.fingerprint(F.col("text")))
    )
    w = Window.partitionBy("fp")
    flagged = kept.to_df().withColumn("keep_id", F.min("doc_id").over(w))
    is_canon = (F.col("doc_id") == F.col("keep_id")).cast("long")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(is_canon).alias("n_unique"),
            F.sum(is_canon * F.col("n_words")).alias("n_tokens"),
        )
        .select("lang", "n_kept", "n_unique", "n_tokens")
    )


# Gopher-gate CTEs shared verbatim by CORPUS_PREP_SQL and
# STREAM_CORPUS_PREP_SQL — a named constant (not a string-splice of one
# oracle out of the other) so a gate rewording can never silently
# malform the streaming oracle.
_GATE_CTES_SQL = r"""
WITH m AS (
  SELECT doc_id, lang, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) END AS n_words,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks,
         REGEXP_SPLIT_TO_ARRAY(text, '\n') AS lines
  FROM documents
), f AS (
  SELECT doc_id, lang, text, n_words FROM m
  WHERE (n_words BETWEEN 30 AND 100000)
    AND (CASE WHEN n_words = 0 THEN NULL
              ELSE FLOOR((LENGTH(REGEXP_REPLACE(text, '\s', '', 'g'))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END
         BETWEEN 3 AND 10)
    AND (FLOOR((LEN(REGEXP_EXTRACT_ALL(text, '#|\.\.\.'))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 < 0.1)
    AND (FLOOR((LEN(LIST_FILTER(lines, x -> REGEXP_MATCHES(x, '^\s*[-*•]')))::DOUBLE
         / LEN(lines)) * 1000000 + 0.5) / 1000000 < 0.9)
    AND (FLOOR((LEN(LIST_FILTER(lines, x -> REGEXP_MATCHES(x, '\.\.\.\s*$')))::DOUBLE
         / LEN(lines)) * 1000000 + 0.5) / 1000000 < 0.3)
    AND (FLOOR((LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '[A-Za-z]')))::DOUBLE
         / n_words) * 1000000 + 0.5) / 1000000 > 0.8)
    AND (LEN(LIST_INTERSECT(LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+'), x -> x),
             ['the','be','to','of','and','that','have','with'])) >= 1)
)"""

CORPUS_PREP_SQL = _GATE_CTES_SQL + r""", fp AS (
  SELECT doc_id, lang, n_words,
         MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM f
), flagged AS (
  SELECT lang, n_words,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS canon
  FROM fp
)
SELECT lang, COUNT(*) AS n_kept, SUM(canon)::BIGINT AS n_unique,
       SUM(canon * n_words)::BIGINT AS n_tokens
FROM flagged GROUP BY lang
"""


def repetition_ngram_stats(spark, sf):
    """Gopher repetition filters (Rae et al. 2021 §A1.1, the
    duplicate-fraction half): per document, the fraction of word-2-gram
    occurrences taken by the single most frequent 2-gram, plus distinct
    vs total 2-gram counts. Scale shape: explode → two-level aggregate
    (per-(doc,gram) count, then per-doc max/sum) — shuffle volume is the
    gram stream, map-side partial aggregation compresses it, never a
    per-doc driver loop."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sz = F.size(toks)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                sz >= 2,
                F.zip_with(toks, F.slice(toks, 2, F.greatest(sz - 1, F.lit(1))),
                           lambda a, b: F.concat_ws(" ", a, b)),
            )
        ).alias("g"),
    ).filter(F.col("g").contains(" "))  # drop the tail partial gram
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("n"))
    out = per_gram.groupBy("doc_id").agg(
        F.sum("n").alias("total_2grams"),
        F.count("*").alias("distinct_2grams"),
        _round_det(F.max("n") / F.sum("n"), 6).alias("top_2gram_frac"),
    )
    return out.select("doc_id", "total_2grams", "distinct_2grams", "top_2gram_frac")


REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS t
  FROM documents WHERE LENGTH(TRIM(text)) > 0
), grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
), per_gram AS (
  SELECT doc_id, g, COUNT(*) AS n FROM grams GROUP BY doc_id, g
)
SELECT doc_id, SUM(n)::BIGINT AS total_2grams, COUNT(*) AS distinct_2grams,
       FLOOR((MAX(n)::DOUBLE / SUM(n)) * 1000000 + 0.5) / 1000000 AS top_2gram_frac
FROM per_gram GROUP BY doc_id
"""


def pii_scrub_docs(spark, sf):
    """PII audit + redaction pass (functions/text.redact_pii): PII is
    planted deterministically (synthetic docs contain none), counted per
    kind, and scrubbed; the md5 of the redacted text proves the scrub is
    byte-identical on both engines."""
    docs = load(spark, sf, "documents")
    aug = docs.with_col(
        "aug",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")))
            .when(F.col("doc_id") % 5 == 1, F.concat(F.lit(" call +1 555-000-"), F.col("doc_id")))
            .when(F.col("doc_id") % 5 == 2, F.lit(" from 10.0.0.7 today"))
            .otherwise(F.lit("")),
        ),
    )
    counts = text.pii_counts(F.col("aug"))
    out = (
        aug.with_col("n_email", counts["email"])
        .with_col("n_phone", counts["phone"])
        .with_col("n_ipv4", counts["ipv4"])
        .with_col("redacted_md5", F.md5(text.redact_pii(F.col("aug"))))
    )
    return out.to_df().select("doc_id", "n_email", "n_phone", "n_ipv4", "redacted_md5")


PII_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com'
                      WHEN doc_id % 5 = 1 THEN ' call +1 555-000-' || doc_id
                      WHEN doc_id % 5 = 2 THEN ' from 10.0.0.7 today'
                      ELSE '' END AS aug
  FROM documents
)
SELECT doc_id,
       LEN(REGEXP_EXTRACT_ALL(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       LEN(REGEXP_EXTRACT_ALL(aug, '\+?\d[\d\- ]{7,}\d')) AS n_phone,
       LEN(REGEXP_EXTRACT_ALL(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
       MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(aug,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
             '\+?\d[\d\- ]{7,}\d', '[PII]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[PII]', 'g')) AS redacted_md5
FROM aug
"""


# composed from the validated single-op oracles
ANN_SQL = f"""
SELECT 'exact' AS method, query_id, neighbor_id, cos, rank FROM ({COSINE_SQL})
UNION ALL
SELECT 'ivf', query_id, neighbor_id, cos, rank FROM ({IVF_SQL})
"""

SAMPLE_SPLITS_SQL = f"""
{SAMPLE_SPLIT_SQL}
UNION ALL
SELECT doc_id, lang, 'strat' AS split FROM ({STRATIFIED_SQL})
"""


def readme_pipeline_golden(spark, sf):
    """The reference's README pipeline test, re-expressed on the testdata
    customer table (readme_test.go:13-28 / 29-59): HasCols gate → Cast to
    float → Filter to the valid value range (nulls never match) → GroupBy
    + Mean → Sort. Spark-first reordering: the reference sorts the fact
    rows BEFORE grouping (its group output follows sort order); here the
    sort moves AFTER the aggregate — same rows, and no fact-scale global
    sort in the plan. The result then round-trips through the test
    harness itself (RecordWriter → RecordReader with type inference →
    EqualRecords, io.go:271-299/213-268/562-574): the query raises if the
    harness identity breaks, so this driver row also certifies
    equal_records end-to-end."""
    from tada_spark.sources.records import read_records, write_records
    from tada_spark.testing.equal import equal_records

    cust = load(spark, sf, "customer").has_cols("c_mktsegment", "c_acctbal")
    n = F.count("*")
    res = (
        cust.cast(c_acctbal="double")
        .filter(F.col("c_acctbal") >= 0, F.col("c_acctbal") <= 5000)
        .group_by("c_mktsegment")
        .agg(
            mean_acctbal=_round_det(F.sum(_cents("c_acctbal")) / F.lit(100.0) / n, 2),
            n_customers=n,
        )
        .sort("c_mktsegment")
    )
    golden = write_records(res)  # tiny: one row per market segment
    roundtrip = read_records(spark, golden, infer_types=True)
    ok, diffs = equal_records(roundtrip, golden)
    if not ok:
        raise AssertionError(f"EqualRecords harness identity broke: {diffs[:5]}")
    return res.to_df()


README_PIPELINE_SQL = """
SELECT c_mktsegment,
       FLOOR(SUM(ROUND(c_acctbal * 100)::BIGINT) / 100.0 / COUNT(*) * 100 + 0.5) / 100 AS mean_acctbal,
       COUNT(*) AS n_customers
FROM customer
WHERE c_acctbal >= 0 AND c_acctbal <= 5000
GROUP BY c_mktsegment
"""


def paragraph_dedup_docs(spark, sf):
    """CCNet-style paragraph-level exact dedup (functions/dedup.
    paragraph_dedup): 20-word chunks, global first-occurrence wins,
    per-doc duplicate fraction + md5 of the rebuilt deduped text. One
    fingerprint-partitioned shuffle over the chunk stream — the standard
    corpus-prep step between doc-level exact dedup and MinHash."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return dedup.paragraph_dedup(docs, chunk_words=20).select(
        "doc_id", "n_chunks", "n_dup_chunks", "dup_frac", "kept_md5"
    )


PARAGRAPH_DEDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS t FROM documents
), chunks AS (
  SELECT doc_id, c.cid,
         array_to_string(t[c.cid * 20 + 1 : c.cid * 20 + 20], ' ') AS chunk
  FROM toks, UNNEST(generate_series(0, CAST(CEIL(len(t) / 20.0) AS INT) - 1)) c(cid)
  WHERE len(t) >= 1
), fps AS (
  SELECT doc_id, cid, chunk,
         ROW_NUMBER() OVER (PARTITION BY MD5(chunk) ORDER BY doc_id, cid) = 1 AS keep
  FROM chunks WHERE chunk <> ''
)
SELECT doc_id, COUNT(*) AS n_chunks,
       SUM(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dup_chunks,
       FLOOR(SUM(CASE WHEN keep THEN 0 ELSE 1 END)::DOUBLE / COUNT(*) * 1000000 + 0.5) / 1000000 AS dup_frac,
       MD5(COALESCE(STRING_AGG(CASE WHEN keep THEN chunk END, ' ' ORDER BY cid), '')) AS kept_md5
FROM fps GROUP BY doc_id
"""


def bigram_familiarity_docs(spark, sf):
    """Corpus-LM familiarity score (functions/text.bigram_familiarity):
    CCNet-style quality signal — mean smoothed corpus-bigram probability
    per doc, transcendental-free so it hash-checks exactly (true KenLM
    perplexity needs ln(), whose last ulp differs across libms)."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return text.bigram_familiarity(docs).select("doc_id", "n_bigrams", "familiarity")


BIGRAM_FAMILIARITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS t FROM documents
), words AS (
  SELECT doc_id, t[i] AS w
  FROM toks, UNNEST(generate_series(1, len(t))) u(i)
  WHERE t[i] <> ''
), grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g, t[i] AS w1
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
  WHERE len(t) >= 2
), uni AS (
  SELECT w, COUNT(*) AS cu FROM words GROUP BY w
), vc AS (
  SELECT COUNT(*) AS v FROM uni
), big AS (
  SELECT g, COUNT(*) AS cb FROM grams GROUP BY g
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       FLOOR(SUM(FLOOR((cb + 1)::DOUBLE / (cu + v) * 1000000 + 0.5)::BIGINT)
             / COUNT(*) + 0.5) / 1000000.0 AS familiarity
FROM grams JOIN big USING (g) JOIN uni ON uni.w = grams.w1, vc
GROUP BY doc_id
"""


def sequence_pack_docs(spark, sf):
    """Training-batch sequence packing (functions/sampling.sequence_pack):
    shard-local contiguous layout — each doc assigned the 256-token
    sequence its first token lands in. One shuffle on the shard key
    (source), running-sum window WITHIN shards, never a global
    single-partition window."""
    from tada_spark.functions.sampling import sequence_pack

    docs = load(spark, sf, "documents").to_df().select("doc_id", "source", "text")
    counted = docs.withColumn("n_tokens", text.token_count(F.col("text"))).drop("text")
    return sequence_pack(counted, seq_len=256).select(
        "doc_id", "source", "n_tokens", "start_offset", "bin"
    )


SEQUENCE_PACK_SQL = r"""
WITH c AS (
  SELECT doc_id, source,
         len(regexp_extract_all(TRIM(text), '\S+'))::BIGINT AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       (SUM(n_tokens) OVER w - n_tokens)::BIGINT AS start_offset,
       ((SUM(n_tokens) OVER w - n_tokens) // 256)::BIGINT AS bin
FROM c
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def winnow_fingerprints_oracle(spark, sf):
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03) with the md5
    hash family — DuckDB replicates the rolling k-gram hashes AND the
    w-window minima, so the previously rows-only winnowing core is
    hash-verified end to end (same doc_id<100 slice as the pair query;
    xxhash64 remains the production family)."""
    docs = load(spark, sf, "documents").to_df().filter(F.col("doc_id") < 100)
    return text.winnow_fingerprints_long(
        docs, id_col="doc_id", text_col="text", k=8, w=16, hash_family="md5"
    )


WINNOW_ORACLE_SQL = """
WITH pos AS (
  SELECT doc_id, i,
         ('0x' || md5(substr(text, i, 8))[1:8])::BIGINT AS h,
         LENGTH(text) - 7 AS n
  FROM documents, UNNEST(generate_series(1, GREATEST(LENGTH(text) - 7, 0))) u(i)
  WHERE doc_id < 100
), wins AS (
  SELECT doc_id, i, n,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
  FROM pos
)
SELECT DISTINCT doc_id, fp FROM wins WHERE i <= n - 15
"""


def simhash_oracle(spark, sf):
    """32-bit md5-family SimHash fingerprints, hash-verified against
    DuckDB's replica of the per-bit majority vote (the third LSH family
    upgraded from rows-only; 64-bit xxhash64 stays production)."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    # pin the blank/NULL-text contract explicitly: simhash is NULL for
    # empty/whitespace-only/NULL text (r9 blank-doc guard) while the
    # oracle's UNNEST would still hash the phantom '' token — filter
    # both sides identically
    return docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)
    ).select(
        "doc_id", dedup.simhash(F.col("text"), num_bits=32, hash_family="md5").alias("sh")
    )


_V = ",\n         ".join(
    f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32)
)
_S = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
SIMHASH_ORACLE_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_distinct(regexp_split_to_array(lower(TRIM(text)), '\s+'))) AS t
  FROM documents WHERE text IS NOT NULL AND TRIM(text) != ''
), h AS (
  SELECT doc_id, ('0x' || md5(t)[1:8])::BIGINT AS hv FROM toks
), votes AS (
  SELECT doc_id,
         {_V}
  FROM h GROUP BY doc_id
)
SELECT doc_id, ({_S})::BIGINT AS sh FROM votes
"""


def stream_corpus_prep(spark, sf):
    """Ingestion-time corpus prep: the batch corpus_prep_pipeline's
    gate→dedup stages as ONE Structured Streaming job — Gopher quality
    gate (stateless filter) → exact dedup (dropDuplicates keyed state on
    the content fingerprint) → per-language kept-fingerprint counts.
    Driven to completion with availableNow; in production the dedup
    state is watermark-bounded to the dedup horizon. Deterministic
    oracle: WHICH doc of a dup group survives is arrival-order racy, but
    the fingerprint SET per language (and so its count) is not."""
    from tada_spark.functions.text import fingerprint, gopher_keep
    from tada_spark.streaming.windows import run_available_now

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    kept = (
        # same tuned gate as the batch corpus_prep_pipeline (defaults
        # assume natural prose and would zero out the synthetic corpus);
        # dedup keyed per (lang, fp) so per-language counts stay
        # deterministic even if one fingerprint appears under two langs
        stream.filter(gopher_keep(F.col("text"), min_words=30, min_stop_hits=1))
        .select("lang", fingerprint(F.col("text")).alias("fp"))
        .dropDuplicates(["lang", "fp"])
    )
    batch = run_available_now(kept, "q_stream_corpus_prep", output_mode="append", state_partitions=_stream_state_partitions(spark, sf, "documents"))
    return batch.groupBy("lang").agg(F.count("*").alias("n_unique_docs"))


# same gate CTEs as CORPUS_PREP_SQL (the shared _GATE_CTES_SQL
# constant); only the tail differs (distinct fingerprints per language,
# the arrival-order-independent statistic)
STREAM_CORPUS_PREP_SQL = (
    _GATE_CTES_SQL
    + r""", fp AS (
  SELECT lang, MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM f
)
SELECT lang, COUNT(DISTINCT fp) AS n_unique_docs FROM fp GROUP BY lang
"""
)


def kmeans_embeddings(spark, sf):
    """Quantized k-means over the embeddings table (functions/similarity.
    kmeans_quantized, k=4, 2 assignment rounds): an ITERATIVE ML
    primitive whose every arithmetic step is integer-exact or
    deterministically rounded, so the final assignments hash-match
    DuckDB's unrolled replica — the same exactness discipline as the
    relational tier, applied to Lloyd's algorithm."""
    from tada_spark.functions.similarity import kmeans_quantized

    emb = load(spark, sf, "embeddings").to_df().select("vec_id", "embedding")
    return kmeans_quantized(emb, k=4, iters=2).select("vec_id", "cluster")


KMEANS_SQL = """
WITH qd AS (
  SELECT vec_id AS vid, i - 1 AS dim,
         FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5)::BIGINT AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) u(i)
), c0 AS (
  -- init = the k smallest vids (same rule as kmeans_quantized's
  -- orderBy(vid).limit(k)), NOT an id-space assumption like vid < 4
  SELECT vid AS cid, dim, val AS cval
  FROM (SELECT *, DENSE_RANK() OVER (ORDER BY vid) AS vrk FROM qd)
  WHERE vrk <= 4
), d1 AS (
  SELECT q.vid, c.cid, SUM((q.val - c.cval) * (q.val - c.cval)) AS dist
  FROM qd q JOIN c0 c ON q.dim = c.dim GROUP BY q.vid, c.cid
), a1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn FROM d1
  ) WHERE rn = 1
), c1 AS (
  SELECT a1.cid, q.dim,
         FLOOR(SUM(q.val)::DOUBLE / COUNT(*) + 0.5)::BIGINT AS cval
  FROM a1 JOIN qd q ON q.vid = a1.vid GROUP BY a1.cid, q.dim
), d2 AS (
  SELECT q.vid, c.cid, SUM((q.val - c.cval) * (q.val - c.cval)) AS dist
  FROM qd q JOIN c1 c ON q.dim = c.dim GROUP BY q.vid, c.cid
)
SELECT vid AS vec_id, cid AS cluster FROM (
  SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn FROM d2
) WHERE rn = 1
"""


def duplicate_span_stats_docs(spark, sf):
    """Cross-document duplicate-span statistics (functions/dedup.
    duplicate_span_stats, k=8 tokens): the substring-level dedup
    measurement (Lee et al. 2021) complementing doc-level exact_dedup,
    paragraph_dedup and the LSH families. One fingerprint-keyed shuffle
    over the k-gram stream; never pairwise."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return dedup.duplicate_span_stats(docs, k=8)


DUP_SPAN_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(toks[u.i + 1 : u.i + 8], ' ')) AS fp,
         doc_id * 1048576 + u.i AS occ
  FROM t, UNNEST(generate_series(0, len(toks) - 8)) u(i)
  WHERE len(toks) >= 8
), c AS (
  SELECT fp, MIN(occ) AS first_occ FROM g GROUP BY fp
)
SELECT g.doc_id, COUNT(*) AS n_spans,
       SUM(CASE WHEN g.occ <> c.first_occ THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
       FLOOR((SUM(CASE WHEN g.occ <> c.first_occ THEN 1 ELSE 0 END)::DOUBLE / COUNT(*))
             * 1000000 + 0.5) / 1000000 AS dup_span_frac
FROM g JOIN c USING (fp)
GROUP BY g.doc_id
"""


def remove_duplicate_spans_docs(spark, sf):
    """Duplicate-span REMOVAL (functions/dedup.remove_duplicate_spans,
    k=8): the acting half of substring dedup — later copies lose exactly
    their repeated runs (token kept iff ANY covering k-gram is canonical),
    the canonical copy survives verbatim. Content-addressed rebuilt text
    (md5) so the oracle verifies the exact surviving token sequence."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return dedup.remove_duplicate_spans(docs, k=8)


REMOVE_SPANS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(toks[u.i + 1 : u.i + 8], ' ')) AS fp,
         doc_id * 1048576 + u.i AS occ
  FROM t, UNNEST(generate_series(0, len(toks) - 8)) u(i)
  WHERE len(toks) >= 8
), c AS (
  SELECT fp, MIN(occ) AS first_occ FROM g GROUP BY fp
), cover AS (
  SELECT g.doc_id, ct.t,
         MIN(CASE WHEN g.occ <> c.first_occ THEN 1 ELSE 0 END) AS all_dup
  FROM g JOIN c USING (fp), UNNEST(generate_series(g.pos, g.pos + 7)) ct(t)
  GROUP BY g.doc_id, ct.t
), tok AS (
  SELECT doc_id, s.t, toks[s.t + 1] AS tk
  FROM t, UNNEST(generate_series(0, len(toks) - 1)) s(t)
)
SELECT cover.doc_id,
       COUNT(*) AS n_tokens,
       SUM(all_dup)::BIGINT AS n_removed,
       -- COALESCE: a fully-duplicated doc keeps zero tokens; Spark's
       -- collect_list gives [] -> md5('') while a bare LIST aggregate
       -- over zero filtered rows is NULL
       md5(COALESCE(array_to_string(LIST(tok.tk ORDER BY cover.t)
                                    FILTER (WHERE all_dup = 0), ' '), '')) AS cleaned_md5
FROM cover JOIN tok ON cover.doc_id = tok.doc_id AND cover.t = tok.t
GROUP BY cover.doc_id
UNION ALL
-- token_count convention: whitespace-only text is 0 tokens, not the
-- phantom [''] that the split reports (mirrors the Spark-side guard)
SELECT doc_id,
       CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
       0::BIGINT AS n_removed,
       md5(array_to_string(toks, ' ')) AS cleaned_md5
FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents)
WHERE CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE len(toks) END < 8
"""


def chunk_windows_docs(spark, sf):
    """Overlapping token-window chunking (functions/text.chunk_windows,
    size=64 stride=48): RAG / fixed-length-example prep. Stateless
    per-row explode — no shuffle, scan-bandwidth scaling."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return text.chunk_windows(docs, size=64, stride=48)


CHUNK_WINDOWS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE LENGTH(TRIM(text)) > 0
)
SELECT doc_id, u.s // 48 AS chunk_idx, u.s AS start_tok,
       LEAST(64, len(toks) - u.s) AS n_chunk_tokens,
       md5(array_to_string(toks[u.s + 1 : u.s + 64], ' ')) AS chunk_md5
FROM t, UNNEST(generate_series(0, len(toks) - 1, 48)) u(s)
"""


def key_skew_profile_events(spark, sf):
    """Heavy-hitter key diagnosis (operators/skew.key_skew_profile) on
    the events join key — the measurement that decides whether the
    salted_agg / salted_join paths should engage. One hash-agg shuffle +
    1-row scalar broadcast + TakeOrderedAndProject."""
    from tada_spark.operators.skew import key_skew_profile

    ev = load(spark, sf, "events").to_df()
    return key_skew_profile(ev, "user_id", top_n=10)


SKEW_PROFILE_SQL = """
WITH c AS (SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY user_id),
     t AS (SELECT COUNT(*) AS total FROM events)
SELECT key, cnt, FLOOR((cnt::DOUBLE / total) * 1000000 + 0.5) / 1000000 AS share
FROM c, t
ORDER BY cnt DESC, key ASC NULLS LAST LIMIT 10
"""


def domain_mix_weights_langs(spark, sf):
    """Temperature (alpha=0.5) domain mixing weights per language
    (functions/sampling.domain_mix_weights): the multilingual sampling
    knob, made hash-exact via integer-quantized sqrt (IEEE sqrt is
    correctly rounded; the normalizing sum is integer)."""
    from tada_spark.functions.sampling import domain_mix_weights

    docs = load(spark, sf, "documents").to_df()
    return domain_mix_weights(docs, "lang")


MIX_WEIGHTS_SQL = """
WITH c AS (SELECT lang AS domain, COUNT(*) AS n_docs FROM documents GROUP BY lang),
     q AS (SELECT domain, n_docs, FLOOR(SQRT(n_docs) * 1000000 + 0.5)::BIGINT AS q FROM c),
     t AS (SELECT SUM(q)::BIGINT AS q_total, SUM(n_docs)::BIGINT AS n_total FROM q)
SELECT domain, n_docs,
       FLOOR((q::DOUBLE / q_total) * 1000000 + 0.5) / 1000000 AS weight,
       FLOOR(((q::DOUBLE / q_total) / (n_docs::DOUBLE / n_total)) * 1000000 + 0.5) / 1000000 AS boost
FROM q, t
"""


def incremental_dedup_delta(spark, sf):
    """Incremental (delta) exact dedup (functions/dedup.incremental_dedup)
    — the daily-ingest pattern: the standing corpus is the deterministic
    80% of documents by md5(doc_id) bucket (same split rule as
    sampling.hash_bucket), the delta is the other 20%; delta docs are
    admitted iff their fingerprint is absent from the corpus AND
    first-in-batch. LEFT ANTI equi-join + one fp aggregate; with the
    corpus fp table bucketed by fp, a daily delta shuffles only itself."""
    from tada_spark.functions.sampling import hash_bucket

    docs = load(spark, sf, "documents").to_df()
    bucket = hash_bucket(F.col("doc_id").cast("string"))
    corpus = docs.filter(bucket < 80)
    delta = docs.filter(bucket >= 80)
    return dedup.incremental_dedup(delta, corpus)


INCR_DEDUP_SQL = """
WITH b AS (
  SELECT doc_id, text,
         ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 AS bucket
  FROM documents
), corpus AS (
  SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM b WHERE bucket < 80
), delta AS (
  SELECT doc_id, MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM b WHERE bucket >= 80
)
-- NOT EXISTS, never NOT IN: one NULL corpus fingerprint would make
-- NOT IN return zero rows, and a NULL delta fp would be dropped where
-- Spark's left_anti keeps it (review finding; NULL fps are filtered on
-- both sides anyway — this pins the join semantics too)
SELECT MIN(doc_id) AS doc_id, fp
FROM delta d WHERE fp IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = d.fp)
GROUP BY fp
"""


def domain_cap_docs(spark, sf):
    """Per-domain hard cap (functions/sampling.domain_cap): keep at most
    40 docs per language, chosen by content-addressed md5 order —
    reproducible across runs/engines/partition layouts, the
    over-crawled-domain volume guard beside temperature weighting."""
    from tada_spark.functions.sampling import domain_cap

    docs = load(spark, sf, "documents").to_df().select("doc_id", "lang")
    return domain_cap(docs, "lang", "doc_id", cap=40)


DOMAIN_CAP_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT ASC NULLS LAST,
                    doc_id ASC NULLS LAST
         ) AS rn
  FROM documents
) WHERE rn <= 40
"""


def curation_report_langs(spark, sf):
    """End-to-end curation REPORT — the summary a data-curation run
    produces per language before anyone commits GPU-hours: corpus size,
    Gopher-gate survivors, cross-doc duplicate-span fraction, and the
    chunk inventory the corpus would yield. Composes the validated
    pieces (gopher_keep gate, duplicate_span_stats, chunk_windows'
    window rule) into ONE plan with per-lang aggregates; every number is
    integer-exact or floor-rounded so the composition hash-checks like
    its parts. Zero-survivor languages report 0 (left join + coalesce on
    BOTH engines); a zero-span language reports a NULL fraction (never a
    divide — Spark 4 ANSI would throw)."""
    docs = load(spark, sf, "documents", spread=True).to_df()
    # r12 single-pass restructure (guide §2.3/§1.2): the old shape
    # scanned+tokenized documents FOUR times (base, gate, span join,
    # chunk explode+join) and 4-way left-joined per-lang aggregates.
    # (a) base/kept/chunks collapse into ONE per-doc projection + one
    # lang aggregate: the chunk COUNT is chunk_windows' window rule in
    # closed form ((n-1) div 48 + 1 for non-empty docs — exactly the
    # expression the DuckDB oracle always used), so the 64-token slice
    # + md5 explode never runs for a count-only consumer. (b) the span
    # pipeline carries lang through the k-gram stream (_span_stream
    # carry=) and aggregates per lang directly — the per-doc
    # aggregation + join back onto documents disappears (summing
    # per-doc counts per lang ≡ counting occurrences per lang).
    # Result columns and values are identical (oracle hash-match at
    # sf0.001 + sf0.01). Measured at sf0.1: 32.4 s → see
    # OPTIMIZATION_r12.md.
    toks = F.split(F.trim(F.col("text")), r"\s+")
    chunk_cnt = F.when(
        F.length(F.trim(F.col("text"))) > 0,
        F.floor((F.size(toks) - 1) / F.lit(48)) + 1,
    ).otherwise(0).cast("long")
    base = (
        docs.select(
            "lang",
            text.gopher_keep(F.col("text"), min_words=30, min_stop_hits=1).alias("__keep__"),
            chunk_cnt.alias("__chunks__"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("__keep__"), 1).otherwise(0)).alias("n_gate_kept"),
            F.sum("__chunks__").alias("n_chunks"),
        )
    )
    sp, first = dedup._span_stream(
        docs.select("doc_id", "lang", "text"), "text", "doc_id", 8, carry=("lang",)
    )
    dup = F.when(F.col("occ") != F.col("first_occ"), 1).otherwise(0)
    spans = (
        # the sid filter mirrors the old shape's inner join back onto
        # documents (NULL-id docs never matched there); `first` is
        # unaffected — min(occ) skips the NULL occ such rows carry
        sp.filter(F.col("sid").isNotNull())
        .join(first, "fp")
        .groupBy("lang")
        .agg(F.count("*").alias("spans"), F.sum(dup).alias("dups"))
    )
    return (
        base.join(spans, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_gate_kept", F.lit(0)).alias("n_gate_kept"),
            F.when(
                F.coalesce("spans", F.lit(0)) == 0, F.lit(None).cast("double")
            ).otherwise(_round_det(F.col("dups") / F.col("spans"), 6)).alias("dup_span_frac"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        )
    )


CURATION_REPORT_SQL = (
    _GATE_CTES_SQL
    + r""", kept AS (
  SELECT lang, COUNT(*) AS n_gate_kept FROM f GROUP BY lang
), base AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), tk AS (
  SELECT doc_id, lang, text, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), g AS (
  SELECT tk.lang, tk.doc_id * 1048576 + u.i AS occ,
         md5(array_to_string(toks[u.i + 1 : u.i + 8], ' ')) AS fp
  FROM tk, UNNEST(generate_series(0, len(toks) - 8)) u(i)
  WHERE len(toks) >= 8
), cmin AS (
  SELECT fp, MIN(occ) AS first_occ FROM g GROUP BY fp
), sp AS (
  SELECT lang, COUNT(*) AS spans,
         SUM(CASE WHEN g.occ <> cmin.first_occ THEN 1 ELSE 0 END) AS dups
  FROM g JOIN cmin USING (fp) GROUP BY lang
), ch AS (
  -- chunk count per doc = |sequence(0, n-1, 48)| = (n-1)//48 + 1, the
  -- chunk_windows window rule in closed form (empty docs yield none)
  SELECT lang,
         SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE (len(toks) - 1) // 48 + 1 END)::BIGINT AS n_chunks
  FROM tk GROUP BY lang
)
SELECT base.lang, base.n_docs,
       COALESCE(kept.n_gate_kept, 0) AS n_gate_kept,
       CASE WHEN COALESCE(sp.spans, 0) = 0 THEN NULL
            ELSE FLOOR((sp.dups::DOUBLE / sp.spans) * 1000000 + 0.5) / 1000000
       END AS dup_span_frac,
       COALESCE(ch.n_chunks, 0) AS n_chunks
FROM base
LEFT JOIN kept USING (lang)
LEFT JOIN sp USING (lang)
LEFT JOIN ch USING (lang)
"""
)


def bucketed_join_orders_customer(spark, sf):
    """Bucketed co-located join through sources/bucketed.py (r4 verdict
    stretch #8 — driver evidence for the pytest-only module): both sides
    of the orders⋈customer join are persisted bucketed+sorted by the
    join key with the SAME bucket count, so the subsequent sort-merge
    join plans with ZERO exchanges below the join — each task streams
    matching pre-sorted bucket files from both sides. The only exchange
    in the whole plan is the final per-segment aggregate (pinned in
    tests/test_plan_shapes.py). At 100 TB this is the pattern that turns
    a recurring fact-fact join from the dominant shuffle into a local
    merge (bucket count sized so a bucket fits an executor)."""
    import os
    import re
    import shutil
    import time
    from urllib.parse import urlparse

    from tada_spark.sources.bucketed import read_table, write_bucketed

    # Table names carry the applicationId (the jsonl_pipeline_golden
    # discipline): two LIVE sessions at the same warehouse (bench +
    # correctness sweep) would otherwise drop/overwrite each other's
    # tables mid-read. A prior RUN of this session leaves dirs the
    # in-memory catalog doesn't know about — saveAsTable then fails
    # with LOCATION_ALREADY_EXISTS — so our own two layers are dropped
    # first, and dead sessions' leftovers are swept by age (>30 min —
    # any live session's write→read window is seconds, and re-runs
    # refresh the dir mtime, so a sweep can never hit a live table).
    app = re.sub(r"\W", "_", spark.sparkContext.applicationId)
    t_orders, t_cust = f"q_buck_orders_{app}", f"q_buck_customer_{app}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    for t in (t_orders, t_cust):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            p = os.path.join(wh, d)
            if d.startswith("q_buck_") and not d.endswith(app):
                try:
                    if time.time() - os.path.getmtime(p) > 1800:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass

    orders = Frame(load(spark, sf, "orders").to_df().select("o_custkey", "o_totalprice"))
    cust = Frame(load(spark, sf, "customer").to_df().select("c_custkey", "c_mktsegment"))
    write_bucketed(orders, t_orders, bucket_by=["o_custkey"], n_buckets=8,
                   sort_by=["o_custkey"])
    write_bucketed(cust, t_cust, bucket_by=["c_custkey"], n_buckets=8,
                   sort_by=["c_custkey"])
    o = read_table(spark, t_orders).to_df()
    c = read_table(spark, t_cust).to_df()
    j = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0)).alias("total"),
    )


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       SUM(ROUND(o_totalprice * 100)::BIGINT) / 100.0 AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
"""


def inverted_index_terms(spark, sf):
    """Term → postings inverted index over the corpus
    (functions/text.inverted_index): df, total_tf, and the 16 lowest
    doc ids per term — the retrieval-side index build. Two hash
    aggregates with map-side partials; vocabulary-sized output."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    idx = text.inverted_index(docs, max_postings=16)
    return idx.select("term", "df", "total_tf", "top_postings")


INVERTED_INDEX_SQL = r"""
WITH terms AS (
  SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS term
  FROM documents WHERE LENGTH(TRIM(text)) > 0
), tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM terms WHERE term != '' GROUP BY term, doc_id
)
SELECT term, COUNT(*) AS df, SUM(tf)::BIGINT AS total_tf,
       ARRAY_TO_STRING(LIST_TRANSFORM((LIST(doc_id ORDER BY doc_id ASC))[1:16], x -> x::VARCHAR), ',') AS top_postings
FROM tf GROUP BY term
"""


#: BM25 demo query — a fixed bag of terms present in the synthetic corpus.
BM25_QUERY_TERMS = ("spark", "window", "merge", "scan")


def bm25_search_docs(spark, sf):
    """BM25 top-20 (functions/text.bm25_rank, k1=1.2 b=0.75) for a fixed
    query over the corpus, hash-exact across engines: STANDARD log-form
    RSJ idf computed via det_ln (a transcendental-free deterministic ln
    — bit-length range reduction + atanh series of correctly-rounded
    IEEE ops, plans/semantics.py), per-term contributions quantized to
    integer millionths BEFORE the cross-term sum (float-order-free),
    top-k via TakeOrderedAndProject."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return text.bm25_rank(docs, BM25_QUERY_TERMS, top_k=20)


#: Shared BM25 oracle CTE chain (tokenize → df → det_ln idf → quantized
#: per-term contributions) — used verbatim by BM25_SQL and RRF_SQL so
#: the two entries can never drift apart one site at a time.
_BM25_CTES = r"""toks AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents WHERE LENGTH(TRIM(text)) > 0) t(doc_id, term)
  WHERE term != ''
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT COUNT(*) FROM toks) AS total_toks
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('spark', 'window', 'merge', 'scan') GROUP BY doc_id, term
), df_t AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), idf_r AS (
  -- det_ln (plans/semantics.py) replicated CTE for CTE: quantize the
  -- RSJ ratio to a shared integer, bit-length range reduction, atanh
  -- series — only correctly-rounded IEEE ops, bit-identical to Spark
  SELECT term,
         GREATEST(CAST(FLOOR((((n_docs - df) + 0.5) / (df + 0.5)) * 1000000.0 + 0.5) AS BIGINT),
                  CAST(1 AS BIGINT)) AS r
  FROM df_t, stats
), idf_k AS (
  SELECT term, r, (LENGTH(BIN(r)) - 1) AS k FROM idf_r
), idf_z AS (
  SELECT term, k,
         (((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)) - 1.0)
          / ((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)) + 1.0)) AS z
  FROM idf_k
), idf AS (
  SELECT term,
         ((CAST(k AS DOUBLE) * 0.6931471805599453)
          + ((2.0 * z) * (1.0 + (z*z) * ((1.0/3.0) + (z*z) * ((1.0/5.0) + (z*z) * ((1.0/7.0)
             + (z*z) * ((1.0/9.0) + (z*z) * ((1.0/11.0) + (z*z) * ((1.0/13.0) + (z*z) * (1.0/15.0)))))))))
         ) - 13.815510557964274 AS idf
  FROM idf_z
), contrib AS (
  -- expression tree mirrors functions/text.bm25_rank token for token:
  -- idf = det_ln(((N - df) + 0.5)/(df + 0.5)); tf_part k1=1.2 b=0.75;
  -- floor-quantize to e6 BEFORE the cross-term sum
  SELECT tf.doc_id,
         FLOOR((idf
                * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (total_toks::DOUBLE / n_docs::DOUBLE))))))
               * 1000000 + 0.5)::BIGINT AS c_e6
  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), stats
)"""

BM25_SQL = (
    "WITH "
    + _BM25_CTES
    + """
SELECT doc_id, SUM(c_e6)::BIGINT AS score_e6, COUNT(*) AS n_terms_hit
FROM contrib GROUP BY doc_id
ORDER BY score_e6 DESC, doc_id ASC LIMIT 20
"""
)


def sq8_ann_topk(spark, sf):
    """SQ8 compressed-domain ANN with exact re-rank
    (functions/similarity.sq8_topk): per-dim min/max train (in-plan
    1-row broadcast), uint8 codes, integer-dot shortlist of 10, exact
    cosine re-rank to top-5 for the 5 lowest-id probes. The integer
    phase needs no rounding idiom at all (exact longs); only the final
    cosine uses the floor idiom."""
    emb = load(spark, sf, "embeddings").to_df()
    return similarity.sq8_topk(emb, n_probes=5, k=5, shortlist=10)


SQ8_ANN_SQL = """
WITH live AS (
  -- mirrors the Spark-side up-front null/empty filter (sq8_topk):
  -- probe selection must run on the SAME filtered population, else a
  -- null vector among the 5 lowest ids would pick different probe sets
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
), e AS (
  SELECT vec_id, s.dim AS dim, (embedding::DOUBLE[])[s.dim] AS x
  FROM live, UNNEST(generate_series(1, len(embedding))) AS s(dim)
), st AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY dim
), q AS (
  SELECT vec_id, e.dim,
         CASE WHEN mx > mn
              THEN LEAST(255, GREATEST(0, FLOOR(((x - mn) * 255.0) / (mx - mn) + 0.5)::INT))
              ELSE 0 END AS c
  FROM e JOIN st ON e.dim = st.dim
), probes AS (
  SELECT vec_id FROM live ORDER BY vec_id ASC LIMIT 5
), dots AS (
  SELECT pq.vec_id AS query_id, dq.vec_id AS neighbor_id, SUM(pq.c * dq.c)::BIGINT AS q_score
  FROM q pq JOIN q dq ON dq.dim = pq.dim AND dq.vec_id != pq.vec_id
  WHERE pq.vec_id IN (SELECT vec_id FROM probes)
  GROUP BY pq.vec_id, dq.vec_id
), cand AS (
  SELECT query_id, neighbor_id, q_score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY q_score DESC, neighbor_id ASC) AS srk
  FROM dots
), rer AS (
  SELECT c.query_id, c.neighbor_id, c.q_score,
         LIST_DOT_PRODUCT(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[])
         / (SQRT(LIST_DOT_PRODUCT(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[]))
            * SQRT(LIST_DOT_PRODUCT(ne.embedding::DOUBLE[], ne.embedding::DOUBLE[]))) AS cos_raw
  FROM cand c
  JOIN live qe ON qe.vec_id = c.query_id
  JOIN live ne ON ne.vec_id = c.neighbor_id
  WHERE c.srk <= 10
)
SELECT query_id, neighbor_id, q_score,
       FLOOR((cos_raw) * 1000000 + 0.5) / 1000000 AS cos, rank
FROM (SELECT query_id, neighbor_id, q_score, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
      FROM rer)
WHERE rank <= 5
"""


def source_overlap_matrix(spark, sf):
    """Cross-source contamination matrix (functions/dedup.source_overlap,
    char 16-gram shingles): which feeds duplicate each other, as shared
    distinct-shingle counts + set Jaccard per source pair. The
    feed-level complement of doc-level dedup."""
    docs = load(spark, sf, "documents").to_df()
    return dedup.source_overlap(docs, "source", "text", shingle_chars=16)


SOURCE_OVERLAP_SQL = """
WITH sh AS (
  SELECT DISTINCT source AS src, g FROM (
    SELECT source,
           UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 15, 1) + 1),
                  i -> SUBSTR(text, i::INT, 16)))) AS g
    FROM documents WHERE LENGTH(TRIM(text)) > 0
  ) WHERE g IS NOT NULL AND g != ''
), c AS (
  SELECT src, COUNT(*) AS n FROM sh GROUP BY src
), p AS (
  SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
  GROUP BY a.src, b.src
)
SELECT source_a, source_b, n_shared,
       FLOOR((n_shared::DOUBLE / (ca.n + cb.n - n_shared)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM p JOIN c ca ON ca.src = p.source_a JOIN c cb ON cb.src = p.source_b
"""


def validate_expectations_orders(spark, sf):
    """Declarative data-quality audit (operators/validate): six rules
    over orders — completeness (not_null), key uniqueness, a price
    range, a status value-set, a priority regex — ALL computed in one
    aggregate pass (one scan however many rules). The range and set
    rules are deliberately violated by the data (totalprice > 400k
    exists; status 'P' exists) so the report's nonzero path is
    exercised, not just the all-green path."""
    from tada_spark.operators.validate import (
        expect_in_set,
        expect_not_null,
        expect_range,
        expect_regex,
        expect_unique,
        validate,
    )

    orders = load(spark, sf, "orders").to_df()
    return validate(
        orders,
        [
            expect_not_null("o_orderkey"),
            expect_unique("o_orderkey"),
            expect_not_null("o_custkey"),
            expect_range("o_totalprice", 0.0, 400000.0),
            expect_in_set("o_orderstatus", ("O", "F")),
            expect_regex("o_orderpriority", "^[1-5]-"),
        ],
    )


VALIDATE_EXPECT_SQL = """
WITH s AS (
  SELECT COUNT(*) AS total,
         COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS v0,
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v1, COUNT(o_orderkey) AS c1,
         COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS v2,
         COUNT(CASE WHEN o_totalprice IS NOT NULL AND NOT (o_totalprice >= 0.0 AND o_totalprice <= 400000.0) THEN 1 END) AS v3,
         COUNT(o_totalprice) AS c3,
         COUNT(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F') THEN 1 END) AS v4,
         COUNT(o_orderstatus) AS c4,
         COUNT(CASE WHEN o_orderpriority IS NOT NULL AND NOT REGEXP_MATCHES(o_orderpriority, '^[1-5]-') THEN 1 END) AS v5,
         COUNT(o_orderpriority) AS c5
  FROM orders
)
SELECT 'not_null' AS rule, 'o_orderkey' AS column_name, v0::BIGINT AS n_violations, total::BIGINT AS n_checked, v0 = 0 AS ok FROM s
UNION ALL SELECT 'unique', 'o_orderkey', v1::BIGINT, c1::BIGINT, v1 = 0 FROM s
UNION ALL SELECT 'not_null', 'o_custkey', v2::BIGINT, total::BIGINT, v2 = 0 FROM s
UNION ALL SELECT 'range', 'o_totalprice', v3::BIGINT, c3::BIGINT, v3 = 0 FROM s
UNION ALL SELECT 'in_set', 'o_orderstatus', v4::BIGINT, c4::BIGINT, v4 = 0 FROM s
UNION ALL SELECT 'regex', 'o_orderpriority', v5::BIGINT, c5::BIGINT, v5 = 0 FROM s
"""


def temperature_resample_docs(spark, sf):
    """The ACTING half of temperature mixing
    (functions/sampling.temperature_resample): materialize a 300-row
    corpus whose per-language quotas follow the alpha=0.5 weights —
    integer quota arithmetic (quota = floor(q·T/q_total) on exact
    longs), rows picked per language by content-addressed md5 order."""
    from tada_spark.functions.sampling import temperature_resample

    docs = load(spark, sf, "documents").to_df().select("doc_id", "lang")
    return temperature_resample(docs, "lang", "doc_id", 300)


TEMPERATURE_RESAMPLE_SQL = """
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
     q AS (SELECT lang, FLOOR(SQRT(n_docs) * 1000000 + 0.5)::BIGINT AS q FROM c),
     t AS (SELECT SUM(q)::BIGINT AS q_total FROM q),
     -- HUGEINT product // exact integral division: mirrors the Spark
     -- side's DECIMAL(38,0) DIV (no double division, no long overflow)
     quota AS (SELECT lang, ((q::HUGEINT * 300) // q_total)::BIGINT AS quota FROM q, t),
     r AS (
       SELECT doc_id, lang,
              ROW_NUMBER() OVER (
                PARTITION BY lang
                ORDER BY ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT ASC NULLS LAST,
                         doc_id ASC NULLS LAST
              ) AS rn
       FROM documents
     )
SELECT doc_id, lang FROM r JOIN quota USING (lang) WHERE rn <= quota
"""


def stream_trending_types(spark, sf):
    """Streaming trending-items: per-hour event-type counts via the
    streaming tumbling window (keys=[event_type]), then top-3 types per
    hour ranked on the completed snapshot — the dashboard query every
    event pipeline serves. Arrival-order-independent: the rank reads
    the final complete-mode counts, ties broken by type name."""
    from pyspark.sql.window import Window

    from tada_spark.streaming import run_available_now, stream_resample

    stream = _stream_events(spark, sf)
    out = stream_resample(
        stream, "ts", "1 hour", {"n": F.count("*")}, keys=["event_type"]
    )
    snap = run_available_now(out, "q_stream_trending", state_partitions=_stream_state_partitions(spark, sf))
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        snap.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n", "rk")
    )


STREAM_TRENDING_SQL = """
SELECT window_start, event_type, n, rk FROM (
  SELECT window_start, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY n DESC, event_type ASC) AS rk
  FROM (
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
  )
) WHERE rk <= 3
"""


def snapshot_diff_docs(spark, sf):
    """Corpus snapshot diff (functions/dedup.snapshot_diff): added /
    removed / content-changed keys between two deterministic synthetic
    snapshots of documents (old = doc_id%10 != 0; new = doc_id%7 != 0
    with ' v2' appended to every doc_id%13 == 0 text) — the
    incremental-ingest churn audit. One full-outer equi-join on
    fingerprint-reduced sides; output is churn-sized."""
    docs = load(spark, sf, "documents").to_df()
    old = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.snapshot_diff(old, new)


SNAPSHOT_DIFF_SQL = """
WITH oldt AS (
  SELECT doc_id,
         MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_old,
         1 AS in_old
  FROM documents WHERE doc_id % 10 != 0
), newt AS (
  SELECT doc_id,
         MD5(TRIM(REGEXP_REPLACE(LOWER(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END),
                                 '[^a-z0-9]+', ' ', 'g'))) AS fp_new,
         1 AS in_new
  FROM documents WHERE doc_id % 7 != 0
)
SELECT doc_id, status FROM (
  SELECT doc_id,
         CASE WHEN in_old IS NULL THEN 'added'
              WHEN in_new IS NULL THEN 'removed'
              WHEN fp_old IS DISTINCT FROM fp_new THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM oldt FULL OUTER JOIN newt USING (doc_id)
) WHERE status != 'unchanged'
"""


def dedup_threshold_sweep_docs(spark, sf):
    """Dedup threshold parameter sweep (functions/dedup
    .dedup_threshold_sweep): per candidate τ, firing near-dup pairs and
    docs a keep-lowest-id dedup would drop — same 20% sample / lang
    blocks / 4-gram Jaccard as jaccard_near_dups, the quadratic pair
    work done ONCE and swept by an explode."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    return dedup.dedup_threshold_sweep(
        docs.to_df(), (0.35, 0.5, 0.75, 0.9), block_cols=["lang"], ngram=4
    )


THRESHOLD_SWEEP_SQL = """
WITH s AS (
  SELECT doc_id, lang,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 3, 1) + 1),
                       i -> SUBSTR(text, i::INT, 4))) AS sh
  FROM documents WHERE doc_id % 5 = 0
), pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         FLOOR((LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
               / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)))) * 1000000 + 0.5) / 1000000 AS jaccard
  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
), fired AS (
  SELECT t.th AS threshold, id_b, jaccard
  FROM pr CROSS JOIN (SELECT UNNEST([0.35, 0.5, 0.75, 0.9]::DOUBLE[]) AS th) t
  WHERE jaccard >= t.th
)
SELECT threshold, COUNT(*) AS n_pairs, COUNT(DISTINCT id_b) AS n_docs_removed
FROM fired GROUP BY threshold
"""


def bpe_merge_docs(spark, sf):
    """First BPE tokenizer-training round (functions/text
    .bpe_merge_candidates): top-20 adjacent character-pair merges by
    word-frequency-weighted count. The corpus collapses to the
    vocabulary table before the pair explode — the classic BPE trick
    that makes training corpus-size-independent past the word count."""
    docs = load(spark, sf, "documents").to_df().select("text")
    return text.bpe_merge_candidates(docs, top_k=20)


BPE_MERGE_SQL = r"""
WITH words AS (
  SELECT t.w FROM (
    SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS w
    FROM documents WHERE LENGTH(TRIM(text)) > 0
  ) t WHERE t.w != ''
), wc AS (
  SELECT w, COUNT(*) AS n FROM words GROUP BY w
), pairs AS (
  SELECT SUBSTR(w, i::INT, 2) AS pair, n
  FROM wc, UNNEST(RANGE(1, LENGTH(w))) t(i)
  WHERE LENGTH(w) >= 2
)
SELECT pair, SUM(n)::BIGINT AS n_occ
FROM pairs GROUP BY pair
ORDER BY n_occ DESC, pair ASC LIMIT 20
"""


def embedding_outliers_labels(spark, sf):
    """Per-label embedding outlier audit (functions/similarity
    .embedding_outliers): top-3 farthest-from-own-centroid vectors per
    label on the integer-exact grid (kmeans_quantized discipline:
    e6-quantized values, deterministically rounded centroid, pure long
    distances) — the mislabeled/corrupt-vector detector."""
    emb = load(spark, sf, "embeddings").to_df()
    return similarity.embedding_outliers(emb, top_k=3)


EMBEDDING_OUTLIERS_SQL = """
WITH qd AS (
  SELECT vec_id AS vid, label, i - 1 AS dim,
         FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5)::BIGINT AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) u(i)
), c AS (
  SELECT label, dim, FLOOR(SUM(val) / COUNT(*) + 0.5)::BIGINT AS cval
  FROM qd GROUP BY label, dim
), d AS (
  SELECT q.vid, q.label, SUM((q.val - c.cval) * (q.val - c.cval))::BIGINT AS dist2
  FROM qd q JOIN c ON q.label = c.label AND q.dim = c.dim
  GROUP BY q.vid, q.label
)
SELECT vid AS vec_id, label, dist2, rank FROM (
  SELECT vid, label, dist2,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vid ASC) AS rank
  FROM d
) WHERE rank <= 3
"""


def jsonl_pipeline_golden(spark, sf):
    """JSONL interchange round-trip certified end-to-end: documents →
    Frame.write_jsonl → Frame.read_jsonl (explicit schema) → per-lang
    aggregate. The query RAISES if the round-trip loses or mutates rows
    (count identity + anti-join emptiness), so this driver row certifies
    the JSONL source/sink pair, and the aggregate is ordinary
    oracle-checkable output computed FROM THE ROUND-TRIPPED data."""
    import os
    import tempfile

    # per-(session, SF) path + overwrite mode: repeated sweeps in ONE
    # session REPLACE the round-trip copy instead of accumulating /tmp
    # garbage, while the applicationId discriminator keeps two LIVE
    # sessions at the same sf (bench + correctness sweep) from racing
    # each other's overwrite/read-back
    d = os.path.join(
        tempfile.gettempdir(),
        f"tada_jsonl_golden_{os.path.basename(sf.rstrip('/'))}_"
        f"{spark.sparkContext.applicationId}",
    )
    docs = load(spark, sf, "documents").to_df().select("doc_id", "lang", "n_chars")
    Frame(docs).write_jsonl(f"{d}/docs")
    back = Frame.read_jsonl(
        spark, f"{d}/docs", schema="doc_id long, lang string, n_chars long"
    ).df
    # NULL-safe identity: plain anti-join equality would flag a row with
    # a NULL field as "lost" even though JSONL round-trips NULLs fine
    cond = (
        docs["doc_id"].eqNullSafe(back["doc_id"])
        & docs["lang"].eqNullSafe(back["lang"])
        & docs["n_chars"].eqNullSafe(back["n_chars"])
    )
    lost = docs.join(back, cond, "left_anti").count()
    if lost or back.count() != docs.count():
        raise AssertionError(f"JSONL round-trip identity broke: {lost} rows lost/mutated")
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


JSONL_PIPELINE_SQL = """
SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY lang
"""


def funnel_conversion_events(spark, sf):
    """Ordered funnel conversion (view → click → purchase, each step
    strictly AFTER the previous step's first completion) — the product-
    analytics staple, as three chained user-keyed aggregates: t1 = first
    view; t2 = first click after t1; t3 = first purchase after t2. Each
    stage is one hash-agg on user_id plus an equi-join back (all on the
    same key, so AQE reuses the partitioning); no window, no UDF. Output
    is one row per funnel step with how many users reached it."""
    ev = load(spark, sf, "events").to_df().select("user_id", "event_type", "ts")
    # NOT staged (r12): an A/B of lazy-localCheckpointing t1/t2 (each
    # feeds the next step AND the counts union) measured +138% at sf0.1
    # — the step tables are tiny (user-cardinality) and cheap to
    # re-derive, so the materialization barriers cost far more than the
    # duplicate reduce-side aggregates they remove (OPTIMIZATION_r12.md).
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count("*").alias("n")).select(F.lit(1).alias("step"), F.lit("view").alias("event_type"), "n")
        .unionByName(t2.agg(F.count("*").alias("n")).select(F.lit(2).alias("step"), F.lit("click").alias("event_type"), "n"))
        .unionByName(t3.agg(F.count("*").alias("n")).select(F.lit(3).alias("step"), F.lit("purchase").alias("event_type"), "n"))
    )
    return counts


FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, (SELECT COUNT(*) FROM t1) AS n
UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)
"""


def cohort_retention_events(spark, sf):
    """Cohort retention matrix: users grouped by first-seen DAY, counted
    as active per whole-week offset — the standard growth-analytics
    rollup. Two user-keyed aggregates (first-seen, then distinct
    activity) and pure integer date arithmetic; the matrix is
    cohort×weeks-sized, never event-sized."""
    ev = load(spark, sf, "events").to_df().select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    acts = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    # no broadcast hint: `first` is USER-cardinality (not k-sized) — both
    # sides are user-keyed, so the join co-partitions; AQE may still
    # choose a broadcast when the user table is actually small
    return (
        acts.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff(F.col("day"), F.col("cohort_day")) / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


COHORT_SQL = """
WITH first AS (
  SELECT user_id, MIN(ts::DATE) AS cohort_day FROM events GROUP BY user_id
), acts AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
)
SELECT cohort_day, FLOOR(DATE_DIFF('day', cohort_day, day) / 7)::BIGINT AS week_offset,
       COUNT(DISTINCT user_id) AS n_active_users
FROM acts JOIN first USING (user_id)
GROUP BY cohort_day, week_offset
"""


def dense_resample_events(spark, sf):
    """Gap-FILLED hourly resample: every hour bucket between the first
    and last event exists in the output — empty hours carry n = 0 and
    forward-fill the last seen hourly mean (plain Resample emits only
    observed buckets; dashboards and join-on-time consumers need the
    dense series). The bucket spine generates from ONE 1-row min/max
    aggregate (sequence + explode — no join to build it), the hourly
    aggregate left-joins onto it, and the ffill window runs over the
    SPINE (|hours| rows — series-length-sized, not event-sized), which
    is why a total-order window is acceptable here and nowhere else."""
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events").to_df()
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count("*").alias("n_raw"), _round_det(F.avg("value"), 4).alias("mean_value")
    )
    spine = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("bucket"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # date_trunc always yields LTZ; leave in the INPUT column's
    # timestamp family (the repo-wide convention, plans/timeutil.py)
    ts_type = {f.name: f.dataType for f in ev.schema.fields}["ts"]
    return (
        spine.join(hourly, "bucket", "left")
        .select(
            F.col("bucket").cast(ts_type).alias("bucket"),
            F.coalesce(F.col("n_raw"), F.lit(0)).alias("n"),
            F.last("mean_value", ignorenulls=True).over(w).alias("mean_value_filled"),
        )
    )


DENSE_RESAMPLE_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n_raw,
         FLOOR((AVG(value)) * 10000 + 0.5) / 10000 AS mean_value
  FROM events GROUP BY 1
), spine AS (
  SELECT UNNEST(generate_series(
           (SELECT date_trunc('hour', MIN(ts)) FROM events),
           (SELECT date_trunc('hour', MAX(ts)) FROM events),
           INTERVAL 1 HOUR)) AS bucket
)
SELECT s.bucket, COALESCE(h.n_raw, 0) AS n,
       LAST_VALUE(h.mean_value IGNORE NULLS)
         OVER (ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mean_value_filled
FROM spine s LEFT JOIN hourly h ON s.bucket = h.bucket
"""


def cdc_merge_orders(spark, sf):
    """CDC MERGE (operators/cdc.apply_changes): a synthesized change
    batch against orders — every key%7==0 gets an update (price doubled,
    exact binary scaling) at seq 1, every key%13==0 a delete at seq 2
    (so key%91==0 exercises latest-wins: the delete overrides the
    update), and every key%11==0 is re-inserted under key + max_key at
    seq 1 — the insert-key offset is DERIVED from max(o_orderkey) (a
    1-row scalar broadcast, the allowlisted BNLJ shape), so synthesized
    inserts can never collide with real base keys at ANY sf (a fixed
    +10M constant would collide once orderkeys pass 10M, ~sf2). One
    window + anti-join + union, all keyed on the merge key — the
    lakehouse upsert on bare parquet."""
    from tada_spark.operators.cdc import apply_changes

    base = load(spark, sf, "orders").to_df().select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    mx = base.groupBy().agg(F.max("o_orderkey").alias("__maxkey__"))
    upd = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(1).alias("seq"), F.lit("U").alias("op"),
    )
    dele = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.lit(2).alias("seq"), F.lit("D").alias("op"),
    )
    ins = (
        base.filter(F.col("o_orderkey") % 11 == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("__maxkey__")).alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice",
            F.lit(1).alias("seq"), F.lit("I").alias("op"),
        )
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return apply_changes(base, changes, "o_orderkey")


CDC_MERGE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
), changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
         1 AS seq, 'U' AS op FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 2, 'D'
  FROM base WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM base),
         o_custkey, o_orderstatus, o_totalprice, 1, 'I'
  FROM base WHERE o_orderkey % 11 = 0
), latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
    FROM changes
  ) WHERE rn = 1
)
SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
FROM base b WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM latest WHERE op != 'D'
"""


def event_transition_matrix(spark, sf):
    """Per-user event-type transition matrix (the Markov-chain /
    user-journey view): LEAD over (user, ts, event_id) pairs each event
    with its successor, then one (from, to) aggregate with the share of
    each source type's outgoing transitions (floor idiom). One keyed
    window + one vocabulary-sized aggregate."""
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events").to_df()
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    trans = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").alias("n"))
    )
    wtot = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        _round_det(F.col("n") / F.sum("n").over(wtot), 6).alias("share"),
    )


TRANSITION_SQL = """
WITH t AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, COUNT(*) AS n FROM t WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       FLOOR((n::DOUBLE / (SUM(n) OVER (PARTITION BY from_type))) * 1000000 + 0.5) / 1000000 AS share
FROM c
"""


def scd2_history_orders(spark, sf):
    """SCD-type-2 history (operators/cdc.scd2_history) from a
    synthesized change stream over orders: key%5==0 inserts at seq 1,
    key%10==0 updates (price doubled) at seq 2, key%20==0 deletes at
    seq 3 — so the output shows open versions, closed-by-update
    versions, and closed-by-delete versions. One keyed LEAD window."""
    from tada_spark.operators.cdc import scd2_history

    base = load(spark, sf, "orders").to_df().select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    changes = (
        base.filter(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.lit(1).alias("seq"), F.lit("I").alias("op"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 10 == 0).select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                F.lit(2).alias("seq"), F.lit("U").alias("op"),
            )
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 20 == 0).select(
                "o_orderkey", "o_custkey", "o_totalprice",
                F.lit(3).alias("seq"), F.lit("D").alias("op"),
            )
        )
    )
    return scd2_history(changes, "o_orderkey")


SCD2_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
), changes AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 1 AS seq, 'I' AS op
  FROM base WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2, 2, 'U' FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, 3, 'D' FROM base WHERE o_orderkey % 20 = 0
), h AS (
  SELECT *, LEAD(seq) OVER (PARTITION BY o_orderkey ORDER BY seq ASC, op ASC) AS valid_to
  FROM changes
)
SELECT o_orderkey, o_custkey, o_totalprice, seq AS valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM h WHERE op != 'D'
"""


def zorder_layout_orders(spark, sf):
    """Z-order (Morton) clustering key demo (operators/layout
    .zorder_key): interleave 16 bits of customer key with 16 bits of
    order day, then summarize each high-bit bucket (z >> 16) — the
    per-bucket min/max spans of BOTH dimensions stay narrow, which is
    exactly the property that makes multi-column data skipping work
    (sort by z, write ranged files, prune on either column). Pure
    integer bit arithmetic at scan speed."""
    from tada_spark.operators.layout import zorder_key

    orders = load(spark, sf, "orders").to_df()
    a = F.pmod(F.col("o_custkey"), F.lit(65536))
    b = F.pmod(F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")), F.lit(65536))
    z = zorder_key(a, b)
    return (
        orders.select(a.alias("a"), b.alias("b"), z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 16).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("a").alias("min_cust"), F.max("a").alias("max_cust"),
            F.min("b").alias("min_day"), F.max("b").alias("max_day"),
        )
    )


ZORDER_SQL = """
WITH d AS (
  SELECT ((o_custkey % 65536) + 65536) % 65536 AS a,
         ((DATE_DIFF('day', DATE '1992-01-01', o_orderdate::DATE) % 65536) + 65536) % 65536 AS b
  FROM orders
), zd AS (
  SELECT a, b,
         LIST_SUM(LIST_TRANSFORM(RANGE(0, 16),
           i -> (((a >> i) & 1) << (2 * i)) + (((b >> i) & 1) << (2 * i + 1))))::BIGINT AS z
  FROM d
)
SELECT z >> 16 AS bucket, COUNT(*) AS n,
       MIN(a) AS min_cust, MAX(a) AS max_cust,
       MIN(b) AS min_day, MAX(b) AS max_day
FROM zd GROUP BY bucket
"""


def daily_ingest_pipeline(spark, sf):
    """The DAILY-INGEST composition end-to-end in one plan: today's
    delta (md5-bucket ≥ 80, the incremental_dedup split) → Gopher
    quality gate → incremental dedup against the standing corpus
    (bucket < 80 fingerprints) with first-in-batch tie-break → per-lang
    funnel report (arrived / gated / admitted / admitted tokens). Every
    stage is an already-verified operator; the composition is what a
    user actually schedules. Scale shape: gate at scan speed, one
    fp-keyed join vs the corpus fingerprint table (co-located if both
    sides bucket by fp), one fp window on the delta, two lang-row
    aggregates joined at k-row size."""
    from tada_spark.functions.sampling import hash_bucket

    docs = load(spark, sf, "documents").to_df()
    bucket = hash_bucket(F.col("doc_id").cast("string"))
    delta = docs.filter(bucket >= 80)
    gated_docs = delta.filter(text.gopher_keep(F.col("text"), min_words=30, min_stop_hits=1))
    # the ACTUAL incremental_dedup operator (not a re-derivation): its
    # NULL-fp contract and keep-first tie-break apply here by reuse
    admitted_ids = dedup.incremental_dedup(gated_docs, docs.filter(bucket < 80)).select(
        "doc_id", F.lit(1).alias("adm_flag")
    )
    gated = gated_docs.select(
        "doc_id", "lang", text.token_count(F.col("text")).alias("n_words")
    )
    g2 = gated.join(admitted_ids, "doc_id", "left")
    adm = F.coalesce(F.col("adm_flag"), F.lit(0)).cast("long")
    gstats = g2.groupBy("lang").agg(
        F.count("*").alias("n_gated"),
        F.sum(adm).alias("n_admitted"),
        F.sum(adm * F.col("n_words")).alias("n_tokens_admitted"),
    )
    arrived = delta.groupBy("lang").agg(F.count("*").alias("n_arrived"))
    return arrived.join(gstats, "lang", "left").select(
        "lang",
        "n_arrived",
        F.coalesce(F.col("n_gated"), F.lit(0)).alias("n_gated"),
        F.coalesce(F.col("n_admitted"), F.lit(0)).alias("n_admitted"),
        F.coalesce(F.col("n_tokens_admitted"), F.lit(0)).alias("n_tokens_admitted"),
    )


DAILY_INGEST_SQL = _GATE_CTES_SQL + r""", corpus_fps AS (
  SELECT DISTINCT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents WHERE ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 < 80
), delta_gated AS (
  SELECT doc_id, lang, n_words,
         MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM f WHERE ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 >= 80
), admitted AS (
  SELECT d.lang, d.n_words,
         CASE WHEN d.fp IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM corpus_fps c WHERE c.fp = d.fp)
                AND d.doc_id = MIN(d.doc_id) OVER (PARTITION BY d.fp)
              THEN 1 ELSE 0 END AS adm
  FROM delta_gated d
), arrived AS (
  SELECT lang, COUNT(*) AS n_arrived FROM documents
  WHERE ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 >= 80 GROUP BY lang
), gated AS (
  SELECT lang, COUNT(*) AS n_gated, SUM(adm)::BIGINT AS n_admitted,
         SUM(adm * n_words)::BIGINT AS n_tokens_admitted
  FROM admitted GROUP BY lang
)
SELECT a.lang, a.n_arrived, COALESCE(g.n_gated, 0) AS n_gated,
       COALESCE(g.n_admitted, 0) AS n_admitted,
       COALESCE(g.n_tokens_admitted, 0) AS n_tokens_admitted
FROM arrived a LEFT JOIN gated g USING (lang)
"""


def fuzzy_join_names(spark, sf):
    """Blocked fuzzy record linkage (operators/linkage.fuzzy_join):
    match customer and supplier entity numbers within 1 Levenshtein
    edit, blocked on the 7-digit number prefix — the dedupe-across-
    registries pattern. Distance runs only inside blocks (equi-join on
    the prefix), JVM-side levenshtein, no UDF."""
    from tada_spark.operators.linkage import fuzzy_join, prefix_block

    cust = load(spark, sf, "customer").to_df().select(
        "c_custkey", F.substring("c_name", 10, 9).alias("c_num")
    )
    supp = load(spark, sf, "supplier").to_df().select(
        "s_suppkey", F.substring("s_name", 10, 9).alias("s_num")
    )
    out = fuzzy_join(cust, supp, "c_num", "s_num", prefix_block(7), max_dist=1)
    return out.select("c_custkey", "s_suppkey", "dist")


FUZZY_JOIN_SQL = """
WITH c AS (SELECT c_custkey, SUBSTR(c_name, 10, 9) AS c_num FROM customer),
     s AS (SELECT s_suppkey, SUBSTR(s_name, 10, 9) AS s_num FROM supplier)
SELECT c_custkey, s_suppkey, LEVENSHTEIN(c_num, s_num) AS dist
FROM c JOIN s ON SUBSTR(c_num, 1, 7) = SUBSTR(s_num, 1, 7)
WHERE LEVENSHTEIN(c_num, s_num) <= 1
"""


def robust_outliers_events(spark, sf):
    """Robust (median/MAD) outlier detection on event values per type —
    the skew-immune alternative to mean/std z-scores: rz = (x - median)
    / (1.4826·MAD), flag |rz| ≥ 3.5 (Iglewicz-Hoaglin; the events value
    column is genuinely heavy-tailed, so this fires on real tail mass).
    Exact interpolated percentiles (the quantiles_price_by_status
    idiom); two k-row broadcast joins (type-cardinality model tables);
    the threshold compares the ROUNDED score so engines agree on
    boundary rows."""
    ev = load(spark, sf, "events").to_df().select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    # MAD = 0 (over half the group AT the median) is the standard
    # degenerate case — Iglewicz-Hoaglin prescribe the meanAD fallback
    # (scale 1.2533). The meanAD is floor-quantized BEFORE use so the
    # order-dependent float mean can never flip a boundary row between
    # engines; a group with zero spread (scale 0) emits nothing — no
    # division ever runs against a 0 scale on either engine.
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad"),
        _round_det(F.avg("absdev"), 6).alias("meanad"),
    )
    scale = F.when(F.col("mad") > 0, F.lit(1.4826) * F.col("mad")).otherwise(
        F.lit(1.2533) * F.col("meanad")
    )
    scored = (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("scale", scale)
        .filter(F.col("scale") > 0)
        .withColumn("rz", _round_det((F.col("value") - F.col("med")) / F.col("scale"), 4))
    )
    return scored.filter(F.abs(F.col("rz")) >= 3.5).select(
        "event_id", "event_type", _round_det("value", 4).alias("value"), "rz"
    )


ROBUST_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med, ABS(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad,
         FLOOR((AVG(absdev)) * 1000000 + 0.5) / 1000000 AS meanad
  FROM dev GROUP BY event_type
), scored AS (
  SELECT d.event_id, d.event_type, d.value, d.med,
         CASE WHEN m.mad > 0 THEN 1.4826 * m.mad ELSE 1.2533 * m.meanad END AS scale
  FROM dev d JOIN mad m USING (event_type)
)
SELECT event_id, event_type,
       FLOOR((value) * 10000 + 0.5) / 10000 AS value,
       FLOOR(((value - med) / scale) * 10000 + 0.5) / 10000 AS rz
FROM scored
WHERE scale > 0
  AND ABS(FLOOR(((value - med) / scale) * 10000 + 0.5) / 10000) >= 3.5
"""


def stream_dedup_watermarked(spark, sf):
    """Watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark,
    §2.10 family): the state-safe production variant of
    stream_dedup_fingerprints — per-key state expires once the
    watermark passes, so state size follows the duplicate-arrival
    window, not stream lifetime. Oracle contract pinned to the
    single-batch case: the events table is ONE parquet file, so
    availableNow delivers one micro-batch and the snapshot equals batch
    DISTINCT (the same argument stream_running_totals_users makes). On
    a real multi-batch stream, a key recurring after its state expired
    re-emits BY DESIGN — that is the state bound, not a bug — and batch
    DISTINCT is deliberately NOT the cross-batch semantics."""
    from tada_spark.streaming import run_available_now
    from tada_spark.streaming.windows import _event_time

    stream = _stream_events(spark, sf)
    stream, _restore = _event_time(stream, "ts")
    out = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(out, "q_stream_dedup_wm", timeout_s=240, output_mode="append", state_partitions=_stream_state_partitions(spark, sf))


STREAM_DEDUP_WM_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def assoc_rules_events(spark, sf):
    """Pairwise association rules (support / confidence / lift) over
    per-(user, day) baskets of event types — market-basket mining,
    pairwise tier: baskets are distinct (user, day, type) triples, the
    pair stream is a basket-keyed self-join (≤ |types|² per basket,
    never corpus-pairwise), item and basket totals broadcast back.
    Emits both rule directions; all ratios floor-e6."""
    ev = load(spark, sf, "events").to_df()
    # staged (r12): the distinct basket table feeds FOUR consumers
    # (basket count, item totals, both pair-join sides). AQE reuses
    # only the map side of the shared distinct exchange; each consumer
    # re-ran the reduce-side distinct finalization and its own
    # downstream shuffle over it. One lazy pin computes the basket
    # table once per invocation — measured −11% at sf0.1
    # (OPTIMIZATION_r12.md).
    baskets = pin(ev.select(
        "user_id", F.to_date("ts").alias("day"), F.col("event_type").alias("item")
    ).distinct())
    n_baskets = baskets.select("user_id", "day").distinct().groupBy().agg(
        F.count("*").alias("n_baskets")
    )
    item_n = baskets.groupBy("item").agg(F.count("*").alias("n_item"))
    a = baskets.select("user_id", "day", F.col("item").alias("antecedent"))
    b = baskets.select("user_id", "day", F.col("item").alias("consequent"))
    pair_n = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("n_pair"))
    )
    na = item_n.select(F.col("item").alias("antecedent"), F.col("n_item").alias("n_a"))
    nc = item_n.select(F.col("item").alias("consequent"), F.col("n_item").alias("n_c"))
    return (
        pair_n.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nc), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            _round_det(F.col("n_pair") / F.col("n_baskets"), 6).alias("support"),
            _round_det(F.col("n_pair") / F.col("n_a"), 6).alias("confidence"),
            _round_det(
                (F.col("n_pair") * F.col("n_baskets")) / (F.col("n_a") * F.col("n_c")), 6
            ).alias("lift"),
        )
    )


ASSOC_RULES_SQL = """
WITH baskets AS (
  SELECT DISTINCT user_id, ts::DATE AS day, event_type AS item FROM events
), nb AS (
  SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM baskets)
), item_n AS (
  SELECT item, COUNT(*) AS n_item FROM baskets GROUP BY item
), pair_n AS (
  SELECT a.item AS antecedent, b.item AS consequent, COUNT(*) AS n_pair
  FROM baskets a JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
  WHERE a.item != b.item GROUP BY a.item, b.item
)
SELECT antecedent, consequent, n_pair,
       FLOOR((n_pair::DOUBLE / n_baskets) * 1000000 + 0.5) / 1000000 AS support,
       FLOOR((n_pair::DOUBLE / na.n_item) * 1000000 + 0.5) / 1000000 AS confidence,
       FLOOR(((n_pair * n_baskets)::DOUBLE / (na.n_item * nc.n_item)) * 1000000 + 0.5) / 1000000 AS lift
FROM pair_n
JOIN item_n na ON na.item = antecedent
JOIN item_n nc ON nc.item = consequent, nb
"""


def time_grouping_sets_events(spark, sf):
    """Multi-granularity rollup in ONE pass (GROUPING SETS): hourly,
    daily and monthly event counts + value totals from a single scan
    (the Expand operator emits one tuple per granularity per row —
    3× map-side rows, ONE shuffle, versus three scans for a naive
    union). Buckets formatted as strings so the output is timestamp-
    family-neutral; grain derived from which bucket column is set."""
    ev = load(spark, sf, "events").to_df().select(
        F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        "value",
    )
    # grain comes from GROUPING() — null-safe: a NULL ts nulls all three
    # formatted buckets, and an isNotNull-based CASE would then collapse
    # the three grouping-set rows into one misclassified grain
    out = ev.groupingSets(
        [["hour"], ["day"], ["month"]], F.col("hour"), F.col("day"), F.col("month")
    ).agg(
        F.count("*").alias("n"),
        _round_det(F.sum("value"), 4).alias("total"),
        F.grouping("hour").alias("g_hour"),
        F.grouping("day").alias("g_day"),
    )
    grain = (
        F.when(F.col("g_hour") == 0, F.lit("hour"))
        .when(F.col("g_day") == 0, F.lit("day"))
        .otherwise(F.lit("month"))
    )
    return out.select(
        grain.alias("grain"),
        F.coalesce(F.col("hour"), F.col("day"), F.col("month")).alias("bucket"),
        "n",
        "total",
    )


TIME_GROUPING_SETS_SQL = """
WITH e AS (
  SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour,
         strftime(ts, '%Y-%m-%d') AS day,
         strftime(ts, '%Y-%m') AS month,
         value
  FROM events
)
SELECT CASE WHEN GROUPING(hour) = 0 THEN 'hour'
            WHEN GROUPING(day) = 0 THEN 'day'
            ELSE 'month' END AS grain,
       COALESCE(hour, day, month) AS bucket,
       COUNT(*) AS n,
       FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS total
FROM e GROUP BY GROUPING SETS ((hour), (day), (month))
"""


def incremental_agg_update(spark, sf):
    """Incremental MATERIALIZED-VIEW maintenance for algebraic
    aggregates: the standing per-status rollup (orders md5-bucket < 80:
    n, exact cents total, min/max key) is updated with ONLY the delta's
    partial aggregate — combine(base_agg, delta_agg) via a k-row union
    + re-aggregate, never a rescan of the base facts. The query also
    RAISES unless the incrementally-maintained view equals the
    full-recompute (golden-style in-query proof that the combine rule
    is lossless for count/sum/min/max); the emitted rows ARE the
    maintained view. At 100 TB this is the difference between a daily
    delta-sized job and a daily full-table scan."""
    from tada_spark.functions.sampling import hash_bucket

    orders = load(spark, sf, "orders").to_df()
    bucket = hash_bucket(F.col("o_orderkey").cast("string"))

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.sum(_cents("o_totalprice")).alias("total_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )

    base_agg = partial(orders.filter(bucket < 80))
    delta_agg = partial(orders.filter(bucket >= 80))
    # pinned: both k-row views feed two anti-join counts AND
    # the returned plan — without the cut each action re-scans orders
    # (the near_dup_triangles discipline; these are status-cardinality
    # tables, so the materialization is bytes)
    combined = pin(
        base_agg.unionByName(delta_agg)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_cents").alias("total_cents"),
            F.min("min_key").alias("min_key"),
            F.max("max_key").alias("max_key"),
        ),
        eager=True,
    )
    full = pin(partial(orders), eager=True)
    # lossless-combine proof: exact integer columns, so plain anti-joins
    # in both directions must both be empty
    diff = combined.join(
        full, ["o_orderstatus", "n", "total_cents", "min_key", "max_key"], "left_anti"
    ).count() + full.join(
        combined, ["o_orderstatus", "n", "total_cents", "min_key", "max_key"], "left_anti"
    ).count()
    if diff:
        raise AssertionError(f"incremental combine diverged from full recompute: {diff} rows")
    return combined.select(
        "o_orderstatus", "n", (F.col("total_cents") / F.lit(100.0)).alias("total"), "min_key", "max_key"
    )


INCREMENTAL_AGG_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       SUM(ROUND(o_totalprice * 100)::BIGINT) / 100.0 AS total,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus
"""


def near_dup_triangles(spark, sf):
    """Triangle enumeration on the near-dup pair graph — the classic
    distributed-graph primitive beyond connected components (triangles
    = tightly-mutual duplicate clusters, the highest-confidence merge
    candidates): edges ordered (a < b) from the same blocked Jaccard
    pairs as jaccard_near_dups, then the standard two-join wedge-close
    (e1.b = e2.a; close with an (a, c) edge lookup). Work ∝ Σ deg² of
    the PAIR graph — already block-bounded — never corpus-sized."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    # pinned: the edge list feeds THREE join branches — without
    # the lineage cut each branch re-runs the expensive blocked Jaccard
    # pair join (the connected_components discipline)
    edges = pin(
        dedup.jaccard_pairs(docs.to_df(), block_cols=["lang"], ngram=4, threshold=0.35)
        .select("id_a", "id_b"),
        eager=True,
    )
    e1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    wedges = e1.join(e2, "b")
    e3 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    return wedges.join(e3, ["a", "c"]).select("a", "b", "c")


NEAR_DUP_TRIANGLES_SQL = """
WITH s AS (
  SELECT doc_id, lang,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 3, 1) + 1),
                       i -> SUBSTR(text, i::INT, 4))) AS sh
  FROM documents WHERE doc_id % 5 = 0
), pr AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           FLOOR((LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)))) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.35
)
SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
FROM pr e1
JOIN pr e2 ON e2.id_a = e1.id_b
JOIN pr e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
"""


def bloom_prefilter_join(spark, sf):
    """Bloom-bitmap join pruning (operators/bloomjoin): the dim side
    (AUTOMOBILE-segment customers) builds a 64 KiB md5-position bitmap
    in ONE aggregate; the bitmap broadcasts (1-row allowlisted BNLJ)
    and drops non-matching orders BEFORE the exact semi-join — the
    explicit version of Spark's runtime bloom-filter pushdown, for dim
    sets too big to broadcast as IN-lists at 100 TB. Bloom filters have
    no false negatives, so prefilter + exact semi-join ≡ exact
    semi-join — the oracle verifies the end result with plain SQL."""
    from tada_spark.operators.bloomjoin import bloom_bitmap, bloom_prefilter

    cust = (
        load(spark, sf, "customer")
        .to_df()
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    bitmap = bloom_bitmap(cust, "c_custkey")
    orders = load(spark, sf, "orders").to_df()
    cand = bloom_prefilter(orders, "o_custkey", bitmap)
    hit = cand.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    )
    return hit.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"), F.sum(_cents("o_totalprice")).alias("total_cents")
    )


BLOOM_PREFILTER_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       SUM(ROUND(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
GROUP BY o_orderstatus
"""


def weighted_sample_docs(spark, sf):
    """Weighted sampling without replacement (functions/sampling.
    weighted_sample, Efraimidis-Spirakis A-ES): 100 docs drawn with
    probability ∝ (n_chars + 1) via exponential clocks -det_ln(u)/w,
    u content-addressed from md5(doc_id) — deterministic across runs,
    engines and partition layouts; top-k via TakeOrderedAndProject."""
    from tada_spark.functions import sampling

    docs = load(spark, sf, "documents").to_df().select("doc_id", "lang", "n_chars")
    return sampling.weighted_sample(
        docs, (F.col("n_chars") + F.lit(1)).cast("double"), 100
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         (((('0x' || md5('ws#' || CAST(doc_id AS VARCHAR))[1:8])::BIGINT) % 1048576) + 1)
           / 1048577.0 AS u
  FROM documents WHERE doc_id IS NOT NULL
), {_det_ln_ctes("u", "d", "doc_id", "lnu")}
SELECT d.doc_id, d.lang, d.n_chars,
       CAST(FLOOR(((0.0 - lnu) / ((n_chars + 1)::DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
         AS priority_e6
FROM d JOIN __ln USING (doc_id)
ORDER BY priority_e6 ASC, doc_id ASC LIMIT 100
"""


def token_entropy_by_source(spark, sf):
    """Per-source Shannon entropy of the token distribution
    (functions/text.token_entropy) — the corpus-diversity gauge of a
    curation dashboard: -Σ p·det_ln(p) in nats, each term's
    contribution e6-quantized BEFORE the exact integer sum
    (float-order-free, the BM25 discipline)."""
    docs = load(spark, sf, "documents").to_df()
    return text.token_entropy(docs, "source", "text")


TOKEN_ENTROPY_SQL = rf"""
WITH toks AS (
  SELECT grp, t.term
  FROM (SELECT source AS grp, UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents WHERE LENGTH(TRIM(text)) > 0) t(grp, term)
  WHERE term != ''
), tf AS (
  SELECT grp, term, COUNT(*) AS n FROM toks GROUP BY grp, term
), totals AS (
  SELECT grp, SUM(n)::BIGINT AS total_tokens, COUNT(*) AS n_terms FROM tf GROUP BY grp
), pt AS (
  SELECT tf.grp, tf.term, n_terms, total_tokens,
         (n::DOUBLE / total_tokens::DOUBLE) AS p
  FROM tf JOIN totals USING (grp)
), {_det_ln_ctes("p", "pt", "grp, term, n_terms, total_tokens, p", "lnp")}
SELECT grp AS source, n_terms, total_tokens,
       SUM(CAST(FLOOR((0.0 - (p * lnp)) * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS entropy_e6
FROM __ln GROUP BY grp, n_terms, total_tokens
"""


def pagerank_near_dup(spark, sf):
    """Integer-quantized PageRank on the near-dup pair graph
    (functions/dedup.pagerank_quantized, 3 iterations, d=0.85, e9
    scale) — duplicate-centrality: which doc is the canonical hub of a
    template family. Same sampled blocked-Jaccard edge derivation as
    near_dup_components/triangles; the oracle unrolls all 3 iterations
    in exact integer arithmetic (the kmeans_embeddings playbook)."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    pairs = dedup.jaccard_pairs(
        docs.to_df(), block_cols=["lang"], ngram=4, threshold=0.35
    )
    return dedup.pagerank_quantized(pairs.select("id_a", "id_b"), iters=3)


_PAGERANK_ITER = """, i{t} AS (
  SELECT e.dst AS node, SUM(CAST(FLOOR(r.rank::DOUBLE / r.deg::DOUBLE) AS BIGINT))::BIGINT AS inc
  FROM edges e JOIN r{p} r ON r.node = e.src GROUP BY e.dst
), r{t} AS (
  SELECT r.node, r.deg, r.base,
         r.base + CAST(FLOOR((85 * i.inc) / 100) AS BIGINT) AS rank
  FROM (SELECT node, deg, base FROM r{p}) r JOIN i{t} i ON i.node = r.node
)"""

PAGERANK_SQL = (
    """
WITH s AS (
  SELECT doc_id, lang,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 3, 1) + 1),
                       i -> SUBSTR(text, i::INT, 4))) AS sh
  FROM documents WHERE doc_id % 5 = 0
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           FLOOR((LEN(LIST_INTERSECT(a.sh, b.sh))::DOUBLE
                 / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh)))) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.35
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), nn AS (
  SELECT COUNT(*) AS n_nodes FROM deg
), r0 AS (
  SELECT src AS node, deg,
         CAST(FLOOR(1000000000 / n_nodes) AS BIGINT) AS rank,
         CAST(FLOOR(150000000 / n_nodes) AS BIGINT) AS base
  FROM deg, nn
)"""
    + _PAGERANK_ITER.format(t=1, p=0)
    + _PAGERANK_ITER.format(t=2, p=1)
    + _PAGERANK_ITER.format(t=3, p=2)
    + """
SELECT node, deg, rank AS pagerank_e9 FROM r3
"""
)


def ab_chi2_events(spark, sf):
    """Deterministic A/B experiment readout: users split into two arms
    by content-addressed md5 parity (never rand() — reassignable,
    engine-identical), outcome = converted (≥1 purchase event), and the
    2×2 chi-square statistic computed in closed form from four exact
    counts: χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)). Counts stay exact
    longs through one user-keyed aggregate + ONE global 4-cell
    aggregate; the ratio runs on their double casts (correctly rounded
    int→double + an identical IEEE tree — the ols_by_group discipline),
    floor-e6 quantized. Degenerate margins (a whole row/column empty)
    yield NULL rather than a division blowup.

    100 TB shape: two map-side-combined aggregates, no window, no
    shuffle beyond the user-key one; the 4-cell table is a single row.
    """
    from tada_spark.functions.text import md5_hash32

    ev = load(spark, sf, "events").to_df()
    # a NULL user has no stable arm assignment — drop up front (oracle
    # mirrors; without this, NULL would form its own phantom cell group)
    per_user = ev.filter(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    )
    arm = F.pmod(
        md5_hash32(F.concat(F.lit("ab#"), F.col("user_id").cast("string"))), F.lit(2)
    )
    tagged = per_user.select(arm.alias("arm"), "conv")
    cells = tagged.groupBy().agg(
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 0), 1).otherwise(0)).alias("d"),
    )
    ad_bc = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    nd = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    den = (
        ((F.col("a") + F.col("b")).cast("double") * (F.col("c") + F.col("d")).cast("double"))
        * (F.col("a") + F.col("c")).cast("double")
    ) * (F.col("b") + F.col("d")).cast("double")
    chi2 = F.when(den != 0, (nd * (ad_bc * ad_bc)) / den)
    return cells.select(
        "a", "b", "c", "d",
        F.floor(chi2 * F.lit(1e6) + F.lit(0.5)).cast("long").alias("chi2_e6"),
    )


AB_CHI2_SQL = """
WITH pu AS (
  SELECT user_id, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), tag AS (
  SELECT ((('0x' || md5('ab#' || CAST(user_id AS VARCHAR))[1:8])::BIGINT) % 2) AS arm, conv
  FROM pu
), cells AS (
  SELECT SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
         SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
         SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
         SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS d
  FROM tag
)
SELECT a, b, c, d,
       CAST(FLOOR((CASE WHEN ((((a+b)::DOUBLE * (c+d)::DOUBLE) * (a+c)::DOUBLE) * (b+d)::DOUBLE) != 0
             THEN ((a+b+c+d)::DOUBLE * (((a*d - b*c)::DOUBLE) * ((a*d - b*c)::DOUBLE)))
                  / ((((a+b)::DOUBLE * (c+d)::DOUBLE) * (a+c)::DOUBLE) * (b+d)::DOUBLE) END)
             * 1000000.0 + 0.5) AS BIGINT) AS chi2_e6
FROM cells
"""


def corr_value_hour_events(spark, sf):
    """Per-event-type Pearson correlation of spend (exact cents) vs
    hour of day (functions/stats.corr_by_group): six exact long sums in
    one hash-agg, closed form with IEEE sqrt on the double casts —
    does afternoon traffic spend differently, per event type."""
    from tada_spark.functions.stats import corr_by_group

    ev = load(spark, sf, "events").to_df()
    return corr_by_group(
        ev, "event_type", F.hour("ts").cast("long"), F.round(F.col("value") * 100).cast("long")
    )


CORR_VALUE_HOUR_SQL = """
WITH b AS (
  SELECT event_type, HOUR(ts)::BIGINT AS x, ROUND(value * 100)::BIGINT AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), s AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy,
         SUM(x * x)::BIGINT AS sxx, SUM(y * y)::BIGINT AS syy
  FROM b GROUP BY event_type
)
SELECT event_type, n,
       CAST(FLOOR((CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                         AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
             THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (SQRT(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     * SQRT(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END)
             * 1000000.0 + 0.5) AS BIGINT) AS corr_e6
FROM s
"""


def kl_divergence_sources(spark, sf):
    """Per-source KL divergence vs the corpus token distribution
    (functions/text.kl_divergence) — the feed-drift gauge beside
    token_entropy's within-source diversity: both det_ln chains spliced
    into one oracle, per-term contributions e6-quantized before the
    exact integer sum."""
    docs = load(spark, sf, "documents").to_df()
    return text.kl_divergence(docs, "source", "text")


KL_DIVERGENCE_SQL = rf"""
WITH toks AS (
  SELECT grp, t.term
  FROM (SELECT source AS grp, UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents WHERE LENGTH(TRIM(text)) > 0) t(grp, term)
  WHERE term != ''
), tf AS (
  SELECT grp, term, COUNT(*) AS n FROM toks GROUP BY grp, term
), tg AS (
  SELECT grp, SUM(n)::BIGINT AS t_g FROM tf GROUP BY grp
), tc AS (
  SELECT term, SUM(n)::BIGINT AS n_c FROM tf GROUP BY term
), tt AS (
  SELECT SUM(n)::BIGINT AS t FROM tf
), ps AS (
  SELECT tf.grp, tf.term, t_g,
         (n::DOUBLE / t_g::DOUBLE) AS p_s,
         (n_c::DOUBLE / t::DOUBLE) AS p_c
  FROM tf JOIN tg USING (grp) JOIN tc USING (term), tt
), {_det_ln_ctes("p_s", "ps", "grp, term, t_g, p_s, p_c", "ln_ps", "__a")},
{_det_ln_ctes("p_c", "__an", "grp, term, t_g, p_s, ln_ps", "ln_pc", "__b")}
SELECT grp AS source, t_g AS total_tokens,
       SUM(CAST(FLOOR((p_s * (ln_ps - ln_pc)) * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS kl_e6
FROM __bn GROUP BY grp, t_g
"""


def stream_static_enrich(spark, sf):
    """Stream-static broadcast-dim join (the enrichment every streaming
    pipeline starts with): streaming events joined to the static
    customer dim (broadcast — a stream-static equi-join needs no
    stream-side state) then rolled up per market segment, driven to
    completion with availableNow. Arrival-order independent, so the
    complete-mode snapshot oracle-checks as the batch join+agg."""
    stream = _stream_events(spark, sf)
    dim = (
        load(spark, sf, "customer")
        .to_df()
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    from tada_spark.streaming import run_available_now

    joined = stream.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"), _round_det(F.sum("value"), 4).alias("total_value")
    )
    res = run_available_now(agg, "q_stream_static_enrich", state_partitions=_stream_state_partitions(spark, sf))
    return res.select("c_mktsegment", "n_events", "total_value")


STREAM_STATIC_ENRICH_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       FLOOR((SUM(value)) * 10000 + 0.5) / 10000 AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment
"""


def ols_trend_priority(spark, sf):
    """Per-priority-class OLS spend trend (functions/stats.ols_by_group):
    slope of order value (exact cents) over order date (days since
    epoch) for each o_orderpriority — one map-side-combined hash-agg of
    five exact long sums + k-row closed-form arithmetic; slope in
    e6-quantized cents/day, intercept floor-rounded to cents."""
    from tada_spark.functions.stats import ols_by_group

    o = load(spark, sf, "orders").to_df()
    x = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    y = _cents("o_totalprice")
    return ols_by_group(o, "o_orderpriority", x, y)


OLS_TREND_SQL = """
WITH b AS (
  SELECT o_orderpriority,
         DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
         ROUND(o_totalprice * 100)::BIGINT AS y
  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
), s AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * y)::BIGINT AS sxy, SUM(x * x)::BIGINT AS sxx
  FROM b GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       CAST(FLOOR((CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) != 0
             THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) END)
             * 1000000.0 + 0.5) AS BIGINT) AS slope_e6,
       FLOOR((CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) != 0
             THEN (sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE) / n::DOUBLE END)
             * 100.0 + 0.5) / 100.0 AS intercept_2dp
FROM s
"""


def mutual_information_events(spark, sf):
    """Feature-dependence audit: mutual information (nats, e6) between
    event_type and three candidate features — hour-of-day, weekday,
    value decile band (functions/stats.mutual_information, the
    aggregate of pmi_phrases' pointwise score). Three one-pass audits
    union into a (pair, n, mi_e6) report — the pre-training leakage /
    feature-selection screen."""
    from tada_spark.functions import stats

    e = load(spark, sf, "events").to_df()
    return stats.mutual_information(
        e,
        F.col("event_type"),
        [
            ("type_x_hour", F.hour("ts")),
            ("type_x_weekday", F.dayofweek("ts") - F.lit(1)),
            ("type_x_valueband", F.floor(F.col("value") / 10)),
        ],
    )


MI_SQL = f"""
WITH cells AS (
  SELECT pair, gx, gy, COUNT(*)::BIGINT AS nxy FROM (
    SELECT 'type_x_hour' AS pair, event_type AS gx,
           CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS gy
    FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    UNION ALL
    SELECT 'type_x_weekday', event_type, CAST(dayofweek(ts) AS VARCHAR)
    FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    UNION ALL
    SELECT 'type_x_valueband', event_type, CAST(FLOOR(value / 10) AS VARCHAR)
    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
  ) GROUP BY 1, 2, 3
), mx AS (SELECT pair, gx, SUM(nxy)::BIGINT AS nx FROM cells GROUP BY 1, 2),
my AS (SELECT pair, gy, SUM(nxy)::BIGINT AS ny FROM cells GROUP BY 1, 2),
tt AS (SELECT pair, SUM(nxy)::BIGINT AS tot FROM cells GROUP BY 1),
rt AS (
  SELECT cells.pair, nxy, tot,
         (nxy::DOUBLE * tot::DOUBLE) / (nx::DOUBLE * ny::DOUBLE) AS ratio
  FROM cells JOIN mx USING (pair, gx) JOIN my USING (pair, gy) JOIN tt USING (pair)
), {_det_ln_ctes("ratio", "rt", "pair, nxy, tot", "lnr", "__m")}
SELECT pair, MAX(tot)::BIGINT AS n,
       SUM(CAST(FLOOR(((nxy::DOUBLE / tot::DOUBLE) * lnr) * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS mi_e6
FROM __mn GROUP BY pair
"""


def roc_auc_purchase_value(spark, sf):
    """Per-hour ROC-AUC of event value separating purchases from clicks
    (functions/stats.roc_auc_by_group) — the classifier-quality readout
    run on every quality-filter model, exact via the rank-sum identity
    with midrank ties; score is exact cents so ranks never touch
    floats."""
    from tada_spark.functions import stats

    e = (
        load(spark, sf, "events")
        .to_df()
        .filter(F.col("event_type").isin("purchase", "click"))
    )
    base = e.select(
        F.hour("ts").alias("hour"),
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
        F.round(F.col("value") * 100).cast("long").alias("s"),
    )
    return stats.roc_auc_by_group(base, "hour", F.col("pos"), F.col("s"))


ROC_AUC_SQL = """
WITH b AS (
  SELECT EXTRACT(hour FROM ts)::INT AS hour,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
         ROUND(value * 100)::BIGINT AS s
  FROM events
  WHERE event_type IN ('purchase', 'click') AND ts IS NOT NULL AND value IS NOT NULL
), cnts AS (
  SELECT hour, s, COUNT(*)::BIGINT AS t FROM b GROUP BY hour, s
), spine AS (
  SELECT hour, s,
         2 * COALESCE(SUM(t) OVER (PARTITION BY hour ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
  FROM cnts
), ranked AS (
  SELECT b.hour, b.pos, spine.r2 FROM b JOIN spine ON b.hour = spine.hour AND b.s = spine.s
), agg AS (
  SELECT hour, SUM(pos)::BIGINT AS n_pos, SUM(1 - pos)::BIGINT AS n_neg,
         SUM(r2 * pos)::BIGINT AS r1x2
  FROM ranked GROUP BY hour
)
SELECT hour, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         CAST(FLOOR(((r1x2 - n_pos * (n_pos + 1))::DOUBLE
                     / (2 * n_pos * n_neg)::DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       END AS auc_e6
FROM agg
"""


def theil_sen_daily_revenue(spark, sf):
    """Per-priority Theil-Sen revenue trend (functions/stats.
    theil_sen_by_group): the robust median-of-pairwise-slopes companion
    to ols_trend_priority — outlier days move OLS, not this. Facts
    collapse onto the calendar-bounded (priority, day) spine first;
    the quadratic runs over the spine, never the orders."""
    from tada_spark.functions import stats

    o = load(spark, sf, "orders").to_df()
    x = F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01")))
    return stats.theil_sen_by_group(o, "o_orderpriority", x, _cents("o_totalprice"))


THEIL_SEN_SQL = """
WITH b AS (
  SELECT o_orderpriority AS g,
         DATEDIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
         ROUND(o_totalprice * 100)::BIGINT AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), pts AS (
  SELECT g, x, SUM(y)::BIGINT AS y FROM b GROUP BY g, x
), pairs AS (
  SELECT a.g,
         CAST(FLOOR(((b.y - a.y)::DOUBLE / (b.x - a.x)::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS s
  FROM pts a JOIN pts b ON a.g = b.g AND a.x < b.x
), num AS (
  SELECT g, s, ROW_NUMBER() OVER (PARTITION BY g ORDER BY s) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS np
  FROM pairs
), mid AS (
  SELECT g, s, np FROM num WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
), med AS (
  SELECT g, MAX(np)::BIGINT AS n_pairs, CAST(SUM(s) * 2 / COUNT(*) AS BIGINT) AS slope_med_e6_x2
  FROM mid GROUP BY g
), npts AS (SELECT g, COUNT(*)::BIGINT AS n_points FROM pts GROUP BY g)
SELECT med.g AS o_orderpriority, npts.n_points, med.n_pairs, med.slope_med_e6_x2
FROM med JOIN npts ON med.g = npts.g
"""


def seasonal_decompose_revenue(spark, sf):
    """Classical trend/weekday-seasonal/remainder decomposition of
    daily order revenue (functions/stats.seasonal_decompose_weekday) —
    centered 7-day MA trend over the observed-day spine, per-weekday
    mean seasonal, all exact e6-dollar integer arithmetic; edge days
    (incomplete MA window) carry NULL components."""
    from tada_spark.functions import stats

    o = load(spark, sf, "orders").to_df()
    return stats.seasonal_decompose_weekday(
        o, F.to_date("o_orderdate"), _cents("o_totalprice")
    )


SEASONAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(ROUND(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_c
  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), t AS (
  SELECT day, revenue_c,
         revenue_c * 10000 AS u,
         CASE WHEN COUNT(*) OVER w = 7 THEN SUM(revenue_c * 10000) OVER w END AS w7
  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), d AS (
  SELECT day, revenue_c, u, CAST(w7 // 7 AS BIGINT) AS trend_e6,
         CAST(u - (w7 // 7) AS BIGINT) AS det
  FROM t
), seas AS (
  SELECT dayofweek(day) AS wd,
         CAST(FLOOR(SUM(det)::DOUBLE / COUNT(*)::DOUBLE + 0.5) AS BIGINT) AS seasonal_e6
  FROM d WHERE det IS NOT NULL GROUP BY 1
)
SELECT d.day, d.revenue_c, d.trend_e6,
       CASE WHEN d.trend_e6 IS NOT NULL THEN s.seasonal_e6 END AS seasonal_e6,
       CAST(d.det - s.seasonal_e6 AS BIGINT) AS remainder_e6
FROM d LEFT JOIN seas s ON dayofweek(d.day) = s.wd
"""


def dbscan_embeddings_2d(spark, sf):
    """DBSCAN density classification (operators/spatial.dbscan_classify)
    of the embedding corpus projected to its first two dimensions
    (integer-milli coordinates): core / border / noise at eps=25,
    min_pts=5 — the density screen that feeds cluster expansion and
    outlier triage. Grid 3×3-cell equi-joins, never |P|²; the naive
    quadratic oracle proves identical semantics."""
    from tada_spark.operators.spatial import dbscan_classify

    emb = load(spark, sf, "embeddings").to_df().select(
        F.col("vec_id").alias("pid"),
        F.floor(F.col("embedding").getItem(0).cast("double") * 1000).cast("long").alias("x"),
        F.floor(F.col("embedding").getItem(1).cast("double") * 1000).cast("long").alias("y"),
    )
    return dbscan_classify(emb, id_col="pid", x_col="x", y_col="y", eps=25, min_pts=5)


DBSCAN_SQL = """
WITH pts AS (
  SELECT vec_id AS pid,
         FLOOR(CAST(embedding[1] AS DOUBLE) * 1000)::BIGINT AS x,
         FLOOR(CAST(embedding[2] AS DOUBLE) * 1000)::BIGINT AS y
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL
), cnt AS (
  SELECT a.pid, COUNT(*)::BIGINT AS n_in_eps
  FROM pts a JOIN pts b
    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625
  GROUP BY a.pid
), core AS (SELECT pid FROM cnt WHERE n_in_eps >= 5),
near_core AS (
  SELECT DISTINCT a.pid
  FROM pts a JOIN pts b
    ON a.pid != b.pid
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625
  WHERE b.pid IN (SELECT pid FROM core)
)
SELECT c.pid, c.n_in_eps,
       CASE WHEN c.pid IN (SELECT pid FROM core) THEN 'core'
            WHEN c.pid IN (SELECT pid FROM near_core) THEN 'border'
            ELSE 'noise' END AS role
FROM cnt c
"""


def kcenter_coreset_embeddings(spark, sf):
    """Greedy k-center coreset over the embedding corpus
    (functions/similarity.kcenter_select, Gonzalez 1985): 6 maximally
    diverse vectors — the labeling/eval seed-set selector random
    sampling can't replace. k map-side max-struct sweeps, O(n·k); the
    oracle replays the greedy trajectory as unrolled CTEs."""
    from tada_spark.functions.similarity import kcenter_select

    emb = load(spark, sf, "embeddings").to_df()
    return kcenter_select(emb, k=6)


def _kcenter_sql(k: int) -> str:
    """Unrolled-CTE replay of kcenter_select's greedy trajectory: CTE
    c{i} picks round i's argmax of the e6-floored min-d² to c0..c{i-1}
    over NOT-YET-CHOSEN points (lowest id on ties), d² = a·a + b·b −
    2·a·b — the identical IEEE tree the Spark side folds. When k
    exceeds the corpus the tail CTEs are empty and the union simply
    emits fewer rows, matching the Spark side's early stop."""

    def d2(c: str) -> str:
        return (
            f"(LIST_DOT_PRODUCT(p.v, p.v) + LIST_DOT_PRODUCT({c}.v, {c}.v)"
            f" - 2.0 * LIST_DOT_PRODUCT(p.v, {c}.v))"
        )

    ctes = [
        "pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)",
        "c0 AS (SELECT vec_id, v, NULL::BIGINT AS d2_e6 FROM pts ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, k):
        prev = [f"c{j}" for j in range(i)]
        mind2 = (
            f"LEAST({', '.join(d2(c) for c in prev)})"
            if len(prev) > 1
            else d2(prev[0])
        )
        srcs = ", ".join(["pts p"] + prev)
        not_chosen = " AND ".join(f"p.vec_id != {c}.vec_id" for c in prev)
        ctes.append(
            f"c{i} AS (SELECT p.vec_id, p.v,"
            f" CAST(FLOOR({mind2} * 1000000.0 + 0.5) AS BIGINT) AS d2_e6"
            f" FROM {srcs}"
            f" WHERE {not_chosen}"
            f" ORDER BY CAST(FLOOR({mind2} * 1000000.0 + 0.5) AS BIGINT) DESC, p.vec_id ASC"
            f" LIMIT 1)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS sel_order, vec_id, d2_e6 AS maxmin_d2_e6 FROM c{i}"
        for i in range(k)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


KCENTER_SQL = _kcenter_sql(6)


def retrieval_metrics_docs(spark, sf):
    """MRR / recall@10 / precision@10 per source (functions/stats.
    retrieval_metrics_at_k) on the same deterministic ranking and
    synthetic relevance ndcg_retrieval_eval grades (binary: the top
    grade rel = 3), completing the retrieval-eval suite — one
    conditional hash-agg, no re-sort."""
    from pyspark.sql.window import Window

    from tada_spark.functions import stats

    docs = load(spark, sf, "documents").to_df().filter(
        F.col("source").isNotNull() & F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    w = Window.partitionBy("source").orderBy(F.length("text").desc(), F.col("doc_id").asc())
    ranked = docs.select(
        "source",
        F.row_number().over(w).alias("rk"),
        ((F.col("doc_id") % 13) % 4 == 0).cast("int").alias("rel"),
    )
    return stats.retrieval_metrics_at_k(ranked, "source", "rk", "rel", 10)


RETRIEVAL_METRICS_SQL = """
WITH ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY LENGTH(text) DESC, doc_id ASC) AS rk,
         CASE WHEN (doc_id % 13) % 4 = 0 THEN 1 ELSE 0 END AS rel
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL AND doc_id IS NOT NULL
), agg AS (
  SELECT source,
         SUM(rel)::BIGINT AS n_rel,
         MIN(CASE WHEN rel = 1 THEN rk END)::BIGINT AS first_rel_rank,
         SUM(CASE WHEN rel = 1 AND rk <= 10 THEN 1 ELSE 0 END)::BIGINT AS hits
  FROM ranked GROUP BY source
)
SELECT source, n_rel, first_rel_rank,
       CAST(FLOOR((1.0 / first_rel_rank::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS rr_e6,
       CASE WHEN n_rel > 0 THEN
         CAST(FLOOR((hits::DOUBLE / n_rel::DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       END AS recall_at_10_e6,
       CAST(FLOOR((hits::DOUBLE / 10.0) * 1000000.0 + 0.5) AS BIGINT) AS precision_at_10_e6
FROM agg
"""


def spatial_containment_tags(spark, sf):
    """Point-in-rectangle region tagging (operators/spatial.
    grid_containment_join): customers on the deterministic lattice
    against 25 nation-keyed geofence rectangles — each rect explodes to
    its covered grid cells, points equi-join on their single cell, the
    exact inclusive-bounds predicate filters in-bucket. The naive
    |R|×|P| oracle proves identical semantics."""
    from tada_spark.operators.spatial import grid_containment_join

    cust = load(spark, sf, "customer").to_df().select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_custkey") * 37 % 10000).alias("x"),
        (F.col("c_custkey") * 91 % 10000).alias("y"),
    )
    k = F.col("n_nationkey")
    rects = load(spark, sf, "nation").to_df().select(
        k.alias("rid"),
        (k * 397 % 9000).alias("x0"),
        (k * 397 % 9000 + 400 + k * 13 % 600).alias("x1"),
        (k * 811 % 9000).alias("y0"),
        (k * 811 % 9000 + 400 + k * 29 % 600).alias("y1"),
    )
    return grid_containment_join(
        cust, rects,
        point_id="pid", x_col="x", y_col="y",
        rect_id="rid", xmin="x0", xmax="x1", ymin="y0", ymax="y1",
        cell=512,
    )


SPATIAL_CONTAINMENT_SQL = """
WITH pts AS (
  SELECT c_custkey AS pid, (c_custkey * 37) % 10000 AS x, (c_custkey * 91) % 10000 AS y
  FROM customer WHERE c_custkey IS NOT NULL
), rects AS (
  SELECT n_nationkey AS rid,
         (n_nationkey * 397) % 9000 AS x0,
         (n_nationkey * 397) % 9000 + 400 + (n_nationkey * 13) % 600 AS x1,
         (n_nationkey * 811) % 9000 AS y0,
         (n_nationkey * 811) % 9000 + 400 + (n_nationkey * 29) % 600 AS y1
  FROM nation WHERE n_nationkey IS NOT NULL
)
SELECT rid, pid
FROM pts, rects
WHERE x >= x0 AND x <= x1 AND y >= y0 AND y <= y1
"""


def ewma_batch_users(spark, sf):
    """Per-user EWMA as a batch fold (functions/stats.ewma_by_key):
    the JVM-codegen twin of stream_ewma_users — same quantized
    recurrence, same (user_id, n_events, ewma_e6) result, verified by
    the SAME recursive-CTE oracle — demonstrating that the sequential
    recurrence has both a bounded-history batch expression (array_sort
    + aggregate, no UDF) and an unbounded streaming one
    (applyInPandasWithState)."""
    from tada_spark.functions import stats

    e = load(spark, sf, "events").to_df()
    return stats.ewma_by_key(
        e, "user_id", F.col("value"), F.col("ts"), F.col("event_id"), alpha=0.25
    )


def pit_feature_join_orders(spark, sf):
    """Point-in-time feature join (operators/cdc.pit_join) — the
    feature-store primitive that prevents leakage: facts observed at
    deterministic positions t = (key div 7) mod 5 join the SCD2 order
    history (same synthesized change stream as scd2_history_orders)
    and may only see the version valid AT t: NULL before the insert,
    v1 in [1,2), the doubled-price v2 from 2, and NULL again after a
    delete closes the interval. One union-stream carry shuffle; the
    oracle runs the naive interval join."""
    from tada_spark.operators.cdc import pit_join, scd2_history

    base = load(spark, sf, "orders").to_df().select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    changes = (
        base.filter(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.lit(1).alias("seq"), F.lit("I").alias("op"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 10 == 0).select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                F.lit(2).alias("seq"), F.lit("U").alias("op"),
            )
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 20 == 0).select(
                "o_orderkey", "o_custkey", "o_totalprice",
                F.lit(3).alias("seq"), F.lit("D").alias("op"),
            )
        )
    )
    history = scd2_history(changes, "o_orderkey")
    facts = base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.expr("o_orderkey div 7") % 5).alias("t"),
    )
    out = pit_join(facts, history, "o_orderkey", "t")
    return out.select(
        "o_orderkey",
        "t",
        _round_det(F.col("o_totalprice"), 2).alias("price_at_t"),
        "valid_from",
    )


PIT_JOIN_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
), changes AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 1 AS seq, 'I' AS op
  FROM base WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2, 2, 'U' FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, 3, 'D' FROM base WHERE o_orderkey % 20 = 0
), h AS (
  SELECT *, LEAD(seq) OVER (PARTITION BY o_orderkey ORDER BY seq ASC, op ASC) AS valid_to
  FROM changes
), hist AS (
  SELECT o_orderkey, o_custkey, o_totalprice, seq AS valid_from, valid_to
  FROM h WHERE op != 'D'
), facts AS (
  SELECT o_orderkey, (o_orderkey // 7) % 5 AS t FROM base WHERE o_orderkey % 2 = 0
)
SELECT f.o_orderkey, f.t,
       FLOOR(v.o_totalprice * 100 + 0.5) / 100 AS price_at_t,
       v.valid_from
FROM facts f
LEFT JOIN hist v
  ON f.o_orderkey = v.o_orderkey
 AND v.valid_from <= f.t
 AND (v.valid_to IS NULL OR v.valid_to > f.t)
"""


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

#: name → (spark_fn, oracle_sql | None)
#:
#: ORDER MATTERS: the external driver verifies the FIRST 50 entries against
#: the DuckDB oracle. The first 50 therefore cover every SURVEY §2 operator
#: and every LLM-pipeline tier component at least once (consolidated
#: queries pack several operators each); entries beyond 50 are additional
#: variants, verified by the identical local gate (tools/check_oracle.py).
def period_growth_orders(spark, sf):
    """Month-over-month revenue growth (functions/stats.period_growth):
    the classic period-over-period KPI — one hash-agg to calendar
    months (exact cents), then a lag window over the O(#months)
    aggregate. Growth is floor-quantized millionths of the previous
    month; the first month emits NULL."""
    from tada_spark.functions.stats import period_growth

    o = load(spark, sf, "orders").to_df().filter(F.col("o_totalprice").isNotNull())
    res = period_growth(
        o,
        F.date_format("o_orderdate", "yyyy-MM"),
        F.round(F.col("o_totalprice") * 100),
        bucket_name="ym",
    )
    return res.select(
        "ym", (F.col("total_cents") / F.lit(100.0)).alias("total"), "growth_e6"
    )


PERIOD_GROWTH_SQL = """
WITH b AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym, ROUND(o_totalprice * 100)::BIGINT AS cents
  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
), a AS (
  SELECT ym, SUM(cents)::BIGINT AS total_cents FROM b GROUP BY ym
), l AS (
  SELECT ym, total_cents, LAG(total_cents) OVER (ORDER BY ym) AS prev FROM a
)
SELECT ym, total_cents::DOUBLE / 100.0 AS total,
       CASE WHEN prev IS NOT NULL AND prev != 0
            THEN CAST(FLOOR((total_cents::DOUBLE - prev::DOUBLE) / ABS(prev)::DOUBLE
                            * 1000000 + 0.5) AS BIGINT)
       END AS growth_e6
FROM l
"""


def interval_islands_events(spark, sf):
    """Gaps-and-islands coverage (operators/interval.merge_intervals):
    each event opens a 5-minute activity interval; overlapping or
    touching intervals merge into islands per user, then per-user
    coverage stats. Pure integer microsecond arithmetic end to end —
    one shuffle on user_id, no self-join."""
    from tada_spark.operators.interval import merge_intervals
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    iv = (
        ev.to_df()
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            epoch_us(F.col("ts"), dts).alias("start_us"),
            (epoch_us(F.col("ts"), dts) + F.lit(300_000_000)).alias("end_us"),
        )
    )
    isl = merge_intervals(iv, key_cols=["user_id"], start_col="start_us", end_col="end_us")
    return isl.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_us"),
        F.max(F.col("island_end") - F.col("island_start")).alias("max_island_us"),
    )


INTERVAL_ISLANDS_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), w AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
), f AS (
  SELECT user_id, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni FROM w
), c AS (
  SELECT user_id, s, e,
         SUM(ni) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM f
), g AS (
  SELECT user_id, isl, MIN(s) AS i_start, MAX(e) AS i_end FROM c GROUP BY user_id, isl
)
SELECT user_id, COUNT(*)::BIGINT AS n_islands,
       SUM(i_end - i_start)::BIGINT AS covered_us,
       MAX(i_end - i_start)::BIGINT AS max_island_us
FROM g GROUP BY user_id
"""


def pareto_frontier_parts(spark, sf):
    """2-D skyline (operators/skyline.pareto_frontier_2d): parts not
    dominated under (minimize retail price, maximize size) — the
    classic multi-objective shortlist. Partition-local prune then a
    frontier-sized global pass; never the quadratic self-anti-join."""
    from tada_spark.operators.skyline import pareto_frontier_2d

    p = (
        load(spark, sf, "part")
        .to_df()
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
            "p_size",
        )
    )
    return pareto_frontier_2d(p, "price_cents", "p_size")


PARETO_SQL = """
WITH b AS (
  SELECT p_partkey, ROUND(p_retailprice * 100)::BIGINT AS price_cents, p_size
  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
), w AS (
  SELECT p_partkey, price_cents, p_size,
         MAX(p_size) OVER (ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt,
         MAX(p_size) OVER (PARTITION BY price_cents) AS m_eq
  FROM b
)
SELECT p_partkey, price_cents, p_size
FROM w WHERE NOT ((m_lt IS NOT NULL AND m_lt >= p_size) OR m_eq > p_size)
"""


def psi_drift_events(spark, sf):
    """Population Stability Index of the spend distribution, first half
    of the timeline vs the second, per event type
    (functions/stats.psi_drift) — the standard model-monitoring drift
    gauge beside KL's vocabulary drift. Integer era split + equi-width
    integer binning, Laplace-smoothed shares, det_ln, per-bin e6
    quantization before the exact sum."""
    from tada_spark.functions.stats import psi_drift
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    return psi_drift(
        ev.to_df(),
        "event_type",
        F.round(F.col("value") * 100),
        epoch_us(F.col("ts"), dts),
        n_bins=10,
    )


PSI_DRIFT_SQL = rf"""
WITH base AS (
  SELECT event_type AS grp, ROUND(value * 100)::BIGINT AS v, epoch_us(ts) AS s
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
), st AS (
  SELECT MIN(s) AS smin, MAX(s) AS smax, MIN(v) AS vmin, MAX(v) AS vmax FROM base
), eb AS (
  SELECT grp,
         CASE WHEN s <= smin + (smax - smin) // 2 THEN 0 ELSE 1 END AS era,
         LEAST(9, ((v - vmin) * 10) // (vmax - vmin + 1)) AS bin
  FROM base, st
), cnt AS (
  SELECT grp, era, bin, COUNT(*)::BIGINT AS n FROM eb GROUP BY grp, era, bin
), tot AS (
  SELECT grp, era, SUM(n)::BIGINT AS t FROM cnt GROUP BY grp, era
), spine AS (
  SELECT DISTINCT grp, u.b AS bin FROM cnt, UNNEST(generate_series(0, 9)) u(b)
), dense AS (
  SELECT sp.grp, sp.bin,
         COALESCE(c0.n, 0) AS n0, COALESCE(c1.n, 0) AS n1,
         COALESCE(t0.t, 0) AS t0, COALESCE(t1.t, 0) AS t1
  FROM spine sp
  LEFT JOIN (SELECT grp, bin, n FROM cnt WHERE era = 0) c0 USING (grp, bin)
  LEFT JOIN (SELECT grp, bin, n FROM cnt WHERE era = 1) c1 USING (grp, bin)
  LEFT JOIN (SELECT grp, t FROM tot WHERE era = 0) t0 USING (grp)
  LEFT JOIN (SELECT grp, t FROM tot WHERE era = 1) t1 USING (grp)
), pq AS (
  SELECT grp, bin, t0, t1,
         (n0 + 1)::DOUBLE / (t0 + 10)::DOUBLE AS p,
         (n1 + 1)::DOUBLE / (t1 + 10)::DOUBLE AS q
  FROM dense
), {_det_ln_ctes("p / q", "pq", "grp, bin, t0, t1, p, q", "lnr", "__p")}
SELECT grp AS event_type, t0 AS n_first, t1 AS n_second,
       SUM(CAST(FLOOR((p - q) * lnr * 1000000.0 + 0.5) AS BIGINT))::BIGINT AS psi_e6
FROM __pn GROUP BY grp, t0, t1
"""


def semdedup_embeddings(spark, sf):
    """SemDeDup semantic pruning (functions/similarity.semdedup, k=8,
    tau=0.30): cluster with integer-grid k-means (init + one
    assignment), then inside each cluster drop every vector whose
    e6-quantized cosine to a lower-id cluster-mate reaches tau —
    keep-lowest-id representative semantics. The synthetic embeddings
    top out near cosine 0.51, so 0.30 exercises real pruning; the
    operator is threshold-parametric."""
    from tada_spark.functions.similarity import semdedup

    emb = load(spark, sf, "embeddings").to_df().select("vec_id", "embedding")
    return semdedup(emb, k=8, tau_e6=300000)


SEMDEDUP_SQL = """
WITH live AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
), qd AS (
  SELECT vec_id AS vid, i - 1 AS dim,
         FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5)::BIGINT AS val
  FROM live, UNNEST(generate_series(1, len(embedding))) u(i)
), c0 AS (
  SELECT vid AS cid, dim, val AS cval
  FROM (SELECT *, DENSE_RANK() OVER (ORDER BY vid) AS vrk FROM qd)
  WHERE vrk <= 8
), d1 AS (
  SELECT q.vid, c.cid, SUM((q.val - c.cval) * (q.val - c.cval)) AS dist
  FROM qd q JOIN c0 c ON q.dim = c.dim GROUP BY q.vid, c.cid
), a1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn FROM d1
  ) WHERE rn = 1
), nrm AS (
  SELECT vid, SUM(val * val)::BIGINT AS n2 FROM qd GROUP BY vid
), t AS (
  SELECT a1.vid, a1.cid, q.dim, q.val FROM a1 JOIN qd q USING (vid)
), dots AS (
  SELECT ta.cid, ta.vid AS va, tb.vid AS vb, SUM(ta.val * tb.val)::BIGINT AS dot
  FROM t ta JOIN t tb ON ta.cid = tb.cid AND ta.dim = tb.dim AND ta.vid < tb.vid
  GROUP BY ta.cid, ta.vid, tb.vid
), dup AS (
  SELECT DISTINCT d.vb
  FROM dots d JOIN nrm na ON na.vid = d.va JOIN nrm nb ON nb.vid = d.vb
  WHERE na.n2 > 0 AND nb.n2 > 0
    AND FLOOR(d.dot::DOUBLE / (SQRT(na.n2::DOUBLE) * SQRT(nb.n2::DOUBLE))
              * 1000000 + 0.5)::BIGINT >= 300000
)
SELECT a1.vid AS vec_id, a1.cid AS cluster,
       (a1.vid NOT IN (SELECT vb FROM dup)) AS kept
FROM a1
"""


def audio_downsample_real(spark, sf):
    """REAL sample-level audio transform at the driver
    (functions/multimodal.audio_downsample, factor 2): the shared
    deterministic RIFF/PCM payloads are decoded by the real
    wav_pcm_samples, each pair of samples averages into one (boxcar
    decimation), and the oracle replays the block means analytically —
    block values (k1+k2)/2^16 are exact dyadics, so the RMS
    hash-matches bit-for-bit (the wav_decode_real argument extended
    through a transform)."""
    from tada_spark.functions import multimodal

    wavs = _det_wav_payloads(spark, sf)
    return multimodal.audio_downsample(wavs, factor=2)


AUDIO_DOWNSAMPLE_SQL = """
WITH p AS (
  SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr, 64 + (doc_id % 5) * 16 AS n
  FROM documents
), s AS (
  SELECT doc_id, sr, n, u.i AS i,
         ((doc_id * 7 + u.i * 13) % 2001 - 1000) AS k
  FROM p, UNNEST(generate_series(0, n - 1)) u(i)
), blk AS (
  -- n = 64 + m*16 is always even, so factor 2 leaves no partial tail
  SELECT doc_id, sr, n, i // 2 AS j, SUM(k)::BIGINT AS ksum
  FROM s GROUP BY doc_id, sr, n, i // 2
), v AS (
  SELECT doc_id, sr, n, (ksum::DOUBLE / 2) / 32768 AS bv FROM blk
)
SELECT doc_id AS media_id, (MAX(sr) // 2)::INT AS sample_rate_out,
       (MAX(n) // 2)::BIGINT AS n_out,
       FLOOR(SQRT(SUM(bv * bv) / (MAX(n) // 2)) * 1000000 + 0.5) / 1000000 AS rms_out
FROM v GROUP BY doc_id
"""


def asof_forward_next_click(spark, sf):
    """Forward as-of join with tolerance (Frame.asof_join
    direction='forward', tolerance 30 min): for every purchase, the
    NEXT click by the same user within half an hour — the
    time-to-follow-up lookup that mirrors asof_last_purchase's
    backward carry. Clicks are pre-deduplicated to one per (user, ts)
    keeping the lowest event_id (the documented tie contract); the
    union-stream carry stays ONE shuffle, zero row multiplication."""
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    purchases = Frame(
        ev.to_df()
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), "user_id", "ts")
    )
    clicks = Frame(
        ev.to_df()
        .filter(
            (F.col("event_type") == "click")
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    joined = purchases.asof_join(
        clicks,
        on="ts",
        by=["user_id"],
        value_cols=["click_id"],
        direction="forward",
        tolerance_us=1800 * 1_000_000,
    ).to_df()
    return joined.select(
        "p_id",
        "user_id",
        "click_id",
    )


ASOF_FORWARD_SQL = """
WITH purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts AS c_ts, MIN(event_id) AS click_id
  FROM events
  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id, ts
), cand AS (
  SELECT p.p_id, c.click_id,
         ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY c.c_ts) AS rn
  FROM purchases p JOIN clicks c ON c.user_id = p.user_id
   AND c.c_ts >= p.p_ts
   AND epoch_us(c.c_ts) - epoch_us(p.p_ts) <= 1800000000
)
SELECT p.p_id, p.user_id, c.click_id
FROM purchases p LEFT JOIN (SELECT p_id, click_id FROM cand WHERE rn = 1) c USING (p_id)
"""


def pq_adc_topk(spark, sf):
    """PQ/ADC ANN (functions/similarity.pq_adc_topk, 8 subspaces × 4
    centroids, 5 probes, top-5): product quantization with asymmetric
    distance computation — the table-lookup point on the ANN cost
    curve. Every distance is exact long arithmetic on the e6 grid
    (no floats, no rounding idiom); the oracle unrolls the subspace
    k-means init + assignment and replays the ADC sums."""
    from tada_spark.functions.similarity import pq_adc_topk as pq

    emb = load(spark, sf, "embeddings").to_df().select("vec_id", "embedding")
    return pq(emb, m_sub=8, k_cent=4, n_probes=5, k=5)


PQ_ADC_SQL = """
WITH live AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
), qd AS (
  SELECT vec_id AS vid, i - 1 AS dim, (i - 1) // (len(embedding) // 8) AS sub,
         FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5)::BIGINT AS val
  FROM live, UNNEST(generate_series(1, len(embedding))) u(i)
), lows AS (
  SELECT vid AS cid, dim, val AS cval
  FROM (SELECT *, DENSE_RANK() OVER (ORDER BY vid) AS vrk FROM qd)
  WHERE vrk <= 4
), d1 AS (
  SELECT q.vid, q.sub, c.cid,
         SUM((q.val - c.cval) * (q.val - c.cval))::BIGINT AS sdist
  FROM qd q JOIN lows c ON q.dim = c.dim GROUP BY q.vid, q.sub, c.cid
), codes AS (
  SELECT vid, sub, cid FROM (
    SELECT vid, sub, cid,
           ROW_NUMBER() OVER (PARTITION BY vid, sub ORDER BY sdist, cid) AS rn
    FROM d1) WHERE rn = 1
), probes AS (
  SELECT vid FROM (SELECT DISTINCT vid FROM qd) ORDER BY vid LIMIT 5
), dtab AS (
  SELECT d.vid AS pid, d.sub, d.cid, d.sdist FROM d1 d JOIN probes p ON d.vid = p.vid
), scored AS (
  SELECT t.pid AS query_id, c.vid AS neighbor_id, SUM(t.sdist)::BIGINT AS adc_dist
  FROM codes c JOIN dtab t ON t.sub = c.sub AND t.cid = c.cid AND t.pid != c.vid
  GROUP BY t.pid, c.vid
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


def length_bucket_batches_docs(spark, sf):
    """Length-bucketed training-batch assembly
    (functions/sampling.length_bucket_batches, batch_size=8): docs
    bucket by token-count bit_length, order by content hash inside
    each (source, bucket), group into batches of 8, and report each
    batch's pad-to-longest waste fraction — the collator-efficiency
    audit beside sequence_pack's concatenative packing."""
    from tada_spark.functions.sampling import length_bucket_batches

    docs = load(spark, sf, "documents").to_df()
    return length_bucket_batches(docs, batch_size=8)


LENGTH_BUCKET_SQL = r"""
WITH base AS (
  SELECT source AS shard, doc_id AS did, MD5(COALESCE(text, '')) AS h,
         (CASE WHEN LENGTH(TRIM(COALESCE(text, ''))) = 0 THEN 0
               ELSE len(regexp_split_to_array(TRIM(LOWER(COALESCE(text, ''))), '\s+'))
          END)::BIGINT AS tokens
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
), b AS (
  SELECT shard, did, h, tokens, LENGTH(BIN(tokens)) AS bucket FROM base
), n AS (
  SELECT shard, bucket, tokens,
         (ROW_NUMBER() OVER (PARTITION BY shard, bucket ORDER BY h, did) - 1) // 8 AS batch_id
  FROM b
), agg AS (
  SELECT shard, bucket, batch_id, COUNT(*)::BIGINT AS n_docs,
         SUM(tokens)::BIGINT AS total_tokens, MAX(tokens)::BIGINT AS max_tokens
  FROM n GROUP BY shard, bucket, batch_id
)
SELECT shard, bucket, batch_id, n_docs, total_tokens, max_tokens,
       CASE WHEN max_tokens > 0
            THEN CAST(FLOOR((n_docs::DOUBLE * max_tokens::DOUBLE - total_tokens::DOUBLE)
                            / (n_docs::DOUBLE * max_tokens::DOUBLE) * 1000000 + 0.5) AS BIGINT)
            ELSE 0 END AS padding_waste_e6
FROM agg
"""


def stream_outer_join_purchases(spark, sf):
    """Watermarked stream-stream LEFT OUTER interval join
    (streaming/windows.stream_interval_join how='left_outer'): clicks
    within [purchase, purchase + 1h] per user, plus a null-padded row
    for every purchase whose join window CLOSED under the final
    watermark unmatched. The emission boundary is deterministic under
    availableNow (single input file ⇒ one data batch + the no-data
    state-eviction batch): a purchase emits unmatched iff
    p_ts + 1h (join delay) falls strictly before the global watermark
    min(ms-floor(max_p_ts), ms-floor(max_c_ts)) − 1h — Spark tracks
    watermarks in milliseconds, which the oracle replays exactly.
    Purchases still inside the window when the stream ends stay in
    state and never emit (the streaming-outer contract)."""
    from tada_spark.streaming.windows import run_available_now, stream_interval_join

    purchases = (
        _stream_events(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"))
    )
    clicks = (
        _stream_events(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts"))
    )
    out = stream_interval_join(
        purchases, clicks, keys=["user_id"], left_ts="p_ts", right_ts="c_ts",
        max_delay="1 hour", how="left_outer",
    )
    res = run_available_now(
        out.select("p_id", "c_id"), "q_stream_oj", output_mode="append",
        timeout_s=240, state_partitions=_stream_state_partitions(spark, sf),
    )
    return res.select("p_id", "c_id")


STREAM_OUTER_JOIN_SQL = """
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'
), pairs AS (
  SELECT p.p_id, c.c_id FROM p JOIN c ON p.user_id = c.user_id
   AND c.c_ts >= p.p_ts AND c.c_ts <= p.p_ts + INTERVAL 1 HOUR
), wm AS (
  -- Spark watermarks are ms-floored max event times minus the delay;
  -- global watermark = min over both input streams
  SELECT LEAST(
           (epoch_us(MAX(CASE WHEN event_type = 'purchase' THEN ts END)) // 1000) * 1000,
           (epoch_us(MAX(CASE WHEN event_type = 'click' THEN ts END)) // 1000) * 1000
         ) - 3600000000 AS wm_us
  FROM events
), expired AS (
  SELECT p.p_id, NULL::BIGINT AS c_id
  FROM p, wm
  WHERE p.p_id NOT IN (SELECT p_id FROM pairs)
    AND epoch_us(p.p_ts) + 3600000000 < wm.wm_us
)
SELECT p_id, c_id FROM pairs UNION ALL SELECT p_id, c_id FROM expired
"""


def cms_heavy_hitters_users(spark, sf):
    """Count-min-sketch frequency profile (functions/sketches): a
    4×256 CMS of events.user_id built in one scan whose shuffle is
    capped at depth·width cells per input partition (the exact groupBy
    it replaces shuffles every distinct key — the difference between a
    bounded and an unbounded frequency profile at 100 TB), then the 20
    true-heaviest users point-estimated from the sketch. The md5 hash
    family makes every cell deterministic, so unlike the HLL/KLL
    entries this sketch is fully HASH-verified: output = exact count,
    CMS estimate, and the CMS overcount invariant est ≥ true that both
    engines assert as a computed boolean."""
    from tada_spark.functions import sketches

    ev = load(spark, sf, "events").to_df().filter(F.col("user_id").isNotNull())
    sk = sketches.cms_build(ev, F.col("user_id"), depth=4, width=256)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("user_id").asc())
        .limit(20)
    )
    est = sketches.cms_estimate(top, sk, "user_id", depth=4, width=256)
    return est.select(
        "user_id", "true_n", "est_n", (F.col("est_n") >= F.col("true_n")).alias("overcount_ok")
    )


CMS_HEAVY_HITTERS_SQL = """
WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
rows_ AS (SELECT i FROM UNNEST([0, 1, 2, 3]) t(i)),
cells AS (
  SELECT i AS r, ('0x' || md5('cms' || i || '#' || user_id::VARCHAR)[1:8])::BIGINT % 256 AS bucket,
         COUNT(*) AS c
  FROM ev, rows_ GROUP BY 1, 2
),
top AS (
  SELECT user_id, COUNT(*) AS true_n FROM ev GROUP BY user_id
  ORDER BY true_n DESC, user_id ASC LIMIT 20
),
probes AS (
  SELECT user_id, true_n, i AS r,
         ('0x' || md5('cms' || i || '#' || user_id::VARCHAR)[1:8])::BIGINT % 256 AS bucket
  FROM top, rows_
)
SELECT p.user_id, MAX(p.true_n)::BIGINT AS true_n, MIN(c.c)::BIGINT AS est_n,
       (MIN(c.c) >= MAX(p.true_n)) AS overcount_ok
FROM probes p JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
GROUP BY p.user_id
"""


def profile_columns_orders(spark, sf):
    """Single-pass table profiler (Frame.profile — ANALYZE/summary
    analog): rows / nulls / exact NDV / min / max for every orders
    column in ONE aggregate + a literal unpivot, one scan and one
    shuffle total. Reprs are the cross-engine-deterministic per-type
    canon (ints/strings verbatim, timestamps as epoch µs, doubles as
    e6 micro-unit integers) — never an engine's native double
    rendering."""
    return load(spark, sf, "orders").profile().to_df()


PROFILE_SQL = """
SELECT 'o_orderkey' AS col_name, COUNT(*)::BIGINT AS n_rows,
       (COUNT(*) - COUNT(o_orderkey))::BIGINT AS n_null,
       COUNT(DISTINCT o_orderkey)::BIGINT AS n_distinct,
       MIN(o_orderkey)::VARCHAR AS min_repr, MAX(o_orderkey)::VARCHAR AS max_repr
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_custkey))::BIGINT,
       COUNT(DISTINCT o_custkey)::BIGINT, MIN(o_custkey)::VARCHAR, MAX(o_custkey)::VARCHAR
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_orderstatus))::BIGINT,
       COUNT(DISTINCT o_orderstatus)::BIGINT, MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_totalprice))::BIGINT,
       COUNT(DISTINCT o_totalprice)::BIGINT,
       CAST(FLOOR(MIN(o_totalprice) * 1000000 + 0.5) AS BIGINT)::VARCHAR,
       CAST(FLOOR(MAX(o_totalprice) * 1000000 + 0.5) AS BIGINT)::VARCHAR
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_orderdate))::BIGINT,
       COUNT(DISTINCT o_orderdate)::BIGINT,
       epoch_us(MIN(o_orderdate))::VARCHAR, epoch_us(MAX(o_orderdate))::VARCHAR
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*)::BIGINT, (COUNT(*) - COUNT(o_orderpriority))::BIGINT,
       COUNT(DISTINCT o_orderpriority)::BIGINT, MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
"""


def rrf_hybrid_retrieval(spark, sf):
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): the BM25 top-20 (sparse) and the brute-cosine top-20 against
    the lowest-id live embedding (dense) fused by
    score = Σ 1e9 div (60 + rank) — INTEGER division, so the fusion is
    exact on both engines with no float discipline needed at all.
    Ranks are assigned over integer-quantized scores (score_e6 /
    cos_e6) with id tiebreaks, making both lists cross-engine
    deterministic. doc_id and vec_id share the same id domain in the
    testdata (TESTDATA.md), which is what makes the id-level fusion
    meaningful. Plan: the dense side is a 1-row probe broadcast
    (allowlisted BNLJ — linear in the corpus); both lists end in
    TakeOrderedAndProject; the fusion joins two ≤20-row frames."""
    from pyspark.sql.window import Window

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    ws = Window.orderBy(F.col("score_e6").desc(), F.col("doc_id").asc())
    sparse = (
        text.bm25_rank(docs, BM25_QUERY_TERMS, top_k=20)
        .select("doc_id", F.row_number().over(ws).alias("rank_sparse"))
    )

    live = (
        load(spark, sf, "embeddings")
        .to_df()
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    probe = live.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("pid"), F.col("v").alias("pv")
    )
    cos_e6 = F.floor(similarity.cosine(F.col("v"), F.col("pv")) * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    dense20 = (
        live.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(F.col("vec_id").alias("doc_id"), cos_e6.alias("cos_e6"))
        .orderBy(F.col("cos_e6").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    wd = Window.orderBy(F.col("cos_e6").desc(), F.col("doc_id").asc())
    dense = dense20.select("doc_id", F.row_number().over(wd).alias("rank_dense"))

    def contrib(c: str):
        return F.coalesce(F.expr(f"1000000000 div (60 + {c})"), F.lit(0).cast("long"))

    return (
        sparse.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            (contrib("rank_sparse") + contrib("rank_dense")).alias("rrf_e9"),
            "rank_sparse",
            "rank_dense",
        )
        .orderBy(F.col("rrf_e9").desc(), F.col("doc_id").asc())
        .limit(10)
    )


RRF_SQL = (
    "WITH "
    + _BM25_CTES
    + """,
sparse AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id ASC) AS rank_sparse
  FROM (SELECT doc_id, SUM(c_e6)::BIGINT AS score_e6 FROM contrib GROUP BY doc_id
        ORDER BY score_e6 DESC, doc_id ASC LIMIT 20)
),
live AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
probe AS (SELECT vec_id AS pid, v AS pv FROM live ORDER BY vec_id LIMIT 1),
dcos AS (
  SELECT l.vec_id,
         CAST(FLOOR((LIST_DOT_PRODUCT(l.v, p.pv)
               / (SQRT(LIST_DOT_PRODUCT(l.v, l.v)) * SQRT(LIST_DOT_PRODUCT(p.pv, p.pv))))
              * 1000000 + 0.5) AS BIGINT) AS cos_e6
  FROM live l, probe p WHERE l.vec_id != p.pid
),
dense AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_e6 DESC, doc_id ASC) AS rank_dense
  FROM (SELECT vec_id AS doc_id, cos_e6 FROM dcos
        ORDER BY cos_e6 DESC, doc_id ASC LIMIT 20)
),
fused AS (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         (COALESCE(1000000000 // (60 + s.rank_sparse), 0)
          + COALESCE(1000000000 // (60 + d.rank_dense), 0))::BIGINT AS rrf_e9,
         s.rank_sparse, d.rank_dense
  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
)
SELECT doc_id, rrf_e9, rank_sparse, rank_dense
FROM fused ORDER BY rrf_e9 DESC, doc_id ASC LIMIT 10
"""
)


def dsir_select_docs(spark, sf):
    """DSIR-style data selection (functions/sampling.dsir_scores, after
    Xie et al. 2023): hashed unigram+bigram importance weights
    log(p_en / q_all) per md5 bucket — exact integer cross-products
    into det_ln, quantized to integer millionths per bucket BEFORE the
    per-document sum — then the deterministic top-30 documents by
    score. Two bounded bucket aggregates + one corpus-sized doc-sum
    shuffle; the 1024-row weight table broadcasts."""
    from tada_spark.functions import sampling

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text", "lang")
    scores = sampling.dsir_scores(docs, F.col("lang") == "en", n_buckets=1024)
    return scores.orderBy(F.col("score_e6").desc(), F.col("doc_id").asc()).limit(30)


DSIR_SQL = r"""
WITH tk AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tkl
  FROM documents WHERE LENGTH(TRIM(text)) > 0
), fb AS (
  SELECT doc_id, tgt,
         ('0x' || md5('dsir#' || f.feat)[1:8])::BIGINT % 1024 AS bucket
  FROM tk, UNNEST(tkl || list_transform(generate_series(1, len(tkl) - 1),
                                        i -> tkl[i] || '_' || tkl[i+1])) AS f(feat)
), counts AS (
  SELECT bucket, COUNT(*) AS cq, COUNT(*) FILTER (tgt) AS ct FROM fb GROUP BY bucket
), totals AS (
  SELECT bucket, cq, ct, SUM(cq) OVER () AS q_tot, SUM(ct) OVER () AS t_tot FROM counts
), w_r AS (
  -- det_ln (plans/semantics.py) replicated CTE for CTE, ratio input
  -- from exact integer cross-products (Laplace-smoothed p_t / q_s)
  SELECT bucket,
         GREATEST(CAST(FLOOR((((ct + 1) * (q_tot + 1024))::DOUBLE
                              / ((cq + 1) * (t_tot + 1024))::DOUBLE) * 1000000.0 + 0.5) AS BIGINT),
                  CAST(1 AS BIGINT)) AS r
  FROM totals
), w_k AS (
  SELECT bucket, r, (LENGTH(BIN(r)) - 1) AS k FROM w_r
), w_z AS (
  SELECT bucket, k,
         (((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)) - 1.0)
          / ((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)) + 1.0)) AS z
  FROM w_k
), w_ln AS (
  SELECT bucket,
         ((CAST(k AS DOUBLE) * 0.6931471805599453)
          + ((2.0 * z) * (1.0 + (z*z) * ((1.0/3.0) + (z*z) * ((1.0/5.0) + (z*z) * ((1.0/7.0)
             + (z*z) * ((1.0/9.0) + (z*z) * ((1.0/11.0) + (z*z) * ((1.0/13.0) + (z*z) * (1.0/15.0)))))))))
         ) - 13.815510557964274 AS lnr
  FROM w_z
), weights AS (
  SELECT bucket, CAST(FLOOR(lnr * 1000000 + 0.5) AS BIGINT) AS lw_e6 FROM w_ln
)
SELECT fb.doc_id, SUM(lw_e6)::BIGINT AS score_e6, COUNT(*) AS n_feats
FROM fb JOIN weights USING (bucket) GROUP BY fb.doc_id
ORDER BY score_e6 DESC, doc_id ASC LIMIT 30
"""


def image_dhash_near_dup(spark, sf):
    """Perceptual-hash image near-dup, REAL decode path end-to-end
    (functions/multimodal.image_dhash_features): each doc_id renders a
    real grayscale PNG whose pixels derive from base = doc_id // 2,
    with a uniform +0/+1 brightness offset per pair member and
    alternating None/Up scanline filters; the real PNG decoder
    recovers the pixels, dHash area-averages them onto a 9×7 grid and
    packs 56 horizontal-gradient bits — cell comparisons by integer
    cross-product, so every bit is exact. A uniform brightness shift
    preserves all gradients, so pair members are GUARANTEED to collide
    (the property that makes dHash the cheap image near-dup key);
    unrelated bases whose gradient-sign patterns coincide can share a
    bucket too — dHash is a recall-oriented candidate key, grouped
    here exactly as LSH buckets are (candidates first, exact verify
    downstream). Pixels are analytic, so the DuckDB oracle replays
    thumbnail + hash arithmetically. Only (id, int64) pairs shuffle —
    never pixels."""
    from tada_spark.functions import multimodal

    docs = load(spark, sf, "documents").to_df().select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                base = mid // 2
                w, h = 9 + base % 5, 8 + base % 4
                ft = 2 if mid % 2 else 0
                payloads.append(
                    multimodal.encode_png_gray8(
                        w,
                        h,
                        lambda x, y, b=base, W=w, m=mid: (b * 37 + y * W + x * 11) % 251
                        + m % 2,
                        filter_type=ft,
                    )
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    pngs = docs.mapInPandas(build, schema="media_id long, payload binary")
    hashes = multimodal.image_dhash_features(pngs, grid_w=9, grid_h=7)
    return (
        hashes.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_imgs"),
            F.min("media_id").alias("min_id"),
            F.max("media_id").alias("max_id"),
        )
        .filter(F.col("n_imgs") >= 2)
    )


IMAGE_DHASH_SQL = """
WITH p AS (
  SELECT doc_id, doc_id // 2 AS base,
         9 + (doc_id // 2) % 5 AS w, 8 + (doc_id // 2) % 4 AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, x.i AS x, y.j AS y,
         ((base * 37 + y.j * w + x.i * 11) % 251 + doc_id % 2) AS v
  FROM p, UNNEST(generate_series(0, h - 1)) y(j), UNNEST(generate_series(0, w - 1)) x(i)
), th AS (
  SELECT doc_id, (x * 9) // w AS tx, (y * 7) // h AS ty,
         SUM(v)::BIGINT AS s, COUNT(*)::BIGINT AS c
  FROM px GROUP BY doc_id, (x * 9) // w, (y * 7) // h
), bits AS (
  -- dHash bit: left cell brighter than right, compared by integer
  -- cross-product (s_l*c_r > s_r*c_l) — exact, no float division
  SELECT a.doc_id, a.ty, a.tx,
         CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
  FROM th a JOIN th b ON a.doc_id = b.doc_id AND a.ty = b.ty AND b.tx = a.tx + 1
  WHERE a.tx < 8
), dh AS (
  SELECT doc_id, SUM(bit::BIGINT << (ty * 8 + tx))::BIGINT AS dhash
  FROM bits GROUP BY doc_id
)
SELECT dhash, COUNT(*)::BIGINT AS n_imgs,
       MIN(doc_id)::BIGINT AS min_id, MAX(doc_id)::BIGINT AS max_id
FROM dh GROUP BY dhash HAVING COUNT(*) >= 2
"""


def content_digest_tables(spark, sf):
    """Order-invariant table fingerprints (Frame.content_digest):
    orders and customer each reduce to (n_rows, digest) through one
    bounded aggregate — row canon via the shared per-type
    deterministic reprs, md5-bucketed into 4096 count cells, digest =
    md5 of the numerically-sorted bucket:count list. The cheap 100 TB
    snapshot-equality primitive (full diffs cost a co-partitioned
    join; this costs a scan + a 4096-cell agg per table)."""
    o = (
        load(spark, sf, "orders")
        .content_digest()
        .to_df()
        .select(F.lit("orders").alias("table_name"), "n_rows", "digest")
    )
    c = (
        load(spark, sf, "customer")
        .content_digest()
        .to_df()
        .select(F.lit("customer").alias("table_name"), "n_rows", "digest")
    )
    return o.unionByName(c)


CONTENT_DIGEST_SQL = """
WITH o_rows AS (
  SELECT ('0x' || md5(
      COALESCE(o_orderkey::VARCHAR, '(null)') || '|' ||
      COALESCE(o_custkey::VARCHAR, '(null)') || '|' ||
      COALESCE(o_orderstatus, '(null)') || '|' ||
      COALESCE(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)::VARCHAR, '(null)') || '|' ||
      COALESCE(epoch_us(o_orderdate)::VARCHAR, '(null)') || '|' ||
      COALESCE(o_orderpriority, '(null)')
  )[1:8])::BIGINT % 4096 AS bucket FROM orders
), o_cells AS (SELECT bucket, COUNT(*) AS n FROM o_rows GROUP BY bucket),
o_dig AS (
  SELECT 'orders' AS table_name, SUM(n)::BIGINT AS n_rows,
         md5(string_agg(bucket::VARCHAR || ':' || n::VARCHAR, ',' ORDER BY bucket)) AS digest
  FROM o_cells
), c_rows AS (
  SELECT ('0x' || md5(
      COALESCE(c_custkey::VARCHAR, '(null)') || '|' ||
      COALESCE(c_name, '(null)') || '|' ||
      COALESCE(c_nationkey::VARCHAR, '(null)') || '|' ||
      COALESCE(CAST(FLOOR(c_acctbal * 1000000 + 0.5) AS BIGINT)::VARCHAR, '(null)') || '|' ||
      COALESCE(c_mktsegment, '(null)')
  )[1:8])::BIGINT % 4096 AS bucket FROM customer
), c_cells AS (SELECT bucket, COUNT(*) AS n FROM c_rows GROUP BY bucket),
c_dig AS (
  SELECT 'customer' AS table_name, SUM(n)::BIGINT AS n_rows,
         md5(string_agg(bucket::VARCHAR || ':' || n::VARCHAR, ',' ORDER BY bucket)) AS digest
  FROM c_cells
)
SELECT table_name, n_rows, digest FROM o_dig
UNION ALL
SELECT table_name, n_rows, digest FROM c_dig
"""


def referential_integrity_report(spark, sf):
    """FK integrity audit (operators/validate.referential_check) over
    four edges of the star schema: lineitem→orders, lineitem→part,
    orders→customer, customer→nation. Each edge is a distinct-keys
    left_anti (Catalyst broadcasts the dim side) reduced to one audit
    row — the lake-ingest gate that catches dangling keys before a
    silent inner-join row loss does."""
    from tada_spark.operators.validate import referential_report

    li = load(spark, sf, "lineitem").to_df()
    orders = load(spark, sf, "orders").to_df()
    cust = load(spark, sf, "customer").to_df()
    part = load(spark, sf, "part").to_df()
    nation = load(spark, sf, "nation").to_df()
    return referential_report(
        [
            (li, "l_orderkey", orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "lineitem.l_orderkey->orders"),
            (li, "l_partkey", part.select(F.col("p_partkey").alias("l_partkey")), "l_partkey", "lineitem.l_partkey->part"),
            (orders, "o_custkey", cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "orders.o_custkey->customer"),
            (cust, "c_nationkey", nation.select(F.col("n_nationkey").alias("c_nationkey")), "c_nationkey", "customer.c_nationkey->nation"),
        ]
    )


REFERENTIAL_SQL = """
SELECT 'lineitem.l_orderkey->orders' AS edge, COUNT(*)::BIGINT AS n_rows,
       COUNT(*) FILTER (l_orderkey IS NULL)::BIGINT AS n_null_key,
       COUNT(*) FILTER (l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL))::BIGINT AS n_orphan,
       (COUNT(*) FILTER (l_orderkey IS NOT NULL
           AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) = 0) AS ok
FROM lineitem
UNION ALL
SELECT 'lineitem.l_partkey->part', COUNT(*)::BIGINT,
       COUNT(*) FILTER (l_partkey IS NULL)::BIGINT,
       COUNT(*) FILTER (l_partkey IS NOT NULL
           AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL))::BIGINT,
       (COUNT(*) FILTER (l_partkey IS NOT NULL
           AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)) = 0)
FROM lineitem
UNION ALL
SELECT 'orders.o_custkey->customer', COUNT(*)::BIGINT,
       COUNT(*) FILTER (o_custkey IS NULL)::BIGINT,
       COUNT(*) FILTER (o_custkey IS NOT NULL
           AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))::BIGINT,
       (COUNT(*) FILTER (o_custkey IS NOT NULL
           AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)) = 0)
FROM orders
UNION ALL
SELECT 'customer.c_nationkey->nation', COUNT(*)::BIGINT,
       COUNT(*) FILTER (c_nationkey IS NULL)::BIGINT,
       COUNT(*) FILTER (c_nationkey IS NOT NULL
           AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))::BIGINT,
       (COUNT(*) FILTER (c_nationkey IS NOT NULL
           AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)) = 0)
FROM customer
"""


def epoch_shuffle_docs(spark, sf):
    """Three-epoch deterministic shuffle schedule over documents
    (functions/sampling.epoch_shuffle): per-epoch md5 permutation,
    assigned shard-locally (8 md5 shards) so no epoch ever needs a
    global sort — the reproducible shuffle-between-epochs a training
    reader consumes as (epoch, shard, pos)."""
    from tada_spark.functions import sampling

    docs = load(spark, sf, "documents").to_df().select("doc_id")
    return sampling.epoch_shuffle(docs, n_epochs=3, n_shards=8)


EPOCH_SHUFFLE_SQL = """
WITH b AS (SELECT doc_id, e.epoch FROM documents, UNNEST([0, 1, 2]) e(epoch)),
k AS (
  SELECT doc_id, epoch,
         ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 8 AS shard,
         ('0x' || md5('ep' || epoch || '#' || doc_id::VARCHAR)[1:8])::BIGINT AS okey
  FROM b
)
SELECT doc_id, epoch, shard,
       (ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY okey, doc_id) - 1) AS pos
FROM k
"""


def ks_test_click_purchase(spark, sf):
    """Two-sample KS statistic (functions/stats.ks_statistic): click vs
    purchase value distributions over integer cent bins — one bounded
    aggregate + a window over the bin rows, sup taken over integer
    cross-differences so the statistic is exact for the binned CDFs."""
    from tada_spark.functions import stats

    ev = load(spark, sf, "events").to_df()
    return stats.ks_statistic(ev, "value", "event_type", "click", "purchase", scale=100)


KS_TEST_SQL = """
WITH ev AS (
  SELECT FLOOR(value * 100)::BIGINT AS b, (event_type = 'click') AS is1
  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), counts AS (
  SELECT b, COUNT(*) FILTER (is1) AS c1, COUNT(*) FILTER (NOT is1) AS c2
  FROM ev GROUP BY b
), stepped AS (
  SELECT SUM(c1) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum1,
         SUM(c2) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum2,
         SUM(c1) OVER ()::BIGINT AS n1, SUM(c2) OVER ()::BIGINT AS n2
  FROM counts
)
SELECT n1 AS n_g1, n2 AS n_g2,
       MAX(ABS(cum1 * n2 - cum2 * n1))::BIGINT AS d_num,
       CAST(FLOOR(MAX(ABS(cum1 * n2 - cum2 * n1))::DOUBLE / (n1 * n2)::DOUBLE * 1000000 + 0.5)
            AS BIGINT) AS d_e6
FROM stepped GROUP BY n1, n2
"""


def stream_ewma_users(spark, sf):
    """Streaming per-user EWMA (streaming/stateful.ewma_scores,
    applyInPandasWithState): a sequential recurrence no built-in
    window expresses, folded in event-time order with the QUANTIZED
    step s ← floor((α·x + (1−α)·s)·1e6 + 0.5)/1e6 so every
    intermediate lands on an e6 grid point — which is what lets a
    DuckDB RECURSIVE CTE replay the recurrence bit-for-bit. α = 0.25
    is exactly representable, making each step two correctly-rounded
    IEEE ops. availableNow over the single events file ⇒ one batch;
    update-mode sink holds the final per-user scores."""
    from tada_spark.streaming.stateful import ewma_scores

    stream = _stream_events(spark, sf).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    out = ewma_scores(stream, "user_id", "value", "ts", "event_id", alpha=0.25)
    from tada_spark.streaming import run_available_now

    res = run_available_now(out, "q_stream_ewma", timeout_s=240, output_mode="update", state_partitions=_stream_state_partitions(spark, sf))
    return res.select("user_id", "n_events", "ewma_e6")


STREAM_EWMA_SQL = """
WITH RECURSIVE ord AS (
  SELECT user_id, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id)::BIGINT AS n
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), rec AS (
  SELECT user_id, rn, n, FLOOR(value * 1000000 + 0.5) / 1000000 AS s
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.rn, o.n,
         FLOOR((0.25 * o.value + 0.75 * r.s) * 1000000 + 0.5) / 1000000
  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, n AS n_events, CAST(FLOOR(s * 1000000 + 0.5) AS BIGINT) AS ewma_e6
FROM rec WHERE rn = n
"""


#: Subword vocabulary for the WordPiece-apply entry — ONE Python
#: constant renders into BOTH the Spark automaton and the SQL recursive
#: CTE, so the two can never drift a unit at a time.
_WORDPIECE_VOCAB = {
    4: ["tion"],
    3: ["ing", "the", "ent", "and"],
    2: ["er", "in", "on", "at", "en", "an", "re", "he", "ed", "nd", "es", "or", "st", "ar", "te", "of"],
}


def wordpiece_apply_docs(spark, sf):
    """Tokenizer APPLY at corpus scale (functions/text.
    greedy_segment_stats): greedy longest-match subword segmentation of
    every token against a fixed vocabulary, run entirely as one
    JVM-side F.aggregate automaton (no Python, whole-stage codegen) —
    the counterpart of bpe_merge_docs, which TRAINS a vocabulary.
    Per-doc piece counts and the chars-per-piece compression ratio;
    the DuckDB oracle replays the automaton with a recursive CTE, one
    level per emitted piece."""
    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    return text.greedy_segment_stats(docs, _WORDPIECE_VOCAB)


def _wordpiece_sql() -> str:
    def lits(n):
        return ", ".join(f"'{u}'" for u in _WORDPIECE_VOCAB[n])

    cond = {n: f"substr(w.w, r.pos, {n}) IN ({lits(n)})" for n in (4, 3, 2)}
    return rf"""
WITH RECURSIVE tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tkl
  FROM documents WHERE LENGTH(TRIM(text)) > 0
), words AS (
  SELECT doc_id, ROW_NUMBER() OVER () AS word_id, f.w AS w
  FROM tk, UNNEST(tkl) AS f(w)
), rec AS (
  SELECT word_id, 1 AS pos, 0 AS n, 0 AS n1 FROM words
  UNION ALL
  SELECT r.word_id,
         r.pos + CASE WHEN {cond[4]} THEN 4
                      WHEN {cond[3]} THEN 3
                      WHEN {cond[2]} THEN 2 ELSE 1 END,
         r.n + 1,
         r.n1 + CASE WHEN {cond[4]} OR {cond[3]} OR {cond[2]} THEN 0 ELSE 1 END
  FROM rec r JOIN words w USING (word_id)
  WHERE r.pos <= LENGTH(w.w)
), fin AS (
  SELECT r.word_id, r.n, r.n1 FROM rec r JOIN words w USING (word_id)
  WHERE r.pos > LENGTH(w.w)
)
SELECT w.doc_id, COUNT(*)::BIGINT AS n_words, SUM(f.n)::BIGINT AS n_pieces,
       SUM(f.n1)::BIGINT AS n_single,
       CAST(FLOOR(SUM(LENGTH(w.w))::DOUBLE / SUM(f.n)::DOUBLE * 1000000 + 0.5) AS BIGINT)
         AS chars_per_piece_e6
FROM fin f JOIN words w USING (word_id)
GROUP BY w.doc_id
"""


WORDPIECE_SQL = _wordpiece_sql()


def twap_value_users(spark, sf):
    """Per-user time-weighted average event value (functions/stats.
    time_weighted_mean): step interpolation, integer-µs weights ×
    integer cents — exact sums, one rounded division at the end."""
    from tada_spark.functions import stats

    ev = load(spark, sf, "events").to_df()
    return stats.time_weighted_mean(ev, "user_id", "ts", "value", seq_col="event_id")


TWAP_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, ROUND(value * 100)::BIGINT AS cents
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
), d AS (
  SELECT user_id, cents,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dur
  FROM e
)
SELECT user_id, COUNT(*)::BIGINT AS n_intervals,
       CAST(FLOOR(SUM(cents * dur)::DOUBLE / (SUM(dur) * 100)::DOUBLE * 1000000 + 0.5)
            AS BIGINT) AS twap_e6
FROM d WHERE dur IS NOT NULL GROUP BY user_id HAVING SUM(dur) > 0
"""


def triplet_mining_embeddings(spark, sf):
    """Contrastive-training triplet mining: for each of the 20
    lowest-id anchors, the hardest positive (same label, highest
    cosine) and hardest negative (different label, highest cosine) —
    the standard batch-hard mining step of metric learning, as a
    broadcast-anchors sweep over the partitioned corpus (the
    allowlisted ann-style BNLJ: linear in the corpus, never
    quadratic). Cosines quantize to e6 integers BEFORE ranking; zero-
    norm and unlabeled vectors are filtered up front on both engines."""
    from pyspark.sql.window import Window

    live = (
        load(spark, sf, "embeddings")
        .to_df()
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0) & F.col("label").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"), "label")
        .filter(similarity.dot(F.col("v"), F.col("v")) > 0)
    )
    anchors = live.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("label").alias("a_label")
    )
    cos_e6 = F.floor(
        similarity.cosine(F.col("av"), F.col("v")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    scored = (
        live.join(F.broadcast(anchors), F.col("a_id") != F.col("vec_id"))
        .select(
            "a_id",
            F.when(F.col("label") == F.col("a_label"), F.lit("pos")).otherwise(F.lit("neg")).alias("kind"),
            F.col("vec_id").alias("cand_id"),
            cos_e6.alias("cos_e6"),
        )
    )
    w = Window.partitionBy("a_id", "kind").orderBy(F.col("cos_e6").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(F.col("a_id").alias("anchor_id"), "kind", "cand_id", "cos_e6")
    )


TRIPLET_SQL = """
WITH live AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0 AND label IS NOT NULL
    AND LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), a AS (
  SELECT vec_id AS a_id, v AS av, label AS a_label FROM live ORDER BY vec_id LIMIT 20
), j AS (
  SELECT a.a_id,
         CASE WHEN c.label = a.a_label THEN 'pos' ELSE 'neg' END AS kind,
         c.vec_id AS cand_id,
         CAST(FLOOR((LIST_DOT_PRODUCT(a.av, c.v)
               / (SQRT(LIST_DOT_PRODUCT(a.av, a.av)) * SQRT(LIST_DOT_PRODUCT(c.v, c.v))))
              * 1000000 + 0.5) AS BIGINT) AS cos_e6
  FROM a JOIN live c ON c.vec_id != a.a_id
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id, kind ORDER BY cos_e6 DESC, cand_id ASC) AS r
  FROM j
)
SELECT a_id AS anchor_id, kind, cand_id, cos_e6 FROM rk WHERE r = 1
"""


def mannwhitney_click_purchase(spark, sf):
    """Two-sample Mann-Whitney U (functions/stats.mann_whitney_u):
    click vs purchase value distributions over integer cent bins —
    midrank ties kept exact by doubling, tie-corrected z quantized e6.
    Complements the KS entry: rank-sum location shift vs sup-CDF."""
    from tada_spark.functions import stats

    ev = load(spark, sf, "events").to_df()
    return stats.mann_whitney_u(ev, "value", "event_type", "click", "purchase", scale=100)


MANNWHITNEY_SQL = """
WITH ev AS (
  SELECT FLOOR(value * 100)::BIGINT AS b, (event_type = 'click') AS is1
  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), counts AS (
  SELECT b, COUNT(*) FILTER (is1)::BIGINT AS c1, COUNT(*) FILTER (NOT is1)::BIGINT AS c2
  FROM ev GROUP BY b
), ranked AS (
  SELECT c1, c2, (c1 + c2) AS t,
         COALESCE(SUM(c1 + c2) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM counts
), agg AS (
  SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2,
         SUM(c1 * (2 * before + t + 1))::BIGINT AS r1_x2,
         SUM(t * t * t - t)::BIGINT AS tie
  FROM ranked
)
SELECT n1 AS n_g1, n2 AS n_g2,
       (r1_x2 - n1 * (n1 + 1)) AS u1_x2,
       CASE WHEN (n1::DOUBLE * n2::DOUBLE / 12.0
                  * ((n1 + n2)::DOUBLE + 1.0
                     - tie::DOUBLE / ((n1 + n2)::DOUBLE * ((n1 + n2)::DOUBLE - 1.0)))) > 0
            THEN CAST(FLOOR(((r1_x2 - n1 * (n1 + 1))::DOUBLE - n1::DOUBLE * n2::DOUBLE)
                 / (2.0 * SQRT(n1::DOUBLE * n2::DOUBLE / 12.0
                    * ((n1 + n2)::DOUBLE + 1.0
                       - tie::DOUBLE / ((n1 + n2)::DOUBLE * ((n1 + n2)::DOUBLE - 1.0)))))
                 * 1000000 + 0.5) AS BIGINT)
       END AS z_e6
FROM agg
"""


def interpolate_masked_values(spark, sf):
    """Linear imputation quality check over events: values at
    event_id % 7 == 0 are masked to null, then Frame.interpolate
    rebuilds them from the nearest per-user neighbors on the integer-µs
    time axis (integer cents in, one double expression tree out,
    quantized e6). Emits (user_id, event_id, actual_cents, interp_e6)
    for every masked row both of whose neighbors exist — the
    train/validate harness for any gap-filling pipeline."""
    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    from tada_spark.plans.timeutil import epoch_us

    base = ev.to_df().filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        epoch_us(F.col("ts"), dts).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    masked = base.withColumn(
        "mv", F.when(F.col("event_id") % 7 != 0, F.col("cents"))
    )
    filled = Frame(masked).interpolate(
        "mv", x_col="us", partition_by="user_id", tiebreak="event_id", as_col="iv"
    )
    return (
        filled.to_df()
        .filter((F.col("event_id") % 7 == 0) & F.col("iv").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.col("cents").alias("actual_cents"),
            F.floor(F.col("iv") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("interp_e6"),
        )
    )


INTERPOLATE_SQL = """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, ROUND(value * 100)::BIGINT AS cents,
         CASE WHEN event_id % 7 != 0 THEN ROUND(value * 100)::BIGINT END AS mv
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), nb AS (
  SELECT user_id, event_id, us, cents, mv,
         LAST_VALUE(CASE WHEN mv IS NOT NULL THEN us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS px,
         LAST_VALUE(CASE WHEN mv IS NOT NULL THEN mv END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         FIRST_VALUE(CASE WHEN mv IS NOT NULL THEN us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx,
         FIRST_VALUE(CASE WHEN mv IS NOT NULL THEN mv END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
  FROM base
)
SELECT user_id, event_id, cents AS actual_cents,
       CAST(FLOOR(
         (CASE WHEN (nx - px)::DOUBLE > 0
               THEN pv + (nv - pv) * ((us - px)::DOUBLE / (nx - px)::DOUBLE)
               ELSE pv END) * 1000000 + 0.5) AS BIGINT) AS interp_e6
FROM nb
WHERE event_id % 7 = 0 AND px IS NOT NULL AND nx IS NOT NULL
"""


def last_touch_attribution(spark, sf):
    """Marketing-style last-touch attribution: each purchase's value is
    credited to the event_type of the user's latest strictly-preceding
    non-purchase event ((ts, event_id) order); purchases with no prior
    touch credit 'none'. ONE window carry per user (no self-join, no
    row multiplication) then a channel-keyed aggregate — two shuffles
    total, linear at any scale."""
    from pyspark.sql.window import Window

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    from tada_spark.plans.timeutil import epoch_us

    base = ev.to_df().filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        "event_id",
        "event_type",
        epoch_us(F.col("ts"), dts).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")), ignorenulls=True
    ).over(w)
    return (
        base.withColumn("channel", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        )
    )


LAST_TOUCH_SQL = """
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         ROUND(value * 100)::BIGINT AS cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), carried AS (
  SELECT event_type, cents,
         LAST_VALUE(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM base
)
SELECT COALESCE(channel, 'none') AS channel, COUNT(*)::BIGINT AS n_purchases,
       SUM(cents)::BIGINT AS attributed_cents
FROM carried WHERE event_type = 'purchase' GROUP BY 1
"""


def gini_order_value_by_priority(spark, sf):
    """Per-priority Gini coefficient of order value (functions/stats.
    gini_by_group): spend-concentration inequality from one ranked
    window pass + exact integer sums, division once at the end."""
    from tada_spark.functions import stats

    orders = load(spark, sf, "orders").to_df()
    return stats.gini_by_group(
        orders.filter(F.col("o_orderpriority").isNotNull()),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long"),
    )


GINI_SQL = """
WITH b AS (
  SELECT o_orderpriority, ROUND(o_totalprice * 100)::BIGINT AS x
  FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    AND ROUND(o_totalprice * 100)::BIGINT >= 0
), r AS (
  SELECT o_orderpriority, x,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY x) AS i
  FROM b
), s AS (
  SELECT o_orderpriority, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
         SUM(i * x)::BIGINT AS six
  FROM r GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, sx,
       CAST(FLOOR((2.0 * six::DOUBLE / (n::DOUBLE * sx::DOUBLE)
                   - (n::DOUBLE + 1.0) / n::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS gini_e6
FROM s WHERE n > 0 AND sx > 0
"""


def wilson_purchase_rate_by_hour(spark, sf):
    """Hourly purchase-conversion Wilson CI (functions/stats.
    wilson_interval_by_group) over click/purchase traffic: the
    small-sample-safe binomial interval, exact counts + one fixed IEEE
    closed form, z pinned as a 6-dp literal."""
    from tada_spark.functions import stats

    ev = (
        load(spark, sf, "events")
        .to_df()
        .filter(F.col("event_type").isin(["click", "purchase"]) & F.col("ts").isNotNull())
        .select(F.hour("ts").cast("long").alias("hour"), "event_type")
    )
    return stats.wilson_interval_by_group(ev, "hour", F.col("event_type") == "purchase")


WILSON_SQL = """
WITH b AS (
  SELECT HOUR(ts)::BIGINT AS hour, (event_type = 'purchase') AS s
  FROM events WHERE event_type IN ('click', 'purchase') AND ts IS NOT NULL
), agg AS (
  SELECT hour, COUNT(*)::BIGINT AS n, COUNT(*) FILTER (s)::BIGINT AS k FROM b GROUP BY hour
), c AS (
  SELECT hour, n, k,
         k::DOUBLE / n::DOUBLE AS p,
         1.959964 * 1.959964 AS z2,
         1.0 + (1.959964 * 1.959964) / n::DOUBLE AS denom
  FROM agg
), f AS (
  SELECT hour, n, k,
         (p + z2 / (2.0 * n::DOUBLE)) / denom AS center,
         1.959964 * SQRT(p * (1.0 - p) / n::DOUBLE + z2 / (4.0 * n::DOUBLE * n::DOUBLE)) / denom AS half
  FROM c
)
SELECT hour, n, k,
       CAST(FLOOR(GREATEST(0.0, center - half) * 1000000 + 0.5) AS BIGINT) AS lo_e6,
       CAST(FLOOR(LEAST(1.0, center + half) * 1000000 + 0.5) AS BIGINT) AS hi_e6
FROM f
"""


def cusum_change_events(spark, sf):
    """Per-event-type CUSUM change-point (functions/stats.
    cusum_changepoint): where each type's value series shifts mean,
    located by the exact-integer argmax of |n·cum − i·total| over the
    (µs, event_id)-ordered series; magnitude divides once at the end."""
    from tada_spark.functions import stats
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    base = ev.to_df().filter(F.col("ts").isNotNull() & F.col("value").isNotNull()).select(
        "event_type",
        epoch_us(F.col("ts"), dts).alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return stats.cusum_changepoint(
        base, "event_type", "us", F.col("cents"), tiebreak="event_id"
    )


CUSUM_SQL = """
WITH b AS (
  SELECT event_type, epoch_us(ts) AS us, event_id, ROUND(value * 100)::BIGINT AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
), stepped AS (
  SELECT event_type, us,
         ROW_NUMBER() OVER w AS i,
         SUM(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         SUM(x) OVER (PARTITION BY event_type)::BIGINT AS sx,
         COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
), scored AS (
  SELECT event_type, us, n, ABS(n * cum - i * sx) AS dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(n * cum - i * sx) DESC, i ASC) AS pick
  FROM stepped WHERE n >= 2
)
SELECT event_type, us AS change_at, n,
       CAST(FLOOR(dev::DOUBLE / n::DOUBLE * 1000000 + 0.5) AS BIGINT) AS cusum_e6
FROM scored WHERE pick = 1
"""


def rolling_median_value_users(spark, sf):
    """Trailing 5-event median of spend per user via GroupedFrame.
    rolling_n(agg='median') — the JVM median window aggregate, no
    collect/sort-in-Python; medians of integer cents are exact dyadics
    (k or k+½), emitted doubled so the output stays integer."""
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    base = Frame(
        ev.to_df()
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            epoch_us(F.col("ts"), dts).alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ),
        labels=["user_id"],
    )
    rolled = base.group_by("user_id").rolling_n(
        5, "cents", "median", order_by=["us", "event_id"], forward=False, out="med"
    )
    return (
        rolled.to_df()
        .filter(F.col("med").isNotNull())
        .select(
            "user_id",
            "event_id",
            (F.col("med") * 2).cast("long").alias("med_x2"),
        )
    )


ROLLING_MEDIAN_SQL = """
WITH b AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, ROUND(value * 100)::BIGINT AS cents
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), r AS (
  SELECT user_id, event_id,
         MEDIAN(cents) OVER w AS med,
         COUNT(*) OVER w AS cnt
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, (med * 2)::BIGINT AS med_x2 FROM r WHERE cnt = 5
"""


def flesch_reading_ease_by_source(spark, sf):
    """Per-source mean Flesch Reading Ease (functions/text.
    flesch_by_group): vowel-group syllable approximation, per-doc e6
    quantization before the exact cross-doc sum — three JVM regexp
    counters at scan speed, one aggregate."""
    docs = load(spark, sf, "documents").to_df()
    return text.flesch_by_group(docs, "source", "text")


FLESCH_SQL = """
WITH per AS (
  SELECT source,
         LEN(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS w,
         GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS s,
         GREATEST(LEN(regexp_extract_all(text, '[AEIOUYaeiouy]+')),
                  LEN(regexp_extract_all(text, '[A-Za-z]+')))::BIGINT AS y
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), scored AS (
  SELECT source,
         CAST(FLOOR((206.835 - 1.015 * (w::DOUBLE / s::DOUBLE)
                     - 84.6 * (y::DOUBLE / w::DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS sc
  FROM per WHERE w > 0
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       CAST(FLOOR(SUM(sc)::DOUBLE / COUNT(*)::DOUBLE + 0.5) AS BIGINT) AS mean_flesch_e6
FROM scored GROUP BY source
"""


def ols2_spend_model_events(spark, sf):
    """Per-event-type two-feature regression cents ~ hour + isodow
    (functions/stats.ols2_by_group): nine exact long sums in one
    hash-agg, Cramer's rule closed form — the smallest genuinely
    multivariate model, still a single-pass aggregate at any scale."""
    from tada_spark.functions import stats

    ev = load(spark, sf, "events").to_df().filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return stats.ols2_by_group(
        ev,
        "event_type",
        F.hour("ts").cast("long"),
        (F.weekday("ts") + F.lit(1)).cast("long"),
        F.round(F.col("value") * 100).cast("long"),
    )


OLS2_SQL = """
WITH b AS (
  SELECT event_type, HOUR(ts)::BIGINT AS a, ISODOW(ts)::BIGINT AS c,
         ROUND(value * 100)::BIGINT AS t
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
), s AS (
  SELECT event_type, COUNT(*)::BIGINT AS n,
         SUM(a)::BIGINT AS s1, SUM(c)::BIGINT AS s2, SUM(t)::BIGINT AS sy,
         SUM(a * a)::BIGINT AS s11, SUM(c * c)::BIGINT AS s22, SUM(a * c)::BIGINT AS s12,
         SUM(a * t)::BIGINT AS s1y, SUM(c * t)::BIGINT AS s2y
  FROM b GROUP BY event_type
), d AS (
  SELECT event_type, n,
         n::DOUBLE * (s11::DOUBLE * s22::DOUBLE - s12::DOUBLE * s12::DOUBLE)
           - s1::DOUBLE * (s1::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2::DOUBLE)
           + s2::DOUBLE * (s1::DOUBLE * s12::DOUBLE - s11::DOUBLE * s2::DOUBLE) AS det,
         sy::DOUBLE * (s11::DOUBLE * s22::DOUBLE - s12::DOUBLE * s12::DOUBLE)
           - s1::DOUBLE * (s1y::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2y::DOUBLE)
           + s2::DOUBLE * (s1y::DOUBLE * s12::DOUBLE - s11::DOUBLE * s2y::DOUBLE) AS det0,
         n::DOUBLE * (s1y::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2y::DOUBLE)
           - sy::DOUBLE * (s1::DOUBLE * s22::DOUBLE - s12::DOUBLE * s2::DOUBLE)
           + s2::DOUBLE * (s1::DOUBLE * s2y::DOUBLE - s1y::DOUBLE * s2::DOUBLE) AS det1,
         n::DOUBLE * (s11::DOUBLE * s2y::DOUBLE - s1y::DOUBLE * s12::DOUBLE)
           - s1::DOUBLE * (s1::DOUBLE * s2y::DOUBLE - s1y::DOUBLE * s2::DOUBLE)
           + sy::DOUBLE * (s1::DOUBLE * s12::DOUBLE - s11::DOUBLE * s2::DOUBLE) AS det2
  FROM s
)
SELECT event_type, n,
       CASE WHEN det != 0 THEN CAST(FLOOR(det0 / det * 1000000 + 0.5) AS BIGINT) END AS b0_e6,
       CASE WHEN det != 0 THEN CAST(FLOOR(det1 / det * 1000000 + 0.5) AS BIGINT) END AS b1_e6,
       CASE WHEN det != 0 THEN CAST(FLOOR(det2 / det * 1000000 + 0.5) AS BIGINT) END AS b2_e6
FROM d
"""


def spearman_value_hour_events(spark, sf):
    """Per-event-type Spearman rank correlation of spend vs hour
    (functions/stats.spearman_by_group): doubled midranks from bounded
    value spines, Pearson closed form on exact integer rank sums —
    monotone association where corr_value_hour_events is linear."""
    from tada_spark.functions import stats

    ev = load(spark, sf, "events").to_df().filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return stats.spearman_by_group(
        ev,
        "event_type",
        F.hour("ts").cast("long"),
        F.round(F.col("value") * 100).cast("long"),
    )


SPEARMAN_SQL = """
WITH b AS (
  SELECT event_type AS g, HOUR(ts)::BIGINT AS x, ROUND(value * 100)::BIGINT AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
), cx AS (
  SELECT g, x, COUNT(*)::BIGINT AS t FROM b GROUP BY g, x
), rx AS (
  SELECT g, x,
         2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS rxx
  FROM cx
), cy AS (
  SELECT g, y, COUNT(*)::BIGINT AS t FROM b GROUP BY g, y
), ry AS (
  SELECT g, y,
         2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS ryy
  FROM cy
), j AS (
  SELECT b.g, rx.rxx AS a, ry.ryy AS c
  FROM b JOIN rx ON b.g = rx.g AND b.x = rx.x
         JOIN ry ON b.g = ry.g AND b.y = ry.y
), s AS (
  SELECT g, COUNT(*)::BIGINT AS n, SUM(a)::BIGINT AS sx, SUM(c)::BIGINT AS sy,
         SUM(a * c)::BIGINT AS sxy, SUM(a * a)::BIGINT AS sxx, SUM(c * c)::BIGINT AS syy
  FROM j GROUP BY g
)
SELECT g AS event_type, n,
       CAST(FLOOR((CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
                         AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
             THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (SQRT(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     * SQRT(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END)
             * 1000000 + 0.5) AS BIGINT) AS spearman_e6
FROM s
"""


def benford_order_totals(spark, sf):
    """Benford first-digit audit of order totals in cents
    (functions/stats.benford_chi2): one conditional-sum aggregate,
    χ² from pinned literal probabilities, per-digit contribution
    e6-quantized before the exact sum."""
    from tada_spark.functions import stats

    orders = load(spark, sf, "orders").to_df()
    return stats.benford_chi2(orders, F.round(F.col("o_totalprice") * 100).cast("long"))


def _benford_sql() -> str:
    from tada_spark.functions.stats import BENFORD_P

    obs = ",\n         ".join(
        f"COUNT(*) FILTER (d = {i})::BIGINT AS obs_{i}" for i in range(1, 10)
    )
    terms = "\n       + ".join(
        f"CAST(FLOOR((obs_{i}::DOUBLE - n::DOUBLE * {p!r}) * (obs_{i}::DOUBLE - n::DOUBLE * {p!r})"
        f" / (n::DOUBLE * {p!r}) * 1000000 + 0.5) AS BIGINT)"
        for i, p in enumerate(BENFORD_P, start=1)
    )
    cols = ", ".join(f"obs_{i}" for i in range(1, 10))
    return f"""
WITH b AS (
  SELECT SUBSTR(ROUND(o_totalprice * 100)::BIGINT::VARCHAR, 1, 1)::INT AS d
  FROM orders WHERE o_totalprice IS NOT NULL AND ROUND(o_totalprice * 100)::BIGINT > 0
), agg AS (
  SELECT COUNT(*)::BIGINT AS n,
         {obs}
  FROM b
)
SELECT n,
       {terms} AS chi2_e6,
       {cols}
FROM agg
"""


BENFORD_SQL = _benford_sql()


def km_time_to_purchase(spark, sf):
    """Kaplan-Meier time-to-first-purchase per entry cohort (the
    user's first event type), right-censoring never-purchasers at
    their last event (functions/stats.km_survival): subjects built in
    one user-keyed aggregate, the curve in log domain — per-step
    det_ln terms e6-quantized before the exact integer cumulative sum."""
    from tada_spark.functions import stats
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    base = ev.to_df().filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts"), dts).alias("us"),
        F.format_string("%020d-%012d", epoch_us(F.col("ts"), dts), F.col("event_id")).alias("ord"),
    )
    subj = base.groupBy("user_id").agg(
        F.min_by("event_type", F.col("ord")).alias("cohort"),
        F.min("us").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("pt"),
        F.max("us").alias("tmax"),
    )
    end = F.coalesce(F.col("pt"), F.col("tmax"))
    subjects = subj.select(
        "cohort",
        F.floor((end - F.col("t0")) / F.lit(86400000000.0)).cast("long").alias("dur_days"),
        F.col("pt").isNotNull().alias("ev"),
    )
    return stats.km_survival(subjects, "cohort", "dur_days", "ev")


def _km_sql() -> str:
    ln = _det_ln_ctes(
        x="(n_risk - e)::DOUBLE / n_risk::DOUBLE",
        src="risked",
        keys="cohort, d, e, n_risk",
        out="lnv",
        prefix="__km",
    )
    return f"""
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         printf('%020d-%012d', epoch_us(ts), event_id) AS ord
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), subj AS (
  SELECT user_id,
         arg_min(event_type, ord) AS cohort,
         MIN(us) AS t0,
         MIN(us) FILTER (event_type = 'purchase') AS pt,
         MAX(us) AS tmax
  FROM base GROUP BY user_id
), subjects AS (
  SELECT cohort,
         CAST(FLOOR((COALESCE(pt, tmax) - t0)::DOUBLE / 86400000000.0) AS BIGINT) AS d,
         (pt IS NOT NULL) AS ev
  FROM subj
), spine AS (
  SELECT cohort, d,
         COUNT(*) FILTER (ev)::BIGINT AS e,
         COUNT(*)::BIGINT AS arrivals
  FROM subjects GROUP BY cohort, d
), risked AS (
  SELECT cohort, d, e,
         (SUM(arrivals) OVER (PARTITION BY cohort)
          - COALESCE(SUM(arrivals) OVER (PARTITION BY cohort ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
  FROM spine
  QUALIFY e > 0
), {ln}, stepped AS (
  SELECT cohort, d, n_risk, e,
         CAST(FLOOR(lnv * 1000000 + 0.5) AS BIGINT) AS t
  FROM __kmn
)
SELECT cohort, d, n_risk, e AS d_events,
       SUM(t) OVER (PARTITION BY cohort ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS log_surv_e6
FROM stepped
"""


KM_SQL = _km_sql()


def quantile_normalize_docs(spark, sf):
    """Cross-source quantile normalization of document length
    (functions/stats.quantile_normalize): each source's length
    distribution maps onto the pooled one via nearest-rank inverse CDF
    — exact integer ranks, bucketed position-space join, no spine
    broadcast."""
    from tada_spark.functions import stats

    docs = load(spark, sf, "documents").to_df().select(
        "doc_id", "source", F.length("text").cast("long").alias("len")
    )
    return stats.quantile_normalize(docs, "source", "len", "doc_id")


QUANTILE_NORM_SQL = """
WITH base AS (
  SELECT doc_id, source, LENGTH(text)::BIGINT AS v
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL AND doc_id IS NOT NULL
), ranked AS (
  SELECT doc_id, source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS ns,
         (SELECT COUNT(*) FROM base) AS N
  FROM base
), probes AS (
  SELECT doc_id, source, v,
         (CASE WHEN ns - 1 > 0
               THEN (2 * (r - 1) * (N - 1) + (ns - 1)) // (2 * (ns - 1))
               ELSE FLOOR((N - 1) / 2.0 + 0.5)::BIGINT END + 1) AS p
  FROM ranked
), spine AS (
  SELECT v AS nv,
         COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS lo,
         COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt AS hi
  FROM (SELECT v, COUNT(*)::BIGINT AS cnt FROM base GROUP BY v)
)
SELECT p.doc_id, p.source, p.v AS value, s.nv AS norm_value
FROM probes p JOIN spine s ON p.p >= s.lo AND p.p <= s.hi
"""


def exact_decontamination_hits(spark, sf):
    """Exact-substring decontamination (functions/text.
    exact_substring_hits): 40-char probes cut from the synthetic eval
    subset (doc_id % 97 = 0) searched verbatim in the remaining corpus;
    emits (doc_id, eval_id, position) — the zero-false-positive tier
    beside the shingle-overlap check."""
    from tada_spark.functions.text import exact_substring_hits

    docs = load(spark, sf, "documents").to_df()
    needles = (
        docs.filter((F.col("doc_id") % 97 == 0) & (F.length("text") >= 50))
        .select(
            F.col("doc_id").alias("eval_id"),
            F.substring("text", 10, 40).alias("needle"),
        )
    )
    # the synthetic corpus has no real contamination, which would make
    # this a vacuous 0-row check — inject it deterministically: every
    # 101st train doc gets the needle of eval doc 97·(doc_id % 3)
    # appended (ids 0/97/194 exist at every certified sf), so the
    # verbatim search has guaranteed true positives to find
    inj = needles.select(
        F.col("eval_id").alias("__ek__"), F.col("needle").alias("__ntx__")
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .withColumn("__ek__", F.col("doc_id") % 3 * 97)
        .join(F.broadcast(inj), "__ek__", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 101 == 0) & F.col("__ntx__").isNotNull(),
                F.concat(F.col("text"), F.lit(" "), F.col("__ntx__")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return exact_substring_hits(corpus, needles)


EXACT_DECON_SQL = """
WITH needles AS (
  SELECT doc_id AS eval_id, SUBSTR(text, 10, 40) AS needle
  FROM documents WHERE doc_id % 97 = 0 AND LENGTH(text) >= 50
), corpus AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 101 = 0 AND n.needle IS NOT NULL
              THEN d.text || ' ' || n.needle ELSE d.text END AS text
  FROM documents d
  LEFT JOIN needles n ON n.eval_id = (d.doc_id % 3) * 97
  WHERE d.doc_id % 97 != 0
)
SELECT c.doc_id, n.eval_id, POSITION(n.needle IN c.text)::INT AS position
FROM corpus c, needles n
WHERE POSITION(n.needle IN c.text) > 0
"""


def audio_vad_real(spark, sf):
    """Voice-activity detection over the REAL PCM decode path
    (functions/multimodal.audio_frame_energies + vad_segments):
    deterministic RIFF payloads (the wav_decode_real fixture stream)
    decode to int16 samples, 16-sample frame energies are EXACT
    integer Σk², and voiced-run segmentation is pure JVM
    gaps-and-islands. The oracle rebuilds k_i = ((id·7 + i·13) mod
    2001) − 1000 analytically — end-to-end real decode, integer-exact
    check."""
    from tada_spark.functions import multimodal

    wavs = _det_wav_payloads(spark, sf)
    energies = multimodal.audio_frame_energies(wavs, frame=16)
    return multimodal.vad_segments(energies, threshold=5_300_000)


AUDIO_VAD_SQL = """
WITH docs_n AS (
  SELECT doc_id AS media_id, 64 + (doc_id % 5) * 16 AS n FROM documents
), samples AS (
  SELECT media_id, s.i AS i,
         ((media_id * 7 + s.i * 13) % 2001) - 1000 AS k
  FROM docs_n, UNNEST(generate_series(0, n - 1)) AS s(i)
), frames AS (
  SELECT media_id, i // 16 AS frame_idx, SUM(k * k)::BIGINT AS energy
  FROM samples GROUP BY media_id, i // 16
), lagged AS (
  SELECT media_id, frame_idx, (energy >= 5300000) AS v,
         COALESCE(LAG(energy >= 5300000) OVER (PARTITION BY media_id ORDER BY frame_idx),
                  FALSE) AS pv
  FROM frames
), marked AS (
  SELECT media_id, frame_idx, v,
         SUM(CASE WHEN v AND NOT pv THEN 1 ELSE 0 END)
           OVER (PARTITION BY media_id ORDER BY frame_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM lagged
), runs AS (
  SELECT media_id, seg, COUNT(*)::BIGINT AS len
  FROM marked WHERE v GROUP BY media_id, seg
), per_run AS (
  SELECT media_id, COUNT(*)::BIGINT AS n_segments, MAX(len)::BIGINT AS longest_run,
         SUM(len)::BIGINT AS n_voiced
  FROM runs GROUP BY media_id
), totals AS (
  SELECT media_id, COUNT(*)::BIGINT AS n_frames FROM marked GROUP BY media_id
)
SELECT t.media_id, t.n_frames,
       COALESCE(p.n_voiced, 0) AS n_voiced,
       COALESCE(p.n_segments, 0) AS n_segments,
       COALESCE(p.longest_run, 0) AS longest_run
FROM totals t LEFT JOIN per_run p ON t.media_id = p.media_id
"""


def fk_inference_star(spark, sf):
    """FK discovery over the star schema's key columns (operators/
    validate.fk_candidates): one value-keyed self-join over stacked
    per-column distincts scores EVERY directed pair's containment —
    the profiler that proposes customer.c_nationkey→nation.n_nationkey
    on an undocumented lake. lineitem's fact keys enter via their
    (bounded) distinct sets, so the scan cost is one distinct per
    column, never |cols|² passes."""
    from tada_spark.operators.validate import fk_candidates

    nation = load(spark, sf, "nation").to_df()
    region = load(spark, sf, "region").to_df()
    cust = load(spark, sf, "customer").to_df()
    supp = load(spark, sf, "supplier").to_df()
    orders = load(spark, sf, "orders").to_df()
    return fk_candidates(
        [
            (region, "r_regionkey", "region.r_regionkey"),
            (nation, "n_nationkey", "nation.n_nationkey"),
            (nation, "n_regionkey", "nation.n_regionkey"),
            (cust, "c_custkey", "customer.c_custkey"),
            (cust, "c_nationkey", "customer.c_nationkey"),
            (supp, "s_nationkey", "supplier.s_nationkey"),
            (orders, "o_custkey", "orders.o_custkey"),
        ]
    )


FK_INFERENCE_SQL = """
WITH vals AS (
  SELECT 'region.r_regionkey' AS col_id, r_regionkey::VARCHAR AS val FROM region WHERE r_regionkey IS NOT NULL
  UNION
  SELECT 'nation.n_nationkey', n_nationkey::VARCHAR FROM nation WHERE n_nationkey IS NOT NULL
  UNION
  SELECT 'nation.n_regionkey', n_regionkey::VARCHAR FROM nation WHERE n_regionkey IS NOT NULL
  UNION
  SELECT 'customer.c_custkey', c_custkey::VARCHAR FROM customer WHERE c_custkey IS NOT NULL
  UNION
  SELECT 'customer.c_nationkey', c_nationkey::VARCHAR FROM customer WHERE c_nationkey IS NOT NULL
  UNION
  SELECT 'supplier.s_nationkey', s_nationkey::VARCHAR FROM supplier WHERE s_nationkey IS NOT NULL
  UNION
  SELECT 'orders.o_custkey', o_custkey::VARCHAR FROM orders WHERE o_custkey IS NOT NULL
), counts AS (
  SELECT col_id, COUNT(*)::BIGINT AS n_child FROM vals GROUP BY col_id
), inter AS (
  SELECT a.col_id AS child_col, b.col_id AS parent_col, COUNT(*)::BIGINT AS n_shared
  FROM vals a JOIN vals b ON a.val = b.val AND a.col_id != b.col_id
  GROUP BY a.col_id, b.col_id
)
SELECT i.child_col, i.parent_col, c.n_child, i.n_shared,
       CAST(FLOOR(i.n_shared::DOUBLE / c.n_child::DOUBLE * 1000000 + 0.5) AS BIGINT) AS containment_e6,
       (CAST(FLOOR(i.n_shared::DOUBLE / c.n_child::DOUBLE * 1000000 + 0.5) AS BIGINT) >= 950000) AS is_candidate
FROM inter i JOIN counts c ON i.child_col = c.col_id
"""


def ngram_novelty_docs(spark, sf):
    """Per-doc shingle NOVELTY: the fraction of a doc's distinct
    16-char shingles whose first corpus appearance (min doc_id) is this
    doc — the curation readout that separates generative sources from
    copy-heavy ones, and the longitudinal complement of pairwise dedup.
    Two aggregates over one explode (gram→min doc, then per-doc
    conditional count via a gram-keyed join); one division at the end
    (floor idiom)."""
    docs = load(spark, sf, "documents", spread=True).to_df().filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(text) - 15, 1)),"
                    " i -> substring(text, i, 16))"
                )
            )
        ).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), F.lit(1))).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.floor(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("novelty_e6"),
        )
    )


NGRAM_NOVELTY_SQL = """
WITH grams AS (
  SELECT doc_id,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 15, 1) + 1),
                i -> SUBSTR(text, i::INT, 16)))) AS g
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), first AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT gr.doc_id, COUNT(*)::BIGINT AS n_grams,
       COUNT(*) FILTER (f.first_doc = gr.doc_id)::BIGINT AS n_novel,
       CAST(FLOOR(COUNT(*) FILTER (f.first_doc = gr.doc_id)::DOUBLE / COUNT(*)::DOUBLE
            * 1000000 + 0.5) AS BIGINT) AS novelty_e6
FROM grams gr JOIN first f ON gr.g = f.g
GROUP BY gr.doc_id
"""


def spatial_radius_pairs(spark, sf):
    """Grid-bucketed spatial radius join (operators/spatial.
    grid_radius_join): customers get deterministic integer coordinates
    ((key·37) mod 10000, (key·91) mod 10000); all pairs within radius
    100 via 3×3 neighbor-cell equi-joins — never |P|². The oracle is the
    NAIVE quadratic join, proving the bucketed plan computes identical
    semantics."""
    from tada_spark.operators.spatial import grid_radius_join

    cust = load(spark, sf, "customer").to_df().select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_custkey") * 37 % 10000).alias("x"),
        (F.col("c_custkey") * 91 % 10000).alias("y"),
    )
    return grid_radius_join(cust, id_col="pid", x_col="x", y_col="y", radius=100)


SPATIAL_SQL = """
WITH pts AS (
  SELECT c_custkey AS pid, (c_custkey * 37) % 10000 AS x, (c_custkey * 91) % 10000 AS y
  FROM customer WHERE c_custkey IS NOT NULL
)
SELECT a.pid AS id_a, b.pid AS id_b,
       ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist2
FROM pts a JOIN pts b ON a.pid < b.pid
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 10000
"""


def pmi_phrases_docs(spark, sf):
    """PMI phrase mining over the corpus: top-20 adjacent word pairs by
    pointwise mutual information ln(c12·N/(c1·c2)), the classic
    collocation detector feeding tokenizer merge rules and stop-phrase
    lists (functions/text.pmi_bigrams). Counts are three exact
    aggregates (unigram, bigram, 1-row total); the ln is det_ln; pmi
    quantizes to e6 BEFORE the top-k ranking so ties are
    deterministic. Bigrams with c12 < 5 are noise and drop. Count
    tables are vocabulary-sized → broadcast joins; the 1-row N rides
    the allowlisted scalar crossJoin."""
    docs = load(spark, sf, "documents").to_df()
    return text.pmi_bigrams(docs, "text", min_count=5, k=20)


def _pmi_sql() -> str:
    ln = _det_ln_ctes(
        x="(c12 * N)::DOUBLE / (c1 * c2)::DOUBLE",
        src="scored",
        keys="w1, w2, c12",
        out="lnv",
        prefix="__pm",
    )
    return f"""
WITH toks AS (
  SELECT LIST_FILTER(string_split_regex(LOWER(text), '[^a-z]+'), t -> t != '') AS ts
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT w, COUNT(*)::BIGINT AS c FROM (SELECT UNNEST(ts) AS w FROM toks) GROUP BY w
), total AS (
  SELECT SUM(c)::BIGINT AS N FROM uni
), bi AS (
  SELECT b.w1, b.w2, COUNT(*)::BIGINT AS c12
  FROM (
    SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ts) - 1, 0) + 1),
                  i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS b
    FROM toks
  )
  GROUP BY b.w1, b.w2 HAVING COUNT(*) >= 5
), scored AS (
  SELECT bi.w1, bi.w2, bi.c12, u1.c AS c1, u2.c AS c2, t.N AS N
  FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w, total t
), {ln}
SELECT s.w1, s.w2, s.c12,
       CAST(FLOOR(l.lnv * 1000000 + 0.5) AS BIGINT) AS pmi_e6
FROM scored s JOIN __pmn l ON s.w1 = l.w1 AND s.w2 = l.w2 AND s.c12 = l.c12
ORDER BY pmi_e6 DESC, s.w1, s.w2 LIMIT 20
"""


PMI_SQL = _pmi_sql()


def trimmed_mean_price_by_status(spark, sf):
    """Robust per-status order value: GroupedFrame.trimmed_mean drops
    the top/bottom 10% by rank (one ranked window + one aggregate on
    the same sort), exact cents sum, one division."""
    orders = load(spark, sf, "orders")
    f = Frame(
        orders.to_df().select(
            "o_orderstatus", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        ),
        labels=["o_orderstatus"],
    )
    return f.group_by("o_orderstatus").trimmed_mean("cents", 0.1, out="tmean").to_df()


TRIMMED_MEAN_SQL = """
WITH b AS (
  SELECT o_orderstatus, ROUND(o_totalprice * 100)::BIGINT AS cents
  FROM orders WHERE o_totalprice IS NOT NULL
), r AS (
  SELECT o_orderstatus, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY cents) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM b
), kept AS (
  SELECT o_orderstatus, cents
  FROM r WHERE rk > FLOOR(n * 0.1) AND rk <= n - FLOOR(n * 0.1)
)
SELECT o_orderstatus, COUNT(*)::BIGINT AS n_kept,
       SUM(cents)::DOUBLE / COUNT(*)::DOUBLE AS tmean
FROM kept GROUP BY o_orderstatus
"""


def burstiness_users(spark, sf):
    """Per-user inter-event burstiness (functions/stats.
    burstiness_by_key): B = (σ−μ)/(σ+μ) over whole-second gaps — the
    metronome-vs-organic traffic signal, from one lead window + one
    aggregate of exact long sums."""
    from tada_spark.functions import stats
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    return stats.burstiness_by_key(
        ev.to_df(), "user_id", epoch_us(F.col("ts"), dts), seq_col="event_id"
    )


BURSTINESS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), g AS (
  SELECT user_id,
         CAST(FLOOR((LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us)
              / 1000000.0) AS BIGINT) AS d
  FROM e
), agg AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_gaps, SUM(d)::BIGINT AS sd,
         SUM(d * d)::BIGINT AS sdd
  FROM g WHERE d IS NOT NULL GROUP BY user_id
), f AS (
  SELECT user_id, n_gaps,
         sd::DOUBLE / n_gaps::DOUBLE AS mu,
         SQRT(GREATEST(sdd::DOUBLE / n_gaps::DOUBLE
              - (sd::DOUBLE / n_gaps::DOUBLE) * (sd::DOUBLE / n_gaps::DOUBLE), 0.0)) AS sig
  FROM agg
)
SELECT user_id, n_gaps,
       CASE WHEN n_gaps >= 2 AND sig + mu > 0
            THEN CAST(FLOOR((sig - mu) / (sig + mu) * 1000000 + 0.5) AS BIGINT)
       END AS b_e6
FROM f
"""


def column_churn_orders(spark, sf):
    """Column-level churn between two deterministic order snapshots
    (operators/cdc.column_churn): which columns changed on matched
    keys — one equi-join + one aggregate no matter how many columns
    are tracked (the validate() inline device)."""
    from tada_spark.operators.cdc import column_churn

    orders = load(spark, sf, "orders").to_df()
    old = orders.select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    new = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("9-CHURNED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return column_churn(
        old, new, "o_orderkey", ["o_orderstatus", "o_orderpriority", "o_totalprice"]
    )


COLUMN_CHURN_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders
), n AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 17 = 0 THEN '9-CHURNED' ELSE o_orderpriority END AS o_orderpriority,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
  FROM orders
), j AS (
  SELECT o.o_orderstatus AS os, n.o_orderstatus AS ns,
         o.o_orderpriority AS op, n.o_orderpriority AS np,
         o.o_totalprice AS ot, n.o_totalprice AS nt
  FROM o JOIN n ON o.o_orderkey = n.o_orderkey
), agg AS (
  SELECT COUNT(*)::BIGINT AS n,
         COUNT(*) FILTER (os IS DISTINCT FROM ns)::BIGINT AS c_status,
         COUNT(*) FILTER (op IS DISTINCT FROM np)::BIGINT AS c_prio,
         COUNT(*) FILTER (ot IS DISTINCT FROM nt)::BIGINT AS c_price
  FROM j
)
SELECT 'o_orderstatus' AS column_name, c_status AS n_changed, n AS n_compared FROM agg
UNION ALL
SELECT 'o_orderpriority', c_prio, n FROM agg
UNION ALL
SELECT 'o_totalprice', c_price, n FROM agg
"""


def stream_pattern_conversion(spark, sf):
    """Streaming A-then-B pattern detection (streaming/stateful.
    pattern_within): per user, purchases within 30 min AFTER the
    latest preceding click — the conversion state machine as 3 longs
    of keyed state, driven to completion with availableNow. Ties at
    equal event time process the click first (pinned, oracle-
    mirrored)."""
    from tada_spark.streaming.stateful import pattern_within

    stream = _stream_events(spark, sf)
    out = pattern_within(
        stream, "user_id", "ts", "event_type", first="click", then="purchase", within_s=1800
    )
    from tada_spark.streaming import run_available_now

    res = run_available_now(out, "q_stream_pattern", timeout_s=240, output_mode="update", state_partitions=_stream_state_partitions(spark, sf))
    return res.select("user_id", "n_then", "n_matched")


STREAM_PATTERN_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_type,
         (event_type = 'purchase')::INT AS is_then
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), carried AS (
  SELECT user_id, us, event_type,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, is_then
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
  FROM e
)
SELECT user_id, COUNT(*)::BIGINT AS n_then,
       COUNT(*) FILTER (last_click IS NOT NULL
                        AND us - last_click <= 1800 * 1000000)::BIGINT AS n_matched
FROM carried WHERE event_type = 'purchase' GROUP BY user_id
"""


def weighted_median_price(spark, sf):
    """Quantity-weighted median line price per return flag
    (functions/stats.weighted_quantile_by_group): the crossing test is
    integer cross-multiplication — no division anywhere, exact at any
    scale."""
    from tada_spark.functions import stats

    li = load(spark, sf, "lineitem").to_df()
    return stats.weighted_quantile_by_group(
        li,
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        F.round(F.col("l_quantity") * 100).cast("long"),
        q_num=1,
        q_den=2,
    )


WEIGHTED_MEDIAN_SQL = """
WITH b AS (
  SELECT l_returnflag, ROUND(l_extendedprice * 100)::BIGINT AS v,
         ROUND(l_quantity * 100)::BIGINT AS w
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND ROUND(l_quantity * 100)::BIGINT > 0
), s AS (
  SELECT l_returnflag, v,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         SUM(w) OVER (PARTITION BY l_returnflag)::BIGINT AS W
  FROM b
)
SELECT l_returnflag, MIN(v)::BIGINT AS wq_value, MAX(W)::BIGINT AS total_weight
FROM s WHERE cum * 2 >= 1 * W GROUP BY l_returnflag
"""


def best_split_purchase_value(spark, sf):
    """Decision-stump learning per event-type pair: the cents threshold
    best separating purchases from clicks (functions/stats.
    best_split_by_group over the pooled click/purchase rows, grouped by
    hour-of-day) — the CART split primitive as exact integer argmax,
    one spine aggregate + windows, no solver."""
    from tada_spark.functions import stats

    ev = load(spark, sf, "events").to_df().filter(
        F.col("event_type").isin(["click", "purchase"])
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    return stats.best_split_by_group(
        ev,
        "event_type",
        F.floor(F.col("value")).cast("long"),
        F.hour("ts") >= 12,
    )


BEST_SPLIT_SQL = """
WITH b AS (
  SELECT event_type, FLOOR(value)::BIGINT AS f, (HOUR(ts) >= 12) AS y
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL AND ts IS NOT NULL
), spine AS (
  SELECT event_type, f,
         COUNT(*) FILTER (y)::BIGINT AS a, COUNT(*) FILTER (NOT y)::BIGINT AS bb
  FROM b GROUP BY event_type, f
), run AS (
  SELECT event_type, f AS split_at,
         SUM(a) OVER w::BIGINT AS aL, SUM(bb) OVER w::BIGINT AS bL,
         SUM(a) OVER (PARTITION BY event_type)::BIGINT AS A,
         SUM(bb) OVER (PARTITION BY event_type)::BIGINT AS B
  FROM spine
  WINDOW w AS (PARTITION BY event_type ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), cand AS (
  SELECT event_type, split_at,
         (aL + bL) AS n_left, (A - aL + B - bL) AS n_right,
         CAST(FLOOR((
           (aL * aL + bL * bL)::DOUBLE / (aL + bL)
           + ((A - aL) * (A - aL) + (B - bL) * (B - bL))::DOUBLE
             / (A - aL + B - bL)
         ) * 1000000 + 0.5) AS BIGINT) AS score_e6
  FROM run WHERE (aL + bL) > 0 AND (A - aL + B - bL) > 0
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY score_e6 DESC, split_at ASC) AS pick
  FROM cand
)
SELECT event_type, split_at, n_left, n_right, score_e6 FROM rk WHERE pick = 1
"""


def jackknife_mean_orders(spark, sf):
    """Order-value mean ± jackknife standard error per priority
    (functions/stats.jackknife_mean_by_group): 20 md5 pseudo-
    replicates, leave-one-out means from exact bucket sums, the
    replicate list array_sort'ed so the float folds are bit-stable —
    reproducible error bars with zero randomness."""
    from tada_spark.functions import stats

    orders = load(spark, sf, "orders").to_df()
    return stats.jackknife_mean_by_group(
        orders,
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        "o_orderkey",
    )


JACKKNIFE_SQL = """
WITH b AS (
  SELECT o_orderpriority AS g, ROUND(o_totalprice * 100)::BIGINT AS v,
         ('0x' || SUBSTR(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 20 AS bk
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
), per AS (
  SELECT g, bk, COUNT(*)::BIGINT AS nb, SUM(v)::BIGINT AS sb FROM b GROUP BY g, bk
), tot AS (
  SELECT g, SUM(nb)::BIGINT AS N, SUM(sb)::BIGINT AS S, COUNT(*)::BIGINT AS B,
         LIST({'nb': nb, 'sb': sb} ORDER BY nb, sb) AS reps
  FROM per GROUP BY g
), f AS (
  SELECT g, N, S, B,
         LIST_TRANSFORM(reps, r -> (S - r.sb)::DOUBLE / (N - r.nb)::DOUBLE) AS loo
  FROM tot
), m AS (
  SELECT g, N, B, S, loo,
         LIST_REDUCE(LIST_PREPEND(0.0, loo), (a, x) -> a + x) / B::DOUBLE AS loo_mean
  FROM f
), s AS (
  SELECT g, N, B, S, loo_mean,
         LIST_REDUCE(LIST_PREPEND(0.0,
             LIST_TRANSFORM(loo, x -> (x - loo_mean) * (x - loo_mean))),
             (a, x) -> a + x) AS ss
  FROM m
)
SELECT g AS o_orderpriority, N AS n,
       CAST(FLOOR(S::DOUBLE / N::DOUBLE * 1000000 + 0.5) AS BIGINT) AS mean_e6,
       CASE WHEN B >= 2
            THEN CAST(FLOOR(SQRT((B::DOUBLE - 1.0) / B::DOUBLE * ss) * 1000000 + 0.5) AS BIGINT)
       END AS se_e6
FROM s
"""


def clamped_balance_users(spark, sf):
    """Non-negative running balance per user (credits = purchase value,
    debits = click value): the clamp-at-zero recurrence
    b_i = max(0, b_{i-1} + x_i) is NOT a plain window aggregate, but it
    has a closed form — b_i = prefix_i − min(0, running_min(prefix)) —
    so TWO framed passes over one keyed sort compute it exactly in
    integers, no recurrence state, no Python. The inventory/wallet
    primitive engines usually punt to UDFs."""
    from pyspark.sql.window import Window
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    base = ev.to_df().filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isin(["click", "purchase"])
    ).select(
        "user_id",
        "event_id",
        epoch_us(F.col("ts"), dts).alias("us"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(-F.round(F.col("value") * 100).cast("long"))
        .alias("delta"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prefix = F.sum("delta").over(w.rowsBetween(Window.unboundedPreceding, 0))
    # the running min must follow EVENT order (the same keyed sort the
    # prefix uses, so Spark plans one shuffle + one sort for both)
    return (
        base.select("user_id", "event_id", "us", prefix.alias("__p__"))
        .select(
            "user_id",
            "event_id",
            (
                F.col("__p__")
                - F.least(
                    F.lit(0),
                    F.min("__p__").over(
                        Window.partitionBy("user_id")
                        .orderBy("us", "event_id")
                        .rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
            ).alias("balance_cents"),
        )
    )


CLAMPED_BALANCE_SQL = """
WITH b AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN event_type = 'purchase' THEN ROUND(value * 100)::BIGINT
              ELSE -ROUND(value * 100)::BIGINT END AS delta
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    AND event_type IN ('click', 'purchase')
), p AS (
  SELECT user_id, event_id, us,
         SUM(delta) OVER w::BIGINT AS pre
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       (pre - LEAST(0, MIN(pre) OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT AS balance_cents
FROM p
"""


def session_trigrams_top(spark, sf):
    """Top-20 event-type trigrams within user sessions (30-min gap
    rule): LEAD×2 inside the session, global count, deterministic
    top-k — the sequential-pattern readout a journey-mining pipeline
    starts from. One user-keyed window pass + one vocabulary-sized
    aggregate; TakeOrderedAndProject, no global sort."""
    from pyspark.sql.window import Window
    from tada_spark.plans.timeutil import epoch_us

    ev = load(spark, sf, "events")
    dts = ev.dtype("ts")
    base = ev.to_df().filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        "user_id",
        "event_type",
        epoch_us(F.col("ts"), dts).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    new_sess = F.when(gap.isNull() | (gap >= 1800 * 1_000_000), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    marked = base.select(
        "user_id", "event_type", "us", "event_id", sess.alias("sess")
    )
    w2 = Window.partitionBy("user_id", "sess").orderBy("us", "event_id")
    tri = marked.select(
        "event_type",
        F.lead("event_type", 1).over(w2).alias("t2"),
        F.lead("event_type", 2).over(w2).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        tri.groupBy(F.col("event_type").alias("t1"), "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(20)
    )


SESSION_TRIGRAMS_SQL = """
WITH b AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), lagged AS (
  SELECT user_id, event_type, us, event_id,
         us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
  FROM b
), marked AS (
  SELECT user_id, event_type, us, event_id,
         SUM(CASE WHEN gap IS NULL OR gap >= 1800 * 1000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM lagged
), tri AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM marked
  WINDOW w AS (PARTITION BY user_id, sess ORDER BY us, event_id)
)
SELECT t1, t2, t3, COUNT(*)::BIGINT AS n
FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3 LIMIT 20
"""


def silhouette_labels_embeddings(spark, sf):
    """Class separability of the labeled embedding space
    (functions/similarity.label_silhouette): integer-grid centroids,
    exact integer a/b distances, one rounded division per point —
    the clustering-quality readout for any labeling or kmeans output."""
    emb = load(spark, sf, "embeddings").to_df()
    return similarity.label_silhouette(emb)


SILHOUETTE_SQL = """
WITH q AS (
  SELECT vec_id AS vid, label AS lbl,
         LIST_TRANSFORM(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0 AND label IS NOT NULL
), dims AS (
  SELECT lbl, d.i AS dim, v[d.i] AS val
  FROM q, UNNEST(generate_series(1, len(v))) AS d(i)
), cent_dims AS (
  SELECT lbl, dim, CAST(FLOOR(SUM(val)::DOUBLE / COUNT(*)::DOUBLE + 0.5) AS BIGINT) AS cval
  FROM dims GROUP BY lbl, dim
), cents AS (
  SELECT lbl AS clbl, LIST(cval ORDER BY dim) AS cv FROM cent_dims GROUP BY lbl
), pairs AS (
  SELECT q.vid, q.lbl, c.clbl,
         LIST_REDUCE(LIST_PREPEND(0::BIGINT,
             LIST_TRANSFORM(RANGE(1, len(q.v) + 1),
                            i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))),
             (a, x) -> a + x) AS dist
  FROM q, cents c
), pp AS (
  SELECT vid, lbl,
         MIN(CASE WHEN clbl = lbl THEN dist END) AS a,
         MIN(CASE WHEN clbl != lbl THEN dist END) AS b
  FROM pairs GROUP BY vid, lbl
), scored AS (
  SELECT lbl,
         CAST(FLOOR((CASE WHEN GREATEST(a, b) > 0
               THEN (b - a)::DOUBLE / GREATEST(a, b)::DOUBLE ELSE 0.0 END)
               * 1000000 + 0.5) AS BIGINT) AS s_e6
  FROM pp WHERE b IS NOT NULL
)
SELECT lbl AS label, COUNT(*)::BIGINT AS n,
       CAST(FLOOR(SUM(s_e6)::DOUBLE / COUNT(*)::DOUBLE + 0.5) AS BIGINT) AS mean_sil_e6
FROM scored GROUP BY lbl
"""


def k_anonymity_customers(spark, sf):
    """k-anonymity audit of the (nation, market-segment) quasi-
    identifier on customers: the privacy gate before any data release —
    how many rows sit in QI groups smaller than k, for the standard
    thresholds. One hash-agg to group sizes, one tiny aggregate over
    the group-size table; risk fractions floor-e6."""
    cust = load(spark, sf, "customer").to_df().filter(
        F.col("c_nationkey").isNotNull() & F.col("c_mktsegment").isNotNull()
    )
    sizes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("gs")
    )
    agg = sizes.agg(
        F.sum("gs").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("gs").alias("min_group"),
        *[
            F.sum(F.when(F.col("gs") < k, F.col("gs")).otherwise(F.lit(0))).alias(f"r{k}")
            for k in (2, 5, 10)
        ],
    )
    reports = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.col("n_rows"),
                F.col("n_groups"),
                F.col("min_group"),
                F.col(f"r{k}").alias("n_rows_at_risk"),
                F.floor(
                    F.col(f"r{k}").cast("double") / F.col("n_rows").cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("risk_e6"),
            )
            for k in (2, 5, 10)
        ]
    )
    return agg.select(F.inline(reports))


K_ANONYMITY_SQL = """
WITH sizes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS gs
  FROM customer WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
  GROUP BY c_nationkey, c_mktsegment
), agg AS (
  SELECT SUM(gs)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_groups, MIN(gs)::BIGINT AS min_group,
         SUM(CASE WHEN gs < 2 THEN gs ELSE 0 END)::BIGINT AS r2,
         SUM(CASE WHEN gs < 5 THEN gs ELSE 0 END)::BIGINT AS r5,
         SUM(CASE WHEN gs < 10 THEN gs ELSE 0 END)::BIGINT AS r10
  FROM sizes
)
SELECT 2 AS k, n_rows, n_groups, min_group, r2 AS n_rows_at_risk,
       CAST(FLOOR(r2::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) AS risk_e6 FROM agg
UNION ALL
SELECT 5, n_rows, n_groups, min_group, r5,
       CAST(FLOOR(r5::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) FROM agg
UNION ALL
SELECT 10, n_rows, n_groups, min_group, r10,
       CAST(FLOOR(r10::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) FROM agg
"""


def ndcg_retrieval_eval(spark, sf):
    """NDCG@10 per source (functions/stats.ndcg_at_10) of a
    deterministic ranking (length desc, doc_id) against synthetic
    graded relevance rel = 3 − (doc_id mod 13) mod 4 (13 is coprime to
    the 20-way source split, so relevance varies WITHIN a source) — the
    metric every retrieval pipeline reports, with pinned discount
    literals and fixed-order float folds so it hash-checks exactly."""
    from pyspark.sql.window import Window
    from tada_spark.functions import stats

    docs = load(spark, sf, "documents").to_df().filter(
        F.col("source").isNotNull() & F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    w = Window.partitionBy("source").orderBy(F.length("text").desc(), F.col("doc_id").asc())
    ranked = docs.select(
        "source",
        F.row_number().over(w).alias("rk"),
        (F.lit(3) - (F.col("doc_id") % 13) % 4).alias("rel"),
    )
    return stats.ndcg_at_10(ranked, "source", "rk", "rel")


NDCG_SQL = """
WITH ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY LENGTH(text) DESC, doc_id ASC) AS rk,
         (3 - (doc_id % 13) % 4)::BIGINT AS rel
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL AND doc_id IS NOT NULL
), top AS (
  SELECT source, rk::INT AS rk, ((1 << rel::INT) - 1)::BIGINT AS g
  FROM ranked WHERE rk >= 1 AND rk <= 10
), packed AS (
  SELECT source,
         LIST({'rk': rk, 'g': g} ORDER BY rk) AS by_rank,
         LIST(g ORDER BY g DESC) AS by_gain,
         COUNT(*)::BIGINT AS n_ranked
  FROM top GROUP BY source
), d AS (
  SELECT [1.0, 0.630929753571, 0.5, 0.430676558073, 0.386852807235,
          0.356207187108, 0.333333333333, 0.315464876786,
          0.301029995664, 0.289064826318] AS disc
), f AS (
  SELECT source, n_ranked,
         LIST_REDUCE(LIST_PREPEND(0.0,
             LIST_TRANSFORM(by_rank, x -> x.g::DOUBLE * disc[x.rk])),
             (a, x) -> a + x) AS dcg,
         LIST_REDUCE(LIST_PREPEND(0.0,
             LIST_TRANSFORM(RANGE(1, len(by_gain) + 1),
                            i -> by_gain[i]::DOUBLE * disc[i])),
             (a, x) -> a + x) AS idcg
  FROM packed, d
)
SELECT source, n_ranked,
       CAST(FLOOR(dcg * 1000000 + 0.5) AS BIGINT) AS dcg_e6,
       CASE WHEN idcg > 0 THEN CAST(FLOOR(dcg / idcg * 1000000 + 0.5) AS BIGINT) END AS ndcg_e6
FROM f
"""


def l_diversity_customers(spark, sf):
    """l-diversity audit (the k-anonymity sibling): per nation QI
    group, how many rows sit in groups whose SENSITIVE attribute
    (market segment) takes fewer than l distinct values — group sizes
    + distinct counts in one aggregate, thresholds from one pass over
    the tiny group table."""
    cust = load(spark, sf, "customer").to_df().filter(
        F.col("c_nationkey").isNotNull() & F.col("c_mktsegment").isNotNull()
    )
    groups = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("gs"),
        F.countDistinct("c_mktsegment").alias("ndv"),
    )
    agg = groups.agg(
        F.sum("gs").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("ndv").alias("min_diversity"),
        *[
            F.sum(F.when(F.col("ndv") < l, F.col("gs")).otherwise(F.lit(0))).alias(f"r{l}")
            for l in (2, 3)
        ],
    )
    reports = F.array(
        *[
            F.struct(
                F.lit(l).alias("l"),
                F.col("n_rows"),
                F.col("n_groups"),
                F.col("min_diversity"),
                F.col(f"r{l}").alias("n_rows_at_risk"),
                F.floor(
                    F.col(f"r{l}").cast("double") / F.col("n_rows").cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("risk_e6"),
            )
            for l in (2, 3)
        ]
    )
    return agg.select(F.inline(reports))


L_DIVERSITY_SQL = """
WITH groups AS (
  SELECT c_nationkey, COUNT(*)::BIGINT AS gs, COUNT(DISTINCT c_mktsegment)::BIGINT AS ndv
  FROM customer WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
  GROUP BY c_nationkey
), agg AS (
  SELECT SUM(gs)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_groups,
         MIN(ndv)::BIGINT AS min_diversity,
         SUM(CASE WHEN ndv < 2 THEN gs ELSE 0 END)::BIGINT AS r2,
         SUM(CASE WHEN ndv < 3 THEN gs ELSE 0 END)::BIGINT AS r3
  FROM groups
)
SELECT 2 AS l, n_rows, n_groups, min_diversity, r2 AS n_rows_at_risk,
       CAST(FLOOR(r2::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) AS risk_e6 FROM agg
UNION ALL
SELECT 3, n_rows, n_groups, min_diversity, r3,
       CAST(FLOOR(r3::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5) AS BIGINT) FROM agg
"""


def zipf_slope_docs(spark, sf):
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    q6(det_ln freq) on q6(det_ln rank) over the top-200 tokens — the
    corpus-sanity diagnostic (natural text ≈ −1; templated/synthetic
    text drifts off). Both regression variables are e6-quantized
    det_ln integers BEFORE the five exact OLS sums, so the whole fit
    is the ols_by_group closed form on exact longs. One token
    aggregate, a 200-row rank window, O(1) arithmetic."""
    from pyspark.sql.window import Window

    from tada_spark.plans.semantics import det_ln

    docs = load(spark, sf, "documents").to_df().filter(F.col("text").isNotNull())
    toks = docs.select(
        F.explode(
            F.expr("filter(split(lower(text), '[^a-z]+'), t -> t != '')")
        ).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    top = (
        freq.orderBy(F.col("c").desc(), "w")
        .limit(200)
        .withColumn("rank", F.row_number().over(Window.orderBy(F.col("c").desc(), "w")))
    )
    q6 = lambda c: F.floor(det_ln(c) * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    pts = top.select(
        q6(F.col("rank").cast("double")).alias("x"),
        q6(F.col("c").cast("double")).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    return sums.select(
        "n",
        F.when(den != 0, F.floor(num / den * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
            "zipf_slope_e6"
        ),
    )


def _zipf_sql() -> str:
    lnx = _det_ln_ctes(x="rank::DOUBLE", src="top", keys="rank, c", out="lnx", prefix="__zx")
    lny = _det_ln_ctes(x="c::DOUBLE", src="top", keys="rank", out="lny", prefix="__zy")
    return f"""
WITH toks AS (
  SELECT UNNEST(LIST_FILTER(string_split_regex(LOWER(text), '[^a-z]+'), t -> t != '')) AS w
  FROM documents WHERE text IS NOT NULL
), freq AS (
  SELECT w, COUNT(*)::BIGINT AS c FROM toks GROUP BY w
), top AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
  FROM freq ORDER BY c DESC, w LIMIT 200
), {lnx}, {lny}, pts AS (
  SELECT CAST(FLOOR(x.lnx * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(y.lny * 1000000 + 0.5) AS BIGINT) AS y
  FROM __zxn x JOIN __zyn y ON x.rank = y.rank
), s AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * y)::BIGINT AS sxy, SUM(x * x)::BIGINT AS sxx
  FROM pts
)
SELECT n,
       CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) != 0
            THEN CAST(FLOOR((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                 * 1000000 + 0.5) AS BIGINT)
       END AS zipf_slope_e6
FROM s
"""


ZIPF_SQL = _zipf_sql()


def autocorr_daily_revenue(spark, sf):
    """Lag-7 autocorrelation of daily order revenue — the weekly-
    seasonality detector: resample to exact daily cents, self-pair at
    lag 7 via a date join (shift over the tiny day spine), Pearson
    closed form on exact long sums (corr_by_group's tree on one
    group). The facts collapse to O(#days) rows first, so the window
    and join cost nothing at any scale."""
    from pyspark.sql.window import Window

    orders = load(spark, sf, "orders").to_df().filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    # daily totals in $100 units (integral div): Σ(x·x7) with raw cents
    # would pass 2^63 near sf0.1-scale daily revenues — the correlation
    # is scale-invariant only up to this shared quantization, which both
    # engines apply identically
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr("sum(cast(round(o_totalprice * 100) as long)) div 10000").alias("cents")
    )
    w = Window.orderBy("d")
    paired = daily.select(
        "d",
        "cents",
        F.lead("cents", 7).over(w).alias("cents7"),
    ).filter(F.col("cents7").isNotNull())
    sums = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum("cents7").alias("sy"),
        F.sum(F.col("cents") * F.col("cents7")).alias("sxy"),
        F.sum(F.col("cents") * F.col("cents")).alias("sxx"),
        F.sum(F.col("cents7") * F.col("cents7")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    corr = F.when((denx > 0) & (deny > 0), num / (F.sqrt(denx) * F.sqrt(deny)))
    return sums.select(
        "n",
        F.floor(corr * F.lit(1e6) + F.lit(0.5)).cast("long").alias("autocorr7_e6"),
    )


AUTOCORR_SQL = """
WITH daily AS (
  SELECT o_orderdate AS d,
         SUM(ROUND(o_totalprice * 100)::BIGINT)::BIGINT // 10000 AS cents
  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY o_orderdate
), paired AS (
  SELECT cents, LEAD(cents, 7) OVER (ORDER BY d) AS cents7 FROM daily
), s AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS sx, SUM(cents7)::BIGINT AS sy,
         SUM(cents * cents7)::BIGINT AS sxy, SUM(cents * cents)::BIGINT AS sxx,
         SUM(cents7 * cents7)::BIGINT AS syy
  FROM paired WHERE cents7 IS NOT NULL
)
SELECT n,
       CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
             AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
            THEN CAST(FLOOR((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (SQRT(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * SQRT(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                 * 1000000 + 0.5) AS BIGINT)
       END AS autocorr7_e6
FROM s
"""


def sentence_chunks_docs(spark, sf):
    """Boundary-aware RAG chunking: greedily pack consecutive WORDS
    into chunks of <= 50 chars — a chunk closes when the next word
    would overflow, so no word is ever split (the boundary-respecting
    chunking real retrieval pipelines use, vs chunk_windows' fixed
    character windows; the synthetic corpus has no sentence
    punctuation, so the word is the boundary unit here). The greedy
    fold is a running-sum-with-reset recurrence — not a plain window —
    so it runs on the bounded per-doc word ARRAY with one aggregate
    fold (JVM higher-order functions, zero Python); the oracle replays
    it with a recursive CTE. Emits (doc_id, chunk_idx, n_units,
    chunk_chars)."""
    docs = load(spark, sf, "documents").to_df().filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    # try_element_at: SQL AND does not guarantee short-circuit, so the
    # empty-accumulator probe must be null-safe, not guarded
    folded = F.expr(
        """
        aggregate(
          filter(transform(split(text, ' +'), s -> trim(s)), s -> s != ''),
          cast(array() as array<struct<idx:int, n:int, chars:int>>),
          (acc, s) -> case
            when try_element_at(acc, -1).chars + 1 + length(s) <= 50
            then concat(slice(acc, 1, size(acc) - 1),
                        array(named_struct(
                          'idx', try_element_at(acc, -1).idx,
                          'n', try_element_at(acc, -1).n + 1,
                          'chars', try_element_at(acc, -1).chars + 1 + length(s))))
            else concat(acc, array(named_struct(
                          'idx', cast(size(acc) + 1 as int),
                          'n', 1,
                          'chars', cast(length(s) as int))))
          end)
        """
    )
    return (
        docs.select("doc_id", folded.alias("chunks"))
        # explode_outer, NOT explode: InferFiltersFromGenerate turns a
        # plain explode into a pushed-down size(<full fold>)>0 scan
        # filter that re-runs the greedy fold per row (the r10
        # DUP_EXPR audit caught it); the rule skips outer generates,
        # and the cheap isnotnull on the GENERATED column (which
        # cannot push below the Generate) drops the empty-doc rows the
        # inner explode would have dropped — fold-built structs are
        # never NULL inside a non-empty array, so semantics are equal
        .select("doc_id", F.explode_outer("chunks").alias("c"))
        .filter(F.col("c").isNotNull())
        .select(
            "doc_id",
            F.col("c.idx").alias("chunk_idx"),
            F.col("c.n").alias("n_units"),
            F.col("c.chars").alias("chunk_chars"),
        )
    )


SENTENCE_CHUNKS_SQL = """
WITH RECURSIVE words AS (
  SELECT doc_id, s.i AS si, TRIM(parts[s.i]) AS w
  FROM (
    SELECT doc_id, string_split_regex(text, ' +') AS parts
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
  ), UNNEST(generate_series(1, len(parts))) AS s(i)
  WHERE TRIM(parts[s.i]) != ''
), ordered AS (
  SELECT doc_id, LENGTH(w)::INT AS slen,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY si)::INT AS pos
  FROM words
), steps AS (
  SELECT doc_id, pos, 1 AS chunk_idx, 1 AS n, slen AS chars
  FROM ordered WHERE pos = 1
  UNION ALL
  SELECT o.doc_id, o.pos,
         CASE WHEN s.chars + 1 + o.slen <= 50 THEN s.chunk_idx ELSE s.chunk_idx + 1 END,
         CASE WHEN s.chars + 1 + o.slen <= 50 THEN s.n + 1 ELSE 1 END,
         CASE WHEN s.chars + 1 + o.slen <= 50 THEN s.chars + 1 + o.slen ELSE o.slen END
  FROM steps s JOIN ordered o ON o.doc_id = s.doc_id AND o.pos = s.pos + 1
)
SELECT doc_id, chunk_idx, MAX(n)::INT AS n_units, MAX(chars)::INT AS chunk_chars
FROM steps GROUP BY doc_id, chunk_idx
"""


def knn_label_noise(spark, sf):
    """k-NN label-noise audit: for each of the 20 lowest-id labeled
    vectors, its 5 nearest labeled neighbors by cosine (e6-quantized
    BEFORE ranking, ties by id) — flagged when a strict majority
    disagrees with its own label. The standard mislabeled-example
    screen (Confident-Learning style) as a broadcast-probe sweep over
    the partitioned corpus — linear, the allowlisted ann shape."""
    from pyspark.sql.window import Window

    live = (
        load(spark, sf, "embeddings")
        .to_df()
        .filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
            & F.col("label").isNotNull()
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"), "label")
        .filter(similarity.dot(F.col("v"), F.col("v")) > 0)
    )
    probes = live.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("p_id"), F.col("v").alias("pv"), F.col("label").alias("p_label")
    )
    cos_e6 = F.floor(
        similarity.cosine(F.col("pv"), F.col("v")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    scored = live.join(F.broadcast(probes), F.col("p_id") != F.col("vec_id")).select(
        "p_id",
        "p_label",
        F.col("label").alias("n_label"),
        F.col("vec_id").alias("n_id"),
        cos_e6.alias("cos_e6"),
    )
    w = Window.partitionBy("p_id").orderBy(F.col("cos_e6").desc(), F.col("n_id").asc())
    top5 = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 5)
    return (
        top5.groupBy(F.col("p_id").alias("vec_id"), F.col("p_label").alias("label"))
        .agg(
            F.count(F.when(F.col("n_label") != F.col("p_label"), F.lit(1))).alias("n_diff")
        )
        .select("vec_id", "label", "n_diff", (F.col("n_diff") >= 3).alias("flagged"))
    )


KNN_NOISE_SQL = """
WITH live AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0 AND label IS NOT NULL
    AND LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), probes AS (
  SELECT vec_id AS p_id, v AS pv, label AS p_label FROM live ORDER BY vec_id LIMIT 20
), scored AS (
  SELECT p.p_id, p.p_label, c.label AS n_label, c.vec_id AS n_id,
         CAST(FLOOR((LIST_DOT_PRODUCT(p.pv, c.v)
               / (SQRT(LIST_DOT_PRODUCT(p.pv, p.pv)) * SQRT(LIST_DOT_PRODUCT(c.v, c.v))))
              * 1000000 + 0.5) AS BIGINT) AS cos_e6
  FROM probes p JOIN live c ON c.vec_id != p.p_id
), top5 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY cos_e6 DESC, n_id ASC) AS r
  FROM scored
)
SELECT p_id AS vec_id, p_label AS label,
       COUNT(*) FILTER (n_label != p_label)::BIGINT AS n_diff,
       (COUNT(*) FILTER (n_label != p_label) >= 3) AS flagged
FROM top5 WHERE r <= 5 GROUP BY p_id, p_label
"""


def containment_decontamination(spark, sf):
    """Containment-ratio decontamination (the thresholded tier between
    contamination_hits' raw counts and exact_decontamination's verbatim
    match): an eval doc (doc_id % 50 = 0) is contaminated by a train
    doc when ≥ 60% of the EVAL doc's distinct 16-char shingles appear
    in it — |A∩B| / |A| with the EVAL side as the denominator, which
    catches a small benchmark sample pasted into a long train doc that
    symmetric Jaccard dilutes below any threshold. Shared counts ride
    one shingle-keyed join; each eval doc's distinct-shingle total is a
    broadcastable eval-sized table; the ratio compares by integer
    cross-multiplication (5·shared ≥ 3·total — no division at all)."""
    docs = load(spark, sf, "documents").to_df().filter(F.col("text").isNotNull())
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(text) - 15, 1)),"
                    " i -> substring(text, i, 16))"
                )
            )
        ).alias("g"),
    )
    ev = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    tr = sh.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("train_id"), "g"
    )
    totals = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval"))
    shared = (
        tr.join(ev, "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(totals), "eval_id")
        .filter(F.lit(5) * F.col("n_shared") >= F.lit(3) * F.col("n_eval"))
        .select(
            "train_id",
            "eval_id",
            "n_shared",
            "n_eval",
            F.floor(
                F.col("n_shared").cast("double") / F.col("n_eval").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("containment_e6"),
        )
    )


CONTAINMENT_DECON_SQL = """
WITH sh AS (
  SELECT doc_id,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 15, 1) + 1),
                i -> SUBSTR(text, i::INT, 16)))) AS g
  FROM documents WHERE text IS NOT NULL
), ev AS (
  SELECT doc_id AS eval_id, g FROM sh WHERE doc_id % 50 = 0
), tr AS (
  SELECT doc_id AS train_id, g FROM sh WHERE doc_id % 50 != 0
), totals AS (
  SELECT eval_id, COUNT(*)::BIGINT AS n_eval FROM ev GROUP BY eval_id
), shared AS (
  SELECT tr.train_id, ev.eval_id, COUNT(*)::BIGINT AS n_shared
  FROM tr JOIN ev ON tr.g = ev.g
  GROUP BY tr.train_id, ev.eval_id
)
SELECT s.train_id, s.eval_id, s.n_shared, t.n_eval,
       CAST(FLOOR(s.n_shared::DOUBLE / t.n_eval::DOUBLE * 1000000 + 0.5) AS BIGINT) AS containment_e6
FROM shared s JOIN totals t ON s.eval_id = t.eval_id
WHERE 5 * s.n_shared >= 3 * t.n_eval
"""


def jpeg_decode_real(spark, sf):
    """REAL baseline-JPEG decode end-to-end, no Pillow (closes the one
    dormant media path the r4/r7 verdicts tracked; the PNG/WAV twins
    have been real since r5): deterministic grayscale JPEGs — SOI, DQT,
    SOF0, standard-table DHT, SOS, Huffman-coded scan with byte
    stuffing — are encoded per doc_id inside mapInPandas
    (functions/jpeg.encode_jpeg_gray) and decoded by the REAL
    functions/jpeg.jpeg_decode_gray: marker parse, canonical-Huffman
    DC+AC decode with DC prediction across blocks, dezigzag,
    dequantize, 2-D IDCT, level shift, clamp, edge crop. Images are
    flat per 8×8 block with per-block values, and QTABLE_FLAT8's DC
    step 8 divides 8·(v−128) exactly, so the lossy pipeline is exactly
    invertible here and the oracle derives every decoded pixel
    analytically (the png_decode_real discipline; the AC/ZRL magnitude
    paths are property-tested in tests/test_r8_ops.py instead).
    Varying dims exercise partial edge blocks; multi-block rows
    exercise the DC difference chain. ODD media_ids encode as
    three-component 4:2:0 COLOR streams (neutral chroma) — the
    interleaved-MCU order, per-component DC predictors, chroma
    upsample and YCbCr→RGB conversion all run for real, and any
    defect in them shifts RGB off neutral and breaks the hash: with
    Cb=Cr=128 exactly, R=G=B=Y, so the ITU-601 luma the adapter
    computes collapses to the same analytic value as the gray half."""
    from tada_spark.functions import jpeg, multimodal

    docs = load(spark, sf, "documents", spread=True).to_df().select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 9 + mid % 12, 9 + (mid * 7) % 10
                bw = (w + 7) // 8
                img = np.empty((h, w), dtype=np.uint8)
                for y in range(h):
                    for x in range(w):
                        img[y, x] = (37 + 29 * mid + 53 * ((y // 8) * bw + x // 8)) % 256
                if mid % 2:
                    neutral = np.full(((h + 1) // 2, (w + 1) // 2), 128, dtype=np.uint8)
                    payloads.append(jpeg.encode_jpeg_color420(img, neutral, neutral))
                else:
                    payloads.append(jpeg.encode_jpeg_gray(img))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    jpegs = docs.mapInPandas(build, schema="media_id long, payload binary")
    return multimodal.image_features(jpegs, decoder=jpeg.jpeg_image_decoder).select(
        "media_id", "width", "height", "mean_luma"  # n_bytes is the
        # Huffman stream length — not analytically derivable
    )


JPEG_DECODE_REAL_SQL = """
WITH p AS (
  SELECT doc_id, 9 + doc_id % 12 AS w, 9 + (doc_id * 7) % 10 AS h FROM documents
), px AS (
  SELECT doc_id, w, h,
         ((37 + 29 * doc_id + 53 * ((y.j // 8) * ((w + 7) // 8) + x.i // 8)) % 256) AS v
  FROM p, UNNEST(generate_series(0, h - 1)) y(j), UNNEST(generate_series(0, w - 1)) x(i)
)
SELECT doc_id AS media_id, MAX(w)::INT AS width, MAX(h)::INT AS height,
       FLOOR(SUM(v)::DOUBLE / (MAX(w) * MAX(h) * 255) * 1000000 + 0.5) / 1000000 AS mean_luma
FROM px GROUP BY doc_id
"""


def jpeg_progressive_decode(spark, sf):
    """Progressive-JPEG (SOF2) decode through the full multi-scan
    coefficient accumulation of T.81 §G — spectral selection AND
    successive approximation (functions/jpeg, round 9; closes the one
    'What's missing' feature the r8 verdict named: real corpora run
    ~5-15% progressive). Same discipline as jpeg_decode_real: each doc
    becomes a deterministic flat-per-8×8-block image whose lossy
    pipeline is exactly invertible under QTABLE_FLAT8, encoded here
    PROGRESSIVELY (6 scans gray / 14 scans color: DC first Al=1, AC
    first per band Al=1, DC+AC refinement to Al=0), decoded by the
    multi-scan path, and hash-checked against the analytic DuckDB
    pixel-sum oracle. The doc_id % 4 residue rotates the transport so
    one entry drives every decoder dimension: 0 = gray with a
    restart interval of 2 (DRI/RSTn resets inside every scan), 1 =
    4:2:0 color (interleaved 2×2 DC MCUs + per-component AC scans),
    2 = plain gray, 3 = 4:2:2 color with restart interval 3 (2×1
    MCU geometry). Color uses neutral chroma so R=G=B=Y keeps the
    luma analytic. Dims differ from the baseline twin so the two
    entries can't mask each other."""
    from tada_spark.functions import jpeg, multimodal

    docs = load(spark, sf, "documents", spread=True).to_df().select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 9 + mid % 10, 9 + (mid * 5) % 12
                bw = (w + 7) // 8
                img = np.empty((h, w), dtype=np.uint8)
                for y in range(h):
                    for x in range(w):
                        img[y, x] = (41 + 31 * mid + 59 * ((y // 8) * bw + x // 8)) % 256
                mode = mid % 4
                if mode == 1:  # 4:2:0 color
                    neutral = np.full(((h + 1) // 2, (w + 1) // 2), 128, dtype=np.uint8)
                    payloads.append(jpeg.encode_jpeg_progressive(img, neutral, neutral))
                elif mode == 3:  # 4:2:2 color with restarts
                    neutral = np.full((h, (w + 1) // 2), 128, dtype=np.uint8)
                    payloads.append(jpeg.encode_jpeg_progressive(
                        img, neutral, neutral, sampling=(2, 1), restart_interval=3))
                elif mode == 0:  # gray with restarts
                    payloads.append(jpeg.encode_jpeg_progressive(img, restart_interval=2))
                else:  # plain gray
                    payloads.append(jpeg.encode_jpeg_progressive(img))
            yield pd.DataFrame({"media_id": pdf["media_id"], "payload": payloads})

    jpegs = docs.mapInPandas(build, schema="media_id long, payload binary")
    return multimodal.image_features(jpegs, decoder=jpeg.jpeg_image_decoder).select(
        "media_id", "width", "height", "mean_luma"
    )


JPEG_PROGRESSIVE_SQL = """
WITH p AS (
  SELECT doc_id, 9 + doc_id % 10 AS w, 9 + (doc_id * 5) % 12 AS h FROM documents
), px AS (
  SELECT doc_id, w, h,
         ((41 + 31 * doc_id + 59 * ((y.j // 8) * ((w + 7) // 8) + x.i // 8)) % 256) AS v
  FROM p, UNNEST(generate_series(0, h - 1)) y(j), UNNEST(generate_series(0, w - 1)) x(i)
)
SELECT doc_id AS media_id, MAX(w)::INT AS width, MAX(h)::INT AS height,
       FLOOR(SUM(v)::DOUBLE / (MAX(w) * MAX(h) * 255) * 1000000 + 0.5) / 1000000 AS mean_luma
FROM px GROUP BY doc_id
"""


def cms_probe_unseen_users(spark, sf):
    """CMS point-estimation with ABSENT keys in the probe set — oracle
    evidence for the r8 sparse-sketch fix (functions/sketches
    cms_estimate: probes LEFT-join the cell table and coalesce missing
    cells to 0). The probe set is the 5 lowest present user_ids (exact
    true_n) plus three literal ids (-101, -102, -103) the synthetic
    corpus can never contain (ids are non-negative): an unseen key must
    SURVIVE to the output with est_n = min over its 4 cells — 0
    whenever any cell is empty, a small collision count otherwise —
    never disappear (the inner-join bug) and never inflate past the
    overcount invariant est ≥ true = 0. cms_heavy_hitters_users probes
    only guaranteed-present keys, so this path had unit-test evidence
    but no oracle row until now.

    100 TB shape: identical to the heavy-hitters entry — one bounded
    explode+agg for the sketch, 8-row probe side, broadcast join."""
    from tada_spark.functions import sketches
    from tada_spark.session import local_frame

    ev = load(spark, sf, "events").to_df().filter(F.col("user_id").isNotNull())
    sk = sketches.cms_build(ev, F.col("user_id"), depth=4, width=256)
    present = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("user_id").asc())
        .limit(5)
    )
    absent = local_frame(
        spark,
        T.StructType([T.StructField("user_id", T.LongType()), T.StructField("true_n", T.LongType())]),
        [[-101, -102, -103], [0, 0, 0]],
    )
    probes = present.unionByName(absent)
    est = sketches.cms_estimate(probes, sk, "user_id", depth=4, width=256)
    return est.select(
        "user_id",
        "true_n",
        "est_n",
        (F.col("est_n") >= F.col("true_n")).alias("overcount_ok"),
    )


CMS_PROBE_UNSEEN_SQL = """
WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
rows_ AS (SELECT i FROM UNNEST([0, 1, 2, 3]) t(i)),
cells AS (
  SELECT i AS r, ('0x' || md5('cms' || i || '#' || user_id::VARCHAR)[1:8])::BIGINT % 256 AS bucket,
         COUNT(*) AS c
  FROM ev, rows_ GROUP BY 1, 2
),
present AS (
  SELECT user_id, COUNT(*)::BIGINT AS true_n FROM ev GROUP BY user_id
  ORDER BY user_id ASC LIMIT 5
),
probes0 AS (
  SELECT * FROM present
  UNION ALL
  SELECT * FROM (VALUES (-101, 0), (-102, 0), (-103, 0)) v(user_id, true_n)
),
probes AS (
  SELECT user_id, true_n, i AS r,
         ('0x' || md5('cms' || i || '#' || user_id::VARCHAR)[1:8])::BIGINT % 256 AS bucket
  FROM probes0, rows_
)
SELECT p.user_id, MAX(p.true_n)::BIGINT AS true_n,
       MIN(COALESCE(c.c, 0))::BIGINT AS est_n,
       (MIN(COALESCE(c.c, 0)) >= MAX(p.true_n)) AS overcount_ok
FROM probes p LEFT JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
GROUP BY p.user_id
"""


def lookup_first_ordered_customer(spark, sf):
    """first_match='ordered' lookup under the oracle — the reference's
    first-APPEARANCE pick (internal.go:1507-1517) was pytest-only until
    now. The right side is orders with a DECLARED order
    (o_orderdate, o_orderkey — unique, so the rowid rank is
    deterministic) and duplicated join keys (many orders per customer);
    each customer must take exactly its earliest order, with no row
    multiplication, and customers with no orders pass through with
    NULLs (the left-join contract). The oracle picks the same row via
    ROW_NUMBER over the declared keys.

    100 TB shape: the first-match dedupe is one window over the right
    side keyed on the join key; the join itself stays a plain
    broadcast-eligible equi-join — same profile as every other
    lookup."""
    cust = load(spark, sf, "customer")
    odf = (
        load(spark, sf, "orders")
        .to_df()
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )
    orders = Frame(odf, order_keys=["o_orderdate", "o_orderkey"])
    out = cust.lookup(
        orders, left_on=["c_custkey"], right_on=["o_custkey"], first_match="ordered"
    )
    return out.to_df().select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderdate").alias("first_orderdate"),
        F.col("o_totalprice").alias("first_totalprice"),
    )


LOOKUP_FIRST_ORDERED_SQL = """
SELECT c.c_custkey, c.c_mktsegment,
       o.o_orderkey AS first_orderkey,
       o.o_orderdate AS first_orderdate,
       o.o_totalprice AS first_totalprice
FROM customer c LEFT JOIN (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) o ON c.c_custkey = o.o_custkey AND o.rn = 1
"""


def nb_classify_lang_docs(spark, sf):
    """Multinomial Naive Bayes language classifier
    (functions/classify.naive_bayes_classify) — the fastText-style
    trainable-filter tier: train on the deterministic 80% of documents
    by md5(doc_id) bucket, classify the held-out 20%. Hashed unigram
    features (512 md5 buckets), Laplace smoothing, det_ln
    integer-millionth log-weights, argmax with lexicographic tiebreak
    and runner-up margin. (The synthetic corpus draws the same word
    soup for every lang, so accuracy ~= the majority prior — the gate
    pins the EXACT score arithmetic, which is what transfers to a real
    corpus.) Scale: two bounded train aggregates, an L×512 broadcast
    weight grid, one per-(doc, label) score shuffle."""
    from tada_spark.functions.classify import naive_bayes_classify
    from tada_spark.functions.sampling import hash_bucket

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text", "lang")
    b = hash_bucket(F.col("doc_id").cast("string"))
    train = docs.filter(b < 80)
    test = docs.filter(b >= 80)
    return naive_bayes_classify(train, test)


_DET_LN_SQL_CHAIN = """
  SELECT kind, lang, bucket,
         ((CAST(LENGTH(BIN(r)) - 1 AS DOUBLE) * 0.6931471805599453)
          + ((2.0 * z) * (1.0 + (z*z) * ((1.0/3.0) + (z*z) * ((1.0/5.0) + (z*z) * ((1.0/7.0)
             + (z*z) * ((1.0/9.0) + (z*z) * ((1.0/11.0) + (z*z) * ((1.0/13.0) + (z*z) * (1.0/15.0)))))))))
         ) - 13.815510557964274 AS lnr
  FROM (
    SELECT kind, lang, bucket, r,
           (((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << (LENGTH(BIN(r)) - 1)) AS DOUBLE)) - 1.0)
            / ((CAST(r AS DOUBLE) / CAST((CAST(1 AS BIGINT) << (LENGTH(BIN(r)) - 1)) AS DOUBLE)) + 1.0)) AS z
    FROM rin
  )
"""

NB_CLASSIFY_SQL = r"""
WITH base AS (
  SELECT doc_id, lang, text,
         ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 AS hb
  FROM documents
), train AS (
  SELECT * FROM base WHERE hb < 80 AND lang IS NOT NULL
                       AND text IS NOT NULL AND LENGTH(TRIM(text)) > 0
), test AS (
  SELECT * FROM base WHERE hb >= 80 AND text IS NOT NULL AND LENGTH(TRIM(text)) > 0
), ttok AS (
  SELECT lang, ('0x' || md5('nb#' || t.tok)[1:8])::BIGINT % 512 AS bucket
  FROM train, UNNEST(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) t(tok)
), lb AS (
  SELECT lang, bucket, COUNT(*) AS c_lb FROM ttok GROUP BY 1, 2
), nl AS (
  SELECT lang, SUM(c_lb) AS n_l FROM lb GROUP BY 1
), dl AS (
  SELECT lang, COUNT(*) AS d_l FROM train GROUP BY 1
), sc AS (
  SELECT SUM(d_l) AS d, COUNT(*) AS l FROM dl
), grid AS (
  SELECT dl.lang, b.bucket, nl.n_l, COALESCE(lb.c_lb, 0) AS c_lb
  FROM dl
  CROSS JOIN (SELECT UNNEST(generate_series(0, 511)) AS bucket) b
  JOIN nl USING (lang)
  LEFT JOIN lb ON lb.lang = dl.lang AND lb.bucket = b.bucket
), rin AS (
  -- det_ln (plans/semantics.py) replicated CTE for CTE; one shared
  -- chain scores both the L*512 token weights and the L priors
  SELECT 'w' AS kind, lang, bucket,
         GREATEST(CAST(FLOOR(((c_lb + 1)::DOUBLE / (n_l + 512)::DOUBLE) * 1000000.0 + 0.5) AS BIGINT),
                  CAST(1 AS BIGINT)) AS r
  FROM grid
  UNION ALL
  SELECT 'p', dl.lang, -1,
         GREATEST(CAST(FLOOR(((d_l + 1)::DOUBLE / (sc.d + sc.l)::DOUBLE) * 1000000.0 + 0.5) AS BIGINT),
                  CAST(1 AS BIGINT))
  FROM dl CROSS JOIN sc
), lncte AS (
""" + _DET_LN_SQL_CHAIN + r"""
), w AS (
  SELECT lang, bucket, CAST(FLOOR(lnr * 1000000 + 0.5) AS BIGINT) AS lw_e6
  FROM lncte WHERE kind = 'w'
), pr AS (
  SELECT lang, CAST(FLOOR(lnr * 1000000 + 0.5) AS BIGINT) AS prior_e6
  FROM lncte WHERE kind = 'p'
), dtok AS (
  SELECT doc_id, ('0x' || md5('nb#' || t.tok)[1:8])::BIGINT % 512 AS bucket, COUNT(*) AS c
  FROM test, UNNEST(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) t(tok)
  GROUP BY 1, 2
), scored AS (
  SELECT dtok.doc_id, w.lang,
         (pr.prior_e6 + SUM(c * lw_e6))::BIGINT AS score_e6,
         SUM(c)::BIGINT AS n_toks
  FROM dtok JOIN w USING (bucket) JOIN pr ON pr.lang = w.lang
  GROUP BY 1, 2, pr.prior_e6
), ranked AS (
  SELECT doc_id, lang, score_e6, n_toks,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, lang ASC) AS rk,
         score_e6 - LEAD(score_e6) OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, lang ASC) AS gap
  FROM scored
)
SELECT doc_id, lang AS pred_label, score_e6,
       COALESCE(gap, 0)::BIGINT AS margin_e6, n_toks
FROM ranked WHERE rk = 1
"""


def split_leakage_report_docs(spark, sf):
    """Train/test leakage audit at PARAGRAPH granularity: the naive
    id-keyed split (sampling.assign_split on doc_id) puts repeated
    20-word chunks (dedup.paragraph_chunks — the CCNet paragraph unit)
    on both sides of the split, so a test doc whose boilerplate was
    trained on scores as memorized — the classic eval-contamination
    bug. Reports every chunk fingerprint straddling ≥ 2 splits with
    its occurrence/doc counts and the straddled split set (document
    granularity is vacuous on this corpus: zero exact-dup texts, but
    100+ cross-doc repeated chunks). leakage_safe_split_docs is the
    acting half at content granularity. Scale: chunk explode → ONE
    fingerprint-keyed aggregate; the chunk stream is ∝ corpus tokens /
    20, never pairwise."""
    from tada_spark.functions.dedup import paragraph_chunks
    from tada_spark.functions.sampling import assign_split

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    ch = paragraph_chunks(docs)
    with_split = assign_split(ch, "doc_id")
    return (
        with_split.select(F.md5("chunk").alias("chunk_fp"), "doc_id", "split")
        .groupBy("chunk_fp")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
            F.concat_ws(",", F.sort_array(F.collect_set("split"))).alias("splits"),
        )
        .filter(F.col("n_splits") >= 2)
    )


SPLIT_LEAKAGE_SQL = r"""
WITH toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS t FROM documents
), chunks AS (
  SELECT doc_id, array_to_string(t[c.cid * 20 + 1 : c.cid * 20 + 20], ' ') AS chunk
  FROM toks, UNNEST(generate_series(0, CAST(CEIL(len(t) / 20.0) AS INT) - 1)) c(cid)
  WHERE len(t) >= 1
), s AS (
  SELECT MD5(chunk) AS chunk_fp, doc_id,
         CASE WHEN ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM chunks WHERE chunk <> ''
)
SELECT chunk_fp, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(DISTINCT split) AS n_splits,
       STRING_AGG(DISTINCT split, ',' ORDER BY split) AS splits
FROM s GROUP BY chunk_fp HAVING COUNT(DISTINCT split) >= 2
"""


def leakage_safe_split_docs(spark, sf):
    """Leakage-safe split assignment — the acting half of
    split_leakage_report_docs: key the split on the CONTENT fingerprint
    instead of the doc id, so every exact duplicate of a text lands in
    the same split by construction (the md5 bucket of the fp, same
    80/10/10 rule as sampling.assign_split). Emits (doc_id, fp, split);
    the report run on THIS split is empty — pinned in tests. Zero
    joins: one projection over the scan."""
    from tada_spark.functions.text import fingerprint, md5_hash32

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    fp = fingerprint(F.col("text"))
    b = F.pmod(md5_hash32(fp), F.lit(100))
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        fp.alias("fp"),
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("val")).otherwise(F.lit("test")).alias("split"),
    )


LEAKAGE_SAFE_SPLIT_SQL = """
WITH f AS (
  SELECT doc_id, MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, fp,
       CASE WHEN ('0x' || md5(fp)[1:8])::BIGINT % 100 < 80 THEN 'train'
            WHEN ('0x' || md5(fp)[1:8])::BIGINT % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM f
"""


def mojibake_stats_sources(spark, sf):
    """Encoding-health audit per source — the corpus-hygiene pass real
    crawls need before training: occurrence counts of the classic
    UTF-8-decoded-as-Latin-1 mojibake signatures ('Ã' from two-byte
    sequences, 'â€' from punctuation, the U+FFFD replacement char) and
    the affected-doc count. Fixed-string occurrence counting via
    length arithmetic (no regex engine variance between Spark and
    DuckDB). Column-only, one aggregate over the scan."""
    docs = load(spark, sf, "documents").to_df()

    def occ(s: str) -> Column:
        return F.coalesce(
            (F.length("text") - F.length(F.regexp_replace(F.col("text"), F.lit(s), F.lit(""))))
            / F.lit(len(s)),
            F.lit(0.0),
        ).cast("long")

    sigs = {"moji_a": "Ã", "moji_punct": "â€", "moji_replacement": "�"}
    cols = {k: occ(v) for k, v in sigs.items()}
    return (
        docs.select(
            "source",
            *[c.alias(k) for k, c in cols.items()],
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(k).alias(f"{k}_occ") for k in sigs],
            F.sum(
                F.when(sum(F.col(k) for k in sigs) > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_affected"),
        )
    )


MOJIBAKE_SQL = """
WITH occ AS (
  SELECT source,
         COALESCE((LENGTH(text) - LENGTH(REPLACE(text, 'Ã', ''))) // LENGTH('Ã'), 0) AS moji_a,
         COALESCE((LENGTH(text) - LENGTH(REPLACE(text, 'â€', ''))) // LENGTH('â€'), 0) AS moji_punct,
         COALESCE((LENGTH(text) - LENGTH(REPLACE(text, '�', ''))) // LENGTH('�'), 0) AS moji_replacement
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       SUM(moji_a)::BIGINT AS moji_a_occ,
       SUM(moji_punct)::BIGINT AS moji_punct_occ,
       SUM(moji_replacement)::BIGINT AS moji_replacement_occ,
       SUM(CASE WHEN moji_a + moji_punct + moji_replacement > 0 THEN 1 ELSE 0 END)::BIGINT AS n_affected
FROM occ GROUP BY source
"""


def mmr_rerank_embeddings(spark, sf):
    """Maximal Marginal Relevance diversity re-ranking
    (functions/similarity.mmr_rerank, Carbonell & Goldstein 1998):
    greedy top-4 from each query's cosine top-12 pool maximizing the
    exact-integer objective 7·rel_e6 − 3·max_sel_e6 (λ = 0.7 kept as
    an integer numerator — a /10 cannot change an argmax). The
    anti-crowding pass retrieval stacks run after ANN. Oracle unrolls
    the k greedy steps as chained CTEs — no recursion, bit-exact."""
    from tada_spark.functions import similarity

    emb = load(spark, sf, "embeddings").to_df()
    return similarity.mmr_rerank(emb, emb.filter(F.col("vec_id") < 3), k=4, pool=12)


def _mmr_sql(k: int = 4, pool: int = 12) -> str:
    """Unroll the MMR greedy loop as chained CTEs (standard SQL forbids
    aggregates in a recursive CTE member; k is a small constant, so the
    unrolled form is both portable and fast)."""
    cos = (
        "LIST_DOT_PRODUCT({a}, {b}) / "
        "(SQRT(LIST_DOT_PRODUCT({a}, {a})) * SQRT(LIST_DOT_PRODUCT({b}, {b})))"
    )
    parts = [
        "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        "FROM embeddings WHERE vec_id < 3),",
        "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),",
        "scored0 AS (SELECT query_id, neighbor_id, "
        + cos.format(a="qv", b="cv")
        + " AS raw FROM q JOIN c ON query_id != neighbor_id),",
        f"cands AS (SELECT query_id, neighbor_id, "
        f"CAST(FLOOR(raw * 1000000 + 0.5) AS BIGINT) AS rel_e6 FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id) AS rk "
        f"FROM scored0 WHERE raw IS NOT NULL) WHERE rk <= {pool}),",
        "pairs AS (SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b, "
        "CAST(FLOOR(" + cos.format(a="ca.cv", b="cb.cv") + " * 1000000 + 0.5) AS BIGINT) AS sim_e6 "
        "FROM cands a JOIN cands b ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id "
        "JOIN c ca ON ca.neighbor_id = a.neighbor_id "
        "JOIN c cb ON cb.neighbor_id = b.neighbor_id),",
        "sel1 AS (SELECT query_id, neighbor_id AS sel_id, 1 AS step, mmr_num FROM ("
        "SELECT query_id, neighbor_id, 7 * rel_e6 AS mmr_num, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY 7 * rel_e6 DESC, neighbor_id) AS rn "
        "FROM cands) WHERE rn = 1),",
        "cum1 AS (SELECT * FROM sel1),",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"sc{i} AS (SELECT c.query_id, c.neighbor_id, "
            f"7 * c.rel_e6 - 3 * (SELECT MAX(p.sim_e6) FROM pairs p "
            f"JOIN cum{i - 1} s ON p.query_id = s.query_id AND p.id_b = s.sel_id "
            f"WHERE p.query_id = c.query_id AND p.id_a = c.neighbor_id) AS mmr_num "
            f"FROM cands c WHERE NOT EXISTS (SELECT 1 FROM cum{i - 1} s "
            f"WHERE s.query_id = c.query_id AND s.sel_id = c.neighbor_id)),"
        )
        parts.append(
            f"sel{i} AS (SELECT query_id, neighbor_id AS sel_id, {i} AS step, mmr_num FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mmr_num DESC, neighbor_id) AS rn "
            f"FROM sc{i}) WHERE rn = 1),"
        )
        parts.append(f"cum{i} AS (SELECT * FROM cum{i - 1} UNION ALL SELECT * FROM sel{i}),")
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT query_id, sel_id, step, mmr_num FROM cum{k}")
    return "\n".join(parts)


MMR_SQL = _mmr_sql(k=4, pool=12)


# ---------------------------------------------------------------------------
# round 11: web-corpus ingest — HTML boilerplate stripping + URL
# canonicalization/dedup (r10 verdict asks #1/#2). The corpus tables
# carry no markup or URLs, so each query PLANTS them deterministically
# from doc fields (the pii_scrub convention) with the IDENTICAL
# construction on both engines, then runs the real operator.
# ---------------------------------------------------------------------------


def _synth_html_col() -> Column:
    """Deterministic fake web page per doc: comment, head with title +
    meta + script (containing a bare '<' — the reason script blocks
    must go before tag removal) + style, a noscript banner and an svg
    icon (both render NO text — r12: removed with content), nav div,
    h1, the doc text inside a paragraph WITH named AND numeric/hex
    entities (&#8212; em dash, &#x27; apostrophe, &#9999; exercising
    the unknown-reference catchall), boilerplate list/footer lines."""
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><!-- id "),
        d,
        F.lit(' --><head><title>Tab title</title><meta name="gen" content="synth"><script type="text/javascript">var n = 1 < 2; track("'),
        F.col("source"),
        F.lit(
            '");</script><style>.nav { color: #fff }</style></head>'
            "<body><noscript>Please enable JavaScript to continue</noscript>"
            '<svg viewBox="0 0 1 1"><title>icon</title></svg>'
            '<div class="nav"><a href="/home">Home</a> | <a href="/about">About</a></div><h1>Doc '
        ),
        d,
        F.lit(" in "),
        F.col("lang"),
        F.lit("</h1><p>Quote &quot;"),
        F.col("text"),
        F.lit(
            "&quot; &amp; more &#8212; it&#x27;s rated &#9999; stars</p>"
            "<ul><li>one</li><li>two</li></ul>"
            "<p>Short tail</p><footer>&copy; 2026</footer></body></html>"
        ),
    )


def strip_boilerplate_docs(spark, sf):
    """HTML → clean training text (functions/text.strip_markup +
    density_line_filter): comment/script/style blocks drop WITH
    content, block closes become line breaks, tags drop, common
    entities decode, then the jusText-style density filter keeps only
    lines with >= 5 words (title + paragraph survive; nav/h1/list/
    footer boilerplate drops). Emits the cleaned text plus kept-line /
    word counts. Scale: a pure regexp_replace chain + array algebra in
    ONE projection over the scan (the clean column is derived once in
    its own Project — CollapseProject never inlines non-cheap exprs
    referenced 3×), no UDF, no shuffle."""
    docs = load(spark, sf, "documents").to_df()
    aug = docs.select("doc_id", _synth_html_col().alias("html"))
    cleaned = aug.select(
        "doc_id", text.strip_boilerplate(F.col("html"), min_words=5).alias("clean")
    )
    empty = F.length("clean") == 0
    return cleaned.select(
        "doc_id",
        "clean",
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.split(F.col("clean"), "\n")))
        .cast("long")
        .alias("n_lines"),
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.split(F.col("clean"), "[ \n]")))
        .cast("long")
        .alias("n_words"),
    )


#: SQL twin of _synth_html_col — a fragment expecting doc_id/lang/
#: source/text in scope; shared by strip_boilerplate_docs and the
#: composed web_ingest_pipeline so the two can never drift.
_HTML_SYNTH_EXPR = (
    "'<html><!-- id ' || doc_id ||\n"
    "         ' --><head><title>Tab title</title><meta name=\"gen\" content=\"synth\">"
    "<script type=\"text/javascript\">var n = 1 < 2; track(\"' || source ||\n"
    "         '\");</script><style>.nav { color: #fff }</style></head>' ||\n"
    "         '<body><noscript>Please enable JavaScript to continue</noscript>' ||\n"
    "         '<svg viewBox=\"0 0 1 1\"><title>icon</title></svg>' ||\n"
    "         '<div class=\"nav\"><a href=\"/home\">Home</a> | <a href=\"/about\">About</a></div><h1>Doc ' || doc_id ||\n"
    "         ' in ' || lang ||\n"
    "         '</h1><p>Quote &quot;' || text ||\n"
    "         '&quot; &amp; more &#8212; it&#x27;s rated &#9999; stars</p>' ||\n"
    "         '<ul><li>one</li><li>two</li></ul>' ||\n"
    "         '<p>Short tail</p><footer>&copy; 2026</footer></body></html>'"
)

def _sql_str(s: str) -> str:
    """A DuckDB single-quoted string literal (regex backslashes pass
    through verbatim — standard-conforming strings)."""
    return "'" + s.replace("'", "''") + "'"


def _strip_markup_sql_expr(var: str = "html") -> str:
    """The DuckDB expression equal to text.strip_markup(var), RENDERED
    from the very same pattern constants the Spark Column chain uses —
    r12: the previous hand-written twin had to be edited in lockstep by
    discipline; generating it makes drift structurally impossible."""
    e = var
    for pat in text.MARKUP_BLOCK_PATTERNS:
        e = f"REGEXP_REPLACE({e},\n      {_sql_str(pat)}, ' ', 'g')"
    e = f"REGEXP_REPLACE({e},\n      {_sql_str(text.MARKUP_BLOCK_CLOSE_PATTERN)}, chr(10), 'g')"
    e = f"REGEXP_REPLACE({e},\n      {_sql_str(text.MARKUP_ANY_TAG_PATTERN)}, ' ', 'g')"
    for ent, rep in text.MARKUP_ENTITIES[:-1]:  # all named except &amp;
        e = f"REPLACE({e}, {_sql_str(ent)}, {_sql_str(rep)})"
    for pat, rep in text.MARKUP_NUMERIC_ENTITIES:
        e = f"REGEXP_REPLACE({e},\n      {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    e = f"REGEXP_REPLACE({e},\n      {_sql_str(text.MARKUP_AMP_NUMERIC)}, '&amp;', 'g')"
    e = f"REGEXP_REPLACE({e},\n      {_sql_str(text.MARKUP_NUMERIC_CATCHALL)}, ' ', 'g')"
    e = f"REPLACE({e}, '&amp;', '&')"
    horiz = _sql_str(r"[ \t\r]+")
    squeeze = _sql_str(r" ?\n[ \n]*")
    edge = _sql_str(r"^[\n ]+|[\n ]+$")
    e = f"REGEXP_REPLACE({e}, {horiz}, ' ', 'g')"
    e = f"REGEXP_REPLACE({e}, {squeeze}, chr(10), 'g')"
    # the edge trim is PART of strip_markup (r12 review: omitting it
    # here made the docstring's equality claim false — a composer using
    # this expr directly got leading/trailing-newline divergence)
    return f"REGEXP_REPLACE({e}, {edge}, '', 'g')"


#: SQL twin of text.strip_markup + density_line_filter: CTE chain from
#: an ``aug(doc_id, html)`` CTE to ``filtered(doc_id, clean)``.
_STRIP_CHAIN_CTES = (
    "stripped AS (\n  SELECT doc_id,\n    "
    + _strip_markup_sql_expr("html")
    + " AS c0\n  FROM aug\n), trimmed AS (\n"
    # pass-through: the edge trim now lives INSIDE _strip_markup_sql_expr
    # (exact strip_markup equality); the CTE name stays so splicing
    # oracles keep their shape
    "  SELECT doc_id, c0 AS c1 FROM stripped\n"
    "), filtered AS (\n"
    "  SELECT doc_id,\n"
    "         ARRAY_TO_STRING(LIST_TRANSFORM(LIST_FILTER(STRING_SPLIT(c1, chr(10)),\n"
    "           ln -> LEN(STRING_SPLIT(TRIM(ln), ' ')) >= 5), ln -> TRIM(ln)), chr(10)) AS clean\n"
    "  FROM trimmed\n)"
)

STRIP_BOILERPLATE_SQL = (
    "WITH aug AS (\n  SELECT doc_id,\n         "
    + _HTML_SYNTH_EXPR
    + " AS html\n  FROM documents\n), "
    + _STRIP_CHAIN_CTES
    + r"""
SELECT doc_id, clean,
       (CASE WHEN LENGTH(clean) = 0 THEN 0 ELSE LEN(STRING_SPLIT(clean, chr(10))) END)::BIGINT AS n_lines,
       (CASE WHEN LENGTH(clean) = 0 THEN 0 ELSE LEN(REGEXP_SPLIT_TO_ARRAY(clean, '[ \n]')) END)::BIGINT AS n_words
FROM filtered
"""
)


def markup_stats_docs(spark, sf):
    """Per-doc markup diagnostics BEFORE stripping — the crawl-health
    report that decides whether a page is worth extracting: tag /
    anchor / comment counts (regexp_count at scan speed) and the
    text-to-markup ratio (stripped length ÷ raw length — low ratio =
    boilerplate-dominated page). One projection over the scan; the
    html column is derived once in its own Project (non-cheap,
    referenced 5× — CollapseProject keeps it materialized)."""
    docs = load(spark, sf, "documents", spread=True).to_df()
    aug = docs.select("doc_id", _synth_html_col().alias("html"))
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("html"), F.lit(r"<[^>]*>")).cast("long").alias("n_tags"),
        F.regexp_count(F.col("html"), F.lit(r"(?i)<a\b")).cast("long").alias("n_links"),
        F.regexp_count(F.col("html"), F.lit(r"(?s)<!--.*?-->")).cast("long").alias("n_comments"),
        _round_det(
            F.length(text.strip_markup(F.col("html"))).cast("double") / F.length("html"),
            6,
        ).alias("text_ratio"),
    )


MARKUP_STATS_SQL = (
    "WITH aug AS (\n  SELECT doc_id,\n         "
    + _HTML_SYNTH_EXPR
    + " AS html\n  FROM documents\n), "
    + _STRIP_CHAIN_CTES
    + r"""
SELECT a.doc_id,
       LEN(REGEXP_EXTRACT_ALL(a.html, '<[^>]*>'))::BIGINT AS n_tags,
       LEN(REGEXP_EXTRACT_ALL(a.html, '(?i)<a\b'))::BIGINT AS n_links,
       LEN(REGEXP_EXTRACT_ALL(a.html, '(?s)<!--.*?-->'))::BIGINT AS n_comments,
       FLOOR(LENGTH(t.c1)::DOUBLE / LENGTH(a.html) * 1000000 + 0.5) / 1000000 AS text_ratio
FROM aug a JOIN trimmed t USING (doc_id)
"""
)


def _synth_url_col() -> Column:
    """Deterministic messy crawl URL per doc. Canonical identity is
    (doc_id%7 domain, %13 path, %5 id param); everything else — scheme/
    host case, www., default :80, trailing slash, tracking params,
    param order, fragment — is transport noise canonicalization must
    erase, so docs sharing the identity triple MUST collide."""
    d = F.col("doc_id")

    def num(m: int) -> Column:
        return (d % m).cast("string")

    idp = F.concat(F.lit("id="), num(5))
    q = (
        F.when(d % 3 == 1, F.concat(F.lit("?utm_source=feed&"), idp, F.lit("&utm_campaign=x")))
        .when(d % 3 == 2, F.concat(F.lit("?"), idp, F.lit("&fbclid=abc123")))
        .otherwise(F.concat(F.lit("?"), idp))
    )
    return F.concat(
        F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site-"),
        num(7),
        F.lit(".Example.COM"),
        F.when(d % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/articles/"),
        num(13),
        F.when(d % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        q,
        F.when(d % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )


#: Shared oracle CTEs: URL synthesis (must mirror _synth_url_col
#: byte-for-byte) + the canonicalization steps (must mirror
#: text.canonical_url / text.url_host step-for-step).
_URL_SYNTH_CTE = """urls AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
         (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
         'Site-' || (doc_id % 7) || '.Example.COM' ||
         (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
         '/articles/' || (doc_id % 13) ||
         (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
         (CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&id=' || (doc_id % 5) || '&utm_campaign=x'
               WHEN doc_id % 3 = 2 THEN '?id=' || (doc_id % 5) || '&fbclid=abc123'
               ELSE '?id=' || (doc_id % 5) END) ||
         (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
  FROM documents
)"""

_URL_CANON_CTES = r"""s1 AS (
  SELECT doc_id, url,
         LOWER(REGEXP_EXTRACT(TRIM(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         REGEXP_REPLACE(REGEXP_REPLACE(TRIM(url), '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS rest
  FROM urls
), s2 AS (
  SELECT doc_id, url, scheme,
         REGEXP_EXTRACT(rest, '^([^/?]*)', 1) AS hostport,
         REGEXP_REPLACE(rest, '^[^/?]*', '') AS pathq
  FROM s1
), s3 AS (
  SELECT doc_id, url, scheme,
         REGEXP_REPLACE(LOWER(REGEXP_EXTRACT(hostport, '^([^:]*)', 1)), '^www\.', '') AS host,
         REGEXP_EXTRACT(hostport, ':([0-9]+)$', 1) AS port,
         REGEXP_REPLACE(REGEXP_EXTRACT(pathq, '^([^?]*)', 1), '/+$', '') AS path,
         REGEXP_EXTRACT(pathq, '\?(.*)$', 1) AS query
  FROM s2
), s4 AS (
  SELECT doc_id, url, scheme, host, port, path,
         ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(STRING_SPLIT(query, '&'),
           p -> p <> '' AND NOT REGEXP_MATCHES(p, __TRACKING_PATTERN__))), '&') AS qcanon
  FROM s3
), canon AS (
  SELECT doc_id, url, host,
         scheme || '://' || host ||
         (CASE WHEN port = '' OR (scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443')
               THEN '' ELSE ':' || port END) ||
         path ||
         (CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END) AS canon_url
  FROM s4
)""".replace(
    # rendered from the SAME constant canonical_url uses (r12 review:
    # the hand-written copy could silently drift from the Spark path
    # if DEFAULT_TRACKING_PARAMS were ever edited)
    "__TRACKING_PATTERN__",
    _sql_str(text.tracking_param_pattern()),
)


def canonical_url_docs(spark, sf):
    """URL canonicalization (functions/text.canonical_url): lowercase
    scheme/host, strip www. / default port / fragment / trailing
    slashes / tracking params, sort surviving query params. Emits
    (doc_id, url, canon_url) — the full strings hash-compare, so every
    canonicalization step is pinned byte-for-byte. Pure regexp/array
    projection at scan speed."""
    docs = load(spark, sf, "documents").to_df()
    aug = docs.select("doc_id", _synth_url_col().alias("url"))
    return aug.select(
        "doc_id", "url", text.canonical_url(F.col("url")).alias("canon_url")
    )


CANONICAL_URL_SQL = (
    "WITH " + _URL_SYNTH_CTE + ",\n" + _URL_CANON_CTES
    + "\nSELECT doc_id, url, canon_url FROM canon"
)


def url_dedup_docs(spark, sf):
    """URL-level (provenance) dedup — functions/dedup.url_dedup: the
    CCNet/RefinedWeb pre-text dedup stage, keyed on the canonical URL.
    One hash-aggregate shuffle (exact_dedup's profile); the ~2.6
    raw-URLs-per-canonical collision rate here is planted by
    construction (case/port/param/fragment noise over a 7×13×5
    identity grid). Every 11th doc (mod 7) has a NULL url — missing
    provenance — and must survive as a singleton 'urn:missing:<id>'
    group, never vanish from the keep-list (r11 ADVICE fix, pinned
    here AND in tests/test_r12_ops.py)."""
    docs = load(spark, sf, "documents").to_df()
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 7, F.lit(None).cast("string"))
        .otherwise(_synth_url_col())
        .alias("url"),
    )
    return dedup.url_dedup(aug, url_col="url", id_col="doc_id")


URL_DEDUP_SQL = (
    "WITH "
    + _URL_SYNTH_CTE.replace("urls AS (", "urls0 AS (")
    + ",\nurls AS (SELECT doc_id, CASE WHEN doc_id % 11 = 7 THEN NULL ELSE url END AS url FROM urls0),\n"
    + _URL_CANON_CTES
    + """
SELECT COALESCE(canon_url, 'urn:missing:' || doc_id) AS canon_url,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_occ,
       (COUNT(*) - 1)::BIGINT AS n_dropped
FROM canon GROUP BY 1"""
)


def url_domain_stats(spark, sf):
    """Per-domain crawl stats (functions/text.url_host): raw URL count,
    distinct canonical URLs, and the duplicate fraction — the
    per-domain health report a crawl curator reads before weighting
    domains (pairs with sampling.domain_mix_weights). One aggregate
    keyed on the host."""
    docs = load(spark, sf, "documents").to_df()
    aug = docs.select("doc_id", _synth_url_col().alias("url"))
    per_url = aug.select(
        text.url_host(F.col("url")).alias("domain"),
        text.canonical_url(F.col("url")).alias("canon_url"),
    )
    return per_url.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("canon_url").alias("n_unique"),
        _round_det(
            F.lit(1.0) - F.countDistinct("canon_url").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_frac"),
    )


URL_DOMAIN_STATS_SQL = (
    "WITH " + _URL_SYNTH_CTE + ",\n" + _URL_CANON_CTES
    + """
SELECT host AS domain, COUNT(*) AS n_urls, COUNT(DISTINCT canon_url) AS n_unique,
       FLOOR((1 - COUNT(DISTINCT canon_url)::DOUBLE / COUNT(*)) * 1000000 + 0.5) / 1000000 AS dup_frac
FROM canon GROUP BY host"""
)


def domain_boilerplate_removal_docs(spark, sf):
    """Frequency-based boilerplate discovery + removal (the CCNet-class
    cross-document pass): a line is boilerplate in a domain iff it
    appears in MORE THAN HALF of the domain's docs (2·n_line_docs >
    n_domain_docs) — nav/footer/list chrome repeats on every page of a
    site, real content doesn't. The cross-document complement of the
    within-page density filter: here strip_markup runs WITHOUT the
    word-count heuristic and the repeated-line statistic does the
    discovery. Doc-fraction thresholds are replication-invariant (both
    counts scale together), so the 100× replica checks the same truth.

    Shape: see functions/dedup.domain_boilerplate_removal (the factored
    operator this entry drives — r12: factored out so the
    min_domain_docs floor is unit-testable on a 1-doc domain, which the
    7-domain synthetic grid can never produce; every grid domain has
    dozens of docs so the floor is a no-op HERE and the oracle hash is
    unchanged, but the SQL twin carries the same clause so the two
    cannot drift)."""
    docs = load(spark, sf, "documents", spread=True).to_df()
    base = docs.select(
        "doc_id", "lang", "source", "text", _synth_url_col().alias("url")
    )
    aug = base.select(
        "doc_id",
        # no-op coalesce (url_host of a non-null url is non-null): the
        # domain JOIN keys below would otherwise re-infer
        # IsNotNull(domain) and push the whole url_host regexp chain
        # into every scan branch (plan-confirmed; the semdedup lesson)
        F.coalesce(text.url_host(F.col("url")), F.lit("")).alias("domain"),
        _synth_html_col().alias("html"),
    )
    cleaned = aug.select(
        "doc_id", "domain", text.strip_markup(F.col("html")).alias("clean")
    )
    return dedup.domain_boilerplate_removal(
        cleaned, text_col="clean", domain_col="domain", id_col="doc_id",
        min_domain_docs=3,
    )


DOMAIN_BOILERPLATE_SQL = (
    "WITH " + _URL_SYNTH_CTE + ",\n" + _URL_CANON_CTES
    + ",\naug AS (\n  SELECT d.doc_id,\n         "
    + _HTML_SYNTH_EXPR
    + " AS html\n  FROM documents d\n), "
    + _STRIP_CHAIN_CTES
    + r"""
, lines AS (
  SELECT t.doc_id, c.host AS domain, s.i AS pos, t.l[s.i] AS line
  FROM (SELECT doc_id, STRING_SPLIT(c1, chr(10)) AS l FROM trimmed) t
  JOIN canon c USING (doc_id), UNNEST(generate_series(1, len(t.l))) s(i)
), freq AS (
  SELECT domain, line, COUNT(DISTINCT doc_id) AS nld FROM lines GROUP BY 1, 2
), domd AS (
  SELECT domain, COUNT(DISTINCT doc_id) AS ndd FROM lines GROUP BY 1
), kept AS (
  SELECT l.* FROM lines l JOIN freq f USING (domain, line) JOIN domd d USING (domain)
  WHERE 2 * f.nld <= d.ndd OR d.ndd < 3
)
SELECT r.doc_id, r.domain, r.n_raw,
       (r.n_raw - COALESCE(k.n_kept, 0))::BIGINT AS n_removed,
       COALESCE(k.rebuilt, '') AS rebuilt
FROM (SELECT doc_id, MIN(domain) AS domain, COUNT(*) AS n_raw FROM lines GROUP BY 1) r
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_kept, STRING_AGG(line, chr(10) ORDER BY pos) AS rebuilt
           FROM kept GROUP BY 1) k USING (doc_id)
"""
)


def web_ingest_pipeline(spark, sf):
    """The composed crawl-ingest stage end-to-end — what clean_web_docs
    means in practice: (1) canonicalize the provenance URL, (2) keep
    ONE doc per canonical URL (row_number window — single scan, single
    shuffle; the keep-min rule of url_dedup), (3) strip HTML
    boilerplate from the survivors, (4) emit the cleaned text with a
    `kept` quality flag (n_words >= 10) instead of filtering — the
    gate is a value-dependent decision downstream owns, and flagging
    keeps the plan free of computed-column scan filters (DUP_EXPR
    discipline). Output: one row per canonical URL."""
    from pyspark.sql import Window

    docs = load(spark, sf, "documents").to_df()
    aug = docs.select(
        "doc_id", "lang", "source", "text", _synth_url_col().alias("url")
    )
    canon = aug.select("*", text.canonical_url(F.col("url")).alias("canon_url"))
    w = Window.partitionBy("canon_url").orderBy("doc_id")
    survivors = (
        canon.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    cleaned = survivors.select(
        "doc_id", "canon_url", _synth_html_col().alias("html")
    ).select(
        "doc_id",
        "canon_url",
        text.strip_boilerplate(F.col("html"), min_words=5).alias("clean"),
    )
    empty = F.length("clean") == 0
    stats = cleaned.select(
        "doc_id",
        "canon_url",
        "clean",
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.split(F.col("clean"), "\n")))
        .cast("long")
        .alias("n_lines"),
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.split(F.col("clean"), "[ \n]")))
        .cast("long")
        .alias("n_words"),
    )
    return stats.select("*", (F.col("n_words") >= 10).alias("kept"))


WEB_INGEST_SQL = (
    "WITH " + _URL_SYNTH_CTE + ",\n" + _URL_CANON_CTES
    + ",\nsurv AS (SELECT doc_id, canon_url FROM (SELECT doc_id, canon_url, "
    "ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn FROM canon) WHERE rn = 1),\n"
    "aug AS (\n  SELECT doc_id,\n         "
    + _HTML_SYNTH_EXPR
    + " AS html\n  FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)\n), "
    + _STRIP_CHAIN_CTES
    + r"""
SELECT f.doc_id, s.canon_url, f.clean,
       (CASE WHEN LENGTH(f.clean) = 0 THEN 0 ELSE LEN(STRING_SPLIT(f.clean, chr(10))) END)::BIGINT AS n_lines,
       (CASE WHEN LENGTH(f.clean) = 0 THEN 0 ELSE LEN(REGEXP_SPLIT_TO_ARRAY(f.clean, '[ \n]')) END)::BIGINT AS n_words,
       ((CASE WHEN LENGTH(f.clean) = 0 THEN 0 ELSE LEN(REGEXP_SPLIT_TO_ARRAY(f.clean, '[ \n]')) END) >= 10) AS kept
FROM filtered f JOIN surv s ON f.doc_id = s.doc_id
"""
)


# ---------------------------------------------------------------------------
# round 11: unigram-LM (SentencePiece-style) tokenizer apply — completes
# the tokenizer family (bpe_merge_candidates trains, greedy_segment_stats
# applies WordPiece; this is the probabilistic Viterbi apply, Kudo 2018).
# ---------------------------------------------------------------------------

#: Fixed subword vocab with occurrence counts — ONE Python constant
#: renders into BOTH the Spark literal map and the SQL VALUES list (the
#: _WORDPIECE_VOCAB discipline). Log-probs are computed ONCE in Python
#: (math.log) and embedded as integer-e6 literals on both sides, so no
#: engine ln() is ever evaluated — bit-exact by construction.
_UNIGRAM_VOCAB_COUNTS: dict[str, int] = {
    **{c: 50 for c in "abcdefghijklmnopqrstuvwxyz"},
    "data": 30, "sort": 30, "part": 28, "join": 28, "fast": 26, "hash": 26,
    "row": 25, "line": 25, "tab": 22, "key": 22, "agg": 20, "scan": 20,
    "the": 40, "er": 40, "ta": 40, "in": 38, "on": 36, "at": 36, "or": 34,
    "ar": 32, "st": 32, "le": 30, "ue": 28, "um": 24, "ow": 24, "an": 30,
    "sm": 18, "qu": 18, "ery": 18, "val": 20, "win": 18, "dow": 18,
    "ect": 16, "eam": 16, "sl": 14, "merg": 16, "filt": 16, "cust": 16,
}
_UNIGRAM_TOTAL = sum(_UNIGRAM_VOCAB_COUNTS.values())
_UNIGRAM_LP_E6: dict[str, int] = {
    p: math.floor(math.log(c / _UNIGRAM_TOTAL) * 1e6 + 0.5)
    for p, c in _UNIGRAM_VOCAB_COUNTS.items()
}
_UNIGRAM_MISSING_E6 = -20_000_000
_UNIGRAM_W, _UNIGRAM_L = 12, 4


def unigram_tokenize_words(spark, sf):
    """Unigram-LM tokenizer apply (functions/text.
    unigram_viterbi_segment): Viterbi-segment every DISTINCT corpus
    word against the fixed integer-log-prob vocabulary; emits the
    best segmentation, piece count and exact-integer path score per
    word, with the corpus occurrence count. Scale shape: the DP runs
    on the distinct-word table only (Zipf: distinct ≪ tokens — ONE
    word-keyed aggregate builds it), so tokenizing 100 TB costs one
    token shuffle plus a bounded projection chain; applying back to
    the token stream is a broadcast join (see the function docstring).
    Oracle: generated SQL unrolling the same DP/backtrack, vocab
    rendered from the same constant."""
    docs = load(spark, sf, "documents").to_df()
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word")
    )
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occ"))
    seg = text.unigram_viterbi_segment(
        words,
        _UNIGRAM_LP_E6,
        max_piece_len=_UNIGRAM_L,
        max_word_len=_UNIGRAM_W,
        missing_lp_e6=_UNIGRAM_MISSING_E6,
    )
    return seg.select(
        "word", "n_occ", "pieces", F.col("n_pieces").cast("long").alias("n_pieces"), "score_e6"
    )


def _unigram_sql(
    W: int = _UNIGRAM_W, L: int = _UNIGRAM_L, *, src: str = "documents", lead: str = "WITH "
) -> str:
    """Unroll the Viterbi DP + backtrack as chained CTEs (the _mmr_sql
    discipline: no aggregates-in-recursion, portable, and bit-exact
    because every dp value is a BIGINT sum of embedded literals). One
    q/p/r CTE triple per position (candidates, dp = GREATEST, ptr =
    largest-k-first CASE — the tie-break twin of Spark's struct max),
    then one a/b pair per backtrack step (CASE-ladder pointer read,
    list_prepend piece). ``src`` is the (doc_id, text) relation to
    tokenize; ``lead=''`` lets a composing oracle (ccnet_pipeline_docs)
    splice this chain after its own CTEs."""
    vocab_vals = ", ".join(f"('{p}', {lp})" for p, lp in sorted(_UNIGRAM_LP_E6.items()))
    m = _UNIGRAM_MISSING_E6
    parts = [
        f"{lead}toks AS (SELECT doc_id, f.w AS word FROM (SELECT doc_id, list_filter("
        r"regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tkl "
        f"FROM {src}) t, UNNEST(tkl) AS f(w)),",
        # pairs feeds BOTH the distinct-word DP and the per-doc apply
        # join (unigram_apply_docs) — ONE tokenization CTE for both
        "pairs AS (SELECT doc_id, word, COUNT(*)::BIGINT AS c FROM toks GROUP BY 1, 2),",
        "words AS (SELECT word, SUM(c)::BIGINT AS n_occ FROM pairs GROUP BY word),",
        f"vocab(piece, lp) AS (VALUES {vocab_vals}),",
        "p0 AS (SELECT word, n_occ, LENGTH(word) AS n, 0::BIGINT AS dp0, 0 AS ptr0 FROM words),",
    ]
    for i in range(1, W + 1):
        ks = list(range(min(L, i), 0, -1))
        cand_defs = ", ".join(
            f"dp{i - k} + COALESCE((SELECT lp FROM vocab v WHERE v.piece = "
            f"substr(word, {i - k + 1}, {k})), {m}) AS c{i}_{k}"
            for k in ks
        )
        parts.append(f"q{i} AS (SELECT *, {cand_defs} FROM r{i - 1 if i > 1 else 0}),".replace("r0", "p0"))
        greatest = (
            f"GREATEST({', '.join(f'c{i}_{k}' for k in ks)})" if len(ks) > 1 else f"c{i}_{ks[0]}"
        )
        parts.append(f"p{i} AS (SELECT *, CASE WHEN n >= {i} THEN {greatest} END AS dp{i} FROM q{i}),")
        ptr_case = "CASE " + " ".join(f"WHEN c{i}_{k} = dp{i} THEN {i - k}" for k in ks) + " END"
        parts.append(f"r{i} AS (SELECT *, CASE WHEN n >= {i} THEN ({ptr_case}) END AS ptr{i} FROM p{i}),")
    parts.append(
        f"b0 AS (SELECT *, CASE WHEN n <= {W} THEN n END AS cur0, []::VARCHAR[] AS pieces0 FROM r{W}),"
    )
    for s in range(1, W + 1):
        ladder = (
            f"CASE cur{s - 1} "
            + " ".join(f"WHEN {i} THEN ptr{i}" for i in range(1, W + 1))
            + " ELSE NULL END"
        )
        parts.append(f"a{s} AS (SELECT *, {ladder} AS prev{s} FROM b{s - 1}),")
        parts.append(
            f"b{s} AS (SELECT *, CASE WHEN cur{s - 1} > 0 THEN "
            f"list_prepend(substr(word, prev{s} + 1, cur{s - 1} - prev{s}), pieces{s - 1}) "
            f"ELSE pieces{s - 1} END AS pieces{s}, "
            f"CASE WHEN cur{s - 1} > 0 THEN prev{s} ELSE 0 END AS cur{s} FROM a{s}),"
        )
    score_case = "CASE n " + " ".join(f"WHEN {i} THEN dp{i}" for i in range(1, W + 1)) + " END"
    parts.append(
        f"seg AS (SELECT word, n_occ, CASE WHEN n <= {W} THEN ARRAY_TO_STRING(pieces{W}, '|') END AS pieces, "
        f"(CASE WHEN n <= {W} THEN LEN(pieces{W}) END)::BIGINT AS n_pieces, "
        f"(CASE WHEN n <= {W} THEN ({score_case}) END)::BIGINT AS score_e6 FROM b{W})"
    )
    return "\n".join(parts)


UNIGRAM_SQL = _unigram_sql() + "\nSELECT word, n_occ, pieces, n_pieces, score_e6 FROM seg"

def unigram_apply_docs(spark, sf):
    """The tokenizer-apply contract at corpus scale: segment the
    DISTINCT-word table once (unigram_viterbi_segment — Zipf: distinct
    words ≪ tokens), then BROADCAST the per-word results back onto the
    (doc_id, word, count) pair stream and aggregate per doc — token
    counts, piece counts, exact-integer corpus log-prob, and the
    chars-per-piece compression ratio (the wordpiece_apply_docs
    output convention). Cost: the pair stream is derived twice (once
    for the distinct words, once for the apply join) — the df/tf
    two-pass every retrieval stat pays (tfidf precedent); the apply
    join is a broadcast (the seg table is distinct-words-sized), and
    the per-doc aggregate is the only shuffle at token volume."""
    docs = load(spark, sf, "documents").to_df()
    toksd = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word"),
    )
    pairs = toksd.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    seg = text.unigram_viterbi_segment(
        pairs.select("word").distinct(),
        _UNIGRAM_LP_E6,
        max_piece_len=_UNIGRAM_L,
        max_word_len=_UNIGRAM_W,
        missing_lp_e6=_UNIGRAM_MISSING_E6,
    ).select("word", "n_pieces", "score_e6")
    joined = pairs.join(F.broadcast(seg), "word")
    return joined.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.col("n_pieces")).alias("n_pieces"),
        F.sum(F.col("c") * F.col("score_e6")).alias("score_e6"),
        F.floor(
            F.sum(F.col("c") * F.length("word")).cast("double")
            / F.sum(F.col("c") * F.col("n_pieces")).cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("chars_per_piece_e6"),
    )


#: Per-doc apply: weight each word's segmentation by its in-doc count —
#: the SQL twin of unigram_apply_docs' broadcast-apply join.
UNIGRAM_APPLY_SQL = (
    _unigram_sql()
    + """
SELECT p.doc_id, SUM(p.c)::BIGINT AS n_words,
       SUM(p.c * s.n_pieces)::BIGINT AS n_pieces,
       SUM(p.c * s.score_e6)::BIGINT AS score_e6,
       CAST(FLOOR(SUM(p.c * LENGTH(p.word))::DOUBLE / SUM(p.c * s.n_pieces)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS chars_per_piece_e6
FROM pairs p JOIN seg s USING (word) GROUP BY p.doc_id"""
)


#: ccnet_pipeline_docs constants: LM tertile cuts on the REBUILT text
#: (observed sf0.001 range 6.49M–9.33M bits×1e6 — higher than the raw
#: corpus because stripping leaves punctuation-fused tokens that cost
#: the OOV piece penalty) and the gopher knobs scaled to the synthetic
#: page (rebuilt docs run 21–110 words; the 50-word prose default
#: would blanket-reject).
_LN2 = math.log(2.0)
_CCNET_HEAD_BITS_E6 = 6_830_000
_CCNET_TAIL_BITS_E6 = 7_230_000
_CCNET_MIN_WORDS = 10
_CCNET_MIN_STOP_HITS = 1


def ccnet_pipeline_docs(spark, sf):
    """The CCNet ingest chain END-TO-END in one hash-matched entry
    (Wenzek et al. 2020 — the stage order real web corpora run):
    (1) canonical-URL provenance dedup (keep-min per canon_url),
    (2) HTML strip (markup blocks + entities, NO density heuristic —
    the frequency pass replaces it in CCNet),
    (3) frequency-based domain boilerplate removal (>50%-of-domain
    lines, 3-doc floor),
    (4) unigram-LM perplexity scoring of the REBUILT text with
    head/middle/tail at pinned tertile cuts,
    (5) Gopher quality gate on the rebuilt text,
    emitting every stage's signal per doc plus the composed keep
    (= NOT LM-tail AND gopher). Each stage is individually verified by
    its own entry (url_dedup_docs, strip_boilerplate_docs,
    domain_boilerplate_removal_docs, perplexity_filter_docs,
    gopher_quality_filters); THIS entry pins that they compose — the
    oracle splices the same shared SQL fragments, so a drift in any
    stage breaks two hashes.

    Scale: union of the stage shapes — one window shuffle (url dedup),
    the boilerplate pass's aggregates, the LM's pair/distinct/doc
    aggregates (DP over DISTINCT words only), gopher as a pure
    projection; no new shuffle class is introduced by composing. The
    audited plan shows 3 exchanges because the two pins
    truncate the url-dedup and boilerplate subtrees out of the audited
    lineage — remove a checkpoint and the plan re-inflates past the
    default budget (plan-measured 42 exchanges without them), which
    the audit will correctly flag."""
    from pyspark.sql import Window

    docs = load(spark, sf, "documents", spread=True).to_df()
    aug = docs.select(
        "doc_id", "lang", "source", "text", _synth_url_col().alias("url")
    )
    canon = aug.select(
        "*",
        text.canonical_url(F.col("url")).alias("canon_url"),
        # no-op coalesce: keeps IsNotNull(domain) join inference from
        # pushing the url_host chain into scans (the semdedup lesson)
        F.coalesce(text.url_host(F.col("url")), F.lit("")).alias("domain"),
    )
    w = Window.partitionBy("canon_url").orderBy("doc_id")
    # surv is the OTHER fork point (feeds the strip/boilerplate branch
    # AND the final join) — checkpoint it too (r12 review: rb's
    # checkpoint alone left the corpus scan + canon window running
    # twice, once into the checkpoint and once live for the join)
    surv = pin(
        canon.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__"),
        eager=True,
    )
    cleaned = surv.select(
        "doc_id", "canon_url", "domain",
        text.strip_markup(_synth_html_col()).alias("clean"),
    )
    # pinned (the daily_ingest/pagerank pattern): rb feeds FOUR
    # consumers (LM pair stream, its distinct-word side, the gopher
    # projection, the final join) — uncheckpointed, lineage re-derives
    # the 6-exchange boilerplate subtree per consumer (plan-measured:
    # 42 exchanges vs 7 after the cut). A production ingest pipeline
    # materializes exactly this stage boundary.
    rb = pin(dedup.domain_boilerplate_removal(
        cleaned, text_col="clean", domain_col="domain", id_col="doc_id",
        min_domain_docs=3,
    ), eager=True)
    toksd = rb.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("rebuilt"))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word"),
    )
    pairs = toksd.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    seg = text.unigram_viterbi_segment(
        pairs.select("word").distinct(),
        _UNIGRAM_LP_E6,
        max_piece_len=_UNIGRAM_L,
        max_word_len=_UNIGRAM_W,
        missing_lp_e6=_UNIGRAM_MISSING_E6,
    ).select("word", "n_pieces", "score_e6")
    per_doc = (
        pairs.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("n_pieces")).alias("n_pieces"),
            F.sum(F.col("c") * F.col("score_e6")).alias("score_e6"),
        )
    )
    lm = per_doc.select(
        "doc_id", "n_words",
        text.lm_bits_per_piece_e6(F.col("score_e6"), F.col("n_pieces")).alias("bits"),
    )
    gop = rb.select(
        "doc_id",
        text.gopher_keep(
            F.col("rebuilt"),
            min_words=_CCNET_MIN_WORDS,
            min_stop_hits=_CCNET_MIN_STOP_HITS,
        ).alias("gopher_keep"),
    )
    b = F.col("bits")
    return (
        surv.select("doc_id", "canon_url")
        .join(rb, "doc_id")
        .join(lm, "doc_id", "left")
        .join(gop, "doc_id")
        .select(
            "doc_id", "canon_url", "domain", "n_raw", "n_removed",
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            b.alias("bits_per_piece_e6"),
            F.when(b.isNull(), F.lit(None).cast("string"))
            .when(b <= _CCNET_HEAD_BITS_E6, F.lit("head"))
            .when(b <= _CCNET_TAIL_BITS_E6, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("lm_bucket"),
            "gopher_keep",
            (
                F.coalesce(b <= _CCNET_TAIL_BITS_E6, F.lit(False))
                & F.col("gopher_keep")
            ).alias("keep"),
        )
    )


#: ccnet_pipeline_docs oracle: every fragment is the SAME shared
#: constant its stage-entry oracle uses (_URL_SYNTH_CTE /
#: _URL_CANON_CTES / _HTML_SYNTH_EXPR / _STRIP_CHAIN_CTES / the
#: generated unigram DP) — composition cannot drift from the stages.
CCNET_SQL = (
    "WITH " + _URL_SYNTH_CTE + ",\n" + _URL_CANON_CTES
    + ",\nsurv AS (SELECT doc_id, canon_url, host AS domain FROM "
    "(SELECT doc_id, canon_url, host, ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn FROM canon) WHERE rn = 1),\n"
    "aug AS (\n  SELECT doc_id,\n         "
    + _HTML_SYNTH_EXPR
    + " AS html\n  FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)\n), "
    + _STRIP_CHAIN_CTES
    + r""",
cl AS (
  SELECT s.doc_id, s.domain, t.c1 AS clean FROM surv s JOIN trimmed t USING (doc_id)
), lines AS (
  SELECT t.doc_id, t.domain, s.i AS pos, t.l[s.i] AS line
  FROM (SELECT doc_id, domain, STRING_SPLIT(clean, chr(10)) AS l FROM cl) t,
       UNNEST(generate_series(1, len(t.l))) s(i)
), freq AS (
  SELECT domain, line, COUNT(DISTINCT doc_id) AS nld FROM lines GROUP BY 1, 2
), domd AS (
  SELECT domain, COUNT(DISTINCT doc_id) AS ndd FROM lines GROUP BY 1
), keptl AS (
  SELECT l.* FROM lines l JOIN freq f USING (domain, line) JOIN domd d USING (domain)
  WHERE 2 * f.nld <= d.ndd OR d.ndd < 3
), rawc AS (
  SELECT doc_id, MIN(domain) AS domain, COUNT(*) AS n_raw FROM lines GROUP BY 1
), keptg AS (
  SELECT doc_id, COUNT(*) AS n_kept, STRING_AGG(line, chr(10) ORDER BY pos) AS rebuilt
  FROM keptl GROUP BY 1
), rb AS (
  SELECT r.doc_id, r.domain, r.n_raw,
         (r.n_raw - COALESCE(k.n_kept, 0))::BIGINT AS n_removed,
         COALESCE(k.rebuilt, '') AS rebuilt
  FROM rawc r LEFT JOIN keptg k USING (doc_id)
), lm_src AS (SELECT doc_id, rebuilt AS text FROM rb),
"""
    + _unigram_sql(src="lm_src", lead="")
    + f""", per_doc AS (
  SELECT p.doc_id, SUM(p.c)::BIGINT AS n_words,
         SUM(p.c * s.n_pieces)::BIGINT AS n_pieces,
         SUM(p.c * s.score_e6)::BIGINT AS score_e6
  FROM pairs p JOIN seg s USING (word) GROUP BY p.doc_id
), lm AS (
  SELECT doc_id, n_words, CASE WHEN n_pieces > 0 THEN
    CAST(FLOOR(-score_e6::DOUBLE / n_pieces::DOUBLE / {_LN2!r} + 0.5) AS BIGINT)
  END AS bits FROM per_doc
), gt AS (
  SELECT doc_id, rebuilt,
         CASE WHEN LENGTH(TRIM(rebuilt)) = 0 THEN 0
              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(rebuilt), '\\s+')) END AS n_words,
         REGEXP_SPLIT_TO_ARRAY(TRIM(rebuilt), '\\s+') AS toks2,
         REGEXP_SPLIT_TO_ARRAY(rebuilt, '\\n') AS lines2
  FROM rb
), gop AS (
  SELECT doc_id,
         (n_words BETWEEN {_CCNET_MIN_WORDS} AND 100000)
         AND (CASE WHEN n_words = 0 THEN NULL ELSE FLOOR((LENGTH(REGEXP_REPLACE(rebuilt, '\\s', '', 'g'))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END BETWEEN 3 AND 10)
         AND (CASE WHEN n_words = 0 THEN NULL ELSE FLOOR((LEN(REGEXP_EXTRACT_ALL(rebuilt, '#|\\.\\.\\.'))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END < 0.1)
         AND (CASE WHEN LEN(lines2) = 0 THEN NULL ELSE FLOOR((LEN(LIST_FILTER(lines2, x -> REGEXP_MATCHES(x, '^\\s*[-*•]')))::DOUBLE / LEN(lines2)) * 1000000 + 0.5) / 1000000 END < 0.9)
         AND (CASE WHEN LEN(lines2) = 0 THEN NULL ELSE FLOOR((LEN(LIST_FILTER(lines2, x -> REGEXP_MATCHES(x, '\\.\\.\\.\\s*$')))::DOUBLE / LEN(lines2)) * 1000000 + 0.5) / 1000000 END < 0.3)
         AND (CASE WHEN n_words = 0 THEN NULL ELSE FLOOR((LEN(LIST_FILTER(toks2, x -> REGEXP_MATCHES(x, '[A-Za-z]')))::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 END > 0.8)
         AND (LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(rebuilt)), '\\s+'),
                                 ['the','be','to','of','and','that','have','with'])) >= {_CCNET_MIN_STOP_HITS}) AS gopher_keep
  FROM gt
)
SELECT s.doc_id, s.canon_url, r.domain, r.n_raw, r.n_removed,
       COALESCE(l.n_words, 0) AS n_words,
       l.bits AS bits_per_piece_e6,
       CASE WHEN l.bits IS NULL THEN NULL
            WHEN l.bits <= {_CCNET_HEAD_BITS_E6} THEN 'head'
            WHEN l.bits <= {_CCNET_TAIL_BITS_E6} THEN 'middle'
            ELSE 'tail' END AS lm_bucket,
       g.gopher_keep,
       (COALESCE(l.bits <= {_CCNET_TAIL_BITS_E6}, FALSE) AND g.gopher_keep) AS keep
FROM surv s JOIN rb r USING (doc_id) LEFT JOIN lm l USING (doc_id) JOIN gop g USING (doc_id)
"""
)


#: Stupid-backoff constants (Brants et al. 2007): the fixed backoff
#: penalty ln(0.4) as a Python-computed double literal (det_ln
#: discipline), and the OOV margin. The OOV floor is DERIVED from the
#: train-token total — floor = e6(ln(0.4) − ln(T)) − margin, one nat
#: below the rarest possible singleton's backoff score — because a
#: CONSTANT floor inverts the ordering at scale (r12 review: a
#: once-seen w2 scores ln(0.4) − ln(T), which drops below any fixed
#: constant once T exceeds e^(|const| − 0.92) train tokens — at −20
#: nats that is ~1.9e8 tokens, far under web scale — and then
#: never-seen words would outscore legitimately rare ones).
_SB_LN04 = math.log(0.4)
_SB_OOV_MARGIN_E6 = 1_000_000


def bigram_backoff_logprob_docs(spark, sf):
    """Held-out bigram LM scoring with STUPID BACKOFF (Brants et al.
    2007 — the web-scale LM scheme: no discounting, score(w2|w1) =
    c(w1w2)/c(w1) when seen, else 0.4·c(w2)/T) — the n-gram upgrade of
    perplexity_filter_docs' unigram signal and the log-domain upgrade
    of bigram_familiarity. The LM trains on the md5-bucket 80% split
    (assign_split's content-keyed convention) and scores ALL docs, so
    held-out docs genuinely exercise the backoff and OOV paths instead
    of self-scoring (a corpus scored against itself contains every one
    of its own bigrams — the backoff branch would be dead code).

    Per doc: n_bigrams, logprob_e6 (exact BIGINT sum of per-bigram
    floor((det_ln ratio)·1e6 + 0.5) scores — integer once, summed
    exactly), bits_per_bigram_e6, held_out. Docs with fewer than two
    tokens have no bigrams and drop out (no score ≠ score of zero).

    Scale shape: two vocabulary-sized train-count aggregates (bigram,
    unigram — map-side partials over the gram/word streams) joined
    back onto the per-doc gram stream (AQE broadcasts them while they
    fit, shuffles when a 100M-type web vocabulary would not), ONE
    1-row total-tokens broadcast (allowlisted scalar crossJoin), one
    final doc aggregate. det_ln is computed ON THE COUNT TABLES
    (per gram/word TYPE), never on the occurrence stream — at corpus
    scale that is the difference between V ln-evaluations and N, and
    locally it is what keeps the scoring projection inside janino's
    method limits (a per-occurrence 3-chain det_ln projection
    measurably failed whole-stage codegen compile and fell back to
    interpreted). The md5 split expression appears in the train
    filters AND the held_out projection — the sample_splits_docs
    ALLOWED_DUP_EXPR class: the filter selects by the bucket VALUE, no
    raw-column predicate can replace it."""
    from tada_spark.functions.sampling import hash_bucket
    from tada_spark.plans.semantics import det_ln

    docs = load(spark, sf, "documents").to_df().select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sz = F.size(toks)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                sz >= 2,
                F.zip_with(
                    toks,
                    F.slice(toks, 2, F.greatest(sz - 1, F.lit(1))),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            )
        ).alias("g"),
    ).filter(F.col("g").contains(" "))
    words = docs.select("doc_id", F.explode(toks).alias("w")).filter(F.col("w") != "")
    train = hash_bucket(F.col("doc_id"), 100) < 80
    big_t = (
        grams.filter(train)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cb"))
        .select("g", det_ln(F.col("cb").cast("double")).alias("lnb"))
    )
    uni_t = (
        words.filter(train)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        .select("w", det_ln(F.col("cu").cast("double")).alias("lnu"))
    )
    tot_t = (
        words.filter(train)
        .agg(F.count(F.lit(1)).alias("t"))
        .select(det_ln(F.col("t").cast("double")).alias("lnt"))
    )
    j = (
        grams.withColumn("w1", F.substring_index(F.col("g"), " ", 1))
        .withColumn("w2", F.substring_index(F.col("g"), " ", -1))
        .join(big_t, "g", "left")
        .join(uni_t.withColumnRenamed("w", "w1").withColumnRenamed("lnu", "ln1"), "w1", "left")
        .join(uni_t.withColumnRenamed("w", "w2").withColumnRenamed("lnu", "ln2"), "w2", "left")
        .crossJoin(F.broadcast(tot_t))
    )
    e6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    score = (
        F.when(
            F.col("lnb").isNotNull() & F.col("ln1").isNotNull(),
            e6(F.col("lnb") - F.col("ln1")),
        )
        .when(
            F.col("ln2").isNotNull(),
            e6(F.lit(_SB_LN04) + F.col("ln2") - F.col("lnt")),
        )
        # OOV floor derived from ln(T): one margin-nat below the rarest
        # singleton's backoff score at ANY corpus size (see _SB_LN04)
        .otherwise(e6(F.lit(_SB_LN04) - F.col("lnt")) - F.lit(_SB_OOV_MARGIN_E6))
    )
    per_doc = j.select("doc_id", score.alias("s")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("s").alias("logprob_e6")
    )
    bits = text.lm_bits_per_piece_e6(F.col("logprob_e6"), F.col("n_bigrams"))
    return per_doc.select(
        "*",
        bits.alias("bits_per_bigram_e6"),
        (~(hash_bucket(F.col("doc_id"), 100) < 80)).alias("held_out"),
    )


BIGRAM_BACKOFF_SQL = f"""
WITH tk AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS t FROM documents
), g AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM tk, UNNEST(generate_series(1, len(t) - 1)) u(i)
  WHERE len(t) >= 2
), gb AS (
  SELECT doc_id, g, ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 AS bucket FROM g
), w AS (
  SELECT doc_id, f.x AS w,
         ('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 AS bucket
  FROM (SELECT doc_id, LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'), x -> x != '') AS l
        FROM documents) t, UNNEST(l) f(x)
), big0 AS (SELECT g, COUNT(*)::BIGINT AS cb FROM gb WHERE bucket < 80 GROUP BY 1),
uni0 AS (SELECT w, COUNT(*)::BIGINT AS cu FROM w WHERE bucket < 80 GROUP BY 1),
tot0 AS (SELECT COUNT(*)::BIGINT AS t FROM w WHERE bucket < 80),
{_det_ln_ctes("CAST(cb AS DOUBLE)", "big0", "g", "lnb", "__a")},
{_det_ln_ctes("CAST(cu AS DOUBLE)", "uni0", "w", "lnu", "__b")},
{_det_ln_ctes("CAST(t AS DOUBLE)", "tot0", "t", "lnt", "__c")},
base AS (
  SELECT gb.doc_id, b.lnb, u1.lnu AS ln1, u2.lnu AS ln2, (SELECT lnt FROM __cn) AS lnt
  FROM gb
  LEFT JOIN __an b USING (g)
  LEFT JOIN __bn u1 ON u1.w = SPLIT_PART(gb.g, ' ', 1)
  LEFT JOIN __bn u2 ON u2.w = SPLIT_PART(gb.g, ' ', 2)
), scored AS (
  SELECT doc_id,
         CASE WHEN lnb IS NOT NULL AND ln1 IS NOT NULL
                THEN CAST(FLOOR((lnb - ln1) * 1000000 + 0.5) AS BIGINT)
              WHEN ln2 IS NOT NULL
                THEN CAST(FLOOR(({_SB_LN04!r} + ln2 - lnt) * 1000000 + 0.5) AS BIGINT)
              ELSE CAST(FLOOR(({_SB_LN04!r} - lnt) * 1000000 + 0.5) AS BIGINT) - {_SB_OOV_MARGIN_E6} END AS s
  FROM base
), per_doc AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, SUM(s)::BIGINT AS logprob_e6
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, logprob_e6,
       CASE WHEN n_bigrams > 0 THEN
         CAST(FLOOR(-logprob_e6::DOUBLE / n_bigrams::DOUBLE / {_LN2!r} + 0.5) AS BIGINT)
       END AS bits_per_bigram_e6,
       NOT (('0x' || md5(doc_id::VARCHAR)[1:8])::BIGINT % 100 < 80) AS held_out
FROM per_doc
"""


def bpe_apply_words(spark, sf):
    """BPE tokenizer APPLY (functions/text.bpe_apply — Sennrich 2016 /
    GPT-2 scheme) over the DISTINCT corpus vocabulary: chars → the
    fixed merge table in rank order, all occurrences per rank. The
    apply-side twin of bpe_merge_candidates (train), closing the BPE
    family next to WordPiece (greedy_segment_stats) and unigram
    (unigram_viterbi_segment). Scale shape: ONE word-keyed aggregate
    builds the Zipf vocabulary; the merge chain is a bounded
    constant-literal REPLACE projection (codegen'd, no UDF); applying
    back to a token stream is a broadcast join (the unigram_apply
    contract). Oracle: the same chain RENDERED from the same merge
    constant (_strip_markup_sql_expr discipline)."""
    docs = load(spark, sf, "documents").to_df()
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word")
    )
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occ"))
    ap = words.select("word", "n_occ", text.bpe_apply(F.col("word")).alias("arr"))
    return ap.select(
        "word",
        "n_occ",
        F.array_join(F.col("arr"), "|").alias("pieces"),
        F.size(F.col("arr")).cast("long").alias("n_pieces"),
    )


def _bpe_apply_sql_expr(var: str = "word") -> str:
    """DuckDB expression equal to text.bpe_apply(var) BEFORE the final
    split — the 2-space-delimited piece string, rendered from the same
    constants (see bpe_apply's delimiter-design docstring: one REPLACE
    pass per rank is exact, self-pairs included)."""
    e = f"'  ' || REGEXP_REPLACE({var}, '(.)', '\\1  ', 'g')"
    for left, right in text.BPE_MERGES:
        e = f"REPLACE({e}, ' {left}  {right} ', ' {left}{right} ')"
    return e


BPE_APPLY_SQL = rf"""
WITH toks AS (SELECT f.w AS word FROM (SELECT list_filter(
    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS tkl
  FROM documents) t, UNNEST(tkl) AS f(w)),
words AS (SELECT word, COUNT(*)::BIGINT AS n_occ FROM toks GROUP BY 1),
ap AS (SELECT word, n_occ,
              STRING_SPLIT(TRIM({_bpe_apply_sql_expr("word")}), '  ') AS arr
       FROM words)
SELECT word, n_occ, ARRAY_TO_STRING(arr, '|') AS pieces, LEN(arr)::BIGINT AS n_pieces
FROM ap
"""


def unigram_train_step(spark, sf):
    """Unigram-LM EM TRAINING step (Kudo 2018 §3.2) — the train-side
    twin of the r11 Viterbi apply, completing the tokenizer family's
    train/apply loop (BPE trains via bpe_merge_candidates, WordPiece
    applies via greedy_segment_stats, unigram now does both): E-step
    Viterbi-segments the corpus under the CURRENT piece probabilities
    (unigram_viterbi_segment over DISTINCT words, occurrence-weighted —
    Zipf makes this the only tractable shape at corpus scale); M-step
    re-estimates each piece's log-prob from its usage share. Emits per
    piece: n_uses (occurrence-weighted count), new_lp_e6 (the
    re-estimated integer log-prob, det_ln(n_uses) − det_ln(total) —
    the transcendental-free cross-engine ln), old_lp_e6 (NULL for
    out-of-vocab fallback pieces — candidate additions), delta_e6.

    Scale shape: words aggregate (1 token-volume shuffle) → Viterbi
    projection over distinct words → piece explode + piece aggregate
    (1 small shuffle) → 1-row total broadcast (the documented scalar
    crossJoin). Words longer than max_word_len segment to NULL and are
    EXCLUDED from the counts (flagged upstream, not silently
    truncated). det_ln's domain needs total·1e6 < 2^53 — shard the
    M-step count aggregation per corpus partition beyond ~10^9 total
    piece uses and combine counts before the ln."""
    from tada_spark.plans.semantics import det_ln

    docs = load(spark, sf, "documents").to_df()
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word")
    )
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occ"))
    seg = text.unigram_viterbi_segment(
        words,
        _UNIGRAM_LP_E6,
        max_piece_len=_UNIGRAM_L,
        max_word_len=_UNIGRAM_W,
        missing_lp_e6=_UNIGRAM_MISSING_E6,
    )
    # explode_outer + generated-column filter (the sentence_chunks
    # pattern): a plain explode would push isnotnull(<viterbi fold>)
    # into the scan and run the whole DP twice per row (DUP_EXPR)
    pieces = (
        seg.select(
            F.explode_outer(F.split(F.col("pieces"), r"\|")).alias("piece"), "n_occ"
        )
        .filter(F.col("piece").isNotNull())
    )
    pc = pieces.groupBy("piece").agg(F.sum("n_occ").alias("n_uses"))
    tot = pc.agg(F.sum("n_uses").alias("t"))
    lpmap = F.create_map(
        *[x for p, lp in sorted(_UNIGRAM_LP_E6.items()) for x in (F.lit(p), F.lit(int(lp)))]
    )
    scored = pc.crossJoin(F.broadcast(tot)).select(
        "piece",
        "n_uses",
        F.floor(
            (det_ln(F.col("n_uses").cast("double")) - det_ln(F.col("t").cast("double")))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("new_lp_e6"),
        F.element_at(lpmap, F.col("piece")).cast("long").alias("old_lp_e6"),
    )
    return scored.select(
        "*", (F.col("new_lp_e6") - F.col("old_lp_e6")).alias("delta_e6")
    )


UNIGRAM_TRAIN_SQL = (
    _unigram_sql()
    + f""", pc AS (
  SELECT u.p AS piece, SUM(s.n_occ)::BIGINT AS n_uses
  FROM seg s, UNNEST(STRING_SPLIT(s.pieces, '|')) u(p)
  WHERE s.pieces IS NOT NULL GROUP BY 1
), base AS (
  SELECT piece, n_uses, (SELECT SUM(n_uses)::DOUBLE FROM pc) AS t FROM pc
), {_det_ln_ctes("CAST(n_uses AS DOUBLE)", "base", "piece, n_uses, t", "lnc", "__a")},
{_det_ln_ctes("t", "__an", "piece, n_uses, lnc", "lnt", "__b")}
SELECT b.piece, b.n_uses,
       CAST(FLOOR((b.lnc - b.lnt) * 1000000 + 0.5) AS BIGINT) AS new_lp_e6,
       v.lp::BIGINT AS old_lp_e6,
       (CAST(FLOOR((b.lnc - b.lnt) * 1000000 + 0.5) AS BIGINT) - v.lp)::BIGINT AS delta_e6
FROM __bn b LEFT JOIN vocab v ON v.piece = b.piece
"""
)


#: Fixed bits-per-piece cuts (×1e6) for the CCNet-style head/middle/
#: tail split — chosen as the sf0.001 corpus tertiles (observed range
#: 5.84M–6.44M) and PINNED as constants: a quantile-derived cut would
#: need a global sort or a collected percentile at 100 TB, while a
#: fixed threshold keeps the filter a pure projection (the
#: gopher_keep discipline). CCNet derives its cuts the same way — once,
#: offline, per language — then applies them as constants.
_PPL_HEAD_BITS_E6 = 6_070_000
_PPL_TAIL_BITS_E6 = 6_135_000


def perplexity_filter_docs(spark, sf):
    """Document-level LM quality scoring — the CCNet wellformedness
    stage (Wenzek et al. 2020 §3.3: score each doc with a LM, keep the
    low-perplexity head/middle), completing the repo's strip →
    url-dedup → boilerplate → LM-quality → gopher ingest chain. Emits
    per doc the exact-integer corpus log-prob (score_e6), piece count,
    bits-per-piece ×1e6 (functions/text.lm_bits_per_piece_e6 — log2
    perplexity, same ordering as perplexity with no exp() for engines
    to disagree on), the head/middle/tail bucket at the pinned tertile
    cuts, and keep = NOT tail.

    Scale shape: identical to unigram_apply_docs (proven 3 exchanges) —
    the Viterbi DP runs over DISTINCT words only (Zipf), broadcasts
    back onto the (doc, word, count) pair stream, and the per-doc
    aggregate is the only token-volume shuffle; the bucket/keep split
    is a pure projection on the aggregate output (no quantile pass —
    the cuts are constants, see _PPL_HEAD_BITS_E6)."""
    docs = load(spark, sf, "documents").to_df()
    toksd = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        ).alias("word"),
    )
    pairs = toksd.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    seg = text.unigram_viterbi_segment(
        pairs.select("word").distinct(),
        _UNIGRAM_LP_E6,
        max_piece_len=_UNIGRAM_L,
        max_word_len=_UNIGRAM_W,
        missing_lp_e6=_UNIGRAM_MISSING_E6,
    ).select("word", "n_pieces", "score_e6")
    per_doc = (
        pairs.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("n_pieces")).alias("n_pieces"),
            F.sum(F.col("c") * F.col("score_e6")).alias("score_e6"),
        )
    )
    bits = text.lm_bits_per_piece_e6(F.col("score_e6"), F.col("n_pieces"))
    scored = per_doc.select("*", bits.alias("bits_per_piece_e6"))
    b = F.col("bits_per_piece_e6")
    return scored.select(
        "*",
        F.when(b.isNull(), F.lit(None).cast("string"))
        .when(b <= _PPL_HEAD_BITS_E6, F.lit("head"))
        .when(b <= _PPL_TAIL_BITS_E6, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        (b <= _PPL_TAIL_BITS_E6).alias("keep"),
    )


PERPLEXITY_FILTER_SQL = (
    _unigram_sql()
    + f"""
, per_doc AS (
  SELECT p.doc_id, SUM(p.c)::BIGINT AS n_words,
         SUM(p.c * s.n_pieces)::BIGINT AS n_pieces,
         SUM(p.c * s.score_e6)::BIGINT AS score_e6
  FROM pairs p JOIN seg s USING (word) GROUP BY p.doc_id
), scored AS (
  SELECT *, CASE WHEN n_pieces > 0 THEN
    -- log-of-2 embedded as the PYTHON-computed double literal (the
    -- det_ln discipline): both engines divide the identical bit pattern
    CAST(FLOOR(-score_e6::DOUBLE / n_pieces::DOUBLE / {_LN2!r} + 0.5) AS BIGINT)
  END AS bits_per_piece_e6
  FROM per_doc
)
SELECT doc_id, n_words, n_pieces, score_e6, bits_per_piece_e6,
       CASE WHEN bits_per_piece_e6 IS NULL THEN NULL
            WHEN bits_per_piece_e6 <= {_PPL_HEAD_BITS_E6} THEN 'head'
            WHEN bits_per_piece_e6 <= {_PPL_TAIL_BITS_E6} THEN 'middle'
            ELSE 'tail' END AS bucket,
       bits_per_piece_e6 <= {_PPL_TAIL_BITS_E6} AS keep
FROM scored"""
)


#: Gopher repetition-removal thresholds (Rae et al. 2021, Table A1):
#: top-n-gram FRACTION caps for n=2..4, duplicate-n-gram CHARACTER
#: fraction caps for n=5..10. A doc exceeding ANY cap is removed.
_GOPHER_REP_THR: dict[int, float] = {
    2: 0.20, 3: 0.18, 4: 0.16,
    5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
}


def gopher_repetition_docs(spark, sf):
    """The FULL Gopher §A1.1 n-gram repetition battery (Rae et al.
    2021; the filter set Dolma / RefinedWeb / NeMo-Curator reimplement):
    per document, top-n-gram CHARACTER fraction for n=2..4 — the
    paper's measure: characters across all occurrences of the single
    most frequent n-gram over the document's (whitespace-normalized)
    characters, scored 0 when the top gram occurs once (a singleton is
    not repetition — the NeMo-Curator convention; without that gate
    every two-word doc's lone bigram scores 1.0 and trips the cap).
    Ties on the count break deterministically to the LONGEST gram
    (MAX over the packed long c*2^31+len — numeric order IS the
    lexicographic (count, length) order, and a plain long max stays a
    codegen'd HashAggregate where a struct max would demote the
    battery's biggest aggregate to a SortAggregate); grams tying on
    BOTH count and length give the same c*len numerator, so the pick
    beyond that is value-irrelevant.
    Overlapping self-occurrences ("a a a...") multi-count characters,
    exactly as count*len does in every public reimplementation, so the
    fraction can exceed 1 — decision-irrelevant, caps are <= 0.20.
    For n=5..10, duplicate-n-gram character fraction (characters across
    ALL occurrences of grams seen >= 2 times, over characters across
    all gram occurrences — the standard no-overlap-accounting
    approximation; its ~n× numerator multi-count of a duplicated span
    and its ~n× denominator inflation vs raw document characters cancel,
    which is what keeps the paper's caps calibrated under it), plus the
    composite ``repetition_keep`` flag (a doc too short to have n-grams
    at some n passes that n's cap — absence of evidence). Completes
    repetition_ngram_stats (the n=2 half, which keeps its own documented
    occurrence-fraction column);
    the line/paragraph duplicate half of A1.1 is the cross-document
    paragraph_dedup_docs signal restricted per-doc, degenerate on the
    single-line synthetic corpus and deliberately out of scope here.
    Docs with fewer than 2 tokens have no grams and drop out (no score
    != a perfect score), the bigram_backoff convention.

    Scale shape: ONE scan; a single 10-way arrays_zip of shifted token
    slices whose null-padded tails mark gram completeness; TWO chained
    explodes (positions, then the 9 (n, gram) structs per position —
    both codegen'd Generate nodes, no lambda, no UDF) feeding a
    (doc, n, gram) hash-aggregate whose map-side partials compress the
    9x-token stream before its one shuffle; then two bounded
    aggregates ((doc, n) -> doc). At 100 TB the 9x explode IS the
    workload floor for this battery — every public implementation
    streams the same volume — and the gram strings never leave the
    first aggregate's partial-combine."""
    docs = load(spark, sf, "documents", spread=True).to_df().select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sz = F.size(toks)
    parts = [toks] + [
        F.slice(toks, i + 1, F.greatest(sz - i, F.lit(0))) for i in range(1, 10)
    ]
    zipped = F.arrays_zip(*parts)
    # doc_chars rides the explode as a per-row long (functionally
    # dependent on doc_id, so adding it to the group keys is free);
    # concat_ws(" ", split(trim(text))) IS the replay's " ".join(t)
    pos = docs.select(
        "doc_id",
        F.length(F.concat_ws(" ", toks)).alias("doc_chars"),
        F.explode(zipped).alias("z"),
    )
    # gram of size n starting here is COMPLETE iff token n-1 exists
    # (zip tails are null-padded); concat_ws would silently skip nulls,
    # so completeness must gate, not the join
    per_pos = pos.select(
        "doc_id",
        "doc_chars",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("n"),
                        F.when(
                            F.col("z")[str(n - 1)].isNotNull(),
                            F.concat_ws(
                                " ", *[F.col("z")[str(i)] for i in range(n)]
                            ),
                        ).alias("g"),
                    )
                    for n in range(2, 11)
                ]
            )
        ).alias("s"),
    )
    grams = per_pos.filter(F.col("s.g").isNotNull()).select(
        "doc_id", "doc_chars", F.col("s.n").alias("n"), F.col("s.g").alias("g")
    )
    per_gram = grams.groupBy("doc_id", "doc_chars", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    # (count, length) tie-break packed into ONE long — c*2^31 + l orders
    # exactly like the lexicographic struct (0 <= l < 2^31 always: Spark
    # strings cap at 2^31 chars, and c <= token positions < 2^31 keeps
    # the product under 2^62, no overflow even under ANSI). A struct MAX
    # here is NOT equivalent in cost: structs aren't mutable aggregation
    # buffer types, so max(struct) demotes this — the battery's biggest
    # aggregate, the full distinct-gram stream — from a codegen'd
    # HashAggregate to a SortAggregate (measured: the 100x replica run
    # went from ~12 min to >25 min before this was caught).
    per_n = per_gram.groupBy("doc_id", "doc_chars", "n").agg(
        F.max(
            F.col("c") * F.lit(2147483648) + F.length("g").cast("long")
        ).alias("top_key"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(F.lit(0))
        ).alias("dup_chars"),
        F.sum(F.col("c") * F.length("g")).alias("all_chars"),
    )
    top_c = F.shiftright(F.col("top_key"), 31)
    top_l = F.col("top_key").bitwiseAND(F.lit(2147483647))
    fr = per_n.select(
        "doc_id",
        "n",
        F.when(top_c >= 2, (top_c * top_l) / F.col("doc_chars"))
        .otherwise(F.lit(0.0))
        .alias("top_frac"),
        (F.col("dup_chars") / F.col("all_chars")).alias("dup_frac"),
    )
    frac_cols = [
        _round_det(F.max(F.when(F.col("n") == n, F.col("top_frac"))), 6).alias(
            f"top_{n}gram_frac"
        )
        for n in (2, 3, 4)
    ] + [
        _round_det(F.max(F.when(F.col("n") == n, F.col("dup_frac"))), 6).alias(
            f"dup_{n}gram_char_frac"
        )
        for n in range(5, 11)
    ]
    wide = fr.groupBy("doc_id").agg(*frac_cols)
    keep = None
    for n in (2, 3, 4):
        c = F.coalesce(
            F.col(f"top_{n}gram_frac") <= F.lit(_GOPHER_REP_THR[n]), F.lit(True)
        )
        keep = c if keep is None else keep & c
    for n in range(5, 11):
        c = F.coalesce(
            F.col(f"dup_{n}gram_char_frac") <= F.lit(_GOPHER_REP_THR[n]), F.lit(True)
        )
        keep = keep & c
    return wide.select("*", keep.alias("repetition_keep"))


GOPHER_REPETITION_SQL = f"""
WITH toks0 AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS t FROM documents
), toks AS (
  SELECT doc_id, t, LENGTH(ARRAY_TO_STRING(t, ' '))::BIGINT AS doc_chars FROM toks0
), grams AS (
  SELECT doc_id, doc_chars, nn.n AS n, ARRAY_TO_STRING(t[s.i:s.i+nn.n-1], ' ') AS g
  FROM toks,
       UNNEST([2,3,4,5,6,7,8,9,10]) AS nn(n),
       UNNEST(generate_series(1, len(t) - nn.n + 1)) AS s(i)
  WHERE len(t) >= nn.n
), per_gram AS (
  SELECT doc_id, doc_chars, n, g, COUNT(*)::BIGINT AS c FROM grams GROUP BY 1, 2, 3, 4
), per_n AS (
  SELECT doc_id, doc_chars, n,
         MAX(c * 2147483648 + LENGTH(g)) AS top_key,
         SUM(CASE WHEN c >= 2 THEN c * LENGTH(g) ELSE 0 END)::BIGINT AS dup_chars,
         SUM(c * LENGTH(g))::BIGINT AS all_chars
  FROM per_gram GROUP BY 1, 2, 3
), fr AS (
  SELECT doc_id, n,
         CASE WHEN top_key // 2147483648 >= 2
              THEN ((top_key // 2147483648) * (top_key % 2147483648))::DOUBLE / doc_chars
              ELSE 0.0 END AS top_frac,
         dup_chars::DOUBLE / all_chars AS dup_frac
  FROM per_n
), wide AS (
  SELECT doc_id,
{",".join(
    f"         FLOOR(MAX(CASE WHEN n = {n} THEN top_frac END) * 1000000 + 0.5) / 1000000 AS top_{n}gram_frac"
    for n in (2, 3, 4)
)},
{",".join(
    f"         FLOOR(MAX(CASE WHEN n = {n} THEN dup_frac END) * 1000000 + 0.5) / 1000000 AS dup_{n}gram_char_frac"
    for n in range(5, 11)
)}
  FROM fr GROUP BY doc_id
)
SELECT *,
       ({" AND ".join(
           [f"COALESCE(top_{n}gram_frac <= {_GOPHER_REP_THR[n]}, TRUE)" for n in (2, 3, 4)]
           + [f"COALESCE(dup_{n}gram_char_frac <= {_GOPHER_REP_THR[n]}, TRUE)" for n in range(5, 11)]
       )}) AS repetition_keep
FROM wide
"""


CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # -- flagship TPC-H-style (joins, reducers, top-k) --
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_revenue_orders": (q3_top_revenue_orders, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "q4_order_priority": (q4_order_priority, Q4_SQL),
    "q7_nation_volume": (q7_nation_volume, Q7_SQL),
    "q10_returned_customers": (q10_returned_customers, Q10_SQL),
    "q12_shipmode_priority": (q12_shipmode_priority, Q12_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q13_customer_distribution": (q13_customer_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q22_inactive_customers": (q22_inactive_customers, Q22_SQL),
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q9_product_profit": (q9_product_profit, Q9_SQL),
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "q16_supplier_counts": (q16_supplier_counts, Q16_SQL),
    "q20_dominant_suppliers": (q20_dominant_suppliers, Q20_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, Q21_SQL),
    # -- corpus prep: paragraph-level exact dedup (CCNet-style) --
    "paragraph_dedup_docs": (paragraph_dedup_docs, PARAGRAPH_DEDUP_SQL),
    # -- corpus-LM familiarity (CCNet quality signal, exact analog) --
    "bigram_familiarity_docs": (bigram_familiarity_docs, BIGRAM_FAMILIARITY_SQL),
    # -- training-batch sequence packing (shard-local) --
    "sequence_pack_docs": (sequence_pack_docs, SEQUENCE_PACK_SQL),
    # -- iterative ML primitive: exact quantized k-means --
    "kmeans_embeddings": (kmeans_embeddings, KMEANS_SQL),
    # -- reference README pipeline + test-harness identity --
    "readme_pipeline_golden": (readme_pipeline_golden, README_PIPELINE_SQL),
    # -- filters / projection --
    "filter_compound": (filter_compound, FILTER_SQL),
    "filter_by_value_canon": (filter_by_value_canon, FILTER_BY_VALUE_SQL),
    "where_price_tier": (where_price_tier, WHERE_SQL),
    "ordered_range_rows": (ordered_range_rows, RANGE_SQL),
    # -- sort / distinct / counts --
    "sort_topk_customers": (sort_topk_customers, SORT_SQL),
    "value_counts_priority": (value_counts_priority, VALUE_COUNTS_SQL),
    "unique_first_appearance": (unique_first_appearance, UNIQUE_FIRST_SQL),
    # -- joins (Frame.lookup also rides q3/q5's fact→dim hops) --
    "merge_dedupe_names": (merge_dedupe_names, MERGE_SQL),
    "semi_anti_partition": (semi_anti_partition, SEMI_ANTI_SQL),
    "asof_last_purchase": (asof_last_purchase, ASOF_SQL),
    "range_join_purchase_clicks": (range_join_purchase_clicks, RANGE_JOIN_SQL),
    # -- set ops --
    "append_union": (append_union, APPEND_SQL),
    "intersect_except_orders": (intersect_except_orders, EXCEPT_SQL),
    # -- group-by / aggregation --
    "agg_frame_and_columns": (agg_frame_and_columns, AGG_FRAME_COLS_SQL),
    "group_reducers_full": (group_reducers_full, GROUP_REDUCERS_SQL),
    "align_having_users": (align_having_users, ALIGN_HAVING_SQL),
    "first_last_nth_per_order": (first_last_nth_per_order, FIRST_LAST_NTH_SQL),
    "pivot_returnflag": (pivot_returnflag, PIVOT_SQL),
    "rollup_status_priority": (rollup_status_priority, ROLLUP_SQL),
    # -- scalar / window transforms --
    "shift_cumsum_events": (shift_cumsum_events, SHIFT_CUMSUM_SQL),
    "rank_percentile_customers": (rank_percentile_customers, RANK_PERCENTILE_SQL),
    "bin_pbin_orders": (bin_pbin_orders, BIN_PBIN_SQL),
    "resample_calendar_revenue": (resample_calendar_revenue, RESAMPLE_CAL_SQL),
    "resample_15min_events": (resample_15min_events, RESAMPLE_DUR_SQL),
    "rolling_n_duration_events": (rolling_n_duration_events, ROLLING_N_DUR_SQL),
    "ffill_user_value": (ffill_user_value, FFILL_SQL),
    "combine_series_ratio": (combine_series_ratio, COMBINE_SQL),
    "cast_multiformat_dates": (cast_multiformat_dates, CAST_DATES_SQL),
    "set_rows_patch": (set_rows_patch, SET_ROWS_SQL),
    "promote_region_level": (promote_region_level, PROMOTE_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    # -- custom UDAF / per-group transform --
    "custom_reduce_weighted_mean": (custom_reduce_weighted_mean, CUSTOM_REDUCE_SQL),
    "custom_apply_zscore": (custom_apply_zscore, CUSTOM_APPLY_SQL),
    # -- text analysis tier --
    "text_stats_quality": (text_stats_quality, TEXT_STATS_QUALITY_SQL),
    "lang_id_vote": (lang_id_vote, LANG_ID_SQL),
    # -- dedup tier --
    "dedup_exact_fingerprint": (dedup_exact_fingerprint, DEDUP_EXACT_SQL),
    "jaccard_near_dups": (jaccard_near_dups, JACCARD_SQL),
    "near_dup_components": (near_dup_components, NEAR_DUP_CC_SQL),
    "decontamination_check": (decontamination_check, DECONTAMINATION_SQL),
    "minhash_candidate_pairs": (minhash_candidate_pairs, None),
    "minhash_oph_pairs": (minhash_oph_pairs, None),
    "minhash_oph_oracle": (minhash_oph_oracle, MINHASH_OPH_ORACLE_SQL),
    "minhash_lsh_oracle": (minhash_lsh_oracle, MINHASH_ORACLE_SQL),
    "simhash_candidates": (simhash_candidates, None),
    # -- similarity tier --
    "ann_topk_exact_ivf": (ann_topk_exact_ivf, ANN_SQL),
    "embed_near_dup_pairs": (embed_near_dup_pairs, NEAR_DUP_SQL),
    # -- skew / sampling / multimodal tiers --
    "salted_group_sum": (salted_group_sum, SALTED_SQL),
    "sample_splits_docs": (sample_splits_docs, SAMPLE_SPLITS_SQL),
    "multimodal_image_features": (multimodal_image_features, MULTIMODAL_SQL),
    "video_frame_sample": (video_frame_sample, VIDEO_SAMPLE_SQL),
    # -- streaming --
    "stream_hourly_totals": (stream_hourly_totals, STREAM_HOURLY_SQL),
    "stream_running_totals_users": (stream_running_totals_users, STREAM_STATE_SQL),
    "stream_session_stats_users": (stream_session_stats_users, STREAM_SESSION_SQL),
    "stream_sliding_hourly": (stream_sliding_hourly, STREAM_SLIDING_SQL),
    "stream_session_windows": (stream_session_windows, STREAM_SESSION_WINDOWS_SQL),
    # ----- entries beyond the driver's 50-query window (local gate) -----
    "lookup_orders_customer": (lookup_orders_customer, LOOKUP_SQL),
    "q6_revenue_delta": (q6_revenue_delta, Q6_SQL),
    "distinct_flag_status": (distinct_flag_status, DISTINCT_SQL),
    "divide_nullsafe": (divide_nullsafe, DIVIDE_SQL),
    "json_extract_props": (json_extract_props, JSON_SQL),
    "cube_flag_status": (cube_flag_status, CUBE_SQL),
    "token_frequency": (token_frequency, TOKEN_FREQ_SQL),
    "moving_avg_trailing": (moving_avg_trailing, MOVING_AVG_SQL),
    "top2_orders_per_customer": (top2_orders_per_customer, TOP2_SQL),
    "multimodal_audio_features": (multimodal_audio_features, MULTIMODAL_AUDIO_SQL),
    "approx_distinct_suppliers": (approx_distinct_suppliers, None),
    "approx_distinct_checked": (approx_distinct_checked, APPROX_DISTINCT_CHECKED_SQL),
    "approx_quantiles_checked": (approx_quantiles_checked, APPROX_QUANTILES_CHECKED_SQL),
    "wav_decode_real": (wav_decode_real, WAV_DECODE_REAL_SQL),
    "png_decode_real": (png_decode_real, PNG_DECODE_REAL_SQL),
    "bucketed_join_orders_customer": (bucketed_join_orders_customer, BUCKETED_JOIN_SQL),
    "duplicate_span_stats_docs": (duplicate_span_stats_docs, DUP_SPAN_SQL),
    "chunk_windows_docs": (chunk_windows_docs, CHUNK_WINDOWS_SQL),
    "key_skew_profile_events": (key_skew_profile_events, SKEW_PROFILE_SQL),
    "domain_mix_weights_langs": (domain_mix_weights_langs, MIX_WEIGHTS_SQL),
    "incremental_dedup_delta": (incremental_dedup_delta, INCR_DEDUP_SQL),
    "domain_cap_docs": (domain_cap_docs, DOMAIN_CAP_SQL),
    "remove_duplicate_spans_docs": (remove_duplicate_spans_docs, REMOVE_SPANS_SQL),
    "curation_report_langs": (curation_report_langs, CURATION_REPORT_SQL),
    # -- retrieval tier (round 5, second batch): index build + BM25 + SQ8 ANN --
    "inverted_index_terms": (inverted_index_terms, INVERTED_INDEX_SQL),
    "bm25_search_docs": (bm25_search_docs, BM25_SQL),
    "sq8_ann_topk": (sq8_ann_topk, SQ8_ANN_SQL),
    # -- curation/ops tier (round 5, third batch) --
    "source_overlap_matrix": (source_overlap_matrix, SOURCE_OVERLAP_SQL),
    "validate_expectations_orders": (validate_expectations_orders, VALIDATE_EXPECT_SQL),
    "temperature_resample_docs": (temperature_resample_docs, TEMPERATURE_RESAMPLE_SQL),
    "stream_trending_types": (stream_trending_types, STREAM_TRENDING_SQL),
    "snapshot_diff_docs": (snapshot_diff_docs, SNAPSHOT_DIFF_SQL),
    "dedup_threshold_sweep_docs": (dedup_threshold_sweep_docs, THRESHOLD_SWEEP_SQL),
    "bpe_merge_docs": (bpe_merge_docs, BPE_MERGE_SQL),
    "embedding_outliers_labels": (embedding_outliers_labels, EMBEDDING_OUTLIERS_SQL),
    "jsonl_pipeline_golden": (jsonl_pipeline_golden, JSONL_PIPELINE_SQL),
    "funnel_conversion_events": (funnel_conversion_events, FUNNEL_SQL),
    "cohort_retention_events": (cohort_retention_events, COHORT_SQL),
    "dense_resample_events": (dense_resample_events, DENSE_RESAMPLE_SQL),
    "cdc_merge_orders": (cdc_merge_orders, CDC_MERGE_SQL),
    "event_transition_matrix": (event_transition_matrix, TRANSITION_SQL),
    "scd2_history_orders": (scd2_history_orders, SCD2_SQL),
    "zorder_layout_orders": (zorder_layout_orders, ZORDER_SQL),
    "daily_ingest_pipeline": (daily_ingest_pipeline, DAILY_INGEST_SQL),
    "fuzzy_join_names": (fuzzy_join_names, FUZZY_JOIN_SQL),
    "robust_outliers_events": (robust_outliers_events, ROBUST_OUTLIERS_SQL),
    "stream_dedup_watermarked": (stream_dedup_watermarked, STREAM_DEDUP_WM_SQL),
    "assoc_rules_events": (assoc_rules_events, ASSOC_RULES_SQL),
    "time_grouping_sets_events": (time_grouping_sets_events, TIME_GROUPING_SETS_SQL),
    "incremental_agg_update": (incremental_agg_update, INCREMENTAL_AGG_SQL),
    "near_dup_triangles": (near_dup_triangles, NEAR_DUP_TRIANGLES_SQL),
    # -- round 6: join pruning, weighted sampling, diversity, graph, trends --
    "bloom_prefilter_join": (bloom_prefilter_join, BLOOM_PREFILTER_SQL),
    "weighted_sample_docs": (weighted_sample_docs, WEIGHTED_SAMPLE_SQL),
    "token_entropy_by_source": (token_entropy_by_source, TOKEN_ENTROPY_SQL),
    "pagerank_near_dup": (pagerank_near_dup, PAGERANK_SQL),
    "ols_trend_priority": (ols_trend_priority, OLS_TREND_SQL),
    "kl_divergence_sources": (kl_divergence_sources, KL_DIVERGENCE_SQL),
    "ab_chi2_events": (ab_chi2_events, AB_CHI2_SQL),
    "corr_value_hour_events": (corr_value_hour_events, CORR_VALUE_HOUR_SQL),
    "image_resize_real": (image_resize_real, IMAGE_RESIZE_SQL),
    "stream_static_enrich": (stream_static_enrich, STREAM_STATIC_ENRICH_SQL),
    "bpe_token_budget": (bpe_token_budget, BPE_SQL),
    "quantiles_price_by_status": (quantiles_price_by_status, QUANTILES_SQL),
    "debounce_events": (debounce_events, DEBOUNCE_SQL),
    "embedding_centroids": (embedding_centroids, CENTROID_SQL),
    "pivot_multi_agg_flag": (pivot_multi_agg_flag, PIVOT_MULTI_SQL),
    "salted_join_events_users": (salted_join_events_users, SALTED_JOIN_SQL),
    "approx_quantiles_sketch": (approx_quantiles_sketch, None),
    "winsorize_value_per_user": (winsorize_value_per_user, WINSORIZE_SQL),
    "ntile_quartile_customers": (ntile_quartile_customers, NTILE_SQL),
    "winnow_shared_fingerprints": (winnow_shared_fingerprints, None),
    "winnow_fingerprints_oracle": (winnow_fingerprints_oracle, WINNOW_ORACLE_SQL),
    "simhash_oracle": (simhash_oracle, SIMHASH_ORACLE_SQL),
    "stream_corpus_prep": (stream_corpus_prep, STREAM_CORPUS_PREP_SQL),
    "gopher_quality_filters": (gopher_quality_filters, GOPHER_SQL),
    "corpus_prep_pipeline": (corpus_prep_pipeline, CORPUS_PREP_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "stream_dedup_fingerprints": (stream_dedup_fingerprints, STREAM_DEDUP_SQL),
    "stream_interval_join_purchases": (stream_interval_join_purchases, STREAM_INTERVAL_JOIN_SQL),
    "pii_scrub_docs": (pii_scrub_docs, PII_SQL),
    "repetition_ngram_stats": (repetition_ngram_stats, REPETITION_SQL),
    # -- round 7: period KPIs, interval algebra, skylines, drift --
    "period_growth_orders": (period_growth_orders, PERIOD_GROWTH_SQL),
    "interval_islands_events": (interval_islands_events, INTERVAL_ISLANDS_SQL),
    "pareto_frontier_parts": (pareto_frontier_parts, PARETO_SQL),
    "psi_drift_events": (psi_drift_events, PSI_DRIFT_SQL),
    "semdedup_embeddings": (semdedup_embeddings, SEMDEDUP_SQL),
    "audio_downsample_real": (audio_downsample_real, AUDIO_DOWNSAMPLE_SQL),
    "asof_forward_next_click": (asof_forward_next_click, ASOF_FORWARD_SQL),
    "pq_adc_topk": (pq_adc_topk, PQ_ADC_SQL),
    "length_bucket_batches_docs": (length_bucket_batches_docs, LENGTH_BUCKET_SQL),
    "stream_outer_join_purchases": (stream_outer_join_purchases, STREAM_OUTER_JOIN_SQL),
    # -- round 7, second batch: sketches, profiling, retrieval fusion, curation --
    "cms_heavy_hitters_users": (cms_heavy_hitters_users, CMS_HEAVY_HITTERS_SQL),
    "profile_columns_orders": (profile_columns_orders, PROFILE_SQL),
    "rrf_hybrid_retrieval": (rrf_hybrid_retrieval, RRF_SQL),
    "dsir_select_docs": (dsir_select_docs, DSIR_SQL),
    "image_dhash_near_dup": (image_dhash_near_dup, IMAGE_DHASH_SQL),
    "content_digest_tables": (content_digest_tables, CONTENT_DIGEST_SQL),
    "referential_integrity_report": (referential_integrity_report, REFERENTIAL_SQL),
    "epoch_shuffle_docs": (epoch_shuffle_docs, EPOCH_SHUFFLE_SQL),
    "ks_test_click_purchase": (ks_test_click_purchase, KS_TEST_SQL),
    "stream_ewma_users": (stream_ewma_users, STREAM_EWMA_SQL),
    "wordpiece_apply_docs": (wordpiece_apply_docs, WORDPIECE_SQL),
    "twap_value_users": (twap_value_users, TWAP_SQL),
    "triplet_mining_embeddings": (triplet_mining_embeddings, TRIPLET_SQL),
    "mannwhitney_click_purchase": (mannwhitney_click_purchase, MANNWHITNEY_SQL),
    "interpolate_masked_values": (interpolate_masked_values, INTERPOLATE_SQL),
    "last_touch_attribution": (last_touch_attribution, LAST_TOUCH_SQL),
    "gini_order_value_by_priority": (gini_order_value_by_priority, GINI_SQL),
    "wilson_purchase_rate_by_hour": (wilson_purchase_rate_by_hour, WILSON_SQL),
    "cusum_change_events": (cusum_change_events, CUSUM_SQL),
    "rolling_median_value_users": (rolling_median_value_users, ROLLING_MEDIAN_SQL),
    "flesch_reading_ease_by_source": (flesch_reading_ease_by_source, FLESCH_SQL),
    "ols2_spend_model_events": (ols2_spend_model_events, OLS2_SQL),
    "spearman_value_hour_events": (spearman_value_hour_events, SPEARMAN_SQL),
    "benford_order_totals": (benford_order_totals, BENFORD_SQL),
    "km_time_to_purchase": (km_time_to_purchase, KM_SQL),
    "quantile_normalize_docs": (quantile_normalize_docs, QUANTILE_NORM_SQL),
    "exact_decontamination_hits": (exact_decontamination_hits, EXACT_DECON_SQL),
    "audio_vad_real": (audio_vad_real, AUDIO_VAD_SQL),
    "fk_inference_star": (fk_inference_star, FK_INFERENCE_SQL),
    "ngram_novelty_docs": (ngram_novelty_docs, NGRAM_NOVELTY_SQL),
    "spatial_radius_pairs": (spatial_radius_pairs, SPATIAL_SQL),
    "pmi_phrases_docs": (pmi_phrases_docs, PMI_SQL),
    "trimmed_mean_price_by_status": (trimmed_mean_price_by_status, TRIMMED_MEAN_SQL),
    "burstiness_users": (burstiness_users, BURSTINESS_SQL),
    "column_churn_orders": (column_churn_orders, COLUMN_CHURN_SQL),
    "stream_pattern_conversion": (stream_pattern_conversion, STREAM_PATTERN_SQL),
    "weighted_median_price": (weighted_median_price, WEIGHTED_MEDIAN_SQL),
    "best_split_purchase_value": (best_split_purchase_value, BEST_SPLIT_SQL),
    "jackknife_mean_orders": (jackknife_mean_orders, JACKKNIFE_SQL),
    "clamped_balance_users": (clamped_balance_users, CLAMPED_BALANCE_SQL),
    "session_trigrams_top": (session_trigrams_top, SESSION_TRIGRAMS_SQL),
    "silhouette_labels_embeddings": (silhouette_labels_embeddings, SILHOUETTE_SQL),
    "k_anonymity_customers": (k_anonymity_customers, K_ANONYMITY_SQL),
    "ndcg_retrieval_eval": (ndcg_retrieval_eval, NDCG_SQL),
    "l_diversity_customers": (l_diversity_customers, L_DIVERSITY_SQL),
    "zipf_slope_docs": (zipf_slope_docs, ZIPF_SQL),
    "autocorr_daily_revenue": (autocorr_daily_revenue, AUTOCORR_SQL),
    "sentence_chunks_docs": (sentence_chunks_docs, SENTENCE_CHUNKS_SQL),
    "knn_label_noise": (knn_label_noise, KNN_NOISE_SQL),
    "containment_decontamination": (containment_decontamination, CONTAINMENT_DECON_SQL),
    "jpeg_decode_real": (jpeg_decode_real, JPEG_DECODE_REAL_SQL),
    "mutual_information_events": (mutual_information_events, MI_SQL),
    "roc_auc_purchase_value": (roc_auc_purchase_value, ROC_AUC_SQL),
    "theil_sen_daily_revenue": (theil_sen_daily_revenue, THEIL_SEN_SQL),
    "seasonal_decompose_revenue": (seasonal_decompose_revenue, SEASONAL_SQL),
    "dbscan_embeddings_2d": (dbscan_embeddings_2d, DBSCAN_SQL),
    "kcenter_coreset_embeddings": (kcenter_coreset_embeddings, KCENTER_SQL),
    "retrieval_metrics_docs": (retrieval_metrics_docs, RETRIEVAL_METRICS_SQL),
    "spatial_containment_tags": (spatial_containment_tags, SPATIAL_CONTAINMENT_SQL),
    "ewma_batch_users": (ewma_batch_users, STREAM_EWMA_SQL),
    "pit_feature_join_orders": (pit_feature_join_orders, PIT_JOIN_SQL),
    "cms_probe_unseen_users": (cms_probe_unseen_users, CMS_PROBE_UNSEEN_SQL),
    "lookup_first_ordered_customer": (
        lookup_first_ordered_customer,
        LOOKUP_FIRST_ORDERED_SQL,
    ),
    "jpeg_progressive_decode": (jpeg_progressive_decode, JPEG_PROGRESSIVE_SQL),
    "nb_classify_lang_docs": (nb_classify_lang_docs, NB_CLASSIFY_SQL),
    "split_leakage_report_docs": (split_leakage_report_docs, SPLIT_LEAKAGE_SQL),
    "leakage_safe_split_docs": (leakage_safe_split_docs, LEAKAGE_SAFE_SPLIT_SQL),
    "mojibake_stats_sources": (mojibake_stats_sources, MOJIBAKE_SQL),
    "mmr_rerank_embeddings": (mmr_rerank_embeddings, MMR_SQL),
    # -- round 11: web-corpus ingest (HTML strip, URL canon/dedup) --
    "strip_boilerplate_docs": (strip_boilerplate_docs, STRIP_BOILERPLATE_SQL),
    "canonical_url_docs": (canonical_url_docs, CANONICAL_URL_SQL),
    "url_dedup_docs": (url_dedup_docs, URL_DEDUP_SQL),
    "url_domain_stats": (url_domain_stats, URL_DOMAIN_STATS_SQL),
    "unigram_tokenize_words": (unigram_tokenize_words, UNIGRAM_SQL),
    "web_ingest_pipeline": (web_ingest_pipeline, WEB_INGEST_SQL),
    "unigram_apply_docs": (unigram_apply_docs, UNIGRAM_APPLY_SQL),
    "perplexity_filter_docs": (perplexity_filter_docs, PERPLEXITY_FILTER_SQL),
    "unigram_train_step": (unigram_train_step, UNIGRAM_TRAIN_SQL),
    "ccnet_pipeline_docs": (ccnet_pipeline_docs, CCNET_SQL),
    "bpe_apply_words": (bpe_apply_words, BPE_APPLY_SQL),
    "bigram_backoff_logprob_docs": (bigram_backoff_logprob_docs, BIGRAM_BACKOFF_SQL),
    "markup_stats_docs": (markup_stats_docs, MARKUP_STATS_SQL),
    "domain_boilerplate_removal_docs": (
        domain_boilerplate_removal_docs,
        DOMAIN_BOILERPLATE_SQL,
    ),
    "gopher_repetition_docs": (gopher_repetition_docs, GOPHER_REPETITION_SQL),
}
