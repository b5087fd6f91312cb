"""The three engine-level semantics shims (SURVEY.md §4.3).

1. ``__rowid__`` discipline — positional semantics on an unordered engine.
   The reference's universal intermediate is a row-position vector
   (reference internal.go:2743-2762); Spark rows are unordered, so
   positional operators (Subset/Head/Tail/Range/first-appearance-Unique)
   thread an explicit row id. At scale a global contiguous id is a
   full-sort; we expose it opt-in only and prefer explicit order keys.

2. ``canon_sql`` — stringified-key equality. The reference groups, joins,
   dedupes and filters on *stringified* values (fmt.Sprint semantics:
   float 1.0 prints "1"; RFC3339 timestamps — reference
   internal.go:1347-1376, valueContainers.go:194-196). canon_sql writes
   the equivalent expression as SQL text, so cross-type keys compare
   equal. It is the one copy of the rules; text parses in one py4j
   call, where Column operators cost a round trip each.

3. Null normalization — NaN→NULL, the null-string set ("(null)"; blank
   opt-in — reference options.go:13-17, internal.go:1835-1926),
   nulls-last sort defaults (reference types.go:165), and
   parse-failure→null casts (try_cast semantics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

#: Default null-string set (reference options.go:13-17). Blank string is
#: opt-in, matching the reference's ``SetOptionEmptyStringAsNull``.
NULL_STRINGS: tuple[str, ...] = ("(null)",)

ROWID = "__rowid__"

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def sql_name(*parts: str) -> str:
    """SQL text of a column reference, each part backtick-quoted: dots,
    spaces and backticks inside a name stay part of that name."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def sql_str(s: str) -> str:
    """SQL string literal of ``s`` (the parser's default backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canon_sql(ref: str, dtype: T.DataType | None = None) -> str:
    """Canonical string form of a value for key equality, as SQL text
    over the expression ``ref`` (a quoted column name or a literal) —
    the one implementation of the canon rules.

    Reproduces Go ``fmt.Sprint`` semantics for the types the reference
    supports (reference internal.go:1347-1376):
      * integral-valued floats print with no decimal part ("1", not "1.0")
      * timestamps print RFC3339 ("2006-01-02T15:04:05Z")
      * bools print "true"/"false"
      * NULL prints a sentinel that never equals a real value

    Deliberate divergence: NON-integral floats outside [1e-3, 1e7) render
    with the host engine's (Java Double.toString) scientific-notation
    thresholds ("5.0E-4"), not Go %v's ("0.0005") — canon strings are
    internal key material, and staying on Spark's native string cast keeps
    the hot path in codegen; py_canon mirrors the Java layout exactly.
    """
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        # try_cast, not cast: ANSI mode (Spark 4 default) THROWS on
        # |v| >= 2^63 — a plain cast would crash any canon-key plan the
        # moment one huge double appears. try_cast SATURATES at
        # MIN/MAX_LONG rather than nulling, so the integral rule is
        # additionally range-guarded: outside [-2^63, 2^63) the value
        # falls through to the string render (2^63 as a double equals
        # double(MAX_LONG), which would otherwise print ...807 for a
        # value that is ...808)
        as_long = f"try_cast({ref} AS BIGINT)"
        text = f"CAST({ref} AS STRING)"
        if isinstance(dtype, T.DecimalType):
            # Decimal string casts keep scale ("1.50"); Go fmt.Sprint does
            # not — strip trailing fractional zeros so canon keys agree with
            # the double rendering of the same value.
            text = rf"regexp_replace(regexp_replace({text}, r'(\.\d*?)0+$', '$1'), r'\.$', '')"
            # exact integral test: the double-comparison shortcut loses
            # precision past ~16 significant digits (Decimal
            # '123456789012345678.9' double-rounds equal to its floor
            # and rendered truncated); the remainder stays in decimal
            # arithmetic, and try_cast long is exact for in-range values
            integral = f"pmod({ref}, 1) = 0"
        else:
            integral = f"CAST({ref} AS DOUBLE) = CAST({as_long} AS DOUBLE)"
        # the IS NOT NULL test closes the decimal MIN_LONG gap: an integral
        # decimal in [-2^63-1024, -2^63-1] double-rounds to exactly -2^63
        # (passing the range test) while try_cast returns NULL — without
        # it the THEN branch would emit NULL and coalesce the sentinel
        # for a real value
        c = (
            f"CASE WHEN {ref} >= {float(-(2**63))!r} AND {ref} < {float(2**63)!r}"
            f" AND {as_long} IS NOT NULL AND {integral}"
            f" THEN CAST({as_long} AS STRING) ELSE {text} END"
        )
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # NTZ wall clock renders identically to the reference's
        # RFC3339-UTC form (session zone is pinned UTC, so LTZ and NTZ
        # of the same ingested naive value canon-compare equal)
        c = rf"date_format({ref}, 'yyyy-MM-dd\'T\'HH:mm:ss\'Z\'')"
    elif isinstance(dtype, T.DateType):
        c = f"date_format({ref}, 'yyyy-MM-dd')"
    elif isinstance(dtype, T.BooleanType):
        # NULL must fall through to the coalesce sentinel, not "false"
        c = f"CASE WHEN {ref} IS NULL THEN NULL WHEN {ref} THEN 'true' ELSE 'false' END"
    else:
        c = f"CAST({ref} AS STRING)"
    return rf"coalesce({c}, '\u0000null')"


def canon_str(col: str | Column, dtype: T.DataType | None = None) -> Column:
    """``canon_sql`` as a Column over the column named ``col`` (or an
    unqualified ``F.col`` reference to it)."""
    if isinstance(col, Column):
        node = col._jc.node()
        if node.getClass().getSimpleName() != "UnresolvedAttribute":
            raise TypeError("canon_str: pass a column name or an unqualified F.col reference")
        return F.expr(canon_sql(sql_name(*node.nameParts().mkString("\x00").split("\x00")), dtype))
    return F.expr(canon_sql(sql_name(col), dtype))


def _java_double_str(v: float) -> str:
    """Java ``Double.toString`` layout from Python's shortest-repr digits:
    plain decimal (with at least one fractional digit) for 1e-3 <= |v| <
    1e7, else ``d.dddEn`` scientific — the rendering Spark's double->string
    cast produces, which canon_sql's non-integral branch inherits. Known
    divergence: subnormals (|v| < 2.3e-308), where Java 17's legacy digit
    generator is not shortest ("4.9E-324" vs repr "5e-324") — byte-level
    only; value exactness (both renderings parse back to the same
    double) is test-pinned in test_canon_lockstep.py, as is DECIMAL
    (38,x) lockstep across scales x ∈ {0, 2, 6, 18, 37}."""
    s = repr(v)
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    mant, _, exp = s.partition("e")
    e = int(exp) if exp else 0
    ip, _, fp = mant.partition(".")
    if ip == "0":
        digits = fp.lstrip("0")
        e10 = -(len(fp) - len(digits)) - 1 + e
    else:
        digits = ip + fp
        e10 = len(ip) - 1 + e
    digits = digits.rstrip("0") or "0"
    if -3 <= e10 <= 6:
        if e10 >= 0:
            ipart = digits[: e10 + 1].ljust(e10 + 1, "0")
            fpart = digits[e10 + 1 :] or "0"
        else:
            ipart = "0"
            fpart = "0" * (-e10 - 1) + digits
        out = f"{ipart}.{fpart}"
    else:
        out = f"{digits[0]}.{digits[1:] or '0'}E{e10}"
    return "-" + out if neg else out


def py_canon(value: object) -> str | None:
    """Python-side twin of canon_sql for driver-known literals: the
    canonical string a value would render to in a canon-key comparison.

    Lockstep contract (pinned by tests/test_canon_lockstep.py): exact
    string equality with canon_sql for Decimal / datetime / date / bool /
    int — the types it is load-bearing for (filter_by_value renders them
    with it). For floats it emits Java Double.toString LAYOUT from
    Python's shortest digits; Java 17's legacy digit generator is
    occasionally non-shortest (2^-24 -> 17 digits), so float strings are
    value-equal but not always byte-equal — engine paths route finite
    float literals JVM-side (canon_sql over a double literal) and never
    hit this."""
    import datetime as _dt
    import math as _math

    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        if _math.isnan(value):
            return None
        if _math.isinf(value):
            # canon_sql: inf is out of the long range, so Spark renders the
            # string cast — "Infinity"/"-Infinity" (int(inf) would raise)
            return "Infinity" if value > 0 else "-Infinity"
        if value == int(value) and -(2**63) <= value < 2**63:
            return str(int(value))
        # non-integral (or too big for the long-cast integral rule):
        # lockstep with canon_sql's string cast = Java Double.toString
        # layout, NOT Python str() — they disagree outside [1e-3, 1e7)
        # ("5.0E-4" vs "0.0005"), which silently broke filter_by_value
        # on such literals until the r4 property suite caught it
        return _java_double_str(value)
    if isinstance(value, _dt.datetime):
        # isoformat, not strftime: %Y drops leading zeros for years <
        # 1000 on glibc ('999'), while Spark's date_format pads ('0999').
        # Aware values normalize to UTC wall clock first — a bare
        # isoformat would keep the '+00:00' offset and never match
        # canon_sql's '...Z' rendering
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return value.replace(microsecond=0).isoformat(sep="T") + "Z"
    if isinstance(value, _dt.date):
        return value.isoformat()
    import decimal as _decimal

    if isinstance(value, _decimal.Decimal):
        if value == int(value):
            return str(int(value))  # integral rule, like canon_sql
        # non-scientific render, trailing fractional zeros stripped —
        # lockstep with canon_sql's DecimalType regexp_replace branch
        s = format(value, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s
    if hasattr(value, "item"):  # numpy scalars
        return py_canon(value.item())
    return str(value)


def canon_key(df: DataFrame, names: list[str], sep: str = "|") -> Column:
    """Composite stringified key: per-row concat of canon values joined
    by "|" (reference internal.go:1347-1376), as one expression."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    parts = ", ".join(canon_sql(sql_name(n), fields.get(n)) for n in names)
    return F.expr(f"concat_ws({sql_str(sep)}, {parts})")


def normalize_nulls(
    df: DataFrame,
    *,
    nan_is_null: bool = True,
    null_strings: tuple[str, ...] = NULL_STRINGS,
    blank_as_null: bool = False,
) -> DataFrame:
    """Ingest-time null shim (reference internal.go:1835-1926).

    Spark treats NaN ≠ NULL; the reference treats NaN as null by default
    (options.go:18). String columns map the null-string set to NULL.
    Cheap narrow projection — no shuffle; Catalyst folds it into the scan.
    """
    strings = set(null_strings) | ({""} if blank_as_null else set())
    out = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if nan_is_null and isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            c = F.when(F.isnan(c), F.lit(None)).otherwise(c)
        elif strings and isinstance(f.dataType, T.StringType):
            c = F.when(c.isin(*strings), F.lit(None)).otherwise(c)
        out.append(c.alias(f.name))
    return df.select(*out)


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once and cut its lineage: the library's one
    checkpoint. RELIABLE when the session has a checkpoint dir
    (``sc.setCheckpointDir``), so it survives executor loss; otherwise
    local, and losing an executor that holds its blocks fails the next
    job that reads them (loudly — a pin never recomputes). Deployments
    with executor churn set a checkpoint dir. A lazy pin writes its
    blocks in the first job that reads them, but under AQE (on by
    default) the call itself runs every shuffle and broadcast stage of
    ``df``'s plan: only the last stage waits for a reader. ``eager``
    runs that last stage now."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def unpin(df: DataFrame) -> None:
    """Free the storage blocks of a frame ``pin`` returned (any other
    frame is left alone) — ``DataFrame.unpersist`` does not: they belong
    to the RDD under its ``LogicalRDD``. Only once every reader has run:
    a job reading a freed local pin fails. Reliable files stay."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def broadcast_limit(spark: SparkSession) -> int:
    """The session's spark.sql.autoBroadcastJoinThreshold in bytes;
    <= 0 disables broadcast joins and every driver finish."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def collect_small(df: DataFrame):
    """``df`` as a pyarrow Table if it fits under the broadcast limit,
    else None: the one size rule for operators that finish on the
    driver. The row cap is the limit over Spark's size estimate for one
    row, 8 bytes of overhead plus the schema's defaultSize, and the
    collected table must also hold at most the limit in Arrow bytes. A
    limit <= 0 returns None without running anything. Otherwise
    ``limit(cap + 1).toArrow()`` runs ``df``'s plan once, with the jobs
    a plain collect runs (``limit().collect()`` would add CollectLimit's
    incremental take, one job per scale-up); above the cap that pass is
    wasted and the caller runs its distributed plan."""
    limit = broadcast_limit(df.sparkSession)
    if limit <= 0:
        return None
    cap = limit // (8 + df._jdf.schema().defaultSize())
    table = df.limit(cap + 1).toArrow()
    if table.num_rows > cap or table.nbytes > limit:
        return None
    return table


def iterate(
    state: DataFrame, step: Callable, *, rounds: int, until: Callable | None = None
) -> tuple[DataFrame, bool]:
    """Run ``state = pin(step(state, i))`` for up to ``rounds`` rounds;
    return the last frame and whether ``until`` stopped the loop.
    ``until(state)`` is the round's one action: it materializes the
    lazy pin, and a true result stops. Without it each pin is eager.
    The previous round's pin is unpinned once the new one is
    materialized; the returned one stays for its readers. On any
    exception every pin made here is unpinned; the ``state`` passed in
    never is. Rounds are pins, not caches: a cached round nests every
    earlier round's lineage until planning blows up."""
    live: list[DataFrame] = []
    try:
        for i in range(rounds):
            state = pin(step(state, i), eager=until is None)
            live.append(state)
            stopped = until is not None and until(state)
            if len(live) == 2:
                unpin(live.pop(0))
            if stopped:
                return state, True
    except BaseException:
        for df in live:
            unpin(df)
        raise
    return state, False


def with_rowid(df: DataFrame, order_by: list[str] | None = None) -> DataFrame:
    """Attach a deterministic contiguous ``__rowid__``.

    With ``order_by``: the zipWithIndex pattern — range-repartition on
    the keys, per-partition local index (monotonically_increasing_id
    ascends in physical row order), then broadcast per-partition
    offsets. The ranged/sorted frame is pinned ONCE (lazy ``pin``)
    before fanning out to the offsets branch and the join-back:
    RangePartitioner picks its boundaries from a SAMPLE whose seed
    differs between plan executions, so letting each branch re-execute
    the exchange pairs one partitioning's local indices with another's
    offsets — rank inversions at every boundary, invisible below one
    partition per range. ``pin`` says when the pin is reliable. It
    carries the frame's full width, so project before attaching rowids
    if only a few columns are needed downstream.
    Deterministic when the keys are unique (the engine's positional
    discipline). Low-cardinality keys concentrate into few range
    partitions — inherent to ordering by such keys.

    Without keys: ingest order via monotonically_increasing_id ranked
    into a contiguous sequence — this one IS a single global sort;
    positional semantics without declared keys are inherently
    anti-scale, so callers pass explicit keys at scale.
    """
    if ROWID in df.columns:
        return df
    if order_by:
        keys = [F.col(c) for c in order_by]
        # local index from monotonically_increasing_id, which ascends in
        # physical row order within each partition — a per-partition
        # window here would NOT reuse the range partitioning (window
        # needs hash partitioning on __pid__) and would re-shuffle the
        # whole frame a second time
        ranged = (
            df.repartitionByRange(*keys)
            .sortWithinPartitions(*keys)
            .withColumn("__pid__", F.spark_partition_id())
            .withColumn("__mid__", F.monotonically_increasing_id())
        )
        d = pin(ranged)
        w_off = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
        offsets = (
            d.groupBy("__pid__")
            .agg(F.count("*").alias("__n__"), F.min("__mid__").alias("__mmin__"))
            .withColumn("__offset__", F.coalesce(F.sum("__n__").over(w_off), F.lit(0)))
            .select("__pid__", "__mmin__", "__offset__")
        )
        out = (
            d.join(F.broadcast(offsets), "__pid__")
            .withColumn(
                ROWID, (F.col("__offset__") + F.col("__mid__") - F.col("__mmin__")).cast("long")
            )
            .drop("__pid__", "__mid__", "__mmin__", "__offset__")
        )
        return out
    df = df.withColumn("__mid__", F.monotonically_increasing_id())
    w = Window.orderBy("__mid__")
    out = df.withColumn(ROWID, F.row_number().over(w) - F.lit(1))
    return out.drop("__mid__")


def round_det(x: Column | str, digits: int) -> Column:
    """Cross-engine-deterministic rounding of a SMALL-magnitude double
    (|x|·10^digits well under 2^53): floor(x·s + 0.5)/s — identical
    IEEE multiply/add/floor on identical input doubles, bypassing the
    engines' divergent ROUND implementations (Spark rounds the shortest
    decimal repr via BigDecimal; DuckDB multiplies and std::rounds —
    they can disagree on boundary values). Oracle SQL mirrors it as
    FLOOR(x * 10^digits + 0.5) / 10^digits; a check_oracle.py lint
    rejects any two-arg ROUND() left in oracle outputs."""
    if isinstance(x, str):
        x = F.col(x)
    s = float(10**digits)
    return F.floor(x * s + F.lit(0.5)) / F.lit(s)


#: ln(2) and ln(1e6) as decimal literals — parsed to the identical
#: nearest double by Python, Spark and DuckDB (IEEE 754 decimal→binary
#: conversion is correctly rounded everywhere).
LN2 = 0.6931471805599453
LN_1E6 = 13.815510557964274


def det_ln(x: Column) -> Column:
    """Cross-engine-deterministic natural log of a positive double —
    transcendental-free, so it is allowed in hash-compared outputs
    (library log() implementations differ in the last ulp between
    Java's StrictMath-adjacent Math.log and DuckDB's libm; +, -, *, /
    and integer bit ops are correctly rounded EVERYWHERE, so a shared
    expression tree built only from those is bit-identical).

    Definition (the oracle mirrors it CTE for CTE):
      r  = max(floor(x·1e6 + 0.5), 1)        # shared integer quantize
      k  = bit_length(r) - 1                 # via length(bin(r)) - 1
      m  = r / 2^k  ∈ [1, 2)                 # exact (power-of-2 divide)
      z  = (m-1)/(m+1);  z² < 1/9
      ln m ≈ 2z·(1 + z²/3 + … + z¹⁴/15)      # atanh series, err < 1e-9
      det_ln(x) = k·ln2 + ln m - ln(1e6)

    Accuracy: within ~1e-6 of true ln(x) for x ≥ 0.5 (quantize error
    dx/x), degrading for tiny x and clamped at ln(1e-6) ≈ -13.8155 —
    both engines degrade IDENTICALLY, which is the property that
    matters. Inputs must satisfy x·1e6 < 2^53.
    """
    r = F.greatest(F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"), F.lit(1).cast("long"))
    k = F.length(F.bin(r)) - F.lit(1)
    p2 = F.call_function("shiftleft", F.lit(1).cast("long"), k).cast("double")
    m = r.cast("double") / p2
    z = (m - F.lit(1.0)) / (m + F.lit(1.0))
    z2 = z * z
    s = F.lit(1.0) + z2 * (
        F.lit(1.0 / 3.0)
        + z2
        * (
            F.lit(1.0 / 5.0)
            + z2
            * (
                F.lit(1.0 / 7.0)
                + z2
                * (
                    F.lit(1.0 / 9.0)
                    + z2 * (F.lit(1.0 / 11.0) + z2 * (F.lit(1.0 / 13.0) + z2 * F.lit(1.0 / 15.0)))
                )
            )
        )
    )
    return (k.cast("double") * F.lit(LN2) + (F.lit(2.0) * z) * s) - F.lit(LN_1E6)


def py_det_ln(x: float) -> float:
    """Pure-Python replica of det_ln — Python floats are IEEE doubles
    and this repeats the identical expression tree, so it is bit-equal
    to the Spark/DuckDB versions (property tests rely on that)."""
    import math

    r = max(math.floor(x * 1e6 + 0.5), 1)
    k = r.bit_length() - 1
    m = r / (1 << k)
    z = (m - 1.0) / (m + 1.0)
    z2 = z * z
    s = 1.0 + z2 * (
        1.0 / 3.0
        + z2
        * (
            1.0 / 5.0
            + z2
            * (1.0 / 7.0 + z2 * (1.0 / 9.0 + z2 * (1.0 / 11.0 + z2 * (1.0 / 13.0 + z2 * (1.0 / 15.0)))))
        )
    )
    return (k * LN2 + (2.0 * z) * s) - LN_1E6


def null_safe_div(num: Column, den: Column) -> Column:
    """Division with the reference's ÷0/Inf/NaN → null rule
    (reference series.go:930-938, internal.go:1546-1552)."""
    res = num / den
    return F.when(den == 0, F.lit(None)).when(F.isnan(res) | (F.abs(res) == float("inf")), F.lit(None)).otherwise(res)


def sort_exprs(
    specs: list[tuple[str, bool]] | list[str],
    *,
    cast: dict[str, str] | None = None,
) -> list[Column]:
    """Multi-key sort expressions with the reference's nulls-always-last
    rule, asc or desc (reference types.go:165, internal.go:1297-1309).

    ``specs`` is [(name, ascending)] or plain names (ascending). ``cast``
    optionally coerces a key for comparison only (reference Sorter.DType,
    types.go:161-170).
    """
    cast = cast or {}
    exprs: list[Column] = []
    for spec in specs:
        name, asc = (spec, True) if isinstance(spec, str) else spec
        c = F.col(name)
        if name in cast:
            c = c.cast(cast[name])
        exprs.append(c.asc_nulls_last() if asc else c.desc_nulls_last())
    return exprs
