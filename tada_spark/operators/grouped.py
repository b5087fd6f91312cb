"""GroupedFrame — the reference's grouped-operator surface on Spark.

The reference materializes per-group row-index vectors on stringified
keys (reference internal.go:1382-1431) and runs null-skipping reduction
kernels per group (internal.go:1979-2170). Here grouping is a lazy
``groupBy`` plan — Spark's HashAggregate does map-side partial
aggregation, which is exactly the 100 TB-safe shape.

Semantics reproduced:
  * all reducers skip nulls; an all-null group yields NULL — Spark's
    aggregate semantics match natively (SURVEY §1.4).
  * stdDev is POPULATION std (÷n, reference internal.go:2042-2057) —
    ``stddev_pop``, not sample stddev.
  * nunique counts distinct *stringified* non-null values (reference
    internal.go:2076-2094) — countDistinct over canon_str.
  * Align() broadcasts reductions back to every source row (reference
    groupers.go:202-228) — Window.partitionBy, no join.
  * first/last/nth are order-dependent — they take explicit order keys
    (reference uses insertion order, which is not a distributed concept;
    callers pass the keys that define it).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tada_spark.frame import Frame, _strs
from tada_spark.plans.semantics import canon_key, canon_sql, canon_str, sql_name

_SIMPLE = {
    "sum": F.sum,
    "mean": F.avg,
    "median": F.median,
    "std": F.stddev_pop,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "earliest": F.min,
    "latest": F.max,
}


def _windowed_median(col: str, frame) -> Column:
    """Exact median over a window frame. Spark's median aggregate
    rejects window frames (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC),
    so the sorted frame's middle pair is averaged — O(n log n) per row
    with n the (small, bounded) window length, never a shuffle.
    collect_list skips NULLs, so an all-null window has an EMPTY array
    — the median must be NULL like the other aggs. try_element_at
    nulls out-of-range indexes but index 0 is reserved and ALWAYS an
    error, hence the clamp to 1 (on the empty array, 1 is out-of-range
    → NULL)."""
    arr = F.array_sort(F.collect_list(F.col(col)).over(frame))
    sz = F.size(arr)
    lo = F.try_element_at(arr, F.greatest(F.floor((sz + 1) / 2).cast("int"), F.lit(1)))
    hi = F.try_element_at(arr, F.greatest(F.floor((sz + 2) / 2).cast("int"), F.lit(1)))
    return (lo + hi).cast("double") / F.lit(2.0)


class GroupedFrame:
    def __init__(self, frame: Frame, keys: list[str], *, canon: bool = False, aligned: bool = False):
        frame.has_cols(*keys)
        self.frame = frame
        self.keys = keys
        self.canon = canon
        self.aligned = aligned

    # -- plumbing -------------------------------------------------------
    def align(self) -> "GroupedFrame":
        """Subsequent reductions broadcast to every source row
        (reference groupers.go:202-228; pandas `transform`)."""
        return GroupedFrame(self.frame, self.keys, canon=self.canon, aligned=True)

    def _key_cols(self) -> list[Column]:
        if self.canon:
            return [canon_key(self.frame.df, [k]).alias(k) for k in self.keys]
        return [F.col(k) for k in self.keys]

    def _agg(self, exprs: dict[str, Column]) -> Frame:
        if self.aligned:
            w = Window.partitionBy(*self._key_cols())
            df = self.frame.df
            for name, e in exprs.items():
                df = df.withColumn(name, e.over(w))
            return Frame(df, self.frame.labels, self.frame.name)
        out = self.frame.df.groupBy(*self._key_cols()).agg(
            *[e.alias(n) for n, e in exprs.items()]
        )
        return Frame(out, list(self.keys), self.frame.name)

    # -- reducers (reference groupers.go:137-199) ----------------------
    def _reduce(self, kind: str, *cols: str, prefix: str | None = None) -> Frame:
        cols = cols or tuple(c for c in self.frame.value_columns if c not in self.keys)
        fn = _SIMPLE[kind]
        pre = kind if prefix is None else prefix
        exprs: dict[str, Column] = {}
        for c in cols:
            src = F.col(c)
            if kind in ("sum", "mean", "median", "std"):
                src = src.cast("double")
            exprs[f"{pre}_{c}"] = fn(src)
        return self._agg(exprs)

    def sum(self, *cols: str) -> Frame:
        return self._reduce("sum", *cols)

    def mean(self, *cols: str) -> Frame:
        return self._reduce("mean", *cols)

    def median(self, *cols: str) -> Frame:
        return self._reduce("median", *cols)

    def std(self, *cols: str) -> Frame:
        return self._reduce("std", *cols)

    def min(self, *cols: str) -> Frame:
        return self._reduce("min", *cols)

    def max(self, *cols: str) -> Frame:
        return self._reduce("max", *cols)

    def count(self, *cols: str) -> Frame:
        return self._reduce("count", *cols)

    def earliest(self, *cols: str) -> Frame:
        return self._reduce("earliest", *cols, prefix="earliest")

    def latest(self, *cols: str) -> Frame:
        return self._reduce("latest", *cols, prefix="latest")

    def nunique(self, *cols: str) -> Frame:
        """Distinct stringified non-null (reference internal.go:2076-2094)."""
        fields = {f.name: f.dataType for f in self.frame.df.schema.fields}
        exprs = {
            f"nunique_{c}": F.count_distinct(
                F.when(F.col(c).isNotNull(), canon_str(c, fields[c]))
            )
            for c in (cols or tuple(c for c in self.frame.value_columns if c not in self.keys))
        }
        return self._agg_distinct_safe(exprs)

    def approx_nunique(self, *cols: str, rsd: float = 0.05) -> Frame:
        """HyperLogLog++ sketch — the 100 TB path for cardinality
        (beyond-reference; exact nunique shuffles every distinct value).
        No columns ⇒ all value columns, like the exact twin."""
        exprs = {
            f"approx_nunique_{c}": F.approx_count_distinct(F.col(c), rsd)
            for c in (cols or tuple(c for c in self.frame.value_columns if c not in self.keys))
        }
        return self._agg_distinct_safe(exprs)

    def _agg_distinct_safe(self, exprs: dict[str, Column]) -> Frame:
        """Distinct-style aggregates cannot run as window functions
        (Spark: 'Distinct window functions are not supported'), so the
        aligned path computes the grouped aggregate and broadcast-joins
        it back onto the source rows (null-safe on keys)."""
        if not self.aligned:
            return self._agg(exprs)
        grouped = self.frame.df.groupBy(*self._key_cols()).agg(
            *[e.alias(n) for n, e in exprs.items()]
        )
        fields = {f.name: f.dataType for f in self.frame.df.schema.fields}
        conds = []
        for k in self.keys:
            # with canon=True the grouped keys are canonical STRINGS;
            # the join-back must compare the same transform of the
            # source column, or NULL-keyed rows (raw NULL vs the
            # non-null sentinel) and sub-second timestamps would get
            # NULL aggregates instead of their group's value. Names are
            # qualified by the join's aliases (a bare name would be
            # ambiguous inside the self-ish join).
            left = sql_name("__l", k)
            if self.canon:
                left = canon_sql(left, fields[k])
            conds.append(f"({left} <=> {sql_name('__r', k)})")
        joined = self.frame.df.alias("__l").join(
            F.broadcast(grouped).alias("__r"), F.expr(" AND ".join(conds)), "left"
        )
        for k in self.keys:
            joined = joined.drop(F.col(sql_name("__r", k)))
        return Frame(joined, self.frame.labels, self.frame.name)

    def agg(self, **exprs: Column) -> Frame:
        """Arbitrary named aggregate expressions (escape hatch)."""
        return self._agg(exprs)

    # -- positional reducers (reference groupers.go:187-199) -----------
    def first(self, col: str, *, order_by: Sequence[str]) -> Frame:
        """Value at position 0 per group. Unlike the general nth (which
        needs a row_number window + OOB reattach join), position 0
        always exists, so this is a single min_by aggregate — one
        exchange instead of three."""
        ord_expr = F.struct(*[F.col(c) for c in _strs(order_by)])
        return self._agg({f"first_{col}": F.min_by(F.col(col), ord_expr)})

    def last(self, col: str, *, order_by: Sequence[str]) -> Frame:
        ord_expr = F.struct(*[F.col(c) for c in _strs(order_by)])
        return self._agg({f"last_{col}": F.max_by(F.col(col), ord_expr)})

    def nth(self, col: str, n: int, *, order_by: Sequence[str], out: str | None = None) -> Frame:
        """Row at position n within group (negative from end; out-of-bounds
        ⇒ null — reference groupers.go:824-868). One shuffle: min_by/max_by
        style via sorted collect is avoided; we use row_number windows."""
        out = out or f"nth_{col}"
        df = self.frame.df
        keys = self._key_cols()
        asc = [F.col(c) for c in _strs(order_by)]
        if n >= 0:
            w = Window.partitionBy(*keys).orderBy(*asc)
            pos = n + 1
        else:
            w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in asc])
            pos = -n
        picked = (
            df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == pos)
            .select(*keys, F.col(col).alias(out))
        )
        # groups whose size <= |n| are absent → reattach with null
        # (OOB ⇒ null); null-SAFE key equality so NULL-keyed groups
        # still receive their picked value (plain == never matches NULL).
        # picked keys are renamed first — both sides share lineage, so
        # dropping by Column reference resolves ambiguously
        all_groups = df.groupBy(*keys).agg(F.count("*").alias("__sz__")).drop("__sz__")
        for k in self.keys:
            picked = picked.withColumnRenamed(k, f"__p_{k}__")
        cond = None
        for k in self.keys:
            c = all_groups[k].eqNullSafe(picked[f"__p_{k}__"])
            cond = c if cond is None else (cond & c)
        res = all_groups.join(picked, cond, "left").drop(*[f"__p_{k}__" for k in self.keys])
        return Frame(res, list(self.keys), self.frame.name)

    def trimmed_mean(self, col: str, frac: float = 0.1, *, out: str | None = None) -> Frame:
        """Robust per-group mean with the top and bottom ``frac`` of
        values dropped (k = floor(n·frac) from each tail, ranks
        tie-broken by value order only — equal values are
        interchangeable, so the kept SUM is well-defined). One ranked
        window + one aggregate on the same keyed sort; the sum of the
        kept values is exact, with a single division at the end.
        Groups where trimming empties the sample (n ≤ 2k) drop."""
        keys = self._key_cols()
        w = Window.partitionBy(*keys).orderBy(F.col(col))
        tot = Window.partitionBy(*keys)
        ranked = self.frame.df.filter(F.col(col).isNotNull()).select(
            *keys,
            F.col(col),
            F.row_number().over(w).alias("__r__"),
            F.count(F.lit(1)).over(tot).alias("__n__"),
        )
        k = F.floor(F.col("__n__") * F.lit(float(frac))).cast("long")
        kept = ranked.filter((F.col("__r__") > k) & (F.col("__r__") <= F.col("__n__") - k))
        res = kept.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_kept"),
            (F.sum(F.col(col)).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                out or f"trimmed_mean_{col}"
            ),
        )
        return Frame(res, list(self.keys), self.frame.name)

    # -- group filtering (reference groupers.go:232-254) ---------------
    def having_count(self, pred: Callable[[Column], Column]) -> Frame:
        """Keep rows of groups whose row count satisfies pred."""
        w = Window.partitionBy(*self._key_cols())
        df = self.frame.df.withColumn("__gc__", F.count("*").over(w))
        out = df.filter(pred(F.col("__gc__"))).drop("__gc__")
        return Frame(out, self.frame.labels, self.frame.name)

    def top_k(self, k: int, *order_specs: tuple[str, bool] | str, out: str = "rank") -> Frame:
        """Top-k rows per group by the given (col, ascending) specs —
        row_number window then filter; no global sort, one exchange.
        The per-group twin of Frame.top_k."""
        exprs = []
        for spec in order_specs:
            name, asc = (spec, True) if isinstance(spec, str) else spec
            c = F.col(name)
            exprs.append(c.asc() if asc else c.desc())
        w = Window.partitionBy(*self._key_cols()).orderBy(*exprs)
        df = self.frame.df.withColumn(out, F.row_number().over(w)).filter(F.col(out) <= k)
        return Frame(df, self.frame.labels, self.frame.name)

    def col(self, name: str) -> "GroupedFrame":
        """Isolate one value column, keeping the grouping (reference
        GroupedDataFrame.Col groupers.go:556-574)."""
        self.frame.has_cols(name)
        projected = Frame(
            self.frame.df.select(*self.keys, name), list(self.keys), self.frame.name
        )
        return GroupedFrame(projected, self.keys, canon=self.canon, aligned=self.aligned)

    def get_group(self, **key_values: object) -> Frame:
        f = self.frame
        for k, v in key_values.items():
            # null-SAFE equality: a NULL-keyed group is a real group
            # (grouping treats NULL as a key value) and must be fetchable.
            # Canon grouping lists groups by their canonical STRING, so
            # the fetch must canon-transform the raw column too — else
            # the NULL group ('\\x00null') and sub-second timestamp
            # groups come back empty
            expr = canon_key(f.df, [k]) if self.canon else F.col(k)
            f = f.filter(expr.eqNullSafe(F.lit(v)))
        return f

    def list_groups(self) -> Frame:
        return Frame(self.frame.df.select(*self._key_cols()).distinct(), list(self.keys))

    def iter_groups(self, *, max_groups: int = 1000):
        """Driver-side iteration over (key_tuple, Frame) per group
        (reference group iterator groupers.go:348-365). Small-data only —
        collects the key list; each group stays a lazy filtered plan."""
        keys_rows = self.list_groups().df.limit(max_groups + 1).collect()
        if len(keys_rows) > max_groups:
            raise ValueError(f"iter_groups: >{max_groups} groups; driver-side iteration is a small-data op")
        for row in keys_rows:
            yield tuple(row), self.get_group(**{k: row[k] for k in self.keys})

    # -- custom UDAF / transform (reference groupers.go:129-135, 38-55) -
    def reduce(self, out_schema: str, fn: Callable) -> Frame:
        """Custom per-group reduction via applyInPandas (Arrow-batched).
        ``fn(pdf) -> pdf`` must return one row per group including keys."""
        res = self.frame.df.groupBy(*self._key_cols()).applyInPandas(fn, schema=out_schema)
        return Frame(res, list(self.keys), self.frame.name)

    def apply(self, out_schema: str, fn: Callable) -> Frame:
        """Per-group same-length transform written back to source rows
        (reference groupers.go:780-822). fn receives the group pdf and
        returns a same-length pdf."""
        res = self.frame.df.groupBy(*self._key_cols()).applyInPandas(fn, schema=out_schema)
        return Frame(res, self.frame.labels, self.frame.name)

    # -- rolling windows (reference groupers.go:295-345) ----------------
    def rolling_n(self, n: int, col: str, agg: str, *, order_by: Sequence[str], out: str | None = None, forward: bool = True) -> Frame:
        """Count-based rolling window. Reference RollingN is FORWARD:
        group i = rows [i, i+n) (groupers.go:295-314); incomplete tail
        windows ⇒ null. forward=False gives the conventional trailing
        window."""
        fn = _SIMPLE[agg]
        w = Window.partitionBy(*self._key_cols()).orderBy(*[F.col(c) for c in _strs(order_by)])
        frame = w.rowsBetween(0, n - 1) if forward else w.rowsBetween(-(n - 1), 0)
        cnt = F.count(F.lit(1)).over(frame)
        if agg == "median":
            val = _windowed_median(col, frame)
        else:
            val = fn(F.col(col).cast("double") if agg in ("sum", "mean", "std") else F.col(col)).over(frame)
        expr = F.when(cnt < n, F.lit(None)).otherwise(val)
        return Frame(self.frame.df.withColumn(out or f"rolling_{agg}_{col}", expr), self.frame.labels, self.frame.name)

    def rolling_duration(self, seconds: int, ts: str, col: str, agg: str, *, out: str | None = None) -> Frame:
        """Time-based rolling window: per row, rows with timestamp in
        [t, t+d) (reference groupers.go:317-345) — forward rangeBetween
        on epoch seconds. 'median' takes the same sorted-array path as
        rolling_n (Spark's median aggregate rejects window frames)."""
        fn = _SIMPLE[agg]
        df = self.frame.df.withColumn("__ts_s__", F.unix_timestamp(F.col(ts)))
        w = (
            Window.partitionBy(*self._key_cols())
            .orderBy(F.col("__ts_s__"))
            .rangeBetween(0, seconds - 1)
        )
        if agg == "median":
            val = _windowed_median(col, w)
        else:
            val = fn(F.col(col).cast("double") if agg in ("sum", "mean", "std") else F.col(col)).over(w)
        return Frame(df.withColumn(out or f"rolling_{agg}_{col}", val).drop("__ts_s__"), self.frame.labels, self.frame.name)
