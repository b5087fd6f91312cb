"""Frame — the engine's DataFrame wrapper.

Reproduces the reference's Series/DataFrame operator surface
(reference types.go:54-80, dataframe.go, series.go) as a thin layer over
``pyspark.sql.DataFrame``. Every method builds a *lazy* plan from
built-in Catalyst expressions; nothing collects.

The reference distinguishes "label" containers (its index system) from
"value" containers (types.go:74-80). Here labels are ordinary columns
tracked by name in ``Frame.labels`` so the defaults that depend on them
(group-by-all-labels — series.go:948-951; join-key inference from shared
label names — internal.go:187-213) are reproducible.

The reference's ``InPlace()`` mutator twins (series.go:346-355) have no
meaning on immutable plans; every method returns a new Frame.
Sticky-error chaining (internal.go:60-74) maps to plain exceptions at
plan-build time.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from tada_spark.plans.semantics import (
    ROWID,
    canon_key,
    canon_sql,
    canon_str,
    normalize_nulls,
    null_safe_div,
    py_canon,
    sort_exprs,
    sql_name,
    sql_str,
    with_rowid,
)

ColumnLike = Column | str


def _det_repr(col: Column, dt: T.DataType) -> Column:
    """Cross-engine-deterministic string repr of a value BY TYPE — the
    shared rule set behind profile() and content_digest(). An engine's
    native double/timestamp rendering is a documented divergence class,
    so: float/double → e6-quantized micro-unit integer (floor idiom),
    timestamp/date → epoch microseconds, everything else → verbatim
    string cast. DuckDB twins: CAST(FLOOR(x * 1000000 + 0.5) AS
    BIGINT)::VARCHAR and epoch_us(ts)::VARCHAR."""
    from tada_spark.plans.timeutil import epoch_us

    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # |x| ≥ ~9.22e12 would saturate the e6-quantized long (every
        # huge value collapsing to Long.MAX — content_digest losing
        # discrimination; the DuckDB twin errors instead): out-of-range
        # values fall back to a DECIMAL(38,6) render, which both
        # engines print identically. Twin:
        #   CASE WHEN ABS(x) < 9000000000000 THEN
        #     CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)::VARCHAR
        #   ELSE TRY_CAST(x AS DECIMAL(38,6))::VARCHAR END
        quantized = F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long").cast("string")
        exact = col.try_cast("decimal(38,6)").cast("string")
        return F.when(F.abs(col) < F.lit(9.0e12), quantized).otherwise(exact)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return epoch_us(col, dt).cast("string")
    return col.cast("string")


def _col(c: ColumnLike) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _strs(v: Sequence[str] | str | None) -> list[str] | None:
    """Column-name list arguments accept a bare string as ONE name.
    Without this, ``order_by="ts"`` satisfies Sequence[str] but iterates
    as characters — resolving to single-letter columns or erroring."""
    if v is None:
        return None
    if isinstance(v, str):
        return [v]
    return list(v)


class Frame:
    """Immutable wrapper: Spark DataFrame + label metadata + name."""

    def __init__(
        self,
        df: DataFrame,
        labels: Sequence[str] = (),
        name: str = "",
        order_keys: Sequence[str] | None = None,
    ):
        missing = [c for c in labels if c not in df.columns]
        if missing:
            raise KeyError(f"label columns not in frame: {missing}")
        self.df = df
        self.labels = list(labels)
        self.name = name
        #: declared row order (set by .ordered(keys)); lets positional
        #: ops re-derive fresh positions after row-removing transforms
        #: instead of reusing a stale __rowid__
        self.order_keys = list(order_keys) if order_keys else None

    # ------------------------------------------------------------------
    # construction / plumbing
    # ------------------------------------------------------------------
    @classmethod
    def read_parquet(
        cls,
        spark: SparkSession,
        path: str,
        labels: Sequence[str] = (),
        *,
        merge_schema: bool = False,
    ) -> "Frame":
        """Parquet scan. Files with TIMESTAMP(NANOS) columns (which Spark's
        vectorized reader rejects) are read via nanosAsLong and converted
        to micros-truncated timestamps — same truncation DuckDB applies,
        so oracle comparisons agree. Conversion is a narrow projection
        folded into the scan; pushdown/pruning unaffected.

        ``merge_schema=True`` unions the schemas of ALL footers instead
        of sampling one file — the schema-EVOLUTION read: a directory
        whose older files lack newer columns loads with the superset
        schema, missing columns null-filled per file. Off by default
        (footer-merge costs a pass over file metadata; a 100 TB lake
        turns it on only for evolving tables)."""
        nanos_cols: list[str] = []
        try:
            # pyarrow resolves single files AND directory datasets; a
            # silently-empty nanos list would hand back raw long nanos.
            # Non-nanos timestamps (naive us/ms -> TIMESTAMP_NTZ,
            # tz-adjusted -> TIMESTAMP) are read natively — operators
            # are family-robust (plans/timeutil.py), so no cast here.
            from tada_spark.plans.timeutil import parquet_time_columns

            # with merge_schema the ns check must also union fragments —
            # a directory where only NEWER files carry a nanos column
            # would otherwise miss the shim and fail the Spark read
            nanos_cols = [
                name
                for name, (unit, _tz) in parquet_time_columns(
                    path, all_fragments=merge_schema
                ).items()
                if unit == "ns"
            ]
        except Exception:
            pass
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if not nanos_cols:
            return cls(reader.parquet(path), labels)
        # the legacy flag is session-global: restore it after the read
        # so unrelated later parquet reads keep failing loudly on nanos
        # instead of silently surfacing raw longs
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = reader.parquet(path)
            for c in nanos_cols:
                # legacy INT96 files ALSO report unit='ns' through
                # pyarrow, but Spark reads them natively as TIMESTAMP
                # (nanosAsLong only affects INT64-nanos) — shim only
                # columns that actually surfaced as raw long nanos.
                # ns→us must be INTEGER floor-division: the double
                # detour (n/1000.0) rounds modern epoch values to a
                # multiple of 256 ns and shifts some stamps by 1 µs
                if isinstance(df.schema[c].dataType, T.LongType):
                    q = F.expr(f"`{c}` div 1000")
                    r = F.expr(f"`{c}` % 1000")
                    df = df.withColumn(
                        c,
                        F.timestamp_micros(
                            F.when(r < 0, q - F.lit(1)).otherwise(q)
                        ),
                    )
            # the shim columns are resolved eagerly above; reading the
            # schema forces plan analysis while the flag is still set
            df.schema
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        return cls(df, labels)

    @classmethod
    def read_csv(
        cls,
        spark: SparkSession,
        path: str,
        *,
        header: bool = True,
        infer: bool = False,
        labels: Sequence[str] = (),
        blank_as_null: bool = False,
    ) -> "Frame":
        """CSV ingest (reference CSVReader io.go:304-359): all-string by
        default with opt-in inference, null-string shim applied."""
        df = spark.read.csv(path, header=header, inferSchema=infer)
        return cls(normalize_nulls(df, blank_as_null=blank_as_null), labels)

    @classmethod
    def read_jsonl(
        cls,
        spark: SparkSession,
        path: str,
        *,
        schema: str | None = None,
        labels: Sequence[str] = (),
    ) -> "Frame":
        """Line-delimited JSON ingest — the interchange format every
        crawl/annotation pipeline emits. Schema is explicit when given
        (the 100 TB path: inference samples the data and costs an extra
        scan; a declared schema also pins types across heterogeneous
        producers), inferred otherwise. Splittable like CSV: one JSON
        doc per line, so executors scan ranges independently."""
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return cls(reader.json(path), labels)

    def write_jsonl(self, path: str, *, mode: str = "overwrite") -> None:
        """Distributed line-delimited JSON sink (one object per line;
        null fields are omitted per JSON-lines convention — the codec
        module's column-oriented JSON keeps explicit null masks when
        exact null round-trip matters)."""
        self.to_df().write.mode(mode).json(path)

    @classmethod
    def read_orc(
        cls, spark: SparkSession, path: str, labels: Sequence[str] = ()
    ) -> "Frame":
        """ORC ingest — the other columnar warehouse format (Hive-lineage
        clusters emit it). Same pushdown/pruning/vectorization story as
        parquet; ORC stores timestamps timezone-agnostically so the
        parquet ns/NTZ shims aren't needed."""
        return cls(spark.read.orc(path), labels)

    def write_orc(
        self,
        path: str,
        *,
        mode: str = "overwrite",
        partition_by: Sequence[str] | None = None,
    ) -> None:
        """Distributed ORC sink (columnar, splittable, footer stats)."""
        w = self.to_df().write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.orc(path)

    @classmethod
    def read_binary_files(
        cls,
        spark: SparkSession,
        path: str,
        *,
        glob: str | None = None,
        labels: Sequence[str] = (),
    ) -> "Frame":
        """Opaque-file ingest via Spark's binaryFile source: one row per
        file with (path, modificationTime, length, content binary) — the
        REAL ingest path for the multimodal tier (images/audio/video land as
        files; this turns a directory of them into the (media_id,
        payload) shape functions/multimodal decoders consume, with
        executors reading files in parallel). ``glob`` filters by
        pathGlobFilter (e.g. '*.png') at listing time."""
        reader = spark.read.format("binaryFile")
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        return cls(reader.load(path), labels)

    def _wrap(self, df: DataFrame, labels: Sequence[str] | None = None) -> "Frame":
        labels = self.labels if labels is None else list(labels)
        keys = self.order_keys
        if keys and any(k not in df.columns for k in keys):
            keys = None  # order keys projected away
        return Frame(df, [c for c in labels if c in df.columns], self.name, order_keys=keys)

    def _wrap_reordered(self, df: DataFrame) -> "Frame":
        """Wrap a result whose row set or row order changed: the old
        __rowid__ no longer equals position, so drop it; positional ops
        re-derive from order_keys on demand."""
        return self._wrap(df.drop(ROWID) if ROWID in df.columns else df)

    def to_df(self) -> DataFrame:
        return self.df.drop(ROWID) if ROWID in self.df.columns else self.df

    def cache(self) -> "Frame":
        """Persist the plan's result (MEMORY_AND_DISK) for reuse across
        several downstream queries — the Spark answer to the reference's
        materialized-intermediate workflow (every tada op materializes;
        here materialization is opt-in at reuse points)."""
        self.df.cache()
        return self

    def unpersist(self) -> "Frame":
        self.df.unpersist()
        return self

    @property
    def columns(self) -> list[str]:
        return [c for c in self.df.columns if c != ROWID]

    @property
    def value_columns(self) -> list[str]:
        return [c for c in self.columns if c not in self.labels]

    def set_name(self, name: str) -> "Frame":
        return Frame(self.df, self.labels, name, order_keys=self.order_keys)

    # ------------------------------------------------------------------
    # schema assertions / introspection (reference dataframe.go:329-348)
    # ------------------------------------------------------------------
    def has_cols(self, *names: str) -> "Frame":
        missing = [n for n in names if n not in self.df.columns]
        if missing:
            raise KeyError(f"has_cols: missing {missing}")
        return self

    def has_labels(self, *names: str) -> "Frame":
        missing = [n for n in names if n not in self.labels]
        if missing:
            raise KeyError(f"has_labels: missing {missing}")
        return self

    def dtype(self, name: str) -> T.DataType:
        return dict((f.name, f.dataType) for f in self.df.schema.fields)[name]

    # ------------------------------------------------------------------
    # labels (reference dataframe.go:1002-1087)
    # ------------------------------------------------------------------
    def set_as_labels(self, *names: str) -> "Frame":
        self.has_cols(*names)
        return Frame(
            self.df,
            self.labels + [n for n in names if n not in self.labels],
            self.name,
            order_keys=self.order_keys,
        )

    def reset_labels(self, *names: str) -> "Frame":
        drop = set(names or self.labels)
        return Frame(
            self.df, [l for l in self.labels if l not in drop], self.name, order_keys=self.order_keys
        )

    # ------------------------------------------------------------------
    # projection (reference dataframe.go:539-567, 899-939, 1128-1179)
    # ------------------------------------------------------------------
    def cols(self, *names: str) -> "Frame":
        self.has_cols(*names)
        keep = self.labels + [n for n in names if n not in self.labels]
        return self._wrap(self.df.select(*keep))

    def drop_cols(self, *names: str) -> "Frame":
        return self._wrap(self.df.drop(*names))

    def rename(self, mapping: dict[str, str]) -> "Frame":
        df = self.df
        labels = list(self.labels)
        order_keys = list(self.order_keys) if self.order_keys else None
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
            if order_keys and old in order_keys:
                order_keys[order_keys.index(old)] = new
            labels = [new if l == old else l for l in labels]
        return Frame(df, labels, self.name, order_keys=order_keys)

    def with_col(self, name: str, col: ColumnLike) -> "Frame":
        return self._wrap(self.df.withColumn(name, _col(col)))

    def with_values(self, name: str, values: Sequence, *, max_rows: int = 100_000) -> "Frame":
        """Replace-or-append a column from a DRIVER-SIDE sequence by row
        position (reference WithCol/WithLabel slice input,
        dataframe.go:842-878): length must equal the frame length;
        positions follow the frame's declared order (__rowid__
        discipline). Driver-side data is inherently small — capped like
        transpose so it can't be misused at scale (the distributed path
        for new columns is ``with_col`` with a Column expression)."""
        n = self.df.count()
        if n > max_rows:
            raise ValueError(f"with_values: {n} rows > cap {max_rows}; driver-side values are a small-data op")
        if len(values) != n:
            raise ValueError(f"with_values: {len(values)} values != {n} rows (reference requires equal length)")
        if n == 0:
            raise ValueError("with_values: cannot infer a column type from zero values; use with_col with a typed expression")
        df = self._require_rowid()
        tmp = "__wv__"
        # Spark's own inference, NOT pandas: pandas coerces int+None to
        # float64, silently turning a long column into double. Mixed
        # int/float lists DO coerce to double (Spark's merger refuses
        # long+double, but a numerically mixed driver-side list means
        # double was intended).
        vals = list(values)
        if any(type(v) is float for v in vals) and all(
            v is None or type(v) in (int, float) for v in vals
        ):
            vals = [None if v is None else float(v) for v in vals]
        kinds = {type(v) for v in vals if v is not None}
        if len(kinds) > 1:
            # the reference takes typed slices; a heterogeneous list has
            # no single column type — fail here, not lazily inside Spark
            raise ValueError(
                f"with_values: could not infer a single type for the given values (mixed {sorted(k.__name__ for k in kinds)})"
            )
        try:
            new_rows = self.df.sparkSession.createDataFrame(
                [(i, v) for i, v in enumerate(vals)]
            ).toDF(ROWID, tmp)
        except (ValueError, TypeError) as e:
            raise ValueError(f"with_values: could not infer a single type for the given values ({e})") from None
        new = F.broadcast(new_rows)
        base = df.drop(name) if name in self.columns else df
        joined = base.join(new, ROWID).withColumnRenamed(tmp, name)
        # keep the original column position on replace; append at end otherwise
        order = self.columns if name in self.columns else self.columns + [name]
        return self._wrap(joined.select(*order, ROWID))

    def reorder_cols(self, *names: str) -> "Frame":
        """Project into the given order; unlisted columns dropped
        (reference dataframe.go:1128-1179)."""
        self.has_cols(*names)
        return self._wrap(self.df.select(*names))

    def filter_cols(self, fn: Callable[[str], bool]) -> "Frame":
        keep = [c for c in self.columns if c in self.labels or fn(c)]
        return self._wrap(self.df.select(*keep))

    # ------------------------------------------------------------------
    # positional ops — explicit-order discipline (SURVEY §4.3.1)
    # ------------------------------------------------------------------
    def ordered(self, *order_by: str) -> "Frame":
        """Materialize ``__rowid__`` from the given keys (or ingest order
        when none). Required before positional ops at scale. The keys
        are remembered so positions re-derive correctly after filters."""
        base = self.df.drop(ROWID) if ROWID in self.df.columns else self.df
        out = self._wrap(with_rowid(base, list(order_by) or None))
        out.order_keys = list(order_by) or None
        return out

    def _require_rowid(self) -> DataFrame:
        if ROWID not in self.df.columns:
            return with_rowid(self.df, self.order_keys)
        return self.df

    def head(self, n: int) -> "Frame":
        if ROWID in self.df.columns or self.order_keys:
            df = self._require_rowid()  # re-derives from order_keys if needed
            return self._wrap(df.filter(F.col(ROWID) < n))
        return self._wrap(self.df.limit(n))

    def tail(self, n: int) -> "Frame":
        df = self._require_rowid()
        total = Window.partitionBy()
        return self._wrap_reordered(
            df.withColumn("__n__", F.max(ROWID).over(total))
            .filter(F.col(ROWID) > F.col("__n__") - n)
            .drop("__n__")
        )

    def range(self, first: int, last: int) -> "Frame":
        df = self._require_rowid()
        return self._wrap_reordered(df.filter((F.col(ROWID) >= first) & (F.col(ROWID) < last)))

    def subset(self, positions: Sequence[int]) -> "Frame":
        if not positions:  # isin() with no args raises; [] means no rows
            return self._wrap_reordered(self.df.filter(F.lit(False)))
        df = self._require_rowid()
        return self._wrap_reordered(df.filter(F.col(ROWID).isin(*positions)))

    def drop_row(self, position: int) -> "Frame":
        df = self._require_rowid()
        return self._wrap_reordered(df.filter(F.col(ROWID) != position))

    def shuffle(self, seed: int) -> "Frame":
        out = self._wrap_reordered(self.df.orderBy(F.rand(seed)))
        out.order_keys = None  # order is the shuffle now, not the old keys
        return out

    # ------------------------------------------------------------------
    # filters (reference series.go:637-673, dataframe.go:1384-1412)
    # ------------------------------------------------------------------
    def filter(self, *predicates: Column, **by_col: Column) -> "Frame":
        """AND of all predicates; null rows never match (reference
        internal.go:1184 — Spark's tri-valued filter already drops
        null-valued predicates, matching the reference)."""
        preds = list(predicates) + [p for p in by_col.values()]
        if not preds:
            return self
        return self._wrap_reordered(self.df.filter(_reduce(lambda a, b: a & b, preds)))

    def filter_by_value(self, **values: object) -> "Frame":
        """Stringified-equality filter (reference internal.go:2775-2789):
        compares the column's canon string with the value's, so 1.0
        matches "1". A finite float renders JVM-side (``canon_sql`` over a
        double literal: Java's digits, which py_canon's can miss in the
        rare cases Java 17 emits non-shortest ones, e.g. 2^-24); every
        other value renders driver-side with py_canon, its lockstep twin."""
        import math as _math

        fields = {f.name: f.dataType for f in self.df.schema.fields}
        preds = []
        for name, val in values.items():
            if hasattr(val, "item") and not isinstance(val, (bool, int, float, str)):
                val = val.item()  # numpy scalars
            if val is None or (isinstance(val, float) and _math.isnan(val)):
                preds.append(F.lit(False))  # nulls never match (§1.4)
                continue
            if isinstance(val, float) and _math.isfinite(val):
                lit = canon_sql(f"{val!r}D", T.DoubleType())
            else:
                lit = sql_str(py_canon(val))
            preds.append(F.expr(f"{canon_sql(sql_name(name), fields.get(name))} = {lit}"))
        return self.filter(*preds)

    def where(self, cond: Column, if_true: ColumnLike, if_false: ColumnLike, as_col: str = "where") -> "Frame":
        """Per-row ternary; rows where cond is NULL yield NULL (reference
        series.go:683-703 — null if any filtered container null)."""
        expr = (
            F.when(cond.isNull(), F.lit(None))
            .when(cond, _col(if_true) if not isinstance(if_true, Column) else if_true)
            .otherwise(_col(if_false) if not isinstance(if_false, Column) else if_false)
        )
        return self.with_col(as_col, expr)

    def drop_null(self, *subset: str) -> "Frame":
        return self._wrap_reordered(self.df.na.drop(how="any", subset=list(subset) or None))

    def null_rows(self, *subset: str) -> "Frame":
        """Keep rows with any null (reference IsNull, series.go:320-323)."""
        cols = list(subset) or self.columns
        pred = _reduce(lambda a, b: a | b, [F.col(c).isNull() for c in cols])
        return self._wrap_reordered(self.df.filter(pred))

    # ------------------------------------------------------------------
    # nulls (reference types.go:178-189, internal.go:936-983)
    # ------------------------------------------------------------------
    def fill_null(
        self,
        how: str = "zero",
        *,
        subset: Sequence[str] | None = None,
        value: object = None,
        order_by: Sequence[str] | None = None,
        partition_by: Sequence[str] | None = None,
    ) -> "Frame":
        """zero / value / forward / backward fill.

        forward/backward need a row order: pass ``order_by`` (scale-safe)
        or pre-call .ordered(). Implemented as last/first-ignorenulls over
        a running frame — one window, no self-join.
        """
        cols = _strs(subset) if subset else self.value_columns
        if how == "zero":
            return self._wrap(self.df.na.fill(0, subset=cols))
        if how == "value":
            return self._wrap(self.df.na.fill(value, subset=cols))
        if how in ("forward", "backward"):
            df = self.df
            if order_by:
                keys = _strs(order_by)
            else:
                # honor the frame's declared order (and any live rowid)
                # — bare with_rowid(df) would fill in PHYSICAL ingest
                # order, silently wrong whenever disk order differs
                # from the declared one
                df = self._require_rowid()
                keys = [ROWID]
            base = Window.partitionBy(*[F.col(c) for c in (_strs(partition_by) or [])])
            if how == "forward":
                w = base.orderBy(*keys).rowsBetween(Window.unboundedPreceding, 0)
                fill = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
            else:
                w = base.orderBy(*keys).rowsBetween(0, Window.unboundedFollowing)
                fill = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
            out = df
            for c in cols:
                out = out.withColumn(c, fill(c))
            return self._wrap(out)
        raise ValueError(f"fill_null: unknown how={how!r}")

    def interpolate(
        self,
        name: str,
        *,
        x_col: str,
        partition_by: Sequence[str] | None = None,
        tiebreak: Sequence[str] | str | None = None,
        as_col: str | None = None,
    ) -> "Frame":
        """Linear interpolation of null values against a numeric axis
        (free extension of the fill_null family): each null gets
        prev + (next − prev)·(x − x_prev)/(x_next − x_prev), where
        prev/next are the nearest non-null neighbors by ``x_col`` order
        within ``partition_by`` (``tiebreak`` keys pin the order when x
        values collide — pass a unique id for determinism). Leading/
        trailing nulls (one-sided) stay null — interpolation never
        extrapolates. Coincident neighbor x (x_next == x_prev) falls
        back to prev.

        Scale shape: ONE shuffle on the partition keys, then two framed
        passes over the same sort (carry-last-forward and
        carry-first-backward) — no self-join, linear in rows."""
        part = _strs(partition_by) or []
        xs = [x_col, *(_strs(tiebreak) or [])]
        w = Window.partitionBy(*[F.col(c) for c in part]).orderBy(*[F.col(c) for c in xs])
        c = F.col(name)
        # a NULL-x row can never be a neighbor: it sorts first and its
        # null x makes dx NULL, which the coincident-x otherwise-branch
        # would treat as "fall back to prev" — extrapolating from a row
        # that has no position on the axis
        known = F.when(
            c.isNotNull() & F.col(x_col).isNotNull(),
            F.struct(F.col(x_col).alias("x"), c.alias("v")),
        )
        prev = F.last(known, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        nxt = F.first(known, ignorenulls=True).over(
            w.rowsBetween(1, Window.unboundedFollowing)
        )
        dx = (nxt["x"] - prev["x"]).cast("double")
        frac = (F.col(x_col) - prev["x"]).cast("double") / dx
        interp = F.when(dx > 0, prev["v"] + (nxt["v"] - prev["v"]) * frac).otherwise(prev["v"])
        filled = F.when(c.isNotNull(), c).when(
            prev.isNotNull() & nxt.isNotNull(), interp
        )
        return self.with_col(as_col or name, filled)

    # ------------------------------------------------------------------
    # casts (reference valueContainers.go:80-122; §1.3 type table)
    # ------------------------------------------------------------------
    #: Multi-format datetime parse order (reference options.go:20-23),
    #: tried first-to-last; first successful parse wins.
    #: The reference's full accepted-format list (reference options.go:20-23):
    #: ISO/RFC3339 forms, US-slash/dash dates, RFC822, Go's default
    #: "-0700 MST" render, and kitchen time (handled separately below —
    #: Java 'a' can't match lowercase "pm"). RFC3339Nano's variable-width
    #: fraction is covered by the 3/6/9-digit variants.
    DATETIME_FORMATS = (
        "yyyy-MM-dd HH:mm:ss",
        "yyyy-MM-dd'T'HH:mm:ssXXX",
        "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX",
        "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd",
        "M-d-yyyy",
        "M/d/yyyy H:mm",
        "M/d/yyyy",
        "M/d/yy",
        "d MMM yy HH:mm zzz",
        "d MMM yy HH:mm",
        "yyyy-MM-dd HH:mm:ss xx zzz",
    )

    #: Where the 2-digit year sits in each yy-format's SOURCE string. The
    #: century decision must come from the string, not from year(parsed):
    #: zoned inputs convert to session-UTC first, so a local 2068/2069
    #: New-Year's-Eve timestamp would read the wrong year and shift the
    #: wrong way by a century.
    _YY_EXTRACT = {
        "M/d/yy": r"^\s*\d{1,2}/\d{1,2}/(\d{2})\s*$",
        "d MMM yy HH:mm zzz": r"^\s*\d{1,2} [A-Za-z]{3} (\d{2}) ",
        "d MMM yy HH:mm": r"^\s*\d{1,2} [A-Za-z]{3} (\d{2}) ",
    }

    @classmethod
    def _parse_attempt(cls, c: Column, fmt: str) -> Column:
        """One try_to_timestamp attempt. Formats with a 2-digit year get
        the C/Go century convention (69-99 → 19xx): Java 'yy' maps into
        2000-2099, so the reference (Go Parse) and the C strptime oracle
        would both disagree with a raw Java parse for years ≥ 2069."""
        p = F.try_to_timestamp(c, F.lit(fmt))
        if "yy" in fmt and "yyyy" not in fmt:
            pat = cls._YY_EXTRACT.get(fmt)
            if pat is None:
                # fail loudly: a yy-format without an extractor would
                # silently lose the 69-99 → 19xx century convention
                raise ValueError(f"cast: 2-digit-year format {fmt!r} has no _YY_EXTRACT pattern")
            yy = F.regexp_extract(F.trim(c), pat, 1).try_cast("int")
            p = F.when(yy >= 69, p - F.make_interval(years=F.lit(100))).otherwise(p)
        return p

    def _datetime_attempts(self, c: Column) -> list[Column]:
        attempts = [self._parse_attempt(c, fmt) for fmt in self.DATETIME_FORMATS]
        # kitchen time "3:04PM" / "3:04pm" (Go time.Kitchen + lowercase):
        # uppercase the value so Java's case-sensitive 'a' matches both
        attempts.append(F.try_to_timestamp(F.upper(F.trim(c)), F.lit("h:mma")))
        return attempts

    def cast(self, **types: str) -> "Frame":
        """Per-column dtype coercion with parse-failure→null semantics
        (reference valueContainers.go:65-71: failed parses yield null —
        Spark's ANSI-off cast and try_to_timestamp match)."""
        df = self.df
        for name, dtype in types.items():
            c = F.col(name)
            if dtype in ("timestamp", "datetime"):
                src = self.dtype(name)
                if isinstance(src, T.StringType):
                    df = df.withColumn(name, F.coalesce(*self._datetime_attempts(c)))
                else:
                    df = df.withColumn(name, c.cast("timestamp"))
            elif dtype == "time":
                # time-of-day dtype (reference civil.Time, types.go:207-220):
                # Spark 4.x native TIME — orders chronologically in sorts
                # (reference sort coercion internal.go:1286-1295); parse
                # failure → null like every other cast
                df = df.withColumn(name, c.try_cast("time"))
            elif dtype == "date" and isinstance(self.dtype(name), T.StringType):
                # same multi-format fallback as timestamp — a bare
                # try_cast('date') only accepts ISO forms and would
                # silently null non-ISO columns the inference voted date
                df = df.withColumn(name, F.coalesce(*self._datetime_attempts(c)).cast("date"))
            else:
                # try_cast: parse-failure→null even under ANSI sessions
                df = df.withColumn(name, c.try_cast(dtype))
        return self._wrap(df)

    # ------------------------------------------------------------------
    # scalar transforms (reference §2.4)
    # ------------------------------------------------------------------
    def apply(self, name: str, expr: Column) -> "Frame":
        """Column-expression apply — the fast path. Arbitrary python
        lambdas go through apply_pandas (Arrow-vectorized)."""
        return self.with_col(name, expr)

    def apply_pandas(self, name: str, fn: Callable, return_type: str = "double", *input_cols: str) -> "Frame":
        """Reference ApplyFn (types.go:195-199) — vectorized pandas_udf,
        never row-at-a-time python."""
        udf = F.pandas_udf(fn, returnType=return_type)
        cols = [F.col(c) for c in (input_cols or [name])]
        return self.with_col(name, udf(*cols))

    def set_rows(self, name: str, positions: Sequence[int], expr: Column) -> "Frame":
        """Apply only at given row positions (reference series.go:769-792)."""
        df = self._require_rowid()
        out = df.withColumn(name, F.when(F.col(ROWID).isin(*positions), expr).otherwise(F.col(name)))
        return self._wrap(out)

    def add(self, out: str, a: str, b: str, *, ignore_nulls: bool = False) -> "Frame":
        return self._arith(out, a, b, "+", ignore_nulls)

    def subtract(self, out: str, a: str, b: str, *, ignore_nulls: bool = False) -> "Frame":
        return self._arith(out, a, b, "-", ignore_nulls)

    def multiply(self, out: str, a: str, b: str, *, ignore_nulls: bool = False) -> "Frame":
        return self._arith(out, a, b, "*", ignore_nulls)

    def divide(self, out: str, a: str, b: str) -> "Frame":
        """÷0 / Inf / NaN → null (reference series.go:930-938)."""
        return self.with_col(out, null_safe_div(F.col(a).cast("double"), F.col(b).cast("double")))

    def _arith(self, out: str, a: str, b: str, op: str, ignore_nulls: bool) -> "Frame":
        ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
        if ignore_nulls:  # missing treated as 0 (reference combineMath internal.go:1519-1558)
            ca, cb = F.coalesce(ca, F.lit(0.0)), F.coalesce(cb, F.lit(0.0))
        expr = {"+": ca + cb, "-": ca - cb, "*": ca * cb}[op]
        return self.with_col(out, expr)

    def combine(
        self,
        other: "Frame",
        op: str,
        *,
        left_col: str,
        right_col: str,
        out: str = "result",
        ignore_nulls: bool = False,
    ) -> "Frame":
        """Label-aligned cross-frame arithmetic (reference Series
        Add/Subtract/Multiply/Divide, series.go:891-938): left-join the
        other frame on shared labels, then combine columns. ignore_nulls
        treats a missing/null side as 0; ÷ uses the ÷0→null rule."""
        rc = right_col if right_col != left_col else f"{right_col}_1"
        o = other.rename({right_col: rc}) if rc != right_col else other
        joined = self.lookup(o.cols(rc))
        if op == "/":
            ca, cb = F.col(left_col).cast("double"), F.col(rc).cast("double")
            if ignore_nulls:
                # reference combineMath treats a missing/null side as 0
                # for EVERY op (internal.go:1519-1558): 0/x = 0, and
                # x/0 still hits the ÷0→null rule below
                ca, cb = F.coalesce(ca, F.lit(0.0)), F.coalesce(cb, F.lit(0.0))
            return joined.with_col(out, null_safe_div(ca, cb)).drop_cols(rc)
        return joined._arith(out, left_col, rc, op, ignore_nulls).drop_cols(rc)

    def filter_index(self, predicate: Column, *, order_by: Sequence[str] | None = None) -> "Frame":
        """Row positions matching a predicate (reference FilterIndex
        series.go:613-627) — positions defined by the explicit ordering,
        else the frame's declared order, else ingest order."""
        if order_by:
            # an existing __rowid__ (e.g. from .ordered(other_key))
            # would short-circuit with_rowid and silently ignore the
            # EXPLICITLY requested ordering — drop it first
            base = self.df.drop(ROWID) if ROWID in self.df.columns else self.df
            df = with_rowid(base, _strs(order_by))
        else:
            df = self._require_rowid()
        return Frame(df.filter(predicate).select(F.col(ROWID).alias("position")), [], self.name)

    # ------------------------------------------------------------------
    # ordering-dependent transforms (reference §2.4) — explicit keys
    # ------------------------------------------------------------------
    def _order_window(self, order_by: Sequence[str], partition_by: Sequence[str] | None):
        return Window.partitionBy(*[F.col(c) for c in (_strs(partition_by) or [])]).orderBy(
            *[F.col(c) for c in _strs(order_by)]
        )

    def shift(self, name: str, n: int, *, order_by: Sequence[str], partition_by: Sequence[str] | None = None, as_col: str | None = None) -> "Frame":
        w = self._order_window(order_by, partition_by)
        return self.with_col(as_col or name, F.lag(F.col(name), n).over(w))

    def cum_sum(self, name: str, *, order_by: Sequence[str], partition_by: Sequence[str] | None = None, as_col: str | None = None) -> "Frame":
        """Running sum, nulls contribute 0 (reference internal.go:2173-2183)."""
        w = self._order_window(order_by, partition_by).rowsBetween(Window.unboundedPreceding, 0)
        return self.with_col(as_col or f"cumsum_{name}", F.sum(F.coalesce(F.col(name), F.lit(0))).over(w))

    def rank(self, name: str, *, partition_by: Sequence[str] | None = None, as_col: str | None = None, descending: bool = False) -> "Frame":
        """Dense ascending rank; ties share; nulls → null rank (reference
        internal.go:2302-2351 uses -999 sentinel; NULL is the SQL analog)."""
        key = F.col(name).desc() if descending else F.col(name).asc()
        # nulls excluded from the ranking domain by partitioning on isNull
        w = Window.partitionBy(*[F.col(c) for c in (_strs(partition_by) or [])], F.col(name).isNull()).orderBy(key)
        r = F.when(F.col(name).isNull(), F.lit(None)).otherwise(F.dense_rank().over(w))
        return self.with_col(as_col or f"rank_{name}", r)

    def percentile(self, name: str, *, partition_by: Sequence[str] | None = None, as_col: str | None = None) -> "Frame":
        """Exclusive percentile rank: fraction of non-null values strictly
        below (reference internal.go:2353-2388). rank()-1 counts rows
        strictly below (ties share min rank), over the non-null domain."""
        part = [F.col(c) for c in (_strs(partition_by) or [])]
        is_null = F.col(name).isNull()
        w = Window.partitionBy(*part, is_null).orderBy(F.col(name))
        cnt = F.count("*").over(Window.partitionBy(*part, is_null))
        pr = F.when(is_null, F.lit(None)).otherwise((F.rank().over(w) - 1) / cnt)
        return self.with_col(as_col or f"pct_{name}", pr)

    def bin(
        self,
        name: str,
        edges: Sequence[float],
        *,
        labels: Sequence[str] | None = None,
        as_col: str | None = None,
        and_less: bool = False,
        and_more: bool = False,
    ) -> "Frame":
        """Numeric binning, left-exclusive right-inclusive, nulls
        uncategorized → null (reference cut internal.go:2208-2300).
        and_less/and_more add open-ended ±Inf edge bins (reference
        Binner.AndLess/AndMore, types.go:259-263)."""
        edges = list(edges)
        labs = list(labels) if labels else [f"{_fmt_edge(edges[i])}-{_fmt_edge(edges[i+1])}" for i in range(len(edges) - 1)]
        lo_edges = [(edges[i], edges[i + 1], labs[i]) for i in range(len(edges) - 1)]
        c = F.col(name)
        expr: Column = F.lit(None).cast("string")
        if and_more:
            expr = F.when(c > edges[-1], F.lit(f">{_fmt_edge(edges[-1])}")).otherwise(expr)
        for lo, hi, lab in reversed(lo_edges):
            expr = F.when((c > lo) & (c <= hi), F.lit(lab)).otherwise(expr)
        if and_less:
            expr = F.when(c <= edges[0], F.lit(f"<={_fmt_edge(edges[0])}")).otherwise(expr)
        return self.with_col(as_col or f"bin_{name}", expr)

    def percentile_bin(self, name: str, edges: Sequence[float], *, labels: Sequence[str] | None = None, partition_by: Sequence[str] | None = None, as_col: str | None = None) -> "Frame":
        """Bin by percentile edges, left-inclusive right-exclusive
        (reference pcut internal.go:2392-2408)."""
        tmp = f"__pct_{name}__"
        out = self.percentile(name, partition_by=partition_by, as_col=tmp)
        c = F.col(tmp)
        expr: Column = F.lit(None).cast("string")
        for i in range(len(edges) - 1, 0, -1):
            lo, hi = edges[i - 1], edges[i]
            lab = labels[i - 1] if labels else f"{_fmt_edge(lo)}-{_fmt_edge(hi)}"
            cond = (c >= lo) & ((c < hi) | (F.lit(hi) >= 1.0) & (c <= 1.0))
            expr = F.when(cond, F.lit(lab)).otherwise(expr)
        return out.with_col(as_col or f"pbin_{name}", expr).drop_cols(tmp)

    def resample(self, name: str, by: str, *, as_col: str | None = None, duration_seconds: int | None = None, week_start: str = "SUNDAY") -> "Frame":
        """Truncate datetimes by year/month/day/week/duration (reference
        types.go:244-252, internal.go:2423-2479).

        The rebuilt bucket keeps the input column's timestamp family
        (NTZ in, NTZ out) — `date_trunc` already preserves it, but the
        week/duration arithmetic would otherwise leak LTZ
        (interval math on NTZ promotes; `timestamp_seconds` is
        LTZ-only), breaking schema parity with the source."""
        from tada_spark.plans.timeutil import as_family, epoch_us, timestamp_from_us

        c = F.col(name)
        dt = self.dtype(name)
        if by in ("year", "month", "day", "hour", "minute"):
            # date_trunc returns LTZ even for NTZ input — restore family
            expr = as_family(F.date_trunc(by, c), dt)
        elif by == "week":
            # previous-or-same week_start day (reference startOfWeek)
            day_target = {"SUNDAY": 1, "MONDAY": 2, "TUESDAY": 3, "WEDNESDAY": 4, "THURSDAY": 5, "FRIDAY": 6, "SATURDAY": 7}[week_start]
            d = F.date_trunc("day", c)
            delta = (F.dayofweek(d) - F.lit(day_target) + 7) % 7
            expr = as_family(d - F.make_interval(days=delta.cast("int")), dt)
        elif by == "duration":
            secs = int(duration_seconds)
            w_us = secs * 1_000_000
            expr = timestamp_from_us(F.floor(epoch_us(c, dt) / w_us) * w_us, dt)
        else:
            raise ValueError(f"resample: unknown by={by!r}")
        return self.with_col(as_col or name, expr)

    # ------------------------------------------------------------------
    # sort / top-k (reference §2.5)
    # ------------------------------------------------------------------
    def sort(self, *specs: tuple[str, bool] | str, cast: dict[str, str] | None = None, stable: bool = False) -> "Frame":
        """Multi-key sort, nulls always last (reference types.go:165).
        ``stable=True`` appends __rowid__ as final tiebreaker (Spark sort
        is not stable; reference sort is — internal.go:1312-1330)."""
        exprs = sort_exprs(list(specs), cast=cast)
        df = self.df
        if stable:
            df = with_rowid(df, self.order_keys)
            exprs = exprs + [F.col(ROWID).asc()]
        out = self._wrap_reordered(df.orderBy(*exprs))
        out.order_keys = None  # order is now the sort spec, not the old keys
        return out

    def top_k(self, k: int, *specs: tuple[str, bool] | str) -> "Frame":
        return self.sort(*specs).head(k)

    # ------------------------------------------------------------------
    # set ops (reference §2.2 Append; §2.9)
    # ------------------------------------------------------------------
    def append(self, other: "Frame") -> "Frame":
        """Vertical concat; type-mismatched columns coerce to string
        (reference internal.go:1159-1170)."""
        a, b = self.to_df(), other.to_df()  # strip stale rowids pre-union
        a_types = {f.name: f.dataType for f in a.schema.fields}
        b_types = {f.name: f.dataType for f in b.schema.fields}
        for name in set(a_types) & set(b_types):
            if a_types[name] != b_types[name]:
                a = a.withColumn(name, F.col(name).cast("string"))
                b = b.withColumn(name, F.col(name).cast("string"))
        return self._wrap_reordered(a.unionByName(b, allowMissingColumns=True))

    def intersect(self, other: "Frame") -> "Frame":
        """SQL INTERSECT — distinct set semantics (one row per distinct
        match). Bag semantics: ``intersect_all``."""
        return self._wrap(self.to_df().intersect(other.to_df()))

    def except_(self, other: "Frame") -> "Frame":
        """SQL EXCEPT — distinct set semantics, matching ``intersect``.
        Bag semantics (multiplicity-preserving): ``except_all``."""
        return self._wrap(self.to_df().subtract(other.to_df()))

    def intersect_all(self, other: "Frame") -> "Frame":
        """SQL INTERSECT ALL — multiplicity-preserving."""
        return self._wrap(self.to_df().intersectAll(other.to_df()))

    def except_all(self, other: "Frame") -> "Frame":
        """SQL EXCEPT ALL — multiplicity-preserving."""
        return self._wrap(self.to_df().exceptAll(other.to_df()))

    # ------------------------------------------------------------------
    # joins (reference §2.6 — lookup semantics: first-match-only)
    # ------------------------------------------------------------------
    def lookup(
        self,
        other: "Frame",
        *,
        how: str = "left",
        left_on: Sequence[str] | None = None,
        right_on: Sequence[str] | None = None,
        first_match: str = "arbitrary",
        broadcast: bool | None = None,
        unique_keys: bool = False,
    ) -> "Frame":
        """Dictionary-lookup join: only ONE matching right row is used —
        no row multiplication (reference internal.go:1486-1517). Keys
        default to shared label names (internal.go:187-213).

        first_match='ordered' reproduces the reference's first-appearance
        pick via min-__rowid__; 'arbitrary' (default) is the scale-safe
        dropDuplicates. ``broadcast`` forces/forbids a broadcast of the
        deduped right side; default lets AQE decide.

        ``unique_keys=True`` asserts the right keys are already unique
        (a primary key): the first-match dedupe is then a no-op and is
        skipped, saving one full shuffle+aggregate of the build side per
        join — the difference between one exchange and two on every
        fact→dim hop at scale.
        """
        if left_on is None and right_on is None:
            shared = [l for l in self.labels if l in other.labels] or [
                c for c in self.columns if c in other.columns
            ]
            if not shared:
                raise ValueError("lookup: no shared keys and none given")
            left_on = right_on = shared
        elif left_on is None or right_on is None:
            # one side given: same names on both sides (don't silently
            # discard the provided keys and re-infer)
            left_on = right_on = left_on if left_on is not None else right_on
        left_on, right_on = _strs(left_on), _strs(right_on)

        if how == "right":
            # reference how=right anchors on the RIGHT labels
            # (internal.go:1560-1605): swap sides
            return other.lookup(
                self,
                how="left",
                left_on=right_on,
                right_on=left_on,
                first_match=first_match,
                broadcast=broadcast,
                # the caller asserted OTHER's keys unique; after the
                # swap the build side is SELF, so the assertion does
                # not transfer
                unique_keys=False,
            )

        # dedupe keys: when key types differ the JOIN compares canon
        # strings, so the dedupe must too — raw-distinct but canon-equal
        # right rows would otherwise survive dedupe and multiply left
        # rows (violating the one-match contract)
        lfields = {f.name: f.dataType for f in self.df.schema.fields}
        rfields_all = {f.name: f.dataType for f in other.df.schema.fields}
        canon_keys = [
            rk
            for lk, rk in zip(left_on, right_on)
            if type(lfields[lk]) is not type(rfields_all[rk])
        ]

        right = other.df
        dedupe_cols = list(right_on)
        tmp_canon: list[str] = []
        if canon_keys:
            for rk in canon_keys:
                tc = f"__canon_{rk}__"
                right = right.withColumn(tc, canon_str(rk, rfields_all[rk]))
                dedupe_cols[dedupe_cols.index(rk)] = tc
                tmp_canon.append(tc)
        if unique_keys:
            pass  # caller asserts PK — skip the dedupe exchange entirely
        elif first_match == "ordered":
            # honor the right frame's DECLARED order (existing __rowid__
            # or its order_keys) — re-ranking from physical ingest order
            # would pick a nondeterministic "first" row
            rdf = with_rowid(right, other.order_keys)
            w = Window.partitionBy(*[F.col(c) for c in dedupe_cols]).orderBy(F.col(ROWID))
            right = rdf.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")
        else:
            right = right.dropDuplicates(dedupe_cols)
        if tmp_canon:
            right = right.drop(*tmp_canon)
        # the right side's __rowid__ (its own positions) must not leak
        # into the join result — it would corrupt (or collide with) the
        # left side's positional column
        if ROWID in right.columns:
            right = right.drop(ROWID)

        if broadcast:
            right = F.broadcast(right)
        # inner is a true inner join on the deduped right — emulating it
        # as left + na.drop silently kept unmatched rows whenever the
        # right side added no new column names
        joined = self._key_join(right, left_on, right_on, how)
        # drop duplicated right key columns
        for lk, rk in zip(left_on, right_on):
            if rk in self.df.columns or rk == lk:
                joined = joined.drop(F.col(sql_name("__r", rk)))
        # only a LEFT join preserves exactly the left row set; anything
        # else (inner/outer/full) changes it ⇒ stale positions
        keeps_rows = how in ("left", "left_outer", "leftouter")
        return self._wrap(joined) if keeps_rows else self._wrap_reordered(joined)

    def _key_join(self, right: DataFrame, left_on: Sequence[str], right_on: Sequence[str], how: str) -> DataFrame:
        """Join ``self.df`` (aliased ``__l``) with ``right`` (aliased
        ``__r``) on key pairs; mismatched key types compare canon strings
        (reference §1.6), with a null guard (the canon NULL sentinel is
        equal on both sides, but join equality must keep nulls-never-match).
        The ONE copy of this rule — lookup and semi/anti both route here."""
        lfields = {f.name: f.dataType for f in self.df.schema.fields}
        rfields = {f.name: f.dataType for f in right.schema.fields}
        conds = []
        for lk, rk in zip(left_on, right_on):
            l, r = sql_name("__l", lk), sql_name("__r", rk)
            if type(lfields[lk]) is type(rfields[rk]):
                conds.append(f"({l} = {r})")
            else:
                conds.append(
                    f"({l} IS NOT NULL AND {r} IS NOT NULL"
                    f" AND {canon_sql(l, lfields[lk])} = {canon_sql(r, rfields[rk])})"
                )
        return self.df.alias("__l").join(right.alias("__r"), F.expr(" AND ".join(conds)), how)

    def semi_join(self, other: "Frame", *, left_on: Sequence[str], right_on: Sequence[str]) -> "Frame":
        """Keep left rows with ≥1 match in other (free extension beyond
        the reference's lookup-only joins, §2.6). No row multiplication,
        no right columns — Spark's LeftSemi, broadcast-eligible."""
        return self._wrap_reordered(self._key_join(other.df, _strs(left_on), _strs(right_on), "left_semi"))

    def anti_join(self, other: "Frame", *, left_on: Sequence[str], right_on: Sequence[str]) -> "Frame":
        """Keep left rows with NO match in other (LeftAnti)."""
        return self._wrap_reordered(self._key_join(other.df, _strs(left_on), _strs(right_on), "left_anti"))

    def asof_join(
        self,
        other: "Frame",
        *,
        on: str,
        right_on: str | None = None,
        by: Sequence[str] = (),
        right_by: Sequence[str] | None = None,
        value_cols: Sequence[str],
        strict: bool = False,
        direction: str = "backward",
        tolerance_us: int | None = None,
    ) -> "Frame":
        """Point-in-time (as-of) join: for each left row, take
        ``value_cols`` from the LATEST right row with right.on <= left.on
        (strictly < when ``strict``), matched within ``by`` keys. The
        canonical time-series lookup (trades←quotes) — an operator Spark
        has no primitive for.

        ``direction`` extends the classic backward lookup:
        ``"forward"`` takes the EARLIEST right row with right.on >=
        left.on (next-event lookup); ``"nearest"`` takes whichever side
        is closer, ties breaking backward. ``tolerance_us`` bounds the
        match distance (microseconds for time-typed ``on``, native
        units for numeric) — a right row farther than the tolerance
        yields NULLs, like no match at all. Right rows tied on
        (``by``, ``on``) are ambiguous (the carry keeps one
        arbitrarily) — pre-deduplicate the right side when such ties
        are possible.

        Scale design: NOT a range join (which explodes to O(n·m) pairs
        or a broadcast nested loop). Both sides union into one stream,
        sorted per key by (time, side) inside a single window partition;
        a running last-ignorenulls carries each right value forward to
        the left rows that follow it. ONE shuffle on ``by``, zero row
        multiplication, linear in |left|+|right| — survives 100 TB of
        tick data as long as single keys fit a partition (salt the `by`
        key by coarse time-bucket if one instrument dominates).
        """
        right_on = right_on or on
        by = _strs(by)
        right_by = _strs(right_by) if right_by is not None else list(by)
        value_cols = _strs(value_cols)
        if len(right_by) != len(by):
            raise ValueError("asof_join: by/right_by length mismatch")
        collide = [c for c in value_cols if c in self.columns]
        if collide:
            raise ValueError(f"asof_join: value_cols collide with left columns: {collide}")

        lfields = {f.name: f.dataType for f in self.df.schema.fields}
        rfields = {f.name: f.dataType for f in other.df.schema.fields}
        left_cols = [c for c in self.df.columns]

        l = self.df.select(
            *[F.col(c) for c in left_cols],
            *[F.lit(None).cast(rfields[c]).alias(c) for c in value_cols],
            F.lit(1).alias("__side__"),
        )
        r = other.df.select(
            *[
                F.col(rc).alias(lc) if rc != lc else F.col(lc)
                for lc, rc in zip(by, right_by)
            ],
            F.col(right_on).alias(on) if right_on != on else F.col(on),
            *[
                F.lit(None).cast(lfields[c]).alias(c)
                for c in left_cols
                if c not in by and c != on
            ],
            *[F.col(c) for c in value_cols],
            F.lit(0).alias("__side__"),
        )

        # right rows sort before left at equal time ⇒ inclusive (<=);
        # strict flips the tie so an exactly-simultaneous right row is
        # not yet visible
        side_order = F.col("__side__").asc() if not strict else F.col("__side__").desc()
        # nulls never match (§1.4): a right row with NULL time would
        # sort first and forward-fill the whole group; a right row with a
        # NULL by-key would match null-keyed LEFT rows (window partitions
        # group nulls together, unlike join equality)
        r = r.filter(F.col(on).isNotNull())
        for k in by:
            r = r.filter(F.col(k).isNotNull())
        # carry ALL value cols as ONE struct keyed on the right row:
        # per-column last(ignorenulls) would (a) return a stale older
        # value when the latest right row's field is genuinely NULL and
        # (b) mix fields from different right rows. The struct also
        # carries the right row's own time (__rt__) for tolerance /
        # nearest gap arithmetic.
        carried = F.when(
            F.col("__side__") == 0,
            F.struct(*[F.col(c) for c in value_cols], F.col(on).alias("__rt__")),
        )

        def carry(desc: bool):
            order = [F.col(on).desc() if desc else F.col(on).asc(), side_order]
            wd = (
                Window.partitionBy(*[F.col(c) for c in by])
                .orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            return F.last(carried, ignorenulls=True).over(wd)

        on_dt = lfields[on]

        def ordinal(c):
            from tada_spark.plans.timeutil import epoch_us

            if isinstance(on_dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
                return epoch_us(c, on_dt)
            if isinstance(on_dt, (T.FloatType, T.DoubleType, T.DecimalType)):
                # cast('long') would TRUNCATE fractional on-values,
                # corrupting nearest-direction gap comparisons and
                # tolerance arithmetic (gap 0.4 vs 0.5 both became 0)
                return c.cast("double")
            return c.cast("long")

        def masked(row_col, forward: bool):
            if tolerance_us is None:
                return row_col
            gap = (
                ordinal(row_col["__rt__"]) - ordinal(F.col(on))
                if forward
                else ordinal(F.col(on)) - ordinal(row_col["__rt__"])
            )
            return F.when(row_col.isNotNull() & (gap <= F.lit(tolerance_us)), row_col)

        if direction == "backward":
            rrow = masked(carry(False), False)
        elif direction == "forward":
            rrow = masked(carry(True), True)
        elif direction == "nearest":
            b_, f_ = masked(carry(False), False), masked(carry(True), True)
            gb = ordinal(F.col(on)) - ordinal(b_["__rt__"])
            gf = ordinal(f_["__rt__"]) - ordinal(F.col(on))
            rrow = F.when(b_.isNotNull() & (f_.isNull() | (gb <= gf)), b_).otherwise(f_)
        else:
            raise ValueError(f"asof_join: unknown direction {direction!r}")
        # a NULL left time matches nothing in ANY direction (under desc
        # ordering Spark puts nulls last, where a carry would otherwise
        # hand them the earliest right row)
        filled = l.unionByName(r).withColumn(
            "__rrow__", F.when(F.col(on).isNotNull(), rrow)
        )
        for c in value_cols:
            filled = filled.withColumn(c, F.col("__rrow__")[c])
        out = filled.filter(F.col("__side__") == 1).drop("__side__", "__rrow__")
        return self._wrap(out)

    def merge(self, other: "Frame", **kwargs) -> "Frame":
        """Lookup + append looked-up columns + name dedupe `_n` suffix
        (reference dataframe.go:1633-1657). Join keys are exempt from
        the rename — suffixing a shared-name key would break the join."""
        # exempt BOTH sides' explicit keys from the rename: a bare
        # string must not be split into characters (list("key") ==
        # ['k','e','y'] left the real key un-exempt → renamed → the
        # join crashed), and a left_on-only call must still protect
        # the columns the join resolves against
        explicit = [*_strs(kwargs.get("right_on") or []), *_strs(kwargs.get("left_on") or [])]
        keys = explicit or [
            c for c in self.labels if c in other.labels
        ] or [c for c in self.columns if c in other.columns]
        overlapping = [
            c for c in other.value_columns if c in self.columns and c not in keys
        ]
        renamed = other.rename({c: f"{c}_1" for c in overlapping}) if overlapping else other
        return self.lookup(renamed, **kwargs)

    # ------------------------------------------------------------------
    # group-by (reference §2.7) — returns GroupedFrame
    # ------------------------------------------------------------------
    def group_by(self, *names: str, canon: bool = False) -> "GroupedFrame":
        """No names ⇒ group by all labels (reference series.go:948-951).
        canon=True groups on stringified keys (reference semantics) —
        needed only when key columns are heterogeneous."""
        from tada_spark.operators.grouped import GroupedFrame

        keys = list(names) or list(self.labels)
        if not keys:
            raise ValueError("group_by: no keys and no labels")
        return GroupedFrame(self, keys, canon=canon)

    def pivot_table(self, labels: Sequence[str], columns: str, values: str, agg: str = "sum") -> "Frame":
        """Direct 1:1 with Spark pivot (reference dataframe.go:1791-1829)."""
        aggfn = {
            "sum": F.sum, "mean": F.avg, "median": F.median, "stdDev": F.stddev_pop,
            "count": F.count, "min": F.min, "max": F.max,
        }[agg]
        out = self.df.groupBy(*labels).pivot(columns).agg(aggfn(F.col(values)))
        return Frame(out, list(labels), self.name)

    def pivot_table_multi(
        self, labels: Sequence[str], columns: str, aggs: dict[str, Column]
    ) -> "Frame":
        """Pivot with several named aggregates per cell (free extension
        of the reference's single-agg PivotTable): output columns are
        '<pivotvalue>_<aggname>'."""
        out = self.df.groupBy(*labels).pivot(columns).agg(
            *[e.alias(n) for n, e in aggs.items()]
        )
        return Frame(out, list(labels), self.name)

    # ------------------------------------------------------------------
    # distinct / counts (reference §2.7 tail)
    # ------------------------------------------------------------------
    def value_counts(self, name: str) -> "Frame":
        """value→count map over stringified non-null values (reference
        internal.go:2481-2496)."""
        c = canon_str(name, self.dtype(name))
        # counting a column literally named "count" must not produce two
        # "count" columns (ambiguous downstream)
        cnt = "count" if name != "count" else "count_1"
        return self._wrap(
            self.df.filter(F.col(name).isNotNull())
            .groupBy(c.alias(name))
            .agg(F.count("*").alias(cnt)),
            labels=[],
        )

    def unique(self, *names: str, include_labels: bool = False, first_appearance: bool = False) -> "Frame":
        """Distinct rows by value (or value+labels). first_appearance=True
        reproduces the reference's keep-first-row pick via min-__rowid__
        (reference internal.go:2512-2537); default keeps an arbitrary row
        (scale-safe)."""
        keys = list(names) or self.value_columns
        if include_labels:
            keys = self.labels + keys
        if not first_appearance:
            return self._wrap_reordered(self.df.dropDuplicates(keys))
        df = self._require_rowid()
        w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(F.col(ROWID))
        return self._wrap_reordered(
            df.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")
        )

    # ------------------------------------------------------------------
    # whole-frame aggs (reference series.go:999-1073, dataframe.go:1910-1993)
    # ------------------------------------------------------------------
    def agg(self, **exprs: Column) -> "Frame":
        return Frame(self.df.agg(*[e.alias(n) for n, e in exprs.items()]), [], self.name)

    def agg_all(self, aggs: list[str], *cols: str) -> "Frame":
        """Per-column aggregates melted to one row per column."""
        from tada_spark.operators.reshape import agg_all

        return agg_all(self, aggs, *cols)

    # ------------------------------------------------------------------
    # reshaping delegates (operators/reshape.py)
    # ------------------------------------------------------------------
    def transpose(self, *, max_rows: int = 10_000) -> "Frame":
        from tada_spark.operators.reshape import transpose

        return transpose(self, max_rows=max_rows)

    def promote_to_col_level(self, name: str, value_col: str) -> "Frame":
        from tada_spark.operators.reshape import promote_to_col_level

        return promote_to_col_level(self, name, value_col)

    def cube(self, keys: list[str], **exprs: Column) -> "Frame":
        from tada_spark.operators.reshape import cube

        return cube(self, keys, **exprs)

    def rollup(self, keys: list[str], **exprs: Column) -> "Frame":
        from tada_spark.operators.reshape import rollup

        return rollup(self, keys, **exprs)

    # ------------------------------------------------------------------
    # introspection / cell access (reference §2.11)
    # ------------------------------------------------------------------
    def at(self, position: int, column: str):
        """Cell access by (row position, column) — reference At
        (dataframe.go:226-238). Positional ⇒ requires ordering; driver-
        side sink, test-scale only."""
        df = self._require_rowid()
        rows = df.filter(F.col(ROWID) == position).select(column).collect()
        return rows[0][0] if rows else None

    def set_nulls(self, column: str, positions: Sequence[int]) -> "Frame":
        """Overwrite the null mask at given positions (reference SetNulls
        dataframe.go:756-769)."""
        df = self._require_rowid()
        return self._wrap(
            df.withColumn(
                column,
                F.when(F.col(ROWID).isin(*positions), F.lit(None)).otherwise(F.col(column)),
            )
        )

    def index_of(self, name: str, *, in_labels: bool = False) -> int:
        """Position of a container among values or labels (reference
        IndexOf dataframe.go:471-500); -1 if absent."""
        pool = self.labels if in_labels else self.value_columns
        return pool.index(name) if name in pool else -1

    def name_of_col(self, i: int) -> str:
        """Name at value position i (reference NameOfCol); raises on OOB."""
        return self.value_columns[i]

    def name_of_label(self, i: int) -> str:
        return list(self.labels)[i]

    def list_col_names_at_level(self, level: int) -> list[str]:
        """Level slice of "a|b"-encoded multi-level names (reference
        ListColNamesAtLevel dataframe.go:306-326)."""
        out = []
        for c in self.value_columns:
            parts = c.split("|")
            out.append(parts[level] if level < len(parts) else "")
        return out

    def has_type(self, type_name: str) -> list[str]:
        """Names of value columns whose Spark type simpleString matches
        (reference HasType dataframe.go:258-270, on Spark type names:
        'double', 'string', 'timestamp', ...)."""
        return [
            f.name
            for f in self.df.schema.fields
            if f.name in self.value_columns and f.dataType.simpleString() == type_name
        ]

    def get_values(self, column: str, *, order_by: Sequence[str] | None = None) -> list:
        """Column values as a local list (reference GetValues
        series.go:1206-1250) — driver-side sink, test-scale only."""
        df = self.to_df()
        if order_by:
            df = df.orderBy(*_strs(order_by))
        return [r[0] for r in df.select(column).collect()]

    def get_nulls(self, column: str, *, order_by: Sequence[str] | None = None) -> list[bool]:
        """Null mask as a local list (reference GetNulls)."""
        df = self.to_df()
        if order_by:
            df = df.orderBy(*_strs(order_by))
        return [r[0] for r in df.select(F.col(column).isNull()).collect()]

    def deduplicate_names(self) -> "Frame":
        """Suffix duplicate column names with _n (reference
        internal.go:2498-2509)."""
        seen: dict[str, int] = {}
        new_names = []
        for c in self.df.columns:
            if c in seen:
                seen[c] += 1
                new_names.append(f"{c}_{seen[c]}")
            else:
                seen[c] = 0
                new_names.append(c)
        df = self.df.toDF(*new_names)
        return Frame(df, [l for l in self.labels if l in new_names], self.name)

    def profile(self, cols: Sequence[str] | None = None, *, approx_ndv: bool = False) -> "Frame":
        """Single-pass column profiler (ANALYZE / summary analog — free
        extension; the reference's introspection surface stops at
        per-call At/ValueCounts/GetValues). ONE global aggregate
        computes rows / nulls / distinct / min / max for every column
        at once, then a literal explode unpivots to one row per column
        — one scan, one shuffle, never a per-column job loop.

        Value reprs are cross-engine-deterministic BY TYPE (an engine's
        native double rendering is a documented divergence class):
        integers / strings / booleans cast verbatim, timestamps as
        epoch microseconds, float/double as e6-quantized micro-unit
        integers via the floor idiom.

        Exact NDV uses count_distinct: k distinct aggregates in one
        pass make Catalyst Expand the input k+1 ways — fine for a
        profile sweep, but at the 100 TB extreme pass
        ``approx_ndv=True`` to swap in approx_count_distinct (single
        HLL pass, no Expand, ±5%).
        """
        df = self.to_df()
        # widen a narrow scan first (r12, operators/layout): k exact-
        # NDV aggregates Expand the input k+1 ways ABOVE the scan —
        # on a single-split local file the whole Expand + partial
        # aggregation ran one-task; on wide inputs this is a no-op
        from tada_spark.operators.layout import widen_narrow_scan

        df = widen_narrow_scan(df)
        names = list(cols or df.columns)
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        ndv = F.approx_count_distinct if approx_ndv else F.count_distinct
        aggs = [F.count(F.lit(1)).alias("__n__")]
        for c in names:
            aggs += [
                F.count(F.col(c)).alias(f"__nn_{c}"),
                ndv(F.col(c)).alias(f"__ndv_{c}"),
                F.min(F.col(c)).alias(f"__min_{c}"),
                F.max(F.col(c)).alias(f"__max_{c}"),
            ]
        one = df.agg(*aggs)
        _repr = _det_repr

        entries = F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col("__n__").alias("n_rows"),
                    (F.col("__n__") - F.col(f"__nn_{c}")).alias("n_null"),
                    F.col(f"__ndv_{c}").cast("long").alias("n_distinct"),
                    _repr(F.col(f"__min_{c}"), dtypes[c]).alias("min_repr"),
                    _repr(F.col(f"__max_{c}"), dtypes[c]).alias("max_repr"),
                )
                for c in names
            ]
        )
        out = one.select(F.explode(entries).alias("p")).select("p.*")
        return Frame(out)

    def content_digest(self, cols: Sequence[str] | None = None, *, n_buckets: int = 4096) -> "Frame":
        """Order-invariant whole-table content fingerprint — the cheap
        100 TB answer to "are these two snapshots byte-identical?"
        (full-diff operators like snapshot_diff cost a co-partitioned
        join; this costs one bounded aggregate per table).

        Each row canonicalizes to a '|'-joined string of the per-type
        deterministic reprs (nulls → the writer convention "(null)"),
        hashes through the oracle-replicable md5 32-bit family, and
        lands in one of ``n_buckets`` count cells; the digest is the
        md5 of the bucket:count list sorted NUMERICALLY by bucket. Any
        row change moves a bucket count, so digests differ; row order
        and partitioning cannot affect it. Scale: the aggregate is
        capped at n_buckets cells per partition (map-side combine),
        then one ≤ n_buckets-row sort on a single post-agg row — never
        a corpus-wide sort. Caveat (documented): a literal string
        value "(null)" canonicalizes like a NULL.
        """
        from tada_spark.functions.text import md5_hash32

        df = self.to_df()
        names = list(cols or df.columns)
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        reprs = [
            F.coalesce(_det_repr(F.col(c), dtypes[c]), F.lit("(null)")) for c in names
        ]
        bucket = md5_hash32(F.concat_ws("|", *reprs)) % F.lit(n_buckets)
        cells = df.select(bucket.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")
        )
        sorted_cells = F.array_sort(F.collect_list(F.struct("bucket", "n")))
        strs = F.transform(
            sorted_cells,
            lambda s: F.concat(
                s["bucket"].cast("string"), F.lit(":"), s["n"].cast("string")
            ),
        )
        out = cells.agg(
            F.sum("n").alias("n_rows"),
            F.md5(F.concat_ws(",", strs)).alias("digest"),
        )
        return Frame(out)

    def render(self, max_rows: int = 20, *, merge_repeated: bool = False) -> str:
        """ASCII table with truncation (reference print options,
        dataframe.go:138-222). Driver-side sink."""
        df = self.to_df()
        rows = df.limit(max_rows + 1).collect()
        truncated = len(rows) > max_rows
        rows = rows[:max_rows]
        cols = df.columns
        cells = [[("(null)" if v is None else str(v)) for v in r] for r in rows]
        if merge_repeated and cells:
            for j in range(len(cols)):
                prev = None
                for i in range(len(cells)):
                    cur = cells[i][j]
                    if cur == prev:
                        cells[i][j] = ""
                    else:
                        prev = cur
        widths = [max(len(cols[j]), *(len(c[j]) for c in cells)) if cells else len(cols[j]) for j in range(len(cols))]
        sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
        def fmt(vals):
            return "|" + "|".join(f" {v:<{w}} " for v, w in zip(vals, widths)) + "|"
        lines = [sep, fmt(cols), sep, *(fmt(c) for c in cells), sep]
        if truncated:
            lines.append(f"... ({max_rows}+ rows)")
        return "\n".join(lines)

    # ------------------------------------------------------------------
    # sinks
    # ------------------------------------------------------------------
    def collect(self):
        return self.to_df().collect()

    def to_pandas(self):
        return self.to_df().toPandas()

    def count(self) -> int:
        """Row count (reference Len)."""
        return self.to_df().count()

    def num_columns(self) -> int:
        return len(self.value_columns)

    def write_csv(self, path: str, *, header: bool = True, mode: str = "overwrite") -> None:
        """Distributed CSV sink with "(null)" null encoding (reference
        CSVWriter io.go:341-359)."""
        self.to_df().write.csv(path, header=header, mode=mode, nullValue="(null)")

    def write_parquet(self, path: str, *, mode: str = "overwrite", partition_by: Sequence[str] | None = None) -> None:
        w = self.to_df().write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


def _fmt_edge(x: float) -> str:
    return str(int(x)) if float(x) == int(x) else str(x)
