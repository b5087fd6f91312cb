"""Streaming twins of the reference's time operators (SURVEY §2.10).

The reference is batch-only; its nearest stream analogs are:
  * Resample (truncate-to-period, internal.go:2423-2442) → tumbling
    event-time window with watermark,
  * RollingDuration (forward duration window, groupers.go:317-345) →
    sliding event-time window,
plus session windows as the natural free extension.

All functions take/return (streaming) DataFrames and work identically
on batch DataFrames — the unified Dataset model. State store size is
bounded by the watermark horizon: late rows beyond it are dropped, and
window state is evicted once the watermark passes — this is what makes
the operators runnable forever on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def _event_time(df: DataFrame, ts_col: str):
    """Spark's watermark/window machinery hard-requires TIMESTAMP (LTZ)
    event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ). Cast NTZ
    input to LTZ for the stateful pipeline and hand back a restore
    function so window bounds leave in the INPUT's family — the same
    family-preserving convention as batch (plans/timeutil.py). Exact
    round trip under the pinned UTC session zone."""
    dt = {f.name: f.dataType for f in df.schema.fields}[ts_col]
    if isinstance(dt, T.TimestampNTZType):
        out = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return out, (lambda c: c.cast("timestamp_ntz"))
    return df, (lambda c: c)


def stream_resample(
    df: DataFrame,
    ts_col: str,
    period: str,
    aggs: dict[str, F.Column],
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window aggregation: the streaming Resample.

    period: '1 day', '1 hour', ... Result has window_start/window_end
    instead of the truncated timestamp (equivalent information).
    """
    df, restore = _event_time(df, ts_col)
    wdf = df.withWatermark(ts_col, watermark)
    out = wdf.groupBy(
        F.window(F.col(ts_col), period).alias("w"), *[F.col(k) for k in (keys or [])]
    ).agg(*[e.alias(n) for n, e in aggs.items()])
    return out.select(
        restore(F.col("w.start")).alias("window_start"),
        restore(F.col("w.end")).alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def stream_sliding_agg(
    df: DataFrame,
    ts_col: str,
    window_len: str,
    slide: str,
    aggs: dict[str, F.Column],
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window aggregation: the streaming RollingDuration."""
    df, restore = _event_time(df, ts_col)
    wdf = df.withWatermark(ts_col, watermark)
    out = wdf.groupBy(
        F.window(F.col(ts_col), window_len, slide).alias("w"),
        *[F.col(k) for k in (keys or [])],
    ).agg(*[e.alias(n) for n, e in aggs.items()])
    return out.select(
        restore(F.col("w.start")).alias("window_start"),
        restore(F.col("w.end")).alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


def stream_session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: dict[str, F.Column],
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window aggregation (gap-based) — free extension."""
    df, restore = _event_time(df, ts_col)
    wdf = df.withWatermark(ts_col, watermark)
    out = wdf.groupBy(
        F.session_window(F.col(ts_col), gap).alias("w"),
        *[F.col(k) for k in (keys or [])],
    ).agg(*[e.alias(n) for n, e in aggs.items()])
    return out.select(
        restore(F.col("w.start")).alias("window_start"),
        restore(F.col("w.end")).alias("window_end"),
        *(keys or []),
        *aggs.keys(),
    )


#: query_name -> physical plan string of the LAST executed micro-batch,
#: captured by run_available_now. An UNSTARTED streaming DataFrame
#: refuses QueryExecution ("must be executed with writeStream.start()"),
#: so the only physical plan a streaming query can surface is the one
#: its executed batch ran — this registry is how tools/plan_audit.py
#: audits the stream_* catalog entries (r11 verdict #6: they were SKIP,
#: a blind spot for non-broadcast static enrich / unbounded state keys).
LAST_EXPLAINS: dict[str, str] = {}


def _capture_explain(q, query_name: str) -> None:
    try:
        LAST_EXPLAINS[query_name] = q._jsq.explainInternal(False)
    except Exception:  # noqa: BLE001 — diagnostics must never fail the run
        pass


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    *,
    timeout_s: int = 120,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (trigger availableNow) into a memory sink and return the batch
    result — the deterministic test harness for streaming operators.

    ``output_mode``: 'complete' fits aggregation plans (the default);
    pass 'append' for non-aggregate plans (stream-stream joins) and
    'update' for stateful update-mode operators — Spark rejects
    complete mode for those. Raises on timeout instead of returning a
    partially-populated table while the query runs on in the
    background.

    ``state_partitions`` (r12, guide §2.3): stateful streaming
    operators create one state-store instance per shuffle partition,
    and every micro-batch commits a delta file per instance — on a
    bounded replay with tiny state, partition count IS the cost
    (measured at sf0.1, stream-stream outer join: 32 partitions 8.7 s,
    2 partitions 2.7 s). Streaming has no AQE to coalesce this, so the
    caller derives a count from the INPUT SIZE (see queries.
    _stream_state_partitions) and it is applied to
    spark.sql.shuffle.partitions only for the lifetime of this query
    (set before start, restored after termination — partition count
    never changes any operator's result, the oracle gate re-proves it
    per entry). None keeps the session setting.

    SCOPE CAVEAT (r13, advice note): the override mutates the
    SESSION-global conf for the query's lifetime because Structured
    Streaming offers no per-query shuffle-partition knob and the plan
    is bound to its session (a conf-cloned spark.newSession() cannot
    adopt an already-built streaming DataFrame). Any batch query
    planned CONCURRENTLY on the same session inherits the streaming-
    derived count, and concurrent callers race on save/restore — fine
    in this library's one-query-at-a-time harness; callers embedding
    it in a multi-threaded driver should serialize around it or build
    their streams on a dedicated session.

    Fixed floor (r13, measured): one availableNow micro-batch of a
    trivial 10k-row aggregate costs ~2-3.5 s warm on this box —
    addBatch (the batch's own Spark job incl. state-store init and the
    memory-sink collect) is ~85% of it; queryPlanning ~0.25 s,
    WAL/offset commits ~0.2 s. stateStore.maintenanceInterval and
    minBatchesToRetain measured no effect (bounded replays never hit
    maintenance or retention). That is the machinery's price, not an
    operator defect — further tuning belongs to the sink/trigger, not
    to operator code.

    Checkpoint manager: with no ``spark.sql.streaming.checkpointLocation``
    the checkpoint is a fresh local temp dir, and the query runs with
    the FileSystem-based checkpoint file manager instead of the default
    FileContext one (set for the query's lifetime, unset after it, on a
    timeout or a raise too). Without Hadoop's native library the
    FileContext path forks ``readlink`` on the paths of every rename
    and their ``.crc`` twins: a warm run of a tumbling aggregate over
    2 state partitions forked 80 ``readlink`` and 30 ``chmod`` processes
    with it, and the same 30 ``chmod`` (from ``mkdirs``) with the
    FileSystem manager. Both write the same checkpoint files, ``.crc``
    checksums included."""
    spark = stream_df.sparkSession
    overrides = {}
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(int(state_partitions))
    if spark.conf.get("spark.sql.streaming.checkpointLocation", None) is None:
        overrides[_CHECKPOINT_MANAGER_CONF] = _FS_CHECKPOINT_MANAGER
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"streaming query {query_name!r} exceeded {timeout_s}s")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    _capture_explain(q, query_name)
    return spark.table(query_name)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right events within
    [left_ts, left_ts + max_delay]. Both sides carry watermarks so
    Spark bounds the join state buffer — without the time-range
    condition a stream-stream join would buffer forever.

    ``how="left_outer"`` additionally emits null-padded left rows once
    their join window CLOSES under the watermark: a left row emits
    unmatched when left_ts + max_delay falls behind the global
    watermark (min of both sides' ms-floored max event time, minus the
    watermark delay). Rows whose window is still open when the stream
    ends stay in state and never emit — the documented streaming-outer
    contract, replayed exactly by the batch oracle."""
    left, l_restore = _event_time(left, left_ts)
    right, r_restore = _event_time(right, right_ts)
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        " AND ".join(
            [f"l.{k} = r.{k}" for k in keys]
            + [
                f"r.{right_ts} >= l.{left_ts}",
                f"r.{right_ts} <= l.{left_ts} + interval {max_delay}",
            ]
        )
    )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"stream_interval_join: unsupported how={how!r}")
    out = l.alias("l").join(r.alias("r"), cond, how)
    # leave in the INPUT's family on both sides (same convention as the
    # window operators — the LTZ cast above exists only for the
    # watermark machinery). Join keys are emitted ONCE, from the left
    # side (always present, even for left_outer's null-padded rows) —
    # duplicating them made every later by-name key reference
    # AMBIGUOUS_REFERENCE
    return out.select(
        *[
            (l_restore(F.col(f"l.{c}")) if c == left_ts else F.col(f"l.{c}")).alias(c)
            for c in left.columns
        ],
        *[
            (r_restore(F.col(f"r.{c}")) if c == right_ts else F.col(f"r.{c}")).alias(c)
            for c in right.columns
            if c not in keys
        ],
    )


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    timeout_s: int = 240,
) -> None:
    """Drive a streaming plan to completion (trigger availableNow) into
    a PARQUET file sink with exactly-once checkpointing — the durable
    twin of run_available_now's memory sink, and the shape a production
    ingest job runs on a schedule: each invocation processes exactly
    the files not yet recorded in the checkpoint, appends results, and
    exits. Append output mode, so it fits stateless transforms and
    watermark-finalized aggregations (complete-mode snapshots belong in
    the memory sink; a table that is REPLACED per run is a batch write).
    """
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream_to_parquet({path}) did not finish in {timeout_s}s")
