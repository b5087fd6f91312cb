"""Physical-layout helpers: multi-dimensional clustering keys.

Range-partitioning sorts ONE dimension; scans filtered on a second key
then read every file. A Z-order (Morton) key interleaves the bits of
two keys so that sorting by it clusters BOTH dimensions at once — the
Delta/Iceberg OPTIMIZE ZORDER technique, here as a plain Column
expression usable with repartitionByRange + write_parquet on bare
parquet. Pure integer bit arithmetic: deterministic, engine-replicable
(the oracle mirrors it with the same shifts), and scan-speed (codegen).
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F


def _same_target(a: str, b: str) -> bool:
    """True when two path spellings refer to the same directory. A plain
    string compare misses file:// vs bare-path, relative vs absolute,
    trailing /., and symlinks — any of which would let mode('overwrite')
    delete the source mid-scan. Local paths resolve through
    os.path.realpath; non-local URIs (s3://, hdfs://) compare
    scheme+normalized path, the strongest check possible without a
    filesystem round-trip."""

    # scheme aliases that address the SAME storage (s3a/s3n are the
    # Hadoop connectors for s3; abfss/wasbs the TLS variants) — without
    # folding them, compact('s3a://b/t', 's3://b/t') would pass the
    # guard and overwrite the source mid-scan
    aliases = {"s3a": "s3", "s3n": "s3", "abfss": "abfs", "wasbs": "wasb"}

    def canon(p: str) -> tuple[str, str]:
        scheme, sep, rest = p.partition("://")
        if not sep:
            # Hadoop also prints the single-slash URI form 'file:/x'
            # (and 'hdfs:/x'): without this branch 'file:/tmp/t' read
            # as a RELATIVE local path named 'file:', bypassing the
            # same-target guard against 'file:///tmp/t' or '/tmp/t'
            head, colon, tail = p.partition(":/")
            if colon and head.isalpha() and len(head) >= 2:  # not 'C:\\'
                scheme, rest = head, "/" + tail.lstrip("/")
            else:
                scheme, rest = "file", p
        scheme = aliases.get(scheme.lower(), scheme.lower())
        if scheme == "file":
            return "file", os.path.realpath(os.path.abspath(rest))
        return scheme, os.path.normpath("/" + rest.strip("/"))

    return canon(a) == canon(b)


def zorder_key(a: Column, b: Column, *, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative int
    columns: result bit 2i holds a's bit i, bit 2i+1 holds b's bit i.
    Callers bucket/normalize their dimensions into the bit range first
    (e.g. pmod of a key, days-since-epoch of a date)."""
    a = a.cast("long")
    b = b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def write_zordered(
    df,
    path: str,
    a: Column,
    b: Column,
    *,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """The ACTING half of Z-ordering (zorder_key is the key): sort the
    table into ``n_files`` ranged parquet files by the Morton key of
    two dimensions — range-partition on z, sort within partitions, one
    file per partition. Each file then covers a NARROW span of BOTH
    dimensions, so parquet footer min/max stats prune files for filters
    on EITHER column (the OPTIMIZE ZORDER effect on bare parquet; the
    test measures the span narrowing through pyarrow footers).

    100 TB shape: one range exchange (sampled boundaries) + local sort —
    exactly what a sorted write costs; no extra pass over the data.
    """
    z = zorder_key(a, b, bits=bits)
    (
        df.withColumn("__z__", z)
        .repartitionByRange(n_files, F.col("__z__"))
        .sortWithinPartitions("__z__")
        .drop("__z__")
        .write.mode(mode)
        .parquet(path)
    )


def compact(
    spark,
    path: str,
    out_path: str,
    *,
    target_files: int,
    sort_by: str | None = None,
) -> dict:
    """Small-files compaction — the table-maintenance job every
    streaming/append sink eventually needs: rewrite a parquet directory
    into ``target_files`` files (range-sorted on ``sort_by`` when given,
    so footer stats stay skippable; plain coalesce otherwise). Returns
    {files_before, files_after} so schedulers can log the win.

    100 TB shape: coalesce() avoids a shuffle entirely (merges
    partitions in place); the sorted variant pays one range exchange —
    choose by whether downstream reads filter on sort_by. Compaction is
    out-of-place by contract: overwriting the directory a lazy plan is
    still reading deletes the source mid-scan, so same-path calls are
    rejected (atomic swap is the table format's job, not this helper's).
    File counts come from the scan's own inputFiles() — correct on any
    filesystem URI and under hive partitioning, where a local glob on
    part-* would silently report 0.
    """
    if _same_target(path, out_path):
        raise ValueError("compact() is out-of-place: out_path must differ from path")
    df = spark.read.parquet(path)
    before = len(df.inputFiles())
    if sort_by:
        w = df.repartitionByRange(target_files, F.col(sort_by)).sortWithinPartitions(sort_by)
    else:
        w = df.coalesce(target_files)
    w.write.mode("overwrite").parquet(out_path)
    after = len(spark.read.parquet(out_path).inputFiles())
    return {"files_before": before, "files_after": after}


def widen_narrow_scan(df, min_parallelism: int | None = None):
    """Scale-adaptive parallelism floor for CPU-heavy per-row pipelines
    (r12, guide §2.1/§2.3): a small input — locally, a single-row-group
    parquet file — plans as ONE scan partition, so everything up to the
    first shuffle (k-gram explodes + per-window md5, regex batteries,
    signature folds) runs on one core no matter how many the cluster
    has. Round-robin repartition to ``defaultParallelism`` ONLY when the
    source provides fewer partitions; at 100 TB the scan has thousands
    of splits and this is a provable no-op (no exchange added), so the
    shuffle cost is paid exactly when it buys parallelism and the bytes
    shuffled are small by the same condition. Results are unaffected:
    every operator in this library is partition-order-independent by
    the determinism discipline (the oracle gate re-proves it per entry).

    Rule for callers: an input that comes after a shuffle (its plan
    holds an Exchange) must be a small reduced stream — distinct words,
    grouped aggregates. Its partition count is decided by AQE at run
    time, so it is repartitioned unconditionally, and the round-robin
    shuffle is only cheap because the stream is small.
    """
    sc = df.sparkSession.sparkContext
    target = int(min_parallelism or sc.defaultParallelism)
    try:
        # r13 (advice fix): .rdd finalizes the adaptive plan, which
        # MATERIALIZES every upstream shuffle stage — on a post-shuffle
        # input (the Viterbi distinct-word tables) the probe eagerly
        # executed the whole upstream pipeline at plan-build time and
        # the query re-executed it above the repartition. Probe the
        # pre-adaptive physical plan (a lazy val, no execution): if it
        # holds an Exchange the input is post-shuffle — its partition
        # count is AQE-decided at runtime and unknowable plan-side, and
        # these call sites pass small REDUCED streams (distinct words,
        # grouped aggregates), so shuffle unconditionally; the widened
        # stream is the stage's input either way. Scan-rooted plans
        # (no Exchange) keep the exact conditional: getNumPartitions on
        # a scan RDD only plans file splits, runs nothing, and the
        # at-100TB no-op guarantee (thousands of splits >= cores, no
        # exchange added) is unchanged. The probe reads executedPlan's
        # STRING — on an unfinalized AdaptiveSparkPlan that prints the
        # initial plan (post-EnsureRequirements, so exchanges are
        # visible) without running any stage; sparkPlan() would be
        # exchange-free and always miss.
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
        if exchanges:
            # idempotence guard (caught by the r13 full-catalog plan
            # audit): a stream already widened below (load(spread=True)
            # followed by only narrow ops) has a round-robin exchange to
            # the same target as its TOPMOST exchange — repartitioning
            # again would stack a second identical shuffle (observed:
            # curation's span stream gained a double RoundRobin).
            if f"RoundRobinPartitioning({target})" in exchanges[0]:
                return df
            return df.repartition(target)
        cur = df.rdd.getNumPartitions()
    except Exception:  # non-queryable plan (e.g. streaming) — leave it
        return df
    if cur >= target:
        return df
    return df.repartition(target)
