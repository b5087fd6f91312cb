"""Dtype-robust timestamp helpers — the single normalization point for
the engine's time handling.

Spark has TWO timestamp families: TIMESTAMP (LTZ, an instant) and
TIMESTAMP_NTZ (wall clock, no zone). Which one a parquet column arrives
as depends on the file's encoding: tz-adjusted micros -> LTZ, naive
micros -> NTZ (Spark 4 `inferTimestampNTZ`), nanos -> rejected by the
vectorized reader entirely (shimmed via nanosAsLong in
Frame.read_parquet). The reference never faces this split — tada
normalizes every ingested time to a tz-adjusted time.Time at load
(reference internal.go:1875-1884, valueContainers.go:194-196); these
helpers are the Spark equivalent.

Engine convention: **operators preserve the input column's timestamp
family**. A resample/range-join/stream over NTZ input yields NTZ
output, over LTZ input yields LTZ. Mixing families silently (e.g.
`timestamp_seconds` always returns LTZ; interval arithmetic on NTZ can
promote) is the bug class these helpers exist to stop.

The session pins spark.sql.session.timeZone=UTC (session.py), so the
NTZ<->LTZ casts used internally for epoch math are exact round trips.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def ts_family(dtype: T.DataType) -> str | None:
    """'ltz' | 'ntz' | None."""
    if isinstance(dtype, T.TimestampNTZType):
        return "ntz"
    if isinstance(dtype, T.TimestampType):
        return "ltz"
    return None


def epoch_us(col: Column, dtype: T.DataType) -> Column:
    """Microseconds since epoch as LONG, for any time-carrying dtype.

    `F.unix_micros` hard-requires TIMESTAMP (LTZ); NTZ and DATE input
    go through an LTZ cast first (exact under the pinned UTC session
    zone — the cast is wall-clock-preserving there).
    """
    if isinstance(dtype, (T.TimestampNTZType, T.DateType)):
        col = col.cast("timestamp")
    return F.unix_micros(col)


def as_family(expr: Column, dtype: T.DataType) -> Column:
    """Cast a timestamp-producing expression back to the family of the
    column it was derived from, so operators never leak the *other*
    family into their output schema. Non-timestamp dtypes (e.g. DATE
    input whose truncation legitimately widens to timestamp) keep the
    engine-historical LTZ result."""
    if isinstance(dtype, T.TimestampNTZType):
        return expr.cast("timestamp_ntz")
    return expr.cast("timestamp")


def timestamp_from_us(us: Column, dtype: T.DataType) -> Column:
    """Rebuild a timestamp of `dtype`'s family from epoch microseconds."""
    return as_family(F.timestamp_micros(us.cast("long")), dtype)


def parquet_time_columns(
    path: str, *, all_fragments: bool = False
) -> dict[str, tuple[str, str | None]]:
    """Inspect a parquet file/dir via pyarrow: {column: (unit, tz)} for
    every timestamp column. unit in {'s','ms','us','ns'}; tz None for
    naive (-> Spark NTZ) or a zone string (-> Spark LTZ). Lets readers
    (batch AND streaming) branch on the actual file encoding instead of
    assuming one.

    By default the dataset-level schema is used (pyarrow infers it from
    the first fragment — fine for homogeneous directories). With
    ``all_fragments=True`` every fragment's physical schema is scanned
    and merged, nanos winning per column — required for schema-EVOLVED
    directories where only newer files carry a nanos column (the
    first-fragment sample would miss it and the ns shim would not
    engage)."""
    import pyarrow.dataset as ds

    dset = ds.dataset(path, format="parquet")
    schemas = (
        [frag.physical_schema for frag in dset.get_fragments()]
        if all_fragments
        else [dset.schema]
    )
    out: dict[str, tuple[str, str | None]] = {}
    for schema in schemas:
        for i in range(len(schema.names)):
            f = schema.field(i)
            t = f.type
            if hasattr(t, "unit") and str(t).startswith("timestamp"):
                prev = out.get(f.name)
                # ns wins across fragments: the shim must engage if ANY
                # file needs it (non-ns files pass through it unchanged
                # because only raw-long columns are converted)
                if prev is None or (t.unit == "ns" and prev[0] != "ns"):
                    out[f.name] = (t.unit, t.tz)
    return out
