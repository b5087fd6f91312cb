"""Record-oriented IO (reference RecordReader/Writer io.go:213-299).

Records are [][]str (row- or column-major) with N header rows and M
label levels. Type inference samples 10 values per column and
majority-votes Float64/DateTime/Date/String (reference
internal.go:844-892). These are small-data constructors (test authoring,
interop) — the 100 TB path is parquet; nothing here appears in an
operator hot path.

read_records builds its frame as an Arrow local relation
(``session.local_frame``): the plan is a ``LocalTableScan`` and no
Python worker runs when it executes. write_records selects columns by
position, so any name the reader accepts (dots, backticks, duplicates)
writes back unchanged, and fetches its canon strings as one Arrow table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tada_spark.frame import Frame
from tada_spark.plans.semantics import NULL_STRINGS, canon_sql

#: Reference multi-level column-name separator (options.go:9).
LEVEL_SEP = "|"

NULL_OUT = "(null)"


def _infer_dtype(values: list[str]) -> str:
    """10-sample majority vote (reference internal.go:844-892)."""
    import datetime

    sample = [v for v in values if v not in (None, "", *NULL_STRINGS)][:10]
    if not sample:
        return "string"
    votes = {"double": 0, "timestamp": 0, "date": 0, "string": 0}
    for v in sample:
        try:
            float(v)
            votes["double"] += 1
            continue
        except ValueError:
            pass
        for fmt, kind in (
            ("%Y-%m-%d %H:%M:%S", "timestamp"),
            ("%Y-%m-%dT%H:%M:%S", "timestamp"),
            ("%Y-%m-%d", "date"),
            ("%m/%d/%Y", "date"),
        ):
            try:
                datetime.datetime.strptime(v, fmt)
                votes[kind] += 1
                break
            except ValueError:
                continue
        else:
            votes["string"] += 1
    return max(votes, key=lambda k: (votes[k], k != "string"))


def read_records(
    spark: SparkSession,
    records: list[list[str]],
    *,
    by_column: bool = False,
    header_rows: int = 1,
    label_levels: int = 0,
    infer_types: bool = False,
    blank_as_null: bool = False,
) -> Frame:
    """[][]string → Frame (reference io.go:213-268).

    Every cell is a ``str`` or None; any other cell raises TypeError
    naming its data row and column (no rendering is guessed for it).
    Cells in the null-string set (plus "" with ``blank_as_null``) read
    as NULL. The frame is an Arrow local relation of nullable string
    columns: a ``LocalTableScan``, so no Python worker runs."""
    from pyspark.sql import types as T

    from tada_spark.session import local_frame

    if not records:
        raise ValueError("read_records: must have at least one record")
    if by_column:
        # zip(*ragged) TRUNCATES to the shortest column before the
        # width check below could ever see the discrepancy — silent
        # data loss where the row-major path correctly raises
        if any(len(c) != len(records[0]) for c in records):
            raise ValueError("read_records: ragged records (columns differ in length)")
    rows = [list(r) for r in (zip(*records) if by_column else records)]
    width = len(rows[0])
    if any(len(r) != width for r in rows):
        raise ValueError("read_records: ragged records (rows differ in length)")

    headers = rows[:header_rows]
    data = rows[header_rows:]
    if headers:
        names = [LEVEL_SEP.join(h[i] for h in headers) for i in range(width)]
    else:
        names = [str(i) for i in range(width)]
    # default label level names (reference *0 convention, internal.go:160-174)
    for i in range(label_levels):
        if not headers or not names[i]:
            names[i] = f"*{i}"

    for i, r in enumerate(data):
        for j, v in enumerate(r):
            if v is not None and not isinstance(v, str):
                raise TypeError(
                    f"read_records: data row {i}, column {j} ({names[j]!r}) holds "
                    f"{type(v).__name__} {v!r}, not str"
                )
    nulls = set(NULL_STRINGS) | ({""} if blank_as_null else set())
    columns = [[None if r[j] in nulls else r[j] for r in data] for j in range(width)]
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    f = Frame(local_frame(spark, schema, columns), labels=names[:label_levels])
    if infer_types:
        casts = {}
        for i, n in enumerate(names):
            dtype = _infer_dtype([r[i] for r in data])
            if dtype != "string":
                casts[n] = dtype
        if casts:
            f = f.cast(**casts)
    return f


def read_slices(
    spark: SparkSession,
    columns: dict[str, list],
    *,
    labels: list[str] = (),
    name: str = "",
) -> Frame:
    """Column slices → Frame (reference SliceReader io.go:142-208)."""
    if not columns:
        raise ValueError("read_slices: no columns")
    lengths = {k: len(v) for k, v in columns.items()}
    if len(set(lengths.values())) > 1:
        raise ValueError(f"read_slices: unequal column lengths {lengths}")
    names = list(columns)
    rows = [tuple(columns[c][i] for c in names) for i in range(next(iter(lengths.values())))]
    df = spark.createDataFrame(rows, schema=names)
    return Frame(df, labels=list(labels), name=name)


def from_pandas(spark: SparkSession, pdf, *, labels: list[str] = ()) -> Frame:
    """pandas → Frame via Arrow (reference tada-io Arrow interop,
    README.md:147-150); NaN→NULL normalization applied."""
    from tada_spark.plans.semantics import normalize_nulls

    return Frame(normalize_nulls(spark.createDataFrame(pdf)), labels=list(labels))


def read_interface_records(spark: SparkSession, records: list[dict], labels: list[str] = ()) -> Frame:
    """[]map records (reference InterfaceRecordReader io.go:363-432)."""
    df = spark.createDataFrame(records)
    return Frame(df, labels=list(labels))


def write_records(frame: Frame, *, include_labels: bool = True) -> list[list[str]]:
    """Frame → [][]string with nulls as "(null)" (reference
    io.go:271-299). Driver-side sink — test/interop scale only. One
    ``selectExpr`` of canon strings (never NULL) fetched with ``toArrow``."""
    df = frame.to_df()
    fields = df.schema.fields
    keep = [i for i, f in enumerate(fields) if include_labels or f.name not in frame.labels]
    header = [[fields[i].name for i in keep]]
    if not keep:
        return header + [[] for _ in range(df.count())]
    # positional names: a name can hold dots or backticks, or repeat
    pos = df.toDF(*[f"_{i}" for i in range(len(fields))])
    table = pos.selectExpr(*[f"{canon_sql(f'_{i}', fields[i].dataType)} AS _{i}" for i in keep]).toArrow()
    cols = [[NULL_OUT if v == "\x00null" else v for v in c.to_pylist()] for c in table.columns]
    return header + [list(row) for row in zip(*cols)]
