"""Column-oriented JSON codec + matrix IO (reference io.go:45-97, 505-532).

The reference's JSON form is column-oriented with explicit null masks:
  {"name": ..., "labels": [{name, values, nulls}], "columns": [...]}
Driver-side (test/interop scale). The 100 TB JSON path is
spark.read/write.json, which Frame exposes directly.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tada_spark.frame import Frame


def frame_to_json(frame: Frame) -> str:
    """Frame → column-oriented JSON with null masks."""
    df = frame.to_df()
    rows = df.collect()
    cols = []
    for i, name in enumerate(df.columns):
        values = [r[i] for r in rows]
        nulls = [v is None or (isinstance(v, float) and math.isnan(v)) for v in values]
        cols.append(
            {
                "name": name,
                "values": [None if n else _jsonable(v) for v, n in zip(values, nulls)],
                "nulls": nulls,
                "is_label": name in frame.labels,
                # dtype rides along so an all-null column round-trips —
                # bare-name schema inference fails with no non-null value
                "dtype": df.schema[name].dataType.simpleString(),
            }
        )
    return json.dumps({"name": frame.name, "columns": cols})


def _jsonable(v):
    import base64
    import decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # str round-trips exactly; frame_from_json casts back via the
        # declared decimal dtype (float() would corrupt the low digits)
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    return v


def frame_from_json(spark: SparkSession, payload: str) -> Frame:
    """Column-oriented JSON → Frame (strings re-parse via Frame.cast)."""
    doc = json.loads(payload)
    cols = doc["columns"]
    if not cols:
        raise ValueError("frame_from_json: no columns")
    names = [c["name"] for c in cols]
    n = len(cols[0]["values"])
    rows = [
        tuple(None if c["nulls"][i] else c["values"][i] for c in cols) for i in range(n)
    ]
    def _string_coded(dtype: str) -> bool:
        # serialized as strings, cast back after createDataFrame:
        # timestamps/dates (isoformat), decimals (exact str), binary
        # (base64 — cast via unbase64 below)
        return (
            dtype in ("timestamp", "timestamp_ntz", "date", "binary")
            or dtype.startswith("decimal")
        )

    if all("dtype" in c for c in cols):
        def sql_type(c):
            return "string" if _string_coded(c["dtype"]) else c["dtype"]

        schema = ", ".join(f"`{c['name']}` {sql_type(c)}" for c in cols)
    else:
        schema = names  # legacy payloads without dtype hints
    df = spark.createDataFrame(rows, schema=schema)
    if all("dtype" in c for c in cols):
        for c in cols:
            if c["dtype"] == "binary":
                df = df.withColumn(c["name"], F.unbase64(F.col(c["name"])))
            elif _string_coded(c["dtype"]):
                # isoformat/decimal strings round-trip losslessly
                # through a plain cast (Spark parses the optional
                # fractional part natively, which the multi-format
                # Frame.cast list does not)
                df = df.withColumn(c["name"], F.col(c["name"]).cast(c["dtype"]))
    return Frame(df, labels=[c["name"] for c in cols if c.get("is_label")], name=doc.get("name", ""))


def read_matrix(spark: SparkSession, matrix, col_names: list[str] | None = None) -> Frame:
    """2-D numeric array (numpy / nested lists) → all-float64 Frame
    (reference MatrixReader io.go:505-532), built as an Arrow local
    relation of nullable double columns (no Python worker runs)."""
    from pyspark.sql import types as T

    from tada_spark.session import local_frame

    # NaN → NULL like every other reader (reference options.go:18 —
    # from_pandas and the record readers already normalize; a matrix
    # cell must not be the one place NaN leaks through)
    data = [
        [None if (x != x) else float(x) for x in row]  # NaN != NaN
        for row in matrix
    ]
    if not data:
        raise ValueError("read_matrix: empty matrix")
    names = col_names or [str(i) for i in range(len(data[0]))]
    if any(len(r) != len(names) for r in data):
        raise ValueError(f"read_matrix: every row must have {len(names)} values, one per column")
    schema = T.StructType([T.StructField(n, T.DoubleType()) for n in names])
    return Frame(local_frame(spark, schema, [[r[j] for r in data] for j in range(len(names))]))
