"""canon_sql: the canon rules as SQL text, and the callers built on it.

write_records renders every cell through one projection of canon_sql
fetched as Arrow; the expected records below are literals, so a change
to any rule or to the fetch shows up as a diff here. The py4j budgets
pin the point of the SQL-text form: a canon rule costs a fixed handful
of round trips, not one per Column operator.
"""

from __future__ import annotations

import datetime as dt
from contextlib import contextmanager
from decimal import Decimal

import py4j
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tada_spark.frame import Frame
from tada_spark.plans.semantics import canon_key, canon_sql, canon_str
from tada_spark.session import local_frame
from tada_spark.sources.records import write_records


def _frame(spark, fields, columns, labels=()):
    schema = T.StructType([T.StructField(n, t) for n, t in fields])
    return Frame(local_frame(spark, schema, columns), labels=list(labels))


def test_write_records_zero_rows(spark):
    f = _frame(spark, [("a", T.DoubleType()), ("b", T.StringType())], [[], []])
    assert write_records(f) == [["a", "b"]]


def test_write_records_no_kept_columns(spark):
    f = _frame(
        spark, [("k1", T.StringType()), ("k2", T.LongType())], [["x", "y"], [1, 2]], labels=["k1", "k2"]
    )
    assert write_records(f, include_labels=False) == [[], [], []]


def test_write_records_all_null_column(spark):
    f = _frame(spark, [("a", T.StringType()), ("n", T.DoubleType())], [["x", None], [None, None]])
    assert write_records(f) == [["a", "n"], ["x", "(null)"], ["(null)", "(null)"]]


def test_write_records_dotted_backticked_duplicate_headers(spark):
    f = _frame(
        spark,
        [("a.b", T.LongType()), ("`c`", T.StringType()), ("x", T.DoubleType()), ("x", T.StringType())],
        [[1, None], ["p", "q"], [1.5, 2.0], ["s", None]],
    )
    assert write_records(f) == [
        ["a.b", "`c`", "x", "x"],
        ["1", "p", "1.5", "s"],
        ["(null)", "q", "2", "(null)"],
    ]


_STAMPS = [
    dt.datetime(2020, 1, 2, 3, 4, 5, 6),
    dt.datetime(1999, 12, 31),
    dt.datetime(1970, 1, 1),
    dt.datetime(2038, 1, 19, 3, 14, 7),
    dt.datetime(999, 1, 1),
    None,
]

_TYPED = [
    ("d", T.DoubleType(), [1.0, 2.5e-4, -0.0, 1e20, 123.456, None]),
    (
        "dec",
        T.DecimalType(38, 18),
        [Decimal("1.5"), Decimal("-3"), Decimal("1e-18"), Decimal("12345678901234567890.5"), Decimal(0), None],
    ),
    ("ts", T.TimestampType(), _STAMPS),
    ("ntz", T.TimestampNTZType(), _STAMPS),
    ("day", T.DateType(), [d.date() if d else None for d in _STAMPS]),
    ("b", T.BooleanType(), [True, False, True, False, True, None]),
    (
        "t",
        T.TimeType(),
        [dt.time(3, 4, 5, 6), dt.time(0, 0), dt.time(23, 59, 59), dt.time(12, 0, 0, 500000), dt.time(1, 2, 3), None],
    ),
    ("i", T.LongType(), [1, -2, 0, 2**62, -(2**63), None]),
    ("s", T.StringType(), ["a", "", "(null)", "x|y", "1.0", None]),
]


def test_write_records_one_column_per_type(spark):
    f = _frame(spark, [(n, t) for n, t, _ in _TYPED], [v for _, _, v in _TYPED])
    assert write_records(f) == [
        ["d", "dec", "ts", "ntz", "day", "b", "t", "i", "s"],
        ["1", "1.5", "2020-01-02T03:04:05Z", "2020-01-02T03:04:05Z", "2020-01-02", "true", "03:04:05.000006", "1", "a"],
        ["2.5E-4", "-3", "1999-12-31T00:00:00Z", "1999-12-31T00:00:00Z", "1999-12-31", "false", "00:00:00", "-2", ""],
        ["0", "0.000000000000000001", "1970-01-01T00:00:00Z", "1970-01-01T00:00:00Z", "1970-01-01", "true",
         "23:59:59", "0", "(null)"],
        ["1.0E20", "12345678901234567890.5", "2038-01-19T03:14:07Z", "2038-01-19T03:14:07Z", "2038-01-19",
         "false", "12:00:00.5", "4611686018427387904", "x|y"],
        ["123.456", "0", "0999-01-01T00:00:00Z", "0999-01-01T00:00:00Z", "0999-01-01", "true", "01:02:03",
         "-9223372036854775808", "1.0"],
        ["(null)"] * 9,
    ]


@contextmanager
def _py4j_calls():
    """Count py4j commands sent in the block (GC detach commands left
    out, as perfbench's tracer does)."""
    gc_prefix = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME
    count = [0]
    saved = []
    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        send = cls.send_command
        saved.append((cls, send))

        def counted(self, command, *a, _send=send, **k):
            if not command.startswith(gc_prefix):
                count[0] += 1
            return _send(self, command, *a, **k)

        cls.send_command = counted
    try:
        yield count
    finally:
        for cls, send in saved:
            cls.send_command = send


_Q1_SCHEMA = [
    ("l_returnflag", T.StringType()),
    ("l_linestatus", T.StringType()),
    *[(n, T.DoubleType()) for n in ("sum_qty", "sum_base_price", "sum_disc_price", "avg_qty", "avg_price", "avg_disc")],
    ("count_order", T.LongType()),
]


def test_py4j_budget_write_records_q1_schema(spark):
    cols = [["A", "N", "R"], ["F", "O", "F"], *[[1.0, 2.5, None]] * 6, [3, 2, 1]]
    f = _frame(spark, _Q1_SCHEMA, cols)
    write_records(f)  # warm: first-use class loading is not the budget
    with _py4j_calls() as n:
        out = write_records(f)
    assert out[1] == ["A", "F", "1", "1", "1", "1", "1", "1", "3"]
    assert n[0] <= 60, n[0]


def test_py4j_budget_canon_key_three_doubles(spark):
    df = _frame(spark, [(c, T.DoubleType()) for c in "abc"], [[1.0], [2.5], [None]]).df
    canon_key(df, ["a", "b", "c"])
    with _py4j_calls() as n:
        key = canon_key(df, ["a", "b", "c"])
    assert n[0] <= 10, n[0]
    assert df.select(key.alias("k")).first().k == "1|2.5|\x00null"


def test_canon_sql_quotes_the_reference_it_is_given():
    assert canon_sql("`a`", T.DateType()) == "coalesce(date_format(`a`, 'yyyy-MM-dd'), '\\u0000null')"


def test_canon_str_rejects_a_dataframe_qualified_column(spark):
    df = spark.range(1)
    assert df.select(canon_str(F.col("id"), T.LongType()).alias("c")).first().c == "0"
    with pytest.raises(TypeError):
        canon_str(df["id"], T.LongType())


def test_lookup_on_a_frame_derived_from_the_left_keeps_left_keys(spark):
    """Join keys are qualified by the join's own aliases: the left key
    column survives even when the right frame is a filter of the left
    (unmatched left rows keep their key, not the right side's NULL)."""
    g = _frame(spark, [("k", T.LongType()), ("v", T.DoubleType())], [[1, 2, 1], [1.0, 2.0, 3.0]])
    h = Frame(g.df.filter("k = 1").withColumnRenamed("v", "w"))
    out = g.lookup(h, left_on=["k"], right_on=["k"]).df
    assert out.columns == ["k", "v", "w"]
    assert sorted(out.collect()) == [(1, 1.0, 1.0), (1, 3.0, 1.0), (2, 2.0, None)]


def test_session_turns_dataframe_debugging_off(spark):
    """get_spark turns PySpark's per-Column call-site capture off; a
    runtime error keeps its error class."""
    from pyspark.errors import ArithmeticException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select((F.col("id") + F.lit(1)) / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _tumbling_stream(spark, tmp_path):
    from tada_spark.streaming.windows import stream_resample

    src = str(tmp_path / "src")
    batch = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:50:00", "a", 2.0), ("2024-01-01 01:10:00", "a", 4.0)],
        "ts string, k string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    return stream_resample(stream, "ts", "1 hour", {"total": F.sum("v")}, keys=["k"])


def test_run_available_now_restores_checkpoint_manager(spark, tmp_path):
    from tada_spark.streaming.windows import run_available_now

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    res = run_available_now(_tumbling_stream(spark, tmp_path), "t_ckpt_manager", state_partitions=2)
    rows = {str(r.window_start): r.total for r in res.collect()}
    assert rows == {"2024-01-01 00:00:00": 3.0, "2024-01-01 01:00:00": 4.0}
    assert spark.conf.get(_MANAGER, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions

    with pytest.raises(TimeoutError):
        run_available_now(_tumbling_stream(spark, tmp_path / "t"), "t_ckpt_timeout", timeout_s=0.001)
    assert spark.conf.get(_MANAGER, None) is None
