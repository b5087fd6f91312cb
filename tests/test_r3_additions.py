"""Round-3 additions: NTZ canon parity, the multimodal stub/real swap
contract, and the event-time stateful session operator.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tada_spark.plans.semantics import canon_str, py_canon

from conftest import SIZE_PATHS, size_path, held_rdds

# ---------------------------------------------------------------------------
# canon: TIMESTAMP_NTZ joins the LTZ branch (RFC3339 rendering)
# ---------------------------------------------------------------------------

_dts = st.datetimes(
    min_value=dt.datetime(1970, 1, 2), max_value=dt.datetime(2100, 1, 1)
).map(lambda d: d.replace(microsecond=0))


@settings(max_examples=20, deadline=None)
@given(st.lists(_dts, min_size=1, max_size=8))
def test_canon_ntz_ltz_parity(spark, vals):
    """The same ingested wall-clock value canon-renders identically from
    an NTZ column, an LTZ column, and py_canon — so canon-keyed joins
    and group-bys behave the same whichever family the parquet encoding
    produced (UTC session zone)."""
    schema = T.StructType(
        [
            T.StructField("idx", T.LongType()),
            T.StructField("v", T.TimestampNTZType()),
        ]
    )
    df = spark.createDataFrame(list(enumerate(vals)), schema)
    both = df.withColumn("v_ltz", F.col("v").cast("timestamp"))
    got = {
        r["idx"]: (r["c_ntz"], r["c_ltz"])
        for r in both.select(
            "idx",
            canon_str(F.col("v"), T.TimestampNTZType()).alias("c_ntz"),
            canon_str(F.col("v_ltz"), T.TimestampType()).alias("c_ltz"),
        ).collect()
    }
    for i, v in enumerate(vals):
        want = py_canon(v)
        assert got[i] == (want, want), (v, got[i], want)


def test_canon_ntz_group_keys_match_ltz(spark):
    """Mixed-family frames group into the same canon buckets."""
    from tada_spark.frame import Frame

    rows = [(i % 3, dt.datetime(2024, 1, 1 + i % 3)) for i in range(9)]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    ntz = Frame(spark.createDataFrame(rows, schema))
    ltz = Frame(ntz.df.withColumn("ts", F.col("ts").cast("timestamp")))
    g_ntz = {
        r["k"]: r["n"]
        for r in ntz.group_by("ts", canon=True).agg(n=F.count("*")).df
        .withColumnRenamed("ts", "k").collect()
    }
    g_ltz = {
        r["k"]: r["n"]
        for r in ltz.group_by("ts", canon=True).agg(n=F.count("*")).df
        .withColumnRenamed("ts", "k").collect()
    }
    assert g_ntz == g_ltz and len(g_ntz) == 3


# ---------------------------------------------------------------------------
# multimodal: stub/real decoder swap contract
# ---------------------------------------------------------------------------


def _media_df(spark):
    rows = [
        (1, bytes([10] * 100)),
        (2, bytes([200] * 50)),
        (3, None),  # undecodable -> dropped
        (4, b""),  # empty -> dropped
    ]
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_image_decoder_swap_contract(spark):
    """Swapping the stub for a 'real' decoder changes VALUES only: same
    output schema, same surviving rows, same error-drop policy. This is
    the contract that makes the container stub safe — a PIL decode drops
    in with zero pipeline changes."""
    from tada_spark.functions.multimodal import IMAGE_FEATURES_SCHEMA, image_features

    df = _media_df(spark)

    def real_like_decoder(payload: bytes):
        if payload is None or len(payload) == 0:
            raise ValueError("undecodable")
        return 640, 480, 0.5  # what a real decoder would report

    stub_out = image_features(df)
    real_out = image_features(df, decoder=real_like_decoder)
    assert stub_out.schema == real_out.schema == IMAGE_FEATURES_SCHEMA
    stub_rows = {r["media_id"] for r in stub_out.collect()}
    real_rows = {r["media_id"]: r for r in real_out.collect()}
    assert stub_rows == set(real_rows) == {1, 2}  # drop policy identical
    assert all(
        (r["width"], r["height"], r["mean_luma"]) == (640, 480, 0.5)
        for r in real_rows.values()
    )


def test_audio_decoder_swap_contract(spark):
    from tada_spark.functions.multimodal import AUDIO_FEATURES_SCHEMA, audio_features

    df = _media_df(spark)

    def real_like_decoder(payload: bytes):
        if payload is None or len(payload) == 0:
            raise ValueError("undecodable")
        return 44100, 1.5, 0.25

    stub_out = audio_features(df)
    real_out = audio_features(df, decoder=real_like_decoder)
    assert stub_out.schema == real_out.schema == AUDIO_FEATURES_SCHEMA
    assert {r["media_id"] for r in stub_out.collect()} == {
        r["media_id"] for r in real_out.collect()
    } == {1, 2}


# ---------------------------------------------------------------------------
# stateful sessions: pure merge logic incl. cross-batch boundaries
# ---------------------------------------------------------------------------

MIN = 60 * 1_000_000
GAP = 30 * MIN


def _us(*minutes):
    return np.array([m * MIN for m in minutes], dtype=np.int64)


def test_merge_session_batch_single():
    from tada_spark.streaming.stateful import merge_session_batch

    st0 = (None, None, 0, 0)
    # 0,5,10 | gap 40m | 50,55 -> 2 sessions
    out = merge_session_batch(st0, _us(0, 5, 10, 50, 55), GAP)
    assert out == (0, 55 * MIN, 2, 5)


def test_merge_session_batch_boundary():
    """A batch split must not change the session count: continuation
    (< gap) merges, a >= gap boundary starts a new session."""
    from tada_spark.streaming.stateful import merge_session_batch

    one = merge_session_batch((None, None, 0, 0), _us(0, 5, 50, 55), GAP)
    cont = merge_session_batch(
        merge_session_batch((None, None, 0, 0), _us(0, 5), GAP), _us(50, 55), GAP
    )
    assert one == cont == (0, 55 * MIN, 2, 4)
    merged = merge_session_batch(
        merge_session_batch((None, None, 0, 0), _us(0, 5), GAP), _us(20, 25), GAP
    )
    assert merged == (0, 25 * MIN, 1, 4)  # < gap: still one session
    empty = merge_session_batch(merged, np.array([], dtype=np.int64), GAP)
    assert empty == merged


def test_session_stats_tz_aware_pandas_path():
    """LTZ input can surface as tz-aware pandas series; the epoch
    normalization must agree with the naive path (UTC session zone)."""
    naive = pd.Series(pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]))
    aware = naive.dt.tz_localize("UTC")
    s = aware
    if getattr(s.dtype, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    a = s.astype("datetime64[us]").astype("int64")
    b = naive.astype("datetime64[us]").astype("int64")
    assert (a == b).all()


def test_session_stats_batch_mode(spark):
    """session_stats on a static frame (batch execution of the same
    applyInPandasWithState plan is not supported; emulate via pandas
    path) — covered end-to-end by the catalog oracle; here check the
    ts-unit robustness: ns- and us-backed pandas inputs agree."""
    from tada_spark.streaming.stateful import merge_session_batch

    ts = pd.Series(pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]))
    ns_units = ts.astype("datetime64[ns]").astype("datetime64[us]").astype("int64")
    us_units = ts.astype("datetime64[us]").astype("int64")
    assert (ns_units == us_units).all()
    out = merge_session_batch(
        (None, None, 0, 0), us_units.sort_values().to_numpy(), GAP
    )
    assert out[2] == 2  # 1h gap >= 30m -> two sessions


# ---------------------------------------------------------------------------
# connected components + decontamination
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_pair(spark):
    """Chain 1-2-3 collapses to one component (pairwise keep-min would
    wrongly delete both 2 and 3); 10-11 is separate; convergence stops
    early. Both paths."""
    from tada_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    for path in SIZE_PATHS:
        with size_path(spark, path):
            got = {
                r["node"]: (r["component"], r["keep"])
                for r in connected_components(pairs).collect()
            }
        assert got == {
            1: (1, True),
            2: (1, False),
            3: (1, False),
            10: (10, True),
            11: (10, False),
        }, path


def test_connected_components_no_convergence_raises(spark):
    """A 3-edge chain does not converge in 0 or 1 rounds; the raise
    leaves nothing held."""
    from tada_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    for path in SIZE_PATHS:
        for max_iter in (0, 1):
            before = held_rdds(spark)
            with size_path(spark, path), pytest.raises(RuntimeError, match="no convergence"):
                connected_components(pairs, max_iter=max_iter)
            assert held_rdds(spark) - before == set(), (path, max_iter)


@pytest.mark.parametrize("path", SIZE_PATHS)
@pytest.mark.parametrize(
    "rows,id_type,want",
    [
        # a NULL id is its own node with a NULL label; no label flows
        # through it, so 2 and 5 stay in different components
        (
            [(1, 2), (2, None), (None, 5), (5, 6)],
            "bigint",
            {(1, 1, True), (2, 1, False), (5, 5, True), (6, 5, False), (None, None, None)},
        ),
        (
            [("b", "a"), ("c", "b"), ("x", "y")],
            "string",
            {("a", "a", True), ("b", "a", False), ("c", "a", False), ("x", "x", True), ("y", "x", False)},
        ),
    ],
    ids=["null_ids", "string_ids"],
)
def test_connected_components_null_and_string_ids(spark, path, rows, id_type, want):
    """Both paths return exactly these rows, in the same schema."""
    from tada_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(rows, f"id_a {id_type}, id_b {id_type}")
    with size_path(spark, path):
        out = connected_components(pairs)
        got = [tuple(r) for r in out.collect()]
    assert sorted(got, key=str) == sorted(want, key=str)
    assert out.schema.simpleString() == (
        f"struct<node:{id_type},component:{id_type},keep:boolean>"
    )


def test_connected_components_driver_path_job_count(spark):
    """The driver path collects the pairs in one job and hands back an
    Arrow-built frame: connected components plus collect() on the
    3-edge graph runs at most 2 jobs (the distributed loop runs ~20)."""
    from tada_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    sc = spark.sparkContext
    group = "cc_driver_path_job_count"
    sc.setJobGroup(group, group)
    try:
        assert len(connected_components(pairs).collect()) == 5
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_contamination_hits(spark):
    from tada_spark.functions.text import contamination_hits

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx the quick brown fox jumps over the lazy dog yy"),  # overlaps
            (2, "completely different content with no shared shingles at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_hits"] for r in contamination_hits(corpus, bench).collect()}
    assert 1 in got and got[1] > 0
    assert 2 not in got
