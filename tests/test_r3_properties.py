"""Property suites for the round-3 operators: each checks the
distributed implementation against an independent, obviously-correct
reference implementation on randomized inputs (the reference repo's
test model, SURVEY §5, applied to the new surface).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import SIZE_PATHS, size_path

# ---------------------------------------------------------------------------
# merge_session_batch ≡ single-pass session count over the sorted stream
# ---------------------------------------------------------------------------

GAP_US = 1800 * 1_000_000


def _sessions_reference(all_us: list[int], gap_us: int) -> tuple:
    """Oracle: sort everything, walk once."""
    xs = sorted(all_us)
    n_sessions = 1
    for prev, cur in zip(xs, xs[1:]):
        if cur - prev >= gap_us:
            n_sessions += 1
    return xs[0], xs[-1], n_sessions, len(xs)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**13), min_size=1, max_size=60
    ),
    st.data(),
)
def test_merge_session_batch_equals_reference(vals, data):
    """Splitting a sorted event stream into arbitrary consecutive
    batches and folding merge_session_batch over them equals the
    single-pass walk. (Batches are time-ordered — the operator's
    documented micro-batch contract; WITHIN a batch order is random,
    which the operator must sort out itself.)"""
    from tada_spark.streaming.stateful import merge_session_batch

    xs = sorted(vals)
    n_cuts = data.draw(st.integers(min_value=0, max_value=min(4, len(xs) - 1)))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=len(xs) - 1),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    ) if len(xs) > 1 else []
    batches, prev = [], 0
    for c in cuts + [len(xs)]:
        if c > prev:
            batches.append(xs[prev:c])
            prev = c
    st_ = (None, None, 0, 0)
    for b in batches:
        shuffled = data.draw(st.permutations(b))
        st_ = merge_session_batch(
            st_, np.sort(np.array(shuffled, dtype=np.int64)), GAP_US
        )
    assert st_ == _sessions_reference(xs, GAP_US)


# ---------------------------------------------------------------------------
# connected_components ≡ union-find
# ---------------------------------------------------------------------------


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min id per component
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_equals_union_find(spark, seed):
    from tada_spark.functions.dedup import connected_components

    rng = np.random.default_rng(seed)
    n_nodes, n_edges = 40, 35
    pairs = [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]
    want = _union_find(pairs)
    for path in SIZE_PATHS:
        with size_path(spark, path):
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    spark.createDataFrame(pairs, ["id_a", "id_b"])
                ).collect()
            }
        assert got == want, path


# ---------------------------------------------------------------------------
# NTZ ≡ LTZ operator equivalence (same wall clock in, same values out)
# ---------------------------------------------------------------------------


def test_range_join_family_equivalence(spark):
    """range_join over NTZ and LTZ encodings of the same wall clocks
    produces the same (left, right) id pairs."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tada_spark.operators.interval import range_join

    rng = np.random.default_rng(7)
    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=int(s)))
        for i, s in enumerate(rng.integers(0, 7200, size=40))
    ]
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampNTZType())]
    )
    ntz = spark.createDataFrame(rows, schema)
    ltz = ntz.withColumn("ts", F.col("ts").cast("timestamp"))

    def pairs(df):
        right = df.select(
            F.col("id").alias("rid"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 17 MINUTES")).alias("end"),
        )
        out = range_join(
            df, right, left_ts="ts", right_start="start", right_end="end", bucket_s=300
        )
        return {(r["id"], r["rid"]) for r in out.select("id", "rid").collect()}

    assert pairs(ntz) == pairs(ltz)


def test_resample_family_equivalence(spark):
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tada_spark.frame import Frame

    rows = [
        (i, dt.datetime(2024, 3, 1) + dt.timedelta(minutes=7 * i)) for i in range(50)
    ]
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampNTZType())]
    )
    ntz = Frame(spark.createDataFrame(rows, schema))
    ltz = Frame(ntz.df.withColumn("ts", F.col("ts").cast("timestamp")))
    for kwargs in (
        {"by": "duration", "duration_seconds": 900},
        {"by": "week"},
        {"by": "hour"},
    ):
        a = sorted(
            str(r["b"]) for r in ntz.resample("ts", as_col="b", **kwargs).df.collect()
        )
        b = sorted(
            str(r["b"]) for r in ltz.resample("ts", as_col="b", **kwargs).df.collect()
        )
        assert a == b, kwargs
