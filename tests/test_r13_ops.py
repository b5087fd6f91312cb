"""Round-13 optimization regression tests.

Each test pins an internals change made for performance this round so
that a later refactor cannot silently undo it (round rule: add a
focused test when an optimization changes an operator's internals).
"""

import pytest

from conftest import size_path


# ---------------------------------------------------------------------------
# _stream_state_partitions: Hadoop-FS sizing (r12 verdict item 2)
# ---------------------------------------------------------------------------


def test_stream_state_partitions_nested_partitioned_dir(spark, tmp_path):
    """The old os.listdir probe only summed *.parquet files at the top
    level of the directory, so a nested/partitioned layout sized to 0
    bytes -> 1 partition. getContentSummary is recursive."""
    from tada_spark.queries import _stream_state_partitions

    d = tmp_path / "events.parquet" / "day=2026-01-01"
    d.mkdir(parents=True)
    (d / "part-0000.parquet").write_bytes(b"\0" * (2 * (1 << 20) + 1024))
    n = _stream_state_partitions(spark, str(tmp_path))
    assert n == 3  # 2 MB + change -> 2 // 1MB + 1


def test_stream_state_partitions_nonlocal_uri_falls_back_wide(spark):
    """A URI whose scheme has no FileSystem impl must fall back to full
    fan-out (4 x parallelism), NEVER to a serial state store — the r12
    silent-degradation bug (verdict item 2 / advice medium #2)."""
    from tada_spark.queries import _stream_state_partitions

    par = max(int(spark.sparkContext.defaultParallelism), 1)
    n = _stream_state_partitions(spark, "nosuchscheme://bucket/prefix")
    assert n == 4 * par
    assert n != 1


def test_stream_state_partitions_env_override(spark, monkeypatch, tmp_path):
    from tada_spark.queries import _stream_state_partitions

    monkeypatch.setenv("TADA_STREAM_SHUFFLE_PARTITIONS", "17")
    assert _stream_state_partitions(spark, str(tmp_path)) == 17


def test_fs_input_bytes_matches_flat_file(spark, tmp_path):
    from tada_spark.queries import _fs_input_bytes

    p = tmp_path / "events.parquet"
    p.write_bytes(b"x" * 4096)
    assert _fs_input_bytes(spark, str(p)) == 4096


# ---------------------------------------------------------------------------
# jaccard_pairs: two-tier (size-aware) salting (r12 verdict item 4)
# ---------------------------------------------------------------------------


def _jaccard_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _skewed_corpus():
    # one hot block ("en", 40 distinct texts -> 780 rep pairs) and many
    # cold blocks (3 reps each -> 3 rep pairs): the two-tier salt must
    # treat them differently without changing a single output row
    rows = []
    did = 0
    for i in range(40):
        rows.append((did, f"hot doc {i} " + "tok%d " % (i % 7) * (3 + i % 5), "en"))
        did += 1
    for b in range(12):
        for i in range(3):
            rows.append((did, f"cold {b} doc {i} common tail words here", f"l{b}"))
            did += 1
    return rows


def test_jaccard_two_tier_salt_matches_blanket_salt(spark, monkeypatch):
    """The per-block salt factor is a pure execution detail: output must
    be row-for-row identical to the r12 blanket salt (env-forced) and
    to the unsalted join (salt=1) on a skew-shaped corpus. The salts
    exist only in the distributed plan, so the test forces it."""
    from tada_spark.functions.dedup import jaccard_pairs

    df = _jaccard_rows(spark, _skewed_corpus())

    def pairs(env):
        if env is None:
            monkeypatch.delenv("TADA_JACCARD_SALT", raising=False)
        else:
            monkeypatch.setenv("TADA_JACCARD_SALT", str(env))
        with size_path(spark, "distributed"):
            out = jaccard_pairs(df, block_cols=["lang"], ngram=3, threshold=0.3)
            return sorted((r.id_a, r.id_b, r.jaccard) for r in out.collect())

    two_tier = pairs(None)
    assert two_tier, "corpus must produce pairs for the test to bite"
    assert two_tier == pairs(128) == pairs(1)


# ---------------------------------------------------------------------------
# widen_narrow_scan: no eager materialization on post-shuffle inputs (r13)
# ---------------------------------------------------------------------------


def test_widen_does_not_execute_post_shuffle_inputs_at_build_time(spark):
    """Under AQE, .rdd finalizes the adaptive plan and RUNS every
    upstream shuffle stage — the r12 probe eagerly executed the whole
    pipeline when handed a groupBy/distinct table, then the query
    re-executed it above the repartition. Building the widened frame
    must schedule zero jobs now."""
    from pyspark.sql import functions as F

    from tada_spark.operators.layout import widen_narrow_scan

    df = (
        spark.range(10_000)
        .groupBy((F.col("id") % 100).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    out = widen_narrow_scan(df)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "widen ran upstream jobs at plan-build time"
    # and the post-shuffle stream is still spread to the target floor
    n = out.rdd.getNumPartitions()
    assert n >= spark.sparkContext.defaultParallelism
    assert out.count() == 100


def test_widen_is_idempotent_on_already_widened_streams(spark):
    """load(spread=True) pipelines pass already-widened frames through
    operators that widen again: the helper must not stack a second
    identical RoundRobin exchange (caught by the r13 full-catalog plan
    audit — curation's span stream gained a double repartition)."""
    from pyspark.sql import functions as F

    from tada_spark.operators.layout import widen_narrow_scan

    base = spark.range(1000).withColumn("t", F.col("id") * 2)
    once = widen_narrow_scan(base)
    twice = widen_narrow_scan(once.select("id", (F.col("t") + 1).alias("t")))
    plan = twice._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") <= 1


# ---------------------------------------------------------------------------
# banded LSH: streaming pair expansion, no single m^2 cell (r13 advice fix)
# ---------------------------------------------------------------------------


def test_banded_pairs_stream_without_pair_array_cell(spark):
    """The r12 grouped expansion flatten'd each bucket's full m(m-1)/2
    pair array into ONE cell before explode — a hot bucket builds a
    multi-GB value and can trip the 2^31 array-length limit. The
    two-level posexplode/slice form emits the identical pair set while
    the largest single value stays one bucket's id array. Pin both the
    result (all-pairs of a degenerate bucket) and the plan shape (two
    Generates, no flatten)."""
    from tada_spark.functions.dedup import minhash_lsh_pairs

    # 60 identical docs -> one bucket of 60 in every band -> 1770 pairs
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_pairs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "flatten" not in plan
    assert plan.count("Generate") >= 2
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert len(pairs) == 60 * 59 // 2
    assert all(a < b for a, b in pairs)


# ---------------------------------------------------------------------------
# kmeans_quantized: min-struct assignment, no per-round window shuffle (r13)
# ---------------------------------------------------------------------------


def test_kmeans_assignment_uses_aggregate_not_window(spark):
    """The r12 assign step ranked all n*k (vector, centroid) rows with a
    row_number window — a full shuffle + sort per Lloyd round. The
    min(struct(dist, cid)) rewrite is the identical winner computed
    with map-side partial aggregation; the plan must hold no Window."""
    from tada_spark.functions.similarity import kmeans_quantized

    rows = [(i, [float(i % 3), float(i // 3)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_quantized(df, k=2, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_kmeans_ties_break_to_lower_centroid_id(spark):
    """Equidistant vectors must keep the old window orderBy(dist, cid)
    tie-break: the lower centroid id wins."""
    from tada_spark.functions.similarity import kmeans_quantized

    # centroids init at vec 0 ([0,0]) and vec 1 ([2,0]); vec 2 at [1,0]
    # is exactly equidistant -> must join cluster 0
    rows = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cluster for r in kmeans_quantized(df, k=2, iters=1).collect()}
    assert got[2] == 0


def test_jaccard_salt_factor_is_per_block_in_plan(spark, monkeypatch):
    """The a-side replication must be data-dependent (sequence bounded
    by the block's __sfac__ column), not the r12 constant ``lit(S)`` —
    the plan-level signature that cold blocks pay zero replication."""
    from tada_spark.functions.dedup import jaccard_pairs

    monkeypatch.delenv("TADA_JACCARD_SALT", raising=False)
    df = _jaccard_rows(spark, _skewed_corpus())
    with size_path(spark, "distributed"):
        out = jaccard_pairs(df, block_cols=["lang"], ngram=3, threshold=0.3)
        plan = out._jdf.queryExecution().executedPlan().toString()
    # the a-side Generate explodes sequence(0, __sfac__ - 1): the bound
    # is the staged PER-BLOCK column, not the r12 round-constant
    assert "sequence(0, (__sfac__" in plan


def test_kcenter_folds_one_dot_per_round(spark, monkeypatch):
    """The greedy loop must carry the running min-d² forward (r13):
    round i folds ONE new dot product per row, not i re-folds of every
    chosen center. dot() expression construction is the proxy — the
    old form called it Σ(i) = k(k-1)/2 times across the loop, the
    incremental form exactly k-1."""
    from tada_spark.functions import similarity

    calls = {"n": 0}
    real_dot = similarity.dot

    def counting_dot(a, b):
        calls["n"] += 1
        return real_dot(a, b)

    monkeypatch.setattr(similarity, "dot", counting_dot)
    rows = [(i, [float(i), float(i % 3)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 5
    got = similarity.kcenter_select(df, k=k).collect()
    assert len(got) == k
    # one self-dot hoist (__sd__) + one per greedy round
    assert calls["n"] == 1 + (k - 1), calls["n"]


def test_kcenter_trajectory_matches_bruteforce_min(spark):
    """The incremental running min must reproduce the from-scratch
    min-to-all-chosen trajectory, including e6-floored tie handling on
    duplicate vectors (d²=0 ties must advance, never re-select)."""
    from tada_spark.functions.similarity import kcenter_select

    rows = [
        (10, [0.0, 0.0]),
        (11, [0.0, 0.0]),  # exact duplicate of the seed
        (12, [3.0, 4.0]),
        (13, [3.0, 4.0]),  # duplicate of a later center
        (14, [-1.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r.sel_order, r.vec_id, r.maxmin_d2_e6) for r in kcenter_select(df, k=5).collect()]
    # brute force in python with the same left-to-right fold + e6 floor
    import math

    def d2(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + (x - y) * (x - y)
        return s

    pts = {r[0]: r[1] for r in rows}
    chosen = [10]
    expect = [(0, 10, None)]
    while len(chosen) < 5:
        best = None
        for pid, v in pts.items():
            if pid in chosen:
                continue
            md = min(d2(v, pts[c]) for c in chosen)
            md_e6 = math.floor(md * 1e6 + 0.5)
            key = (-md_e6, pid)
            if best is None or key < best:
                best = key
        expect.append((len(chosen), best[1], -best[0]))
        chosen.append(best[1])
    assert got == expect
