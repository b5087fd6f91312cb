"""Storage lifetime of pins: the round loops free every round their
result does not read, ``iterate`` frees its own pins on a raise, and
Spark frees the pins a result reads once the result is dropped."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import functions as F

from conftest import size_path, held_rdds


def _components(spark):
    from tada_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    with size_path(spark, "distributed"):
        return connected_components(pairs)


def _pagerank(spark):
    from tada_spark.functions.dedup import pagerank_quantized

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)], "id_a long, id_b long")
    return pagerank_quantized(pairs, iters=4)


def _kcenter(spark):
    from tada_spark.functions.similarity import kcenter_select

    corpus = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") * 7 % 13).cast("float"), (F.col("id") % 5).cast("float")).alias("embedding"),
    )
    return kcenter_select(corpus, k=6)


def _mmr(spark):
    from tada_spark.functions.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    return mmr_rerank(emb, emb.filter(F.col("vec_id") < 2), k=2, pool=4)


def _naive_bayes(spark):
    from tada_spark.functions.classify import naive_bayes_scores

    train = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e f", "fr"), (3, "a c e", "en")],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame([(9, "a b"), (10, "e f")], "doc_id long, text string")
    return naive_bayes_scores(train, test, n_buckets=8)


def _held_after_gc(spark, before: set[int], timeout_s: float = 30.0) -> set[int]:
    """RDDs holding storage that were not in ``before``, once the JVM has
    collected what Python dropped: Spark's ContextCleaner frees the
    storage of an RDD that no live plan reads after a JVM GC."""
    gc.collect()
    deadline = time.monotonic() + timeout_s
    while True:
        spark._jvm.System.gc()
        held = held_rdds(spark) - before
        if not held or time.monotonic() > deadline:
            return held
        time.sleep(0.5)


@pytest.mark.parametrize(
    "run,returned_pins",
    [(_components, 1), (_pagerank, 1), (_kcenter, 0), (_mmr, 4), (_naive_bayes, 2)],
    ids=[
        "connected_components", "pagerank_quantized", "kcenter_select", "mmr_rerank",
        "naive_bayes_scores",
    ],
)
def test_round_loops_hold_only_what_the_result_reads(spark, run, returned_pins):
    """Connected components and PageRank return a frame that reads the
    last round's pin; k-center returns driver-side literals; mmr's
    result reads its pool, pair and k pick pins, naive Bayes' its two
    count tables. No call leaves an entry in the cache manager, a
    dropped result frees every pin it read, and nothing carries over
    from one call to the next: the second call runs as many jobs as
    the first."""
    sc = spark.sparkContext
    jobs = []
    for call in range(2):
        before = held_rdds(spark)
        group = f"pin_lifetime_{run.__name__}_{call}"
        sc.setJobGroup(group, group)
        try:
            out = run(spark)
            out.collect()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert len(held_rdds(spark) - before) <= returned_pins
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        del out
        assert _held_after_gc(spark, before) == set()
    assert jobs[0] == jobs[1]


def test_iterate_unpins_its_own_pins_on_a_raise(spark):
    from tada_spark.plans.semantics import iterate, pin, unpin

    seed = pin(spark.range(100), eager=True)
    seed_rdd = seed._jdf.queryExecution().analyzed().rdd().id()
    before = held_rdds(spark)

    def until(df):
        if df.count() and df.first()["id"] == 3:
            raise ValueError("round 3")
        return False

    with pytest.raises(ValueError, match="round 3"):
        iterate(seed, lambda df, _: df.select((F.col("id") + 1).alias("id")), rounds=5, until=until)
    held = held_rdds(spark)
    # the seed is the caller's pin: iterate leaves it held
    assert held - before == set() and seed_rdd in held
    unpin(seed)
    assert seed_rdd not in held_rdds(spark)
