"""Storage lifetime of pins: the round loops free every round their
result does not read, and ``iterate`` frees its own pins on a raise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import cc_path, held_rdds


def _components(spark):
    from tada_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    with cc_path(spark, "distributed"):
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


@pytest.mark.parametrize(
    "run,returned_pins",
    [(_components, 1), (_pagerank, 1), (_kcenter, 0)],
    ids=["connected_components", "pagerank_quantized", "kcenter_select"],
)
def test_round_loops_hold_only_what_the_result_reads(spark, run, returned_pins):
    """Connected components and PageRank return a frame that reads the
    last round's pin; k-center returns driver-side literals."""
    before = held_rdds(spark)
    run(spark).collect()
    assert len(held_rdds(spark) - before) <= returned_pins


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
