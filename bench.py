"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with a noop-format write (full materialization of
every column — count() would let Catalyst prune the plan and undercount).
Every timed run goes through ``_best_of``: best of 3 for the calibration
query and the 12 headliners (``headline_queries()``), best of 2 for the
catalog tier, with a third run for a query whose two runs differ by more
than 1.5x. ``steal_share`` and ``catalog_tier_steal_share`` are the share
of the host's CPU time other guests stole during each section's runs,
read from /proc/stat through perfbench's ``cpu_times()``.
Baseline context (BASELINE.md): the reference's published numbers are
100k-row single-node micro-benchmarks; the comparable workloads here are
scan_sum / groupby_sum, plus the engine's headline relational and
training-data queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from perfbench.run import cpu_times


def scan_sum(spark, sf):
    """Single-column sum over parquet scan (BASELINE metric 1-2 analog)."""
    from tada_spark.queries import load

    return load(spark, sf, "lineitem").agg(s=F.sum("l_quantity")).df


def multi_sum(spark, sf):
    """Multi-column sum (BASELINE metric 3 analog)."""
    from tada_spark.queries import load

    li = load(spark, sf, "lineitem")
    return li.agg(
        **{f"s{i}": F.sum(c) for i, c in enumerate(["l_quantity", "l_extendedprice", "l_discount", "l_tax"])}
    ).df


def groupby_sum(spark, sf):
    """Group by one key then sum (BASELINE metric 4 analog)."""
    from tada_spark.queries import load

    li = load(spark, sf, "lineitem")
    return li.group_by("l_returnflag").sum("l_quantity").df


def _load_gate(max_load: float, wait_s: int = 120, poll_s: int = 10) -> dict:
    """Quiet-window gate (r11 verdict #5): the committed r11 artifact was
    taken at load 7.46 and only the ratio table rescued comparability.
    Before the first timed query, poll the 1-minute load average for up
    to ``wait_s`` seconds; if it never drops below ``max_load``, STILL
    run (the driver needs an artifact) but stamp the output
    noisy=True so no reader mistakes it for a quiet-window number.
    Returns the gate report dict merged into the JSON output."""
    waited = 0
    load = os.getloadavg()[0]
    while load > max_load and waited < wait_s:
        print(
            f"load gate: load_1m={load:.2f} > {max_load:.2f}, waiting "
            f"({waited}/{wait_s}s)...",
            file=sys.stderr,
        )
        time.sleep(poll_s)
        waited += poll_s
        load = os.getloadavg()[0]
    return {
        "load_gate_max": max_load,
        "load_gate_waited_sec": waited,
        "noisy": load > max_load,
    }


def headline_queries() -> dict:
    """The 12 headline queries, in the order bench.py reports them."""
    from tada_spark.queries import CATALOG, cosine_topk_neighbors, rolling_1h_sum

    # rolling_1h_sum / cosine_topk_neighbors are bench headliners kept as
    # standalone functions (their catalog twins are the consolidated
    # rolling_n_duration_events / ann_topk_exact_ivf) so round-over-round
    # bench keys stay comparable
    return {
        "scan_sum": scan_sum,
        "multi_sum": multi_sum,
        "groupby_sum": groupby_sum,
        "q1_pricing_summary": CATALOG["q1_pricing_summary"][0],
        "q3_top_revenue_orders": CATALOG["q3_top_revenue_orders"][0],
        "q5_region_revenue": CATALOG["q5_region_revenue"][0],
        "sort_topk_customers": CATALOG["sort_topk_customers"][0],
        "rolling_1h_sum": rolling_1h_sum,
        "dedup_exact_fingerprint": CATALOG["dedup_exact_fingerprint"][0],
        "minhash_candidate_pairs": CATALOG["minhash_candidate_pairs"][0],
        "cosine_topk_neighbors": cosine_topk_neighbors,
        "asof_last_purchase": CATALOG["asof_last_purchase"][0],
    }


def _best_of(spark, sf_dir: str, fns: dict, n: int) -> tuple[dict, dict, float]:
    """Run each query n times with the noop sink: ({name: best}, {name:
    every run}) in seconds rounded to ms, and the share of the host's
    CPU time other guests stole meanwhile. Runs that disagree by more
    than 1.5x get a third run, so a best of 2 is not one noisy pair."""
    best: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    steal0, total0 = cpu_times()
    for name, fn in fns.items():
        rs: list[float] = []
        while len(rs) < n or (len(rs) < 3 and max(rs) > 1.5 * min(rs)):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            rs.append(round(time.time() - t0, 3))
        runs[name] = rs
        best[name] = min(rs)
    steal1, total1 = cpu_times()
    return best, runs, round((steal1 - steal0) / max(1, total1 - total0), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from tada_spark.queries import CATALOG
    from tada_spark.session import get_spark

    # gate BEFORE Spark spins up (the JVM itself adds load): threshold
    # 2×cpus/8 — "at most ~2 busy cores of neighbor work per 8 cpus".
    # cpus resolves EXACTLY like get_spark (env override, else the
    # machine) so the gate's denominator matches the parallelism the
    # bench actually runs at (r12 review: a hardcoded 8 fallback on a
    # 32-core box mislabeled quiet runs noisy)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    gate = _load_gate(max_load=2.0 * cpus / 8.0)

    spark = get_spark("tada_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so timings measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # drift context (r4 verdict ask #6): the machine's timings swing ±40%
    # with neighbor load — record the OS load average, the CPU share
    # other guests steal, plus a fixed synthetic calibration query (no
    # IO, no shuffle) so a round-over-round delta can be attributed to
    # plan changes vs a busy box
    load_start = os.getloadavg()[0]
    calibration = {"calibration": lambda s, _: s.range(50_000_000).agg(F.sum("id"))}
    calib = _best_of(spark, sf_dir, calibration, 3)[0]["calibration"]

    # best-of-3: single-VM timings vary ±40% with neighbor load (the
    # round-2 record shows the same code drifting 7.9s -> 5.7s across
    # runs); the min over three is the standard steady-state estimator
    # and what a throughput claim at scale should report
    times, runs, steal_share = _best_of(spark, sf_dir, headline_queries(), 3)

    # Catalog tier (r12 verdict item 3, ADDITIONS-ONLY): the heavy
    # catalog entries the optimization rounds actually moved (jaccard
    # verify, CC, rank-selection median, curation single-pass, LSH
    # pair generation, Lloyd) are invisible in the 12 headliners, so
    # round-over-round deltas on that class of work depended on
    # builder-run A/Bs. Timed AFTER the headliners with the identical
    # noop-sink methodology so the headline keys stay byte-comparable;
    # best-of-2 (each entry runs seconds, not ms — one warm repeat
    # de-noises the cold first run without doubling the bench again),
    # and a third run when the two disagree by more than 1.5x.
    catalog_tier_names = [
        "jaccard_near_dups",
        "dedup_threshold_sweep_docs",
        "near_dup_components",
        "theil_sen_daily_revenue",
        "curation_report_langs",
        "minhash_oph_pairs",
        "source_overlap_matrix",
        "simhash_candidates",
        "kmeans_embeddings",
    ]
    tier_fns = {n: CATALOG[n][0] for n in catalog_tier_names}
    tier, tier_runs, tier_steal_share = _best_of(spark, sf_dir, tier_fns, 2)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                # estimator pinned since r03: best of n=3 runs per query
                # (recorded so cross-round deltas are estimator-stable)
                "n": 3,
                # drift context: 1-min load average at start/end and a
                # fixed in-memory calibration query (best of 3) — compare
                # calibration_sec across rounds before reading a total
                # delta as a regression
                "load_1m_start": round(load_start, 2),
                "load_1m_end": round(os.getloadavg()[0], 2),
                "calibration_sec": round(calib, 3),
                # share of host CPU stolen by other guests over the
                # headline runs: a slow total with high steal is the
                # host, not the code
                "steal_share": steal_share,
                # quiet-window gate (r11 verdict #5): noisy=True means
                # the gate timed out waiting for the box to quiet down —
                # read only the ratios from such an artifact
                **gate,
                "queries": times,
                # tide normalization (r9 verdict ask #7): per-query
                # time ÷ calibration time. The box's speed swings ±40%
                # with neighbor load and moves ALL queries in lockstep;
                # a real regression moves one query's RATIO while the
                # others hold. Compare ratios across rounds, not raw
                # seconds (rule documented in SCALE.md).
                "ratios": {n: round(t / calib, 2) for n, t in times.items()},
                # per-query spread (r10 verdict ask #6): ALL n runs, in
                # order, so a single noisy run can't masquerade as (or
                # hide) a regression — read the min, judge by the spread
                "runs": runs,
                # heavy-catalog section (r12 verdict item 3): separate
                # keys, separate total — "value" above remains the
                # 12-headliner total so every historical artifact stays
                # directly comparable
                "catalog_tier": tier,
                "catalog_tier_total": round(sum(tier.values()), 3),
                # best of 2; best of 3 for an entry whose two runs
                # differ by more than 1.5x (catalog_tier_runs shows it)
                "catalog_tier_n": 2,
                "catalog_tier_runs": tier_runs,
                "catalog_tier_steal_share": tier_steal_share,
                "catalog_tier_ratios": {
                    n: round(t / calib, 2) for n, t in tier.items()
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
