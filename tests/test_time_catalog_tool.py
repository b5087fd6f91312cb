"""The catalog census (tools/time_catalog.py), the bench query set and
the plan dumps' normalizer (tools/dump_plans.py).

One subprocess run of the census over three entries: an oracle-able
relational entry, a loop entry that runs its jobs while it builds its
frame, and an entry without an oracle. The census measures through
perfbench, so the records carry its per-entry medians.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

ENTRIES = ("q1_pricing_summary", "near_dup_components", "approx_distinct_suppliers")
FIELDS = {"entry", "oracle", "build.s", "catalyst.plan_s", "exec.s", "build.jobs", "exec.jobs", "py4j.calls",
          "checkpoint.calls", "storage.held_mb", "catalyst.exchanges", "warm_cpu_s", "dominant"}


@pytest.fixture(scope="module")
def census() -> list[dict]:
    cmd = [sys.executable, str(ROOT / "tools" / "time_catalog.py"), "--sf", "0.001", "-q", *ENTRIES]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return [json.loads(line) for line in p.stdout.splitlines()]


def test_census_writes_one_full_record_per_entry(census):
    assert [r["entry"] for r in census] == list(ENTRIES)
    for r in census:
        assert set(r) >= FIELDS, FIELDS - set(r)
        assert r["dominant"] in ("build.s", "catalyst.plan_s", "exec.s")
        assert r[r["dominant"]] == max(r["build.s"], r["catalyst.plan_s"], r["exec.s"])


def test_census_oracle_status(census):
    assert [r["oracle"] for r in census] == ["ok", "ok", "rows-only"]


def test_census_sees_jobs_started_while_building(census):
    assert census[1]["build.jobs"] > 0


def test_dump_plans_defaults_to_bench_headliners():
    import bench
    import dump_plans

    assert dump_plans.query_fns() == bench.headline_queries()
    assert len(bench.headline_queries()) == 12


# Excerpts of one captured `explain("formatted")` dump (a bucketed
# table named after the application id, a pin, a shuffle), from a
# checkout at /work/tada_spark.
CAPTURED_PLAN = """\
(1) Scan parquet spark_catalog.default.q_buck_orders_local_1792426465031
Output [2]: [o_custkey#103L, o_totalprice#104]
Location: InMemoryFileIndex [file:/work/tada_spark/spark-warehouse/q_buck_orders_local_1792426465031]

(8) Scan ExistingRDD
Output [2]: [lang#2, d_l#21L]
Arguments: [lang#2, d_l#21L], MapPartitionsRDD[17] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(16) Exchange
Input [2]: [lang#36, sum#85L]
Arguments: hashpartitioning(lang#36, 32), ENSURE_REQUIREMENTS, [plan_id=283]
Location: InMemoryFileIndex [file:/tmp/tada_jsonl_golden_sf0.001_local-1792426465031/docs]
"""


def test_dump_plans_normalizes_run_ids():
    import dump_plans

    assert dump_plans.normalize(CAPTURED_PLAN, root="/work/tada_spark") == """\
(1) Scan parquet spark_catalog.default.q_buck_orders_<app>
Output [2]: [o_custkey#nL, o_totalprice#n]
Location: InMemoryFileIndex [file:<root>/spark-warehouse/q_buck_orders_<app>]

(8) Scan ExistingRDD
Output [2]: [lang#n, d_l#nL]
Arguments: [lang#n, d_l#nL], MapPartitionsRDD[n] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(16) Exchange
Input [2]: [lang#n, sum#nL]
Arguments: hashpartitioning(lang#n, 32), ENSURE_REQUIREMENTS, [plan_id=n]
Location: InMemoryFileIndex [file:/tmp/tada_jsonl_golden_sf0.001_<app>/docs]
"""
