"""The catalog census (tools/time_catalog.py) and the bench query set.

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
