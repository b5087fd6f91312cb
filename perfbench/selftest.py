"""Self-test of the benchmark harness at sf0.001.

For every workload: one untraced and one traced run with --seconds 0
(a cold pass plus the minimum warm passes). Asserts that every end-to-end
and per-layer metric named in BENCHMARK.json is emitted with its unit,
that the untraced run prints every end-to-end metric, bounded or not,
that the outputs were verified correct, that the warm counts
(build.jobs, exec.jobs, catalyst.exchanges, checkpoint.calls) repeat
exactly across the two traced passes, and that the traced layers show
each workload's shape (streaming and testing time only where those
entries run, storage held after source_overlap_matrix, near_dup_components
running its jobs while it builds).

Usage (from the repository root): python3 perfbench/selftest.py [WORKLOAD ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPEATING = ("build.jobs", "exec.jobs", "catalyst.exchanges", "checkpoint.calls")
#: every end-to-end metric the untraced run prints, bounded or not
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "pass_cpu_s": "s", "query_cpu_p50_s": "s", "failed_frac": "share", "peak_rss_mb": "MB"}


def run(workload: str, trace: int) -> list[dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]


def check(workload: str, bench: dict, spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        lines = run(workload, trace)
        result = lines[-1]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
        assert result["correct"] and result["failed"] == 0, lines[0]["context"]["failures"]
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, f"{workload} trace={trace}: metrics differ: {set(want) ^ set(got)}"
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        e2e = next(line["end_to_end"] for line in lines if "end_to_end" in line)
        assert {k: v["unit"] for k, v in e2e.items()} == END_TO_END, e2e
        assert e2e["failed_frac"]["value"] == 0, e2e
        if trace:
            passes = next(line["per_pass"] for line in lines if "per_pass" in line)
            assert len(passes) >= 2, passes
            for name in REPEATING:
                counts = [p.get(name, 0) for p in passes]
                assert len(set(counts)) == 1, f"{workload}: {name} differs across traced passes: {counts}"
            check_shape(workload, spec, {k: v["value"] for k, v in result["metrics"].items()},
                        next(line["per_query"] for line in lines if "per_query" in line))
        print(f"ok  {workload} trace={trace}", flush=True)


def check_shape(workload: str, spec: dict, m: dict, per_query: dict) -> None:
    """The layer split the workloads were chosen to show."""
    wl = spec["workloads"][workload]
    streams = any(e.startswith("stream_") for e in wl["entries"])
    assert (m["streaming.batches"] > 0) == streams, (workload, m["streaming.batches"])
    assert (m["testing.equal_s"] > 0) == (wl["sink"] == "equal_records"), (workload, m["testing.equal_s"])
    if "source_overlap_matrix" in per_query:
        assert per_query["source_overlap_matrix"]["storage.held_mb"] > 0
    if "near_dup_components" in per_query:
        q = per_query["near_dup_components"]
        assert q["build.jobs"] >= 4 * q["exec.jobs"], q


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    named = [m["metrics"] for m in spec["layers"]]
    extra = ["process.peak_rss_mb", "trace.overhead_s"]
    assert [m["name"] for m in bench["per_layer"]] == [n for row in named for n in row] + extra
    for workload in sys.argv[1:] or list(spec["workloads"]):
        check(workload, bench, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
