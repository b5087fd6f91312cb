"""Layer census of the CATALOG: one JSON record per entry, measured by perfbench.

Times nothing itself: the selected entries (all by default) become an
in-memory perfbench workload (noop sink, every TABLES table present at
the scale factor) run through perfbench/run.py's Bench and run() with
tracing on. perfbench's own JSON lines, host CPU steal among them, go to
standard error.

Usage:
  python tools/time_catalog.py [--sf SCALE] [-q NAME ...] [-o OUT.jsonl]

Each record (to -o, else standard output) holds the entry; its oracle
status: ok, rows-only when it has no oracle, else the first failure note
(a failure does not stop the census); the per-entry medians of FIELDS,
null when the entry never completed a traced and an untraced pass
(storage.held_mb is all the session holds after the entry, pins that
earlier entries left included); and the dominant one of SPANS.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SPANS = ("build.s", "catalyst.plan_s", "exec.s")
FIELDS = SPANS + ("build.jobs", "exec.jobs", "py4j.calls", "checkpoint.calls", "storage.held_mb",
                  "catalyst.exchanges", "warm_cpu_s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", type=float, default=0.001, help="scale factor (default 0.001)")
    ap.add_argument("-q", "--queries", nargs="*", default=None)
    ap.add_argument("-o", "--out", default=None)
    args = ap.parse_args()

    from perfbench.run import Bench, data_root, median, run, shutdown_jvm
    from tada_spark.queries import CATALOG, TABLES

    names = args.queries or list(CATALOG)
    if unknown := [n for n in names if n not in CATALOG]:
        print(f"time_catalog: unknown entries {unknown}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(data_root(), f"sf{args.sf:g}")
    tables = [t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if not tables:
        print(f"time_catalog: no tables under {sf_dir}", file=sys.stderr)
        return 2
    spec = {"workloads": {"census": {"sf": args.sf, "sink": "noop", "nominal_pass_s": 1.0,
                                     "tables": tables, "entries": names}}}
    bargs = SimpleNamespace(workload="census", seed=1, seconds=0.0, trace=1, spans=None, sf=args.sf)
    bench = Bench(bargs, spec, "")

    # run() sets PYSPARK_SUBMIT_ARGS before it starts the JVM, so no
    # Spark may start before it; the wrapper is perfbench's main()
    bench.tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with contextlib.redirect_stdout(sys.stderr):
            run(bargs, spec, bench)
    finally:
        shutdown_jvm()
        shutil.rmtree(bench.tmp, ignore_errors=True)

    with open(args.out, "w") if args.out else contextlib.nullcontext(sys.stdout) as out:
        for name in names:
            m, note = bench.per_query.get(name, {}), bench.fail_notes.get(name)
            ran = "build.s" in m and "warm_cpu_s" in m
            rec = {"entry": name, "oracle": note or "ok"}
            if CATALOG[name][1] is None:  # perfbench's oracle check of it always fails
                rec["oracle"] = "rows-only" if ran else note
            rec.update({k: median(m.get(k, [])) if ran else None for k in FIELDS})
            rec["dominant"] = max(SPANS, key=rec.get) if ran else None
            out.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
