"""tada_spark benchmark: one workload of catalog entries, one process.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--spans FILE]

Workloads, their entries and scale factors are in perfbench/workloads.json.
The inputs are the repo's read-only testdata parquet tables, <root>/sf<sf>,
where <root> is $PERFBENCH_DATA_ROOT or the root of the tests' SF_DIR
(tests/conftest.py); nothing is written there. --seed only permutes the
query order. A run:
  1. sets up: process start, imports, SparkSession on local[<cpus>]
     through tada_spark.session and every workload table registered
     through queries.load;
  2. runs the cold pass (the first pass in the fresh JVM);
  3. checks every entry once, untimed, with the order-insensitive hash of
     tools/check_oracle.py against its DuckDB oracle (golden_tests also
     checks that the golden records its passes compare against, captured
     in the cold pass, are that verified output); this pass is also the
     warm-up;
  4. runs max(2, round(--seconds / nominal_pass_s)) measured warm passes,
     one query at a time, with the query order permuted from --seed in
     every pass.
Every artifact (warehouse, Spark local dirs, event log, JSONL/bucketed
tables, streaming checkpoints) goes to a temporary directory inside the
checkout, removed at exit.

--trace 0 prints, in a JSON line {"end_to_end": ...} before the result,
every end-to-end metric: setup_s (process start to tables registered,
one sample per run: a set-up that starts its own JVM takes 10-16 s, too
long to repeat), cold_pass_s, pass_s (best measured pass), query_p50_s
(median over the entries of each one's best latency), query_tail_s
(geometric mean over the entries of each one's worst measured latency,
so a tail in any entry moves it whatever that entry costs), pass_cpu_s
and query_cpu_p50_s (the same as pass_s and query_p50_s in CPU seconds,
see CpuMeter), failed_frac and peak_rss_mb. The result line carries
the ones BENCHMARK.json bounds: setup_s and the two CPU metrics. On a
shared host, wall times follow the CPU time neighbours steal; the CPU
metrics do much less.

--trace 1 runs traced, untraced and traced warm passes and prints
per-layer metrics (median over the traced passes) from
perfbench/tracer.py spans, the Spark event log and a streaming
listener. trace.overhead_s is traced minus untraced pass time in that
process, where the wrappers are installed for every pass, so it leaves
out their flag-check cost on untraced passes. --spans FILE writes every
span as JSON lines. Host-noise context (CPU steal
share, load average, a spark.range calibration query) and per-query
figures are printed as JSON lines before the result, which is the last
line of standard output.
"""

from __future__ import annotations

import os
import sys
import time

T_IMPORT = time.time()
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import ast  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1e6


def since_process_start() -> float:
    """Seconds since this process started: its start time in
    /proc/self/stat is in clock ticks since boot (falls back to the time
    this module was first executed)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, AttributeError):
        return time.time() - T_IMPORT


def data_root() -> str:
    """$PERFBENCH_DATA_ROOT, else the directory that holds the tests'
    SF_DIR (a module constant of tests/conftest.py)."""
    if os.environ.get("PERFBENCH_DATA_ROOT"):
        return os.environ["PERFBENCH_DATA_ROOT"]
    with open(os.path.join(ROOT, "tests", "conftest.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(getattr(t, "id", None) == "SF_DIR" for t in node.targets):
            return os.path.dirname(ast.literal_eval(node.value))
    raise LookupError("tests/conftest.py defines no SF_DIR")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


class CpuMeter:
    """CPU seconds (user + system, with reaped children) of a process and
    every live descendant -- the driver, the JVM and its Python workers --
    less the JVM's JIT compiler threads. Those still compile in the
    measured passes and their share varies from run to run by more than a
    program change should have to beat. The JVM starts and stops compiler
    threads as load changes, and a stopped thread's time stays in the
    process total, so each one's last reading is kept and subtracted."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.jit_ticks: dict[tuple[int, str], int] = {}  # (pid, tid) -> ticks

    def __call__(self) -> float:
        procs: dict[int, tuple[int, int, str]] = {}  # pid -> (parent pid, ticks, name)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    name, v = _stat(f"/proc/{d}/stat")
                except OSError:  # the process has exited
                    continue
                procs[int(d)] = (int(v[1]), sum(int(x) for x in v[11:15]), name)
        pids = {self.root}
        for _ in range(8):  # driver -> JVM -> Python daemon -> workers
            pids |= {p for p, (pp, _, _) in procs.items() if pp in pids}
        pids &= procs.keys()
        for p in pids:
            if procs[p][2] == "java":
                for t in os.listdir(f"/proc/{p}/task"):
                    try:
                        name, v = _stat(f"/proc/{p}/task/{t}/stat")
                    except OSError:
                        continue
                    if "CompilerThre" in name:
                        self.jit_ticks[(p, t)] = int(v[11]) + int(v[12])
        ticks = sum(procs[p][1] for p in pids)
        ticks -= sum(v for (p, _), v in self.jit_ticks.items() if p in pids)
        return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, spec: dict, tmp: str) -> None:
        self.wl = dict(spec["workloads"][args.workload])
        if args.sf is not None:
            self.wl["sf"] = args.sf
        self.tmp = tmp
        self.sf_dir = os.path.join(data_root(), f"sf{self.wl['sf']:g}")
        self.rng = random.Random(args.seed)
        self.spark = None
        self.golden: dict[str, list] = {}
        self.failed_queries: set[str] = set()
        self.fail_notes: dict[str, str] = {}
        self.executions: dict[str, int] = {}
        self.per_query: dict[str, dict[str, list[float]]] = {}
        self.pass_layers: list[list[tuple]] = []
        self._pending: list[tuple] = []
        self.cpu = CpuMeter(os.getpid())
        self.phases: dict[str, dict[str, tuple[float, float]]] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self):
        from tada_spark.queries import load
        from tada_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("tada_spark_perfbench", cpus=len(os.sched_getaffinity(0)))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        for t in self.wl["tables"]:
            load(self.spark, self.sf_dir, t)
        return t1 - t0, time.time() - t1

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one query ------------------------------------------------------
    def run_query(self, name: str, qid: str | None, key: str | None) -> None:
        """Build, (plan, when traced) and sink one entry. A raised error
        or a failed golden comparison counts as a failed execution."""
        from tada_spark.frame import Frame
        from tada_spark.queries import CATALOG
        import tada_spark.sources.records as records
        import tada_spark.testing as testing
        import tracer

        sc = self.spark.sparkContext
        fn = CATALOG[name][0]
        tracing = qid is not None
        if tracing:
            tracer.STATE.qid = qid
            tracer.STATE.on = True
        phases: dict[str, tuple[float, float]] = {}
        ok = True
        c0 = self.cpu() if key else 0.0
        t0 = time.perf_counter()
        try:
            with tracer.span("query"):
                w0 = time.time()
                if tracing:
                    sc.setJobGroup(f"pb|{qid}|build", name)
                with tracer.span("build"):
                    df = fn(self.spark, self.sf_dir)
                w1 = time.time()
                phases["build"] = (w0, w1)
                if tracing:
                    with tracer.span("plan"):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    exch, py_nodes = tracer.plan_shape(plan)
                    sc.setJobGroup(f"pb|{qid}|exec", name)
                w2 = time.time()
                with tracer.span("exec"):
                    if self.wl["sink"] == "noop":
                        df.write.format("noop").mode("overwrite").save()
                    elif name in self.golden:
                        ok, diffs = testing.equal_records(Frame(df), self.golden[name], sort_rows=True)
                        if not ok:
                            self.fail_notes.setdefault(name, f"golden mismatch: {diffs[:2]}")
                    else:
                        self.golden[name] = records.write_records(Frame(df))
                phases["exec"] = (w2, time.time())
        except Exception as e:  # noqa: BLE001 - any failure is a failed execution
            ok = False
            self.fail_notes.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            elapsed = time.perf_counter() - t0
            if tracing:
                tracer.STATE.on = False
                tracer.STATE.qid = None
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.executions[name] = self.executions.get(name, 0) + 1
        if not ok:
            self.failed_queries.add(name)
            return
        if key is not None:
            m = self.per_query.setdefault(name, {})
            m.setdefault(f"{key}_s", []).append(elapsed)
            m.setdefault(f"{key}_cpu_s", []).append(self.cpu() - c0)
        if tracing:
            self.phases[qid] = phases
            layers = tracer.layer_totals(qid)
            layers["catalyst.exchanges"] = exch
            layers["catalyst.python_nodes"] = py_nodes
            info = sc._jsc.sc().getRDDStorageInfo()
            layers["storage.held_mb"] = sum(r.memSize() + r.diskSize() for r in info) / MB
            self._pending.append((name, qid, layers))

    def run_pass(self, label: str, traced: bool, key: str | None) -> tuple[float, float]:
        """One pass over the entries in a seed-permuted order: (wall, CPU)
        seconds. Unless key is None, each entry's latency and CPU seconds
        go to per_query[entry][key + "_s" / key + "_cpu_s"]."""
        order = list(self.wl["entries"])
        self.rng.shuffle(order)
        self._pending = []
        c0, t0 = self.cpu(), time.perf_counter()
        for name in order:
            self.run_query(name, f"{label}:{name}" if traced else None, key)
        dt = time.perf_counter() - t0
        cpu = self.cpu() - c0
        if traced:
            self.pass_layers.append(self._pending)
        return dt, cpu

    # -- correctness ----------------------------------------------------
    def verify(self) -> dict[str, str]:
        """Untimed: every entry's output against its DuckDB oracle."""
        import duckdb

        from tada_spark.frame import Frame
        from tada_spark.queries import CATALOG, TABLES
        from tada_spark.testing import equal_records
        from check_oracle import table_hash

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{os.path.join(self.tmp, 'duckdb')}'")
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        status = {}
        for name in self.wl["entries"]:
            fn, sql = CATALOG[name]
            try:
                df = fn(self.spark, self.sf_dir)
                got = table_hash(df.columns, [tuple(r) for r in df.collect()])
                res = con.execute(sql)
                want = table_hash([d[0] for d in res.description], res.fetchall())
                ok = got == want
                note = "" if ok else f"hash {got} != oracle {want}"
                if ok and name in self.golden:
                    ok, diffs = equal_records(Frame(df), self.golden[name], sort_rows=True)
                    note = "" if ok else f"golden records are not the verified output: {diffs[:2]}"
            except Exception as e:  # noqa: BLE001
                ok, note = False, f"{type(e).__name__}: {str(e)[:300]}"
            status[name] = "ok" if ok else note
            if not ok:
                self.failed_queries.add(name)
                self.fail_notes.setdefault(name, note)
        return status

    def calibrate(self) -> float:
        from pyspark.sql import functions as F

        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            self.spark.range(20_000_000).agg(F.sum("id")).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best


def configure_env(tmp: str, traced: bool) -> None:
    """Point every artifact of the run into ``tmp`` before the JVM starts."""
    for d in ("py", "local", "jvm", "warehouse", "eventlog", "duckdb"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.sql.warehouse.dir": "file://" + os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(tmp, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    java_opts = f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} -XX:-UsePerfData"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write every span of the traced passes to this JSONL file")
    ap.add_argument("--sf", type=float, help="override the workload's scale factor (self-test)")
    args = ap.parse_args()

    missing = [p for p in ("tada_spark/queries.py", "tools/check_oracle.py", "tests/conftest.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a tada_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}", file=sys.stderr)
        return 2
    bench = Bench(args, spec, "")
    missing = [t for t in bench.wl["tables"] if not os.path.exists(os.path.join(bench.sf_dir, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: no {missing} tables under {bench.sf_dir}", file=sys.stderr)
        return 2

    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    bench.tmp = tmp
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, spec, bench)
    finally:
        shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, spec: dict, bench: Bench) -> int:
    tmp = bench.tmp
    configure_env(tmp, bool(args.trace))
    steal0 = cpu_times()
    load0 = os.getloadavg()[0]

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import tracer
    import tada_spark.queries  # noqa: F401 - part of set-up, as for any user

    if args.trace:
        tracer.install()
        tracer.STATE.qid, tracer.STATE.on = "setup", True
    session_s, _ = bench.setup()
    setup_s = since_process_start()
    tracer.STATE.on = False
    stream = tracer.StreamProgress(bench.spark) if args.trace else None
    app_id = bench.spark.sparkContext.applicationId

    # cold pass: the first pass in this JVM
    cold, _ = bench.run_pass("cold", False, "cold")

    # the untimed correctness pass doubles as warm-up; then a fixed count
    # of measured passes per (workload, --seconds), so every run stops at
    # the same point of the JIT warm-up curve. A traced run alternates
    # traced, untraced and traced passes.
    status = bench.verify()
    n_warm = max(2, round(args.seconds / bench.wl["nominal_pass_s"]))
    if args.trace:
        n_warm = 3
    warm_untraced: list[float] = []
    warm_traced: list[float] = []
    warm_cpu: list[float] = []
    for k in range(n_warm):
        trace_this = bool(args.trace) and k % 2 == 0
        dt, cpu = bench.run_pass(f"p{k}", trace_this, None if trace_this else "warm")
        (warm_traced if trace_this else warm_untraced).append(dt)
        if not trace_this:
            warm_cpu.append(cpu)

    jvm_pid = bench.spark.sparkContext._gateway.proc.pid
    peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    calib = bench.calibrate()
    bench.stop_session()
    shutdown_jvm()

    layer_rows = []
    if args.trace:
        log = next(
            os.path.join(tmp, "eventlog", f)
            for f in os.listdir(os.path.join(tmp, "eventlog"))
            if f.startswith(app_id)
        )
        events = tracer.EventLog(log)
        for p in bench.pass_layers:
            row: dict[str, float] = {}
            for name, qid, layers in p:
                phases = bench.phases[qid]
                layers.update(events.totals(qid, phases))
                t0, t1 = phases["build"][0], phases["exec"][1]
                layers.update(stream.totals(t0, t1))
                for key, v in layers.items():
                    bench.per_query.setdefault(name, {}).setdefault(key, []).append(v)
                    row[key] = max(row.get(key, 0.0), v) if key == "storage.held_mb" else row.get(key, 0.0) + v
            layer_rows.append(row)
        if args.spans:
            with open(args.spans, "w") as f:
                for p in bench.pass_layers:
                    for _, qid, _ in p:
                        for s in tracer.spans_of(qid):
                            f.write(json.dumps(s) + "\n")

    steal1 = cpu_times()
    d_total = max(1, steal1[1] - steal0[1])
    attempted = sum(bench.executions.values())
    failed = sum(bench.executions[q] for q in bench.failed_queries)
    entries = [m for m in bench.per_query.values() if m.get("warm_s")]
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold, "s"),
        # best of the measured passes, and each query's best latency:
        # the steady-state estimators of bench.py, which a transient
        # slowdown on a shared host does not move
        "pass_s": (min(warm_untraced), "s"),
        "query_p50_s": (median([min(m["warm_s"]) for m in entries]), "s"),
        "query_tail_s": (geomean(max(m["warm_s"]) for m in entries), "s"),
        # CPU seconds (CpuMeter): time a neighbour steals from the host
        # stretches wall time, not these
        "pass_cpu_s": (min(warm_cpu), "s"),
        "query_cpu_p50_s": (median([min(m["warm_cpu_s"]) for m in entries]), "s"),
        "failed_frac": (failed / max(1, attempted), "share"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": bench.wl["sf"],
        "entries": bench.wl["entries"],
        "cpus": len(os.sched_getaffinity(0)),
        "steal_share": (steal1[0] - steal0[0]) / d_total,
        "load_1m_start": load0,
        "load_1m_end": os.getloadavg()[0],
        "calibration_s": calib,
        "data_dir": bench.sf_dir,
        "session_start_s": session_s,
        "warm_passes_s": warm_untraced,
        "traced_passes_s": warm_traced,
        "warm_passes_cpu_s": warm_cpu,
        # query_tail_s takes each entry's worst of this many measured runs
        "query_tail_samples_per_entry": min((len(m["warm_s"]) for m in entries), default=0),
        "correctness": status,
        "failures": bench.fail_notes,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({"per_query": {q: {k: median(v) for k, v in m.items()} for q, m in bench.per_query.items()}}))
    print(json.dumps({"end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}}))
    if args.trace:
        print(json.dumps({"per_pass": layer_rows}))

    if args.trace:
        per_layer = {k: median([r.get(k, 0.0) for r in layer_rows]) for k in layer_rows[0]}
        setup_layers = tracer.layer_totals("setup")
        per_layer["session.start_s"] = session_s
        per_layer["queries.load_calls"] = setup_layers.get("queries.load_calls", 0)
        per_layer["queries.load_misses"] = setup_layers.get("queries.load_misses", 0)
        per_layer["queries.load_s"] = setup_layers.get("queries.load_s", 0.0)
        per_layer["process.peak_rss_mb"] = peak_rss
        per_layer["trace.overhead_s"] = median(warm_traced) - median(warm_untraced)
        units = {m["name"]: m["unit"] for m in spec_per_layer()}
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        units = {m["name"]: m["unit"] for m in spec_end_to_end()}
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def spec_per_layer() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def spec_end_to_end() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
