"""Spans and counters for the traced run.

``install()`` wraps, from outside the library, the public entry points of
each tada_spark module, ``queries.load``, the DataFrame checkpoint/cache
calls and the py4j command channel. Every wrapper records a span (name,
start, end, parent, query id) into in-memory lists while ``STATE.on`` is
set, and is a flag check otherwise. ``layer_totals`` turns one query's
spans into per-layer call counts and self times; ``EventLog`` reads the
Spark event log for job, stage, task, shuffle, spill, GC and Python-UDF
row counts.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import time
from datetime import datetime

#: library module prefix -> layer name
LAYERS = {
    "tada_spark.frame": "frame",
    "tada_spark.operators": "operators",
    "tada_spark.functions": "functions",
    "tada_spark.sources": "sources",
    "tada_spark.streaming": "streaming",
    "tada_spark.testing": "testing",
}
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
_IO_NAME = re.compile(r"(?:^|\.)(read|from|write)_")


class _State:
    def __init__(self) -> None:
        self.on = False
        self.qid: str | None = None
        self.names: list[str] = []
        self.start: list[float] = []
        self.end: list[float] = []
        self.parent: list[int] = []
        self.qids: list[str | None] = []
        self.stack: list[int] = []
        # qid -> [py4j commands, py4j seconds, load misses]
        self.counters: dict[str | None, list] = {}


STATE = _State()


def _enter(name: str) -> int:
    s = STATE
    if not s.on:
        return -1
    i = len(s.names)
    s.names.append(name)
    s.parent.append(s.stack[-1] if s.stack else -1)
    s.qids.append(s.qid)
    s.end.append(0.0)
    s.stack.append(i)
    s.start.append(time.perf_counter())
    return i


def _exit(i: int) -> None:
    if i < 0:
        return
    STATE.end[i] = time.perf_counter()
    STATE.stack.pop()


class span:
    """Context manager for a span opened by the benchmark itself."""

    def __init__(self, name: str) -> None:
        self.name = name

    def __enter__(self):
        self.i = _enter(self.name)
        return self

    def __exit__(self, *exc) -> None:
        _exit(self.i)


def _wrap(fn, name: str):
    # references only module-level functions, so a wrapper that ends up
    # inside a pickled UDF closure stays importable on Python workers
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        i = _enter(name)
        try:
            return fn(*args, **kwargs)
        finally:
            _exit(i)

    return traced


def _counter(qid) -> list:
    return STATE.counters.setdefault(qid, [0, 0.0, 0])


def _layer_of(modname: str) -> str | None:
    for prefix, layer in LAYERS.items():
        if modname == prefix or modname.startswith(prefix + "."):
            return layer
    return None


def _wrap_class(cls, layer: str) -> None:
    for name, attr in list(vars(cls).items()):
        if name.startswith("_"):
            continue
        kind = type(attr) if isinstance(attr, (classmethod, staticmethod)) else None
        fn = attr.__func__ if kind else attr
        if not inspect.isfunction(fn):
            continue
        lay = "sources" if layer == "frame" and _IO_NAME.search(name) else layer
        w = _wrap(fn, f"{lay}.{cls.__name__}.{name}")
        setattr(cls, name, kind(w) if kind else w)


def install() -> None:
    """Wrap the library's public entry points. Call once, before tracing."""
    import py4j.clientserver
    import py4j.java_gateway
    import py4j.protocol
    from pyspark.sql.classic.dataframe import DataFrame

    import tada_spark
    import tada_spark.queries as queries

    # query bodies import most modules lazily: import them all now, so
    # every one is wrapped before its first call
    for info in pkgutil.walk_packages(tada_spark.__path__, "tada_spark."):
        try:
            importlib.import_module(info.name)
        except ImportError:
            pass
    mods = [m for n, m in list(sys.modules.items()) if n.startswith("tada_spark") and m is not None]
    wrapped: dict[int, object] = {}
    for m in mods:
        layer = _layer_of(m.__name__)
        if layer is None:
            continue
        for name, obj in list(vars(m).items()):
            if name.startswith("_") or getattr(obj, "__module__", None) != m.__name__:
                continue
            if inspect.isfunction(obj):
                wrapped[id(obj)] = _wrap(obj, f"{layer}.{name}")
            elif inspect.isclass(obj):
                _wrap_class(obj, layer)
    # rebind every reference, so `from x import f` copies see the wrapper
    for m in mods:
        for name, obj in list(vars(m).items()):
            if inspect.isfunction(obj) and id(obj) in wrapped:
                setattr(m, name, wrapped[id(obj)])

    load = queries.load

    @functools.wraps(load)
    def traced_load(spark, sf_dir, name, *, spread=False):
        i = _enter("queries.load")
        try:
            if i >= 0:
                plans = queries._SCAN_CACHE.get(spark.sparkContext.applicationId, (None, {}))[1]
                if f"{sf_dir}/{name}.parquet" + ("#spread" if spread else "") not in plans:
                    _counter(STATE.qid)[2] += 1
            return load(spark, sf_dir, name, spread=spread)
        finally:
            _exit(i)

    for m in mods:
        if getattr(m, "load", None) is load:
            m.load = traced_load

    for meth in CHECKPOINT_METHODS:
        setattr(DataFrame, meth, _wrap(getattr(DataFrame, meth), f"checkpoint.{meth}"))

    gc_prefix = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME
    for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
        send = cls.send_command

        def counted(self, command, *a, _send=send, **k):
            # GC detach commands depend on Python's collector, not on the
            # query: leave them out so the count repeats from pass to pass
            if not STATE.on or command.startswith(gc_prefix):
                return _send(self, command, *a, **k)
            t0 = time.perf_counter()
            try:
                return _send(self, command, *a, **k)
            finally:
                c = _counter(STATE.qid)
                c[0] += 1
                c[1] += time.perf_counter() - t0

        cls.send_command = counted


def spans_of(qid: str) -> list[dict]:
    s = STATE
    return [
        {"name": s.names[i], "start": s.start[i], "end": s.end[i], "parent": s.parent[i], "qid": qid}
        for i in range(len(s.names))
        if s.qids[i] == qid
    ]


def layer_totals(qid: str) -> dict[str, float]:
    """Per-layer counts and times for one query execution."""
    s = STATE
    idx = [i for i in range(len(s.names)) if s.qids[i] == qid]
    child = {i: 0.0 for i in idx}
    for i in idx:
        p = s.parent[i]
        if p in child:
            child[p] += s.end[i] - s.start[i]
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    def outer(i: int, prefix: str) -> bool:
        p = s.parent[i]
        return p < 0 or not s.names[p].startswith(prefix)

    for i in idx:
        name = s.names[i]
        dur = s.end[i] - s.start[i]
        layer = name.split(".", 1)[0]
        parent = s.names[s.parent[i]] if s.parent[i] >= 0 else ""
        if name in ("build", "plan", "exec"):
            add({"build": "build.s", "plan": "catalyst.plan_s", "exec": "exec.s"}[name], dur)
            continue
        if name == "queries.load":
            add("queries.load_calls", 1)
            add("queries.load_s", dur)
            continue
        if layer == "sources" and parent.startswith("testing."):
            add("testing.records_s", dur)
            continue
        if layer in ("frame", "operators", "functions"):
            add(f"{layer}.calls", 1)
            add(f"{layer}.self_s", dur - child[i])
        elif layer == "sources" and outer(i, "sources."):
            m = _IO_NAME.search(name.split(".", 1)[1])
            if m:
                add("sources.read_s" if m.group(1) in ("read", "from") else "sources.write_s", dur)
        elif layer == "checkpoint" and outer(i, "checkpoint."):
            add("checkpoint.calls", 1)
            add("checkpoint.s", dur)
        elif layer == "testing" and outer(i, "testing."):
            add("testing.equal_s", dur)
    calls, secs, misses = STATE.counters.get(qid, [0, 0.0, 0])
    out["py4j.calls"] = calls
    out["py4j.s"] = secs
    out["queries.load_misses"] = misses
    return out


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_shape(plan_text: str) -> tuple[int, int]:
    """(exchanges, Python nodes) in an executed-plan tree string."""
    exchanges = python = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange") and node != "ReusedExchange":
            exchanges += 1
        elif re.search(r"Python|InPandas|InArrow", node):
            python += 1
    return exchanges, python


class StreamProgress:
    """Python StreamingQueryListener that keeps every progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                events.append((ts, dict(p.durationMs), sum(o.numRowsTotal for o in p.stateOperators)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def totals(self, t0: float, t1: float) -> dict[str, float]:
        """Totals over the progress events of batches started in [t0, t1)."""
        out = {
            "streaming.batches": 0,
            "streaming.add_batch_s": 0.0,
            "streaming.planning_s": 0.0,
            "streaming.commit_s": 0.0,
            "streaming.state_rows": 0,
        }
        for ts, d, state_rows in self.events:
            if t0 <= ts < t1:
                out["streaming.batches"] += 1
                out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                out["streaming.commit_s"] += (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3
                out["streaming.state_rows"] += state_rows
        return out


class EventLog:
    """Jobs, stages and tasks from one application's Spark event log.

    Jobs are attributed to a (query, phase) by the job group the
    benchmark sets (``pb|<qid>|<phase>``). Jobs without one (streaming
    micro-batches run on the stream thread) are attributed by
    submission time to the phase interval that contains it.
    """

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        python_acc: set[int] = set()
        tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "submit": e["Submission Time"] / 1e3,
                        "end": None,
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id") or "",
                        "stages": set(),
                        "tasks": 0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_read_mb": 0.0,
                        "shuffle_write_mb": 0.0,
                        "spill_mb": 0.0,
                        "udf_rows": 0,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif ev.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _python_row_metrics(e.get("sparkPlanInfo") or {}, python_acc)
        for e in tasks:
            job = self.jobs.get(stage_job.get(e["Stage ID"], -1))
            if job is None:
                continue
            m = e.get("Task Metrics") or {}
            job["stages"].add(e["Stage ID"])
            job["tasks"] += 1
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
            job["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            job["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            for acc in (e.get("Task Info") or {}).get("Accumulables") or []:
                if acc.get("ID") in python_acc:
                    try:
                        job["udf_rows"] += int(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass

    def totals(self, qid: str, phases: dict[str, tuple[float, float]]) -> dict[str, float]:
        """Event-log metrics of one query; ``phases`` maps build/exec to
        their wall-clock intervals."""
        out = {
            "build.jobs": 0,
            "build.job_s": 0.0,
            "build.tasks": 0,
            "build.task_cpu_s": 0.0,
            "exec.jobs": 0,
            "exec.stages": 0,
            "exec.tasks": 0,
            "exec.task_cpu_s": 0.0,
            "exec.shuffle_read_mb": 0.0,
            "exec.shuffle_write_mb": 0.0,
            "exec.spill_mb": 0.0,
            "exec.gc_s": 0.0,
            "udf.rows": 0,
        }
        for job in self.jobs.values():
            group = job["group"]
            if group.startswith("pb|"):
                _, gq, phase = group.split("|")
                if gq != qid:
                    continue
            else:
                phase = next((p for p, (t0, t1) in phases.items() if t0 <= job["submit"] < t1), None)
                if phase is None:
                    continue
            if phase == "build":
                out["build.jobs"] += 1
                out["build.job_s"] += (job["end"] or job["submit"]) - job["submit"]
                out["build.tasks"] += job["tasks"]
                out["build.task_cpu_s"] += job["cpu_s"]
            elif phase == "exec":
                out["exec.jobs"] += 1
            out["exec.stages"] += len(job["stages"])
            out["exec.tasks"] += job["tasks"]
            out["exec.task_cpu_s"] += job["cpu_s"]
            out["exec.shuffle_read_mb"] += job["shuffle_read_mb"]
            out["exec.shuffle_write_mb"] += job["shuffle_write_mb"]
            out["exec.spill_mb"] += job["spill_mb"]
            out["exec.gc_s"] += job["gc_s"]
            out["udf.rows"] += job["udf_rows"]
        return out


def _python_row_metrics(node: dict, acc: set[int]) -> None:
    if re.search(r"Python|InPandas|InArrow", node.get("nodeName", "")):
        for m in node.get("metrics") or []:
            if m.get("name") == "number of output rows":
                acc.add(m["accumulatorId"])
    for child in node.get("children") or []:
        _python_row_metrics(child, acc)
