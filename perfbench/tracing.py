"""The traced run (``--trace 1``): per-layer metrics measured from outside.

The program is not changed. The tracer rebinds, for the length of one traced
pass, every ``eviction_lab_etl_spark.*`` module attribute that is one of the
layer functions below (``load`` is imported by name into many operator
modules, so wrapping ``loader.load`` alone would observe nothing), and wraps
``SnapshotTable``'s public commit and read methods. Around each query it
records spans (query -> build -> loader/snapshot/session calls, plan, action),
reads Catalyst's phase tracker, Spark's stage metrics from the UI's REST API
(keyed by a job group per query, read after every query because the UI keeps
only ``spark.ui.retainedStages`` stages), the pinned-cache state and ``/proc``
counters of the JVM and its Python workers. Spans stay in memory and are
written to ``.perfbench_work/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import importlib
import json
import os
import sys
import time
import urllib.parse
import urllib.request

from procfs import MB
from run import CORES, DATA_DIR, PKG, WORK_DIR, shuffled

LAYER_FUNCS = {
    ("sources.loader", "load"): "loader.load",
    ("sources.loader", "spread"): "loader.spread",
    ("session", "configure"): "session.configure",
}
SNAPSHOT_METHODS = {
    "append": "snapshot.commit",
    "replace": "snapshot.commit",
    "compact": "snapshot.commit",
    "read": "snapshot.read",
    "read_tag": "snapshot.read",
}

EXEC_KEYS = ("stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")

# name -> unit, in report order.
PER_LAYER = {
    "session.configure_calls": "count",
    "session.configure_s": "s",
    "loader.load_calls": "count",
    "loader.load_s": "s",
    "loader.spread_calls": "count",
    "loader.spread_s": "s",
    "snapshot.commit_calls": "count",
    "snapshot.commit_s": "s",
    "snapshot.read_s": "s",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plans.exchanges": "count",
    "plans.sortmerge_joins": "count",
    "plans.broadcast_joins": "count",
    "plans.python_nodes": "count",
    "exec.action_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.cpu_util": "ratio",
    "pins.live_after_query": "count",
    "pins.storage_peak_mb": "MB",
    "python.worker_cpu_s": "s",
    "python.worker_peak_rss_mb": "MB",
    "transfer.result_rows": "count",
    "transfer.s": "s",
    "jvm.cold_pass_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.write_mb": "MB",
    "jvm.read_mb": "MB",
    "trace.batch_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}


class Tracer:
    """In-memory spans with parent ids; ``wrap`` makes a function record one."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.paused = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "query": self._stack[0] if self._stack else sid,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.paused:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> int:
        """Rebind the layer functions everywhere the package holds them."""
        targets = {}
        for (mod, attr), name in LAYER_FUNCS.items():
            fn = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            targets[id(fn)] = (fn, self.wrap(name, fn))
        for modname, module in list(sys.modules.items()):
            if module is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(module).items()):
                hit = targets.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(module, attr, hit[1])
                    self._undo.append((module, attr, value))
        rebound = len(self._undo)
        cls = importlib.import_module(f"{PKG}.sources.snapshot").SnapshotTable
        for meth, name in SNAPSHOT_METHODS.items():
            original = cls.__dict__[meth]
            setattr(cls, meth, self.wrap(name, original))
            self._undo.append((cls, meth, original))
        return rebound

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def layer(self, name: str) -> tuple[int, float]:
        """Calls and seconds of one layer, not counting its calls to itself."""
        calls, seconds = 0, 0.0
        for s in self.spans:
            if s["name"] != name or self._inside(s, name):
                continue
            calls += 1
            seconds += self.duration(s)
        return calls, seconds

    def _inside(self, span: dict, name: str) -> bool:
        parent = span["parent"]
        while parent is not None:
            if self.spans[parent]["name"] == name:
                return True
            parent = self.spans[parent]["parent"]
        return False

    def self_time(self, span: dict) -> float:
        children = sum(self.duration(s) for s in self.spans if s["parent"] == span["id"])
        return self.duration(span) - children


class StageReader:
    """Stage metrics of one job group, from the UI's REST API on loopback."""

    def __init__(self, sc) -> None:
        self.sc = sc
        port = urllib.parse.urlsplit(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def group(self, group: str) -> dict:
        # The status store is fed by the asynchronous listener bus: drain it.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        stage_ids = sorted({
            sid for job in self._get("/jobs") if job.get("jobGroup") == group
            for sid in job["stageIds"]
        })
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        for sid in stage_ids:
            for attempt in self._get(f"/stages/{sid}?details=false"):
                if attempt["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += attempt["numTasks"]
                out["failed_tasks"] += attempt["numFailedTasks"]
                out["executor_run_s"] += attempt["executorRunTime"] / 1e3
                out["executor_cpu_s"] += attempt["executorCpuTime"] / 1e9
                out["gc_s"] += attempt["jvmGcTime"] / 1e3
                out["shuffle_write_mb"] += attempt["shuffleWriteBytes"] / MB
                out["shuffle_read_mb"] += attempt["shuffleReadBytes"] / MB
                out["spill_mb"] += attempt["diskBytesSpilled"] / MB
                out["input_mb"] += attempt["inputBytes"] / MB
        return out


def _phases(qe) -> dict[str, float]:
    tracked = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = tracked.get(phase)
        out[phase] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _storage_mb(sc) -> float:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / MB


def traced_query(runner, tracer: Tracer, stages: StageReader, name: str, index: int) -> dict:
    """Run one query with every layer observed; return its per-query record."""
    from eviction_lab_etl_spark.plans.audit import audit_plan

    spark, fn, proc = runner.spark, runner.queries[name], runner.probe
    sc = spark.sparkContext
    group = f"perfbench-{index}-{name}"
    sc.setJobGroup(group, name)
    cpu0, _ = proc.workers()
    io0 = proc.io_mb()
    with tracer.span("query") as q:
        with tracer.span("operators.build") as build:
            df = fn(spark, DATA_DIR)
        with tracer.span("catalyst.plan") as plan:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with tracer.span("exec.action") as action:
            rows = df.collect()
    rec = {"query_name": name, "wall_s": tracer.duration(q), "build_s": tracer.duration(build),
           "build_self_s": tracer.self_time(build), "plan_s": tracer.duration(plan),
           "action_s": tracer.duration(action), "rows": len(rows)}
    rec["phases"] = _phases(qe)
    rec["storage_mb"] = _storage_mb(sc)
    rec["exec"] = stages.group(group)
    cpu1, rec["worker_peak_rss_mb"] = proc.workers()
    io1 = proc.io_mb()
    rec["worker_cpu_s"] = cpu1 - cpu0
    rec["jvm_read_mb"], rec["jvm_write_mb"] = io1[0] - io0[0], io1[1] - io0[1]
    audit = audit_plan(df)
    rec["plan"] = {
        "exchanges": audit["shuffles"],
        "sortmerge_joins": audit["sortmerge_joins"],
        "broadcast_joins": audit["broadcast_joins"] + audit["broadcast_nl_joins"],
        "python_nodes": audit["python_rows"] + audit["arrow_python"],
    }
    rec["ok"] = runner.checker.ok(name, df.columns, rows)
    df = rows = qe = None
    gc.collect()
    rec["live_pins"] = sc._jsc.getPersistentRDDs().size()
    # Transfer: the same query into the noop sink, built untraced.
    sc.setJobGroup(group + "-noop", name)
    tracer.paused = True
    try:
        df = fn(spark, DATA_DIR)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        rec["noop_s"] = time.perf_counter() - t0
    finally:
        tracer.paused = False
    df = None
    gc.collect()
    q.update(rec)
    return rec


def traced_run(runner, names: list[str], args) -> dict:
    """The untraced cold pass, then a traced pass between two untraced passes.

    The JVM still speeds up pass by pass, so the tracing overhead compares the
    traced pass with the mean of its untraced neighbours."""
    cold = runner.cold_pass(names)

    def untraced_pass() -> float:
        return sum(w for w, _ in runner.run_pass(shuffled(names, runner.rng)).values())

    before = untraced_pass()
    tracer = Tracer()
    stages = StageReader(runner.spark.sparkContext)
    rebound = tracer.install()
    records = []
    try:
        for i, name in enumerate(shuffled(names, runner.rng)):
            rec = traced_query(runner, tracer, stages, name, i)
            runner.outcome.record(rec["ok"])
            records.append(rec)
    finally:
        tracer.uninstall()
        runner.spark.sparkContext.setJobGroup("perfbench-idle", "")
    untraced = (before + untraced_pass()) / 2

    def total(key, sub=None):
        return sum((r[key][sub] if sub else r[key]) for r in records)

    traced_batch = total("wall_s")
    values = {}
    for layer in ("session.configure", "loader.load", "loader.spread", "snapshot.commit"):
        calls, seconds = tracer.layer(layer)
        values[f"{layer}_calls"] = calls
        values[f"{layer}_s"] = seconds
    values["snapshot.read_s"] = tracer.layer("snapshot.read")[1]
    values["operators.build_s"] = total("build_s")
    values["operators.build_self_s"] = total("build_self_s")
    for phase in ("analysis", "optimization", "planning"):
        values[f"catalyst.{phase}_s"] = total("phases", phase)
    for key in ("exchanges", "sortmerge_joins", "broadcast_joins", "python_nodes"):
        values[f"plans.{key}"] = total("plan", key)
    values["exec.action_s"] = total("action_s")
    for key in EXEC_KEYS:
        values[f"exec.{key}"] = total("exec", key)
    values["exec.cpu_util"] = values["exec.executor_cpu_s"] / (values["exec.action_s"] * CORES)
    values["pins.live_after_query"] = max(r["live_pins"] for r in records)
    values["pins.storage_peak_mb"] = max(r["storage_mb"] for r in records)
    values["python.worker_cpu_s"] = total("worker_cpu_s")
    values["python.worker_peak_rss_mb"] = max(r["worker_peak_rss_mb"] for r in records)
    values["transfer.result_rows"] = total("rows")
    values["transfer.s"] = total("plan_s") + total("action_s") - total("noop_s")
    values["jvm.cold_pass_s"] = cold
    values["jvm.peak_rss_mb"] = runner.probe.jvm_peak_rss_mb()
    values["jvm.write_mb"] = total("jvm_write_mb")
    values["jvm.read_mb"] = total("jvm_read_mb")
    values["trace.batch_s"] = traced_batch
    values["trace.overhead_s"] = traced_batch - untraced
    values["trace.unaccounted_s"] = traced_batch - total("build_s") - total("plan_s") - total("action_s")

    os.makedirs(WORK_DIR, exist_ok=True)
    path = os.path.join(WORK_DIR, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "rebound_bindings": rebound,
                   "untraced_batch_s": untraced, "spans": tracer.spans}, f, indent=1)
    print(f"perfbench: spans written to {path}; {rebound} bindings rebound; "
          f"untraced pass {untraced:.3f} s, traced {traced_batch:.3f} s", file=sys.stderr)
    return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER.items()}
