"""Per-layer tracing for the benchmark's traced run.

Everything here observes the program from outside; no code under
`archetype_spark/` changes:

- every span is a Spark job group (`setJobGroup(span id)`), so the
  jobs and stages of an operation come from
  `statusTracker().getJobIdsForGroup`, and its task metrics from the
  uncompressed event log, folded by `spark.jobGroup.id`;
- py4j commands are counted by wrapping
  `ClientServerConnection.send_command`; the tracer's own commands
  are not counted;
- `ecs`, `sources` and `operators` spans come from timing wrappers
  around those modules' public functions. Query modules import some
  of them by name, so each wrapper replaces the name in every
  `archetype_spark` module that holds it.

A layer span is recorded only when no span of the same layer is open,
so layer times are inclusive of nested calls into other layers (a
replication's Delta reads count in both `replicate_s` and `delta_s`).
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

#: module -> (family, layer) of the wrapped public functions.
LAYER_MODULES = {
    "archetype_spark.sources.delta": ("sources", "delta"),
    "archetype_spark.sources.iceberg": ("sources", "iceberg"),
    "archetype_spark.sources.hudi": ("sources", "hudi"),
    "archetype_spark.sources.replicate": ("sources", "replicate"),
    "archetype_spark.operators.graph": ("operators", "graph"),
    "archetype_spark.operators.dedup": ("operators", "dedup"),
    "archetype_spark.operators.similarity": ("operators", "similarity"),
    "archetype_spark.operators.retrieval": ("operators", "retrieval"),
    "archetype_spark.operators.ann_index": ("operators", "ann_index"),
}

#: (module, class, method, layer) of the wrapped `ecs` entry points.
ECS_METHODS = [
    ("archetype_spark.ecs.world", "World", "spawn_from_df", "spawn"),
    ("archetype_spark.ecs.system", "SimpleSystem", "execute", "execute"),
    ("archetype_spark.ecs.updater", "UpdateManager", "__call__", "commit"),
    ("archetype_spark.ecs.world", "World", "despawn_many", "despawn"),
    ("archetype_spark.ecs.store", "ArchetypeStore", "compact", "compact"),
]

#: Task-metric counters folded from the event log, by output name.
TASK_METRICS = (
    "tasks", "task_wait_s", "executor_run_s", "executor_cpu_s", "gc_s",
    "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes", "input_records", "output_bytes",
)


@dataclass
class Span:
    id: str
    parent: "Span | None"
    kind: str  # "op", "phase" or "layer"
    name: str
    family: str = ""
    t0: float = 0.0
    t1: float = 0.0
    calls0: int = 0
    calls1: int = 0
    files: int = 0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    @property
    def calls(self) -> int:
        return self.calls1 - self.calls0

    def ancestors(self):
        s = self.parent
        while s is not None:
            yield s
            s = s.parent


class NullTracer:
    """Tracing off: spans cost nothing and set no job group."""

    def span(self, kind, name, family=""):
        return contextlib.nullcontext()


class Tracer:
    """Spans, py4j counts and layer wrappers for one traced unit of work."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.py4j_calls = 0
        self._own = 0
        self._open_layers: Counter = Counter()
        self._undo: list = []

    # -------------------------------------------------------------- spans
    @contextlib.contextmanager
    def own(self):
        """Mark the tracer's own JVM calls so they are not counted."""
        self._own += 1
        try:
            yield
        finally:
            self._own -= 1

    def _set_group(self, span: "Span | None") -> None:
        with self.own():
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(span.id, f"{span.kind}:{span.name}")

    @contextlib.contextmanager
    def span(self, kind, name, family=""):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb{len(self.spans)}", parent, kind, name, family)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.t0, s.calls0 = time.perf_counter(), self.py4j_calls
        try:
            yield s
        finally:
            s.t1, s.calls1 = time.perf_counter(), self.py4j_calls
            self._stack.pop()
            self._set_group(parent)

    # ----------------------------------------------------------- wrappers
    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self._patch(ClientServerConnection, "send_command", self._counting(ClientServerConnection.send_command))

        wrapped = {}
        for modname, (family, layer) in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if not name.startswith("_") and inspect.isfunction(fn) and fn.__module__ == modname:
                    wrapped[fn] = self._timed(family, layer, fn)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("archetype_spark"):
                for name, val in list(vars(mod).items()):
                    if inspect.isfunction(val) and val in wrapped:
                        self._patch(mod, name, wrapped[val])
        for modname, clsname, meth, layer in ECS_METHODS:
            cls = getattr(importlib.import_module(modname), clsname)
            self._patch(cls, meth, self._timed("ecs", layer, getattr(cls, meth)))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, val = self._undo.pop()
            setattr(owner, name, val)

    def _patch(self, owner, name, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _counting(self, send):
        tracer = self

        @functools.wraps(send)
        def send_command(conn, *args, **kwargs):
            if not tracer._own:
                tracer.py4j_calls += 1
            return send(conn, *args, **kwargs)

        return send_command

    def _timed(self, family, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._open_layers[layer]:
                return fn(*args, **kwargs)
            tracer._open_layers[layer] += 1
            try:
                with tracer.span("layer", layer, family) as s:
                    out = fn(*args, **kwargs)
            finally:
                tracer._open_layers[layer] -= 1
            if family == "sources":
                s.files = tracer._input_files(out)
            return out

        return wrapper

    def _input_files(self, out) -> int:
        from pyspark.sql import DataFrame

        if not isinstance(out, DataFrame):
            return 0
        with self.own():
            try:
                return len(out.inputFiles())
            except Exception:  # noqa: BLE001 - a count the plan can't give is 0, never a failed op
                return 0

    # ------------------------------------------------------------ folding
    def collect_jobs(self) -> dict[str, tuple[set, set]]:
        """span id -> (job ids, stage ids) from the status tracker,
        gathered after the traced work so lookups are not timed."""
        out = {}
        with self.own():
            tracker = self.sc.statusTracker()
            for s in self.spans:
                jobs = set(tracker.getJobIdsForGroup(s.id))
                stages = set()
                for j in jobs:
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stages.update(info.stageIds)
                out[s.id] = (jobs, stages)
        return out


def fold_event_log(log_dir: str) -> dict[str, Counter]:
    """Job group -> task-metric counters, from every event log file in
    `log_dir` (plain JSON lines: spark.eventLog.compress=false)."""
    stage_group, stage_submit = {}, {}
    out: dict[str, Counter] = defaultdict(Counter)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_submit[sid] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    c = out[stage_group.get(sid)]
                    m = ev.get("Task Metrics") or {}
                    launch = ev["Task Info"]["Launch Time"]
                    shuffle_read = m.get("Shuffle Read Metrics", {})
                    c["tasks"] += 1
                    if stage_submit.get(sid) is not None:
                        c["task_wait_s"] += max(0, launch - stage_submit[sid]) / 1e3
                    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    c["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
                        "Local Bytes Read", 0
                    )
                    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    c["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return out


#: Per-layer metric name -> unit; `layer_metrics` emits every one.
PER_LAYER_UNITS = {
    "setup.session_s": "s",
    "setup.index_s": "s",
    "setup.fixtures_s": "s",
    "setup.warm_s": "s",
    "queries.construct_s": "s",
    "queries.py4j_calls": "count",
    "queries.eager_jobs": "count",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_wait_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.input_records": "count",
    "exec.output_bytes": "bytes",
    "ecs.spawn_s": "s",
    "ecs.execute_s": "s",
    "ecs.commit_s": "s",
    "ecs.commit_jobs": "count",
    "ecs.despawn_s": "s",
    "ecs.compact_s": "s",
    "ecs.read_s": "s",
    "ecs.read_amplification": "ratio",
    "ecs.warehouse_files": "count",
    "ecs.warehouse_bytes": "bytes",
    "sources.delta_s": "s",
    "sources.iceberg_s": "s",
    "sources.hudi_s": "s",
    "sources.replicate_s": "s",
    "sources.calls": "count",
    "sources.py4j_calls": "count",
    "sources.input_files": "count",
    "operators.graph_s": "s",
    "operators.graph_jobs": "count",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.retrieval_s": "s",
    "operators.ann_index_s": "s",
    "trace.overhead_ratio": "ratio",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}

_ECS_WRITES = ("spawn", "commit", "despawn", "compact")


def layer_metrics(spans: list[Span], jobs: dict, tasks: dict, ops: list, unit: dict) -> dict:
    """Fold one traced unit's spans, jobs and task metrics into the
    per-layer metrics (all but `setup.*`, the overhead ratio and the
    error rate, which the caller adds)."""
    sub_jobs: dict = defaultdict(set)
    sub_stages: dict = defaultdict(set)
    sub_tasks: dict = defaultdict(Counter)
    for s in spans:  # a span's totals include every span under it
        own_jobs, own_stages = jobs.get(s.id, ((), ()))
        for a in (s, *s.ancestors()):
            sub_jobs[a.id].update(own_jobs)
            sub_stages[a.id].update(own_stages)
            sub_tasks[a.id].update(tasks.get(s.id, {}))

    def pick(kind, name=None, family=None, parent=None):
        return [
            s
            for s in spans
            if s.kind == kind
            and name in (None, s.name)
            and family in (None, s.family)
            and (parent is None or (s.parent is not None and s.parent.name == parent))
        ]

    def secs(ss):
        return sum(s.seconds for s in ss)

    def n_jobs(ss):
        return len(set().union(*(sub_jobs[s.id] for s in ss)))

    op_spans = pick("op")
    total = Counter()
    for s in op_spans:
        total.update(sub_tasks[s.id])
    construct = pick("phase", "construct", parent="query")
    sources = [s for s in pick("layer", family="sources") if not any(a.family == "sources" for a in s.ancestors())]
    steps = [r for r in ops if r["kind"] == "step"]
    live = sum(r["live"] for r in steps)
    step_records = sum(sub_tasks[r["span"].id]["input_records"] for r in steps)

    m = {
        "queries.construct_s": secs(construct),
        "queries.py4j_calls": sum(s.calls for s in construct),
        "queries.eager_jobs": n_jobs(construct),
        "exec.execute_s": secs(pick("phase", "execute")) + secs(s for n in _ECS_WRITES for s in pick("layer", n, "ecs")),
        "exec.jobs": n_jobs(op_spans),
        "exec.stages": len(set().union(*(sub_stages[s.id] for s in op_spans))),
    }
    for name in TASK_METRICS:
        m[f"exec.{name}"] = total[name]
    for name in ("spawn", "execute", "commit", "despawn", "compact"):
        m[f"ecs.{name}_s"] = secs(pick("layer", name, "ecs"))
    m["ecs.commit_jobs"] = n_jobs(pick("layer", "commit", "ecs"))
    m["ecs.read_s"] = secs(pick("op", "read"))
    m["ecs.read_amplification"] = step_records / live if live else 0.0
    m["ecs.warehouse_files"] = unit.get("warehouse_files", 0)
    m["ecs.warehouse_bytes"] = unit.get("warehouse_bytes", 0)
    for name in ("delta", "iceberg", "hudi", "replicate"):
        m[f"sources.{name}_s"] = secs(pick("layer", name, "sources"))
    m["sources.calls"] = len(sources)
    m["sources.py4j_calls"] = sum(s.calls for s in sources)
    m["sources.input_files"] = sum(s.files for s in sources)
    for name in ("graph", "dedup", "similarity", "retrieval", "ann_index"):
        m[f"operators.{name}_s"] = secs(pick("layer", name, "operators"))
    m["operators.graph_jobs"] = n_jobs(pick("layer", "graph", "operators"))
    return m


def write_spans(path: str, spans: list[Span], jobs: dict, tasks: dict) -> None:
    rows = [
        {
            "id": s.id,
            "parent": s.parent.id if s.parent else None,
            "kind": s.kind,
            "name": s.name,
            "family": s.family,
            "start": s.t0,
            "end": s.t1,
            "py4j_calls": s.calls,
            "input_files": s.files,
            "jobs": sorted(jobs.get(s.id, ((), ()))[0]),
            "tasks": dict(tasks.get(s.id, {})),
        }
        for s in spans
    ]
    with open(path, "w") as fh:
        json.dump(rows, fh)
