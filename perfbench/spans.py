"""Traced-run plumbing: spans around calls into the engine's layers, and
the Spark event log parsed into per-layer metrics.

Nothing here edits the engine. ``Tracer.install`` replaces each public
function of a layer module with a timing wrapper, at every lookup site in
the loaded package (plans bind ``write_partitioned`` and ``load_table`` at
import, so patching ``io.sinks`` alone would miss them), and wraps the
task callables handed to ``Pipeline.add_stage``. Each span sets the
thread-local Spark job group to its own id and restores the previous
group on exit, so every Spark job is attributed to the innermost span that
started it -- also inside the pipeline's ``ThreadPoolExecutor`` workers,
because PySpark's pinned-thread mode keeps local properties per thread.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "aws_glue_etl_sample_hist_spark"
# layer name -> module whose public functions are wrapped
LAYERS = {
    "session": "session",
    "catalog": "catalog",
    "io.sinks": "io.sinks",
    "operators.joins": "operators.joins",
    "operators.dedup": "operators.dedup",
    "operators.text": "operators.text",
    "operators.ann_index": "operators.ann_index",
    "operators.similarity": "operators.similarity",
    "operators.ranking": "operators.ranking",
}
OPERATORS = [name for name in LAYERS if name.startswith("operators.")]
PIPELINE = "plans.pipeline"
JOB_GROUP = "spark.jobGroup.id"
SESSION_SPAN = "get_spark"  # recorded by the caller around session start
GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    ok: bool = True
    # pipeline task spans: (pipeline instance, stage name)
    stage: tuple[int, str] | None = None
    # io.sinks spans: bytes and files the call wrote
    out_bytes: int = 0
    out_files: int = 0


@dataclass
class Tracer:
    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    # ------------------------------------------------------------ spans
    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def open(self, name: str, layer: str, parent: Span | None = None) -> Span:
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        span = Span(next(self._ids), name, layer, parent.id if parent else None, time.time())
        self.spans.append(span)  # list.append is atomic under the GIL
        prev = self.sc.getLocalProperty(JOB_GROUP)
        stack.append(span)
        self._local.__dict__.setdefault("groups", []).append(prev)
        self.sc.setLocalProperty(JOB_GROUP, f"{GROUP_PREFIX}{span.id}")
        return span

    def close(self, span: Span, ok: bool = True) -> None:
        span.end = time.time()
        span.ok = ok
        self._local.stack.pop()
        self.sc.setLocalProperty(JOB_GROUP, self._local.groups.pop())

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        span = self.open(name, layer)
        ok = False
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        finally:
            self.close(span, ok)
            if ok and layer == "io.sinks":
                span.out_bytes, span.out_files = _written_since(args, kwargs, span.start)

    # ----------------------------------------------------------- patching
    def install(self) -> None:
        """Wrap every layer's public functions at every lookup site, and
        the task callables passed to ``Pipeline.add_stage``."""
        wrapped: dict[object, object] = {}
        for layer, mod_name in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for attr, fn in vars(mod).items():
                if _traceable(fn, mod.__name__, attr):
                    wrapped[fn] = self._wrap(fn, layer, f"{layer}.{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])
                    self._undo.append((mod, attr, val))

        pipeline_mod = importlib.import_module(f"{PKG}.plans.pipeline")
        orig_add = pipeline_mod.Pipeline.add_stage
        tracer = self

        @functools.wraps(orig_add)
        def add_stage(pipe, name, **tasks):
            parent = tracer.current()
            return orig_add(pipe, name, **{
                task: tracer._wrap_task(fn, f"{name}.{task}", parent, (id(pipe), name))
                for task, fn in tasks.items()
            })

        pipeline_mod.Pipeline.add_stage = add_stage
        self._undo.append((pipeline_mod.Pipeline, "add_stage", orig_add))

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._undo):
            setattr(obj, attr, val)
        self._undo.clear()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, layer, fn, *args, **kwargs)

        return traced

    def _wrap_task(self, fn, name: str, parent: Span | None, stage: tuple[int, str]):
        tracer = self

        def task():
            span = tracer.open(name, PIPELINE, parent)
            span.stage = stage
            ok = False
            try:
                out = fn()
                ok = True
                return out
            finally:
                tracer.close(span, ok)

        return task


def _traceable(fn, mod_name: str, attr: str) -> bool:
    """Public functions defined in the module, minus Column-expression
    builders (pure plan-construction helpers that start no job and are
    called once per expression)."""
    if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod_name:
        return False
    ret = fn.__annotations__.get("return")
    return not (isinstance(ret, str) and "Column" in ret and "DataFrame" not in ret)


def _written_since(args: tuple, kwargs: dict, since: float) -> tuple[int, int]:
    """Bytes and parquet files under the sink's target path modified after
    ``since`` -- what this call wrote, not the whole (dynamically
    overwritten) table."""
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    if not isinstance(path, str) or not os.path.isdir(path):
        return 0, 0
    n_bytes = n_files = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        try:
            st = os.stat(f)
        except FileNotFoundError:  # a concurrent commit moved it
            continue
        if st.st_mtime >= since:
            n_bytes += st.st_size
            n_files += 1
    return n_bytes, n_files


# --------------------------------------------------------------- metrics
def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _union(
            [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, []) if b > a]
        )
        for s in spans
    }


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def layer_metrics(
    spans: list[Span], events: list[dict], phases: list[Span], cores: int
) -> tuple[dict[str, tuple[float, str]], dict[int, list[int]]]:
    """Per-layer metrics over the measured workload phases. A span or a
    Spark job is in scope when it descends from a phase span (output
    checks and diagnostics run outside the phases); the session span is
    kept for ``session.start_s``. Returns (metric -> (value, unit), span
    id -> ids of the Spark jobs attributed to it)."""
    by_id = {s.id: s for s in spans}
    phase_ids = {s.id for s in phases}

    def root(s: Span) -> int:
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s.id

    scoped = [s for s in spans if root(s) in phase_ids]
    scoped_ids = {s.id for s in scoped}
    self_s = self_times(spans)
    out: dict[str, tuple[float, str]] = {}

    # jobs -> innermost span, via the job group each span set; jobs with
    # no span group (threads the engine starts itself) count by time
    intervals = [(s.start, s.end) for s in phases]
    jobs, job_end, job_stages = {}, {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
            sid = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
            if sid in scoped_ids or (sid is None and any(a <= t <= b for a, b in intervals)):
                jobs[ev["Job ID"]] = (t, sid)
                job_stages[ev["Job ID"]] = ev.get("Stage IDs", [])
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
    span_jobs: dict[int, list[int]] = {}
    for jid, (_, sid) in jobs.items():
        if sid is not None:
            span_jobs.setdefault(sid, []).append(jid)

    def layer_spans(layer: str) -> list[Span]:
        return [s for s in scoped if s.layer == layer]

    def entries(layer: str) -> int:
        return sum(
            1 for s in layer_spans(layer)
            if s.parent is None or by_id.get(s.parent, s).layer != layer
        )

    out["session.start_s"] = (
        sum(s.end - s.start for s in spans if s.name == SESSION_SPAN), "s"
    )
    out["catalog.calls"] = (entries("catalog"), "count")
    out["catalog.s"] = (sum(self_s[s.id] for s in layer_spans("catalog")), "s")
    sinks = layer_spans("io.sinks")
    n_bytes = sum(s.out_bytes for s in sinks)
    n_files = sum(s.out_files for s in sinks)
    out["io.sinks.calls"] = (entries("io.sinks"), "count")
    out["io.sinks.s"] = (sum(self_s[s.id] for s in sinks), "s")
    out["io.sinks.bytes"] = (n_bytes, "bytes")
    out["io.sinks.files"] = (n_files, "count")
    out["io.sinks.bytes_per_file"] = (n_bytes / n_files if n_files else 0.0, "bytes")

    # pipeline stages: the slowest task gates the barrier
    stages: dict[tuple[int, str], list[Span]] = {}
    for s in layer_spans(PIPELINE):
        stages.setdefault(s.stage, []).append(s)
    crit = wait = 0.0
    attempts: dict[tuple, int] = {}
    for members in stages.values():
        walls = [s.end - s.start for s in members]
        crit += max(walls)
        wait += sum(max(walls) - w for w in walls)
        for s in members:
            attempts[(s.stage, s.name)] = attempts.get((s.stage, s.name), 0) + 1
    out["plans.pipeline.tasks"] = (len(attempts), "count")
    out["plans.pipeline.critical_path_s"] = (crit, "s")
    out["plans.pipeline.barrier_wait_s"] = (wait, "s")
    out["plans.pipeline.retries"] = (sum(n - 1 for n in attempts.values()), "count")

    for layer in OPERATORS:
        mine = layer_spans(layer)
        out[f"{layer}.s"] = (sum(self_s[s.id] for s in mine), "s")
        out[f"{layer}.jobs"] = (sum(len(span_jobs.get(s.id, [])) for s in mine), "count")

    out.update(_spark_metrics(events, jobs, job_end, job_stages, intervals, cores))
    return out, span_jobs


def _spark_metrics(events, jobs, job_end, job_stages, intervals, cores):
    stage_ids = {sid for stages in job_stages.values() for sid in stages}
    n_stages = 0
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            n_stages += ev["Stage Info"]["Stage ID"] in stage_ids
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
            tasks.append(ev)
    run = cpu = gc = sched = spill = 0.0
    shuffle_w = shuffle_r = input_b = 0
    empty = 0
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        duration = (info["Finish Time"] - info["Launch Time"]) / 1000.0
        run_s = m.get("Executor Run Time", 0) / 1000.0
        run += run_s
        cpu += m.get("Executor CPU Time", 0) / 1e9
        gc += m.get("JVM GC Time", 0) / 1000.0
        sched += max(0.0, duration - run_s - (
            m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0)
        ) / 1000.0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        inp = m.get("Input Metrics") or {}
        input_b += inp.get("Bytes Read", 0)
        if inp.get("Records Read", 0) + sr.get("Total Records Read", 0) == 0:
            empty += 1
    wall = sum(b - a for a, b in intervals)
    gap = 0.0
    for a, b in intervals:
        busy = [
            (max(s, a), min(job_end.get(j, b), b))
            for j, (s, _) in jobs.items() if s < b and job_end.get(j, b) > a
        ]
        gap += (b - a) - _union(busy)
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (n_stages, "count"),
        "spark.tasks": (len(tasks), "count"),
        "spark.empty_task_share": (empty / len(tasks) if tasks else 0.0, "share"),
        "spark.executor_run_s": (run, "s"),
        "spark.executor_cpu_s": (cpu, "s"),
        "spark.cpu_util": (cpu / (wall * cores) if wall > 0 else 0.0, "share"),
        "spark.sched_delay_s": (sched, "s"),
        "spark.driver_gap_s": (gap, "s"),
        "spark.shuffle_write_bytes": (shuffle_w, "bytes"),
        "spark.shuffle_read_bytes": (shuffle_r, "bytes"),
        "spark.spill_bytes": (spill, "bytes"),
        "spark.input_bytes": (input_b, "bytes"),
        "spark.gc_s": (gc, "s"),
    }


def span_tree(spans: list[Span], span_jobs: dict[int, list[int]]) -> list[dict]:
    """Nested phase -> pipeline task -> layer call -> Spark job records."""
    self_s = self_times(spans)
    nodes = {
        s.id: {
            "name": s.name, "layer": s.layer, "start": s.start,
            "wall_s": round(s.end - s.start, 6), "self_s": round(self_s[s.id], 6),
            "ok": s.ok, "jobs": sorted(span_jobs.get(s.id, [])), "children": [],
        }
        for s in spans
    }
    roots = []
    for s in spans:
        (nodes[s.parent]["children"] if s.parent in nodes else roots).append(nodes[s.id])
    return roots
