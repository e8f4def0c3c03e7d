"""Traced-run support: spans around wsspark's public functions, and a fold
of Spark's own event log into per-span engine counts.

Nothing here edits library code. ``Tracer.install`` replaces module
attributes with timing wrappers, including the names callers bound at
import time (``wsspark.pipeline.write_report`` is the same function as
``wsspark.io.write_report`` under a second name). Each wrapper tags the
Spark jobs it triggers with ``setLocalProperty(SPAN_PROPERTY, span id)``.
PySpark pins each Python thread to its own JVM thread, so the tag also
holds inside the pipeline's report-writer pool threads.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import threading
import time

SPAN_PROPERTY = "perfbench.span"

# (module, attribute or "Class.method", layer name). A layer name that is
# listed more than once sums over all of its functions.
TRACE_TARGETS = [
    ("wsspark.session", "get_session", "session.get_session"),
    ("wsspark.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("wsspark.pipeline", "build_reports", "pipeline.build_reports"),
    ("wsspark.pipeline", "Reports.release", "pipeline.release"),
    ("wsspark.io", "load_tables", "io.load_tables"),
    ("wsspark.pipeline", "load_tables", "io.load_tables"),
    ("wsspark.io", "write_report", "io.write_report"),
    ("wsspark.pipeline", "write_report", "io.write_report"),
    ("wsspark.quality", "dq_flag", "quality.dq_flag"),
    ("wsspark.quality", "incremental_filter", "quality.incremental_filter"),
    ("wsspark.quality", "drift_suite", "quality.drift_suite"),
    ("wsspark.snapstore", "snap_commit", "snapstore.snap_commit"),
    ("wsspark.snapstore", "snap_merge", "snapstore.snap_merge"),
    ("wsspark.snapstore", "snap_update_where", "snapstore.snap_update_where"),
    ("wsspark.snapstore", "snap_delete_dv", "snapstore.snap_delete_dv"),
    ("wsspark.snapstore", "snap_read_between", "snapstore.snap_read_between"),
    ("wsspark.ops.incremental", "snapstore_mv_refresh_cdf", "incremental.refresh"),
]
# Every public function of these modules is one layer each.
TRACE_MODULES = [
    ("wsspark.adapters", "adapters.build"),
    ("wsspark.ops.inventory", "ops.build"),
    ("wsspark.ops.movements", "ops.build"),
    ("wsspark.ops.financial", "ops.build"),
    ("wsspark.ops.warehouse", "ops.build"),
]


class Tracer:
    """Collects spans ``{id, parent, name, t0, t1, thread}`` (wall-clock
    seconds since the epoch, the event log's clock)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0
        self._root_stack: list[dict] | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def begin(self, name: str, root: bool = False) -> dict:
        """Open a span. Its parent is the innermost open span of this
        thread; a pool thread with none gets the innermost open span of the
        thread that opened the root (the caller that submitted its work)."""
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._root_stack[-1] if self._root_stack else None
        with self._lock:
            span = {
                "id": self._next,
                "parent": None if root or parent is None else parent["id"],
                "name": name,
                "t0": time.time(),
                "t1": None,
                "thread": threading.get_ident(),
            }
            self._next += 1
            self.spans.append(span)
        span["_prev_tag"] = _set_span_tag(str(span["id"]))
        stack.append(span)
        if root:
            self._root_stack = stack
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.time()
        self._stack().pop()
        _set_span_tag(span.pop("_prev_tag"))
        if span["parent"] is None:
            self._root_stack = None

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        self._saved.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(fn, name))

    def install(self) -> None:
        for mod_name, attr, name in TRACE_TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            self._patch(owner, attr, name)
        for mod_name, name in TRACE_MODULES:
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).copy().items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                ):
                    self._patch(mod, attr, name)
        # the pipeline binds its ops modules, not their functions, so the
        # module patches above already cover its calls

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def _set_span_tag(value: str | None) -> str | None:
    """Set this thread's job tag; returns the previous one. A no-op while
    no SparkContext is active (e.g. inside ``get_session`` itself)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    prev = sc.getLocalProperty(SPAN_PROPERTY)
    sc.setLocalProperty(SPAN_PROPERTY, value)
    return prev


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals``."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    kids = clipped([(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])
    return (span["t1"] - span["t0"]) - union_s(kids)


def descendants_of(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def layer_seconds(spans: list[dict], name: str) -> float:
    """Wall time covered by the spans called ``name``; nested and
    concurrent calls count once."""
    return union_s([(s["t0"], s["t1"]) for s in spans if s["name"] == name])


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Parse every uncompressed event-log file under ``log_dir``
    (``spark.eventLog.compress=false``), in file order."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EngineLog:
    """Jobs, stages, tasks and cached-block sizes from one application's
    event log, indexed for per-interval and per-span folding."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stage_submit: dict[tuple[int, int], float] = {}
        self.tasks: list[dict] = []
        blocks: dict[str, int] = {}
        self.cache_curve: list[tuple[float, int]] = []  # (clock, bytes)
        clock = 0.0
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                clock = e["Submission Time"] / 1000
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "t0": clock,
                    "t1": None,
                    "span": props.get(SPAN_PROPERTY),
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                clock = e["Completion Time"] / 1000
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["t1"] = clock
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if info.get("Submission Time"):
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    self.stage_submit[key] = info["Submission Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                clock = info["Finish Time"] / 1000
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                sid = e["Stage ID"]
                reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
                self.tasks.append(
                    {
                        "job": stage_job.get(sid),
                        "stage": (sid, e["Stage Attempt ID"]),
                        "launch": info["Launch Time"] / 1000,
                        "finish": clock,
                        "failed": bool(info.get("Failed")) or reason != "Success",
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "shuffle_w_b": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_r_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "input_rows": inp.get("Records Read", 0),
                    }
                )
            elif kind == "SparkListenerBlockUpdated":
                b = e["Block Updated Info"]
                bid = b["Block ID"]
                if bid.startswith("rdd_"):
                    blocks[bid] = b.get("Memory Size", 0) + b.get("Disk Size", 0)
                    self.cache_curve.append((clock, sum(blocks.values())))
        for j in self.jobs.values():
            if j["t1"] is None:
                j["t1"] = j["t0"]

    def fold(self, lo: float, hi: float, cores: int) -> dict:
        """Engine counts of the jobs submitted in [lo, hi]."""
        jobs = {jid: j for jid, j in self.jobs.items() if lo <= j["t0"] <= hi}
        tasks = [t for t in self.tasks if t["job"] in jobs]
        wall = max(hi - lo, 1e-9)
        busy = union_s(clipped([(j["t0"], j["t1"]) for j in jobs.values()], lo, hi))
        run_s = sum(t["run_s"] for t in tasks)
        by_stage: dict[tuple, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
        skew = 1.0
        if by_stage:
            worst = max(by_stage.values(), key=max)
            med = statistics.median(worst)
            skew = max(worst) / med if med > 0 else 1.0
        cache = [b for c, b in self.cache_curve if lo <= c <= hi]
        return {
            "engine.jobs": len(jobs),
            "engine.stages": len({t["stage"] for t in tasks}),
            "engine.tasks": len(tasks),
            "engine.failed_tasks": sum(t["failed"] for t in tasks),
            "engine.driver_only_s": wall - busy,
            "engine.executor_run_s": run_s,
            "engine.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "engine.busy_frac": run_s / (wall * cores),
            "engine.sched_wait_s": sum(
                max(0.0, t["launch"] - self.stage_submit.get(t["stage"], t["launch"]))
                for t in tasks
            ),
            "engine.shuffle_write_mb": sum(t["shuffle_w_b"] for t in tasks) / 1e6,
            "engine.shuffle_read_mb": sum(t["shuffle_r_b"] for t in tasks) / 1e6,
            "engine.spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
            "engine.task_skew": skew,
            "engine.input_rows": sum(t["input_rows"] for t in tasks),
            "engine.cache_peak_mb": max(cache, default=0) / 1e6,
            "engine.gc_s": sum(t["gc_s"] for t in tasks),
        }

    def job_intervals(self) -> list[tuple[float, float]]:
        return [(j["t0"], j["t1"]) for j in self.jobs.values()]

    def span_counts(self, span_id: str) -> dict:
        """Jobs, stages and tasks tagged with ``span_id``."""
        jobs = {jid for jid, j in self.jobs.items() if j["span"] == span_id}
        tasks = [t for t in self.tasks if t["job"] in jobs]
        return {
            "jobs": len(jobs),
            "stages": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_s"] for t in tasks),
        }


def driver_only_s(span: dict, job_intervals) -> float:
    """Span time with no Spark job running."""
    busy = union_s(clipped(job_intervals, span["t0"], span["t1"]))
    return (span["t1"] - span["t0"]) - busy


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
