"""Per-layer tracing for the benchmark's traced run.

Two sources, both outside the program:

- ``Tracer`` wraps the program's public functions from here: every module's
  ``load_table`` reference, the driver-side ``sources.*`` calls, and the
  DataFrame methods that run a driver action, checkpoint or persist. It
  counts calls and the time spent inside them, per query phase.
- ``parse_event_log`` reads Spark's own event log (``spark.eventLog``) and
  sums task metrics per job group; the benchmark tags each phase with
  ``setJobGroup("bench:<workload>:<pass>:<query>:<build|exec>")``.

``self_times`` gives the self time of each layer of a span tree
(workload > pass > query > build/exec > job > stage).
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import pkgutil
import time
from collections import defaultdict

# DataFrame methods counted by the operators layer, by counter name
DF_METHODS = {
    "driver_actions": ("collect", "count", "take", "toPandas", "first", "head", "toLocalIterator"),
    "checkpoints": ("localCheckpoint", "checkpoint"),
    "persists": ("persist", "cache"),
}
# Task metrics summed per job group: event-log path -> metric name
TASK_METRICS = {
    ("Executor Run Time",): "task_run_ms",
    ("Executor CPU Time",): "task_cpu_ns",
    ("JVM GC Time",): "gc_ms",
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): "shuffle_write_bytes",
    ("Shuffle Read Metrics", "Remote Bytes Read"): "shuffle_read_bytes",
    ("Shuffle Read Metrics", "Local Bytes Read"): "shuffle_read_bytes",
    ("Disk Bytes Spilled",): "spill_bytes",
    ("Output Metrics", "Bytes Written"): "output_bytes",
    ("Input Metrics", "Bytes Read"): "input_bytes",
    ("Input Metrics", "Records Read"): "input_records",
}
# SQL metrics of the Python-worker nodes (PythonSQLMetrics in Spark)
PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
}


class Tracer:
    """Counts calls into the program's public functions while installed.

    ``counters`` holds the current query's counts; the caller resets it per
    query and sets ``phase`` to "build" or "exec". Nested wrapped calls are
    counted once, at the outermost call.
    """

    def __init__(self) -> None:
        self.counters: dict[str, float] = defaultdict(float)
        self.phase = ""
        self._depth: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, layer: str, only_in_build: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._depth[layer] or (only_in_build and self.phase != "build"):
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                self.counters[layer + "_calls"] += 1
                self.counters[layer + "_s"] += time.perf_counter() - t0

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        import sys

        from pyspark.sql.classic.dataframe import DataFrame

        import hadoop_2_7_1_spark.sources as sources
        from hadoop_2_7_1_spark import io

        original = io.load_table
        load_table = self._wrap(original, "load_table")
        for name, mod in list(sys.modules.items()):
            if name.startswith("hadoop_2_7_1_spark") and getattr(mod, "load_table", None) is original:
                self._patch(mod, "load_table", load_table)
        for info in pkgutil.iter_modules(sources.__path__):
            mod = __import__(f"{sources.__name__}.{info.name}", fromlist=["_"])
            for attr, fn in list(vars(mod).items()):
                if _driver_api(mod, attr, fn):
                    self._patch(mod, attr, self._wrap(fn, "sources"))
        for counter, methods in DF_METHODS.items():
            for m in methods:
                self._patch(DataFrame, m, self._wrap(DataFrame.__dict__[m], counter, counter == "driver_actions"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def _driver_api(mod, attr: str, fn) -> bool:
    """A public function of ``mod`` that takes a DataFrame or SparkSession:
    these run on the driver. Helpers that Python workers call stay unwrapped,
    so nothing of the tracer is ever pickled into a task."""
    if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
        return False
    params = list(inspect.signature(fn).parameters.values())
    if not params:
        return False
    first = params[0]
    return first.name in ("spark", "df") or any(
        t in str(first.annotation) for t in ("DataFrame", "SparkSession")
    )


def _events(log_dir: str):
    """Every event of every log under ``log_dir``, rolling (v2) or not."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)]
    for path in sorted(p for p in paths if "appstatus" not in os.path.basename(p)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse_event_log(log_dir: str) -> tuple[dict[str, dict[str, float]], list[dict], list[dict]]:
    """Sum Spark job, stage and task metrics per job group.

    Returns ``(per_group, jobs, stages)``: per-group metric sums, and one
    record per job and per stage attempt (with its group and times in epoch
    seconds) for the span tree. Stages are attributed to the group whose job
    submitted them, so a stage that a later job skips is counted once.
    """
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_group: dict[tuple[int, int], str] = {}
    stage_job: dict[int, int] = {}
    shuffle_stages: dict[str, set] = defaultdict(set)
    launches: dict[str, list[tuple[tuple[int, int], float]]] = defaultdict(list)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[ev["Job ID"]] = {"id": ev["Job ID"], "group": group, "start": ev["Submission Time"] / 1e3, "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
            per_group[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            group = stage_group.get(key, "")
            g = per_group[group]
            g["stages"] += 1
            rec = {
                "id": f"{key[0]}.{key[1]}",
                "job": stage_job.get(key[0]),
                "group": group,
                "start": (info.get("Submission Time") or 0) / 1e3,
                "end": (info.get("Completion Time") or 0) / 1e3,
                "tasks": info.get("Number of Tasks", 0),
            }
            stages[key] = rec
            for acc in info.get("Accumulables", []):
                metric = PY_METRICS.get(acc.get("Name"))
                if metric:
                    g[metric] += float(acc.get("Value") or 0)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            group = stage_group.get(key, "")
            g = per_group[group]
            task = ev.get("Task Info", {})
            g["tasks"] += 1
            if task.get("Failed") or task.get("Killed"):
                g["failed_tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for path, name in TASK_METRICS.items():
                v = metrics
                for p in path:
                    v = v.get(p, 0) if isinstance(v, dict) else 0
                g[name] += float(v or 0)
            if metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) > 0:
                shuffle_stages[group].add(key)
            if task.get("Launch Time") is not None:
                launches[group].append((key, task["Launch Time"] / 1e3))
    # Queue wait of a task: from its stage's submission to its launch.
    submitted = {k: s["start"] for k, s in stages.items()}
    out: dict[str, dict[str, float]] = {}
    for group, g in per_group.items():
        g["task_wait_s"] = sum(max(0.0, t - submitted.get(k, t)) for k, t in launches[group])
        g["shuffle_stages"] = len(shuffle_stages[group])
        out[group] = dict(g)
    return out, list(jobs.values()), list(stages.values())


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer: a span's duration minus the part of it
    that its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent"):
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += (s["end"] - s["start"]) - covered(s["start"], s["end"], children[s["id"]])
    return dict(out)
