"""Traced-run instrumentation: layer-boundary spans and event-log counters.

Tracing is off in timed runs.  A traced run (``--trace 1``) installs the
wrappers below around the package's layer entry points and turns on the
Spark event log; after the session stops, the log is parsed the same way
``tools/shuffle_probe.py`` parses it and every job is attributed to the
span whose time window contains its submission.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory span store: (layer, name, start, end) in wall seconds."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.items: list[tuple[str, str, float, float]] = []

    @contextmanager
    def span(self, layer: str, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            with self._lock:
                self.items.append((layer, name, t0, t1))

    def within(self, layer: str, t0: float, t1: float) -> list[tuple]:
        with self._lock:
            return [s for s in self.items
                    if s[0] == layer and s[2] >= t0 and s[3] <= t1]


def install_wrappers(spans: Spans):
    """Wrap ``load_table``, ``DataFrame.localCheckpoint`` and ``par_build``
    so each call records a span.  Returns a function that undoes it."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame

    from realtime_log_analytics_flink_kafka_spark.functions import scale
    from realtime_log_analytics_flink_kafka_spark.sources import batch

    patches: list[tuple[object, str, object]] = []

    def patch(obj, attr, wrapper):
        patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, wrapper)

    load_table = batch.load_table

    def traced_load_table(spark, sf_dir, name):
        with spans.span("sources.load", name):
            return load_table(spark, sf_dir, name)

    par_build = scale.par_build

    def traced_par_build(*thunks):
        with spans.span("scale.par_build", str(len(thunks))):
            return par_build(*thunks)

    for mod_name in ("sources.batch", "sources", "queries.reference",
                     "queries.relational", "queries.pipeline",
                     "queries.advanced"):
        mod = importlib.import_module(
            f"realtime_log_analytics_flink_kafka_spark.{mod_name}")
        if getattr(mod, "load_table", None) is load_table:
            patch(mod, "load_table", traced_load_table)
    for mod_name in ("functions.scale", "queries.pipeline"):
        mod = importlib.import_module(
            f"realtime_log_analytics_flink_kafka_spark.{mod_name}")
        if getattr(mod, "par_build", None) is par_build:
            patch(mod, "par_build", traced_par_build)
    local_checkpoint = DataFrame.localCheckpoint

    def traced_checkpoint(self, *args, **kwargs):
        with spans.span("scale.checkpoint", ""):
            return local_checkpoint(self, *args, **kwargs)
    patch(DataFrame, "localCheckpoint", traced_checkpoint)

    def restore() -> None:
        for obj, attr, orig in reversed(patches):
            setattr(obj, attr, orig)
    return restore


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) recorded by ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        p = phases.get(key)
        out[key] = p.get().durationMs() / 1000 if p.isDefined() else 0.0
    return out


_FILE_SCAN = re.compile(r"^Scan (parquet|text|json|csv|orc)\b")


class EventLog:
    """Jobs, stage task metrics and SQL plans from one application's
    Spark event log."""

    def __init__(self, evdir: str, app_id: str) -> None:
        paths = (glob.glob(os.path.join(evdir, app_id + "*"))
                 + glob.glob(os.path.join(evdir, f"eventlog_v2_{app_id}",
                                          "events_*")))
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.sql: list[tuple[float, int]] = []
        for path in sorted(p for p in paths if os.path.isfile(p)):
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {"submit": ev["Submission Time"],
                                       "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            sr, sw = (m.get("Shuffle Read Metrics") or {},
                      m.get("Shuffle Write Metrics") or {})
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                "spill": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            })
        elif kind.endswith("SQLExecutionStart"):
            self.sql.append((ev["time"],
                             _count_scans(ev.get("sparkPlanInfo") or {})))

    # Event times are whole milliseconds, truncated: compare on that grid,
    # so a job submitted in the millisecond a window opens falls inside it.
    def jobs_between(self, t0: float, t1: float) -> list[int]:
        lo, hi = int(t0 * 1000), int(t1 * 1000)
        return [j for j, job in self.jobs.items() if lo <= job["submit"] < hi]

    def scans_between(self, t0: float, t1: float) -> int:
        lo, hi = int(t0 * 1000), int(t1 * 1000)
        return sum(n for t, n in self.sql if lo <= t < hi)

    def job_metrics(self, job_ids) -> dict:
        """Work done by ``job_ids``: stages that ran, tasks, executor CPU,
        GC, shuffle and spill bytes, input bytes and task skew (max over
        median task time in the stage with the longest task)."""
        stages = {s for j in job_ids for s in self.jobs[j]["stages"]
                  if self.tasks.get(s)}
        tasks = [t for s in stages for t in self.tasks[s]]
        skew = 1.0
        if stages:
            slowest = max(stages, key=lambda s: max(t["ms"] for t in self.tasks[s]))
            ms = [t["ms"] for t in self.tasks[slowest]]
            skew = max(ms) / max(statistics.median(ms), 1)
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": len(tasks),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "input_bytes": sum(t["input"] for t in tasks),
            "task_skew": skew,
        }


def _count_scans(node: dict) -> int:
    return (bool(_FILE_SCAN.match(node.get("nodeName", "")))
            + sum(_count_scans(c) for c in node.get("children", [])))
