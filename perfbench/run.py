#!/usr/bin/env python3
"""loglytics benchmark: one command, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload batch_iterative --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads:

* ``batch_iterative`` -- a closed-loop client runs a frozen list of
  registry queries over the committed sf0.01 fixture copy, one after the
  other, in a seed-permuted order.  Each query is timed from the call to
  its builder until its ``count()`` result.
* ``stream_replay`` -- a seed-generated JSON backlog drains through the
  reference streaming topology (see ``stream.py``).

Set-up (session start plus a warm-up job) is done three times in one
process and its median reported as ``setup_s``; only the first start
launches the JVM.  Outputs are checked outside the timed regions:
batch results against the registry's DuckDB oracle (later passes by
row count), streamed results against the all-batch composition of the
same operators (later drains against the first).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (layer wrappers, Spark event log and micro-batch progress on).  The
last stdout line is one JSON object: correct, attempted, failed,
metrics.  A full profile is written to ``.perfbench_out/``.  The exit
code is non-zero if any output is wrong or the package cannot be loaded.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
SETUP_REPS = 3
DRIVER_MEM = "2g"

WORKLOADS = ("batch_iterative", "stream_replay")
STREAM_QUERIES = ("detector", "p95", "breach", "escalator", "metrics")
STREAM_FIELDS = {
    "batches": "count", "batch_ms_p50": "ms", "busy_ratio": "ratio",
    "input_rows_per_batch": "rows", "add_batch_ms": "ms",
    "query_planning_ms": "ms", "wal_commit_ms": "ms",
    "commit_offsets_ms": "ms", "latest_offset_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s", "sources.load_jobs": "count",
    "sources.scan_count": "count", "sources.input_bytes": "bytes",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "scale.checkpoint_calls": "count", "scale.checkpoint_s": "s",
    "scale.par_build_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "operators.exec_s": "s", "operators.exec_jobs": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.executor_cpu_s": "s", "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.task_skew": "ratio",
    **{f"streaming.{q}.{f}": u for q in STREAM_QUERIES
       for f, u in STREAM_FIELDS.items()},
    "state.rows_total": "rows", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.rows_updated": "rows",
    "state.rows_dropped_by_watermark": "rows",
    "sinks.emit_ms": "ms",
}
#: Counters that repeat exactly between traced runs of batch_iterative
#: with one seed (perfbench/test_perfbench.py asserts it).  Not
#: queries.build_jobs: the concurrent par_build legs of dup_modularity and
#: dedup_detector_ari run one job more or fewer from run to run.
EXACT = ("operators.exec_jobs", "sources.scan_count",
         "operators.shuffle_write_bytes", "operators.shuffle_read_bytes")


def _env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    time.tzset()
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)})
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _setup(get_spark, warm_up) -> tuple:
    """Start a session and warm it up SETUP_REPS times; returns the last
    session and the (start, start + warm-up) time of each repetition."""
    spark, reps = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench",
                          shuffle_partitions=len(os.sched_getaffinity(0)))
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark)
        reps.append((t1 - t0, time.perf_counter() - t0))
    return spark, reps


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only if no other run uses it
    except OSError:
        pass


def _operator_layers(ops: dict) -> dict:
    return {"operators.exec_jobs": ops["jobs"],
            **{f"operators.{k}": ops[k] for k in (
                "stages", "tasks", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "task_skew")}}


def _batch_layers(res: dict, spans, log) -> dict:
    m: dict[str, float] = {}
    exec_jobs, all_jobs = [], []
    for q in res["queries"]:
        if "built" not in q or "phases" not in q:
            continue
        t0, t1, t2 = q["start"], q["built"], q["end"]
        build_jobs = log.jobs_between(t0, t1)
        loads = spans.within("sources.load", t0, t1)
        checkpoints = spans.within("scale.checkpoint", t0, t1)
        phases = q["phases"]
        q_exec = log.jobs_between(t1, t2)
        exec_jobs += q_exec
        all_jobs += build_jobs + q_exec
        add = {
            "sources.load_s": sum(s[3] - s[2] for s in loads),
            "sources.load_jobs": sum(len(log.jobs_between(s[2], s[3]))
                                     for s in loads),
            "sources.scan_count": log.scans_between(t0, t2),
            "queries.build_s": t1 - t0,
            "queries.build_jobs": len(build_jobs),
            "scale.checkpoint_calls": len(checkpoints),
            "scale.checkpoint_s": sum(s[3] - s[2] for s in checkpoints),
            "scale.par_build_s": sum(s[3] - s[2] for s in
                                     spans.within("scale.par_build", t0, t1)),
            "plans.analysis_s": phases["analysis"],
            "plans.optimization_s": phases["optimization"],
            "plans.planning_s": phases["planning"],
            "operators.exec_s": t2 - t1 - sum(phases.values()),
        }
        q["layers"] = add
        for k, v in add.items():
            m[k] = m.get(k, 0) + v
    m.update(_operator_layers(log.job_metrics(exec_jobs)))
    m["sources.input_bytes"] = log.job_metrics(all_jobs)["input_bytes"]
    return m


def _stream_layers(res: dict, log) -> dict:
    m: dict[str, float] = {}
    prog = res["progress"]
    for q, fields in prog.items():
        for f in STREAM_FIELDS:
            m[f"streaming.{q}.{f}"] = fields[f]
        for f in ("rows_total", "memory_bytes", "commit_ms", "rows_updated",
                  "rows_dropped_by_watermark"):
            m[f"state.{f}"] = m.get(f"state.{f}", 0) + fields[f"state_{f}"]
    first = res["drains"][0]
    jobs = log.jobs_between(first["start"], first["end"])
    ops = log.job_metrics(jobs)
    add_batch_s = sum(p["add_batch_ms"] for p in prog.values()) / 1000
    m.update({
        "sinks.emit_ms": res["sink_write_s"] * 1000,
        "plans.planning_s": sum(p["query_planning_ms"]
                                for p in prog.values()) / 1000,
        "operators.exec_s": add_batch_s - res["sink_write_s"],
        "sources.input_bytes": ops["input_bytes"],
        "sources.scan_count": log.scans_between(first["start"], first["end"]),
        **_operator_layers(ops),
    })
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, trace)
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from realtime_log_analytics_flink_kafka_spark.session import get_spark
        import batch
        import stream
        import tracing
    except ImportError as e:
        print(f"perfbench: cannot load the package under {ROOT}: {e}",
              file=sys.stderr)
        _remove(work)
        return 2

    spark = None
    try:
        if args.workload == "batch_iterative":
            warm = lambda s: batch.warm_up(s, FIXTURE)  # noqa: E731
        else:
            warm = lambda s: stream.warm_up(s, args.seed)  # noqa: E731
        spark, reps = _setup(get_spark, warm)
        spans = tracing.Spans()
        restore = tracing.install_wrappers(spans) if trace else (lambda: None)
        try:
            if args.workload == "batch_iterative":
                res = batch.run(spark, FIXTURE, args.seed, args.seconds, trace)
                total_s = res["total_s"]
                attempted = len(res["queries"])
                headline = {"batch_total_s": (total_s, "s")}
            else:
                res = stream.run(spark, os.path.join(work, "replay"),
                                 args.seed, args.seconds)
                total_s = statistics.median(d["wall_s"] for d in res["drains"])
                attempted = len(STREAM_QUERIES) + 1  # + the late-event check
                headline = {"replay_events_per_s":
                            (res["events"] / total_s, "1/s")}
        finally:
            restore()
        rss = _peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
        _shutdown(spark)
        spark = None

        failed = res["failed"]
        e2e = {"setup_s": (statistics.median(r[1] for r in reps), "s"),
               "total_s": (total_s, "s")}
        report = {**e2e, **headline, "peak_rss_mb": (rss, "MB"),
                  "ops_failed_ratio": (len(failed) / attempted, "ratio")}
        profile = {"workload": args.workload, "result": res,
                   "setup_reps": reps}
        if trace:
            log = tracing.EventLog(os.path.join(work, "events"), app_id)
            layers = dict.fromkeys(PER_LAYER, 0)
            layers["session.start_s"] = statistics.median(r[0] for r in reps)
            layers.update(_batch_layers(res, spans, log)
                          if args.workload == "batch_iterative"
                          else _stream_layers(res, log))
            metrics = {k: (v, PER_LAYER[k]) for k, v in layers.items()}
            profile["spans"] = spans.items
        else:
            metrics = e2e

        nproc = len(os.sched_getaffinity(0))
        print(json.dumps({"provenance": {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "master": f"local[{nproc}]", "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "fixture": os.path.relpath(FIXTURE, ROOT),
            "git_commit": _git_commit()}}))
        print(json.dumps({"report": {k: {"value": v, "unit": u}
                                     for k, (v, u) in report.items()},
                          "failed_ops": failed,
                          **({"exact_counters": list(EXACT)} if trace else {})}))
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
        with open(path, "w") as fh:
            json.dump(profile, fh, default=str)
        print(json.dumps({"profile": os.path.relpath(path, ROOT)}))
        print(json.dumps({
            "correct": not failed, "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
        return 0 if not failed else 1
    finally:
        if spark is not None:
            _shutdown(spark)
        _remove(work)


if __name__ == "__main__":
    sys.exit(main())
