"""Streaming workload: the reference topology draining a replayed backlog.

Topology (reference parameters; every topic hop is a file hop)::

    raw JSON backlog -> detector (decode_json_stream, error_rate_stream 20 s / 10 s) -> alerts_err
                     -> p95      (decode_json_stream, latency_p95_stream 1 min)      -> p95
    p95 -> breach (consecutive_breach_stateful) -> alerts_breach
    alerts_err + alerts_breach -> alert union -> escalator (escalate_every_n_stateful)
                                              -> metrics   (alert_metrics_stream, update mode)

The stages run in topic order, as a replay of history does: the two
detectors drain the backlog with ``availableNow`` and a fixed number of
files per trigger, then the breach stage drains its hop, then the
escalator and metrics consume the alert topic.  Every sink is a
benchmark-owned ``foreachBatch`` that collects the batch and, for a hop,
writes it as one parquet file per epoch for the next stage.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_log_analytics_flink_kafka_spark.operators import detect, escalate, metrics
from realtime_log_analytics_flink_kafka_spark.schemas import RAW_LOG_SCHEMA
from realtime_log_analytics_flink_kafka_spark.sources.kafka import decode_json_stream
from realtime_log_analytics_flink_kafka_spark.streaming import jobs, state

ERR_SIZE, ERR_SLIDE = "20 seconds", "10 seconds"
P95_SIZE = "1 minute"
METRICS_SIZE = "1 minute"
P95_SLO_MS = 100.0
BREACH_LIMIT = 3
#: Backlog shape: a fixed size, so drain times compare across seeds.
BACKLOG_EVENTS = 160_000
BACKLOG_SPAN_S = 20 * 60
BACKLOG_FILES = 40
FILES_PER_TRIGGER = 10
BACKLOG_EPOCH = 1_700_000_040          # a minute boundary
#: Out-of-order events arrive up to this much before their due time,
#: inside the detectors' 5 s watermark delay.
MAX_DISORDER_US = 4_000_000

P95_SCHEMA = ("service string, window_start long, window_end long, "
              "p95_latency double, total_logs long")
ERR_ALERT_SCHEMA = ("service string, window_start long, window_end long, "
                    "total_logs long, error_logs long, error_rate double, "
                    "type string, severity string")
BREACH_SCHEMA = state.BREACH_OUTPUT_SCHEMA
ESC_SCHEMA = state.ESCALATED_OUTPUT_SCHEMA

_ARROW = {"string": pa.string(), "long": pa.int64(), "int": pa.int32(),
          "double": pa.float64(), "timestamp": pa.timestamp("us", tz="UTC")}


def _arrow_schema(ddl: str) -> pa.Schema:
    fields = [f.strip().split(" ") for f in ddl.split(",")]
    return pa.schema([(n, _ARROW[t]) for n, t in fields])


@dataclass(frozen=True)
class Mix:
    """Seed-chosen traffic: services with uneven shares, error and
    latency profiles, and the share of events delivered out of order."""
    services: tuple[str, ...]
    cum_share: tuple[int, ...]      # cumulative shares in 1/10000
    error_bp: tuple[int, ...]       # error rate in basis points
    base_latency: tuple[int, ...]   # ms; p95 ~ base + 27
    out_of_order_bp: int

    def describe(self) -> dict:
        shares = [b - a for a, b in zip((0,) + self.cum_share, self.cum_share)]
        return {"services": len(self.services),
                "max_share": max(shares) / 10_000,
                "min_share": min(shares) / 10_000,
                "high_error_services": sum(e >= 200 for e in self.error_bp),
                "slow_services": sum(b > 80 for b in self.base_latency),
                "out_of_order_share": self.out_of_order_bp / 10_000}


def traffic_mix(seed: int) -> Mix:
    """20-40 services with Zipf-like shares in a seed-shuffled order; a
    quarter to a half of them error-prone, a few slow enough to breach
    the p95 SLO."""
    rng = random.Random(seed)
    n = rng.randint(20, 40)
    skew = rng.uniform(0.6, 1.1)
    weights = [1 / (i + 1) ** skew for i in range(n)]
    rng.shuffle(weights)
    total, acc, cum = sum(weights), 0.0, []
    for w in weights:
        acc += w
        cum.append(round(10_000 * acc / total))
    cum[-1] = 10_000
    noisy = set(rng.sample(range(n), rng.randint(n // 4, n // 2)))
    slow = set(rng.sample(range(n), rng.randint(2, n // 6)))
    return Mix(
        services=tuple(f"svc-{i:02d}" for i in range(n)),
        cum_share=tuple(cum),
        error_bp=tuple(rng.randint(250, 800) if i in noisy
                       else rng.randint(20, 150) for i in range(n)),
        base_latency=tuple(rng.randint(90, 140) if i in slow
                           else rng.randint(30, 70) for i in range(n)),
        out_of_order_bp=rng.randint(500, 1500),
    )


def _draw(tick, seed: int, salt: str, mod: int):
    """Deterministic per-event draw in [0, mod)."""
    return F.pmod(F.xxhash64(tick, F.lit(f"{seed}:{salt}")), F.lit(mod))


def raw_json(ticks: DataFrame, mix: Mix, seed: int) -> DataFrame:
    """(tick long, ts timestamp) -> Kafka-shaped ``value`` JSON rows in
    the reference producer's schema (RAW_LOG_SCHEMA)."""
    tick = F.col("tick")
    d = _draw(tick, seed, "svc", 10_000)
    idx = F.size(F.filter(F.array(*map(F.lit, mix.cum_share)),
                          lambda c: c <= d))
    pick = lambda xs: F.element_at(F.array(*map(F.lit, xs)), idx + 1)  # noqa: E731
    is_err = _draw(tick, seed, "lvl", 10_000) < pick(mix.error_bp)
    latency = (pick(mix.base_latency) + _draw(tick, seed, "lat", 61) - 30)
    req = F.concat(F.lit("req-"),
                   F.lpad(F.hex(_draw(tick, seed, "req", 1 << 32)), 8, "0"))
    message = F.when(is_err, F.concat(F.lit("failed to process request "), req)) \
        .otherwise(F.concat(F.lit("request "), req, F.lit(" completed in "),
                            latency.cast("string"), F.lit(" ms")))
    payload = F.struct(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("timestamp"),
        pick(mix.services).alias("service"),
        F.concat(F.lit("node-"), (F.pmod(tick, F.lit(3)) + 1).cast("string")).alias("host"),
        F.when(is_err, "ERROR").otherwise("INFO").alias("level"),
        req.alias("request_id"),
        message.alias("message"),
        latency.cast("int").alias("latency_ms"),
    )
    return ticks.select(F.to_json(payload).alias("value"))


def decode_logs(raw: DataFrame) -> DataFrame:
    """Raw topic rows -> the detectors' log shape."""
    return decode_json_stream(raw, RAW_LOG_SCHEMA).select(
        F.col("timestamp").cast("timestamp").alias("ts"),
        "service",
        (F.col("level") == "ERROR").cast("int").alias("is_error"),
        F.col("latency_ms").cast("double").alias("latency_ms"),
    )


def alert_union(err: DataFrame, breach: DataFrame) -> DataFrame:
    """Both detectors' alerts as one topic, stamped with the alert's event
    time (its window end) and a per-(service, type, window) id."""
    return jobs.alert_stream_union(err, breach).select(
        "*",
        F.timestamp_seconds("window_end").alias("ts"),
        (F.col("window_start") * 2
         + (F.col("type") == "LATENCY_SLO_BREACH").cast("long")).alias("event_id"),
    )


def escalator_input(alerts: DataFrame) -> DataFrame:
    return alerts.select("service", "event_id", "ts", "severity")


class Recorder:
    """Thread-safe store of every sink emission (foreachBatch runs on
    each query's own thread)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows: dict[str, list[tuple[int, dict]]] = {}
        self.write_s = 0.0

    def add(self, name: str, epoch: int, rows: list[dict], write_s: float):
        with self._lock:
            self.rows.setdefault(name, []).extend((epoch, r) for r in rows)
            self.write_s += write_s

    def emitted(self, name: str) -> list[tuple[int, dict]]:
        with self._lock:
            return list(self.rows.get(name, ()))


def _sink(name: str, rec: Recorder, hop: str | None, ddl: str | None):
    schema = _arrow_schema(ddl) if hop else None

    def write(batch_df: DataFrame, epoch: int) -> None:
        rows = [r.asDict() for r in batch_df.collect()]
        t0 = time.perf_counter()
        if rows and hop:
            tmp = os.path.join(hop, f".{epoch:06d}.tmp")
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
            os.rename(tmp, os.path.join(hop, f"part-{epoch:06d}.parquet"))
        rec.add(name, epoch, rows, time.perf_counter() - t0)
    return write


def write_backlog(spark: SparkSession, raw: str, mix: Mix, seed: int) -> None:
    """Write the JSON backlog as BACKLOG_FILES text files in event-time
    order.  A seed-chosen share of events is stamped up to
    MAX_DISORDER_US before its slot, so it arrives out of order."""
    tick = F.col("tick")
    due_us = BACKLOG_EPOCH * 1_000_000 + tick * (BACKLOG_SPAN_S * 1_000_000
                                                 // BACKLOG_EVENTS)
    late = _draw(tick, seed, "ooo", 10_000) < mix.out_of_order_bp
    ts = F.timestamp_micros(
        due_us - F.when(late, _draw(tick, seed, "skew", MAX_DISORDER_US))
        .otherwise(0))
    ticks = (spark.range(0, BACKLOG_EVENTS, 1, BACKLOG_FILES)
             .select(F.col("id").alias("tick")).select("tick", ts.alias("ts")))
    staging = raw + ".staging"
    raw_json(ticks, mix, seed).write.text(staging)
    os.makedirs(raw)
    parts = sorted(f for f in os.listdir(staging) if f.startswith("part-"))
    mtime = time.time() - len(parts)
    for i, f in enumerate(parts):
        dst = os.path.join(raw, f"events-{i:05d}.json")
        os.rename(os.path.join(staging, f), dst)
        os.utime(dst, (mtime + i, mtime + i))  # the file source reads in mtime order
    shutil.rmtree(staging)


class Drain:
    """One drain of the backlog through the topology, in ``work``."""

    def __init__(self, spark: SparkSession, work: str, raw: str) -> None:
        self.spark, self.work, self.raw = spark, work, raw
        self.rec = Recorder()
        self.queries: dict = {}
        self.hops = {h: os.path.join(work, h) for h in
                     ("alerts_err", "p95", "alerts_breach", "escalations")}
        for d in self.hops.values():
            os.makedirs(d)

    def _start(self, df, name, hop=None, ddl=None, mode="append", **trigger):
        w = (df.writeStream.queryName(name).outputMode(mode)
             .option("checkpointLocation", os.path.join(self.work, "ckpt", name))
             .foreachBatch(_sink(name, self.rec, hop, ddl)))
        q = (w.trigger(**trigger) if trigger else w).start()
        self.queries[name] = q
        return q

    def _raw(self) -> DataFrame:
        return decode_logs(self.spark.readStream
                           .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
                           .text(self.raw))

    def _hop(self, name: str, ddl: str) -> DataFrame:
        return self.spark.readStream.schema(ddl).parquet(self.hops[name])

    def run(self, timeout_s: float) -> float:
        """Drain everything; returns the wall seconds from the first
        query's start until the last stage finished its last batch."""
        t0 = time.time()
        stage = [
            self._start(jobs.error_rate_stream(self._raw(), size=ERR_SIZE,
                                               slide=ERR_SLIDE)
                        .drop("incident_id"),
                        "detector", self.hops["alerts_err"], ERR_ALERT_SCHEMA,
                        availableNow=True),
            self._start(jobs.latency_p95_stream(self._raw(), size=P95_SIZE),
                        "p95", self.hops["p95"], P95_SCHEMA, availableNow=True),
        ]
        _await(stage, t0 + timeout_s)
        _await([self._start(state.consecutive_breach_stateful(
                    self._hop("p95", P95_SCHEMA), limit=BREACH_LIMIT,
                    p95_threshold=P95_SLO_MS),
                    "breach", self.hops["alerts_breach"], BREACH_SCHEMA,
                    availableNow=True)], t0 + timeout_s)

        def alerts():
            return alert_union(self._hop("alerts_err", ERR_ALERT_SCHEMA),
                               self._hop("alerts_breach", BREACH_SCHEMA))
        # the escalator's processing-time TTL keeps it scheduling timeout
        # batches, so neither query here ends by itself: stop both once
        # each has consumed every alert on the topic
        n_alerts = (len(self.rec.emitted("detector"))
                    + len(self.rec.emitted("breach")))
        last = [
            self._start(state.escalate_every_n_stateful(escalator_input(alerts())),
                        "escalator", self.hops["escalations"], ESC_SCHEMA),
            self._start(jobs.alert_metrics_stream(alerts(), size=METRICS_SIZE),
                        "metrics", mode="update"),
        ]
        while any(_rows_in(q) < n_alerts for q in last):
            for q in last:
                if q.exception() is not None:
                    raise RuntimeError(f"{q.name} failed: {q.exception()}")
            if time.time() > t0 + timeout_s:
                raise TimeoutError("alert topic not consumed in time")
            time.sleep(0.02)
        for q in last:
            q.stop()
        return max(_batch_end(p) for q in last for p in q.recentProgress
                   if p["numInputRows"]) - t0

    def watermark(self, name: str) -> int:
        """Watermark (epoch s) the query's last batch ran with."""
        return int(_ts(self.queries[name].lastProgress["eventTime"]["watermark"]))

    def stop(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()


def _await(queries, deadline: float) -> None:
    for q in queries:
        q.awaitTermination(max(deadline - time.time(), 1))
        if q.exception() is not None:
            raise RuntimeError(f"{q.name} failed: {q.exception()}")
        if q.isActive:
            raise TimeoutError(f"{q.name} did not drain in time")


def _rows_in(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _batch_end(p: dict) -> float:
    return _ts(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000


def check(spark: SparkSession, drain: Drain) -> list[str]:
    """Compare each stage's streamed output with the all-batch
    composition of the same operators over the same backlog; also
    require that no event was dropped as late.  Returns failed stages."""
    logs = decode_logs(spark.read.text(drain.raw))
    err = (detect.error_rate_alerts(logs, size=ERR_SIZE, slide=ERR_SLIDE)
           .filter(F.col("window_end") <= drain.watermark("detector"))).cache()
    p95 = (detect.latency_p95(logs, size=P95_SIZE)
           .filter(F.col("window_end") <= drain.watermark("p95"))).cache()
    breach = escalate.consecutive_breaches(
        p95, breach=F.col("p95_latency") > P95_SLO_MS,
        limit=BREACH_LIMIT).select(
            "service", "window_start", "window_end", "p95_latency",
            F.col("breach_count").cast("int"), "type", "severity")
    alerts = alert_union(err, breach)
    esc = escalate.escalate_every_nth(escalator_input(alerts)).select(
        "service", "event_id", "ts", "severity", "escalation_reason",
        F.col("alert_seq").cast("long"))
    met = metrics.alert_metrics(alerts, size=METRICS_SIZE)
    failed = [name for name, want in (("detector", err), ("p95", p95),
                                      ("breach", breach), ("escalator", esc))
              if _rows(want) != _streamed(drain, name, want.columns)]
    latest: dict[tuple, tuple[int, dict]] = {}
    for epoch, r in drain.rec.emitted("metrics"):
        key = (r["service"], r["window_start"])
        if key not in latest or latest[key][0] <= epoch:
            latest[key] = (epoch, r)
    if _rows(met) != sorted(tuple(r[c] for c in met.columns)
                            for _, r in latest.values()):
        failed.append("metrics")
    if late_rows(drain):
        failed.append("late_events")
    err.unpersist()
    p95.unpersist()
    return failed


def late_rows(drain: Drain) -> int:
    """Rows the drain's state operators dropped as later than the watermark."""
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for q in drain.queries.values() for p in q.recentProgress
               for op in p["stateOperators"] or [])


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _streamed(drain: Drain, name: str, columns: list[str]) -> list[tuple]:
    return sorted(tuple(r[c] for c in columns) for _, r in drain.rec.emitted(name))


def progress_profile(drain: Drain, wall_s: float) -> dict:
    """Per-query micro-batch profile from StreamingQueryProgress."""
    out = {}
    for name, q in drain.queries.items():
        ps = q.recentProgress
        dur = [p["durationMs"] for p in ps]
        ops = [op for p in ps for op in p["stateOperators"] or []]
        last_ops = ps[-1]["stateOperators"] or [] if ps else []
        with_rows = [p["numInputRows"] for p in ps if p["numInputRows"]]
        out[name] = {
            "batches": len(ps),
            "batch_ms_p50": statistics.median(d.get("triggerExecution", 0)
                                              for d in dur) if dur else 0,
            "busy_ratio": sum(d.get("triggerExecution", 0) for d in dur)
            / 1000 / wall_s,
            "input_rows_per_batch": statistics.mean(with_rows) if with_rows else 0,
            **{f"{k}_ms": sum(d.get(c, 0) for d in dur) for k, c in (
                ("add_batch", "addBatch"), ("query_planning", "queryPlanning"),
                ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets"),
                ("latest_offset", "latestOffset"))},
            "state_rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops),
            "state_memory_bytes": sum(op.get("memoryUsedBytes", 0)
                                      for op in last_ops),
            "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
            "state_rows_updated": sum(op.get("numRowsUpdated", 0) for op in ops),
            "state_rows_dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0) for op in ops),
        }
    return out


def warm_up(spark: SparkSession, seed: int) -> None:
    ticks = spark.range(2_000).select(
        F.col("id").alias("tick"),
        F.timestamp_seconds(F.lit(BACKLOG_EPOCH) + F.col("id") / 100).alias("ts"))
    decode_logs(raw_json(ticks, traffic_mix(seed), seed)) \
        .groupBy("service").count().collect()


def outputs(drain: Drain) -> dict[str, list[tuple]]:
    """Each stage's emitted rows, sorted; for the update-mode metrics
    stage, the last emitted row of each window."""
    out = {name: sorted((tuple(sorted(r.items())) for _, r in
                         drain.rec.emitted(name)), key=repr)
           for name in ("detector", "p95", "breach", "escalator")}
    latest: dict[tuple, tuple[int, dict]] = {}
    for epoch, r in drain.rec.emitted("metrics"):
        key = (r["service"], r["window_start"])
        if key not in latest or latest[key][0] <= epoch:
            latest[key] = (epoch, r)
    out["metrics"] = sorted((tuple(sorted(r.items())) for _, r in
                             latest.values()), key=repr)
    return out


def _drain(spark: SparkSession, work: str, raw: str) -> tuple[Drain, dict]:
    d = Drain(spark, work, raw)
    try:
        t0 = time.time()
        wall = d.run(timeout_s=150)
        return d, {"start": t0, "wall_s": wall, "end": time.time()}
    finally:
        d.stop()


def run(spark: SparkSession, work: str, seed: int, seconds: float) -> dict:
    """Generate the seed's backlog, then drain it through fresh copies of
    the topology until ``seconds`` have passed (at least once).  The
    first drain is checked against the batch composition and profiled;
    each later one must emit what it did."""
    mix = traffic_mix(seed)
    raw = os.path.join(work, "raw")
    t0 = time.perf_counter()
    write_backlog(spark, raw, mix, seed)
    backlog_s = time.perf_counter() - t0
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    drains, failed = [], []
    start = time.perf_counter()
    while not drains or time.perf_counter() - start < seconds:
        d, timing = _drain(spark, os.path.join(work, f"drain{len(drains)}"), raw)
        drains.append(timing)
        if len(drains) == 1:
            t0 = time.perf_counter()
            failed = check(spark, d)
            check_s = time.perf_counter() - t0
            start += check_s  # the check is not part of the timed drains
            want = outputs(d)
            profile = progress_profile(d, timing["wall_s"])
            emit_s = d.rec.write_s
            continue
        got = outputs(d)
        failed += [name for name in want
                   if got[name] != want[name] and name not in failed]
        if late_rows(d) and "late_events" not in failed:
            failed.append("late_events")
    return {"mix": mix.describe(), "events": BACKLOG_EVENTS,
            "backlog_s": backlog_s, "check_s": check_s, "drains": drains,
            "failed": failed, "progress": profile, "sink_write_s": emit_s}
