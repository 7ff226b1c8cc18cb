"""hive_ingest: the reference's Kafka2S3Hive job, live.

The package's file-source twin of the Kafka reader
(`sources.streams.parsed_ad_stream`) feeds `streaming.pipelines.hive_sink`
with `checkpoint_interval=0`. A separate generator process
(`eventgen.py`) writes ad-event JSON-lines files on an open-loop schedule:
a warm-up phase, a live phase of `--seconds` (the latency sample), then
three burst backlogs (the drain rate). Event time runs faster than wall
time, so the watermark passes several minute partitions and the
committer adds them to the catalog during the run. Afterwards the
benchmark checks exactly-once delivery and partition commits, and scans
the ingested table repeatedly.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timedelta

import checkpoint_log
import harness
from harness import median, quantile

HERE = os.path.dirname(os.path.abspath(__file__))

#: live phase: 1.5 files/s x 1,000 events (1,500 events/s). A warm
#: one-file batch takes about 0.4 s on 4 cores, so a file lands on an
#: idle stream and is its own batch even on a host 1.5x slower. At
#: 5 files/s the stream ran back to back with 2-5 files per batch: a slower
#: host made batches bigger and so slower again, and the latency spread
#: 0.35 across seeds. The price is 30 latency samples per 20 s run.
RATE_FILES_S = 1.5
EVENTS_PER_FILE = 1000
#: a warm-up phase first, at a higher rate: the stream's first batches
#: pay one-off costs (codegen, JIT; the first batch takes ~5 s) that would
#: otherwise inflate the start of the measured phase. The live phase
#: starts GAP_S after the warm-up is committed, so it does not queue
#: behind the warm-up backlog.
WARMUP_S = 8.0
WARMUP_RATE_FILES_S = 5.0
#: event time runs this many times faster than wall time: one event
#: minute per 5 s, so the ~35 s of events span about 7 minute partitions.
#: The committer's watermark is the newest partition's minute less 5 s,
#: so partition M falls due once events of minute M+2 arrive.
TIME_SCALE = 12.0
#: bursts after the live phase, each landing GAP_S after everything
#: before it is committed, so it meets an idle stream; the drain rate is
#: their median, which drops the first burst's one-off cost of the
#: stream's first large batch
BURSTS = 3
GAP_S = 1.0
BURST_FILES = 40
BURST_EVENTS = 1500
SCANS = 8
#: commit-log entries and progress records the stream keeps (Spark's
#: defaults are 100 each; the latency join needs every batch's entry)
MAX_BATCHES = 5000
PART_COLS = ("logday", "h", "m")


def _config(work: str):
    from emr_flink_example_spark.config import PipelineConfig

    d = os.path.join(work, "stream")
    cfg = PipelineConfig(
        job="hive",
        source_format="file",
        source_path=os.path.join(d, "in"),
        checkpoint_dir=os.path.join(d, "ckpt"),
        checkpoint_interval=0,
        hive_s3_path=os.path.join(d, "table"),
        hive_table_name="ad_events",
    )
    os.makedirs(cfg.source_path)
    return cfg


def _wait_ready(q, timeout: float = 60.0) -> None:
    """Until the query has finished its first (empty) trigger."""
    deadline = time.time() + timeout
    while "Waiting for data" not in q.status["message"]:
        if q.exception() is not None or time.time() > deadline:
            raise RuntimeError(f"stream did not start: {q.status} {q.exception()}")
        time.sleep(0.01)


def _progress(q) -> list[dict]:
    return [json.loads(str(p)) for p in q.recentProgress]


def _partitions_on_disk(path: str) -> list[tuple[str, ...]]:
    """(logday, h, m) of every partition directory holding parquet, as the
    strings the sink wrote (reading them back through Spark would infer
    date and int types)."""
    out = []
    for dirpath, _, filenames in os.walk(path):
        rel = os.path.relpath(dirpath, path).split(os.sep)
        if len(rel) == len(PART_COLS) and any(f.endswith(".parquet") for f in filenames):
            kv = [seg.split("=", 1) for seg in rel]
            if [k for k, _ in kv] == list(PART_COLS):
                out.append(tuple(v for _, v in kv))
    return sorted(out)


def _table_checks(spark, cfg, table: str, manifest: list[dict]) -> dict:
    """Exactly-once per input file, and every partition due by the final
    watermark committed to the ledger and the catalog."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(cfg.hive_s3_path)
    per_file = {
        r["f"]: (r["n"], r["d"])
        for r in df.groupBy(F.substring("uuid", 1, 8).alias("f"))
        .agg(F.count("*").alias("n"), F.countDistinct("uuid").alias("d"))
        .collect()
    }
    bad_files = []
    for m in manifest:
        idx = f"{int(m['file'][3:9]):08x}"
        if per_file.get(idx) != (m["events"], m["events"]):
            bad_files.append((m["file"], per_file.get(idx)))
    parts = _partitions_on_disk(cfg.hive_s3_path)
    with open(os.path.join(cfg.hive_s3_path, "_partition_commits.json"), encoding="utf-8") as f:
        ledger = json.load(f)
    wm = datetime.strptime(ledger["watermark"], "%Y-%m-%d %H:%M:%S")
    committed = {tuple(p[c] for c in PART_COLS) for p in ledger["committed"]}
    shown = {
        tuple(kv.split("=", 1)[1] for kv in r[0].split("/"))
        for r in spark.sql(f"SHOW PARTITIONS {table}").collect()
    }
    due = [
        p for p in parts
        if datetime.strptime(f"{p[0]} {p[1]}:{p[2]}:00", "%Y-%m-%d %H:%M:%S") + timedelta(minutes=1) <= wm
    ]
    uncommitted = [p for p in due if p not in committed or p not in shown]
    return {
        "rows": sum(n for n, _ in per_file.values()),
        "bad_files": bad_files,
        "partitions": len(parts),
        "partitions_due": len(due),
        "uncommitted_due": uncommitted,
        "partitions_committed": len(committed),
        "partitions_pending": len(ledger["pending"]),
        "watermark": ledger["watermark"],
    }


def _layout(path: str, rows: int, n_parts: int) -> dict:
    files, size = 0, 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return {
        "table.files": files,
        "table.files_per_partition": files / max(n_parts, 1),
        "table.bytes_per_row": size / max(rows, 1),
    }


def run(ctx) -> dict:
    from emr_flink_example_spark.sources.streams import parsed_ad_stream
    from emr_flink_example_spark.streaming.pipelines import hive_sink

    tracer = harness.Tracer(ctx.trace)
    stage_ms: dict = {}

    t = time.time()
    spark = harness.new_session()
    build_s = time.time() - t
    for key in ("minBatchesToRetain", "numRecentProgressUpdates"):
        spark.conf.set(f"spark.sql.streaming.{key}", str(MAX_BATCHES))
    cfg = _config(ctx.work)
    q = hive_sink(parsed_ad_stream(spark, cfg), cfg, stage_ms=stage_ms)
    _wait_ready(q)
    setup_s = harness.setup_s(ctx)
    table = f"{cfg.database}.{cfg.hive_table_name}"
    manifest_path = os.path.join(ctx.work, "manifest.jsonl")
    gen = None
    try:
        start = time.time() + 0.2
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "eventgen.py"),
                "--out", cfg.source_path, "--stage", os.path.join(ctx.work, "stage"),
                "--manifest", manifest_path, "--ckpt", cfg.checkpoint_dir,
                "--seed", str(ctx.seed), "--start", repr(start), "--time-scale", str(TIME_SCALE),
                "--warmup", str(WARMUP_S), "--warmup-rate", str(WARMUP_RATE_FILES_S),
                "--rate", str(RATE_FILES_S), "--events", str(EVENTS_PER_FILE),
                "--seconds", str(ctx.seconds), "--gap", str(GAP_S),
                "--bursts", str(BURSTS), "--burst-files", str(BURST_FILES), "--burst-events", str(BURST_EVENTS),
            ]
        )
        # the generator returns once every file it wrote is committed
        gen.wait(timeout=WARMUP_S + ctx.seconds + 120)
        if gen.returncode != 0:
            raise RuntimeError(f"event generator exited with {gen.returncode}")
        with open(manifest_path, encoding="utf-8") as f:
            manifest = [json.loads(line) for line in f]
        commits = checkpoint_log.file_commits(cfg.checkpoint_dir)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = _progress(q)
        q.stop()
        n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
        if n_batches > MAX_BATCHES // 2:
            raise RuntimeError(
                f"{n_batches} batches: the latency join needs every batch's commit entry "
                f"and progress record; raise MAX_BATCHES ({MAX_BATCHES}) well above this"
            )

        with tracer.span("checks", "bench.check"):
            checks = _table_checks(spark, cfg, table, manifest)
        status = harness.SparkStatus(spark.sparkContext) if ctx.trace else None
        scans, traced_scans = [], []
        for k in range(SCANS + (1 if ctx.trace else 0)):
            traced = ctx.trace and k % 2 == 1
            tracer.enabled = traced
            if ctx.trace:
                spark.sparkContext.setJobGroup(f"scan{k}", "table scan")
            t = time.time()
            with tracer.span("table_scan", "bench.scan", scan=k):
                spark.read.parquet(cfg.hive_s3_path).groupBy(*PART_COLS).count().collect()
            (traced_scans if traced else scans).append(time.time() - t)
            if traced:
                status.settle(lambda j, g=f"scan{k}": j.get("jobGroup") == g)
            tracer.enabled = ctx.trace
        jobs = stages = None
        if ctx.trace:
            jobs, stages = status.jobs(), status.stages()
        jvm_mb = harness.vmhwm_mb(harness.jvm_pid(spark))
        py_mb = harness.vmhwm_mb(os.getpid())
        stamp = harness.stamp(ctx.root, spark, workload=ctx.workload, seed=ctx.seed,
                              seconds=ctx.seconds, trace=ctx.trace, rate_files_s=RATE_FILES_S, warmup_s=WARMUP_S,
                              warmup_rate_files_s=WARMUP_RATE_FILES_S,
                              time_scale=TIME_SCALE,
                              events_per_file=EVENTS_PER_FILE, bursts=BURSTS, burst_files=BURST_FILES,
                              burst_events=BURST_EVENTS)
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
        harness.shutdown(spark)

    live = [m for m in manifest if m["phase"] == "live"]
    lat_ms = [(commits[m["file"]][1] - m["due"]) * 1000 for m in live if commits.get(m["file"])]
    drain_rows_s = []
    for b in range(BURSTS):
        burst = [m for m in manifest if m["phase"] == f"burst{b}"]
        done = [commits[m["file"]][1] for m in burst if commits.get(m["file"])]
        if len(done) == len(burst):
            drain_rows_s.append(sum(m["events"] for m in burst) / (max(done) - burst[0]["due"]))
    not_once = [m["file"] for m in manifest if not commits.get(m["file"])]
    failed_files = set(not_once) | {f for f, _ in checks["bad_files"]}
    failed = len(failed_files) + len(checks["uncommitted_due"])
    generated = sum(m["events"] for m in manifest)
    # the run must exercise the commit layer: at least one partition due
    correct = failed == 0 and checks["rows"] == generated and checks["partitions_due"] >= 1

    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": jvm_mb + py_mb,
        "latency_p50_ms": quantile(lat_ms, 0.5),
        "latency_p90_ms": quantile(lat_ms, 0.9),
        "pass_s": median(scans),
        "throughput": median(drain_rows_s) if drain_rows_s else 0.0,
    }
    live_batches = sorted({commits[m["file"]][0] for m in live if commits.get(m["file"])})
    by_batch = {p["batchId"]: p for p in progress if p["numInputRows"] > 0}
    lp = [by_batch[b] for b in live_batches if b in by_batch]

    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in lp)

    n_data_batches = len({p["batchId"] for p in progress if p["numInputRows"] > 0})
    layers = {
        "microbatch.batches": len(lp),
        "microbatch.rows_per_batch": median(p["numInputRows"] for p in lp),
        "microbatch.trigger_ms": dur("triggerExecution"),
        "microbatch.latest_offset_ms": dur("latestOffset"),
        "microbatch.get_batch_ms": dur("getBatch"),
        "microbatch.query_planning_ms": dur("queryPlanning"),
        "microbatch.add_batch_ms": dur("addBatch"),
        "microbatch.wal_commit_ms": dur("walCommit"),
        **{f"partition_commit.{k}_ms_per_batch": v / max(n_data_batches, 1) for k, v in stage_ms.items()},
        **_layout(cfg.hive_s3_path, checks["rows"], checks["partitions"]),
        "table.partitions_due": checks["partitions_due"],
        "table.partitions_committed": checks["partitions_committed"],
        "table.partitions_pending": checks["partitions_pending"],
        "generator.files": len(manifest),
        "generator.late_ms_max": max((m["landed"] - m["due"]) * 1000 for m in live),
    }
    ctx.detail.update(
        session_build_s=build_s,
        batches_total=n_batches,
        latency_ms=lat_ms,
        drain_rows_s=drain_rows_s,
        scans_s=scans,
        traced_scans_s=traced_scans,
        checks=checks,
        not_committed_once=not_once,
        generated_events=generated,
        layers=layers,
        batches=[
            (p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"], p["durationMs"].get("addBatch"))
            for p in progress
            if p["numInputRows"] > 0
        ],
        error_rate=failed / len(manifest),
    )
    if ctx.trace:
        per_batch = []
        for b in live_batches:
            js = [j for j in jobs if f"batch = {b}" in (j.get("description") or "")]
            per_batch.append(status.totals(js, stages))
        for p in lp:
            t0 = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").timestamp()
            # durationMs parts in execution order; each becomes a child span
            parent = tracer.add("microbatch", "streaming.microbatch", t0,
                                t0 + p["durationMs"]["triggerExecution"] / 1000, batch=p["batchId"])
            t = t0
            for key, layer in (("latestOffset", "sources.streams"), ("getBatch", "sources.streams"),
                               ("queryPlanning", "spark.plan"),
                               ("addBatch", "streaming.pipelines.hive_sink"),
                               ("walCommit", "streaming.checkpoint"),
                               ("commitOffsets", "streaming.checkpoint")):
                d = p["durationMs"].get(key, 0) / 1000
                tracer.add(key, layer, t, t + d, parent, batch=p["batchId"])
                t += d
        ctx.detail["layers"]["microbatch.jobs_per_batch"] = median(x["jobs"] for x in per_batch)
        ctx.detail["layers"]["self_ms_by_layer"] = tracer.self_ms_by_layer()
        metrics.update(
            {
                "session.build_s": build_s,
                "units": len(lp),
                "unit.wall_ms": layers["microbatch.trigger_ms"],
                "unit.rows": layers["microbatch.rows_per_batch"],
                "program.call_ms": layers["microbatch.add_batch_ms"],
                "program.action_ms": layers.get("partition_commit.write_spark_ms_per_batch", 0.0),
                "spark.plan_ms": layers["microbatch.query_planning_ms"],
                **{f"spark.{k}": median(x[k] for x in per_batch) for k in harness.SPARK_KEYS},
                "cache.pins_released": 0,
                "jvm.peak_rss_mb": jvm_mb,
                "python.peak_rss_mb": py_mb,
                # the first scan reads cold and is left out of the comparison
                "trace.overhead_pct": (median(traced_scans) / median(scans[1:]) - 1) * 100,
            }
        )
    return {
        "correct": correct,
        "attempted": len(manifest),
        "failed": failed if correct or failed else 1,
        "metrics": metrics,
        "stamp": stamp,
        "tracer": tracer,
    }
