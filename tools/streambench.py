"""Streaming-throughput bench for the three reference-parity pipelines
(VERDICT r6 #5): the reference IS a streaming ingester (README.md:2-5 —
Kafka JSON -> S3 as text / parquet / Hive-partitioned table), so the batch
headline bench alone never exercised its actual workload shape. This tool
drives each pipeline end-to-end over an ad-event JSON file stream derived
from the sf events fixture (the brokerless stand-in the streaming tests
use) and reports rows/sec plus per-micro-batch latency.

    python tools/streambench.py            # sf dir via SPARK_GRAFT_SF_DIR
                                           # (default /root/testdata/sf0.1)

Prints ONE JSON line (committed per round as STREAMBENCH_r{N}.json):

    {"metric": "streaming_throughput", "unit": "rows_per_sec",
     "value": <aggregate rows/sec>, "sf": 0.1, "n_rows": ...,
     "pipelines": {"text": {...}, "parquet": {...}, "hive": {...}}}

Method: the input is split into N_FILES text files and consumed with
maxFilesPerTrigger so each pipeline runs a real multi-batch stream (file
listing, offset log, sink commit per batch — the costs the reference's
rolling/checkpoint knobs govern; BASELINE.md rows 2-11). The trigger
interval is 0 so measured latency is work, not idle waiting. Each
pipeline gets fresh checkpoint/output dirs; rows/sec = input rows /
wall-clock from start() to processAllAvailable() having drained every
file, and per-batch latency comes from the query's own progress metrics
(triggerExecution duration).

Adjudication (r12): every pipeline runs STREAMBENCH_PASSES times (default
2) with fresh dirs; the reported entry is the BEST pass (max rows/sec) and
`band` = best/worst ratio — the mechanical ambient-load indicator that
keeps a loaded-host pass from masquerading as a regression (the batch
bench's best-of-artifacts discipline, applied here).

The hive entry additionally carries a compaction effectiveness A/B
(VERDICT r11 #6): table file count and full-scan read latency before and
after a post-run `compact_path` sweep — measured benefit for the feature
the reference declares but never runs (Kafka2S3Hive.scala:87,107).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from emr_flink_example_spark.config import PipelineConfig  # noqa: E402
from emr_flink_example_spark.io import load  # noqa: E402
from emr_flink_example_spark.session import local_test_session  # noqa: E402
from emr_flink_example_spark.sources.streams import parse_ad_events  # noqa: E402
from emr_flink_example_spark.streaming import pipelines  # noqa: E402

#: input split / batching: 24 files consumed 2 per trigger = 12 micro-batches
#: per pipeline — enough batches for a stable per-batch latency figure while
#: keeping each batch large enough to measure work, not scheduling.
N_FILES = 24
FILES_PER_TRIGGER = 2

#: best-of-N passes per pipeline (min 2 for a band figure)
N_PASSES = int(os.environ.get("STREAMBENCH_PASSES", "2"))

#: The hive pipeline partitions at MINUTE granularity (day/hour/minute ≙
#: Kafka2S3Hive.scala:97), and the events fixture replays a MONTH of event
#: time — a verbatim replay would create ~39k partitions at sf0.1, i.e. a
#: historical-backfill shape (2-3 rows per file, one catalog entry per
#: minute of a month) that the reference's near-real-time ingest never
#: sees. The hive input therefore gets event time linearly compressed onto
#: this window, so per-batch new-partition counts (~10/batch) match a live
#: stream's; text/parquet partition by DAY and use the verbatim input.
HIVE_SPAN_MINUTES = 120


def _ad_event_json(ts_col) -> F.Column:
    """Ad-event JSON line (the reference's record shape:
    uuid/date/timestamp/ad_type/ad_type_name — README.md:8-11)."""
    return F.to_json(
        F.struct(
            F.concat(F.lit("ev-"), F.col("event_id")).alias("uuid"),
            F.date_format(ts_col, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("date"),
            F.unix_millis(ts_col.cast("timestamp")).alias("timestamp"),
            (F.col("event_id") % 1000).cast("int").alias("ad_type"),
            F.col("event_type").alias("ad_type_name"),
        )
    )


def build_input(spark, sf_dir: str, in_dir: str) -> int:
    """Events fixture rendered verbatim into N_FILES text files."""
    lines = load(spark, sf_dir, "events").select(_ad_event_json(F.col("ts")).alias("value"))
    lines.repartition(N_FILES).write.mode("overwrite").text(in_dir)
    return spark.read.text(in_dir).count()


def build_hive_input(spark, sf_dir: str, in_dir: str) -> int:
    """Events fixture with event time linearly compressed onto
    HIVE_SPAN_MINUTES (see the constant's rationale), same JSON shape."""
    ev = load(spark, sf_dir, "events")
    mm = ev.agg(
        F.unix_millis(F.min("ts").cast("timestamp")).alias("lo"),
        F.unix_millis(F.max("ts").cast("timestamp")).alias("hi"),
    ).first()
    span = max(mm.hi - mm.lo, 1)
    factor = (HIVE_SPAN_MINUTES * 60_000) / span
    squeezed = F.timestamp_millis(
        (F.lit(mm.lo) + (F.unix_millis(F.col("ts").cast("timestamp")) - F.lit(mm.lo)) * F.lit(factor))
        .cast("bigint")
    )
    lines = ev.select(_ad_event_json(squeezed).alias("value"))
    lines.repartition(N_FILES).write.mode("overwrite").text(in_dir)
    return spark.read.text(in_dir).count()


def build_docs_input(spark, sf_dir: str, in_dir: str) -> int:
    """Documents fixture as JSON lines (doc_id, text) for the curation
    pipeline — the LLM-ingest stand-in (a continuous crawl feed)."""
    lines = load(spark, sf_dir, "documents").select(
        F.to_json(F.struct("doc_id", "text")).alias("value")
    )
    lines.repartition(N_FILES).write.mode("overwrite").text(in_dir)
    return spark.read.text(in_dir).count()


def _raw_stream(spark, in_dir: str):
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .load(in_dir)
        .select(F.col("value").cast("string").alias("value"))
    )


def _drive(query, n_rows: int, t0: float) -> dict:
    query.processAllAvailable()
    elapsed = time.time() - t0
    query.stop()
    query.awaitTermination(30)
    batches = [
        p
        for p in (json.loads(str(j)) for j in query.recentProgress)
        if p.get("numInputRows", 0) > 0
    ]
    trig_ms = [p["durationMs"]["triggerExecution"] for p in batches]
    return {
        "n_rows": n_rows,
        "elapsed_sec": round(elapsed, 3),
        "rows_per_sec": round(n_rows / elapsed, 1),
        "n_batches": len(batches),
        "avg_batch_ms": round(sum(trig_ms) / len(trig_ms), 1) if trig_ms else None,
        "max_batch_ms": max(trig_ms) if trig_ms else None,
    }


def bench_text(spark, in_dir: str, work: str, n_rows: int) -> dict:
    cfg = PipelineConfig(
        source_format="file",
        source_path=in_dir,
        checkpoint_dir=os.path.join(work, "ckpt"),
        output_path=os.path.join(work, "out"),
        checkpoint_interval=0,
    )
    t0 = time.time()
    return _drive(pipelines.text_sink(_raw_stream(spark, in_dir), cfg), n_rows, t0)


def bench_parquet(spark, in_dir: str, work: str, n_rows: int) -> dict:
    cfg = PipelineConfig(
        source_format="file",
        source_path=in_dir,
        checkpoint_dir=os.path.join(work, "ckpt"),
        output_path=os.path.join(work, "out"),
        checkpoint_interval=0,
    )
    parsed = parse_ad_events(_raw_stream(spark, in_dir))
    t0 = time.time()
    return _drive(pipelines.parquet_sink(parsed, cfg), n_rows, t0)


def bench_hive(spark, in_dir: str, work: str, n_rows: int) -> dict:
    cfg = PipelineConfig(
        source_format="file",
        source_path=in_dir,
        checkpoint_dir=os.path.join(work, "ckpt"),
        output_path=os.path.join(work, "out"),
        checkpoint_interval=0,
        hive_s3_path=os.path.join(work, "warehouse"),
        hive_table_name=f"source_log_bench_{int(time.time() * 1000)}",
    )
    parsed = parse_ad_events(_raw_stream(spark, in_dir))
    stage_ms: dict = {}
    t0 = time.time()
    out = _drive(
        pipelines.hive_sink(parsed, cfg, auto_compact_every=6, stage_ms=stage_ms),
        n_rows,
        t0,
    )
    # per-stage cost decomposition (the curation-pipeline precedent):
    # write = staged repartition+publish, stats = touched-partition agg,
    # commit = ledger + ALTER TABLE waves, compact = committed-partition
    # small-file coalescing (the reference's declared-but-inert
    # auto-compaction, Kafka2S3Hive.scala:87,107 — functional here)
    out["stage_ms"] = {k: round(v, 1) for k, v in sorted(stage_ms.items())}
    n_files = sum(
        1
        for _dir, _dn, files in os.walk(cfg.hive_s3_path)
        for f in files
        if f.endswith(".parquet")
    )
    out["n_table_files"] = n_files
    out["compaction"] = _compaction_ab(spark, cfg.hive_s3_path, n_files)
    spark.sql(f"DROP TABLE IF EXISTS {cfg.hive_table_name}")
    return out


def _compaction_ab(spark, table_path: str, files_before: int) -> dict:
    """Read-side A/B for the post-run compaction sweep: full-scan latency
    (min of 2, forcing data pages via a column aggregate) and file count
    before vs after `compact_path` coalesces every partition to the
    128 MB-target ideal."""
    from emr_flink_example_spark.streaming.compaction import compact_path

    def read_ms() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            spark.read.parquet(table_path).agg(F.sum("ad_type")).collect()
            best = min(best, (time.time() - t0) * 1000.0)
        return round(best, 1)

    before_ms = read_ms()
    t0 = time.time()
    stats = compact_path(spark, table_path)
    sweep_ms = round((time.time() - t0) * 1000.0, 1)
    files_after = sum(
        1
        for _dir, _dn, files in os.walk(table_path)
        for f in files
        if f.endswith(".parquet")
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "partitions_compacted": sum(1 for s in stats if s.compacted),
        "sweep_ms": sweep_ms,
        "read_ms_before": before_ms,
        "read_ms_after": read_ms(),
    }


def bench_curation(spark, in_dir: str, work: str, n_rows: int) -> dict:
    """The streaming curation pipeline (gate + reject audit + cross-batch
    near-dup filter) — the extension surface's ingest shape, benched with
    the same multi-batch file-stream method as the reference pipelines."""
    from emr_flink_example_spark.streaming.curation_stream import CurationStreamSink

    docs = (
        _raw_stream(spark, in_dir)
        .select(
            F.from_json(F.col("value"), "doc_id bigint, text string").alias("d")
        )
        .select("d.doc_id", "d.text")
    )
    sink = CurationStreamSink(
        os.path.join(work, "out"),
        os.path.join(work, "rejects"),
        os.path.join(work, "index"),
    )
    t0 = time.time()
    query = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    return _drive(query, n_rows, t0)


def bench_heavy_hitters(spark, in_dir: str, work: str, n_rows: int) -> dict:
    """The streaming count-min heavy-hitters sink (r10) — per-batch cell +
    candidate partitions over the ad-event type key, same multi-batch
    file-stream method; the final read (merged cells -> top-k estimate)
    is timed separately as `read_topk_ms` since a dashboard reads it at a
    different cadence than the ingest writes."""
    import time as _time

    from emr_flink_example_spark.streaming.cms_stream import StreamingCountMin

    keyed = (
        _raw_stream(spark, in_dir)
        .select(
            F.from_json(
                F.col("value"),
                "uuid string, date string, timestamp bigint,"
                " ad_type int, ad_type_name string",
            ).alias("d")
        )
        .select(F.col("d.ad_type_name").alias("token"))
    )
    sink = StreamingCountMin(os.path.join(work, "state"))
    t0 = time.time()
    query = (
        keyed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    out = _drive(query, n_rows, t0)
    t1 = _time.time()
    out["topk_rows"] = len(sink.heavy_hitters(spark).collect())
    out["read_topk_ms"] = round((_time.time() - t1) * 1000.0, 1)
    return out


def bench_dq_monitor(spark, in_dir: str, work: str, n_rows: int) -> dict:
    """The streaming data-quality monitor (r11) — per-batch mergeable
    metrics over the parsed ad-event stream; read-side summary timed
    separately (dashboard cadence, like heavy_hitters' top-k read)."""
    import time as _time

    from emr_flink_example_spark.streaming.dq_stream import (
        StreamingDQMonitor,
        dq_monitor_sink,
    )

    parsed = parse_ad_events(_raw_stream(spark, in_dir))
    t0 = time.time()
    query = dq_monitor_sink(
        parsed, os.path.join(work, "metrics"), os.path.join(work, "ckpt")
    )
    out = _drive(query, n_rows, t0)
    t1 = _time.time()
    mon = StreamingDQMonitor(os.path.join(work, "metrics"))
    srow = mon.summary(spark).collect()[0]
    out["summary_n_rows"] = srow.n_rows
    out["read_summary_ms"] = round((_time.time() - t1) * 1000.0, 1)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = local_test_session()
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="streambench-")
    try:
        in_dir = os.path.join(root, "in")
        hive_in_dir = os.path.join(root, "in_hive")
        docs_in_dir = os.path.join(root, "in_docs")
        n_rows = build_input(spark, sf_dir, in_dir)
        build_hive_input(spark, sf_dir, hive_in_dir)
        n_docs = build_docs_input(spark, sf_dir, docs_in_dir)
        results = {}
        for name, fn, src, rows in (
            ("text", bench_text, in_dir, n_rows),
            ("parquet", bench_parquet, in_dir, n_rows),
            ("hive", bench_hive, hive_in_dir, n_rows),
            ("curation", bench_curation, docs_in_dir, n_docs),
            ("heavy_hitters", bench_heavy_hitters, in_dir, n_rows),
            ("dq_monitor", bench_dq_monitor, in_dir, n_rows),
        ):
            passes = []
            for p in range(N_PASSES):
                work = os.path.join(root, f"{name}-p{p}")
                os.makedirs(work, exist_ok=True)
                passes.append(fn(spark, src, work, rows))
            rps = [r["rows_per_sec"] for r in passes]
            best = max(passes, key=lambda r: r["rows_per_sec"])
            best["passes"] = N_PASSES
            best["band"] = round(max(rps) / max(min(rps), 0.1), 3)
            best["all_rows_per_sec"] = rps
            results[name] = best
        # the headline aggregate covers the three REFERENCE pipelines only
        # (comparable round-over-round); the curation extension pipeline
        # does real per-row LLM-gate + dedup-probe work and is reported
        # alongside, not averaged in
        ref = {
            k: r
            for k, r in results.items()
            if k not in ("curation", "heavy_hitters", "dq_monitor")
        }
        agg = round(
            sum(r["n_rows"] for r in ref.values())
            / sum(r["elapsed_sec"] for r in ref.values()),
            1,
        )
        print(
            json.dumps(
                {
                    "metric": "streaming_throughput",
                    "unit": "rows_per_sec",
                    "value": agg,
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    "n_rows": n_rows,
                    "n_files": N_FILES,
                    "files_per_trigger": FILES_PER_TRIGGER,
                    "hive_span_minutes": HIVE_SPAN_MINUTES,
                    "pipelines": results,
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
