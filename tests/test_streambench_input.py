"""Pins for the streambench input builders (tools/streambench.py): the
JSON lines must parse under AD_EVENT_SCHEMA with no row loss (the bench
measures pipeline throughput, so a silently lossy input would inflate
rows/sec), and the hive input's time compression must actually bound the
event-time span — the knob that keeps the minute-partitioned sink at a
live-ingest partition cardinality instead of a month-long backfill's."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from emr_flink_example_spark.sources.streams import AD_EVENT_SCHEMA

from conftest import SF_DIR
import streambench as SB


def _parsed(spark, in_dir):
    raw = spark.read.text(in_dir)
    return raw.select(F.from_json("value", AD_EVENT_SCHEMA).alias("j")).select("j.*")


def test_input_round_trips_through_ad_schema(spark, tmp_path):
    n = SB.build_input(spark, SF_DIR, str(tmp_path / "in"))
    df = _parsed(spark, str(tmp_path / "in"))
    assert df.count() == n > 0
    # permissive parse lost nothing: every field materialized on every row
    nulls = df.where(
        F.col("uuid").isNull()
        | F.col("date").isNull()
        | F.col("timestamp").isNull()
        | F.col("ad_type").isNull()
        | F.col("ad_type_name").isNull()
    ).count()
    assert nulls == 0


def test_hive_input_is_time_compressed(spark, tmp_path):
    n = SB.build_hive_input(spark, SF_DIR, str(tmp_path / "in_hive"))
    df = _parsed(spark, str(tmp_path / "in_hive"))
    assert df.count() == n > 0
    lo, hi = df.agg(F.min("timestamp"), F.max("timestamp")).first()
    span_min = (hi - lo) / 60_000
    assert span_min <= SB.HIVE_SPAN_MINUTES + 1
    # compression rescales, it must not collapse: the span is still real
    assert span_min >= SB.HIVE_SPAN_MINUTES * 0.9


def test_docs_input_round_trips_losslessly(spark, tmp_path):
    """The curation-pipeline input: every (doc_id, text) must survive the
    JSON rendering byte-for-byte — a lossy input would both inflate
    rows/sec and feed the gate different text than the fixture."""
    from emr_flink_example_spark.io import load

    n = SB.build_docs_input(spark, SF_DIR, str(tmp_path / "docs"))
    parsed = (
        spark.read.text(str(tmp_path / "docs"))
        .select(F.from_json("value", "doc_id bigint, text string").alias("d"))
        .select("d.doc_id", "d.text")
    )
    assert parsed.count() == n > 0
    src = load(spark, SF_DIR, "documents").select("doc_id", "text")
    assert parsed.exceptAll(src).count() == 0
    assert src.exceptAll(parsed).count() == 0
