"""Small-file compaction (A15's declared-but-inert auto-compaction, made real)
and the kafka sink payload contract."""

from __future__ import annotations

import ast
import json
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from emr_flink_example_spark.sources.streams import as_kafka_payload
from emr_flink_example_spark.streaming.compaction import compact_path
from emr_flink_example_spark.streaming.fsio import LocalFS


def test_compaction_merges_small_files(spark, tmp_path):
    out = str(tmp_path / "tbl")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("part"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    # 8 writer tasks per partition -> lots of small files
    df.repartition(8).write.partitionBy("part").parquet(out)
    before = spark.read.parquet(out)
    before_rows = sorted(r.id for r in before.collect())

    stats = compact_path(spark, out, target_file_bytes=64 * 1024 * 1024)

    assert len(stats) == 3
    assert all(s.compacted for s in stats)
    assert all(s.files_after == 1 and s.files_before > 1 for s in stats)
    after = spark.read.parquet(out)
    assert sorted(r.id for r in after.collect()) == before_rows
    assert after.schema == before.schema


def test_compaction_noop_when_already_compact(spark, tmp_path):
    out = str(tmp_path / "tbl")
    spark.range(0, 10).coalesce(1).write.parquet(out)
    stats = compact_path(spark, out)
    assert len(stats) == 1 and not stats[0].compacted
    assert stats[0].files_before == stats[0].files_after == 1


class _CrashOnFirstRename(LocalFS):
    crashed = False

    def rename_overwrite(self, src, dst):
        if not self.crashed:
            self.crashed = True
            raise RuntimeError("crash before the first rename")
        super().rename_overwrite(src, dst)


def test_compact_path_crash_before_rename_loses_no_rows(spark, tmp_path):
    """A crash after the merged files are written but before any is
    renamed into the partition must leave every row readable, and a rerun
    must finish the compaction. (Removing the sources before the renames
    lost the partition's rows in that window.)"""
    out = str(tmp_path / "tbl")
    spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    ).repartition(8).write.partitionBy("part").parquet(out)
    before = sorted(r.id for r in spark.read.parquet(out).collect())
    fs = _CrashOnFirstRename()
    with pytest.raises(RuntimeError, match="first rename"):
        compact_path(spark, out, fs=fs)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == before
    stats = compact_path(spark, out, fs=fs)
    assert all(s.files_after == 1 for s in stats)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == before


def _ids(spark, path: str) -> list[int]:
    return sorted(r.id for r in spark.read.parquet(path).collect())


def test_finishing_a_crashed_marker_keeps_later_rows(spark, tmp_path, monkeypatch):
    """compact_path finishing a crashed run's ``_compact-<gen>.committed``
    marker removes only the sources that generation covered: a file
    appended to the partition after the crash keeps its rows."""
    from emr_flink_example_spark.streaming import compaction

    tbl = tmp_path / "tbl"
    d = tbl / "part=a"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"id": [0, 1]}), d / "batch-3-00000.parquet")
    pq.write_table(pa.table({"id": [2]}), d / "batch-4-00000.parquet")

    def crash(*args, **kwargs):
        raise RuntimeError("crash after the marker")

    monkeypatch.setattr(compaction, "_retire", crash)
    with pytest.raises(RuntimeError, match="after the marker"):
        compaction.compact_partition_atomic(spark, str(d), 8)
    monkeypatch.undo()
    assert {"compacted-8-00000.parquet", "_compact-8.committed"} <= set(os.listdir(d))
    pq.write_table(pa.table({"id": [12]}), d / "batch-12-00000.parquet")
    compact_path(spark, str(tbl))
    assert _ids(spark, str(tbl)) == [0, 1, 2, 12]


def test_marker_listing_published_names_still_finishes(spark, tmp_path):
    """A marker in the older format (the published names, one a line)
    covers every data file of the partition outside its generation."""
    tbl = tmp_path / "tbl"
    d = tbl / "part=a"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"id": [0, 1, 2]}), d / "compacted-8-00000.parquet")
    pq.write_table(pa.table({"id": [0, 1]}), d / "batch-3-00000.parquet")
    pq.write_table(pa.table({"id": [2]}), d / "batch-4-00000.parquet")
    (d / "_compact-8.committed").write_text("compacted-8-00000.parquet")
    compact_path(spark, str(tbl))
    assert os.listdir(d) == ["compacted-8-00000.parquet"]
    assert _ids(spark, str(tbl)) == [0, 1, 2]


def test_one_publish_then_retire_implementation():
    """Only compaction.py publishes compacted files and writes commit
    markers: no other streaming module may call `rename_overwrite` or
    name a `.committed` marker. The exceptions are the hive sink's
    staged publish (`partition_commit._write_batch`) and the fsio seam's
    own `write_text_atomic`."""
    allowed = {("partition_commit.py", "_write_batch"), ("fsio.py", "write_text_atomic")}
    streaming = pathlib.Path(__file__).resolve().parents[1] / (
        "emr_flink_example_spark/streaming"
    )
    offenders = []
    for path in sorted(streaming.glob("*.py")):
        if path.name == "compaction.py":
            continue
        tree = ast.parse(path.read_text())
        exempt = {
            id(call)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (path.name, fn.name) in allowed
            for call in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and ".committed" in str(node.value):
                offenders.append((path.name, node.lineno, "'.committed'"))
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "rename_overwrite"
                and id(node) not in exempt
            ):
                offenders.append((path.name, node.lineno, "rename_overwrite"))
    assert not offenders, f"publish/marker steps outside compaction.py: {offenders}"


def test_kafka_payload_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "click", 2.5)], "event_id bigint, event_type string, value double"
    )
    out = as_kafka_payload(df, key_col="event_id").collect()[0]
    assert out.key == "1"
    assert json.loads(out.value) == {"event_type": "click", "value": 2.5}

    no_key = as_kafka_payload(df).columns
    assert no_key == ["value"]
