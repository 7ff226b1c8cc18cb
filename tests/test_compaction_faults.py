"""Fault injection into the one compaction protocol
(`compaction.publish_then_retire`): every compacting state directory is
crashed at each step of the protocol, replayed with the same id, and must
give the no-crash answer with no temporary directory or marker left over.

Crash points (all injected through the fsio seam):
  * after the tmp write — at the first publication rename;
  * after the first of n >= 2 publication renames (the layouts whose
    merge writes several files: hive partitions and `compact_path`);
  * after every rename, before the commit marker;
  * after the marker, part-way through retirement (one removal done).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F
from test_dedup_stream import BASE, DISTINCT, NEAR

from emr_flink_example_spark.operators.textstats import CMS_D
from emr_flink_example_spark.streaming.cms_stream import StreamingCountMin
from emr_flink_example_spark.streaming.compaction import compact_path
from emr_flink_example_spark.streaming.dedup_stream import NearDupStreamFilter
from emr_flink_example_spark.streaming.es_sample_stream import StreamingEsSample
from emr_flink_example_spark.streaming.fsio import LocalFS
from emr_flink_example_spark.streaming.hll_stream import StreamingHllSketch
from emr_flink_example_spark.streaming.partition_commit import PartitionCommitter


class Crash(RuntimeError):
    pass


class CrashFS(LocalFS):
    """LocalFS that raises `Crash` once: at the (k+1)-th occurrence of
    `step` — "rename" (a publication rename), "marker" (the commit
    marker write) or "retire" (a removal after the marker)."""

    def __init__(self, step: str | None = None, k: int = 0) -> None:
        self.step, self.k, self.seen = step, k, 0
        self.marked = self.fired = False
        #: target directory of every publication rename, in order
        self.rename_dirs: list[str] = []

    def _reach(self, step: str) -> None:
        if self.fired or step != self.step:
            return
        if self.seen == self.k:
            self.fired = True
            raise Crash(step)
        self.seen += 1

    def rename_overwrite(self, src: str, dst: str) -> None:
        if self.basename(dst).startswith("compact"):
            self._reach("rename")
            self.rename_dirs.append(self.parent(dst))
        super().rename_overwrite(src, dst)

    def write_text_atomic(self, path: str, text: str) -> None:
        if path.endswith(".committed"):
            self._reach("marker")
            self.marked = True
        super().write_text_atomic(path, text)

    def remove(self, path: str) -> None:
        if self.marked:
            self._reach("retire")
        super().remove(path)

    def rmtree(self, path: str) -> None:
        if self.marked:
            self._reach("retire")
        super().rmtree(path)


CRASH_POINTS = {
    "after_tmp_write": ("rename", 0),
    "after_first_rename": ("rename", 1),
    "before_marker": ("marker", 0),
    "mid_retire": ("retire", 1),
}


def _layout(root: str) -> dict:
    """Parquet file count of every visible directory under `root`."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        n = sum(1 for f in files if f.endswith(".parquet") and f[0] not in "._")
        if n:
            out[os.path.relpath(d, root)] = n
    return out


def _leftovers(root: str) -> list[str]:
    return [
        os.path.join(d, x)
        for d, dirs, files in os.walk(root)
        for x in dirs + files
        if x.startswith(".compact-") or x.endswith(".committed")
    ]


# ------------------------------------------------------------------- cases
# each builds its state under `root` up to the compacting step and returns
# (step, answer): `step()` runs the step that compacts (and is replayed),
# `answer()` reads the state back


def _hll(spark, root, fs):
    sink = StreamingHllSketch(root, compact_every=3, fs=fs)
    batches = [
        spark.range(i * 150, i * 150 + 200).select(F.col("id").alias("user_id"))
        for i in range(4)
    ]
    for i in range(3):
        sink(batches[i], i)

    def answer():
        regs = sorted(tuple(r) for r in sink.registers(spark).collect())
        return sink.estimate(spark), regs

    return (lambda: sink(batches[3], 3)), answer


def _cms(spark, root, fs):
    sink = StreamingCountMin(root, compact_every=3, fs=fs)
    batches = [
        spark.createDataFrame(
            [(f"t{j * j % 23}",) for j in range(i * 40, i * 40 + 90)],
            "token string",
        )
        for i in range(4)
    ]
    for i in range(3):
        sink(batches[i], i)

    def answer():
        cells = sorted(tuple(r) for r in sink.cells(spark).collect())
        # no double count: every streamed row adds exactly D cell counts
        assert sum(c for _, c in cells) == CMS_D * 4 * 90
        hh = [tuple(r) for r in sink.heavy_hitters(spark).collect()]
        return cells, hh

    return (lambda: sink(batches[3], 3)), answer


def _es(spark, root, fs):
    sink = StreamingEsSample(root, k=12, compact_every=3, fs=fs)
    batches = [
        spark.range(i * 200, (i + 1) * 200).select(
            F.col("id").alias("doc_id"),
            ((F.col("id") * 37) % 211 + 1).alias("n_chars"),
        )
        for i in range(4)
    ]
    for i in range(3):
        sink(batches[i], i)

    def answer():
        return [(r.doc_id, r.es_key_nano) for r in sink.sample(spark).collect()]

    return (lambda: sink(batches[3], 3)), answer


def _dedup(spark, root, fs):
    out, idx = os.path.join(root, "corpus"), os.path.join(root, "index")
    sink = NearDupStreamFilter(out, idx, compact_every=3)
    sink.fs = fs
    texts = [
        BASE,
        DISTINCT,
        "a third unrelated document about storage engines and bloom filters",
        "fourth unique text mentioning watermark semantics and event time",
    ]
    batches = [
        spark.createDataFrame([(i, t)], "doc_id bigint, text string")
        for i, t in enumerate(texts)
    ]
    for i in range(3):
        sink(batches[i], i)

    def answer():
        # probe the folded index: a near-dup of batch 0's doc is dropped
        sink(spark.createDataFrame([(5, NEAR)], "doc_id bigint, text string"), 4)
        kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        rows = sorted(
            (r.doc_id, r.band, r.bucket)
            for r in spark.read.parquet(idx).collect()
        )
        return kept, rows

    return (lambda: sink(batches[3], 3)), answer


def _hive(spark, root, fs):
    pc = PartitionCommitter(
        table=f"default.compaction_faults_{int(time.time() * 1000)}",
        path=root,
        partition_cols=("day", "hh"),
        commit_delay_seconds=60,
        timestamp_pattern="$day $hh:00:00",
        auto_compact_every=4,
        fs=fs,
    )
    schema = "uuid string, day string, hh string"
    for i in range(4):
        rows = [(f"u{i}-{j}", "2021-03-31", "02") for j in range(30)]
        pc(spark.createDataFrame(rows, schema), i)
    early = os.path.join(root, "day=2021-03-31", "hh=02")
    total = sum(
        os.path.getsize(os.path.join(early, f))
        for f in os.listdir(early)
        if f.endswith(".parquet")
    )
    pc.compact_target_bytes = (total + 1) // 2  # ideal = 2 files of 4
    late = spark.createDataFrame([("late", "2021-03-31", "23")], schema)

    def answer():
        return sorted(r.uuid for r in spark.read.parquet(root).collect())

    return (lambda: pc(late, 4)), answer


def _compact_path(spark, root, fs):
    spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("part"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).repartition(4).write.partitionBy("part").parquet(root)
    totals = [
        sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
        for d, _, files in os.walk(root)
        if os.path.basename(d).startswith("part=")
    ]
    target = int(max(totals) * 0.55)  # ideal = 2 files per partition

    def answer():
        return sorted(r.id for r in spark.read.parquet(root).collect())

    return (lambda: compact_path(spark, root, target, fs=fs)), answer


#: case -> (state set-up, whether its merge publishes several files)
CASES = {
    "hll_max": (_hll, False),
    "cms_sum": (_cms, False),
    "es_topk": (_es, False),
    "dedup_union_probe": (_dedup, False),
    "hive_partition": (_hive, True),
    "compact_path": (_compact_path, True),
}

PARAMS = [
    (case, point)
    for case, (_, multi) in CASES.items()
    for point in CRASH_POINTS
    if multi or point != "after_first_rename"
]

@pytest.fixture(scope="module")
def no_crash(spark, tmp_path_factory):
    """case -> (answer, layout) of one run without a crash."""
    answers = {}

    def get(case):
        if case not in answers:
            build, multi = CASES[case]
            root = str(tmp_path_factory.mktemp(case) / "no-crash")
            fs = CrashFS()
            step, answer = build(spark, root, fs)
            step()
            if multi:  # the first merge publishes >= 2 files into one directory
                assert fs.rename_dirs[:2] == [fs.rename_dirs[0]] * 2, fs.rename_dirs
            answers[case] = (answer(), _layout(root))
            assert not _leftovers(root)
        return answers[case]

    return get


@pytest.mark.parametrize("case,point", PARAMS)
def test_crash_then_replay_matches_no_crash(spark, tmp_path, no_crash, case, point):
    expected = no_crash(case)
    root = str(tmp_path / "crash")
    fs = CrashFS(*CRASH_POINTS[point])
    step, answer = CASES[case][0](spark, root, fs)
    with pytest.raises(Crash):
        step()
    step()  # replay with the same id
    assert (answer(), _layout(root)) == expected
    assert not _leftovers(root), _leftovers(root)
