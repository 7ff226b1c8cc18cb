"""Small-file compaction, and the one publish -> marker -> retire protocol
every compacting state directory in `streaming/` runs through.

The reference declares `sink.partition-commit... auto-compaction='true'` but
the feature is non-functional in its Flink version (Kafka2S3Hive.scala:107,
comment :87). Here it works, and the streaming sketch and index sinks fold
their per-batch state with the same protocol (`publish_then_retire`):

* a hive partition's files coalesce to the target size as
  ``compacted-<gen>-<i>.parquet`` (`compact_partition_atomic`:
  `PartitionCommitter` auto-compaction with gen = batch id, and the
  offline `compact_path`);
* a sink's ``batch_id=<k>`` partitions older than the compacting batch
  fold into the oldest one as ``compact-<gen>-<i>.parquet``
  (`compact_batch_dirs`), with the sink's merge: max (HLL registers),
  sum (count-min cells), top-k (ES sample) or union (dedup index).

Scale notes: each partition compacts independently — schedule the job over
recently-committed partitions only (the commit ledger from
partition_commit.py gives exactly that list), so cost tracks ingest rate,
not table size. The rewrite itself is a single narrow `coalesce` (no
shuffle): files are combined within the partition, never moved across
partitions. All file operations go through the `fsio.FSIO` seam, so the
same protocol runs on local disk (`LocalFS`) or any Hadoop FileSystem
(`HadoopFS` — HDFS/S3A/file://).
"""

from __future__ import annotations

import hashlib
import json
import math
import posixpath
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from .fsio import FSIO, LocalFS

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # ≙ sink.rolling-policy.file-size


@dataclass
class CompactionStats:
    partition_dir: str
    files_before: int
    files_after: int
    bytes_total: int
    compacted: bool


def _data_files(fs: FSIO, d: str, skip_prefix: str = ".") -> list[str]:
    """Paths of the parquet files directly under `d`, sorted, minus hidden
    ones and those named `skip_prefix*` (a generation's own output)."""
    return [
        fs.join(d, f)
        for f in fs.list_files(d)
        if f.endswith(".parquet") and not f.startswith((".", skip_prefix))
    ]


def publish_then_retire(
    spark: SparkSession,
    fs: FSIO,
    target_dir: str,
    own_prefix: str,
    gen: int | str,
    sources: list[str],
    merge: Callable[[DataFrame], DataFrame],
    retire_dirs: Sequence[str] = (),
) -> list[str] | None:
    """Fold `sources` into `target_dir` as generation `gen` — the one
    crash-safe, replay-idempotent compaction protocol.

    1. Publish: ``merge(read(sources))`` is written to the dot-directory
       ``<parent of target_dir>/.compact-<gen>``, which readers skip, and
       each output file is renamed into `target_dir` as
       ``<own_prefix><i:05d>.parquet``. Same-prefix files the renames did
       not overwrite (a crashed attempt's extras) are removed.
    2. Marker: ``_compact-<gen>.committed`` (JSON: the names of the
       `sources` inside `target_dir`) is written
       only after every file is published.
    3. Retire: only after the marker, `retire_dirs` and the sources the
       marker lists are removed, then the marker itself. Files that
       arrived after the sources were listed stay.

    `sources` must exclude this generation's own ``own_prefix*`` files:
    a crashed attempt's output is stale state, never input. Older
    generations' files are legitimate sources.

    Why a crash at any point is safe when the caller re-runs the same
    `gen` (a streaming checkpoint replays the batch; `compact_path`
    derives `gen` from the partition's contents): before the marker,
    nothing has been deleted, so the replay recomputes from intact
    sources and its renames overwrite the stale copies. After the
    marker, the published files cover every source, so the replay skips
    the merge and only finishes the retirement, whose removals are
    idempotent. No source is removed before its merged replacement is
    visible, and no replay reads its own output, so the protocol holds
    for every merge — including SUM, which duplicates would inflate. A
    reader inside the window before retirement sees sources plus merged
    output: duplicates, which max, top-k and distinct absorb and SUM
    and plain rows show until the replay finishes.

    Returns the kept file names, or None when there was no marker to
    finish and no sources to fold.
    """
    marker = fs.join(target_dir, f"_compact-{gen}.committed")
    if not fs.exists(marker):
        if not sources:
            return None
        tmp = fs.join(fs.parent(target_dir), f".compact-{gen}")
        merge(spark.read.parquet(*sources)).write.mode("overwrite").parquet(tmp)
        published = []
        for i, f in enumerate(_data_files(fs, tmp)):
            published.append(f"{own_prefix}{i:05d}.parquet")
            fs.rename_overwrite(f, fs.join(target_dir, published[-1]))
        fs.rmtree(tmp)
        for f in fs.list_files(target_dir):
            if f.startswith(own_prefix) and f not in published:
                fs.remove(fs.join(target_dir, f))
        src = set(sources)
        covered = [f for f in fs.list_files(target_dir) if fs.join(target_dir, f) in src]
        fs.write_text_atomic(marker, json.dumps({"sources": covered}))
    _retire(fs, target_dir, own_prefix, marker, retire_dirs)
    return [f for f in fs.list_files(target_dir) if f.startswith(own_prefix)]


def _retire(
    fs: FSIO,
    target_dir: str,
    own_prefix: str,
    marker: str,
    retire_dirs: Sequence[str] = (),
) -> None:
    """Step 3 of `publish_then_retire`; safe to re-run after a crash. A
    marker of the older format lists only the published names; it covers
    every data file in `target_dir` outside the generation."""
    for d in retire_dirs:
        fs.rmtree(d)
    present = {f for f in fs.list_files(target_dir) if not f.startswith((".", "_", own_prefix))}
    text = fs.read_text(marker)
    for f in json.loads(text)["sources"] if text.startswith("{") else sorted(present):
        if f in present:
            fs.remove(fs.join(target_dir, f))
    fs.remove(marker)


# ---------------------------------------------------------------- sink state


def write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite ``<root>/batch_id=<batch_id>`` with `df` as one file: a
    checkpoint replay rewrites its own directory and touches no other."""
    df.coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(root, f"batch_id={batch_id}")
    )


def compaction_due(every: int, batch_id: int) -> bool:
    """Every `every` batches (never for batch 0; `every` = 0 disables)."""
    return bool(every) and batch_id > 0 and batch_id % every == 0


def compact_batch_dirs(
    spark: SparkSession,
    fs: FSIO,
    root: str,
    batch_id: int,
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Fold every ``batch_id=<k>`` partition of `root` with k < `batch_id`
    into the oldest one, as generation `batch_id` of `publish_then_retire`.

    Only partitions strictly older than the compacting batch take part,
    so a replay of that batch never rewrites anything it compacted, and
    the folded rows keep the oldest partition's batch id, which no
    replay excludes."""
    old = sorted(
        (int(d.split("=", 1)[1]), fs.join(root, d))
        for d in fs.list_dirs(root)
        if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < batch_id
    )
    if not old:
        return
    own_prefix = f"compact-{batch_id}-"
    target, rest = old[0][1], [d for _, d in old[1:]]
    sources = [f for d in (target, *rest) for f in _data_files(fs, d, own_prefix)]
    publish_then_retire(
        spark,
        fs,
        target,
        own_prefix,
        batch_id,
        sources if rest else [],
        lambda df: merge(df).coalesce(1),
        rest,
    )


# ---------------------------------------------------------- hive partitions


def compact_partition_atomic(
    spark: SparkSession,
    partition_dir: str,
    gen: int | str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    fs: FSIO | None = None,
) -> CompactionStats:
    """Coalesce one partition directory's parquet files to the target size
    as generation `gen` (`publish_then_retire`). No-op when the files not
    written by this generation are already at or below the ideal count."""
    fs = fs or LocalFS()
    own_prefix = f"compacted-{gen}-"
    files = _data_files(fs, partition_dir, own_prefix)
    total = sum(fs.size(f) for f in files)
    ideal = max(1, math.ceil(total / target_file_bytes))
    sources = files if len(files) > ideal else []
    kept = publish_then_retire(
        spark, fs, partition_dir, own_prefix, gen, sources, lambda d: d.coalesce(ideal)
    )
    if kept is None:
        return CompactionStats(partition_dir, len(files), len(files), total, False)
    return CompactionStats(partition_dir, len(files), len(kept), total, True)


def _leaf_parquet_dirs(fs: FSIO, root: str) -> list[str]:
    return sorted(
        d
        for d, files in fs.walk_files(root)
        if any(f.endswith(".parquet") for f in files)
    )


def _offline_gen(fs: FSIO, partition_dir: str) -> str:
    """`compact_path`'s generation: a digest of the names of the
    partition's files that no compaction wrote. A rerun after a crash
    derives the same generation (the crashed run added only
    ``compacted-*`` files), so it resumes that run instead of folding
    its partial output back in. The letter prefix keeps it apart from
    the numeric generations of streaming auto-compaction."""
    names = "\n".join(_data_files(fs, partition_dir, "compacted-"))
    return "o" + hashlib.md5(names.encode()).hexdigest()[:12]


def compact_path(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    fs: FSIO | None = None,
) -> list[CompactionStats]:
    """Compact every leaf partition directory under `root`. Each partition
    first finishes any ``_compact-<gen>.committed`` marker a crashed run
    left — folding that generation's output and its sources together
    would double the rows — then compacts as generation `_offline_gen`.
    Finishing a marker removes only the sources it lists, so rows
    appended to the partition after the crash stay."""
    fs = fs or LocalFS()
    stats = []
    for d in _leaf_parquet_dirs(fs, root):
        for f in fs.list_files(d):
            if f.startswith("_compact-") and f.endswith(".committed"):
                gen = f[len("_compact-") : -len(".committed")]
                _retire(fs, d, f"compacted-{gen}-", fs.join(d, f))
        gen = _offline_gen(fs, d)
        stats.append(compact_partition_atomic(spark, d, gen, target_file_bytes, fs))
    return stats
