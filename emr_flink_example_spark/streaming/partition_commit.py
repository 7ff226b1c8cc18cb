"""Watermark-gated partition commit (≙ Flink's partition-commit machinery).

Reference semantics (Kafka2S3Hive.scala:100-104):
  * partition.time-extractor.timestamp-pattern = '$logday $h:$m:00'
  * sink.partition-commit.trigger = 'partition-time'
  * sink.partition-commit.delay = '1 min'
  * sink.partition-commit.policy.kind = 'metastore'
i.e. a (logday, h, m) partition becomes visible in the catalog once the
event-time watermark passes partition-time + 1 minute.

Spark's file sink commits files to its own _spark_metadata log and never
talks to a catalog, so this is the one genuinely custom execution component
in the engine (SURVEY.md §7 hard part 2): a foreachBatch sink that

  1. appends the micro-batch to the partitioned parquet layout,
  2. tracks pending partitions in a JSON ledger next to the data,
  3. "commits" every pending partition whose extracted timestamp + delay
     <= the stream's event-time watermark — via `ALTER TABLE ... ADD
     PARTITION` when the table exists in the session catalog, and always
     into the ledger (so tests and metastore-less deployments can assert
     visibility).

The watermark is taken from the micro-batch's max event time minus the
configured out-of-orderness bound — the same quantity Spark reports as
`lastProgress.eventTime.watermark`, but available synchronously inside
foreachBatch (the reported watermark lags one batch behind).

Scale note: the ledger write is O(partitions touched), driver-side, once per
micro-batch — negligible against the executor-side parquet write; at 100 TB
the same pattern holds because partition counts (day*hour*minute) are
bounded by time, not data volume.
"""

from __future__ import annotations

import json
import posixpath
import time
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fsio import FSIO, fs_for_path


class PartitionCommitter:
    def __init__(
        self,
        table: str,
        path: str,
        partition_cols: tuple[str, ...] = ("logday", "h", "m"),
        commit_delay_seconds: int = 60,
        watermark_lag_seconds: int = 5,
        timestamp_pattern: str | None = None,
        auto_compact_every: int = 0,
        compact_target_bytes: int | None = None,
        stage_ms: dict | None = None,
        fs: FSIO | None = None,
    ) -> None:
        """`timestamp_pattern` ≙ partition.time-extractor.timestamp-pattern
        (Kafka2S3Hive.scala:101): a strftime-style '%Y-%m-%d %H:%M:%S' string
        with `$col` placeholders naming partition columns, e.g. the default
        '$logday $h:$m:00'. Both the per-partition commit time and the
        batch-watermark extraction derive from this one pattern, so any
        partition_cols layout works as long as the pattern mentions them."""
        self.table = table
        self.path = path
        self.partition_cols = partition_cols
        self.commit_delay = timedelta(seconds=commit_delay_seconds)
        self.watermark_lag = timedelta(seconds=watermark_lag_seconds)
        self.timestamp_pattern = timestamp_pattern or self._default_pattern(partition_cols)
        #: filesystem seam (fsio.py), resolved from the path on the first
        #: batch (HadoopFS needs the SparkSession's JVM gateway). Tests may
        #: inject either implementation.
        self.fs = fs
        self.ledger_path = posixpath.join(path, "_partition_commits.json")
        #: every N batches, coalesce the small per-batch files of COMMITTED
        #: partitions (≙ the reference's declared-but-inert auto-compaction,
        #: Kafka2S3Hive.scala:87,107); 0 disables. Partitions the CURRENT
        #: batch touched are excluded so a checkpoint replay of this batch
        #: can never re-append rows a compaction already folded in.
        self.auto_compact_every = auto_compact_every
        self.compact_target_bytes = compact_target_bytes
        #: per-stage wall-clock accumulator (write/stats/commit/compact) —
        #: streambench reads it for the hive pipeline's cost decomposition
        self.stage_ms = stage_ms if stage_ms is not None else {}

    @staticmethod
    def _default_pattern(cols: tuple[str, ...]) -> str:
        """(day, hour, minute)-shaped layouts get the reference pattern with
        the caller's column names; anything else must pass a pattern."""
        if len(cols) == 3:
            d, h, m = cols
            return f"${d} ${h}:${m}:00"
        raise ValueError(
            f"no default timestamp pattern for partition_cols {cols!r}; "
            "pass timestamp_pattern='... $col ...'"
        )

    # -- ledger ------------------------------------------------------------
    def _load_ledger(self) -> dict:
        if self.fs.exists(self.ledger_path):
            return json.loads(self.fs.read_text(self.ledger_path))
        return {"pending": [], "committed": [], "watermark": None}

    def _save_ledger(self, ledger: dict) -> None:
        self.fs.write_text_atomic(
            self.ledger_path, json.dumps(ledger, indent=1, sort_keys=True)
        )

    # -- partition-time extraction ----------------------------------------
    def _pattern_segments(self) -> list[tuple[bool, str]]:
        """Pattern split into (is_column, text) segments, longest col first
        so `$logday` never half-matches a shorter name."""
        segs: list[tuple[bool, str]] = []
        rest = self.timestamp_pattern
        cols = sorted(self.partition_cols, key=len, reverse=True)
        while rest:
            hit = min(
                ((rest.index(f"${c}"), c) for c in cols if f"${c}" in rest),
                key=lambda t: (t[0], -len(t[1])),  # earliest, then longest name
                default=None,
            )
            if hit is None:
                segs.append((False, rest))
                break
            idx, col = hit
            if idx:
                segs.append((False, rest[:idx]))
            segs.append((True, col))
            rest = rest[idx + len(col) + 1 :]
        return segs

    def _partition_time(self, part: dict) -> datetime:
        """Substitute the partition's values into the pattern and parse
        (≙ the reference's '$logday $h:$m:00', Kafka2S3Hive.scala:101)."""
        rendered = "".join(
            part[text] if is_col else text for is_col, text in self._pattern_segments()
        )
        return datetime.strptime(rendered, "%Y-%m-%d %H:%M:%S")

    def _partition_ts_col(self) -> Column:
        """The same pattern as a Catalyst expression over the partition
        columns — used for the batch max-event-time watermark."""
        pieces = [
            F.col(text) if is_col else F.lit(text)
            for is_col, text in self._pattern_segments()
        ]
        return F.to_timestamp(F.concat(*pieces))

    #: partitions per ALTER statement — Hive DDL takes many PARTITION
    #: clauses in one ADD, so a commit wave is O(ceil(n/chunk)) catalog
    #: round-trips instead of O(n) (at minute granularity a backfill batch
    #: can touch thousands of partitions; one statement each was the
    #: dominant cost of the whole hive pipeline in streambench).
    ALTER_CHUNK = 100

    def _partition_clause(self, part: dict) -> str:
        spec = ", ".join(f"{c}='{part[c]}'" for c in self.partition_cols)
        loc = posixpath.join(
            self.path, *[f"{c}={part[c]}" for c in self.partition_cols]
        )
        return f"PARTITION ({spec}) LOCATION '{loc}'"

    def _add_partitions_sql(self, parts: list[dict]) -> list[str]:
        """Chunked multi-partition ALTER statements covering `parts`."""
        return [
            f"ALTER TABLE {self.table} ADD IF NOT EXISTS "
            + " ".join(self._partition_clause(p) for p in parts[i : i + self.ALTER_CHUNK])
            for i in range(0, len(parts), self.ALTER_CHUNK)
        ]

    def _tick(self, stage: str, t0: float) -> float:
        now = time.time()
        self.stage_ms[stage] = self.stage_ms.get(stage, 0.0) + (now - t0) * 1000.0
        return now

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Idempotent staged append: the micro-batch writes to a dot-staging
        dir, then each partition's files publish via deterministic
        ``batch-<id>-<i>.parquet`` renames (os.replace), so a checkpoint
        replay of the same batch OVERWRITES its own files instead of
        appending duplicates — the foreachBatch hive path is exactly-once
        end to end (the text/parquet sinks get this from the file-sink
        manifest; this sink owns its layout, so it owns the idempotency).
        On an object store the rename step becomes a manifest swap.

        Repartition by the hive partition columns so each touched
        partition is written by exactly ONE task -> one parquet file
        per partition per micro-batch, instead of (tasks x partitions)
        small files (the reference governs this with its rolling
        policy; STREAMBENCH r7 showed the hive pipeline bottlenecked
        on file count). Skew is bounded by the partition grain itself
        (minute-level for the reference pipeline); if a single
        partition's rows outgrow one task, add a salt column here and
        accept salt-many files for that partition.

        All driver-side file steps go through the ``fsio.FSIO`` seam, so
        the identical staged-publish protocol runs on local disk or any
        Hadoop FileSystem (HDFS/S3A) — see the fsio module docstring for
        the non-atomic-rename recovery argument."""
        fs = self.fs
        tmp = fs.join(self.path, f".batch-{batch_id}")
        t0 = time.time()
        (
            batch_df.repartition(*self.partition_cols)
            .write.mode("overwrite")
            .partitionBy(*self.partition_cols)
            .parquet(tmp)
        )
        t0 = self._tick("write_spark", t0)
        prefix = f"batch-{batch_id}-"
        for dirpath, filenames in fs.walk_files(tmp):
            parquets = [
                f
                for f in filenames
                if f.endswith(".parquet") and not f.startswith(".")
            ]
            if not parquets:
                continue
            dest = fs.join(self.path, fs.relpath(dirpath, tmp))
            fs.makedirs(dest)
            published = set()
            for i, fname in enumerate(parquets):
                name = f"{prefix}{i:05d}.parquet"
                fs.rename_overwrite(fs.join(dirpath, fname), fs.join(dest, name))
                published.add(name)
            for f in fs.list_files(dest):
                # stale same-batch files from a crashed prior attempt
                if f.startswith(prefix) and f.endswith(".parquet") and f not in published:
                    fs.remove(fs.join(dest, f))
        fs.rmtree(tmp)
        self._tick("publish_renames", t0)

    def _compact_committed(
        self, spark, batch_id: int, ledger: dict, exclude: set
    ) -> None:
        """Coalesce the per-batch small files of every COMMITTED partition
        not touched by the current batch (`compact_partition_atomic` is
        crash-safe and replay-idempotent with gen = batch_id)."""
        from .compaction import DEFAULT_TARGET_FILE_BYTES, compact_partition_atomic

        target = self.compact_target_bytes or DEFAULT_TARGET_FILE_BYTES
        for part in ledger["committed"]:
            key = tuple(sorted(part.items()))
            if key in exclude:
                continue
            d = self.fs.join(
                self.path, *[f"{c}={part[c]}" for c in self.partition_cols]
            )
            if self.fs.is_dir(d):
                compact_partition_atomic(spark, d, batch_id, target, fs=self.fs)

    def _batch_stats_exprs(self):
        """Both per-batch facts as aggregate expressions: the touched-
        partition set (collect_set over the partition struct — bounded by
        day*hour*minute, not rows) and the max event time for the
        watermark."""
        return [
            F.collect_set(F.struct(*self.partition_cols)).alias("parts"),
            F.max(self._partition_ts_col()).alias("max_ts"),
        ]

    # -- foreachBatch entry point ------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        spark = batch_df.sparkSession
        self.fs = self.fs or fs_for_path(spark, self.path)
        # The batch stats ride the write job via observe() — zero extra
        # scans per micro-batch. This is safe here (unlike the curation
        # sink, test_observe_metrics_spark_behavior.py) because the write
        # is one clean action over the observed frame with no persisted
        # derived frames racing the metric delivery; if delivery does
        # drop the row, fall back to one explicit scan.
        obs = Observation()
        observed = batch_df.observe(obs, *self._batch_stats_exprs())
        self._write_batch(observed, batch_id)
        t0 = time.time()
        try:
            stats = obs.get
        except Exception:
            stats = None
        if not stats or "parts" not in stats:
            stats = batch_df.agg(*self._batch_stats_exprs()).collect()[0].asDict()
        parts = [p.asDict() for p in (stats["parts"] or [])]
        max_ts = stats["max_ts"]
        t0 = self._tick("stats", t0)

        ledger = self._load_ledger()
        pending = {tuple(sorted(p.items())) for p in ledger["pending"]}
        committed = {tuple(sorted(p.items())) for p in ledger["committed"]}
        pending |= {tuple(sorted(p.items())) for p in parts} - committed

        if max_ts is not None:
            wm = max_ts - self.watermark_lag
            prev = ledger.get("watermark")
            if prev:
                wm = max(wm, datetime.strptime(prev, "%Y-%m-%d %H:%M:%S"))
            ledger["watermark"] = wm.strftime("%Y-%m-%d %H:%M:%S")
            table_exists = spark.catalog.tableExists(self.table)
            due = [
                key
                for key in sorted(pending)
                if self._partition_time(dict(key)) + self.commit_delay <= wm
            ]
            if due and table_exists:
                for sql in self._add_partitions_sql([dict(k) for k in due]):
                    spark.sql(sql)
            committed.update(due)
            pending.difference_update(due)

        ledger["pending"] = [dict(k) for k in sorted(pending)]
        ledger["committed"] = [dict(k) for k in sorted(committed)]
        self._save_ledger(ledger)
        t0 = self._tick("commit", t0)

        if (
            self.auto_compact_every
            and batch_id > 0
            and batch_id % self.auto_compact_every == 0
        ):
            current = {tuple(sorted(p.items())) for p in parts}
            self._compact_committed(spark, batch_id, ledger, exclude=current)
            self._tick("compact", t0)
