"""Streaming data-quality monitor: the streaming twin of the r11 batch
DQ family (`operators/dataquality.py`) — per-micro-batch completeness /
uniqueness / domain metrics appended to a mergeable metrics ledger, the
Deequ-metrics-repository shape run continuously next to ingestion.

Discipline (the hll/cms sink contract):

  * each batch's metrics row is a PURE FUNCTION of the batch's rows and
    overwrites its own ``batch_id=N`` partition, so a checkpoint replay
    rewrites identical bytes — no double counting, ever;
  * every metric is mergeable: counts SUM, min/max MIN/MAX, so the
    read-side summary folds any subset of batch partitions into exact
    totals (the property that lets a 100 TB/day ingest keep one tiny
    row per batch and aggregate at read time);
  * violations never stop the stream — the monitor is an observer; the
    gate that REJECTS rows is `streaming/curation_stream.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .compaction import write_batch


class StreamingDQMonitor:
    """foreachBatch sink writing one metrics row per micro-batch.

    Checks (over the ad-event stream shape, column names injectable):
    row count, null ids, in-batch duplicate ids, null/non-positive
    timestamps, empty date strings, and the batch's min/max timestamp
    (the freshness window)."""

    def __init__(
        self,
        metrics_path: str,
        id_col: str = "uuid",
        ts_col: str = "timestamp",
        date_col: str = "date",
    ) -> None:
        self.metrics_path = metrics_path
        self.id_col = id_col
        self.ts_col = ts_col
        self.date_col = date_col

    def _batch_metrics(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        i, t, d = self.id_col, self.ts_col, self.date_col
        return batch_df.agg(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            F.count("*").alias("n_rows"),
            F.sum(F.col(i).isNull().cast("long")).alias("n_null_id"),
            (F.count(i) - F.count_distinct(F.col(i))).alias("n_dup_id"),
            F.sum(
                (F.col(t).isNull() | (F.col(t) <= 0)).cast("long")
            ).alias("n_bad_ts"),
            F.sum(
                (F.col(d).isNull() | (F.length(d) == 0)).cast("long")
            ).alias("n_empty_date"),
            F.min(t).alias("min_ts"),
            F.max(t).alias("max_ts"),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        write_batch(self._batch_metrics(batch_df, batch_id), self.metrics_path, batch_id)

    # ---------------------------------------------------------- read side

    def metrics(self, spark: SparkSession) -> DataFrame:
        """The full per-batch metrics time series (one row per batch)."""
        return spark.read.parquet(self.metrics_path).drop("batch_id")

    def summary(self, spark: SparkSession) -> DataFrame:
        """Exact totals over everything streamed — the SUM/MIN/MAX merge
        of the per-batch rows (dup counts are per-batch-scoped: the
        CROSS-batch dedup question belongs to dedup_stream's band index,
        not a metrics fold)."""
        m = spark.read.parquet(self.metrics_path)
        return m.agg(
            F.count("*").alias("n_batches"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_null_id").alias("n_null_id"),
            F.sum("n_dup_id").alias("n_dup_id"),
            F.sum("n_bad_ts").alias("n_bad_ts"),
            F.sum("n_empty_date").alias("n_empty_date"),
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
        )

    def alerts(self, spark: SparkSession) -> DataFrame:
        """Batches with any violation — the page-someone view."""
        m = spark.read.parquet(self.metrics_path)
        bad = (
            (F.col("n_null_id") > 0)
            | (F.col("n_dup_id") > 0)
            | (F.col("n_bad_ts") > 0)
            | (F.col("n_empty_date") > 0)
        )
        return m.where(bad).orderBy("batch_id")


def dq_monitor_sink(
    rows: DataFrame,
    metrics_path: str,
    checkpoint: str,
    **cols: str,
) -> StreamingQuery:
    """Attach the DQ monitor to a stream of parsed ad events."""
    sink = StreamingDQMonitor(metrics_path, **cols)
    return (
        rows.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
