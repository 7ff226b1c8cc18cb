"""Streaming exact-k weighted sample: the streaming twin of
`operators.sampling.q_sample_weighted_es` — a continuous Efraimidis-
Spirakis exponential race over everything streamed so far, maintained as
mergeable parquet state (the hll_stream design, applied to a sample
instead of a sketch).

Why this shape:

  * the ES arrival key is a PURE FUNCTION of (doc_id, weight)
    (`sampling.with_es_key` — the same expression as the batch query, so
    stream and batch select bit-identical winners over the same corpus);
  * min-k over pure keys is idempotent and mergeable exactly like
    max-merge over HLL registers: each micro-batch contributes its own
    k-row candidate partition (`batch_id=N`, overwritten on checkpoint
    replay), and the current sample is the global top-k over all
    candidate partitions — duplicates from any crash/replay window
    collapse in the dropDuplicates(doc_id) of the read;
  * state is O(k x batches) tiny files between compactions, folded
    every N batches into one k-row partition by the shared compaction
    protocol (`compaction.publish_then_retire`).

A per-batch candidate set is the batch's OWN top-k (TakeOrdered — heaps,
no shuffle of the batch beyond its scan): a doc outside its batch's
top-k can never be in the global top-k, so pruning to k per batch is
lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sampling import SAMPLE_ES_K, with_es_key
from .compaction import compact_batch_dirs, compaction_due, write_batch
from .fsio import FSIO, fs_for_path


class StreamingEsSample:
    """foreachBatch sink maintaining per-batch ES candidate partitions."""

    def __init__(
        self,
        cands_path: str,
        k: int = SAMPLE_ES_K,
        weight_col: str = "n_chars",
        compact_every: int = 16,
        fs: FSIO | None = None,
    ) -> None:
        self.cands_path = cands_path
        self.k = k
        self.weight_col = weight_col
        self.compact_every = compact_every
        #: fsio seam, resolved from the path on the first batch
        self.fs = fs

    def _batch_candidates(self, batch_df: DataFrame) -> DataFrame:
        return (
            with_es_key(
                batch_df.where(F.col(self.weight_col) > 0), self.weight_col
            )
            .orderBy(F.col("es_key_nano").asc(), F.col("doc_id").asc())
            .limit(self.k)
            .select("doc_id", self.weight_col, "es_key_nano")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self.fs = self.fs or fs_for_path(spark, self.cands_path)
        write_batch(self._batch_candidates(batch_df), self.cands_path, batch_id)
        if compaction_due(self.compact_every, batch_id):
            self._compact(spark, batch_id)

    def _top_k(self, cands: DataFrame) -> DataFrame:
        # duplicates (crash/replay windows, overlapping batches) are exact
        # row copies of a pure function — one survives, the race is fair
        return (
            cands.dropDuplicates(["doc_id"])
            .orderBy(F.col("es_key_nano").asc(), F.col("doc_id").asc())
            .limit(self.k)
        )

    def _compact(self, spark: SparkSession, batch_id: int) -> None:
        # pruning the union to the global top-k is lossless: a doc outside
        # it can never re-enter (keys are immutable)
        compact_batch_dirs(spark, self.fs, self.cands_path, batch_id, self._top_k)

    def sample(self, spark: SparkSession) -> DataFrame:
        """The current exact-k weighted sample over everything streamed."""
        return self._top_k(spark.read.parquet(self.cands_path))


def es_sample_sink(
    docs: DataFrame,
    cands_path: str,
    checkpoint: str,
    k: int = SAMPLE_ES_K,
    weight_col: str = "n_chars",
    compact_every: int = 16,
) -> StreamingQuery:
    """Attach the ES-sample sink to a stream of weighted rows."""
    sink = StreamingEsSample(cands_path, k, weight_col, compact_every)
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
