"""Streaming distinct-count sketch: the streaming twin of
`operators.textstats.q_sketch_hll_distinct` / `q_sketch_hll_merge` —
each micro-batch contributes a tiny HyperLogLog register table, and the
running "distinct keys seen so far" answer is the max-merge of every
batch's registers.

State is explicit parquet (bucket, m_j) partitions, not a state store —
readable by any consumer, and exactly what a 100 TB batch rollup would
materialize per day anyway. A batch's registers are a pure function of
its rows, written to its own `batch_id=N` directory (a checkpoint replay
rewrites identical bytes), and folded every N batches by the shared
compaction protocol (`compaction.publish_then_retire`). The merged
register table is 64 rows regardless of stream length.

Estimator identical to the batch op: trailing-zero rho over the portable
hash, exact-integer harmonic sum, linear-counting branch below 2.5m.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.hashing import portable_hash
from ..operators.textstats import HLL_ALPHA, HLL_M, _HLL_RHO_CAP, _hll_registers
from .compaction import compact_batch_dirs, compaction_due, write_batch
from .fsio import FSIO, fs_for_path


def _max_merge(registers: DataFrame) -> DataFrame:
    return registers.groupBy("bucket").agg(F.max("m_j").alias("m_j"))


class StreamingHllSketch:
    """foreachBatch sink maintaining per-batch HLL register partitions."""

    def __init__(
        self,
        registers_path: str,
        key_col: str = "user_id",
        compact_every: int = 16,
        fs: FSIO | None = None,
    ) -> None:
        self.registers_path = registers_path
        self.key_col = key_col
        self.compact_every = compact_every
        #: fsio seam, resolved from the path on the first batch
        self.fs = fs

    def _batch_registers(self, batch_df: DataFrame) -> DataFrame:
        h = portable_hash(F.col(self.key_col).cast("string"))
        return _hll_registers(batch_df.select(h.alias("h")))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self.fs = self.fs or fs_for_path(spark, self.registers_path)
        write_batch(self._batch_registers(batch_df), self.registers_path, batch_id)
        if compaction_due(self.compact_every, batch_id):
            self._compact(spark, batch_id)

    def _compact(self, spark: SparkSession, batch_id: int) -> None:
        compact_batch_dirs(spark, self.fs, self.registers_path, batch_id, _max_merge)

    def registers(self, spark: SparkSession) -> DataFrame:
        """The merged (bucket, m_j) register table — 64 rows max."""
        return _max_merge(spark.read.parquet(self.registers_path))

    def estimate(self, spark: SparkSession) -> float:
        """Distinct-key estimate over everything streamed so far, by the
        exact estimator of the batch ops (the driver holds <= m rows)."""
        regs = {r.bucket: r.m_j for r in self.registers(spark).collect()}
        s = sum(1 << (_HLL_RHO_CAP - m) for m in regs.values())
        s += (HLL_M - len(regs)) * (1 << _HLL_RHO_CAP)
        v0 = HLL_M - len(regs)
        raw = HLL_ALPHA * HLL_M * HLL_M * float(1 << _HLL_RHO_CAP) / s
        if raw <= 2.5 * HLL_M and v0 > 0:
            return round(float(HLL_M) * math.log(float(HLL_M) / v0), 2)
        return round(raw, 2)


def distinct_sketch_sink(
    stream_df: DataFrame,
    registers_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    compact_every: int = 16,
) -> StreamingQuery:
    """Attach the register-maintaining sink to a stream of keyed rows."""
    sink = StreamingHllSketch(registers_path, key_col, compact_every)
    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
