"""Streaming heavy-hitters: the streaming twin of
`operators.textstats.q_sketch_countmin_heavy_hitters` — each micro-batch
contributes (a) a tiny count-min cell table and (b) its own exact top
candidate keys, and the running "heaviest keys so far" answer estimates
the merged candidate set against the SUM-merged cells.

Why this shape (the hll_stream discipline, applied to a frequency
sketch):

  * the D x W cell table is MERGEABLE BY SUM — partial cell counts from
    any partitioning of the stream add up to the union's cells, the
    property that lets a 100 TB ingest maintain one tiny table per
    batch/day and fold them at read time;
  * writes are idempotent BY CONSTRUCTION: a batch's cells/candidates
    are pure functions of the batch's rows, and each batch overwrites
    its own `batch_id=N` directory, so checkpoint replay rewrites
    identical bytes; both directories are folded every N batches by the
    shared compaction protocol (`compaction.publish_then_retire`), which
    is safe for SUM, a merge that duplicates would inflate;
  * candidate tracking is the standard practical compromise
    (Space-Saving-flavored): the CELLS are exact mergeable sums, so any
    candidate's estimate is exact count-min semantics (never an
    undercount); the CANDIDATE SET is the union of per-batch exact
    top-CAND_M keys, so a key that is never near the top of ANY batch
    can be missed — the documented recall caveat every practical
    streaming heavy-hitter system (CMS + heap) carries. A key's
    reported estimate does NOT depend on when it entered the candidate
    set (estimates come from the cells, not the candidate counts).

Cell/hash definitions are IDENTICAL to the batch op (CMS_D x CMS_W,
portable hash, same per-row salts), so a candidate's streaming estimate
equals the batch op's estimate over the same union of rows — pinned in
tests/test_cms_stream.py.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.hashing import portable_hash
from ..operators.textstats import CMS_D, CMS_TOP, CMS_W
from .compaction import compact_batch_dirs, compaction_due, write_batch
from .fsio import FSIO, fs_for_path

#: per-batch exact top-M candidate keys kept (recall knob: larger M
#: catches keys that are heavy overall but diluted within single batches)
CAND_M = 4 * CMS_TOP


def _cell_keys(key_col: str) -> list[F.Column]:
    """The D cell ids a key hashes to — bit-identical to the batch op."""
    return [
        (
            F.lit(d * CMS_W)
            + portable_hash(F.concat(F.lit(f"cms{d}:"), F.col(key_col))) % CMS_W
        )
        for d in range(CMS_D)
    ]


def _sum_cnt(df: DataFrame, key: str) -> DataFrame:
    return df.groupBy(key).agg(F.sum("cnt").alias("cnt"))


class StreamingCountMin:
    """foreachBatch sink maintaining per-batch CMS cell + candidate
    partitions under two sibling directories."""

    def __init__(
        self,
        state_path: str,
        key_col: str = "token",
        compact_every: int = 16,
        fs: FSIO | None = None,
    ) -> None:
        self.cells_path = posixpath.join(state_path, "cells")
        self.cands_path = posixpath.join(state_path, "cands")
        self.key_col = key_col
        self.compact_every = compact_every
        #: fsio seam, resolved from the path on the first batch
        self.fs = fs

    # ---------------------------------------------------------- per batch

    def _batch_cells(self, batch_df: DataFrame) -> DataFrame:
        keyed = batch_df.select(F.col(self.key_col).cast("string").alias("k"))
        return (
            keyed.select(F.explode(F.array(*_cell_keys("k"))).alias("cell"))
            .groupBy("cell")
            .agg(F.count("*").alias("cnt"))
        )

    def _batch_cands(self, batch_df: DataFrame) -> DataFrame:
        keyed = batch_df.select(F.col(self.key_col).cast("string").alias("k"))
        return (
            keyed.groupBy("k")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("k").asc())
            .limit(CAND_M)
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self.fs = self.fs or fs_for_path(spark, self.cells_path)
        write_batch(self._batch_cells(batch_df), self.cells_path, batch_id)
        write_batch(self._batch_cands(batch_df), self.cands_path, batch_id)
        if compaction_due(self.compact_every, batch_id):
            self._compact(spark, batch_id)

    def _compact(self, spark: SparkSession, batch_id: int) -> None:
        """Sum-merge both directories (cells: exact; candidates: the exact
        union of the kept keys, NOT re-pruned, so compaction never loses a
        key that some batch promoted)."""
        for path, key in ((self.cells_path, "cell"), (self.cands_path, "k")):
            compact_batch_dirs(
                spark, self.fs, path, batch_id, lambda df, key=key: _sum_cnt(df, key)
            )

    # ---------------------------------------------------------- read side

    def cells(self, spark: SparkSession) -> DataFrame:
        """The SUM-merged D x W cell table over everything streamed."""
        return _sum_cnt(spark.read.parquet(self.cells_path), "cell")

    def heavy_hitters(self, spark: SparkSession, k: int = CMS_TOP) -> DataFrame:
        """Top-k candidate keys by their count-min estimate against the
        merged cells (min over the D hashed cells — never an
        undercount), with the candidate lower bound attached."""
        cands = (
            spark.read.parquet(self.cands_path)
            .groupBy("k")
            .agg(F.sum("cnt").alias("seen_cnt"))
        )
        cm = self.cells(spark).agg(
            F.map_from_entries(F.collect_list(F.struct("cell", "cnt"))).alias("cm")
        )
        est = F.least(
            *[F.element_at("cm", c) for c in _cell_keys("k")]
        )
        return (
            cands.crossJoin(F.broadcast(cm))
            .select(
                F.col("k").alias(self.key_col),
                "seen_cnt",
                est.alias("cms_estimate"),
            )
            .orderBy(F.col("cms_estimate").desc(), F.col(self.key_col).asc())
            .limit(k)
        )


def heavy_hitters_sink(
    rows: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str = "token",
    compact_every: int = 16,
) -> StreamingQuery:
    """Attach the count-min heavy-hitters sink to a stream of keyed rows."""
    sink = StreamingCountMin(state_path, key_col, compact_every)
    return (
        rows.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
