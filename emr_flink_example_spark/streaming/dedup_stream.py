"""Streaming incremental near-dup dedup: the streaming twin of
`operators.dedup.q_dedup_incremental_minhash` — each micro-batch of
documents is MinHash-probed against the band-bucket index of everything
accepted so far; near-dups are dropped, survivors land in the output
corpus AND extend the index.

This composes the engine's streaming discipline (foreachBatch, restart
safety) with the LLM-dedup surface: a continuous crawl where the corpus
must never re-pair with itself. State is an explicit parquet band index
(doc_id, band, bucket, sig) rather than a state store:

  * it is exactly the structure the batch operator would pre-materialize
    at 100 TB (bucketed by `bucket`, so a probe is a co-located join);
  * it is readable by ANY consumer (the batch queries, audits), not only
    the stream's own state backend;
  * writes are idempotent BY CONSTRUCTION: each micro-batch overwrites its
    own `batch_id=N` partition directory in both the corpus and the index
    (a checkpoint replay simply rewrites the same directories), and the
    probe excludes the current batch's own index rows so a replay never
    self-pairs a document with its first attempt;
  * every N batches the index partitions are folded by the shared
    compaction protocol (`compaction.publish_then_retire`); duplicate
    index rows in its crash window only repeat candidates the probe's
    distinct() removes.

In-batch duplicates are intentionally out of scope here — run the batch
LSH operator inside the micro-batch first if needed; cross-batch is the
part plain Spark cannot express without this component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    BAND_ROWS,
    CC_EST_JACCARD,
    N_PERMS,
    _band_buckets,
    minhash_signatures_for,
)
from .compaction import compact_batch_dirs, compaction_due, write_batch
from .fsio import FSIO, fs_for_path


class _IndexedDedupStreamFilter:
    """Shared machinery for parquet-index-backed streaming dedup sinks:
    index lifecycle (first-batch detection, fail-on-corrupt, every-N-batches
    compaction) and the idempotent per-batch overwrite protocol. Subclasses
    define the feature rows written to the index (`_features`) and the
    probe that turns features x index into drop ids (`_dup_ids`)."""

    #: id column joined between batch rows, feature rows, and drop lists
    ID_COL = "doc_id"

    def __init__(
        self,
        out_path: str,
        index_path: str,
        compact_every: int = 16,
        fs: FSIO | None = None,
    ) -> None:
        self.out_path = out_path
        self.index_path = index_path
        #: fsio seam, resolved from the path on the first batch
        self.fs = fs
        #: every N batches, merge the accumulated one-dir-per-batch index
        #: partitions into one — unbounded small-file accretion otherwise
        #: (a 100 TB stream is millions of micro-batches). 0 disables.
        self.compact_every = compact_every

    def _features(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _dup_ids(self, feats: DataFrame, index: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _feature_params(self) -> str:
        """Stable textual form of every parameter the persisted feature
        rows depend on — hashed into the index fingerprint. Subclasses
        MUST include anything whose change silently invalidates old
        feature rows (hash coefficients, banding geometry, thresholds
        baked into stored values)."""
        raise NotImplementedError

    #: sidecar file stamping the index with its feature-geometry hash.
    #: Spark's parquet reader skips underscore-prefixed files, so the
    #: sidecar rides inside the index directory itself.
    FINGERPRINT_FILE = "_feature_fingerprint"

    def _feature_fingerprint(self) -> str:
        import hashlib

        return hashlib.md5(self._feature_params().encode()).hexdigest()

    def _check_or_stamp_fingerprint(self, index_exists: bool) -> None:
        """Fail loudly when an existing index was built under a different
        feature geometry (ADVICE r13: the r13 PERMS fix changed every
        MinHash signature — an index written under the old coefficients
        would silently never collide with new signatures, waving
        near-duplicates through). A missing sidecar on a non-empty index
        means unknown provenance: same failure, same remedy (rebuild)."""
        fp_path = self.fs.join(self.index_path, self.FINGERPRINT_FILE)
        fp = self._feature_fingerprint()
        if index_exists:
            stamped = (
                self.fs.read_text(fp_path).strip()
                if self.fs.exists(fp_path)
                else None
            )
            if stamped != fp:
                raise RuntimeError(
                    f"dedup index at {self.index_path} was built under a "
                    f"different feature geometry (stamped={stamped!r}, "
                    f"current={fp!r}); old feature rows cannot collide with "
                    "new signatures, so near-duplicates would pass "
                    "undetected. Rebuild the index (delete the directory) "
                    "or run with the original parameters."
                )
        elif not self.fs.exists(fp_path):
            self.fs.makedirs(self.index_path)
            self.fs.write_text_atomic(fp_path, fp + "\n")

    def _existing_index(self, spark) -> DataFrame | None:
        """The accumulated band index, or None ONLY when none exists yet.

        Path-absent / no-data-files means first batch — proceed unfiltered.
        Any other read failure (corrupt footer, transient IO) re-raises so
        the micro-batch FAILS and the checkpoint retries: silently treating
        a broken index as empty would admit near-dups — the one failure
        mode this component exists to prevent. (The fsio seam answers the
        listing on local disk or via the Hadoop FileSystem API alike.)"""
        self.fs = self.fs or fs_for_path(spark, self.index_path)
        if not self.fs.is_dir(self.index_path):
            return None
        has_data = any(
            f.endswith(".parquet")
            for _, files in self.fs.walk_files(self.index_path)
            for f in files
        )
        if not has_data:
            return None
        return spark.read.parquet(self.index_path)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The batch runs THREE actions (survivor write, index write, and
        # the probe feeding both); without pinning, each action re-runs
        # the feature lineage (tokenize -> shingle -> minhash for the
        # text filter) and the probe join from the source files — the
        # dominant per-batch cost in the r8 profile. persist() bounds the
        # recompute: features and drop-ids are built once per batch and
        # released before the next one. Micro-batch frames are small by
        # definition, so the pinned footprint is one batch's features.
        feats = self._features(batch_df).persist()
        pinned = [feats]
        try:
            index = self._existing_index(spark)
            self._check_or_stamp_fingerprint(index is not None)
            if index is not None:
                # a replayed batch must not probe its own first attempt's rows
                dups = self._dup_ids(
                    feats, index.where(F.col("batch_id") != batch_id)
                ).persist()
                pinned.append(dups)
                survivors = batch_df.join(dups, self.ID_COL, "left_anti")
                surviving_feats = feats.join(dups, self.ID_COL, "left_anti")
            else:
                survivors, surviving_feats = batch_df, feats
            write_batch(survivors, self.out_path, batch_id)
            write_batch(surviving_feats, self.index_path, batch_id)
        finally:
            for df in pinned:
                df.unpersist()
        if compaction_due(self.compact_every, batch_id):
            self._compact(spark, batch_id)

    def _compact(self, spark, batch_id: int) -> None:
        # union: the folded rows keep the oldest directory's batch_id, which
        # the replay exclusion (current batch only) never targets
        compact_batch_dirs(spark, self.fs, self.index_path, batch_id, lambda df: df)


class NearDupStreamFilter(_IndexedDedupStreamFilter):
    """Text near-dup filter: drop micro-batch docs that are MinHash
    near-dups of any previously accepted doc; the index holds band-bucket
    rows (doc_id, band, bucket, sig)."""

    ID_COL = "doc_id"

    def __init__(
        self,
        out_path: str,
        index_path: str,
        est_threshold: float = CC_EST_JACCARD,
        compact_every: int = 16,
    ) -> None:
        super().__init__(out_path, index_path, compact_every)
        self.est_threshold = est_threshold

    def _feature_params(self) -> str:
        # everything the STORED rows depend on: the universal-hash
        # coefficients (the r13 fix changed these), signature length, and
        # banding geometry. est_threshold is probe-time only.
        from ..operators.dedup import N_PERMS, PERMS

        return repr(("minhash-band-index", N_PERMS, BAND_ROWS, PERMS))

    def _features(self, batch_df: DataFrame) -> DataFrame:
        return _band_buckets(minhash_signatures_for(batch_df))

    def _dup_ids(self, feats: DataFrame, index: DataFrame) -> DataFrame:
        # probe: same exact band-slice verify + est threshold as the batch
        # operator — xxhash64 bucket collisions only add candidates, the
        # verify removes them (hash-independent)
        band_eq = F.expr(
            f"slice(sig, band * {BAND_ROWS} + 1, {BAND_ROWS})"
            f" = slice(old_sig, band * {BAND_ROWS} + 1, {BAND_ROWS})"
        )
        est = F.expr(
            "size(filter(zip_with(sig, old_sig, (p, q) -> p = q), z -> z))"
        ) / N_PERMS
        return (
            feats.join(
                index.select("band", "bucket", F.col("sig").alias("old_sig")),
                ["band", "bucket"],
            )
            .where(band_eq & (est >= self.est_threshold))
            .select("doc_id")
            .distinct()
        )


class EmbeddingNearDupStreamFilter(_IndexedDedupStreamFilter):
    """Embedding near-dup filter: drop micro-batch vectors whose cosine
    against any previously accepted vector in the same LSH bucket meets the
    threshold — the streaming twin of `dedup.q_dedup_embedding_cosine`,
    with the batch operator's exact cosine fold so stream and batch agree.

    The index holds (vec_id, bucket, e, nrm); candidate probing is a
    bucket equi-join (at 100 TB the index is laid out partitioned by
    `bucket`, making the probe partition pruning). All-zero vectors pass
    through unfiltered and unindexed (cosine undefined — same exclusion as
    the batch family)."""

    ID_COL = "vec_id"

    def __init__(
        self,
        out_path: str,
        index_path: str,
        cosine_threshold: float | None = None,
        compact_every: int = 16,
    ) -> None:
        super().__init__(out_path, index_path, compact_every)
        from ..operators.dedup import COSINE_DUP_THRESHOLD

        self.cosine_threshold = (
            COSINE_DUP_THRESHOLD if cosine_threshold is None else cosine_threshold
        )

    def _feature_params(self) -> str:
        # the stored bucket ids depend on the hyperplane family; vectors
        # and norms are parameter-free. cosine_threshold is probe-time only.
        from ..operators.similarity import N_PLANES, PLANES

        return repr(("embedding-lsh-index", N_PLANES, PLANES))

    def _features(self, batch_df: DataFrame) -> DataFrame:
        from ..operators.similarity import _norm, _with_bucket

        return (
            _with_bucket(
                batch_df.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
            )
            .withColumn("nrm", _norm("e"))
            .where(F.expr("exists(e, x -> x <> 0.0d)"))
            .select("vec_id", "bucket", "e", "nrm")
        )

    def _dup_ids(self, feats: DataFrame, index: DataFrame) -> DataFrame:
        cos = F.expr(
            "aggregate(zip_with(e, old_e, (p, q) -> p * q),"
            " cast(0 as double), (acc, x) -> acc + x)"
        ) / (F.col("nrm") * F.col("old_nrm"))
        return (
            feats.join(
                index.select(
                    "bucket", F.col("e").alias("old_e"), F.col("nrm").alias("old_nrm")
                ),
                "bucket",
            )
            .where(cos >= self.cosine_threshold)
            .select("vec_id")
            .distinct()
        )


def near_dup_filter_sink(
    docs: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    est_threshold: float = CC_EST_JACCARD,
    trigger_seconds: int = 1,
) -> StreamingQuery:
    """Start the streaming near-dup filter over a (doc_id, text) stream."""
    sink = NearDupStreamFilter(out_path, index_path, est_threshold)
    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def embedding_near_dup_filter_sink(
    vectors: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    cosine_threshold: float | None = None,
    trigger_seconds: int = 1,
) -> StreamingQuery:
    """Start the streaming embedding near-dup filter over a
    (vec_id, embedding) stream."""
    sink = EmbeddingNearDupStreamFilter(out_path, index_path, cosine_threshold)
    return (
        vectors.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
