"""Pin: the vectorized Arrow pHash kernel is bit-equal to the pure-JVM
relational (higher-order-function) reference form it replaced for speed
(r14 batch 9 — the PQ-encode precedent: HOF folds are CodegenFallback).

`test_phash_confusion_r7c.py` independently checks both against a
hand-rolled pure-Python integer DCT; this test pins the kernel <-> JVM
equivalence over the WHOLE fixture, plus the null/empty-text edge."""

from __future__ import annotations

from pyspark.sql import functions as F

from emr_flink_example_spark.operators.multimodal import (
    _phash_kernel,
    q_multimodal_phash,
)

from conftest import SF_DIR
from reference_folds import phash_hof_df


def _rows(df):
    return {r.doc_id: (r.phash, r.n_ones) for r in df.collect()}


def test_arrow_phash_matches_relational(spark):
    got = _rows(q_multimodal_phash(spark, SF_DIR))
    ref = _rows(phash_hof_df(spark, SF_DIR))
    assert got == ref
    assert len(got) > 0


def test_arrow_phash_empty_and_null_text(spark):
    """io.load coalesces NULL text to '' before the kernel; both engines
    must hash the empty string identically (the md5 of ':px0'/':px1'
    alone), and an empty batch must not break the Arrow iterator."""
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "doc_id bigint, text string"
    ).select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    got = {
        r.doc_id: (r.phash, r.n_ones)
        for r in docs.mapInPandas(
            _phash_kernel(), "doc_id bigint, phash bigint, n_ones bigint"
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    # NULL and '' coalesce to the same pixels -> identical hash
    assert got[1] == got[2]
    assert got[1] != got[3]
    for ph, ones in got.values():
        assert 0 < ones < 63
        assert ph > 0
