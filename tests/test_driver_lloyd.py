"""The Lloyd trainer runs its rounds on the driver over one collected
training sample.

`subspace_kmeans_fit` collects the <= TRAIN_SAMPLE_CAP sample once through
Arrow and runs the seed and every round in numpy, so a cold codebook fit
costs the input's schema read and that one collect, not a seed job plus a
kernel pass, a shuffle aggregate and a collect per round. These tests pin
the job count, and pin the trained values to the Spark-side trainer it
replaced (`reference_folds.spark_subspace_kmeans_fit`) and its rounding to
Spark's `round(x, 6)`.
"""

from __future__ import annotations

import math
import shutil

import duckdb
import pytest

from pyspark.sql import functions as F

from emr_flink_example_spark.io import load
from emr_flink_example_spark.operators import similarity as S

from conftest import SF_DIR
import reference_folds as R

#: Spark jobs of a cold coarse fit: the schema read of `load` and the one
#: sample collect (a seed collect and 4 rounds of 2-3 jobs each before)
COLD_FIT_JOBS = 2

#: round-half ties, values near the 6-dp quantum, signed zero, values
#: far below and above it (2**52 - 0.5 the largest that `_round6`
#: quantizes), and the non-finite doubles
EDGES = [
    1.0000005, -1.0000005, 0.1234565, -0.1234565, 2.0000025, 1.5e-6,
    1.2345675, 123.4567895, 5e-7, -5e-7, -1e-7, -0.0, 1e-300, -1e-300,
    float("nan"), float("inf"), float("-inf"), 1e300, 2.0**52 - 0.5,
]


def _base(spark):
    return load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def test_cold_coarse_fit_runs_two_jobs(spark, tmp_path):
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)  # a new path: the memo misses and the fit runs
    sc = spark.sparkContext
    sc.setJobGroup("test-cold-fit", "test-cold-fit")
    try:
        cw = S._coarse_codebook(spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(cw) == S.N_CENTROIDS
    assert len(sc.statusTracker().getJobIdsForGroup("test-cold-fit")) <= COLD_FIT_JOBS


def test_driver_trainer_matches_spark_trainer(spark):
    for n_sub, sub_dim, k in [
        (S.PQ_M, S.PQ_SUB_DIM, S.PQ_K),
        (S.ADC_M, S.ADC_SUB, S.ADC_K),
        (1, S.DIM, S.N_CENTROIDS),
    ]:
        got = S.subspace_kmeans_fit(_base(spark), n_sub, sub_dim, k)
        assert repr(got) == repr(R.spark_subspace_kmeans_fit(_base(spark), n_sub, sub_dim, k))


def test_sampled_driver_trainer_matches_spark_trainer(spark):
    cap = 100  # sf0.001 holds 500 embeddings: rate 5
    assert _base(spark).count() > cap
    for n_sub, sub_dim, k in [(1, S.DIM, S.N_CENTROIDS), (S.PQ_M, S.PQ_SUB_DIM, S.PQ_K)]:
        got = S.subspace_kmeans_fit(_base(spark), n_sub, sub_dim, k, sample_cap=cap)
        want = R.spark_subspace_kmeans_fit(_base(spark), n_sub, sub_dim, k, sample_cap=cap)
        assert repr(got) == repr(want)


def _small_frame(spark, x):
    """Ten 4-dim rows; rows 0 and 1 are the same vector, so codeword 1
    ties with codeword 0 in subspace 0 and never gets a member there, and
    row 4 holds `x` in element 1."""
    rows = [
        [0.0, 0.0, 1.0, 1.0],
        [0.0, 0.0, 1.0, 1.0],
        [5.0, 5.0, -3.0, 2.0],
        [9.0, 1.0, 4.0, -4.0],
        [0.5, x, 1.5, 0.7],
        [4.4, 5.3, -2.9, 2.2],
        [8.7, 1.2, 3.3, -4.1],
        [0.2, 0.1, 1.2, 1.1],
        [5.1, 4.6, -3.3, 1.9],
        [0.1, 0.3, 0.9, 1.3],
    ]
    return spark.createDataFrame(list(enumerate(rows)), "vec_id bigint, e array<double>")


def test_null_element_and_empty_codeword_match_spark_trainer(spark):
    """A null element is read as NaN by the argmin and skipped by the
    average; a codeword with no members keeps its seed."""
    base = _small_frame(spark, None).repartition(3)
    got = S.subspace_kmeans_fit(base, 2, 2, 4, iters=3)
    assert repr(got) == repr(R.spark_subspace_kmeans_fit(base, 2, 2, 4, iters=3))
    assert got[1][:2] == [0.0, 0.0]


def test_nan_element_propagates_like_the_oracle(spark):
    """A NaN element propagates into its codeword's average, as it does in
    the oracle's re-train chain. (The Spark-side trainer skipped it: its
    kernel passed `e` through pandas, which writes NaN back as null.)"""
    base = _small_frame(spark, float("nan"))
    got = S.subspace_kmeans_fit(base, 2, 2, 4, iters=3)
    con = duckdb.connect()
    con.register("small", base.toArrow())
    want = con.execute(
        f"WITH base AS (SELECT vec_id, e FROM small), "
        f"{S._train_ctes(2, 2, 4, prefix='s_', iters=3)} SELECT cvec FROM s_cwk ORDER BY k"
    ).fetchall()
    assert repr(got) == repr([list(r[0]) for r in want])
    assert math.isnan(got[0][1])


def test_ragged_or_null_vectors_are_refused(spark):
    """A dense sample needs one length; a null or short vector raises
    instead of shifting the rows after it."""
    for e in ([1.0, 2.0], None):
        base = spark.createDataFrame(
            [(0, [0.0, 0.0, 1.0]), (1, e), (2, [3.0, 1.0, 2.0])], "vec_id bigint, e array<double>"
        )
        with pytest.raises(ValueError, match="one length"):
            S.subspace_kmeans_fit(base, 1, 3, 2)


def test_round6_matches_spark_round(spark):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(EDGES)], "i int, x double")
    want = [r.r for r in df.select("i", F.round("x", 6).alias("r")).orderBy("i").collect()]
    assert repr([S._round6(x) for x in EDGES]) == repr(want)
