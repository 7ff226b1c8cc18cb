"""Independent value pin for the Lloyd k-means trainer.

`kmeans_fit` has no SQL oracle (iterative); this recomputes the exact same
protocol — k-smallest-vec_id seeding, squared-L2 first-min assignment,
per-dimension mean rounded HALF_UP to 6 dp per round (Spark's round),
empty clusters keep their centroid — in numpy, and compares centroids
component-wise.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from emr_flink_example_spark.io import load
from emr_flink_example_spark.operators.similarity import (
    KMEANS_ITERS,
    KMEANS_K,
    kmeans_fit,
    q_embedding_kmeans_centroids,
)

from conftest import SF_DIR


def _round_half_up(v: np.ndarray) -> np.ndarray:
    """Spark's round(x, 6): each double's shortest decimal repr quantized
    HALF_UP to 6 places, signed zero out as 0.0 (np.round would round
    half-even and keep -0.0)."""
    q = Decimal("1e-6")
    return np.array([float(Decimal(str(float(x))).quantize(q, ROUND_HALF_UP)) + 0.0 for x in v])


def _numpy_lloyd(M: np.ndarray, ids: np.ndarray, k: int, iters: int) -> np.ndarray:
    order = np.argsort(ids)
    cents = M[order[:k]].copy()
    for _ in range(iters):
        d2 = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cid = d2.argmin(axis=1)  # argmin keeps the first (smallest cid) on ties
        new = cents.copy()
        for c in range(k):
            members = M[cid == c]
            if len(members):
                new[c] = _round_half_up(members.mean(axis=0))
        cents = new
    return cents


def test_kmeans_centroids_match_numpy(spark):
    rows = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.stack([np.array(r.embedding, dtype=float) for r in rows])

    got = np.array(kmeans_fit(load(spark, SF_DIR, "embeddings")))
    want = _numpy_lloyd(M, ids, KMEANS_K, KMEANS_ITERS)
    assert got.shape == want.shape
    # 6-dp rounding each round synchronizes the two implementations; 2e-6
    # tolerates a final-ulp flutter in the last round's mean
    assert np.abs(got - want).max() <= 2e-6

    out = q_embedding_kmeans_centroids(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == KMEANS_K * M.shape[1]
    total = sum({r.centroid_id: r.n_members for r in rows}.values())
    assert total == len(ids)
    # inertia must not increase across extra rounds (Lloyd is monotone)
    more = np.array(
        kmeans_fit(load(spark, SF_DIR, "embeddings"), iters=KMEANS_ITERS + 2)
    )

    def inertia(c):
        d2 = ((M[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    assert inertia(more) <= inertia(got) + 1e-6


def test_member_counts_match_relational_fold(spark):
    """The final assignment pass runs the trainer's Arrow argmin kernel;
    its per-cluster member counts must equal the interpreted first-min
    fold's (`kmeans_assign_expr` in reference_folds) exactly."""
    from pyspark.sql import functions as F

    from reference_folds import kmeans_assign_expr

    emb = load(spark, SF_DIR, "embeddings")
    cents = kmeans_fit(emb)
    got = {
        r.centroid_id: r.n_members
        for r in q_embedding_kmeans_centroids(spark, SF_DIR).collect()
        if r.n_members is not None
    }
    want = {
        r.cid: r.n
        for r in emb.select(F.col("embedding").cast("array<double>").alias("e"))
        .groupBy(kmeans_assign_expr(cents, len(cents[0])).alias("cid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and sum(want.values()) > 0
