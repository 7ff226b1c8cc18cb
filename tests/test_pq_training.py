"""Value-pin for the codebook trainer: `subspace_kmeans_fit` must
reproduce an INDEPENDENT numpy Lloyd implementation bit-for-bit.

This is the determinism contract that lets the DuckDB oracles RE-TRAIN the
same codebook inside plain SQL (`_train_ctes`): smallest-vec_id init,
first-min argmin ties, 6-dp rounding of every update, empty codewords keep
their previous value. If any of those knobs drifts, the PQ/ADC/IVF-PQ
oracle rows all hash-mismatch — this test localizes the break to the
trainer itself.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from emr_flink_example_spark.io import load
from emr_flink_example_spark.operators import similarity as S

from conftest import SF_DIR
import reference_folds as R


def _half_up6(a):
    """Spark's round(x, 6) of each finite double: HALF_UP on its shortest
    decimal repr, -0.0 out as 0.0 (np.round is half-even and keeps -0.0)."""
    q = Decimal("0.000001")
    return np.array([float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP)) + 0.0 for x in a])


def _np_subspace_lloyd(X, n_sub, sub_dim, k, iters):
    """Independent reference: per-subspace Lloyd, same determinism knobs."""
    cbs = []
    for m in range(n_sub):
        Xm = X[:, m * sub_dim:(m + 1) * sub_dim]
        C = Xm[:k].copy()
        for _ in range(iters):
            d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(2)
            a = d2.argmin(1)  # numpy argmin = first minimum, like the fold
            newC = C.copy()
            for j in range(k):
                mask = a == j
                if mask.any():
                    newC[j] = _half_up6(Xm[mask].mean(0))
            C = newC
        cbs.append(C)
    return np.concatenate(cbs, axis=1)  # K x DIM, codeword = concat over m


def _corpus(spark):
    rows = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return np.stack([np.array(r.embedding, dtype=float) for r in rows])


def test_trained_codebooks_match_numpy(spark):
    X = _corpus(spark)
    base = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    for (n_sub, sub_dim, k) in [
        (S.PQ_M, S.PQ_SUB_DIM, S.PQ_K),      # compression codebook
        (S.ADC_M, S.ADC_SUB, S.ADC_K),       # search-tier codebook
        (1, S.DIM, S.N_CENTROIDS),           # IVF coarse quantizer
    ]:
        got = np.array(S.subspace_kmeans_fit(base, n_sub, sub_dim, k))
        want = _np_subspace_lloyd(X, n_sub, sub_dim, k, S.PQ_TRAIN_ITERS)
        assert got.shape == want.shape
        assert np.array_equal(got, want), (n_sub, sub_dim, k)


def test_trained_codebook_empty_corpus(spark):
    base = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .where("vec_id < 0")
    )
    assert S.subspace_kmeans_fit(base, S.PQ_M, S.PQ_SUB_DIM, S.PQ_K) == []


def test_arrow_codes_match_relational(spark):
    """The vectorized Arrow encode must be BIT-EQUAL to the relational
    `_encode_codes_sql` fold (same IEEE op sequence, first-min argmin) —
    this is what keeps the ADC oracles hash-green while the executed path
    is numpy."""
    from emr_flink_example_spark.operators.similarity import (
        ADC_K,
        ADC_M,
        ADC_SUB,
        _codebook_df,
        _pq_codes,
        trained_codebook,
    )

    cw = trained_codebook(spark, SF_DIR, ADC_M, ADC_SUB, ADC_K)
    emb = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    arrow = {
        r.vec_id: list(r.codes)
        for r in _pq_codes(emb, cw, ADC_M, ADC_SUB).select("vec_id", "codes").collect()
    }
    rel = {
        r.vec_id: list(r.codes)
        for r in emb.crossJoin(F.broadcast(_codebook_df(spark, cw)))
        .select("vec_id", F.expr(R.encode_codes_sql(ADC_M, ADC_SUB)).alias("codes"))
        .collect()
    }
    assert arrow == rel and len(arrow) > 0


def test_residual_arrow_codes_match_relational(spark):
    """Same bit-equality contract for the RESIDUAL tier: the kernel's
    residuals must equal the relational assign + zip_with residuals, and
    the Arrow encode over them must reproduce the relational argmin fold
    exactly."""
    from emr_flink_example_spark.operators.similarity import (
        ADC_M,
        ADC_SUB,
        _codebook_df,
        _ivf_codes,
        _residual_codebook,
        _residual_corpus,
    )

    resid = R.residual_corpus(spark, SF_DIR)
    kernel_resid = {r.vec_id: list(r.e) for r in _residual_corpus(spark, SF_DIR).collect()}
    assert kernel_resid == {r.vec_id: list(r.e) for r in resid.collect()}
    arrow = {
        r.vec_id: list(r.codes)
        for r in _ivf_codes(spark, SF_DIR, _residual_codebook(spark, SF_DIR), residual=True)
        .select("vec_id", "codes")
        .collect()
    }
    cb = _codebook_df(spark, _residual_codebook(spark, SF_DIR))
    rel = {
        r.vec_id: list(r.codes)
        for r in resid.crossJoin(F.broadcast(cb))
        .select("vec_id", F.expr(R.encode_codes_sql(ADC_M, ADC_SUB)).alias("codes"))
        .collect()
    }
    assert arrow == rel and len(arrow) > 0


def test_pq_codes_errs_kernel_matches_relational(spark):
    """The quantize_pq Arrow encode (`_codes_kernel(errs=True)`) must be
    BIT-EQUAL — codes AND per-subspace errs — to the relational
    getField fold it replaced (same IEEE accumulation order, first-min
    argmin); this is what keeps the quantize_pq oracle hash-green while
    the executed path is numpy."""
    cw = S.trained_codebook(spark, SF_DIR, S.PQ_M, S.PQ_SUB_DIM, S.PQ_K)
    emb = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    arrow = {
        r.vec_id: (list(r.codes), list(r.errs))
        for r in emb.mapInPandas(
            S._codes_kernel(cw, ["vec_id"], S.PQ_M, S.PQ_SUB_DIM, errs=True),
            "vec_id bigint, codes array<int>, errs array<double>",
        ).collect()
    }
    rel_cols = []
    for m in range(S.PQ_M):
        best = F.expr(R.pq_best_sql(m))
        rel_cols.append(best.getField("k").alias(f"k{m}"))
        rel_cols.append(best.getField("d2").alias(f"d{m}"))
    rel = {
        r.vec_id: (
            [r[f"k{m}"] for m in range(S.PQ_M)],
            [r[f"d{m}"] for m in range(S.PQ_M)],
        )
        for r in emb.crossJoin(F.broadcast(S._codebook_df(spark, cw)))
        .select("vec_id", *rel_cols)
        .collect()
    }
    assert len(arrow) > 0 and arrow == rel


def _kernel_assign(emb, cents_cv):
    return {
        r.vec_id: (r.cluster_id, r.nrm)
        for r in emb.mapInPandas(
            S._assign_only_kernel(cents_cv),
            "vec_id bigint, e array<double>, nrm double, cluster_id bigint",
        ).collect()
    }


def test_assign_kernel_matches_ivf_assign_sql(spark):
    """The in-kernel coarse assignment (`_assign_ids`, explicit
    element-order accumulation) must be BIT-EQUAL to the interpreted
    cosine-argmax fold it replaced — assignment ids AND the nrm the
    SemDeDup cosines divide by."""
    cents_cv = S._coarse_codebook(spark, SF_DIR)
    emb = S._nonzero_embeddings(spark, SF_DIR)
    rel = {r.vec_id: (r.cid, r.nrm) for r in R.ivf_assign(emb, cents_cv).collect()}
    assert len(rel) > 0 and _kernel_assign(emb, cents_cv) == rel


def test_kernels_follow_engine_nan_order(spark):
    """NaN ranks above every number in both engines, so a NaN coarse
    centroid takes EVERY row in the fold — the kernel must route the same
    way; and a NaN codeword is never an L2 argmin unless all are NaN
    (array_min skips it, numpy argmin alone would return it)."""
    cents_cv = [list(v) for v in S._coarse_codebook(spark, SF_DIR)]
    cents_cv[3] = [float("nan")] * S.DIM
    emb = S._nonzero_embeddings(spark, SF_DIR)
    rel = {r.vec_id: r.cid for r in R.ivf_assign(emb, cents_cv).collect()}
    assert len(rel) > 0 and set(rel.values()) == {3}
    assert {v: c for v, (c, _) in _kernel_assign(emb, cents_cv).items()} == rel

    cw = [list(v) for v in S.trained_codebook(spark, SF_DIR, S.ADC_M, S.ADC_SUB, S.ADC_K)]
    cw[0] = [float("nan")] * S.DIM
    arrow = {
        r.vec_id: list(r.codes)
        for r in emb.mapInPandas(
            S._codes_kernel(cw, ["vec_id"]), "vec_id bigint, codes array<int>"
        ).collect()
    }
    fold = {
        r.vec_id: list(r.codes)
        for r in emb.crossJoin(F.broadcast(S._codebook_df(spark, cw)))
        .select("vec_id", F.expr(R.encode_codes_sql(S.ADC_M, S.ADC_SUB)).alias("codes"))
        .collect()
    }
    assert len(arrow) > 0 and arrow == fold
    assert all(0 not in c for c in arrow.values())


def test_zero_norm_centroid_fails_like_the_fold(spark):
    """An all-zero coarse centroid makes every cosine 0/0. The ANSI fold
    raises DIVIDE_BY_ZERO; the kernel must fail loudly too rather than
    route every row on a NaN (or never to it)."""
    cents_cv = [list(v) for v in S._coarse_codebook(spark, SF_DIR)]
    cents_cv[3] = [0.0] * S.DIM
    emb = S._nonzero_embeddings(spark, SF_DIR)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        R.ivf_assign(emb, cents_cv).collect()
    with pytest.raises(Exception, match="zero norm"):
        _kernel_assign(emb, cents_cv)


def test_first_min_engine_order():
    """`_first_min` unit contract: first minimum on ties, NaN above every
    number, all-NaN rows pick the first column."""
    nan, inf = float("nan"), float("inf")
    d2 = np.array([[2.0, 1.0, 1.0], [nan, 3.0, 3.0], [nan, nan, nan], [inf, nan, 5.0]])
    assert S._first_min(d2).tolist() == [1, 1, 0, 2]


def test_kernel_trainer_matches_fold_trainer(spark):
    """The Lloyd trainer must reproduce the interpreted fold trainer of two
    generations back bit-for-bit (same seeding, argmin ties, 6-dp
    rounded average update)."""
    base = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    for (n_sub, sub_dim, k) in [(S.PQ_M, S.PQ_SUB_DIM, S.PQ_K), (1, S.DIM, S.N_CENTROIDS)]:
        got = S.subspace_kmeans_fit(base, n_sub, sub_dim, k)
        assert got == R.fold_subspace_kmeans_fit(base, n_sub, sub_dim, k), (n_sub, k)
