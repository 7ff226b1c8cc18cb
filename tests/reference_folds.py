"""Relational (higher-order-function) reference folds for the Arrow kernels.

Production runs every argmin/assign/encode, and the pHash DCT census, in
vectorized Arrow kernels (`similarity._encode` / `_assign_ids`,
`multimodal._phash_kernel`), and the Lloyd rounds on the driver. The
interpreted JVM folds and the Spark-side trainer they replaced live
here, and only here, as the bit-equality references the pins in
tests/test_pq_training.py, tests/test_kmeans_reference.py,
tests/test_driver_lloyd.py and tests/test_phash_kernel.py compare against. Each fold iterates codewords /
centroids in ascending id with a strict comparison, so ties keep the
smallest id, and Spark ranks NaN above every number — the contract the
kernels reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_flink_example_spark.io import load
from emr_flink_example_spark.operators import similarity as S
from emr_flink_example_spark.operators.multimodal import _dct_basis


def pq_best_sql(m: int) -> str:
    """Subspace-m argmin as a (k, d2) struct over the broadcast codebook
    column `cw` and embedding column `e` (the PQ geometry): an unrolled
    sub_dim-term d2 per codeword, strict `<` fold over ascending ids."""
    lo = m * S.PQ_SUB_DIM + 1
    d2 = S._unrolled_d2("e", "c.e", lo, S.PQ_SUB_DIM)
    return f"""
        aggregate(
          transform(cw, (c, k) -> struct(k AS k, {d2} AS d2)),
          struct(cast(-1 as int) AS k, cast('Infinity' as double) AS d2),
          (best, c) -> IF(c.d2 < best.d2, c, best)
        )
    """


def encode_codes_sql(n_sub: int, sub_dim: int) -> str:
    """Per-subspace argmin codeword ids as an array<int> (requires `e` and
    `cw` in scope): first-min over ascending codeword ids, the oracle's
    list_position(list_min)."""
    return f"""
        transform(
          transform(sequence(0, {n_sub} - 1), m ->
            transform(cw, c ->
              {S._unrolled_d2("e", "c.e", f"m * {sub_dim} + 1", sub_dim)})),
          l -> cast(array_position(l, array_min(l)) - 1 as int))
    """


#: coarse-quantizer assignment: cosine argmax against the one-row
#: broadcast `cents` array (needs `e`, `nrm`, `cents` in scope). Strict `>`
#: over ascending centroid_id == the oracle's `ORDER BY cos DESC, id ASC`.
IVF_ASSIGN_SQL = """
    aggregate(
      transform(cents, c -> struct(
          c.centroid_id AS centroid_id,
          aggregate(zip_with(e, c.cv, (x, y) -> x * y),
                    cast(0 as double), (acc, x) -> acc + x)
            / (nrm * c.cvn) AS c_cos)),
      struct(cast(-1 as bigint) AS centroid_id,
             cast('-Infinity' as double) AS c_cos),
      (best, c) -> IF(c.c_cos > best.c_cos, c, best)
    ).centroid_id
"""


def centroids_df(spark: SparkSession, cents_cv: list[list[float]]) -> DataFrame:
    """(centroid_id, cv, cvn) rows of the coarse centroids, cvn the
    sequential `_norm` fold."""
    return spark.createDataFrame(
        [(j, list(v)) for j, v in enumerate(cents_cv)], "centroid_id bigint, cv array<double>"
    ).withColumn("cvn", S._norm("cv"))


def ivf_assign(emb: DataFrame, cents_cv: list[list[float]]) -> DataFrame:
    """(vec_id, e, nrm, cid) with the relational cosine-argmax assignment
    of every (vec_id, e) row against the given centroids, folded over
    them as one sorted broadcast `cents` array."""
    cents = centroids_df(emb.sparkSession, cents_cv).agg(
        F.sort_array(F.collect_list(F.struct("centroid_id", "cv", "cvn"))).alias("cents")
    )
    return (
        emb.withColumn("nrm", S._norm("e"))
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "e", "nrm", F.expr(IVF_ASSIGN_SQL).alias("cid"))
    )


def residual_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, e) residuals e - cv of the nonzero corpus, assignment by
    `IVF_ASSIGN_SQL` and the subtract by zip_with."""
    cents_cv = S._coarse_codebook(spark, sf)
    cent = centroids_df(spark, cents_cv)
    return (
        ivf_assign(S._nonzero_embeddings(spark, sf), cents_cv)
        .join(F.broadcast(cent.select(F.col("centroid_id").alias("cid"), "cv")), "cid")
        .select("vec_id", F.zip_with("e", "cv", lambda x, y: x - y).alias("e"))
    )


def kmeans_assign_expr(cents: list[list[float]], dim: int) -> F.Column:
    """Argmin cluster id for column `e` against inlined centroids: each
    centroid's squared L2 is a 0-init sequential fold, and the strict `<`
    fold over ascending cid keeps the smallest id on ties."""
    lit = "array(" + ", ".join(
        "struct(%d as cid, array(%s) as cv)" % (cid, ", ".join(f"{v!r}D" for v in cv))
        for cid, cv in enumerate(cents)
    ) + ")"
    return F.expr(
        f"""
        aggregate(
          transform({lit}, c -> struct(c.cid AS cid,
              aggregate(sequence(0, {dim - 1}), cast(0 as double),
                (acc, i) -> acc + (element_at(e, i + 1) - element_at(c.cv, i + 1))
                              * (element_at(e, i + 1) - element_at(c.cv, i + 1))) AS d2)),
          struct(cast(-1 as int) AS cid, cast('Infinity' as double) AS d2),
          (best, c) -> IF(c.d2 < best.d2, c, best)
        ).cid
        """
    )


def fold_subspace_kmeans_fit(
    base: DataFrame, n_sub: int, sub_dim: int, k: int, iters: int = S.PQ_TRAIN_ITERS
) -> list[list[float]]:
    """The interpreted-fold Lloyd trainer `subspace_kmeans_fit` replaced:
    per round, the argmin of every subspace is an unrolled d2 fold against
    the one-row broadcast codebook, and the update a sub_dim-wide
    groupBy(m, k) of round(avg, 6). Same seeding and empty-codeword rule;
    no sampling (callers pass a corpus within the cap)."""
    spark = base.sparkSession
    seed = base.orderBy("vec_id").limit(k).select("e").collect()
    if not seed:
        return []
    cbs = [[list(r.e[m * sub_dim:(m + 1) * sub_dim]) for r in seed] for m in range(n_sub)]
    d2_terms = " + ".join(
        f"(element_at(e, m * {sub_dim} + {i}) - element_at(c, {i}))"
        f" * (element_at(e, m * {sub_dim} + {i}) - element_at(c, {i}))"
        for i in range(1, sub_dim + 1)
    )
    ks_expr = f"""
        transform(
          transform(sequence(0, {n_sub - 1}), m ->
            transform(element_at(allcw, m + 1), c -> {d2_terms})),
          l -> cast(array_position(l, array_min(l)) - 1 as int))
    """
    for _ in range(iters):
        allcw = spark.createDataFrame([(cbs,)], "allcw array<array<array<double>>>")
        upd = (
            base.crossJoin(F.broadcast(allcw))
            .select("e", F.expr(ks_expr).alias("ks"))
            .select(
                F.posexplode("ks").alias("m", "k"),
                "e",
            )
            .groupBy("m", "k")
            .agg(
                *[
                    F.round(F.avg(F.element_at("e", F.col("m") * sub_dim + i)), 6).alias(f"c{i}")
                    for i in range(1, sub_dim + 1)
                ]
            )
            .collect()
        )
        for r in upd:
            cbs[r.m][r.k] = [r[f"c{i}"] for i in range(1, sub_dim + 1)]
    return [[v for m in range(n_sub) for v in cbs[m][j]] for j in range(len(seed))]


def spark_subspace_kmeans_fit(
    base: DataFrame,
    n_sub: int,
    sub_dim: int,
    k: int,
    iters: int = S.PQ_TRAIN_ITERS,
    sample_cap: int = S.TRAIN_SAMPLE_CAP,
) -> list[list[float]]:
    """The Spark-side Lloyd trainer the driver trainer replaced: the same
    `_train_sample`, seeded by an orderBy/limit collect, and per round the
    Arrow argmin kernel plus ONE long-form update — posexplode(e) gives
    one (i, k = codes[i div sub_dim], v) row per element, and groupBy(i, k)
    takes round(avg(v), 6); codewords with no members keep their value."""
    train = S._train_sample(base, sample_cap)
    seed = train.orderBy("vec_id").limit(k).select("e").collect()
    if not seed:
        return []
    cw = [list(r.e[: n_sub * sub_dim]) for r in seed]
    for _ in range(iters):
        upd = (
            train.select("e")
            .mapInPandas(
                S._codes_kernel(cw, ["e"], n_sub, sub_dim),
                "e array<double>, codes array<int>",
            )
            .select("codes", F.posexplode("e").alias("i", "v"))
            .groupBy("i", F.expr(f"codes[i div {sub_dim}]").alias("k"))
            .agg(F.round(F.avg("v"), 6).alias("c"))
            .collect()
        )
        for r in upd:
            cw[r.k][r.i] = r.c
    return cw


def phash_hof_df(spark: SparkSession, sf: str) -> DataFrame:
    """The pure-JVM relational pHash: the integer-DCT census as
    higher-order-function folds in ONE map-side projection, the reference
    `multimodal._phash_kernel` is pinned bit-equal against. Each
    intermediate (pixel array, DCT stages, median) is bound as a lambda
    variable via transform(array(<expr>), name -> ...) so it is computed
    once per row."""
    docs = load(spark, sf, "documents")
    # basis as one flat 64-literal bigint array, K[u*8 + x + 1]
    kflat = [0] * 64
    for u, x, k in _dct_basis():
        kflat[u * 8 + x] = k
    klit = "array(" + ", ".join(f"{k}L" for k in kflat) + ")"
    px = (
        "transform(sequence(0, 63), i ->"
        " cast(conv(substring(hx, i + 1, 1), 16, 10) as bigint))"
    )
    # first DCT stage: g[r*8 + v] = sum_c px[r*8 + c] * K[v*8 + c]
    g = (
        "transform(sequence(0, 63), j -> aggregate(sequence(0, 7),"
        " cast(0 as bigint), (acc, c) ->"
        " acc + element_at(px, cast((j div 8) * 8 + c + 1 as int))"
        "     * element_at(kb, cast((j % 8) * 8 + c + 1 as int))))"
    )
    # second stage: f[u*8 + v] = sum_r g[r*8 + v] * K[u*8 + r]; j = 1..63
    # skips the DC coefficient (u = v = 0)
    fs = (
        "transform(sequence(1, 63), j -> struct("
        " aggregate(sequence(0, 7), cast(0 as bigint), (acc, r) ->"
        "   acc + element_at(g, cast(r * 8 + (j % 8) + 1 as int))"
        "       * element_at(kb, cast((j div 8) * 8 + r + 1 as int))) AS f,"
        " cast(j div 8 as int) AS u, cast(j % 8 as int) AS v))"
    )
    # median m = 32nd-smallest of the 63 AC coefficients under the
    # (f, u, v) struct order; result = struct(phash, n_ones) from (fs, m)
    hx_sql = "concat(md5(concat(text, ':px0')), md5(concat(text, ':px1')))"
    result = f"""
      element_at(transform(array({hx_sql}), hx ->
        element_at(transform(array({klit}), kb ->
          element_at(transform(array({px}), px ->
            element_at(transform(array({g}), g ->
              element_at(transform(array({fs}), fs ->
                element_at(transform(array(element_at(array_sort(fs), 32).f), m ->
                  struct(
                    aggregate(fs, cast(0 as bigint), (acc, s) -> acc +
                      IF(s.f > m, shiftleft(cast(1 as bigint),
                      s.u * 8 + s.v - 1), cast(0 as bigint))) AS phash,
                    aggregate(fs, cast(0 as bigint),
                      (acc, s) -> acc + IF(s.f > m, 1L, 0L)) AS n_ones)
                ), 1)
              ), 1)
            ), 1)
          ), 1)
        ), 1)
      ), 1)
    """
    return docs.select(
        "doc_id",
        F.expr(result + ".phash").alias("phash"),
        F.expr(result + ".n_ones").alias("n_ones"),
    )
