"""User-defined function surface (SURVEY.md §2 Part B, "UDF / UDAF / UDTF"
row): Arrow-batched pandas UDFs (scalar + grouped-aggregate) and a Python
UDTF.

These exist to prove the extension surface, not to replace built-ins: each
query here is deliberately ALSO expressible in SQL (that's what makes it
oracle-checkable), and the docstrings say what the built-in equivalent is.
Real workloads should reach for a UDF only when no `pyspark.sql.functions`
composition exists (see dedup/similarity for examples where the built-ins
win). Scalar/grouped pandas UDFs move data via Arrow batches — the only
acceptable Python path in a hot loop; the UDTF is row-at-a-time and belongs
in low-volume plumbing only.

Note: `pandas_udf(...)`/`udtf(...)` parse their return-type DDL eagerly and
need an active SparkSession, so UDF objects are created inside the query
builders, never at module import time.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from ..io import load
from .similarity import _vectors


def _l2_norm_impl(vecs: pd.Series) -> pd.Series:
    # one Arrow batch in, one out: the per-vector reduction runs in Python
    # once per batch, not once per row
    return vecs.map(lambda v: math.sqrt(sum(x * x for x in v)))


def q_udf_pandas_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar pandas UDF: per-vector L2 norm (built-in equivalent:
    sqrt(aggregate(...)) — used by similarity.py; this exercises the Arrow
    path)."""
    l2_norm = pandas_udf(_l2_norm_impl, "double")
    emb = _vectors(spark, sf)
    return emb.select("vec_id", F.round(l2_norm("e"), 6).alias("l2_norm"))


def _mean_dim0_impl(first_dims: pd.Series) -> float:
    # grouped-aggregate pandas UDF: whole group's column arrives as one Series
    return float(first_dims.mean())


def q_udaf_pandas_mean_dim0(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: per-label mean of the first embedding
    component (built-in equivalent: avg(element_at(e, 1))).

    Scale note: unlike built-in avg, a grouped-agg pandas UDF has NO partial
    aggregation — every group's rows ship to one executor. Fine for bounded
    group sizes; for unbounded groups use the built-in or a two-phase
    manual combine."""
    mean_dim0 = pandas_udf(_mean_dim0_impl, "double")
    emb = load(spark, sf, "embeddings").select(
        "label", F.element_at(F.col("embedding").cast("array<double>"), 1).alias("d0")
    )
    return emb.groupBy("label").agg(F.round(mean_dim0("d0"), 6).alias("mean_dim0"))


class _LeadingTokens:
    """Emit (position, token) for the first 3 space-separated tokens."""

    def eval(self, doc_id: int, text: str):  # noqa: D102
        if text:
            for i, tok in enumerate(text.split(" ")[:3]):
                yield i, tok


def q_udtf_leading_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF via LATERAL join: first 3 tokens per document (built-in
    equivalent: posexplode(slice(split(...)))). Row-at-a-time Python — the
    demo of the surface, not a hot-path pattern."""
    load(spark, sf, "documents").createOrReplaceTempView("documents_v")
    spark.udtf.register("leading_tokens", udtf(_LeadingTokens, returnType="pos int, token string"))
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents_v d,
        LATERAL leading_tokens(d.doc_id, d.text) t
        """
    )


QUERIES = {
    "udf_pandas_norm": q_udf_pandas_norm,
    "udaf_pandas_mean_dim0": q_udaf_pandas_mean_dim0,
    "udtf_leading_tokens": q_udtf_leading_tokens,
}

ORACLES = {
    "udf_pandas_norm": """
        SELECT vec_id,
               round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
                   AS l2_norm
        FROM embeddings
    """,
    "udaf_pandas_mean_dim0": """
        SELECT label, round(avg(embedding[1]), 6) AS mean_dim0
        FROM embeddings GROUP BY label
    """,
    # empty text emits NO rows (the UDTF's `if text:` guard); DuckDB's
    # str_split('', ' ') is [''] so the filter mirrors the guard
    "udtf_leading_tokens": """
        SELECT doc_id, (pos - 1)::INT AS pos, token
        FROM (
            SELECT doc_id,
                   unnest(str_split(text, ' ')[1:3]) AS token,
                   generate_subscripts(str_split(text, ' ')[1:3], 1) AS pos
            FROM documents WHERE length(text) > 0
        )
    """,
}
