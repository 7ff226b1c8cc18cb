"""Codebooks ship inside the plan as SQL literals (`_codewords_sql`): the
ADC tiers' one-row codebook frame is an inline table, and the IVF probe
expands the coarse centroids with `inline`, so neither runs a
`parallelize` job. The literals must carry every double bit-exactly,
including the values a decimal repr does not spell as a SQL literal."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from emr_flink_example_spark.operators import similarity as S

from conftest import SF_DIR

NAN, INF = float("nan"), float("inf")
CW = [
    [NAN, INF, -INF, -0.0],
    [0.0, 5e-324, 0.1, -1.7976931348623157e308],
    [1e16, -2.5e-310, 1 / 3, 123456.789],
]


def _bits(vectors) -> list[list[bytes]]:
    return [[struct.pack(">d", x) for x in v] for v in vectors]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_codebook_df_is_a_bit_exact_local_table(spark):
    df = S._codebook_df(spark, CW)
    ref = spark.createDataFrame(
        [([(j, v) for j, v in enumerate(CW)],)],
        "cw array<struct<vec_id:int,e:array<double>>>",
    )
    assert df.schema.simpleString() == ref.schema.simpleString()
    (got,), (want,) = df.collect(), ref.collect()
    assert [r.vec_id for r in got.cw] == [r.vec_id for r in want.cw] == [0, 1, 2]
    assert _bits(r.e for r in got.cw) == _bits(r.e for r in want.cw) == _bits(CW)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_probe_centroids_are_bit_exact_literals(spark):
    rows = spark.range(1).select(F.inline(F.expr(S._codewords_sql(CW, "centroid_id", "cv", "bigint"))))
    assert rows.schema.simpleString() == "struct<centroid_id:bigint,cv:array<double>>"
    got = rows.collect()
    assert [r.centroid_id for r in got] == [0, 1, 2]
    assert _bits(r.cv for r in got) == _bits(CW)
    empty = spark.range(1).select(F.inline(F.expr(S._codewords_sql([], "centroid_id", "cv", "bigint"))))
    assert empty.schema == rows.schema and empty.count() == 0


def test_probe_expands_centroids_without_a_join(spark):
    """The probe reads no RDD and broadcasts no centroid table: each query
    row expands the literal centroids in place."""
    q = S._nonzero_embeddings(spark, SF_DIR).where("vec_id < 10").withColumn("nrm", S._norm("e"))
    plan = _plan(S._probe(q, S._coarse_codebook(spark, SF_DIR), S.N_PROBE))
    assert "Generate inline(" in plan
    for node in ("ExistingRDD", "LocalTableScan", "NestedLoopJoin", "BroadcastExchange"):
        assert node not in plan, node
