"""The session's generated-class cache holds what the llm_cold op list
compiles, so code compiled once is not compiled again.

Spark's whole-stage-codegen cache (`spark.sql.codegen.cache.maxEntries`,
a static conf) defaults to 100 entries. `ann_ivf_topk` compiles about 65
classes and `curation_gate_stats` 60 to 80, so under the default each op
evicts the other's classes and every call recompiles its own."""

from __future__ import annotations

import shutil

from emr_flink_example_spark import cache
from emr_flink_example_spark.plans import catalog
from emr_flink_example_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

from conftest import SF_DIR


def test_build_session_sizes_the_codegen_cache(spark):
    assert CODEGEN_CACHE_ENTRIES > 100
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_query_compiles_nothing_after_another_op(spark, tmp_path):
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)  # a new path: the IVF quantizer trains anew
    queries = catalog.all_queries()

    def compiles(name: str) -> int:
        n0, _ = codegen_compiles(spark)
        queries[name](spark, d).write.format("noop").mode("overwrite").save()
        n1, _ = codegen_compiles(spark)
        return n1 - n0

    compiles("ann_ivf_topk")
    compiles("curation_gate_stats")
    assert compiles("ann_ivf_topk") == 0
    cache.unpersist_all(spark)
