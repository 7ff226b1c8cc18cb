"""Mechanical cache lifecycle (VERDICT r9 #5): builders register their
multi-consumer pins via cache.pinned(); the catalog boundary drains them
before the NEXT query builds — no runner-side clearCache contract.
"""

from __future__ import annotations

from emr_flink_example_spark import cache
from emr_flink_example_spark.plans import catalog

from conftest import SF_DIR


def _registry(spark):
    return cache._state(spark).pins


def test_pins_register_and_drain_at_catalog_boundary(spark):
    qs = catalog.all_queries()
    cache.unpersist_all(spark)

    # text_tfidf pins its postings frame during build
    qs["tfidf_top_terms"](spark, SF_DIR)
    pins = list(_registry(spark))
    assert pins, "a pin-bearing builder must register its frames"
    assert all(p.storageLevel.useMemory for p in pins)

    # building ANY next catalog query drains the previous query's pins
    qs["dedup_exact"](spark, SF_DIR)
    for p in pins:
        assert not p.storageLevel.useMemory, "stale pin survived the boundary"
    # ...and dedup_exact itself pins nothing, so the registry is empty
    assert not _registry(spark)


def test_unpersist_all_reports_and_is_idempotent(spark):
    qs = catalog.all_queries()
    cache.unpersist_all(spark)
    qs["tfidf_top_terms"](spark, SF_DIR)
    n = len(_registry(spark))
    assert cache.unpersist_all(spark) == n > 0
    assert cache.unpersist_all(spark) == 0  # drained — second call is a no-op


def test_no_raw_persist_left_in_operator_builders():
    """Every operator-module persist must route through cache.pinned so
    the registry sees it; raw .persist() would silently reintroduce the
    old leak. Streaming modules manage their own micro-batch lifecycle
    (try/finally) and are exempt."""
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "emr_flink_example_spark/operators"
    )
    offenders = [
        f"{p.name}" for p in ops.glob("*.py") if ".persist(" in p.read_text()
    ]
    assert not offenders, f"raw persist() in operator modules: {offenders}"
