"""The curation gate-count query's Spark job budget, and the gate counts of
the write-bearing pipelines that share its gates.

At this corpus size each Spark job costs more in planning and scheduling
than in data, so the job count is the cost: the gate counts are one lazy
aggregate whose only action is the caller's, over one shuffle that joins
the boilerplate and near-dup evidence to the documents."""

from __future__ import annotations

import os

from emr_flink_example_spark import cache, testing
from emr_flink_example_spark.operators.curation import (
    curate_documents,
    curate_for_training,
    q_curation_gate_stats,
)
from emr_flink_example_spark.plans import catalog

from conftest import SF_DIR


def test_gate_stats_runs_in_ten_jobs(spark):
    sc = spark.sparkContext
    group = "test-curation-gate-stats-jobs"
    sc.setJobGroup(group, group)
    try:
        q_curation_gate_stats(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cache.unpersist_all(spark)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 10

    ok, msg = testing.compare(
        spark,
        testing.connect_oracle(SF_DIR),
        catalog.all_queries()["curation_gate_stats"],
        catalog.all_oracles()["curation_gate_stats"],
        SF_DIR,
    )
    assert ok, msg


def test_curate_pipelines_keep_their_gate_counts(spark, tmp_path):
    """The eager pipelines' stats at sf0.01, as computed before the gate
    chain was shortened."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    docs = curate_documents(spark, sf, str(tmp_path / "curated"))
    assert (
        docs.n_input,
        docs.n_after_quality,
        docs.n_after_boilerplate,
        docs.n_after_exact_dedup,
        docs.n_after_near_dedup,
    ) == PARENT_GATES
    train = curate_for_training(spark, sf, str(tmp_path / "training"))
    assert (
        train.n_input,
        train.n_after_quality,
        train.n_after_boilerplate,
        train.n_after_exact_dedup,
        train.n_after_near_dedup,
        train.n_after_rebalance,
        train.n_chunks,
        train.n_shards,
    ) == PARENT_GATES + PARENT_TRAINING


PARENT_GATES = (500, 500, 454, 454, 454)
PARENT_TRAINING = (360, 578, 8)
