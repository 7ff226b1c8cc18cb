"""A warm IVF top-k call reads the inverted lists built for its input and
routes no vector again.

The lists (`similarity._coarse_lists`) are memoized per input next to the
coarse codebook, so a second `ann_ivf_topk` on an unchanged input runs no
Python worker; its centroids ship inside the plan, so no job moves them."""

from __future__ import annotations

import shutil

from emr_flink_example_spark import cache
from emr_flink_example_spark.plans import catalog

from conftest import SF_DIR

#: jobs of the second `ann_ivf_topk` call with a noop write when the corpus
#: was routed by the Arrow kernel on every call and the centroids were
#: broadcast from a `parallelize`d frame
ROUTED_EVERY_CALL_JOBS = 6

#: name parts of Spark's Python-worker operators (MapInPandas,
#: FlatMapGroupsInPandas, ArrowEvalPython, BatchEvalPythonUDTF, MapInArrow, ...)
PYTHON_NODES = ("InPandas", "EvalPython", "InArrow")


def _run(spark, group: str, sf: str) -> tuple[int, list[str]]:
    """(jobs, physical plans of the SQL executions) of one `ann_ivf_topk`
    call written to the noop sink under job group `group`."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    sc.setJobGroup(group, group)
    try:
        catalog.all_queries()["ann_ivf_topk"](spark, sf).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cache.unpersist_all(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    execs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList())
    plans = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.get(i)
        ids = set(jvm.scala.jdk.javaapi.CollectionConverters.asJava(e.jobs().keySet()))
        if ids & jobs:
            plans.append(e.physicalPlanDescription())
        elif plans:
            break
    return len(jobs), plans


def test_warm_ivf_call_routes_nothing(spark, tmp_path):
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)  # a new path: the quantizer trains, the lists build
    _run(spark, "test-ivf-cold", d)
    jobs, plans = _run(spark, "test-ivf-warm", d)
    assert plans
    for plan in plans:
        for node in PYTHON_NODES:
            assert node not in plan, node
    assert jobs <= ROUTED_EVERY_CALL_JOBS - 1
