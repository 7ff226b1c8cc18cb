"""SparkSession factory with scale-oriented defaults.

The reference configures its runtime per job (checkpointing, RocksDB state
backend, event-time mode — e.g. Kafka2S3Text.scala:63-70, Kafka2S3Hive.scala:25-33).
Spark's equivalents are session-level configs, centralized here.

Defaults are chosen for the 100 TB posture:
  * AQE on (runtime re-planning: partition coalescing, skew-join splitting,
    dynamic broadcast conversion) — replaces hand-tuned shuffle sizing.
  * RocksDB state store (≙ reference's RocksDBStateBackend) so streaming
    state spills to local disk instead of the JVM heap.
  * UTC session timezone pinned — the reference mixes UTC event strings with
    UTC+8 processing time (Kafka2S3Text.scala:56); we normalize to UTC and
    expose explicit tz conversion in functions/timeutils.
  * Arrow enabled for the (rare) pandas-UDF paths.
  * Whole-stage-codegen cache of CODEGEN_CACHE_ENTRIES (2000) generated
    classes instead of Spark's 100 (`spark.sql.codegen.cache.maxEntries`,
    static: it holds for the JVM's first session). Sized from compile
    counts (`codegen_compiles`, 4 cores, a perfbench fixture at sf0.01,
    five cold passes in one session): one pass of perfbench's llm_cold
    ops compiled 172-173 classes (ann_ivf_topk 65, curation_gate_stats
    80-81, cohort_retention 19, pricing_summary_q1 8), so under 100 each op
    evicted the others' classes and every pass recompiled them all; under
    2000 the passes after the first compile none. 2000 holds such a pass
    about ten times over; it does not hold a whole bench.py session
    (3,378 compiles over its 176 queries at sf0.001).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: generated classes kept compiled per JVM (see the module docstring)
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def hive_site_confs(hive_conf_dir: str) -> dict[str, str]:
    """Properties from `<hive_conf_dir>/hive-site.xml` as `spark.hadoop.*`
    session confs.

    ≙ the reference's `new HiveCatalog(name, db, params.hiveConfDir, ...)`
    (Kafka2S3Hive.scala:51): Flink points the catalog at a conf DIRECTORY;
    Spark's equivalent is hive-site.xml on the driver classpath, which a
    library can't arrange after JVM start — so we lift each property into
    the session conf explicitly (`spark.hadoop.` prefix reaches the Hadoop/
    Hive conf), which is equivalent and testable."""
    import xml.etree.ElementTree as ET

    site = os.path.join(hive_conf_dir, "hive-site.xml")
    if not os.path.exists(site):
        return {}
    out: dict[str, str] = {}
    for prop in ET.parse(site).getroot().iter("property"):
        name, value = prop.findtext("name"), prop.findtext("value")
        if name:
            out[f"spark.hadoop.{name}"] = value or ""
    return out


def hive_confs(
    metastore_uris: str = "", hive_conf_dir: str = ""
) -> dict[str, str]:
    """Session confs that turn on the Hive catalog (A11).

    `spark.sql.catalogImplementation=hive` is what `enableHiveSupport()`
    sets; `hive.metastore.uris` routes the catalog at a remote metastore
    (empty = embedded local metastore, Spark's default). hive-site.xml
    properties are merged in first so explicit `-m` URIs win, mirroring the
    reference where HiveConf-programmatic settings override the conf dir."""
    out: dict[str, str] = {}
    if hive_conf_dir:
        out.update(hive_site_confs(hive_conf_dir))
    out["spark.sql.catalogImplementation"] = "hive"
    if metastore_uris:
        out["spark.hadoop.hive.metastore.uris"] = metastore_uris
        out["hive.metastore.uris"] = metastore_uris
    return out


def build_session(
    app_name: str = "emr-flink-example-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    hive_metastore_uris: str = "",
    hive_conf_dir: str = "",
    enable_hive: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` should be sized so post-shuffle partitions fit in
    executor memory at the target scale; with AQE coalescing enabled the value
    acts as an upper bound, so a generous default is safe at any SF.

    ``enable_hive`` / ``hive_metastore_uris`` / ``hive_conf_dir`` wire the
    Hive catalog (≙ HiveCatalog registration, Kafka2S3Hive.scala:44-53):
    passing either hive option implies ``enable_hive``. Catalog
    implementation is fixed at first-session creation — callers must build
    the hive session before any other code touches SparkSession.builder.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.parquet.filterPushdown", "true")
        # custom Python data sources (sources/jsonl_source.py) implement
        # pushFilters(); the capability is gated off by default in Spark 4
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    if master:
        builder = builder.master(master)
    if streaming:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    if enable_hive or hive_metastore_uris or hive_conf_dir:
        for k, v in hive_confs(hive_metastore_uris, hive_conf_dir).items():
            builder = builder.config(k, v)
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Runtime-settable knobs are (re)applied even when an existing session is
    # reused (e.g. the driver hands us its own session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled so far in this JVM, mean ms per compile) from
    Spark's `CodegenMetrics` compile-time histogram. The count is exact:
    diff two readings to count a query's compiles. The histogram keeps a
    recency-weighted reservoir sample, so the mean, and a query's compile
    ms taken as its compiles times the later reading's mean, are
    approximate."""
    t = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    h = t.METRIC_COMPILATION_TIME()
    return h.getCount(), h.getSnapshot().getMean()


def local_test_session(cpus: int | None = None) -> SparkSession:
    """local[N] session for tests/bench (single JVM, N executor threads)."""
    n = cpus or default_parallelism()
    return build_session(
        app_name="emr-flink-example-spark-test",
        master=f"local[{n}]",
        shuffle_partitions=n,
        streaming=True,
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")},
    )
