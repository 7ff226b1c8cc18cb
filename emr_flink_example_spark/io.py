"""Table loading / writing helpers.

The driver's test tables (TESTDATA.md) are one parquet file per table under a
scale-factor directory. ``load`` is the single entry point every query builder
uses; it pins the session timezone (defensive — the driver may hand us a
session we didn't build) and leaves the plan fully declarative so Catalyst can
push filters/column pruning into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region: 5
# rows, nation: 25 rows — fixed-size in TPC-H-style schemas regardless of SF).
ALWAYS_BROADCAST = frozenset({"region", "nation"})

#: the embeddings corpus dimension (TESTDATA.md) — the load-time contract
#: excludes rows that don't match it (see `load`)
EMB_DIM = 64


def _ensure_utc(spark: SparkSession) -> None:
    # Defensive: the driver may hand us a session we didn't build. Only set
    # when the value differs so load() stays side-effect-free in steady state.
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Schema-adaptive events reader.

    On a real lake with mixed writers ``ts`` shows up under more than one
    parquet physical encoding; hard-coding one is a correctness-killer at
    scale. Observed encodings, normalized to a UTC-naive ``timestamp_ntz``:

    - parquet TIMESTAMP_MICROS/_MILLIS (current testdata): Spark reads it as
      timestamp or timestamp_ntz directly — pass through (cast to ntz).
    - parquet TIMESTAMP(NANOS) or raw INT64 epoch-nanos: Spark's reader either
      rejects NANOS (without ``nanosAsLong``) or surfaces a LongType; truncate
      nanos→micros exactly as DuckDB does reading the same file.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        # Legacy TIMESTAMP(NANOS) encoding: Spark rejects the footer schema
        # outright (AnalysisException at plan time — IO errors like a
        # missing path re-raise their own kind below). Re-read the nanos as
        # raw int64 (schema-conversion-time conf, harmless for non-NANOS
        # columns, so it may stay set).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    elif isinstance(ts_type, (TimestampType, TimestampNTZType)):
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        raise TypeError(f"events.ts: unsupported parquet type {ts_type}")
    # Ingestion contract: an event-time engine cannot place a timeless
    # event — NULL ts rows are excluded at the single load point (windows,
    # watermarks, and the two engines' opposite NULL sort orders would
    # otherwise diverge operator-by-operator). Mirrored by the oracle
    # (`testing.connect_oracle`); no-op on the clean fixtures.
    return df.where(F.col("ts").isNotNull())


def table_path(sf_dir: str, table: str) -> str:
    """Where `load` reads `table` of the scale-factor directory `sf_dir`."""
    return f"{sf_dir}/{table}.parquet"


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TABLES}")
    _ensure_utc(spark)
    if table == "events":
        return _load_events(spark, table_path(sf_dir, table))
    df = spark.read.parquet(table_path(sf_dir, table))
    if table == "documents":
        # Ingestion contract: text is never NULL downstream. On a real lake
        # null text rows are routine, and Spark's size(NULL) = -1 would
        # silently poison every ratio feature; one coalesce at the single
        # load point beats 40 per-operator guards. No-op on the fixtures
        # (no nulls), so oracle parity is unaffected.
        from pyspark.sql import functions as F

        df = df.withColumn("text", F.coalesce("text", F.lit("")))
    if table == "embeddings":
        # Ingestion contract: a NULL vector has no meaningful coalesce (the
        # dim is gone) and a WRONG-DIM vector cannot be scored by a
        # fixed-dim index (ANSI element_at would throw mid-fold) — both are
        # excluded at the load point, the same way the cosine family
        # excludes all-zero vectors. No-op on the fixtures (uniformly
        # EMB_DIM), so oracle parity is unaffected; the oracle mirrors the
        # same predicate.
        from pyspark.sql import functions as F

        df = df.where(
            F.col("embedding").isNotNull() & (F.size("embedding") == EMB_DIM)
        )
    return df


#: formats the generic reader/writer round-trips; parquet is the lake
#: default, the rest cover ingest/export interchange (SURVEY.md §2 Part B
#: "Scans" row: parquet/text/json — plus csv and orc for completeness)
FORMATS = ("parquet", "orc", "json", "csv", "text")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Format-generic batch reader.

    An explicit `schema` string skips inference — at 100 TB a schema-less
    json/csv read triggers a full inference pre-pass over the data; always
    pass the schema in production paths. Header/compression/separator knobs
    flow through `options`.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {FORMATS}")
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_any(df: DataFrame, path: str, fmt: str, mode: str = "overwrite", **options: str) -> None:
    """Format-generic batch writer (compression etc. via `options`)."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {FORMATS}")
    df.write.mode(mode).format(fmt).options(**options).save(path)
