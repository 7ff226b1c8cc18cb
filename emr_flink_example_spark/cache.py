"""Session lifecycle for catalog-query builders: frame pins and model memos
(VERDICT r9 #5).

Builders pin multi-consumer frames with ``pinned(df)`` instead of raw
``DataFrame.persist()``; ``plans.catalog.all_queries()`` wraps every
builder so the pins are released (``unpersist_all``) when the NEXT query
builds, once the previous lazy result has been consumed, and caches cannot
leak InMemoryTableScans into later plans. Runners call
``unpersist_all(spark)`` after the LAST query of a sweep. Streaming sinks
persist inside their own foreachBatch call and do not route through here.

Models trained or materialized once and reused across queries (codebooks,
the IVF inverted lists, BPE merge rules, a checkpointed pair stream) go
through ``memo``, reused only while the input files they were built from
are unchanged: a caller may replace a table at the same path, or delete
it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence, TypeVar

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


@dataclass
class _AppState:
    #: frames pinned since the last unpersist_all
    pins: list[DataFrame] = field(default_factory=list)
    #: (name, input paths) -> (input files when built, value)
    memos: dict[tuple, tuple[tuple, object]] = field(default_factory=dict)


#: applicationId -> that application's pins and memo entries
_STATE: dict[str, _AppState] = {}


def _state(spark: SparkSession) -> _AppState:
    """The live application's state. Other applications' entries belong to
    stopped SparkContexts in this process: unreusable, and kept they would
    pin storage-block references for the process lifetime, so they go."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _STATE if k != app]:
        del _STATE[stale]
    return _STATE.setdefault(app, _AppState())


def pinned(df: DataFrame) -> DataFrame:
    """persist() a multi-consumer frame and register it for the next
    catalog-boundary release. Returns the same (now persisted) frame."""
    _state(df.sparkSession).pins.append(df.persist())
    return df


def unpersist_all(spark: SparkSession) -> int:
    """Release every frame pinned in this session since the last call;
    returns how many were released. Safe to call at any time — pins
    re-register as their queries rebuild."""
    state = _state(spark)
    frames, state.pins = state.pins, []
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # context already stopped — blocks are gone anyway
    return len(frames)


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of `path`, `path` as a Hadoop Path)."""
    sc = spark.sparkContext
    # the class by name: `sc._jvm.org.apache...` resolves it one package
    # per py4j round trip, ~1.3 ms a call, on every memo lookup
    p = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def _files(spark: SparkSession, path: str) -> tuple[str, tuple]:
    """(`path` qualified, sorted (name under it, length, mtime) of every
    file under it), listed through Hadoop's FileSystem so local, HDFS and
    S3 paths list alike. A missing path lists no files."""
    fs, p = _fs(spark, path)
    root = fs.makeQualified(p)
    prefix = root.toString()
    files, todo = [], [root] if fs.exists(root) else []
    while todo:
        for st in fs.listStatus(todo.pop()):
            if st.isDirectory():
                todo.append(st.getPath())
            else:
                name = st.getPath().toString()[len(prefix) :]
                files.append((name, st.getLen(), st.getModificationTime()))
    return prefix, tuple(sorted(files))


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.exists(p)


def _release(value: object) -> None:
    """Free what a replaced memo value holds on the executors: a persisted
    DataFrame is unpersisted, and a local checkpoint's blocks (the RDD
    under its LogicalRDD) are dropped."""
    if isinstance(value, DataFrame):
        value.unpersist()
        plan = value._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def memo(
    spark: SparkSession, name: tuple, inputs: Sequence[str], build: Callable[[], T]
) -> T:
    """``build()``, memoized in this session under `name` (the memo's name
    and parameters) and the qualified path of each input table in
    `inputs`. The entry is rebuilt, and its old value released, once any
    input's files differ from those listed when it was built. Building
    an entry releases and drops every entry whose input path is gone.

    The path stays in the key even though the files are checked: a copy
    (``shutil.copytree``) keeps names, lengths and mtimes, and a copy at a
    new path is new input to its caller."""
    listed = [_files(spark, p) for p in inputs]
    key = (name, *(path for path, _ in listed))
    files = tuple(f for _, f in listed)
    memos = _state(spark).memos
    hit = memos.get(key)
    if hit is not None and hit[0] == files:
        return hit[1]
    if hit is not None:
        _release(memos.pop(key)[1])
    # an entry whose input is gone is never looked up again (a caller's
    # deleted copy): release it rather than hold its blocks for the session
    for gone in [k for k in memos if not all(_exists(spark, p) for p in k[1:])]:
        _release(memos.pop(gone)[1])
    value = build()
    memos[key] = (files, value)
    return value
