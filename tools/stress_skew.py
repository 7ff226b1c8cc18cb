"""Skew-stress harness: MEASURED evidence that the chunked pair guards
bound per-task resources (VERDICT r9 #1).

The guards (`_skew_guarded_pairs`, `_skew_guarded_cross_pairs`, and the
banded SimHash/pHash paths routed through them) are proven OUTPUT-equal to
the unguarded expansion by fuzz tests; this tool proves the RESOURCE claim:
on a corpus with one mega-bucket, the guarded plan's worst task stays
cap^2-bounded while the unguarded expression concentrates the whole
quadratic expansion in single tasks.

Method: each variant runs in its own SparkSession with the event log
enabled; after the run, the per-task metrics are read back from the event
log (SparkListenerTaskEnd -> Task Metrics -> shuffle read/write records &
bytes — the exact numbers a SparkListener would stream, captured via the
listener's own durable channel so the harness needs no Java callback
server). Per path and variant we record:

  * n_pairs           — result row count (asserted EQUAL guarded vs not)
  * wall_sec          — end-to-end time of the count action
  * max_task_shuffle_{read,write}_records / _bytes — the skew evidence

Two layers:

  A. DIRECT guard stress: one synthetic bucket of N_BUCKET sorted member
     structs driven straight through `_skew_guarded_pairs` /
     `_skew_guarded_cross_pairs`. The guarded worst task must write
     <= ROWS_PER_TASK_BOUND * cap^2 pair records; the unguarded run (cap
     >= bucket size => the exact pre-guard expression) concentrates ALL
     ~N^2/2 (or N_L*N_R) pairs in ONE task.

  B. END-TO-END paths: the four production generators
     (dedup_minhash_lsh, dedup_incremental_minhash, simhash_hamming_pairs,
     multimodal_phash_pairs) on a boilerplate-heavy documents fixture
     (N_HOT identical docs), guarded default cap vs cap=infinity, outputs
     asserted equal, metrics recorded.

Writes STRESS_r10.json (one JSON line on stdout too). pytest coverage of
the layer-A bound lives in tests/test_stress_skew_guard.py.

    python tools/stress_skew.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from emr_flink_example_spark.session import build_session  # noqa: E402

#: direct-layer bucket sizes (one hot bucket, nothing else); env-overridable
#: so the pytest wrapper can run a fast small-scale variant in a subprocess
N_BUCKET = int(os.environ.get("STRESS_N_BUCKET", 4096))
N_LEFT = N_RIGHT = int(os.environ.get("STRESS_N_SIDE", 2048))
#: guarded chunk cap for the direct layer
CAP = int(os.environ.get("STRESS_CAP", 256))
#: a guarded task may carry several chunk rows after the (keys, ci, cj)
#: hash repartition; each row expands to <= cap^2 pairs. With 32 partitions
#: and ceil(4096/256)^2/2+8 = 144 chunk rows, ~5 rows/task is the fair
#: share — 16 leaves balls-in-bins headroom while staying ~30x under the
#: unguarded single-task figure (N^2/2 / cap^2 = 128 rows-equivalent).
ROWS_PER_TASK_BOUND = 16

#: end-to-end layer: copies of the boilerplate doc (every band/bucket of
#: every generator collapses onto one hot key)
N_HOT = int(os.environ.get("STRESS_N_HOT", 1024))
N_BACKGROUND = 200
#: guarded-variant cap for the end-to-end layer: the fixture's hot bucket
#: (N_HOT members) must EXCEED the cap or the guard legitimately emits the
#: single (0, 0) chunk and there is nothing to measure (the first artifact
#: run showed exactly that at cap = N_HOT = 1024)
E2E_CAP = int(os.environ.get("STRESS_E2E_CAP", 128))

BOILERPLATE = (
    "all rights reserved this document is provided as is without warranty "
    "of any kind either express or implied including but not limited to "
    "the implied warranties of merchantability and fitness for a purpose "
    "and the entire risk as to the quality and performance remains with "
    "the reader who accepts these terms by continuing past this notice"
)


def _session(tag: str, eventlog_dir: str):
    return build_session(
        app_name=f"stress-skew-{tag}-{int(time.time() * 1000)}",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
        shuffle_partitions=32,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
            # plain JSON lines (the v2 rolling format zstd-compresses by
            # default, and this harness parses the log with stdlib only)
            "spark.eventLog.compress": "false",
            # the synthetic members are a few bytes each, so AQE's
            # byte-targeted coalescing would pack ALL chunk rows into one
            # partition and mask the guard's (ci, cj) spread; production
            # members (docs, signatures) are KB-scale and never coalesce
            # to one task. Coalescing off = measuring the intended
            # distribution; the memory bound (<= cap^2 per materialized
            # array) holds either way.
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        },
    )


def _task_metrics(eventlog_dir: str) -> dict:
    """Max per-task shuffle read/write records & bytes from the event log
    (the SparkListenerTaskEnd stream, read from its durable sink)."""
    out = {
        "max_task_shuffle_read_records": 0,
        "max_task_shuffle_write_records": 0,
        "max_task_shuffle_read_bytes": 0,
        "max_task_shuffle_write_bytes": 0,
        "n_tasks": 0,
    }
    # Spark 4 writes the rolling v2 format: a DIRECTORY per application
    # containing events_* files — walk everything under the log dir
    paths = [
        os.path.join(root, f)
        for root, _, files in os.walk(eventlog_dir)
        for f in files
        if not f.startswith("appstatus_")
    ]
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                tm = ev.get("Task Metrics") or {}
                rd = tm.get("Shuffle Read Metrics") or {}
                wr = tm.get("Shuffle Write Metrics") or {}
                out["n_tasks"] += 1
                out["max_task_shuffle_read_records"] = max(
                    out["max_task_shuffle_read_records"],
                    rd.get("Total Records Read", 0),
                )
                out["max_task_shuffle_read_bytes"] = max(
                    out["max_task_shuffle_read_bytes"],
                    (rd.get("Local Bytes Read", 0) or 0)
                    + (rd.get("Remote Bytes Read", 0) or 0),
                )
                out["max_task_shuffle_write_records"] = max(
                    out["max_task_shuffle_write_records"],
                    wr.get("Shuffle Records Written", 0),
                )
                out["max_task_shuffle_write_bytes"] = max(
                    out["max_task_shuffle_write_bytes"],
                    wr.get("Shuffle Bytes Written", 0),
                )
    return out


def _measured_run(tag: str, build_df, reshuffle: bool = False) -> dict:
    """Fresh session + event log; build_df(spark) -> DataFrame of pairs;
    returns {n_pairs, checksum, wall_sec, metrics...}.

    reshuffle=True routes every pair row through one extra exchange so a
    task's shuffle-WRITE record count equals its expansion volume — needed
    for the direct layer, whose final aggregate would otherwise consume
    the pairs map-side (partial agg) and hide them from task metrics. The
    production queries already shuffle their pair streams (dropDuplicates)
    so the end-to-end layer measures them as-is."""
    evdir = tempfile.mkdtemp(prefix=f"stress-ev-{tag}-")
    spark = _session(tag, evdir)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = build_df(spark)
        if reshuffle:
            df = df.repartition(32)
        t0 = time.time()
        # one aggregate action: row count + an order-independent checksum
        # (bit_xor of row hashes — overflow-free under ANSI)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("chk"),
        ).first()
        wall = time.time() - t0
        n, chk = row.n, row.chk
    finally:
        spark.stop()
    out = {"n_pairs": n, "checksum": chk, "wall_sec": round(wall, 2)}
    out.update(_task_metrics(evdir))
    shutil.rmtree(evdir, ignore_errors=True)
    return out


# ---------------------------------------------------------------- layer A


def _one_bucket_pairs(spark, n: int, cap: int):
    """ONE bucket of n members through _skew_guarded_pairs."""
    from emr_flink_example_spark.operators.dedup import _skew_guarded_pairs

    grouped = (
        spark.range(n)
        .groupBy((F.col("id") * 0).alias("bucket"))
        .agg(F.sort_array(F.collect_list(F.struct(F.col("id").alias("m")))).alias("members"))
    )
    return _skew_guarded_pairs(
        grouped,
        keys=["bucket"],
        pair_sql="struct(x.m AS a, y.m AS b)",
        keep_sql="true",
        cap=cap,
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def _one_bucket_cross_pairs(spark, n_l: int, n_r: int, cap: int):
    """ONE bucket with disjoint left/right member arrays through
    _skew_guarded_cross_pairs."""
    from emr_flink_example_spark.operators.dedup import _skew_guarded_cross_pairs

    grouped = (
        spark.range(n_l + n_r)
        .groupBy((F.col("id") * 0).alias("bucket"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("id") < n_l, F.struct(F.col("id").alias("m")))
                )
            ).alias("lhs"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("id") >= n_l, F.struct(F.col("id").alias("m")))
                )
            ).alias("rhs"),
        )
    )
    return _skew_guarded_cross_pairs(
        grouped,
        keys=["bucket"],
        left_col="lhs",
        right_col="rhs",
        pair_sql="struct(x.m AS a, y.m AS b)",
        keep_sql="true",
        cap=cap,
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def stress_direct() -> dict:
    res = {}
    res["guard_pairs"] = {
        "n_bucket": N_BUCKET,
        "cap": CAP,
        "guarded": _measured_run(
            "gp-guard", lambda s: _one_bucket_pairs(s, N_BUCKET, CAP), reshuffle=True
        ),
        "unguarded": _measured_run(
            "gp-raw", lambda s: _one_bucket_pairs(s, N_BUCKET, 10**9), reshuffle=True
        ),
    }
    res["guard_cross_pairs"] = {
        "n_left": N_LEFT,
        "n_right": N_RIGHT,
        "cap": CAP,
        "guarded": _measured_run(
            "gx-guard",
            lambda s: _one_bucket_cross_pairs(s, N_LEFT, N_RIGHT, CAP),
            reshuffle=True,
        ),
        "unguarded": _measured_run(
            "gx-raw",
            lambda s: _one_bucket_cross_pairs(s, N_LEFT, N_RIGHT, 10**9),
            reshuffle=True,
        ),
    }
    return res


# ---------------------------------------------------------------- layer B


def _write_fixture(dir_: str, spark) -> None:
    rows = [(i, BOILERPLATE) for i in range(N_HOT)] + [
        (
            N_HOT + i,
            " ".join(
                f"tok{(i * 37 + j * 11) % 9973}" for j in range(40)
            ),
        )
        for i in range(N_BACKGROUND)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string").withColumn(
        "lang", F.lit("en")
    )
    df.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(dir_, "documents.parquet")
    )


E2E_PATHS = {
    "dedup_minhash_lsh": (
        "emr_flink_example_spark.operators.dedup",
        "q_dedup_minhash_lsh",
    ),
    "dedup_incremental_minhash": (
        "emr_flink_example_spark.operators.dedup",
        "q_dedup_incremental_minhash",
    ),
    "simhash_hamming_pairs": (
        "emr_flink_example_spark.operators.dedup",
        "q_simhash_hamming_pairs",
    ),
    "multimodal_phash_pairs": (
        "emr_flink_example_spark.operators.multimodal",
        "q_multimodal_phash_pairs",
    ),
}


def stress_end_to_end(fixture_dir: str) -> dict:
    import importlib

    res = {}
    for name, (mod_name, fn_name) in E2E_PATHS.items():
        fn = getattr(importlib.import_module(mod_name), fn_name)
        res[name] = {
            "n_hot_docs": N_HOT,
            "cap": E2E_CAP,
            "guarded": _measured_run(
                f"{name}-guard", lambda s, fn=fn: fn(s, fixture_dir, cap=E2E_CAP)
            ),
            "unguarded": _measured_run(
                f"{name}-raw", lambda s, fn=fn: fn(s, fixture_dir, cap=10**9)
            ),
        }
    return res


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    direct_only = "--direct-only" in sys.argv
    out_path = args[0] if args else "STRESS_r10.json"
    fixture_dir = tempfile.mkdtemp(prefix="stress-fixture-")
    try:
        report = {
            "metric": "skew_stress",
            "cap": CAP,
            "rows_per_task_bound": ROWS_PER_TASK_BOUND,
            "direct": stress_direct(),
        }
        if not direct_only:
            boot = _session("fixture", fixture_dir)  # event log unused here
            boot.sparkContext.setLogLevel("ERROR")
            _write_fixture(fixture_dir, boot)
            boot.stop()
            report["end_to_end"] = stress_end_to_end(fixture_dir)

        # ------- assertions: output equality + the resource bound -------
        problems = []
        for layer in ("direct", "end_to_end"):
            for path, r in report.get(layer, {}).items():
                g, u = r["guarded"], r["unguarded"]
                if (g["n_pairs"], g["checksum"]) != (u["n_pairs"], u["checksum"]):
                    problems.append(f"{path}: guarded != unguarded output")
        d = report["direct"]
        bound = ROWS_PER_TASK_BOUND * CAP * CAP
        for path, r in d.items():
            g, u = r["guarded"], r["unguarded"]
            if g["max_task_shuffle_write_records"] > bound:
                problems.append(
                    f"{path}: guarded max task writes "
                    f"{g['max_task_shuffle_write_records']} > {bound}"
                )
            if u["max_task_shuffle_write_records"] < g[
                "max_task_shuffle_write_records"
            ] * 4:
                problems.append(
                    f"{path}: unguarded did not skew "
                    f"({u['max_task_shuffle_write_records']} vs guarded "
                    f"{g['max_task_shuffle_write_records']})"
                )
        # end-to-end: the guarded run's worst task must carry at most half
        # the unguarded one's (the production queries interleave other
        # stages into the same metrics, so the bound is relative, not
        # the direct layer's absolute cap^2 figure)
        for path, r in report.get("end_to_end", {}).items():
            g, u = r["guarded"], r["unguarded"]
            if g["max_task_shuffle_write_records"] * 2 > u[
                "max_task_shuffle_write_records"
            ]:
                problems.append(
                    f"{path}: guarded worst task not reduced "
                    f"({g['max_task_shuffle_write_records']} vs unguarded "
                    f"{u['max_task_shuffle_write_records']})"
                )
        report["bound_max_task_write_records"] = bound
        report["problems"] = problems
        report["ok"] = not problems

        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
        print(json.dumps({
            "metric": "skew_stress",
            "ok": report["ok"],
            "problems": problems,
            "out": out_path,
        }))
        if problems:
            sys.exit(1)
    finally:
        shutil.rmtree(fixture_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
