"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload {hive_ingest,llm_cold} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from `--seed` under
`.perfbench/work/` and removed at exit; the run's stamped artifact (and,
with `--trace 1`, its spans) stays under `.perfbench/artifacts/`. The last
stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics under `--trace 0` and the per-layer metrics
under `--trace 1`. The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hive_ingest", "llm_cold")

#: printed with --trace 0, on every workload
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "pass_s": "s",
    "throughput": "1/s",
}

#: printed with --trace 1, on every workload; a "unit" of work is one
#: micro-batch (hive_ingest) or one pass over the op list (llm_cold)
PER_LAYER = {
    "session.build_s": "s",
    "units": "count",
    "unit.wall_ms": "ms",
    "unit.rows": "count",
    "program.call_ms": "ms",
    "program.action_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "cache.pins_released": "count",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str
    work: str
    process_start: float
    #: seconds spent generating inputs before set-up (excluded from setup_s)
    gen_s: float = 0.0
    detail: dict = field(default_factory=dict)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "emr_flink_example_spark")):
        print(
            "perfbench: no emr_flink_example_spark package next to perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    artifacts = os.path.join(state, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    _environment(work)
    sys.path.insert(0, ROOT)
    ctx = Context(a.workload, a.seed, a.seconds, bool(a.trace), ROOT, work, PROCESS_START)

    if a.workload == "hive_ingest":
        import hive_ingest as wl
    else:
        import llm_cold as wl
    try:
        res = wl.run(ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = PER_LAYER if ctx.trace else END_TO_END
    metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in names.items()}
    out = {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}"
    with open(os.path.join(artifacts, tag + ".json"), "w", encoding="utf-8") as f:
        json.dump(
            {
                **out,
                "error_rate": res["failed"] / res["attempted"],
                "stamp": res["stamp"],
                "all_metrics": res["metrics"],
                "detail": ctx.detail,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    if ctx.trace:
        res["tracer"].write(os.path.join(artifacts, tag + ".spans.jsonl"))
    print(json.dumps(out), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
