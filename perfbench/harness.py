"""Shared pieces of the benchmark: spans, Spark's status records, memory
readings, quantiles and the artifact stamp.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, and Spark's numbers come from the
status REST API that every SparkContext serves from its listener-fed
status store (the same records the Spark UI shows).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import platform
import statistics
import subprocess
import time
import urllib.request
from datetime import datetime, timezone


def median(values) -> float:
    return statistics.median(values)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of at least one value."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Tracer:
    """In-memory spans (name, layer, start, end, parent, attrs), written
    out once at exit. When disabled, `span` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "layer": layer, "start": start,
             "end": end, "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, layer, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1000
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) * 1000 - child_ms.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


#: Spark totals reported per unit of work under the `spark.` prefix
SPARK_KEYS = (
    "jobs", "stages", "tasks", "job_ms", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes",
)


class SparkStatus:
    """Jobs and stages from the SparkContext's status REST API."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def settle(self, select, timeout: float = 10.0) -> list[dict]:
        """Selected jobs once none of them is still running (the status
        store is fed asynchronously by the listener bus)."""
        deadline = time.time() + timeout
        while True:
            js = [j for j in self.jobs() if select(j)]
            if all(j["status"] != "RUNNING" for j in js) or time.time() > deadline:
                return js
            time.sleep(0.05)

    def stages(self) -> list[dict]:
        return self._get("/stages")

    def totals(self, jobs: list[dict], stages: list[dict] | None = None) -> dict[str, float]:
        """Counts, executor time and bytes of the given jobs' stages
        (`stages`: a prefetched `stages()` listing)."""
        ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s for s in (self.stages() if stages is None else stages)
            if s["stageId"] in ids and s["status"] == "COMPLETE"
        ]
        spans = sorted(
            (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")))
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        )
        busy, end = 0.0, None
        for a, b in spans:  # union of job intervals
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "job_ms": busy * 1000,
            "executor_run_ms": sum(s["executorRunTime"] for s in stages),
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
            "gc_ms": sum(s["jvmGcTime"] for s in stages),
            "input_records": sum(s["inputRecords"] for s in stages),
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
        }


def vmhwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def source_digest(root: str) -> str:
    """sha256 over the package's Python sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "emr_flink_example_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_rev(root: str) -> str:
    """HEAD of the repository rooted at `root`, or "unavailable" when
    `root` is not the top of a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return "unavailable"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(root):
        return "unavailable"
    return lines[1]


def stamp(root: str, spark, **fields) -> dict:
    sc = spark.sparkContext
    return {
        "git_rev": git_rev(root),
        "source_sha": source_digest(root),
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "host_cpus": os.cpu_count(),
        **fields,
    }


def new_session():
    """The package's local session, quiet."""
    from emr_flink_example_spark.session import local_test_session

    spark = local_test_session()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_s(ctx) -> float:
    """Set-up time, once per run: from the first line of `run.py` to now
    (imports, JVM launch, session and the workload's own set-up), less
    input generation."""
    return time.time() - ctx.process_start - ctx.gen_s


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit (closing its stdin
    is the launcher's shutdown signal)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
