"""llm_cold: the LLM-pipeline operators on data they have not seen.

Each timed pass runs the op list on a fresh copy of the generated
fixture. The package memoizes trained models (the IVF coarse quantizer
among them) per input path, so a new path makes every trainer fit
again, as it does for a library caller with new data. Each op's
DataFrame is written to Spark's noop sink and the pins are drained
(`cache.unpersist_all`) after every op.

An untimed first pass checks every op against its DuckDB oracle
(`testing.compare`) and warms the JIT. Cold timed passes follow while the
next one can end within `--seconds`; there is always at least one. Then
`ann_ivf_topk` is called again on the last cold pass's copy, whose index
is trained by then, while the next call can end within `--seconds` and
at least WARM_CALLS times (after one untimed call): the latency of a
top-k query against an index that exists, what a caller pays per query
after the first.
"""

from __future__ import annotations

import os
import shutil
import time

import fixture
import harness
from harness import median, quantile

#: star-schema and corpus scale of the generated fixture (500 documents,
#: 500 embeddings, 60k lineitems)
SF = 0.01
CORPUS_SF = 0.01
OPS = [
    "ann_ivf_topk",  # similarity: IVF coarse quantizer trained per input
    # curation's quality -> boilerplate -> exact -> near-dup gates, which
    # run the textstats quality columns and dedup's MinHash-LSH and
    # repeated-span kernels
    "curation_gate_stats",
    "pricing_summary_q1",  # relational
    "cohort_retention",  # analytics
]
#: least number of timed top-k queries on the already trained copy after
#: the cold passes; the latency percentiles are taken over them
WARM_OP = "ann_ivf_topk"
WARM_CALLS = 5


class Runner:
    def __init__(self, ctx, spark, tracer: harness.Tracer) -> None:
        from emr_flink_example_spark import cache
        from emr_flink_example_spark.plans import catalog

        self.ctx, self.spark, self.tracer = ctx, spark, tracer
        self.cache = cache
        self.queries = catalog.all_queries(managed=False)
        self.oracles = catalog.all_oracles()
        self.status = harness.SparkStatus(spark.sparkContext) if ctx.trace else None

    def module(self, op: str) -> str:
        return self.queries[op].__module__.replace("emr_flink_example_spark.", "")

    def check(self, d: str) -> dict[str, dict]:
        """Untimed pass: every op against its oracle."""
        from emr_flink_example_spark import testing

        con = testing.connect_oracle(d)
        out = {}
        for op in OPS:
            t = time.time()
            try:
                ok, msg = testing.compare(self.spark, con, self.queries[op], self.oracles[op], d)
            except Exception as e:  # an op that raises is a failed op
                ok, msg = False, f"{type(e).__name__}: {e}"
            self.cache.unpersist_all(self.spark)
            out[op] = {"ok": ok, "msg": msg, "s": time.time() - t}
        con.close()
        return out

    def one_pass(self, k: int, d: str, traced: bool, ops: list[str] = OPS) -> dict:
        spark, tr = self.spark, self.tracer
        tr.enabled = traced
        rec = {"pass": k, "traced": traced, "op_ms": {}, "build_ms": {}, "action_ms": 0.0,
               "plan_ms": 0.0, "pins": 0, "failed": []}
        group = f"pass{k}"
        t0 = time.time()
        with tr.span(group, "bench.pass", pass_id=k):
            for op in ops:
                if self.ctx.trace:
                    spark.sparkContext.setJobGroup(group, op)
                t = time.time()
                try:
                    with tr.span(op, self.module(op), op=op, pass_id=k):
                        df = self.queries[op](spark, d)
                    tb = time.time()
                    rec["build_ms"][op] = (tb - t) * 1000
                    if traced:
                        with tr.span("executedPlan", "spark.plan", op=op, pass_id=k):
                            df._jdf.queryExecution().executedPlan()
                        rec["plan_ms"] += (time.time() - tb) * 1000
                    ta = time.time()
                    with tr.span("noop_write", "spark.action", op=op, pass_id=k):
                        df.write.format("noop").mode("overwrite").save()
                    rec["action_ms"] += (time.time() - ta) * 1000
                except Exception as e:  # counted, the pass goes on
                    rec["failed"].append(f"{op}: {type(e).__name__}: {e}")
                with tr.span("unpersist_all", "cache", op=op, pass_id=k):
                    rec["pins"] += self.cache.unpersist_all(spark)
                rec["op_ms"][op] = (time.time() - t) * 1000
        rec["wall_s"] = time.time() - t0
        if traced:
            rec["spark"] = self.status.totals(self.status.settle(lambda j: j.get("jobGroup") == group))
        tr.enabled = self.ctx.trace
        return rec


def run(ctx) -> dict:
    t = time.time()
    fix = os.path.join(ctx.work, "fixture")
    counts = fixture.write(fix, ctx.seed, SF, CORPUS_SF)
    ctx.gen_s = time.time() - t

    t = time.time()
    spark = harness.new_session()
    build_s = time.time() - t
    setup_s = harness.setup_s(ctx)
    tracer = harness.Tracer(ctx.trace)
    try:
        runner = Runner(ctx, spark, tracer)
        checks = runner.check(fix)
        passes = []
        t_end = time.time() + ctx.seconds
        k = 0
        # A pass starts only if it can end by the deadline, judged by the
        # previous one. A traced run alternates untraced and traced passes,
        # three at least, so the tracing overhead is measured in-run between
        # passes after the first (which still pays some JIT warm-up).
        while k == 0 or time.time() + passes[-1]["wall_s"] <= t_end or (ctx.trace and k < 3):
            if k:
                shutil.rmtree(d)
            d = os.path.join(ctx.work, f"copy-{k}")
            shutil.copytree(fix, d)
            passes.append(runner.one_pass(k, d, traced=ctx.trace and k % 2 == 1))
            k += 1
        warm = []  # the first call is untimed: its plan and code are new
        while len(warm) <= WARM_CALLS or time.time() + warm[-1]["wall_s"] <= t_end:
            warm.append(runner.one_pass(k + len(warm), d, traced=False, ops=[WARM_OP]))
        jvm_mb = harness.vmhwm_mb(harness.jvm_pid(spark))
        py_mb = harness.vmhwm_mb(os.getpid())
        stamp = harness.stamp(ctx.root, spark, workload=ctx.workload, seed=ctx.seed, sf=SF,
                              corpus_sf=CORPUS_SF, seconds=ctx.seconds, trace=ctx.trace)
    finally:
        harness.shutdown(spark)

    failed = sum(not c["ok"] for c in checks.values()) + sum(len(p["failed"]) for p in passes + warm)
    attempted = len(checks) + sum(len(p["op_ms"]) for p in passes + warm)
    plain = [p for p in passes if not p["traced"]]
    warm_ms = [p["wall_s"] * 1000 for p in warm[1:]]
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": jvm_mb + py_mb,
        "latency_p50_ms": quantile(warm_ms, 0.5),
        "latency_p90_ms": quantile(warm_ms, 0.9),
        "pass_s": median(p["wall_s"] for p in plain),
        # top-k queries per second: the inverse of the mean warm latency,
        # so not a gate independent of the latencies
        "throughput": len(warm_ms) * 1000 / sum(warm_ms),
    }
    ctx.detail.update(
        fixture_rows=counts,
        gen_s=ctx.gen_s,
        session_build_s=build_s,
        checks=checks,
        passes=passes,
        warm_calls=warm,
        error_rate=failed / attempted,
    )
    traced = [p for p in passes if p["traced"]]
    if traced:
        by_module: dict[str, list[float]] = {}
        for p in traced:
            per: dict[str, float] = {}
            for op, ms in p["build_ms"].items():
                per[runner.module(op)] = per.get(runner.module(op), 0.0) + ms
            for m, ms in per.items():
                by_module.setdefault(m, []).append(ms)
        ctx.detail["layers"] = {
            "catalog.build_ms": median(sum(p["build_ms"].values()) for p in traced),
            **{f"{m}.build_ms": median(v) for m, v in by_module.items()},
            **{f"op.{op}.wall_ms": median(p["op_ms"][op] for p in traced) for op in OPS},
            "self_ms_by_layer": tracer.self_ms_by_layer(),
        }
        metrics.update(
            {
                "session.build_s": build_s,
                "units": len(passes),
                "unit.wall_ms": median(p["wall_s"] * 1000 for p in traced),
                "unit.rows": median(p["spark"]["input_records"] for p in traced),
                "program.call_ms": median(sum(p["build_ms"].values()) for p in traced),
                "program.action_ms": median(p["action_ms"] for p in traced),
                "spark.plan_ms": median(p["plan_ms"] for p in traced),
                **{f"spark.{k}": median(p["spark"][k] for p in traced) for k in harness.SPARK_KEYS},
                "cache.pins_released": median(p["pins"] for p in traced),
                "jvm.peak_rss_mb": jvm_mb,
                "python.peak_rss_mb": py_mb,
                "trace.overhead_pct": (
                    median(p["wall_s"] for p in traced)
                    / median(p["wall_s"] for p in passes[1:] if not p["traced"])
                    - 1
                ) * 100,
            }
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "stamp": stamp,
        "tracer": tracer,
    }
