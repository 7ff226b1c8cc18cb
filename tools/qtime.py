"""Per-query timing + plan capture harness for optimization iteration.

Times a named subset of catalog queries exactly the way bench.py does
(noop sink, warm session, min-of-N) without paying for the whole headline
sweep, and optionally dumps each query's ``explain("formatted")`` to
``plans/<round>/<query>_<tag>.txt`` so before/after plan evidence is committed
alongside the timing numbers. Each run also prints the generated classes
it compiled and, approximately, the ms they took (`session.codegen_compiles`).

    python tools/qtime.py [-n RUNS] [--explain TAG --round R] [--sf DIR] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_flink_example_spark import cache  # noqa: E402
from emr_flink_example_spark.plans import catalog  # noqa: E402
from emr_flink_example_spark.session import codegen_compiles, local_test_session  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=3, help="runs per query (report min)")
    ap.add_argument("--explain", metavar="TAG", default=None,
                    help="dump explain('formatted') to plans/<round>/<q>_<TAG>.txt")
    ap.add_argument("--round", help="plans/ subdir for --explain dumps"
                    " (required with --explain)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    args = ap.parse_args()
    if args.explain and not args.round:
        ap.error("--explain needs --round (the plans/ subdir to write into)")

    spark = local_test_session()
    spark.sparkContext.setLogLevel("ERROR")
    queries = catalog.all_queries(managed=False)

    # warmup: same recipe as bench.py (one full query + per-table counts)
    from emr_flink_example_spark.io import TABLES, load
    try:
        queries["pricing_summary_q1"](spark, args.sf).write.mode(
            "overwrite").format("noop").save()
        for t in TABLES:
            load(spark, args.sf, t).count()
    except Exception:
        pass
    cache.unpersist_all(spark)

    out = {}
    for name in args.names:
        if args.explain:
            os.makedirs(os.path.join(REPO, "plans", args.round), exist_ok=True)
            df = queries[name](spark, args.sf)
            with open(os.path.join(REPO, "plans", args.round,
                                   f"{name}_{args.explain}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            cache.unpersist_all(spark)
        runs, compiles, compile_ms = [], [], []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            n0, _ = codegen_compiles(spark)
            t0 = time.time()
            queries[name](spark, args.sf).write.mode(
                "overwrite").format("noop").save()
            runs.append(round(time.time() - t0, 3))
            n1, mean_ms = codegen_compiles(spark)
            compiles.append(n1 - n0)
            compile_ms.append(round((n1 - n0) * mean_ms, 1))
            cache.unpersist_all(spark)
        out[name] = {"min": min(runs), "runs": runs}
        print(f"{min(runs):8.3f}  {name}  {runs}  codegen_compiles {compiles}"
              f"  codegen_ms~ {compile_ms}", flush=True)
    print(json.dumps({k: v["min"] for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
