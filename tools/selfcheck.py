"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf directory, then compares row count, sorted column names, and
an order-insensitive value comparison. Use while iterating:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_flink_example_spark.session import local_test_session  # noqa: E402
from emr_flink_example_spark.testing import compare, connect_oracle  # noqa: E402


def run(sf_dir: str, only: list[str], json_out: str | None = None) -> int:
    from __spark_entry__ import oracle_sql, queries

    spark = local_test_session()
    spark.sparkContext.setLogLevel("ERROR")
    con = connect_oracle(sf_dir)

    qs, os_ = queries(), oracle_sql()
    names = only or list(qs)
    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    # flat memory across the sweep is mechanical now: all_queries() drains
    # the previous query's pinned frames before each build (VERDICT r9 #5)
    for name in names:
        t0 = time.time()
        if name not in os_:
            try:
                n = len(qs[name](spark, sf_dir).collect())
                print(f"rows  {name}: {n} rows (no oracle) [{time.time()-t0:.1f}s]")
                results[name] = {"status": "rows_only", "rows": n}
                n_rows_only += 1
            except Exception:
                print(f"FAIL  {name}: spark error")
                traceback.print_exc(limit=4)
                results[name] = {"status": "fail", "detail": "spark error"}
                n_fail += 1
            continue
        try:
            ok, msg = compare(spark, con, qs[name], os_[name], sf_dir)
        except Exception:
            print(f"FAIL  {name}: error")
            traceback.print_exc(limit=4)
            results[name] = {"status": "fail", "detail": "error"}
            n_fail += 1
            continue
        if ok:
            print(f"PASS  {name}: {msg} [{time.time()-t0:.1f}s]")
            results[name] = {"status": "pass", "detail": msg}
            n_pass += 1
        else:
            print(f"FAIL  {name}: {msg}")
            results[name] = {"status": "fail", "detail": msg}
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_rows_only,
                    "n_total": len(names),
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(
        description="Local replica of the driver's correctness gate."
    )
    ap.add_argument("--json", metavar="OUT.json", default=None, dest="json_out")
    ap.add_argument(
        "rest",
        nargs="*",
        help="optional sf dir (any arg containing '/') and/or query names",
    )
    ns = ap.parse_args()
    sf_dirs = [a for a in ns.rest if "/" in a]
    if len(sf_dirs) > 1:
        ap.error(f"multiple sf dirs given: {sf_dirs}")
    sf = sf_dirs[0] if sf_dirs else "/root/testdata/sf0.01"
    only = [a for a in ns.rest if "/" not in a]
    sys.exit(run(sf, only, ns.json_out))
