"""Scaling-curve harness (VERDICT r10 #3): run the headline bench set at
sf0.001 / sf0.01 / sf0.1 and fit a per-query growth exponent, so the
complexity claims the operator docstrings make ("linear in corpus size",
"bounded by |user-days| x 7", ...) are MEASURED, not asserted.

Method: per SF, the same warmup + min-of-3 protocol as bench.py; the
exponent is fitted on the overhead-cancelling difference quotient
    exp = log10( (t(sf0.1) - t(sf0.01)) / (t(sf0.01) - t(sf0.001)) )
which removes the per-job fixed cost (scheduler + codegen + footer reads,
~0.1-0.5 s on this host) that dominates small-SF wall times — a plain
t3/t2 ratio would misread every fast query as sub-linear. Queries whose
sf0.1 time is under OVERHEAD_FLOOR_SEC are classified overhead_bound (the
fixed cost IS their wall time; no exponent is meaningful), and noisy
differences below NOISE_FLOOR_SEC fall back to the raw ratio with a
method tag saying so.

A query is flagged super_linear when its fitted exponent exceeds
SUPER_LINEAR_AT and it is not overhead-bound — the reviewable shortlist
BASELINE.md names, each either explained (domain-bounded growth that
stops at its cap) or a bug to fix.

Writes SCALING_r{N}.json (round from $SPARK_GRAFT_ROUND, default local).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from emr_flink_example_spark import cache  # noqa: E402
from emr_flink_example_spark.io import TABLES, load  # noqa: E402
from emr_flink_example_spark.plans import catalog  # noqa: E402
from emr_flink_example_spark.session import local_test_session  # noqa: E402

SFS = ("0.001", "0.01", "0.1")
OVERHEAD_FLOOR_SEC = 1.0
NOISE_FLOOR_SEC = 0.08
SUPER_LINEAR_AT = 1.3

def _run_once(spark, queries, name: str, sf_dir: str) -> float:
    if name == "curate_for_training":
        from emr_flink_example_spark.operators.curation import curate_for_training

        out = tempfile.mkdtemp(prefix="scaling-curate-")
        try:
            t0 = time.time()
            curate_for_training(spark, sf_dir, out)
            return time.time() - t0
        finally:
            shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.time() - t0


def _fit(t1: float, t2: float, t3: float) -> tuple[float | None, str]:
    """Growth exponent across the 10x SF steps; see module docstring."""
    if t3 < OVERHEAD_FLOOR_SEC:
        return None, "overhead_bound"
    d32, d21 = t3 - t2, t2 - t1
    if d32 > NOISE_FLOOR_SEC and d21 > NOISE_FLOOR_SEC:
        return round(math.log10(d32 / d21), 3), "difference_quotient"
    if t2 > 0:
        return round(math.log10(max(t3, 1e-3) / max(t2, 1e-3)), 3), "raw_ratio"
    return None, "unmeasurable"


def main() -> None:
    spark = local_test_session()
    spark.sparkContext.setLogLevel("ERROR")
    queries = catalog.all_queries(managed=False)

    times: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    for sf in SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        try:
            _run_once(spark, queries, HEADLINE[0], sf_dir)
            for t in TABLES:
                load(spark, sf_dir, t).count()
        except Exception:
            pass
        for name in HEADLINE:
            runs = 1 if name == "curate_for_training" else 3
            try:
                best = min(_run_once(spark, queries, name, sf_dir) for _ in range(runs))
                times.setdefault(name, {})[sf] = round(best, 3)
            except Exception as exc:
                errors[name] = f"sf{sf}: {exc}"[:300]
            cache.unpersist_all(spark)
        print(f"== sf{sf} done ==", file=sys.stderr)

    per_query = {}
    flagged = []
    for name, by_sf in times.items():
        if len(by_sf) != 3:
            continue
        t1, t2, t3 = (by_sf[sf] for sf in SFS)
        exp, method = _fit(t1, t2, t3)
        rec = {"sec": by_sf, "exponent": exp, "method": method}
        if exp is not None and method != "overhead_bound" and exp > SUPER_LINEAR_AT:
            rec["super_linear"] = True
            flagged.append(name)
        per_query[name] = rec

    rnd = os.environ.get("SPARK_GRAFT_ROUND", "local")
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), f"SCALING_r{rnd}.json"
    )
    doc = {
        "metric": "scaling_exponents",
        "sfs": list(SFS),
        "method": "min-of-3 noop-sink wall time per SF; exponent = log10 of "
        "the (t3-t2)/(t2-t1) difference quotient (cancels fixed per-job "
        "overhead); overhead_bound when t(sf0.1) < "
        f"{OVERHEAD_FLOOR_SEC}s; super_linear flag at exponent > {SUPER_LINEAR_AT}",
        "n_queries": len(per_query),
        "super_linear": sorted(flagged),
        "errors": errors,
        "queries": per_query,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
    print(json.dumps({
        "metric": "scaling_summary",
        "n_queries": len(per_query),
        "n_super_linear": len(flagged),
        "super_linear": sorted(flagged),
        "artifact": out_path,
    }))


if __name__ == "__main__":
    main()
