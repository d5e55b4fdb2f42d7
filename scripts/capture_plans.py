#!/usr/bin/env python
"""Capture .explain("formatted") for registry queries into plans/<round>/.

Usage:
    python scripts/capture_plans.py <suffix> [name ...]

Writes plans/<round>/<query>_<suffix>.txt (round via PLANS_ROUND_DIR, default r20) for each named query (default: every
bench-timed query). The session is bench.py's own (``bench_session``:
hostcal thread pool, AQE off, 8 shuffle partitions, layout mirror, catalog
pre-touch, co-bucketed facts) so the captured plan is the one the bench
executes. Queries whose construction runs Spark jobs (l4c Lloyd, l2e
propagation, q03/q04 write round-trips) execute those jobs here too — the
captured text is the final query's plan, as in the bench.
"""

from __future__ import annotations

import os
import sys

ROUND_DIR = os.environ.get("PLANS_ROUND_DIR", "r20")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    out_dir = os.path.join(repo, "plans", ROUND_DIR)
    os.makedirs(out_dir, exist_ok=True)

    from bench import bench_session
    from olr_cdc_oracle_with_dbz_spark.registry import load_all

    spark = bench_session(sf_dir)[0]
    registry = load_all()
    names = [n for n, s in sorted(registry.items()) if s.bench]
    if only:
        names = [n for n in names if n in only]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        try:
            df = registry[name].spark_fn(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as ex:  # capture must not die on one query
            text = f"ERROR capturing plan: {ex}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"captured {name}_{suffix}")


if __name__ == "__main__":
    main()
