#!/usr/bin/env python3
"""Benchmark entry point: CDC backfill, steady CDC ingest with point lookups,
and analytics queries, in one Spark session on ``local[4]``.

Run from the repository root::

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). The line before it records the run context.
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "olr_cdc_oracle_with_dbz_spark"

#: workload -> (time the backfill drains measure for, length of the steady
#: window), as multiples of ``--seconds``, and the number of warm analytics
#: passes. The drains run at least three times. Every workload runs all three
#: phases, since each must report every end-to-end metric; ``cdc`` gives more
#: of the run to the steady window, ``analytics`` to a second warm pass.
WORKLOADS = {"cdc": (0.15, 0.9, 1), "analytics": (0.15, 0.6, 2)}

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "backfill_events_per_s": "events/s",
    "e2e_latency_p50_s": "s",
    "e2e_latency_p95_s": "s",
    "lookup_latency_p50_s": "s",
    "lookup_latency_p90_s": "s",
    "analytics_warm_pass_s": "s",
    "analytics_cold_pass_s": "s",
    "query_latency_p50_s": "s",
    "query_latency_p90_s": "s",
}

STEADY_WARMUP_S = 1.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_context(args, spark, cdc, ana) -> dict:
    from olr_cdc_oracle_with_dbz_spark import hostcal

    from perfbench import analytics, cdc as cdc_mod, harness

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "local_n": harness.CPUS,
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "hostcal_last": hostcal.LAST,
        "offered_events_per_s": cdc_mod.EVENTS_PER_FILE / cdc_mod.FILE_PERIOD_S,
        "delete_share": cdc_mod.DELETE_SHARE,
        "snapshot_events": cdc.n_snapshot,
        "backfill_events": cdc.n_backfill,
        "table_keys": cdc.key_space,
        "analytics_queries": len(analytics.QUERIES),
        "analytics_rows": ana.rows,
        "analytics_warm_passes": WORKLOADS[args.workload][2],
    }


def measure(args, work: str, out_dir: str) -> tuple[dict, dict]:
    from perfbench import analytics, cdc as cdc_mod, harness, report
    from perfbench.tracer import Tracer

    trace = bool(args.trace)
    backfill_share, steady_share, warm_passes = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=trace)
    secs = args.seconds
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", root=True):
            spark = harness.start_session(work)
        setup = {"get_spark_s": time.perf_counter() - t0}
        rss.watch(harness.jvm_pid())
        cdc = ana = None
        walls: dict[str, float] = {}
        try:
            if trace:
                report.install_layer_spans(tracer)
            cdc = cdc_mod.Cdc(spark, work, args.seed, tracer, detail=trace)
            with tracer.span("setup.cdc", root=True):
                cdc.setup()
            ana = analytics.Analytics(spark, work, args.seed, tracer)
            with tracer.span("setup.analytics", root=True):
                ana.setup()
            setup.update(cdc.setup_s)
            setup.update(ana.setup_s)
            walls["setup"] = time.perf_counter() - t0
            cdc.backfill(backfill_share * secs)
            walls["backfill"] = time.perf_counter() - t0 - sum(walls.values())
            steady = cdc.steady(STEADY_WARMUP_S, steady_share * secs)
            walls["steady"] = time.perf_counter() - t0 - sum(walls.values())
            cuts = {}
            if trace:  # untimed probes; they leave the table as the seed state
                cuts.update(report.vacuum_probe(spark, cdc))
                cuts.update(report.envelope_cuts(spark, cdc))
                walls["probes"] = time.perf_counter() - t0 - sum(walls.values())
            ana.run(warm_passes)
            walls["analytics"] = time.perf_counter() - t0 - sum(walls.values())
            failed_queries = ana.check()
            walls["checks"] = time.perf_counter() - t0 - sum(walls.values())
            context = run_context(args, spark, cdc, ana)
        finally:
            tracer.restore()
            if cdc is not None:
                cdc.close()
            harness.stop_session(spark)
    context["setup_parts_s"] = setup
    context["phase_wall_s"] = walls
    context["drain_s"] = cdc.drain_s
    context["query_cold_s"] = ana.cold
    context["query_warm_s"] = ana.warm_median()
    context["errors"] = cdc.errors + [f"{n}: {m}" for n, m in ana.errors.items()]
    context["failed_oracle_queries"] = failed_queries
    attempted = cdc.attempted + ana.attempted
    failed = cdc.failed + len(ana.errors)
    context["error_rate"] = failed / attempted
    if trace:
        tracer.dump(os.path.join(out_dir, f"spans-{run_id}.json"))
        metrics = report.layer_metrics(tracer, cdc, ana, steady, cuts, setup)
    else:
        metrics = report.e2e_metrics(cdc, ana, steady, setup, rss.peak_mb)
    units = E2E_UNITS if not trace else report.LAYER_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, context


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # everything the run writes stays inside the checkout (Python temp files);
    # Python workers import the engine from the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the short-lived JVM that assembles the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    from perfbench import harness

    os.environ["SPARK_GRAFT_CPUS"] = str(harness.CPUS)
    try:
        result, context = measure(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(context, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
