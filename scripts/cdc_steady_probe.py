#!/usr/bin/env python
"""Machine-readable CDC steady-state merge probe (r7 verdict item 7).

Generates the synthetic Debezium envelope corpus for SPARK_GRAFT_SF_DIR
(default: the /tmp/sfscale/sf1 replica — ~2.15M events), seeds a
ParquetUpsertTable with the INSERT events (untimed — that's bulk load),
then times merging the update/delete tail into that populated state: the
read-back of touched buckets + compact over base ∪ batch that every
production micro-batch pays. Also reports the empty-table bulk merge as
the labeled upper bound. Prints ONE JSON line; commit it as
CDC_STEADY_r{N}.json.

Method notes:
- best-of-2 per phase (JVM codegen warmup on run 1, same policy as
  bench.py's CDC section);
- state reset between runs by copytree from the seed (untimed);
- all timings wall-clock around merge_batch only.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spool_compare(spark, work: str, seed: str, tail, n_tail: int) -> dict:
    """r10 verdict item 4: the min_batch_events spool, measured end-to-end.

    The steady-merge headline times ONE big tail merge; production streams
    arrive as many undersized micro-batches, each paying the ~1 s commit
    floor (CDC_STEADY_r09 decomposition). This phase splits the tail into
    K micro-batches (hash-split by key, so each key's events stay within
    one batch) and merges them into the seeded state two ways:

      unspooled — merge_batch per micro-batch (floor paid K times);
      spooled   — the production spool path (spool_batch → threshold
                  flush → tail flush), floor paid ceil(n/threshold)+1
                  times; staging is a plain parquet append of batch bytes.

    Both modes read identical pre-staged parquet batches and start from a
    copytree of the same seed (untimed). Best-of-2 per mode. The spooled
    loop is exactly ``ParquetUpsertTable.foreach_batch``'s post-unwrap
    logic plus the ``run_to_completion`` tail flush.
    """
    from pyspark.sql import functions as F

    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
        ParquetUpsertTable,
    )

    # micro-batch size pinned at ~100k events (the verdict's production
    # shape: undersized batches under a 500k threshold) so the comparison
    # stays the scenario the knob exists for at every corpus size; k=10
    # minimum keeps the small corpora multi-batch
    threshold = 500_000
    k = max(10, int(round(n_tail / 100_000)))
    parts = f"{work}/parts"
    (
        tail.withColumn("_mb", F.pmod(F.xxhash64(F.col("id")), F.lit(k)))
        .write.partitionBy("_mb")
        .mode("overwrite")
        .parquet(parts)
    )
    batches = [
        spark.read.parquet(f"{parts}/_mb={i}") for i in range(k)
        if os.path.isdir(f"{parts}/_mb={i}")
    ]

    def run(spooled: bool) -> tuple[float, int]:
        tgt = f"{work}/spoolcmp"
        shutil.rmtree(tgt, ignore_errors=True)
        shutil.copytree(seed, tgt)
        table = ParquetUpsertTable(spark, tgt, key="id")
        t0 = time.perf_counter()
        # batch ids start at 1: the seed was committed as batch 0, and a
        # merge with the SAME id would overwrite the version dir it is
        # concurrently reading back
        for i, b in enumerate(batches, start=1):
            if not spooled:
                table.merge_batch(b, i)
                continue
            table.spool_batch(b, i)
            if table.spool_events() >= threshold:
                table.flush_spool(i)
        if spooled:
            table.flush_spool()
        el = time.perf_counter() - t0
        return el, table.read().count()

    un_sec, un_n = min(run(False) for _ in range(2))
    sp_sec, sp_n = min(run(True) for _ in range(2))
    assert un_n == sp_n, f"spool path diverged: {un_n} != {sp_n}"
    return {
        "micro_batches": len(batches),
        "events": n_tail,
        "min_batch_events": threshold,
        "unspooled_sec": round(un_sec, 3),
        "unspooled_events_per_sec": round(n_tail / un_sec, 1),
        "spooled_sec": round(sp_sec, 3),
        "spooled_events_per_sec": round(n_tail / sp_sec, 1),
        "spool_speedup": round(un_sec / sp_sec, 2),
        "final_rows_equal": True,
    }


def main() -> None:
    # SPARK_GRAFT_SF_DIRS: comma-separated corpus dirs probed in ONE
    # session, same window (r8 verdict item 4 — cross-corpus comparisons
    # from different windows were uninterpretable); falls back to the
    # single SPARK_GRAFT_SF_DIR.
    dirs = os.environ.get(
        "SPARK_GRAFT_SF_DIRS",
        os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sfscale/sf1"),
    ).split(",")
    from olr_cdc_oracle_with_dbz_spark.hostcal import apply_calibration
    from olr_cdc_oracle_with_dbz_spark.session import get_spark

    apply_calibration()
    spark = get_spark(
        "cdc-steady-probe",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from olr_cdc_oracle_with_dbz_spark import hostcal

    results = {"corpora": [], "host_calibration": hostcal.LAST}
    for sf_dir in dirs:
        results["corpora"].append(_probe_one(spark, sf_dir.strip()))
    print(json.dumps(results))


def _probe_one(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from olr_cdc_oracle_with_dbz_spark.cdc.envelope import (
        parse_envelope,
        source_filter,
        unwrap,
    )
    from olr_cdc_oracle_with_dbz_spark.cdc.genload import generate_envelope_lines
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

    work = tempfile.mkdtemp(prefix="cdc-steady-")
    out: dict = {"sf_dir": sf_dir}
    try:
        n_events = generate_envelope_lines(spark, sf_dir, f"{work}/in")
        unw = unwrap(
            source_filter(
                parse_envelope(spark.read.text(f"{work}/in"), "value"),
                "OLR_DB",
                "PRODUCT",
            )
        )
        tail = unw.filter(F.col("op") != "c")
        n_tail = tail.count()
        out.update(events_total=n_events, events_tail=n_tail)

        # labeled upper bound: whole corpus -> EMPTY table (bulk load)
        bulk_best = float("inf")
        for _ in range(2):
            shutil.rmtree(f"{work}/bulk", ignore_errors=True)
            t0 = time.perf_counter()
            ParquetUpsertTable(spark, f"{work}/bulk", key="id").merge_batch(unw, 0)
            bulk_best = min(bulk_best, time.perf_counter() - t0)
        out.update(
            bulk_merge_sec=round(bulk_best, 3),
            bulk_merge_events_per_sec=round(n_events / bulk_best, 1),
        )

        # steady state: seed with the inserts (untimed), time the tail
        seed = f"{work}/seed"
        ParquetUpsertTable(spark, seed, key="id").merge_batch(
            unw.filter(F.col("op") == "c"), 0
        )
        steady_best = float("inf")
        for _ in range(2):
            tgt = f"{work}/steady"
            shutil.rmtree(tgt, ignore_errors=True)
            shutil.copytree(seed, tgt)  # reset state, untimed
            t0 = time.perf_counter()
            ParquetUpsertTable(spark, tgt, key="id").merge_batch(tail, 1)
            steady_best = min(steady_best, time.perf_counter() - t0)
        out.update(
            steady_tail_merge_sec=round(steady_best, 3),
            steady_merge_events_per_sec=round(n_tail / steady_best, 1),
            method="seed merge untimed; tail merge timed; best of 2; "
            "bulk figure is the empty-table upper bound",
        )
        out["spool"] = _spool_compare(spark, work, seed, tail, n_tail)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


if __name__ == "__main__":
    main()
