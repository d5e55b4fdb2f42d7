"""Turn a run's samples and spans into the reported metrics."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from perfbench import analytics
from perfbench.tracer import by_name, covered, self_times

#: registry modules, in the order their per-layer metrics are reported
MODULES = (
    "operators.scans", "operators.project_filter", "functions.scalar",
    "operators.joins", "operators.windows", "operators.aggregates",
    "operators.setops", "operators.subqueries", "cdc.queries",
    "streaming.batch_equiv", "functions.udfs", "llmops.dedup",
    "llmops.similarity", "llmops.text", "llmops.multimodal",
)

_SINK = ("merge_batch", "spool_batch", "flush_spool", "read_keys")

LAYER_UNITS: dict[str, str] = {
    "envelope.parse_s": "s",
    "envelope.unwrap_s": "s",
    "envelope.compact_s": "s",
    "materialize.write_commit_s": "s",
    "backfill.spool_batch.calls": "count",
    "backfill.spool_batch.busy_s": "s",
    "backfill.flush_spool.calls": "count",
    "backfill.flush_spool.busy_s": "s",
    "backfill.merge_batch.calls": "count",
    "backfill.merge_batch.busy_s": "s",
    "steady.merge_batch.calls": "count",
    "steady.merge_batch.busy_s": "s",
    "steady.merge_batch.p50_s": "s",
    "steady.touched_buckets_per_merge": "count",
    "steady.bytes_written_per_event": "B/event",
    "steady.read_keys.calls": "count",
    "steady.read_keys.busy_s": "s",
    "steady.read_keys.p50_s": "s",
    "ingest.batches": "count",
    "ingest.events_per_batch_p50": "events",
    "ingest.wait_s": "s",
    "ingest.backlog_max_files": "files",
    "ingest.getbatch_s": "s",
    "ingest.engine_s": "s",
    "generator.late_max_s": "s",
    **{f"{m}.{k}": u for m in MODULES
       for k, u in (("execute_s", "s"), ("construct_s", "s"), ("jobs", "count"))},
    "registry.reuse_ratio": "ratio",
    "setup.get_spark_s": "s",
    "setup.seed_drain_s": "s",
    "setup.optimize_dir_s": "s",
    "setup.pretouch_s": "s",
    "setup.ensure_cobucketed_facts_s": "s",
    "backfill.engine_s": "s",
    "maintenance.vacuum_s": "s",
    "maintenance.vacuum_dropped_versions": "count",
    "trace.overhead_pct": "%",
    "trace.unattributed.backfill": "ratio",
    "trace.unattributed.steady_batches": "ratio",
    "trace.unattributed.analytics": "ratio",
}


def install_layer_spans(tracer) -> None:
    """Span every public sink and envelope call, from outside the package."""
    from olr_cdc_oracle_with_dbz_spark.streaming import ingest, materialize

    for m in _SINK:
        tracer.wrap(materialize.ParquetUpsertTable, m, f"materialize.{m}")
    tracer.wrap(ingest, "parse_envelope", "envelope.parse_envelope")
    tracer.wrap(materialize, "unwrap", "envelope.unwrap")
    tracer.wrap(materialize, "compact_latest_clustered",
                "envelope.compact_latest_clustered")


def envelope_cuts(spark, cdc) -> dict[str, float]:
    """Cumulative noop-sink cuts over the backfill corpus: parse, + unwrap,
    + latest-per-key compaction; then one full merge of the corpus into the
    seed table. write_commit = full merge - compact cut (it includes the
    touched-bucket read-back, the parquet write and the commit)."""
    from pyspark.sql import functions as F

    from olr_cdc_oracle_with_dbz_spark.cdc.envelope import (
        compact_latest_clustered,
        parse_envelope,
        source_filter,
        unwrap,
    )
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

    files = sorted(os.path.join(cdc.src, n) for n in os.listdir(cdc.src)
                   if n.startswith("b_backfill_"))
    parsed = source_filter(parse_envelope(spark.read.text(files), "value"))
    unw = unwrap(parsed)
    n_buckets = ParquetUpsertTable.DEFAULT_BUCKETS
    compacted = compact_latest_clustered(
        unw, "id", F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)), n_buckets)

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {"envelope.parse_s": noop(parsed), "envelope.unwrap_s": noop(unw),
           "envelope.compact_s": noop(compacted)}
    shutil.rmtree(cdc.table_dir, ignore_errors=True)
    shutil.copytree(cdc.seed_table, cdc.table_dir)
    t0 = time.perf_counter()
    # a batch id above every label the seed drain committed
    ParquetUpsertTable(spark, cdc.table_dir, key="id").merge_batch(unw, 1_000_000)
    out["materialize.write_commit_s"] = time.perf_counter() - t0 - out["envelope.compact_s"]
    return out


def vacuum_probe(spark, cdc) -> dict[str, float]:
    """One retention vacuum of the table the steady window left behind, down
    to its newest 2 commit records. Auto-vacuum runs on every 32nd commit and
    never deletes a record younger than 60 s, so a run never reaches a
    vacuum that does work; this call (no grace age) measures one that does."""
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

    table = ParquetUpsertTable(spark, cdc.table_dir, key="id", vacuum_grace_sec=0)
    t0 = time.perf_counter()
    dropped = table.vacuum(keep=2)
    return {"maintenance.vacuum_s": time.perf_counter() - t0,
            "maintenance.vacuum_dropped_versions": float(len(dropped))}


def e2e_metrics(cdc, ana, steady: dict, setup: dict, peak_rss_mb: float) -> dict:
    lat = list(steady["file_latency"].values())
    look = steady["lookups"]
    warm = ana.warm_median()
    out = {
        "setup_s": sum(setup.values()),
        "peak_rss_mb": peak_rss_mb,
        "backfill_events_per_s": statistics.median(cdc.n_backfill / s for s in cdc.drain_s),
        "e2e_latency_p50_s": np.percentile(lat, 50),
        "e2e_latency_p95_s": np.percentile(lat, 95),
        "lookup_latency_p50_s": np.percentile(look, 50),
        "lookup_latency_p90_s": np.percentile(look, 90),
        "analytics_warm_pass_s": sum(warm.values()),
        "analytics_cold_pass_s": sum(ana.cold.values()),
        "query_latency_p50_s": np.percentile(list(warm.values()), 50),
        "query_latency_p90_s": np.percentile(list(warm.values()), 90),
    }
    return {k: float(v) for k, v in out.items()}


def _phase_of(spans) -> dict[int, str]:
    """Span id -> name of its outermost ancestor."""
    parent = {s.id: s.parent for s in spans}
    name = {s.id: s.name for s in spans}
    out = {}
    for sid in parent:
        top = sid
        while parent.get(top) is not None and parent[top] in parent:
            top = parent[top]
        out[sid] = name[top]
    return out


def _unattributed(spans, selfs, *root: str) -> float:
    """Share of the ``root`` phase spans' wall time that no child covers."""
    roots = [s for s in spans if s.name in root]
    total = sum(s.end - s.start for s in roots)
    return sum(selfs[s.id] for s in roots) / total if total else 0.0


def layer_metrics(tracer, cdc, ana, steady: dict, cuts: dict, setup: dict) -> dict:
    from perfbench.cdc import engine_s, ingest_layer

    spans = tracer.spans
    phase = _phase_of(spans)
    selfs = self_times(spans)
    out: dict[str, float] = dict(cuts)

    def calls(ph: str, name: str) -> list[float]:
        return [s.end - s.start for s in spans if phase[s.id] == ph and s.name == name]

    for ph, key in (("cdc_backfill.drain", "backfill"), ("cdc_steady.window", "steady")):
        for m in _SINK:
            d = calls(ph, f"materialize.{m}")
            out[f"{key}.{m}.calls"] = float(len(d))
            out[f"{key}.{m}.busy_s"] = sum(d)
            if key == "steady" and m in ("merge_batch", "read_keys"):
                out[f"{key}.{m}.p50_s"] = np.percentile(d or [0.0], 50)
    out["steady.touched_buckets_per_merge"] = np.percentile(cdc.recorder.touched or [0], 50)
    ing = ingest_layer(steady, cdc.recorder)
    out["steady.bytes_written_per_event"] = ing.pop("materialize.bytes_written_per_event")
    out.update(ing)
    out["generator.late_max_s"] = max(steady["late"] or [0.0])

    named = by_name(spans)
    n_warm = max(1, min((len(v) for v in ana.warm.values()), default=1))
    for m in MODULES:
        ex = [s for s in named.get(f"{m}.execute", [])
              if phase[s.id] == "analytics.warm_passes"]
        out[f"{m}.execute_s"] = sum(s.end - s.start for s in ex) / n_warm
        qs = [q for q in analytics.QUERIES if q in ana.construct and
              _module(q) == m]
        out[f"{m}.construct_s"] = sum(ana.construct[q] for q in qs)
        out[f"{m}.jobs"] = float(sum(ana.jobs.get(q, 0) for q in qs))
    out["registry.reuse_ratio"] = sum(ana.reused.values()) / len(analytics.QUERIES)
    for k in ("get_spark_s", "seed_drain_s", "optimize_dir_s", "pretouch_s",
              "ensure_cobucketed_facts_s"):
        out[f"setup.{k}"] = setup.get(k, 0.0)

    measured = sum(s.end - s.start for s in spans if s.parent is None)
    out["trace.overhead_pct"] = (
        100.0 * (tracer.cost_s + cdc.recorder.detail_s) / measured if measured else 0.0)
    # Backfill coverage, per drain: the sink and envelope spans, plus the
    # streaming engine from the query's progress reports (query start-up
    # until the first trigger, and every trigger outside the sink calls).
    layer = [(s.start, s.end) for s in spans if phase[s.id] == "cdc_backfill.drain"
             and s.name.startswith(("materialize.", "envelope."))]
    wall = engine = unattributed = 0.0
    for t0, t1, triggers in cdc.drain_triggers:
        first = min((a for a, _b in triggers), default=t0)
        both = covered(layer + triggers + [(t0, first)], t0, t1)
        engine += both - covered(layer, t0, t1)
        unattributed += (t1 - t0) - both
        wall += t1 - t0
    out["backfill.engine_s"] = engine
    out["trace.unattributed.backfill"] = unattributed / wall if wall else 0.0
    # Steady coverage, over the micro-batches: merge and unwrap calls, plus
    # the engine's share of each trigger (progress reports)
    trig = sum(p["durationMs"]["triggerExecution"] / 1000.0
               for p in steady["progress"] if p.get("numInputRows", 0) > 0)
    sink = sum(calls("cdc_steady.window", "materialize.merge_batch")
               + calls("cdc_steady.window", "envelope.unwrap"))
    out["trace.unattributed.steady_batches"] = (
        1.0 - (sink + engine_s(steady["progress"])) / trig if trig else 0.0)
    out["trace.unattributed.analytics"] = _unattributed(
        spans, selfs, "analytics.cold_pass", "analytics.warm_passes")
    return {k: float(out.get(k, 0.0)) for k in LAYER_UNITS}


def _module(query: str) -> str:
    from olr_cdc_oracle_with_dbz_spark.registry import load_all

    return analytics.module_of(load_all()[query])
