"""CDC phases: backfill drains, then steady open-loop ingest with lookups.

Both phases drive the production entry point ``pipeline.run_pipeline`` over
Debezium-JSON files in one watched directory, into one upsert table:

1. set-up: the initial snapshot (``op=r`` for every key) is drained into an
   empty table; table and checkpoint are kept as the seed state.
2. backfill: a catch-up corpus lands in the directory and is drained with
   ``trigger_once`` and the production sink config (bounded files per
   trigger, spooled micro-batches). Before each drain the table and the
   checkpoint are restored from the seed state (untimed).
3. steady: a generator thread writes one update/delete file every 100 ms on
   a fixed schedule (open loop) while a continuous pipeline merges every
   micro-batch and a reader thread issues point lookups (closed loop).

The table content is compared with the generator's model after every drain
and after the steady window.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np

from perfbench.gen import ChangeStream, write_lines

SNAPSHOT_KEYS = 30_000
BACKFILL_KEYS = 20_000  # half already in the snapshot, half new: ~28k events
BACKFILL_FILES = 4
MAX_FILES_PER_TRIGGER = 2
BACKFILL_MIN_BATCH_EVENTS = 20_000
FILE_PERIOD_S = 0.1
EVENTS_PER_FILE = 500  # 5k events/s offered
DELETE_SHARE = 0.05


def table_digest(df) -> tuple[int, int]:
    """(row count, checksum) of a table read — the Spark form of
    :meth:`perfbench.gen.TableModel.digest`."""
    from pyspark.sql import functions as F

    if df is None:
        return 0, 0
    term = F.pmod(
        F.col("id") * F.lit(1_000_003)
        + (F.col("price") * 100).cast("long") * F.lit(7919)
        + F.col("stock").cast("long") * F.lit(31)
        + F.length("name"),
        F.lit(2_147_483_647),
    )
    r = df.agg(F.count("*").alias("n"), F.sum(term).alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def batches_of_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's offset log in the
    checkpoint (``sources/0/<batch>`` and its ``.compact`` files; each holds
    a version line, then one JSON entry per file with ``path``/``batchId``)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for fn in os.listdir(d):
        if fn.startswith("."):
            continue
        with open(os.path.join(d, fn)) as f:
            for line in f.read().splitlines()[1:]:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def epoch_s(ts: str) -> float:
    """Seconds since the epoch of a progress report's ISO timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_intervals(progress: list[dict], clock: float) -> list[tuple[float, float]]:
    """(start, end) of every trigger in ``progress`` that read input, on the
    ``time.perf_counter`` clock (``clock`` = wall clock - perf counter)."""
    out = []
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            start = epoch_s(p["timestamp"]) - clock
            out.append((start, start + p["durationMs"]["triggerExecution"] / 1000.0))
    return out


def file_latencies(due: dict[str, float], batch_of: dict[str, int],
                   committed: dict[int, float]) -> dict[str, float]:
    """Per file: time from when it was due to land until the commit of the
    micro-batch that made its rows readable returned. Files whose batch has
    no recorded commit are left out (the caller counts them as failed)."""
    out = {}
    for name, t_due in due.items():
        b = batch_of.get(name)
        if b is not None and b in committed:
            out[name] = committed[b] - t_due
    return out


class MergeRecorder:
    """Wraps ``ParquetUpsertTable.merge_batch`` to record when each batch's
    commit returned (wall clock), and, when ``detail`` is set, the buckets
    and bytes that merge wrote (from its version directory on disk)."""

    def __init__(self, detail: bool):
        self.detail = detail
        self.committed: dict[int, float] = {}
        self.touched: list[int] = []
        self.bytes: dict[int, int] = {}
        self.detail_s = 0.0  # time spent collecting the detail (tracing cost)
        self._orig = None

    def install(self) -> None:
        from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

        orig = ParquetUpsertTable.merge_batch
        rec = self

        def merge_batch(table, unwrapped, batch_id):
            out = orig(table, unwrapped, batch_id)
            rec.committed[batch_id] = time.time()
            if rec.detail:
                t0 = time.perf_counter()
                vdir = os.path.join(table.table_dir, f"v{batch_id:020d}")
                if os.path.isdir(vdir):
                    rec.touched.append(sum(n.startswith("pb=") for n in os.listdir(vdir)))
                    rec.bytes[batch_id] = sum(
                        os.path.getsize(os.path.join(r, n))
                        for r, _d, names in os.walk(vdir) for n in names
                    )
                rec.detail_s += time.perf_counter() - t0
            return out

        self._orig = orig
        ParquetUpsertTable.merge_batch = merge_batch

    def uninstall(self) -> None:
        from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

        if self._orig is not None:
            ParquetUpsertTable.merge_batch = self._orig
            self._orig = None


class Cdc:
    def __init__(self, spark, work: str, seed: int, tracer, detail: bool):
        self.spark = spark
        self.tracer = tracer
        self.src = os.path.join(work, "cdc_in")
        self.table_dir = os.path.join(work, "table")
        self.ckpt = os.path.join(work, "ckpt")
        self.seed_table = os.path.join(work, "seed_table")
        self.seed_ckpt = os.path.join(work, "seed_ckpt")
        self.stream = ChangeStream(seed)
        self.lookup_rng = np.random.default_rng((seed, 1))
        self.key_space = 0
        self.recorder = MergeRecorder(detail)
        self.recorder.install()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n_snapshot = self.n_backfill = 0
        self.backfill_model = None
        self.drain_s: list[float] = []
        #: per timed drain: (start, end, trigger intervals), perf-counter clock
        self.drain_triggers: list[tuple[float, float, list]] = []
        self.setup_s: dict[str, float] = {}

    def close(self) -> None:
        self.recorder.uninstall()

    def _config(self, min_batch_events: int, max_files: int | None) -> dict:
        src = {"format": "debezium-json", "path": self.src}
        if max_files:
            src["max_files_per_trigger"] = max_files
        return {
            "source": src,
            "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
            "sink": {"table_dir": self.table_dir, "pk": "id",
                     "min_batch_events": min_batch_events},
            "checkpoint": self.ckpt,
        }

    def _gate(self, what: str, model) -> bool:
        """Compare the table with ``model``; a mismatch is a failed attempt."""
        from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

        self.attempted += 1
        got = table_digest(ParquetUpsertTable(self.spark, self.table_dir, key="id").read())
        want = model.digest()
        if got != want:
            self.failed += 1
            self.errors.append(f"{what}: table (rows, checksum) {got} != model {want}")
            return False
        return True

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        from olr_cdc_oracle_with_dbz_spark import pipeline

        os.makedirs(self.src)
        t0 = time.perf_counter()
        with self.tracer.span("gen.cdc"):
            snap = self.stream.snapshot(SNAPSHOT_KEYS)
            for i in range(4):
                write_lines(os.path.join(self.src, f"a_snapshot_{i}.json"), snap[i::4])
            snapshot_model = self.stream.model.copy()
            first = SNAPSHOT_KEYS - BACKFILL_KEYS // 2
            corpus = self.stream.backfill(first, BACKFILL_KEYS)
            self.key_space = first + BACKFILL_KEYS
            self.backfill_model = self.stream.model.copy()
        self.n_snapshot, self.n_backfill = len(snap), len(corpus)
        t1 = time.perf_counter()
        # one micro-batch, merged directly: the cheapest initial load
        cfg = self._config(0, None)
        with self.tracer.span("pipeline.run_pipeline"):
            q, _table = pipeline.run_pipeline(self.spark, cfg, trigger_once=True)
            q.awaitTermination()
        t2 = time.perf_counter()
        self.setup_s = {"cdc_datagen_s": t1 - t0, "seed_drain_s": t2 - t1}
        self._gate("snapshot drain", snapshot_model)
        shutil.copytree(self.table_dir, self.seed_table)
        shutil.copytree(self.ckpt, self.seed_ckpt)
        per = -(-len(corpus) // BACKFILL_FILES)
        for i in range(BACKFILL_FILES):
            write_lines(os.path.join(self.src, f"b_backfill_{i}.json"),
                        corpus[i * per:(i + 1) * per])

    # -- backfill -------------------------------------------------------------
    def _restore(self) -> None:
        for d in (self.table_dir, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.seed_table, self.table_dir)
        shutil.copytree(self.seed_ckpt, self.ckpt)

    def drain(self) -> float:
        """One timed backfill drain from the seed state; returns seconds."""
        from olr_cdc_oracle_with_dbz_spark import pipeline

        self._restore()
        cfg = self._config(BACKFILL_MIN_BATCH_EVENTS, MAX_FILES_PER_TRIGGER)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("cdc_backfill.drain", root=True):
                with self.tracer.span("pipeline.run_pipeline"):
                    q, _table = pipeline.run_pipeline(self.spark, cfg, trigger_once=True,
                                                      timeout_sec=120)
                q.awaitTermination()
        except Exception as ex:  # a failed drain is counted, not fatal
            self.failed += 1
            self.errors.append(f"backfill drain: {ex}"[:300])
            return -1.0
        t1 = time.perf_counter()
        progress = [json.loads(p.json) for p in q.recentProgress]
        self.drain_triggers.append(
            (t0, t1, trigger_intervals(progress, time.time() - time.perf_counter())))
        self._gate("backfill drain", self.backfill_model)
        return t1 - t0

    def backfill(self, budget_s: float, min_drains: int = 3) -> None:
        """Timed drains until ``budget_s`` of wall time has passed (at least
        ``min_drains``; the reported figure is their median, so the first
        drain, which still warms the spooled path up, does not set it)."""
        t_end = time.perf_counter() + budget_s
        i = 0
        while i < min_drains or time.perf_counter() < t_end:
            el = self.drain()
            if el > 0:
                self.drain_s.append(el)
            i += 1

    # -- steady ---------------------------------------------------------------
    def steady(self, warmup_s: float, window_s: float) -> dict:
        """Open-loop ingest with concurrent lookups; returns raw samples."""
        from olr_cdc_oracle_with_dbz_spark import pipeline
        from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

        cfg = self._config(0, None)
        with self.tracer.span("pipeline.run_pipeline"):
            q, _table = pipeline.run_pipeline(self.spark, cfg, trigger_once=False)
        reader = ParquetUpsertTable(self.spark, self.table_dir, key="id")
        t0 = time.time() + 0.5
        t_win = t0 + warmup_s
        t_end = t_win + window_s
        due: dict[str, float] = {}
        late: list[float] = []
        lookups: list[tuple[float, float]] = []
        lookup_errors: list[str] = []
        stream = self.stream
        rng = self.lookup_rng

        def generate() -> None:
            i = 0
            while True:
                t_due = t0 + i * FILE_PERIOD_S
                if t_due >= t_end:
                    return
                wait = t_due - time.time()
                if wait > 0:
                    time.sleep(wait)
                late.append(max(0.0, time.time() - t_due))
                name = f"s_{i:06d}.json"
                ts_ms = 1_704_153_600_000 + i * 100
                write_lines(os.path.join(self.src, name),
                            stream.updates(EVENTS_PER_FILE, self.key_space, ts_ms,
                                           DELETE_SHARE))
                due[name] = t_due
                i += 1

        def lookup() -> None:
            while time.time() < t_end:
                key = int(rng.integers(0, self.key_space))
                t_start = time.time()
                s0 = time.perf_counter()
                try:
                    with self.tracer.span("read_keys.lookup"):
                        df = reader.read_keys([key])
                        if df is not None:
                            df.collect()
                except Exception as ex:  # counted, the loop goes on
                    lookup_errors.append(str(ex)[:200])
                    continue
                lookups.append((t_start, time.perf_counter() - s0))

        threads = [threading.Thread(target=generate, name="generator"),
                   threading.Thread(target=lookup, name="reader")]
        with self.tracer.span("cdc_steady.window", root=True):
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            try:
                q.processAllAvailable()
            except Exception as ex:  # files left uncommitted count as failed
                self.errors.append(f"steady stream: {ex}"[:300])
            finally:
                q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
        self._gate("steady ingest", self.stream.model)
        batch_of = batches_of_files(self.ckpt)
        win_files = {n: t for n, t in due.items() if t >= t_win}
        lat = file_latencies(win_files, batch_of, self.recorder.committed)
        win_lookups = [d for ts, d in lookups if ts >= t_win]
        self.attempted += len(win_files) + len(win_lookups) + len(lookup_errors)
        self.failed += len(win_files) - len(lat) + len(lookup_errors)
        self.errors += lookup_errors[:5]
        return {
            "t_win": t_win, "t_end": t_end, "due": due, "batch_of": batch_of,
            "file_latency": lat, "lookups": win_lookups, "late": late,
            "progress": progress, "files": len(win_files),
        }


def ingest_layer(steady: dict, recorder: MergeRecorder) -> dict[str, float]:
    """Per-layer ingest figures of the steady window, from the query's
    progress reports and the checkpoint's file -> batch map."""
    prog = [p for p in steady["progress"] if p.get("numInputRows", 0) > 0]
    start = {p["batchId"]: epoch_s(p["timestamp"]) for p in prog}
    due, batch_of = steady["due"], steady["batch_of"]
    waits = [start[batch_of[n]] - t for n, t in due.items()
             if t >= steady["t_win"] and batch_of.get(n) in start]
    backlog = 0
    for b, t_b in start.items():
        backlog = max(backlog, sum(1 for n, t in due.items()
                                   if t <= t_b and batch_of.get(n, b) >= b))
    win_batches = [p for p in prog if start[p["batchId"]] >= steady["t_win"]]
    events = sum(p["numInputRows"] for p in win_batches)
    written = sum(recorder.bytes.get(p["batchId"], 0) for p in win_batches)
    return {
        "ingest.batches": float(len(win_batches)),
        "ingest.events_per_batch_p50": np.percentile(
            [p["numInputRows"] for p in win_batches] or [0], 50),
        "ingest.wait_s": np.percentile(waits or [0.0], 50),
        "ingest.backlog_max_files": float(backlog),
        "ingest.getbatch_s": np.percentile(
            [p["durationMs"].get("getBatch", 0) / 1000.0 for p in win_batches] or [0.0], 50),
        "ingest.engine_s": engine_s(win_batches) / max(1, len(win_batches)),
        "materialize.bytes_written_per_event": written / events if events else 0.0,
    }


def engine_s(progress: list[dict]) -> float:
    """Structured Streaming's own time in the given batches: each trigger's
    ``triggerExecution`` minus its ``addBatch`` (the foreachBatch sink call),
    i.e. offset listing, write-ahead and commit logs, and planning."""
    return sum((p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0))
               / 1000.0 for p in progress if p.get("numInputRows", 0) > 0)
