"""Structured Streaming tests (SURVEY §2B S1–S8).

These verify the streaming-only contracts the DuckDB oracle can't reach:
checkpointed resume (the reference's OLR-checkpoint semantics), watermark
late-data handling, streaming dedup, stream-static joins, and that the
streaming upsert sink converges to the batch compaction result (S7 ≡ Q52).
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_with_dbz_spark.catalog import normalize_event_ts
from olr_cdc_oracle_with_dbz_spark.cdc import envelope as E
from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import EXPECTED_FINAL, json_lines
from olr_cdc_oracle_with_dbz_spark.fs import LocalFS
from olr_cdc_oracle_with_dbz_spark.streaming.ingest import read_cdc_stream
from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
    ParquetUpsertTable,
    materialize_stream,
)

SF = "/root/testdata/sf0.001"


def _write_events(path: str, lines: list[str], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(path, name))


def _final_ids(table: ParquetUpsertTable) -> list[tuple]:
    df = table.read()
    rows = df.select("id", "name", "price", "stock").orderBy("id").collect()
    return [(r["id"], r["name"], float(r["price"]), r["stock"]) for r in rows]


_GOLDEN = [(r[0], r[1], float(r[3]), r[4]) for r in EXPECTED_FINAL]


def test_s1_checkpoint_resume_no_loss_no_dupes(spark, tmp_path):
    """S1: kill/restart at the checkpoint — resumed stream must not re-apply
    or lose events (OLR checkpoint contract)."""
    src = str(tmp_path / "events_in")
    ckpt = str(tmp_path / "ckpt")
    tdir = str(tmp_path / "table")
    lines = json_lines()

    # phase 1: snapshot + first changes
    _write_events(src, lines[:5], "part-000.jsonl")
    table = ParquetUpsertTable(spark, tdir)
    q = materialize_stream(read_cdc_stream(spark, src), table, ckpt)
    q.awaitTermination(120)
    v1 = table.current_version()
    assert v1 is not None
    state1 = _final_ids(table)
    assert (4, "Test Product", 149.99, 10) in state1  # scn 120 applied

    # phase 2: "restart" — new query, same checkpoint; only new files read
    _write_events(src, lines[5:], "part-001.jsonl")
    q2 = materialize_stream(read_cdc_stream(spark, src), table, ckpt)
    q2.awaitTermination(120)
    assert _final_ids(table) == _GOLDEN

    # phase 3: restart again with NO new data — no batch should run
    v_before = table.current_version()
    q3 = materialize_stream(read_cdc_stream(spark, src), table, ckpt)
    q3.awaitTermination(120)
    assert table.current_version() == v_before  # nothing replayed
    assert _final_ids(table) == _GOLDEN


def test_s7_streaming_sink_equals_batch_compaction(spark, tmp_path):
    """S7: stream-materialized state ≡ batch Q52 result."""
    src = str(tmp_path / "ev")
    _write_events(src, json_lines(), "all.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    q = materialize_stream(read_cdc_stream(spark, src), table, str(tmp_path / "ck"))
    q.awaitTermination(120)

    raw = spark.createDataFrame([(s,) for s in json_lines()], "value string")
    batch = E.compact_latest(E.unwrap(E.source_filter(E.parse_envelope(raw))))
    batch_rows = [
        (r["id"], r["name"], float(r["price"]), r["stock"])
        for r in batch.select("id", "name", "price", "stock").orderBy("id").collect()
    ]
    assert _final_ids(table) == batch_rows == _GOLDEN


def test_s2_tumbling_window_streaming_matches_batch(spark, tmp_path):
    """S2: streaming tumbling-window counts == batch window counts."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "ev_parquet")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    stream = normalize_event_ts(stream)

    agg = stream.groupBy(F.window("ts", "10 minutes")).agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("s2_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"], r["n"])
        for r in spark.sql("SELECT * FROM s2_mem").collect()
    }
    ev_b = normalize_event_ts(ev)
    want = {
        (r["window"]["start"], r["n"])
        for r in ev_b.groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_s5_watermark_drops_late_events(spark, tmp_path):
    """S5: an event older than watermark − delay must not create output."""
    src = str(tmp_path / "late_src")
    # batch 1: events at 10:00..10:40 advance the watermark to 10:30
    batch1 = [
        '{"event_id": %d, "ts": "2024-01-01 10:%02d:00", "v": 1.0}' % (i, m)
        for i, m in [(1, 0), (2, 10), (3, 40)]
    ]
    _write_events(src, batch1, "b1.jsonl")
    schema = "event_id long, ts timestamp, v double"
    ckpt = str(tmp_path / "ck5")
    emitted: list[tuple[int, str, int]] = []
    phase = [1]

    def collect(batch_df, _bid):
        for r in batch_df.select(F.col("window.start").alias("s"), "n").collect():
            emitted.append((phase[0], str(r["s"]), r["n"]))

    def run_once():
        agg = (
            spark.readStream.schema(schema)
            .json(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # batch 2: a very late event at 10:05 (watermark is 10:30) + a fresh one
    batch2 = [
        '{"event_id": 4, "ts": "2024-01-01 10:05:00", "v": 1.0}',
        '{"event_id": 5, "ts": "2024-01-01 11:00:00", "v": 1.0}',
    ]
    _write_events(src, batch2, "b2.jsonl")
    phase[0] = 2
    run_once()

    p1 = {(s, n) for p, s, n in emitted if p == 1}
    p2 = {(s, n) for p, s, n in emitted if p == 2}
    # phase 1: watermark reached 10:30 → the 10:00 and 10:10 windows closed
    assert p1 == {("2024-01-01 10:00:00", 1), ("2024-01-01 10:10:00", 1)}
    # phase 2: the late 10:05 event (< watermark 10:30) must be DROPPED —
    # the 10:00 window stays closed; only the newly-closed 10:40 window emits
    assert p2 == {("2024-01-01 10:40:00", 1)}, f"late data leaked: {sorted(emitted)}"


def test_s6_streaming_dedup_within_watermark(spark, tmp_path):
    """S6: duplicate event ids collapse via dropDuplicatesWithinWatermark."""
    src = str(tmp_path / "dups")
    lines = [
        '{"event_id": 1, "ts": "2024-01-01 10:00:00"}',
        '{"event_id": 1, "ts": "2024-01-01 10:00:30"}',  # dup id
        '{"event_id": 2, "ts": "2024-01-01 10:01:00"}',
        '{"event_id": 2, "ts": "2024-01-01 10:01:10"}',  # dup id
        '{"event_id": 3, "ts": "2024-01-01 10:02:00"}',
    ]
    _write_events(src, lines, "d.jsonl")
    stream = spark.readStream.schema("event_id long, ts timestamp").json(src)
    dedup = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("s6_mem")
        .option("checkpointLocation", str(tmp_path / "ck6"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.sql("SELECT event_id FROM s6_mem").collect())
    assert ids == [1, 2, 3]


def test_s8_stream_static_join(spark, tmp_path):
    """S8: stream ⋈ static dimension enrichment."""
    ev = spark.read.parquet(f"{SF}/events.parquet").limit(200)
    src = str(tmp_path / "ev8")
    ev.write.mode("overwrite").parquet(src)
    customers = spark.read.parquet(f"{SF}/customer.parquet")

    stream = spark.readStream.schema(ev.schema).parquet(src)
    joined = stream.join(
        customers, stream.user_id == customers.c_custkey, "inner"
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("s8_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM s8_mem").collect()[0]["n"]
    want = (
        ev.join(customers, ev.user_id == customers.c_custkey, "inner").count()
    )
    assert got == want > 0


def test_s3_s4_streaming_windows_run(spark, tmp_path):
    """S3/S4: sliding and session windows execute in streaming mode and
    match their batch forms (semantics already oracle-checked in batch)."""
    ev = spark.read.parquet(f"{SF}/events.parquet").limit(500)
    src = str(tmp_path / "ev34")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    stream = normalize_event_ts(stream)
    ev_b = normalize_event_ts(ev)

    slide = stream.groupBy(F.window("ts", "10 minutes", "5 minutes")).count()
    q = (
        slide.writeStream.outputMode("complete")
        .format("memory")
        .queryName("s3_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert (
        spark.sql("SELECT sum(count) AS s FROM s3_mem").collect()[0]["s"]
        == ev_b.groupBy(F.window("ts", "10 minutes", "5 minutes")).count().agg(
            F.sum("count")
        ).collect()[0][0]
    )

    sess = stream.groupBy("user_id", F.session_window("ts", "30 minutes")).count()
    q2 = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("s4_mem")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM s4_mem").collect()[0]["n"]
    want = ev_b.groupBy("user_id", F.session_window("ts", "30 minutes")).count().count()
    assert got == want > 0


def test_stateful_txn_assembly_persists_state_across_restart(spark, tmp_path):
    """Custom applyInPandasWithState operator (R18 transaction view):
    per-txid state accumulates across micro-batches AND across query
    restarts on one checkpoint."""
    from olr_cdc_oracle_with_dbz_spark.streaming.stateful import (
        assemble_transactions,
    )

    src = str(tmp_path / "txn_in")
    ckpt = str(tmp_path / "txn_ck")
    out = str(tmp_path / "txn_out")
    lines = json_lines()

    def run(new_lines: list[str], name: str) -> None:
        _write_events(src, new_lines, name)
        def sink(batch, batch_id):  # parquet sink rejects update mode
            batch.write.mode("append").parquet(out)

        q = (
            assemble_transactions(read_cdc_stream(spark, src))
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(lines[:5], "b0.jsonl")
    run(lines[5:], "b1.jsonl")

    # latest emitted row per txid must equal the batch ground truth
    raw = spark.createDataFrame([(s,) for s in json_lines()], "value string")
    env = E.source_filter(E.parse_envelope(raw))
    truth = {
        r["_txid"]: (r["n"], r["lo"], r["hi"])
        for r in env.groupBy("_txid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_scn").alias("lo"),
            F.max("_scn").alias("hi"),
        )
        .collect()
    }
    emitted = spark.read.parquet(out)
    latest = {
        r["txid"]: (r["n_events"], r["scn_lo"], r["scn_hi"])
        for r in emitted.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("txid")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    assert latest == truth


def test_major_compaction_preserves_state_and_sorts(spark, tmp_path):
    """compact(): same rows, PK-sorted files, atomic version swap; a
    subsequent merge supersedes the compacted version cleanly."""
    src = str(tmp_path / "cin")
    lines = json_lines()
    _write_events(src, lines[:6], "b0.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "ctbl"))
    materialize_stream(read_cdc_stream(spark, src), table, str(tmp_path / "cck")).awaitTermination(120)
    before = _final_ids(table)

    table.compact(target_partitions=2)
    assert table.current_version().endswith("c")
    assert _final_ids(table) == before  # content unchanged

    # compacted layout: within each bucket dir, per-file key ranges must
    # not overlap (sorted) — bucket hash + min/max stats prune point lookups
    import pyarrow.parquet as pq
    import glob, os as _os
    vdir = _os.path.join(table.table_dir, table.current_version())
    bucket_dirs = sorted(glob.glob(f"{vdir}/pb=*"))
    assert bucket_dirs, "compaction must write bucketed subdirs"
    for bdir in bucket_dirs:
        ranges = []
        for f in sorted(glob.glob(f"{bdir}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            ids = [ (md.row_group(i).column(0).statistics.min, md.row_group(i).column(0).statistics.max) for i in range(md.num_row_groups) ]
            if ids:
                ranges.append((min(l for l,_ in ids), max(h for _,h in ids)))
        for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
            assert h1 <= l2 or h2 <= l1  # disjoint key ranges across files

    # stream continues after compaction
    _write_events(src, lines[6:], "b1.jsonl")
    materialize_stream(read_cdc_stream(spark, src), table, str(tmp_path / "cck")).awaitTermination(120)
    assert _final_ids(table) == _GOLDEN


def test_time_travel_and_vacuum(spark, tmp_path):
    """Versioned table: each batch retains a readable snapshot; vacuum
    drops history but never the live version."""
    lines = json_lines()
    raw1 = spark.createDataFrame([(s,) for s in lines[:5]], "value string")
    raw2 = spark.createDataFrame([(s,) for s in lines[5:]], "value string")
    table = ParquetUpsertTable(spark, str(tmp_path / "tt"))
    table.merge_batch(E.unwrap(E.source_filter(E.parse_envelope(raw1))), batch_id=1)
    v1 = table.current_version()
    table.merge_batch(E.unwrap(E.source_filter(E.parse_envelope(raw2))), batch_id=2)
    v2 = table.current_version()
    assert v1 != v2 and set(table.versions()) >= {v1, v2}

    # time travel: the v1 snapshot still shows the pre-delete price of id 4
    old = {r["id"]: float(r["price"]) for r in table.read(version=v1).collect()}
    new = {r["id"]: float(r["price"]) for r in table.read().collect()}
    assert old[4] == 149.99   # scn 120 state
    assert new[4] == 79.99    # re-inserted after delete (scn 140)

    dropped = table.vacuum(keep=1)
    assert v1 in dropped and v2 not in dropped
    assert table.read().count() == len(_GOLDEN)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range bound
    (clicks within 1h before each purchase, per user) equals the batch
    join over the same data."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev = normalize_event_ts(ev)
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    ev.filter("event_type = 'click'").select("user_id", "event_id", "ts").write.parquet(clicks_dir)
    ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    ).write.parquet(buys_dir)

    clicks = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .parquet(clicks_dir)
        .withWatermark("ts", "2 hours")
    )
    buys = (
        spark.readStream.schema("user_id long, buy_id long, buy_ts timestamp")
        .parquet(buys_dir)
        .withWatermark("buy_ts", "2 hours")
    )
    joined = clicks.join(
        buys,
        (clicks.user_id == buys.user_id)
        & (clicks.ts <= buys.buy_ts)
        & (clicks.ts >= buys.buy_ts - F.expr("INTERVAL 1 HOUR")),
    ).select(clicks.user_id, "event_id", "buy_id")

    out = str(tmp_path / "ssj_out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["event_id"], r["buy_id"])
        for r in spark.read.parquet(out).collect()
    }
    c = ev.filter("event_type = 'click'")
    b = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("b_uid"), F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    want = {
        (r["user_id"], r["event_id"], r["buy_id"])
        for r in c.join(
            b,
            (c.user_id == F.col("b_uid"))
            & (c.ts <= F.col("buy_ts"))
            & (c.ts >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_schema_evolution_on_resumed_checkpoint(spark, tmp_path):
    """R10/R16 watch-list: widen the envelope schema, resume the SAME
    checkpoint — old rows NULL for the new column, new rows carry it,
    no replay and no failure."""
    import json as _json

    from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import ENVELOPE_SCHEMA
    from olr_cdc_oracle_with_dbz_spark.cdc.schema_registry import SchemaRegistry

    src = str(tmp_path / "evo_in")
    ckpt = str(tmp_path / "evo_ck")
    lines = json_lines()

    # phase 1: v1 schema
    _write_events(src, lines, "b0.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "evo_tbl"))
    materialize_stream(read_cdc_stream(spark, src), table, ckpt).awaitTermination(120)
    assert _final_ids(table) == _GOLDEN

    # register v2 = v1 + category column; produce one evolved event
    reg = SchemaRegistry(str(tmp_path / "schemas"), "OLR_DB.PRODUCT")
    reg.register(ENVELOPE_SCHEMA)
    v2_ddl = ENVELOPE_SCHEMA.replace(
        "updated_date:bigint>", "updated_date:bigint, category:string>"
    )
    assert v2_ddl != ENVELOPE_SCHEMA  # both image structs widened
    assert reg.register(v2_ddl) == 2 and reg.is_additive(1, 2)

    evolved = _json.dumps({
        "before": None,
        "after": {"id": 9, "name": "Evolved", "description": None,
                  "price": "5.00", "stock": 1,
                  "created_date": 1704096000000, "updated_date": 1704096000000,
                  "category": "new-cat"},
        "op": "c", "ts_ms": 1704096000000,
        "source": {"schema": "OLR_DB", "table": "PRODUCT", "scn": 200,
                   "txId": "T9", "rowId": "AAA0x9"},
    })
    _write_events(src, [evolved], "b1.jsonl")

    # phase 2: resume same checkpoint, decode pinned to v2, carry the column
    table2 = ParquetUpsertTable(
        spark, str(tmp_path / "evo_tbl"), extra_cols=("category",)
    )
    materialize_stream(
        read_cdc_stream(spark, src, envelope_schema=reg.current()),
        table2,
        ckpt,
    ).awaitTermination(120)

    final = {r["id"]: r.asDict() for r in table2.read().collect()}
    assert "category" in table2.read().columns
    assert final[9]["category"] == "new-cat"
    assert all(final[i]["category"] is None for i in final if i != 9)
    assert len(final) == len(_GOLDEN) + 1  # no replay, one new row


def test_append_mode_emits_only_closed_windows(spark, tmp_path):
    """Append output mode: a window row is emitted exactly once, and only
    after the watermark passes its end — open windows stay unemitted."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev = normalize_event_ts(ev)
    src = str(tmp_path / "ap_in")
    ev.select("event_id", "user_id", "ts").write.parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "30 minutes")
    )
    counts = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = str(tmp_path / "ap_out")
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ap_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = {
        (r["w"]["start"], r["n"]) for r in spark.read.parquet(out).collect()
    }
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = {
        (r["w"]["start"], r["n"])
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # emitted ⊆ batch, and exactly the windows whose END precedes the
    # final watermark (max event time - 30 min)
    assert emitted <= batch
    import datetime as _dt

    wm = max_ts - _dt.timedelta(minutes=30)
    expect = {
        (s, n) for (s, n) in batch if s + _dt.timedelta(hours=1) <= wm
    }
    assert emitted == expect and len(expect) > 0


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Delta-file-granularity contract: a micro-batch MERGE must rewrite
    ONLY the buckets its keys hash into; every untouched bucket's manifest
    entry must still point at the previous version's path (O(batch), not
    O(table), per batch — the property that makes the sink viable at
    100 TB)."""
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", n_buckets=4)

    def unwrapped(rows):
        return spark.createDataFrame(
            [(i, f"n{i}", scn, "c", f"tx{scn}", f"r{scn}", False) for i, scn in rows],
            "id bigint, name string, _scn bigint, op string, _txid string, "
            "_rowid string, __deleted boolean",
        )

    # batch 1: keys spanning several buckets
    table.merge_batch(unwrapped([(i, 100 + i) for i in range(12)]), batch_id=1)
    m1 = table._manifest()
    assert len(m1["buckets"]) >= 3  # 12 keys over 4 buckets: ≥3 populated

    # batch 2: a single key → exactly one bucket may move
    table.merge_batch(unwrapped([(0, 200)]), batch_id=2)
    m2 = table._manifest()
    moved = [b for b in m1["buckets"] if m2["buckets"][b] != m1["buckets"][b]]
    assert len(moved) == 1, f"one bucket touched, {len(moved)} rewritten"
    assert all(
        m2["buckets"][b] == m1["buckets"][b] for b in m1["buckets"] if b not in moved
    )
    # and the rewritten bucket's data is correct: key 0 updated, others kept
    got = {r["id"]: r["name"] for r in table.read().collect()}
    assert got[0] == "n0" and len(got) == 12


def test_merge_batch_sequence_less_frame(spark, tmp_path):
    """compact_latest's docstring promises a fallback for wire formats with
    no intra-transaction sequence: a frame carrying ONLY (key, _scn, op,
    __deleted) — no _ssn, no _rowid — must merge, upsert, and delete
    correctly (regression: round-3 referenced `_ssn` unconditionally and
    threw UNRESOLVED_COLUMN here)."""
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", n_buckets=2)

    def frame(rows):
        return spark.createDataFrame(
            rows, "id bigint, name string, _scn bigint, op string, __deleted boolean"
        )

    table.merge_batch(
        frame([(1, "a", 100, "c", False), (2, "b", 101, "c", False)]), batch_id=1
    )
    table.merge_batch(
        frame([(1, "a2", 200, "u", False), (2, None, 201, "d", True)]), batch_id=2
    )
    got = {r["id"]: r["name"] for r in table.read().collect()}
    assert got == {1: "a2"}  # key 1 updated, key 2 deleted

    # same-SCN without a sequence resolves via op precedence (d > c) —
    # the documented limitation, but it must not crash.
    table.merge_batch(
        frame([(1, None, 300, "d", True), (1, "a3", 300, "c", False)]), batch_id=3
    )
    assert table.read().count() == 0


def test_min_batch_events_coalesces_micro_batches(spark, tmp_path):
    """CDC_STEADY_r09 knob: undersized micro-batches spool and merge ONCE.

    Two files, maxFilesPerTrigger=1 → two micro-batches (5 + 7 events).
    With min_batch_events=6 the first batch stays in the spool (no commit);
    the second crosses the threshold and publishes ONE merged version whose
    state equals the merge-every-batch golden result.
    """
    src = str(tmp_path / "in")
    lines = json_lines()
    _write_events(src, lines[:5], "part-000.jsonl")
    # FileStreamSource orders batches by modification time — backdate the
    # first file so the 5-event batch deterministically runs first
    import time as _time

    past = _time.time() - 60
    os.utime(os.path.join(src, "part-000.jsonl"), (past, past))
    _write_events(src, lines[5:], "part-001.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    q = materialize_stream(
        read_cdc_stream(spark, src, max_files_per_trigger=1),
        table,
        str(tmp_path / "ck"),
        min_batch_events=6,
    )
    q.awaitTermination(120)
    assert len(table.versions()) == 1  # ONE commit, not two
    assert table.spool_events() == 0  # spool drained
    assert _final_ids(table) == _GOLDEN


def test_min_batch_events_tail_flush(spark, tmp_path):
    """A sub-threshold tail stays spooled until flush_spool publishes it."""
    src = str(tmp_path / "in")
    _write_events(src, json_lines(), "all.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    q = materialize_stream(
        read_cdc_stream(spark, src),
        table,
        str(tmp_path / "ck"),
        min_batch_events=1000,  # never reached — everything spools
    )
    q.awaitTermination(120)
    assert table.versions() == []  # nothing published yet
    assert table.spool_events() == 12
    assert table.flush_spool(batch_id=999) is True
    assert _final_ids(table) == _GOLDEN
    assert table.spool_events() == 0
    assert table.flush_spool(batch_id=1000) is False  # idempotent no-op


def test_spool_counter_survives_process_restart(spark, tmp_path):
    """The incremental spool counter (ADVICE r10) must re-derive from
    parquet footers on a fresh table object — the crash-recovery path —
    and the default-batch_id flush must publish the staged rows."""
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
        run_to_completion,
    )

    src = str(tmp_path / "in")
    _write_events(src, json_lines(), "all.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    q = materialize_stream(
        read_cdc_stream(spark, src),
        table,
        str(tmp_path / "ck"),
        min_batch_events=1000,  # everything spools
    )
    q.awaitTermination(120)
    assert table.spool_events() == 12

    # "restart": a brand-new object over the same dir sees the staged rows
    table2 = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    assert table2.spool_events() == 12
    assert table2.flush_spool() is True  # default batch_id = max staged
    assert _final_ids(table2) == _GOLDEN
    assert table2.spool_events() == 0

    # run_to_completion on an already-terminated query with an empty spool
    # is a harmless no-op
    assert run_to_completion(q, table2, timeout_sec=5) is False


def test_spool_flush_replay_after_crash_is_idempotent(spark, tmp_path):
    """Crash window: flush_spool MERGEs, then clears the spool. A crash
    between the two leaves the spool staged after its rows were already
    published; the restart's re-flush must re-merge idempotently
    (latest-SCN-wins) and converge to the same state."""
    import shutil

    src = str(tmp_path / "in")
    _write_events(src, json_lines(), "all.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    materialize_stream(
        read_cdc_stream(spark, src),
        table,
        str(tmp_path / "ck"),
        min_batch_events=1000,
    ).awaitTermination(120)
    spool = str(tmp_path / "tbl" / "_spool")
    saved = str(tmp_path / "saved_spool")
    shutil.copytree(spool, saved)

    assert table.flush_spool() is True
    state_after_flush = _final_ids(table)
    assert state_after_flush == _GOLDEN

    # simulate the crash: rows published, but the spool clear never ran.
    # The restarted handle carries no stream_id while the table's records
    # do (stamped by materialize_stream above), so the replayed flush's
    # label collision is an UNVERIFIABLE replay: it must still no-op
    # (legacy contract) but now announces itself (r16 ADVICE #3) — the
    # recovery runbook is to reopen via materialize_stream or pass the
    # checkpoint-derived stream_id explicitly.
    shutil.copytree(saved, spool)
    restarted = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    assert restarted.spool_events() == 12  # counter re-derived from footers
    with pytest.warns(RuntimeWarning, match="unverifiable replay"):
        assert restarted.flush_spool() is True  # replayed merge
    assert _final_ids(restarted) == state_after_flush  # idempotent
    assert restarted.spool_events() == 0


def test_spool_merges_schema_evolution_across_staged_batches(spark, tmp_path):
    """Spooled batches staged under DIFFERENT schema versions must flush as
    one evolved MERGE: the mergeSchema read unions v1 batches (no category
    column) with the v2 batch, and the published table carries the new
    column with NULLs for pre-evolution rows."""
    import json as _json

    from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import ENVELOPE_SCHEMA

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    _write_events(src, json_lines(), "b0.jsonl")

    # phase 1: v1 events spool (threshold never reached), nothing published
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    materialize_stream(
        read_cdc_stream(spark, src), table, ckpt, min_batch_events=1000
    ).awaitTermination(120)
    assert table.versions() == []
    assert table.spool_events() == 12

    # phase 2: schema widens; the evolved event spools into the SAME spool
    v2_ddl = ENVELOPE_SCHEMA.replace(
        "updated_date:bigint>", "updated_date:bigint, category:string>"
    )
    evolved = _json.dumps({
        "before": None,
        "after": {"id": 9, "name": "Evolved", "description": None,
                  "price": "5.00", "stock": 1,
                  "created_date": 1704096000000, "updated_date": 1704096000000,
                  "category": "new-cat"},
        "op": "c", "ts_ms": 1704096000000,
        "source": {"schema": "OLR_DB", "table": "PRODUCT", "scn": 200,
                   "txId": "T9", "rowId": "AAA0x9"},
    })
    _write_events(src, [evolved], "b1.jsonl")
    table2 = ParquetUpsertTable(
        spark, str(tmp_path / "tbl"), extra_cols=("category",)
    )
    materialize_stream(
        read_cdc_stream(spark, src, envelope_schema=v2_ddl),
        table2,
        ckpt,
        min_batch_events=1000,
    ).awaitTermination(120)
    assert table2.spool_events() == 13

    # one flush publishes ONE evolved version from mixed-schema batches
    assert table2.flush_spool() is True
    assert len(table2.versions()) == 1
    final = {r["id"]: r.asDict() for r in table2.read().collect()}
    assert final[9]["category"] == "new-cat"
    assert all(final[i]["category"] is None for i in final if i != 9)
    assert len(final) == len(_GOLDEN) + 1


def test_read_keys_bucket_pruned_point_lookup(spark, tmp_path):
    """read_keys must return exactly the keyed rows while reading only the
    keys' bucket files — the sink-database `WHERE id = ?` pattern without
    a table scan (and with the literal cast to the stored key dtype, since
    xxhash64 is type-sensitive)."""
    src = str(tmp_path / "in")
    _write_events(src, json_lines(), "all.jsonl")
    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    materialize_stream(
        read_cdc_stream(spark, src), table, str(tmp_path / "ck")
    ).awaitTermination(120)
    golden = {r[0]: r for r in _final_ids(table)}

    hit = table.read_keys([2])
    rows = hit.collect()
    assert [(r["id"], r["name"], float(r["price"]), r["stock"]) for r in rows] == [
        golden[2]
    ]
    # pruning: the lookup read a strict subset of the table's files
    assert 0 < len(hit.inputFiles()) < len(table.read().inputFiles())

    # multi-key form, python ints against the stored key dtype
    multi = table.read_keys([1, 3])
    assert {r["id"] for r in multi.collect()} == {1, 3}

    # a key that never existed: empty (bucket has files, no matching row)
    # or None (the key's bucket was never written at all)
    miss = table.read_keys([999])
    assert miss is None or miss.count() == 0
    # empty key list and missing table are None-safe
    assert table.read_keys([]) is None
    assert ParquetUpsertTable(spark, str(tmp_path / "empty")).read_keys([1]) is None


def test_read_keys_reopened_with_default_bucket_count(spark, tmp_path):
    """ADVICE r11: a table written with a non-default bucket count and
    reopened with the default constructor must adopt the manifest's
    n_buckets — both for read_keys pruning (else lookups hash against the
    wrong layout and miss existing keys) and for merge_batch (else the
    rewrite reads back the wrong buckets and duplicates keys)."""
    tdir = str(tmp_path / "tbl")
    w = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4)
    df = spark.createDataFrame(
        [(i, f"n{i}", 100 + i, False) for i in range(20)],
        "id bigint, name string, _scn bigint, __deleted boolean",
    )
    w.merge_batch(df, batch_id=1)

    r = ParquetUpsertTable(spark, tdir)  # default n_buckets (16) requested
    assert r.n_buckets == 4  # adopted from the committed manifest
    got = r.read_keys([3, 17])
    assert {x["id"] for x in got.collect()} == {3, 17}

    # merge through the reopened handle stays bucket-consistent: an update
    # to an existing key must replace it, not duplicate it in a new layout
    upd = spark.createDataFrame(
        [(3, "updated", 999, False)],
        "id bigint, name string, _scn bigint, __deleted boolean",
    )
    r.merge_batch(upd, batch_id=2)
    rows = r.read().filter(F.col("id") == 3).collect()
    assert [(x["id"], x["name"]) for x in rows] == [(3, "updated")]
    assert r.read().count() == 20


def test_read_keys_empty_committed_manifest(spark, tmp_path):
    """ADVICE r11: an empty first batch commits a {} manifest; read_keys
    must return None exactly like read(), not raise StopIteration."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    empty = spark.createDataFrame(
        [], "id bigint, name string, _scn bigint, __deleted boolean"
    )
    t.merge_batch(empty, batch_id=1)
    assert t.current_version() is not None
    assert t.read() is None
    assert t.read_keys([1, 2]) is None


def test_read_keys_lossy_cast_means_no_such_key(spark, tmp_path):
    """Code-review r12: a lookup value the key type can't represent (3.9
    against a bigint key) must return no rows — NOT silently coerce to
    key 3 and return a row the caller never asked for."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    df = spark.createDataFrame(
        [(i, f"n{i}", 100 + i, False) for i in range(6)],
        "id bigint, name string, _scn bigint, __deleted boolean",
    )
    t.merge_batch(df, batch_id=1)
    miss = t.read_keys([3.9])
    assert miss is None or miss.count() == 0
    # exact-value floats still match; the lossy one contributes nothing
    mixed = t.read_keys([3.9, 4.0])
    assert {r["id"] for r in mixed.collect()} == {4}
    # None lookups drop instead of hashing NULL
    assert t.read_keys([None]) is None


def test_bucket_count_conflict_raises_and_compact_rebuckets(spark, tmp_path):
    """Code-review r12: an explicit n_buckets conflicting with the committed
    layout raises (silent adoption pinned tables to their initial count);
    compact(n_buckets=...) is the sanctioned re-bucket path."""
    import pytest

    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4)
    df = spark.createDataFrame(
        [(i, f"n{i}", 100 + i, False) for i in range(20)],
        "id bigint, name string, _scn bigint, __deleted boolean",
    )
    t.merge_batch(df, batch_id=1)

    with pytest.raises(ValueError, match="n_buckets=4"):
        ParquetUpsertTable(spark, tdir, key="id", n_buckets=8)

    # re-bucket 4 -> 8 through major compaction; reopen adopts 8 and the
    # table stays fully readable/lookupable in the new layout
    t.compact(target_partitions=4, n_buckets=8)
    r = ParquetUpsertTable(spark, tdir, key="id")
    assert r.n_buckets == 8
    assert r.read().count() == 20
    assert {x["id"] for x in r.read_keys([3, 17]).collect()} == {3, 17}
    # and merging through the re-bucketed layout replaces, not duplicates
    upd = spark.createDataFrame(
        [(3, "upd3", 999, False)],
        "id bigint, name string, _scn bigint, __deleted boolean",
    )
    r.merge_batch(upd, batch_id=2)
    assert [x["name"] for x in r.read().filter(F.col("id") == 3).collect()] == [
        "upd3"
    ]
    assert r.read().count() == 20


def test_commit_fence_detects_lost_update(spark, tmp_path):
    """The optimistic-concurrency fence: a commit derived from a stale
    parent commit (a compaction that raced a merge) must raise instead
    of silently dropping the interleaved writer's rows — put-if-absent on
    the parent+1 log record, atomic per the r13 commit protocol. Replays
    — which re-derive from the live head — stay unaffected."""
    import pytest

    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", n_buckets=4)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id bigint, name string, _scn bigint, __deleted boolean"
    )
    t.merge_batch(mk([(1, "a", 100, False)]), 1)
    stale_seq, _m = t._head()
    t.merge_batch(mk([(2, "b", 101, False)]), 2)  # interleaved writer

    with pytest.raises(RuntimeError, match="concurrent writer"):
        t._commit("v99", {}, expect_parent=stale_seq)

    # normal single-writer paths keep working after the refusal
    t.compact(target_partitions=2)
    assert t.read().count() == 2
    # and a REPLAYED merge (same batch id, re-derived from current) passes
    t.merge_batch(mk([(2, "b", 101, False)]), 2)
    assert t.read().count() == 2


def test_read_keys_string_key_filter_uses_cast_literals(spark, tmp_path):
    """ADVICE r11: for a string-typed key, lookups with Python ints must
    use the SAME cast literals for bucket pruning and the final filter —
    a type-mismatched isin could otherwise drop rows pruning matched."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    df = spark.createDataFrame(
        [(str(i), f"n{i}", 100 + i, False) for i in range(10)],
        "id string, name string, _scn bigint, __deleted boolean",
    )
    t.merge_batch(df, batch_id=1)
    got = t.read_keys([7, 2])  # python ints against a string key column
    assert {x["id"] for x in got.collect()} == {"7", "2"}


def _mk_rows(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, name string, _scn bigint, __deleted boolean"
    )


def _record_cols(record: dict) -> list[str]:
    """Column names of the schema a commit record carries."""
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(record["schema"])).fieldNames()


def test_read_keys_out_of_range_and_non_finite_mean_no_such_key(spark, tmp_path):
    """An int the bigint key cannot represent is no such key — the same
    rule as the lossy cast of 3.9 — not a literal-overflow error; NaN and
    ±inf (which go through the Spark probe) stay no such key too."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge_batch(_mk_rows(spark, [(i, f"n{i}", 100 + i, False) for i in range(6)]), 1)
    assert t.read_keys([2**70]) is None
    assert t.read_keys([-(2**63) - 1]) is None
    assert {r["id"] for r in t.read_keys([2**70, 3]).collect()} == {3}
    for v in (float("nan"), float("inf"), float("-inf")):
        assert t.read_keys([v]) is None


def test_read_keys_int_beyond_int64_on_the_probe_path(spark, tmp_path):
    """An int outside int64 in a lookup that takes the Spark probe (beside
    a float on a bigint key, or on a string key) goes in as a decimal
    literal (its digits past 38 of them), so Spark's own cast decides what
    it means: no such key on a bigint key, its digits on a string key."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge_batch(_mk_rows(spark, [(i, f"n{i}", 100 + i, False) for i in range(6)]), 1)
    assert t.read_keys([1.5, 2**70]) is None
    assert t.read_keys([1.5, -(10**40)]) is None
    assert {r["id"] for r in t.read_keys([2**70, 3.0]).collect()} == {3}

    s = ParquetUpsertTable(spark, str(tmp_path / "str_tbl"), key="id")
    s.merge_batch(
        spark.createDataFrame(
            [
                (str(2**70), "big", 100, False),
                (str(10**40), "huge", 101, False),
                ("k", "kay", 102, False),
            ],
            "id string, name string, _scn bigint, __deleted boolean",
        ),
        1,
    )
    assert [r["name"] for r in s.read_keys([2**70]).collect()] == ["big"]
    got = s.read_keys(["k", 2**70, 10**40]).collect()
    assert sorted(r["name"] for r in got) == ["big", "huge", "kay"]


def _jobs_run(spark, fn) -> int:
    """Spark jobs ``fn`` schedules, counted through a job group. AQE is
    off for the count: it submits every shuffle stage as its own job, so
    the pins below would otherwise count stages, not reads."""
    import uuid

    sc = spark.sparkContext
    grp = f"sink-job-pin-{uuid.uuid4().hex}"
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup(grp, grp, interruptOnCancel=False)
        fn()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    return len(sc.statusTracker().getJobIdsForGroup(grp))


def test_sink_reads_infer_no_schema_job_count_pins(spark, tmp_path):
    """The commit record carries the table schema and the driver hashes
    int lookups on a bigint key, so such a point lookup is ONE job (its
    scan), a full read is one job, and a merge into a populated table is
    two (the touched-bucket collect and the write) — no footer-inference
    job. A string-key lookup keeps its one-row probe: two jobs."""
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    t.merge_batch(_mk_rows(spark, [(i, f"n{i}", 100 + i, False) for i in range(50)]), 1)
    assert _jobs_run(spark, lambda: t.read_keys([7]).collect()) == 1
    assert _jobs_run(spark, lambda: t.read().count()) == 1
    upd = _mk_rows(spark, [(i, "u", 500 + i, False) for i in range(0, 50, 5)])
    assert _jobs_run(spark, lambda: t.merge_batch(upd, 2)) == 2
    assert t.read().count() == 50

    s = ParquetUpsertTable(spark, str(tmp_path / "str_tbl"), key="id")
    s.merge_batch(
        spark.createDataFrame(
            [(str(i), f"n{i}", 100 + i, False) for i in range(20)],
            "id string, name string, _scn bigint, __deleted boolean",
        ),
        1,
    )
    assert _jobs_run(spark, lambda: s.read_keys(["7"]).collect()) == 2
    assert [r["name"] for r in s.read_keys(["7"]).collect()] == ["n7"]


def test_replay_of_durable_batch_runs_no_job_at_and_below_head(spark, tmp_path):
    """A replay of a durable batch takes one path whether its record is
    the head or sits below it (after a compact): no Spark job and no new
    record. A foreign stream's replay raises in both positions."""
    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, stream_id="sA")
    rows = _mk_rows(spark, [(i, f"n{i}", 100 + i, False) for i in range(8)])
    t.merge_batch(rows, 1)
    foreign = ParquetUpsertTable(spark, tdir, key="id", stream_id="sB")

    def assert_replay_is_noop():
        seqs = t._commit_seqs()
        assert _jobs_run(spark, lambda: t.merge_batch(rows, 1)) == 0
        assert t._commit_seqs() == seqs
        with pytest.raises(RuntimeError, match="batch-id collision"):
            foreign.merge_batch(rows, 1)
        assert t._commit_seqs() == seqs

    assert t.current_version() == f"v{1:020d}"  # the replayed label is the head
    assert_replay_is_noop()
    t.compact(target_partitions=2)
    assert t.current_version() == f"v{1:020d}c"  # now it sits below the head
    assert_replay_is_noop()
    assert sorted(r["id"] for r in t.read().collect()) == list(range(8))


class _CountingFS(LocalFS):
    """LocalFS that counts the commit-log metadata calls."""

    def __init__(self):
        super().__init__()
        self.calls = Counter()

    def list_names(self, path):
        self.calls["list_names"] += 1
        return super().list_names(path)

    def read_text(self, path):
        self.calls["read_text"] += 1
        return super().read_text(path)

    def exists(self, path):
        self.calls["exists"] += 1
        return super().exists(path)

    def create_exclusive(self, path, text):
        self.calls["create_exclusive"] += 1
        return super().create_exclusive(path, text)


def test_healthy_merge_metadata_calls_pinned(spark, tmp_path):
    """A new-label merge into a populated table makes a fixed set of
    commit-log calls: a listing and a record read for the head, an exists
    probe of the version dir, a floor listing before and after the
    put-if-absent create, and that one create."""
    fs = _CountingFS()
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", fs=fs)
    t.merge_batch(_mk_rows(spark, [(i, f"n{i}", 100 + i, False) for i in range(50)]), 1)
    upd = _mk_rows(spark, [(i, "u", 500 + i, False) for i in range(0, 50, 5)])
    fs.calls.clear()
    t.merge_batch(upd, 2)
    assert fs.calls == Counter(
        list_names=3, read_text=1, exists=1, create_exclusive=1
    )
    assert t.read().count() == 50


def test_vacuum_takes_head_from_its_own_listing(spark, tmp_path):
    """vacuum(keep=2) on an 8-record log lists the log dir once for the
    records and the head, once for the floor markers and once for the
    post-deletion referenced-dirs pass, and reads each record it needs
    once (the head twice: before and after the deletions). It drops the
    six oldest labels and the version dirs only they referenced."""
    tdir = str(tmp_path / "tbl")
    fs = _CountingFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=1, fs=fs, vacuum_grace_sec=0.0
    )
    for b in range(1, 9):
        t.merge_batch(_mk_rows(spark, [(b, f"n{b}", 100 + b, False)]), b)
    labels = t.versions()
    assert len(labels) == 8
    fs.calls.clear()
    assert t.vacuum(keep=2) == labels[:6]
    assert fs.calls == Counter(list_names=3, read_text=9, create_exclusive=1)
    assert sorted(n for n in os.listdir(tdir) if n in labels) == labels[6:]
    assert t.read().count() == 8


def test_commit_record_schema_follows_additive_evolution(spark, tmp_path):
    """R10 extra_cols evolution with the schema in the commit record: the
    head record names the evolved column, a pre-evolution key reads NULL
    for it (also from a bucket file written before the column existed),
    and time travel to the pre-evolution label returns the old schema."""
    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4)
    t.merge_batch(_mk_rows(spark, [(i, f"n{i}", 100 + i, False) for i in range(12)]), 1)
    old_label = t.current_version()
    old_cols = t.read().columns
    assert "category" not in old_cols

    evolved = ParquetUpsertTable(spark, tdir, key="id", extra_cols=("category",))
    evolved.merge_batch(
        spark.createDataFrame(
            [(100, "new", 200, False, "tools")],
            "id bigint, name string, _scn bigint, __deleted boolean, category string",
        ),
        2,
    )
    _seq, head = evolved._head()
    assert "category" in _record_cols(head)
    # one bucket rewritten; the others still reference pre-evolution files
    assert {rel.split("/")[0] for rel in head["buckets"].values()} == {
        old_label,
        evolved.current_version(),
    }

    rows = evolved.read_keys(list(range(12))).collect()
    assert len(rows) == 12 and all(r["category"] is None for r in rows)
    assert [r["category"] for r in evolved.read_keys([100]).collect()] == ["tools"]
    assert evolved.read(version=old_label).columns == old_cols
    assert evolved.read_keys([3], version=old_label).columns == old_cols


def test_commit_record_schema_recorded_inherited_and_required(spark, tmp_path):
    """Every commit records the schema it wrote (an empty first batch and
    a compaction included); a metadata-only ``_commit`` inherits the
    parent's; a data-bearing record with none raises a ValueError naming
    the table instead of inferring one."""
    import re

    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4)
    t.merge_batch(_mk_rows(spark, []), 1)  # empty first batch: no job needed
    cols = ["id", "name", "_scn", "__deleted"]
    assert _record_cols(t._head()[1]) == cols
    t.merge_batch(_mk_rows(spark, [(1, "a", 100, False), (2, "b", 101, True)]), 2)
    assert _record_cols(t._head()[1]) == cols  # no pb partition column
    t.compact(target_partitions=2)
    seq, head = t._head()
    assert _record_cols(head) == cols
    t._commit("v99", dict(head["buckets"]), expect_parent=seq)
    assert t._head()[1]["schema"] == head["schema"]
    assert [r["id"] for r in t.read().collect()] == [1]

    bare = ParquetUpsertTable(spark, str(tmp_path / "bare"), key="id")
    bare._commit("v1", {"0": "v1/pb=0"}, expect_parent=0)
    for op in (bare.read, lambda: bare.read_keys([1]),
               lambda: bare.merge_batch(_mk_rows(spark, [(1, "a", 1, False)]), 2)):
        with pytest.raises(ValueError, match=re.escape(bare.table_dir)):
            op()


def test_spool_identity_guards_cross_incarnation_blend(spark, tmp_path):
    """r17 review pass: staged spool batches OUTLIVE a wiped checkpoint,
    and the commit-layer identity guard cannot see them (rows from two
    incarnations arrive in ONE merge under the new stream's batch id).
    The spool therefore carries its own ``_stream_id`` marker: staging
    or flushing under a DIFFERENT identity raises; the same identity
    (a genuine restart from the same checkpoint) proceeds; a marker-less
    pre-r17 spool is adopted; a None-id handle over a marked spool
    warns (raises under strict_identity)."""
    import warnings as _w

    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, stream_id="sA")
    rows = spark.createDataFrame(
        [(1, "a", 100, False)],
        "id bigint, name string, _scn bigint, __deleted boolean",
    )
    t.spool_batch(rows, 0)
    marker = os.path.join(tdir, "_spool", "_stream_id")
    assert t.fs.read_text(marker).strip() == "sA"

    # a different incarnation must not stage into, or flush, sA's spool
    other = ParquetUpsertTable(spark, tdir, key="id", stream_id="sB")
    with pytest.raises(RuntimeError, match="spool identity collision"):
        other.spool_batch(rows, 0)
    with pytest.raises(RuntimeError, match="spool identity collision"):
        other.flush_spool()

    # the same stream restarting keeps staging and flushing normally
    same = ParquetUpsertTable(spark, tdir, key="id", stream_id="sA")
    same.spool_batch(rows, 1)
    assert same.flush_spool() is True
    assert not same.fs.exists(marker)  # marker cleared with the spool

    # None-id handle over a marked spool: warn by default, raise strict
    t.spool_batch(rows, 2)
    legacy = ParquetUpsertTable(spark, tdir, key="id")
    with pytest.warns(RuntimeWarning, match="unverifiable spool"):
        legacy.spool_batch(rows, 3)
    strict = ParquetUpsertTable(spark, tdir, key="id", strict_identity=True)
    with pytest.raises(RuntimeError, match="unverifiable spool"):
        strict.flush_spool()
    assert t.flush_spool() is True  # the owner can still publish

    # marker-less legacy spool with staged dirs: the first id-carrying
    # toucher adopts it — but LOUDLY (r17 ADVICE #3 / r18 order #7): the
    # staged rows were written by an id-less incarnation, so merging them
    # under this stream's batch id cannot be verified as same-stream.
    # Warn by default (legacy compat), raise under strict_identity; the
    # adoption stamps the marker so the warning fires once per spool.
    t2dir = str(tmp_path / "tbl2")
    noid = ParquetUpsertTable(spark, t2dir, key="id")
    noid.spool_batch(rows, 0)  # no marker written (no identity)
    assert not noid.fs.exists(os.path.join(t2dir, "_spool", "_stream_id"))
    strict_adopter = ParquetUpsertTable(
        spark, t2dir, key="id", stream_id="sD", strict_identity=True
    )
    with pytest.raises(RuntimeError, match="unverifiable spool adoption"):
        strict_adopter.spool_batch(rows, 1)
    with pytest.raises(RuntimeError, match="unverifiable spool adoption"):
        strict_adopter.flush_spool()  # the flush-only path is loud too
    adopter = ParquetUpsertTable(spark, t2dir, key="id", stream_id="sC")
    with pytest.warns(RuntimeWarning, match="unverifiable spool adoption"):
        adopter.spool_batch(rows, 1)
    assert adopter.fs.read_text(
        os.path.join(t2dir, "_spool", "_stream_id")
    ).strip() == "sC"
    assert adopter.flush_spool() is True  # claimed: no second warning

    # ...while an id-carrying handle claiming an EMPTY spool (the normal
    # first staging of every coalescing window) stays silent
    t3dir = str(tmp_path / "tbl3")
    fresh = ParquetUpsertTable(spark, t3dir, key="id", stream_id="sE")
    with _w.catch_warnings():
        _w.simplefilter("error")
        fresh.spool_batch(rows, 0)
    assert fresh.flush_spool() is True


def test_spool_marker_vanishing_mid_check_reads_as_absent(spark, tmp_path):
    """r18 review pass: the marker check is exists-then-read, so a
    concurrent same-stream flush can delete the marker between the two
    calls — that must read as 'no marker' (the deleter was this stream;
    a foreign flush raises instead of clearing), not surface a raw
    FileNotFoundError from the seam. Same posture as _record vs a
    concurrent vacuum (ADVICE r13)."""
    from olr_cdc_oracle_with_dbz_spark.fs import LocalFS

    class VanishingFS(LocalFS):
        def read_text(self, path: str) -> str:
            if path.endswith("_stream_id"):
                raise FileNotFoundError(path)  # deleted after exists()
            return super().read_text(path)

    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=VanishingFS(), stream_id="sA"
    )
    # pre-create the marker so exists() is True, then the read "races"
    LocalFS().write_text_atomic(os.path.join(tdir, "_spool", "_stream_id"), "sA")
    assert t._check_spool_identity(claim=True) is None  # absent, re-claimed
    assert t.flush_spool() is False  # zero events; no raw OSError either


def test_flush_spool_zero_events_respects_identity(spark, tmp_path):
    """r17 ADVICE #2: flush_spool's zero-events early return used to
    delete the spool root UNCHECKED — including another stream's
    ``_stream_id`` marker and its zero-row staged dirs. Now the identity
    check runs first: a foreign-id handle raises, a None-id handle over a
    marked spool warns and leaves the claim in place, and the owner (or a
    wholly unmarked spool) still cleans up."""
    import warnings as _w

    tdir = str(tmp_path / "tbl")
    owner = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, stream_id="sA")
    empty = spark.createDataFrame(
        [], "id bigint, name string, _scn bigint, __deleted boolean"
    )
    owner.spool_batch(empty, 0)  # zero rows staged; marker claimed by sA
    marker = os.path.join(tdir, "_spool", "_stream_id")
    assert owner.fs.read_text(marker).strip() == "sA"

    # foreign-id handle: raise, nothing deleted
    other = ParquetUpsertTable(spark, tdir, key="id", stream_id="sB")
    assert other.spool_events() == 0
    with pytest.raises(RuntimeError, match="spool identity collision"):
        other.flush_spool()
    assert owner.fs.exists(marker)

    # None-id handle: warn (raise under strict) and LEAVE the claim
    legacy = ParquetUpsertTable(spark, tdir, key="id")
    with pytest.warns(RuntimeWarning, match="unverifiable spool"):
        assert legacy.flush_spool() is False
    assert owner.fs.exists(marker)  # claim not cleared
    strict = ParquetUpsertTable(spark, tdir, key="id", strict_identity=True)
    with pytest.raises(RuntimeError, match="unverifiable spool"):
        strict.flush_spool()
    assert owner.fs.exists(marker)

    # the owner's own zero-event flush clears its spool as before
    assert owner.flush_spool() is False
    assert not owner.fs.exists(marker)

    # and a None-id handle over a wholly unmarked spool still cleans up
    # silently (pre-r17 behavior, nothing to verify against)
    noid = ParquetUpsertTable(spark, str(tmp_path / "tbl2"), key="id")
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert noid.flush_spool() is False

    # r18 ADVICE #3: an id-carrying handle over a MARKER-LESS spool whose
    # staged dirs are provably zero-row deletes them SILENTLY on the
    # zero-event flush path — the adoption warning's "merging them ...
    # cannot be verified" text would misdescribe a delete, and no rows
    # are merged or lost (the dirs' footers counted zero). The staging
    # and non-zero flush paths stay loud — see
    # test_spool_identity_guards_cross_incarnation_blend.
    t3dir = str(tmp_path / "tbl3")
    noid3 = ParquetUpsertTable(spark, t3dir, key="id")
    noid3.spool_batch(empty, 0)  # marker-less zero-row staged dir
    assert not noid3.fs.exists(os.path.join(t3dir, "_spool", "_stream_id"))
    adopter = ParquetUpsertTable(
        spark, t3dir, key="id", stream_id="sC", strict_identity=True
    )
    assert adopter.spool_events() == 0
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert adopter.flush_spool() is False  # silent even under strict
    assert not adopter.fs.exists(os.path.join(t3dir, "_spool"))


def test_spool_identity_end_to_end_wiped_checkpoint(spark, tmp_path):
    """The reachable real-world path: a spooling stream dies below its
    flush threshold, the checkpoint is WIPED, and a new stream at a
    DIFFERENT checkpoint reuses the table dir — its first staging must
    raise instead of silently queueing its rows behind the dead
    incarnation's; re-running from the SAME checkpoint path (the
    documented identity limit) proceeds and converges."""
    src = str(tmp_path / "in")
    _write_events(src, json_lines(), "all.jsonl")

    table = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    q = materialize_stream(
        read_cdc_stream(spark, src), table, str(tmp_path / "ckA"),
        min_batch_events=10**9,  # never flush: rows stay staged
    )
    q.awaitTermination(120)
    assert table.spool_events() > 0  # staged, unpublished, durable

    # same checkpoint path after a wipe: same identity, staging proceeds
    import shutil
    shutil.rmtree(tmp_path / "ckA")
    t_same = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    q2 = materialize_stream(
        read_cdc_stream(spark, src), t_same, str(tmp_path / "ckA"),
        min_batch_events=10**9,
    )
    q2.awaitTermination(120)

    # different checkpoint: different identity — the stream's staging
    # raises instead of blending incarnations
    t_new = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id")
    q3 = materialize_stream(
        read_cdc_stream(spark, src), t_new, str(tmp_path / "ckB"),
        min_batch_events=10**9,
    )
    with pytest.raises(Exception, match="spool identity collision"):
        q3.awaitTermination(120)
        raise RuntimeError(  # pragma: no cover - awaitTermination raised
            "stream should have failed on the spool identity collision"
        )

    # the published table converges once the owner flushes
    assert t_same.flush_spool() is True
    assert _final_ids(t_same) == _GOLDEN


def test_stateful_txn_assembly_idle_timeout_form_runs_live(spark, tmp_path):
    """The idle-timeout variant (ProcessingTimeTimeout + eviction,
    r19 review pass) must drive a real stream: with a timeout far above
    the run's wall time no eviction fires, so its outputs match the
    legacy keep-everything form row-for-row. (Eviction itself is
    unit-tested against the state protocol in test_sources.py —
    wall-clock eviction in a live query is inherently timing-flaky.)"""
    from olr_cdc_oracle_with_dbz_spark.streaming.stateful import (
        assemble_transactions,
    )

    src = str(tmp_path / "txn_in")
    _write_events(src, json_lines(), "all.jsonl")

    def run(variant_kw: dict, tag: str) -> list:
        out = str(tmp_path / f"out_{tag}")
        def sink(batch, batch_id):
            batch.write.mode("append").parquet(out)
        q = (
            assemble_transactions(read_cdc_stream(spark, src), **variant_kw)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (
                (r["txid"], r["n_events"], r["scn_lo"], r["scn_hi"],
                 r["n_ins"], r["n_upd"], r["n_del"])
                for r in spark.read.parquet(out).collect()
            ),
            key=str,  # txid can be NULL (fixture rows without txId)
        )

    legacy = run({}, "legacy")
    evicting = run({"idle_timeout_ms": 3_600_000}, "timeout")
    assert evicting == legacy and len(legacy) > 0
