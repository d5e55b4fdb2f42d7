"""Connector-layer tests (SURVEY §2A R1/R2/R11-R14).

Kafka and JDBC transports aren't available in this container, so these
tests exercise everything up to the wire: option assembly, wire-format
projection, incremental-watermark state machine, MERGE statement shape,
and ES bulk-document rendering.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import json_lines
from olr_cdc_oracle_with_dbz_spark.cdc.envelope import parse_envelope, unwrap
from olr_cdc_oracle_with_dbz_spark.sources.elasticsearch import (
    es_bulk_payload,
    parse_bulk_line,
)
from olr_cdc_oracle_with_dbz_spark.sources.jdbc import (
    JdbcIncrementalSource,
    jdbc_snapshot,
    upsert_statement,
)
from olr_cdc_oracle_with_dbz_spark.sources.kafka import (
    kafka_source_options,
    to_kafka_records,
)


def _envelopes(spark):
    raw = spark.createDataFrame([(s,) for s in json_lines()], "value string")
    return parse_envelope(raw)


def test_kafka_source_options_shape():
    opts = kafka_source_options(
        "b1:9092,b2:9092", max_offsets_per_trigger=100_000, min_partitions=96
    )
    assert opts["subscribe"] == "oracle.olr.OLR_DB.PRODUCT"
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["minPartitions"] == "96"
    assert opts["failOnDataLoss"] == "true"


def test_kafka_wire_records_keyed_by_pk(spark):
    env = _envelopes(spark)
    recs = to_kafka_records(env).collect()
    assert all(r.key is not None for r in recs)  # deletes key on before.id
    # round-trip: value is valid JSON carrying the op
    ops = {json.loads(r.value)["op"] for r in recs}
    assert ops >= {"c", "u", "d"}


def test_jdbc_snapshot_marks_read_events(spark, sf_dir):
    snap = jdbc_snapshot(
        spark, url="", table="",
        load_fn=lambda: spark.read.parquet(f"{sf_dir}/region.parquet"),
    )
    assert snap.filter(F.col("op") != "r").count() == 0
    assert snap.count() == 5


def test_jdbc_incremental_poll_advances_watermark(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # poll() emits the predicate in JDBC dialect (ANSI-double-quoted
    # identifiers); a Spark-side injected loader translates to backticks
    def spark_side(pred: str, bound: int):
        return orders.filter(pred.replace('"', "`")).filter(f"o_orderkey <= {bound}")

    src = JdbcIncrementalSource(
        spark,
        watermark_col="o_orderkey",
        state_path=str(tmp_path / "wm.json"),
        load_fn=lambda pred: spark_side(pred, 1000),
    )
    first = src.poll().count()
    assert first > 0
    # second poll above the same bound: nothing new
    assert src.poll().count() == 0
    # widen the bound: only the delta arrives
    src.load_fn = lambda pred: spark_side(pred, 2000)
    delta = src.poll()
    assert delta.count() > 0
    assert delta.agg(F.min("o_orderkey")).collect()[0][0] > 1000


def test_upsert_statement_merge_shape():
    sql = upsert_statement("products", ["id", "name", "price", "__deleted"], "id")
    assert "MERGE INTO products t" in sql
    assert 'WHEN MATCHED AND s."__deleted" THEN DELETE' in sql
    assert 'WHEN MATCHED THEN UPDATE SET t."name" = s."name", t."price" = s."price"' in sql
    assert 'WHEN NOT MATCHED AND NOT s."__deleted" THEN INSERT ("id", "name", "price")' in sql


def test_es_bulk_payload_upsert_and_delete(spark):
    rows = unwrap(_envelopes(spark))
    # one bulk action per change event (fixture includes delete-then-reinsert
    # of the same id, so key on the event, not the id)
    acts = es_bulk_payload(rows, "products", "id").collect()
    # NB: Row.__getattr__ refuses dunder-prefixed names — index instead
    assert any(r["__deleted"] for r in acts) and any(not r["__deleted"] for r in acts)
    for r in acts:
        act = parse_bulk_line(r.bulk)
        if r["__deleted"]:
            assert act["delete"]["_id"] == str(r._id)
        else:
            assert act["index"]["_index"] == "products"
            assert act["_source"]["id"] == r._id


def test_es_sink_bulk_posts_to_mock_server(spark):
    """R12 transport closed: the sink bulk-POSTs NDJSON to /_bulk from
    executor workers; a stdlib http.server mock asserts the payload —
    id-keyed index actions with sources, delete actions for tombstones."""
    import http.server
    import json as _json
    import threading

    from olr_cdc_oracle_with_dbz_spark.sources.elasticsearch import es_sink

    received: list[tuple[str, str, bytes]] = []
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                received.append(
                    (self.path, self.headers.get("Content-Type", ""), body)
                )
            resp = _json.dumps({"errors": False, "items": []}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):  # silence per-request stderr lines
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        batch = spark.createDataFrame(
            [(1, "widget", False), (2, "gadget", False), (3, None, True)],
            "id bigint, name string, __deleted boolean",
        ).coalesce(2)
        sink = es_sink("products", "id", hosts=f"127.0.0.1:{srv.server_port}")
        sink(batch, batch_id=1)
    finally:
        srv.shutdown()
        srv.server_close()

    assert received, "no bulk POST reached the mock server"
    assert all(path == "/_bulk" for path, _, _ in received)
    assert all(ct == "application/x-ndjson" for _, ct, _ in received)
    actions = []
    for _, _, body in received:
        text = body.decode()
        assert text.endswith("\n")  # the bulk API requires a trailing newline
        lines = text.strip().split("\n")
        i = 0
        while i < len(lines):
            act = _json.loads(lines[i])
            if "index" in act:
                actions.append(("index", act["index"]["_id"], _json.loads(lines[i + 1])))
                i += 2
            else:
                actions.append(("delete", act["delete"]["_id"], None))
                i += 1
    by_id = {(kind, _id): src for kind, _id, src in actions}
    assert ("index", "1") in by_id and by_id[("index", "1")]["name"] == "widget"
    assert ("index", "2") in by_id and by_id[("index", "2")]["name"] == "gadget"
    assert ("delete", "3") in by_id  # tombstone propagated as delete action
    assert len(actions) == 3


def test_es_sink_raises_on_bulk_errors(spark):
    """A response with errors=true must fail the batch (streaming retry)."""
    import http.server
    import json as _json
    import threading

    from olr_cdc_oracle_with_dbz_spark.sources.elasticsearch import es_sink

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            resp = _json.dumps(
                {
                    "errors": True,
                    "items": [
                        {"index": {"_id": "1", "status": 429, "error": "rejected"}}
                    ],
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(resp)))
            self.end_headers()
            self.wfile.write(resp)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        batch = spark.createDataFrame(
            [(1, "widget", False)], "id bigint, name string, __deleted boolean"
        ).coalesce(1)
        sink = es_sink("products", "id", hosts=f"127.0.0.1:{srv.server_port}")
        with pytest.raises(Exception, match="(?i)bulk|errors|429|Python worker"):
            sink(batch, batch_id=1)
    finally:
        srv.shutdown()
        srv.server_close()


def test_kafka_load_requires_connector_jar(spark):
    # documents the runtime requirement rather than silently passing
    from olr_cdc_oracle_with_dbz_spark.sources.kafka import read_kafka_cdc

    with pytest.raises(Exception):
        read_kafka_cdc(spark, "localhost:9092").printSchema()


def test_jdbc_poll_watermark_commits_after_delivery(spark, sf_dir, tmp_path):
    """r15 code-review: the advanced watermark must not become durable
    before the batch is delivered — a crash between poll() and the sink
    write re-polls the same rows (at-least-once), never skips them."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    state = str(tmp_path / "wm.json")

    def load(pred):
        return orders.filter(pred.replace('"', "`")).filter("o_orderkey <= 500")

    src = JdbcIncrementalSource(spark, "o_orderkey", state, load)
    first = src.poll().count()
    assert first > 0

    # crash before delivery: a NEW instance (restart) re-polls everything
    crashed = JdbcIncrementalSource(spark, "o_orderkey", state, load)
    assert crashed.poll().count() == first

    # delivered + committed: the next restart resumes past the batch
    crashed.commit()
    resumed = JdbcIncrementalSource(spark, "o_orderkey", state, load)
    assert resumed.poll().count() == 0


def test_upsert_statement_key_only_table():
    """r15 code-review: no data columns beyond key+flag -> the MERGE must
    omit the UPDATE clause entirely, not emit 'UPDATE SET ' (syntax
    error on every database)."""
    sql = upsert_statement("kv", ["id", "__deleted"], "id")
    assert "UPDATE SET" not in sql
    assert 'WHEN MATCHED AND s."__deleted" THEN DELETE' in sql
    assert 'INSERT ("id") VALUES (s."id")' in sql


def test_jdbc_snapshot_partition_requires_bounds(spark):
    """r15 code-review: partition_column without bounds must fail at the
    call site, not as a NumberFormatException('None') inside Spark."""
    with pytest.raises(ValueError, match="lower_bound and upper_bound"):
        jdbc_snapshot(
            spark, "jdbc:derby:memory:x", "t", partition_column="id"
        )


def test_es_bulk_payload_escapes_metadata(spark):
    """r15 code-review: a string id containing quotes/backslashes must
    render VALID action JSON (to_json, not string concatenation) — one
    bad id otherwise 400-fails the whole _bulk request forever."""
    df = spark.createDataFrame(
        [('ab"c\\d', "x", False), ("plain", "y", True)],
        "id string, name string, __deleted boolean",
    )
    for r in es_bulk_payload(df, 'idx"quoted', "id").collect():
        act = parse_bulk_line(r.bulk)  # json.loads inside = validity check
        op = "delete" if r["__deleted"] else "index"
        assert act[op]["_id"] == r._id
        assert act[op]["_index"] == 'idx"quoted'


def test_assemble_tolerates_null_scn():
    """r15 code-review: an envelope with no source.scn parses to a null
    _scn; the stateful assembler must not die on int(NaN) — such rows
    count toward totals but carry no SCN position."""
    import pandas as pd

    from olr_cdc_oracle_with_dbz_spark.streaming.stateful import _assemble_fn

    _assemble = _assemble_fn(None)

    class _State:
        exists = False

        def update(self, v):
            self.value = v

    st = _State()
    pdf = pd.DataFrame(
        {"_scn": [None, 5.0, None], "op": ["c", "u", "d"]}
    )
    (out,) = _assemble(("tx1",), [pdf], st)
    assert out["n_events"].iloc[0] == 3
    assert out["scn_lo"].iloc[0] == 5 and out["scn_hi"].iloc[0] == 5
    assert st.value == (3, 5, 5, 1, 1, 1)

    all_null = pd.DataFrame({"_scn": [None, None], "op": ["c", "c"]})
    st2 = _State()
    (out2,) = _assemble(("tx2",), [all_null], st2)
    assert out2["n_events"].iloc[0] == 2
    assert out2["scn_lo"].iloc[0] is None or pd.isna(out2["scn_lo"].iloc[0])


def test_monitor_bounded_window_exact_totals():
    """r15 code-review: the listener's batch list is a bounded window (a
    driver-lifetime listener must not leak heap at trigger cadence) while
    total_rows() stays exact via a running counter."""
    from olr_cdc_oracle_with_dbz_spark.streaming.monitor import PipelineMonitor

    class _P:
        def __init__(self, i):
            self.batchId = i
            self.numInputRows = 10
            self.durationMs = {"triggerExecution": 1}
            self.sink = None

    class _E:
        def __init__(self, i):
            self.progress = _P(i)

    mon = PipelineMonitor(max_batches=3)
    for i in range(10):
        mon.onQueryProgress(_E(i))
    assert len(mon.batches) == 3
    assert [b.batch_id for b in mon.batches] == [7, 8, 9]
    assert mon.total_rows() == 100


def test_kafka_wire_records_roundtrip_preserves_order_metadata(spark):
    """r15 code-review: the produced value must carry the source block —
    re-ingesting a topic written without it parses every event with
    _scn/_ssn NULL, the per-key total order degenerates to op precedence,
    and a delete anywhere in a key's history beats later re-inserts."""
    from olr_cdc_oracle_with_dbz_spark.cdc.envelope import (
        compact_latest,
        parse_envelope,
        source_filter,
        unwrap,
    )
    from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import EXPECTED_FINAL

    env = _envelopes(spark)
    wire = to_kafka_records(env).select(F.col("value"))
    re_ingested = source_filter(parse_envelope(wire, "value"))
    assert re_ingested.filter(F.col("_scn").isNull()).count() == 0
    # txid round-trips where the original event carried one (snapshot
    # 'r' events legitimately have none)
    assert (
        re_ingested.filter(
            (F.col("op") != "r") & F.col("_txid").isNull()
        ).count()
        == 0
    )
    # the re-ingested stream compacts to the same golden state
    final = compact_latest(unwrap(re_ingested))
    assert final.count() == len(EXPECTED_FINAL)


def test_es_bulk_payload_null_id_fails_fast(spark):
    """r15 ADVICE: to_json omits null struct fields, so a null id would
    render an index action with no _id (ES auto-generates one — silent
    duplicate docs on micro-batch replay) and a delete action with no
    _id (400-fails the whole _bulk). Null ids must fail fast executor-
    side, or be explicitly dropped for callers that divert them."""
    df = spark.createDataFrame(
        [(1, "a", False), (None, "ghost", False), (None, "gone", True)],
        "id bigint, name string, __deleted boolean",
    )
    with pytest.raises(Exception, match="null 'id'"):
        es_bulk_payload(df, "products", "id").collect()

    dropped = es_bulk_payload(df, "products", "id", on_null_id="drop").collect()
    assert [r["_id"] for r in dropped] == [1]
    with pytest.raises(ValueError, match="on_null_id"):
        es_bulk_payload(df, "products", "id", on_null_id="bogus")


def test_jdbc_rollback_repolls_undelivered_batch(spark, sf_dir, tmp_path):
    """r15 ADVICE: poll() commits the pending watermark on entry, so a
    delivery-failure handler that simply re-polls durably skips the
    undelivered batch. rollback() abandons the pending watermark so the
    re-poll re-delivers the same rows."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    state = str(tmp_path / "wm.json")

    def load(pred):
        return orders.filter(pred.replace('"', "`")).filter("o_orderkey <= 500")

    src = JdbcIncrementalSource(spark, "o_orderkey", state, load)
    first = src.poll().count()
    assert first > 0

    # downstream delivery failed: rollback, then re-poll the SAME rows
    # from the SAME instance (no restart)
    src.rollback()
    assert src.poll().count() == first

    # delivered this time: commit, and the next poll is empty
    src.commit()
    assert src.poll().count() == 0

    # rollback with nothing pending is a safe no-op
    src.rollback()
    assert src.poll().count() == 0


def test_assemble_idle_timeout_evicts_completed_transactions():
    """r19 review pass (R19 bounded buffer): with NoTimeout, every txid
    ever seen keeps a state row forever — O(all transactions), not
    O(open). The idle-timeout form restarts the clock on every touch,
    evicts on the timeout callback (emitting nothing — the final
    assembly already went out with the last touching batch), and leaves
    the legacy keep-everything policy semantically identical for an
    active stream."""
    import pandas as pd

    from olr_cdc_oracle_with_dbz_spark.streaming.stateful import _assemble_fn

    _assemble = _assemble_fn(None)

    class _State:
        exists = False
        hasTimedOut = False
        removed = False
        timeout_set = None

        def update(self, v):
            self.value = v
            self.exists = True

        @property
        def get(self):
            return self.value

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = _assemble_fn(30_000)
    pdf = pd.DataFrame({"_scn": [1.0, 2.0], "op": ["c", "u"]})

    # active touch: same output as the legacy form, and the idle clock arms
    st = _State()
    (out,) = fn(("tx1",), [pdf], st)
    st_legacy = _State()
    (out_legacy,) = _assemble(("tx1",), [pdf], st_legacy)
    assert out.equals(out_legacy)
    assert st.timeout_set == 30_000
    assert st_legacy.timeout_set is None  # legacy never arms a timeout

    # a second touch re-arms the clock (eviction never fires mid-txn)
    (out2,) = fn(("tx1",), [pdf], st)
    assert out2["n_events"].iloc[0] == 4
    assert st.timeout_set == 30_000

    # timeout callback: state removed, nothing emitted
    st.hasTimedOut = True
    assert list(fn(("tx1",), [], st)) == []
    assert st.removed
