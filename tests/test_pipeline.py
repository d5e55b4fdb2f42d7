"""Declarative pipeline assembly + schema registry + monitoring
(reference parity: config-driven pipeline, R16 schema versioning, R21
health observability)."""

from __future__ import annotations

import os

from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import (
    ENVELOPE_SCHEMA,
    EXPECTED_FINAL,
    json_lines,
)
from olr_cdc_oracle_with_dbz_spark.cdc.schema_registry import SchemaRegistry
from olr_cdc_oracle_with_dbz_spark.pipeline import run_pipeline
from olr_cdc_oracle_with_dbz_spark.streaming.monitor import PipelineMonitor, health


def _write(path: str, lines: list[str], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(path, name))


def test_config_pipeline_end_to_end_with_resume(spark, tmp_path):
    """One config dict → running pipeline; same config → resumed pipeline."""
    src = str(tmp_path / "in")
    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
        "schema_registry": str(tmp_path / "schemas"),
        "sink": {"table_dir": str(tmp_path / "tbl"), "pk": "id"},
        "checkpoint": str(tmp_path / "ckpt"),
    }
    lines = json_lines()
    _write(src, lines[:6], "b0.jsonl")

    mon = PipelineMonitor()
    spark.streams.addListener(mon)
    try:
        q, table = run_pipeline(spark, config)
        q.awaitTermination(120)
        assert health(q)["active"] is False
        assert health(q)["exception"] is None

        # restart with the SAME config: resumes, applies only the delta
        _write(src, lines[6:], "b1.jsonl")
        q2, table = run_pipeline(spark, config)
        q2.awaitTermination(120)

        rows = [
            (r["id"], r["name"], float(r["price"]), r["stock"])
            for r in table.read()
            .select("id", "name", "price", "stock")
            .orderBy("id")
            .collect()
        ]
        assert rows == [(r[0], r[1], float(r[3]), r[4]) for r in EXPECTED_FINAL]
        # registry pinned v1 of the envelope schema
        reg = SchemaRegistry(config["schema_registry"], "OLR_DB.PRODUCT")
        assert reg.current_version() == 1
        # monitor saw the batches and no failures
        assert mon.total_rows() > 0
        assert mon.failed() == []
    finally:
        spark.streams.removeListener(mon)


def test_schema_registry_versioning_and_evolution(tmp_path):
    reg = SchemaRegistry(str(tmp_path), "OLR_DB.PRODUCT")
    assert reg.current_version() is None
    v1 = reg.register(ENVELOPE_SCHEMA)
    assert v1 == 1
    # idempotent re-register (connector restart)
    assert reg.register(ENVELOPE_SCHEMA) == 1
    evolved = ENVELOPE_SCHEMA.strip() + ", extra_meta string"
    v2 = reg.register(evolved)
    assert v2 == 2 and reg.current_version() == 2
    assert reg.versions() == [1, 2]
    assert reg.is_additive(1, 2)
    assert not reg.is_additive(2, 1)
    assert reg.get(1) == ENVELOPE_SCHEMA.strip()


def test_fanout_pipeline_routes_multiple_tables(spark, tmp_path):
    """One capture stream, one checkpoint, two materialized tables —
    the reference's multi-table filter array, Spark form."""
    import json as _json

    from olr_cdc_oracle_with_dbz_spark.pipeline import run_fanout_pipeline

    src = str(tmp_path / "fan_in")
    lines = json_lines()
    # synthesize a second table's history by re-tagging half the events
    other = [
        _json.dumps({**_json.loads(s), "source": {**_json.loads(s)["source"], "table": "INVENTORY"}})
        for s in lines[:5]
    ]
    _write(src, lines + other, "b0.jsonl")

    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "tables": ["PRODUCT", "INVENTORY"]},
        "sink": {"root_dir": str(tmp_path / "tables"), "pk": "id"},
        "checkpoint": str(tmp_path / "fan_ck"),
    }
    q, sinks = run_fanout_pipeline(spark, config)
    q.awaitTermination(120)

    prod = {r["id"] for r in sinks["PRODUCT"].read().collect()}
    inv = {r["id"] for r in sinks["INVENTORY"].read().collect()}
    assert prod == {r[0] for r in EXPECTED_FINAL}
    # INVENTORY saw only the first 5 events (3 snapshot reads + insert +
    # update of id 4) — no delete, so id 4 is live there
    assert inv == {1, 2, 3, 4}

    # restart with no new data: neither table replays
    v_before = {t: s.current_version() for t, s in sinks.items()}
    q2, sinks2 = run_fanout_pipeline(spark, config)
    q2.awaitTermination(120)
    assert {t: s.current_version() for t, s in sinks2.items()} == v_before


def test_pipeline_with_quarantine_dead_letters(spark, tmp_path):
    """Permissive pipeline: bad lines divert to the dead-letter dir, good
    events still converge to the golden state."""
    src = str(tmp_path / "q_in")
    bad_lines = ["{broken", '{"not": "an envelope"}']
    _write(src, json_lines() + bad_lines, "b0.jsonl")
    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
        "sink": {"table_dir": str(tmp_path / "q_tbl"), "pk": "id"},
        "checkpoint": str(tmp_path / "q_ck"),
        "quarantine": str(tmp_path / "dead_letters"),
    }
    q, table = run_pipeline(spark, config)
    q.awaitTermination(120)

    rows = [
        (r["id"], r["name"], float(r["price"]), r["stock"])
        for r in table.read().select("id", "name", "price", "stock").orderBy("id").collect()
    ]
    assert rows == [(r[0], r[1], float(r[3]), r[4]) for r in EXPECTED_FINAL]
    dead = spark.read.parquet(str(tmp_path / "dead_letters"))
    assert dead.count() == len(bad_lines)
    assert set(r["error"] for r in dead.collect()) == {"unparseable-envelope"}


def test_pipeline_min_batch_events_publishes_sub_threshold_tail(spark, tmp_path):
    """ADVICE r10: a trigger_once run below min_batch_events must still
    publish — run_pipeline awaits the bounded stream and flushes the spool
    tail, so the returned table is immediately queryable (no rows stranded
    durably-but-unpublished in _spool/ with committed offsets)."""
    src = str(tmp_path / "in")
    _write(src, json_lines(), "b0.jsonl")
    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
        "sink": {
            "table_dir": str(tmp_path / "tbl"),
            "pk": "id",
            "min_batch_events": 1_000_000,  # never reached by 12 events
        },
        "checkpoint": str(tmp_path / "ckpt"),
    }
    q, table = run_pipeline(spark, config)
    assert q.isActive is False  # bounded run was awaited inside
    assert table.spool_events() == 0  # tail flushed
    rows = [
        (r["id"], r["name"], float(r["price"]), r["stock"])
        for r in table.read()
        .select("id", "name", "price", "stock")
        .orderBy("id")
        .collect()
    ]
    assert rows == [(r[0], r[1], float(r[3]), r[4]) for r in EXPECTED_FINAL]


def test_fanout_min_batch_events_publishes_all_tails(spark, tmp_path):
    """Fanout + min_batch_events: per-table spools coalesce the N-way-split
    micro-batches, and a bounded run publishes EVERY table's sub-threshold
    tail before returning (same run_pipeline contract, per table)."""
    import json as _json

    from olr_cdc_oracle_with_dbz_spark.pipeline import run_fanout_pipeline

    src = str(tmp_path / "fan_in")
    lines = json_lines()
    other = [
        _json.dumps({**_json.loads(s), "source": {**_json.loads(s)["source"], "table": "INVENTORY"}})
        for s in lines[:5]
    ]
    _write(src, lines + other, "b0.jsonl")

    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "tables": ["PRODUCT", "INVENTORY"]},
        "sink": {
            "root_dir": str(tmp_path / "tables"),
            "pk": "id",
            "min_batch_events": 1_000_000,  # everything spools
        },
        "checkpoint": str(tmp_path / "fan_ck"),
    }
    q, sinks = run_fanout_pipeline(spark, config)
    assert q.isActive is False  # awaited inside
    for t, table in sinks.items():
        assert table.spool_events() == 0, t  # every tail flushed
    prod = {r["id"] for r in sinks["PRODUCT"].read().collect()}
    inv = {r["id"] for r in sinks["INVENTORY"].read().collect()}
    assert prod == {r[0] for r in EXPECTED_FINAL}
    assert inv == {1, 2, 3, 4}


def test_quarantine_pipeline_min_batch_events_tail_flush(spark, tmp_path):
    """The permissive-ingest (quarantine) form honors min_batch_events the
    same way: dead letters divert per batch, good rows spool, and a bounded
    run publishes the sub-threshold tail before returning."""
    src = str(tmp_path / "q_in")
    bad_lines = ["{broken", '{"not": "an envelope"}']
    _write(src, json_lines() + bad_lines, "b0.jsonl")
    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
        "sink": {
            "table_dir": str(tmp_path / "q_tbl"),
            "pk": "id",
            "min_batch_events": 1_000_000,
        },
        "checkpoint": str(tmp_path / "q_ck"),
        "quarantine": str(tmp_path / "dead"),
    }
    q, table = run_pipeline(spark, config)
    assert q.isActive is False
    assert table.spool_events() == 0
    rows = [
        (r["id"], r["name"], float(r["price"]), r["stock"])
        for r in table.read().select("id", "name", "price", "stock").orderBy("id").collect()
    ]
    assert rows == [(r[0], r[1], float(r[3]), r[4]) for r in EXPECTED_FINAL]
    assert spark.read.parquet(str(tmp_path / "dead")).count() == len(bad_lines)


def test_config_pipeline_hadoop_fs_sink(spark, tmp_path):
    """sink.fs="hadoop" routes the table's metadata bookkeeping through the
    Hadoop FileSystem seam; the pipeline result must be identical to the
    default LocalFS run (declarative parity with the reference: the
    deployment filesystem is a connector config key, not code)."""
    import pytest

    from olr_cdc_oracle_with_dbz_spark.fs import HadoopFS

    src = str(tmp_path / "in")
    _write(src, json_lines(), "all.jsonl")

    def cfg(name: str, fs: str | None):
        sink = {"table_dir": str(tmp_path / name), "pk": "id"}
        if fs:
            sink["fs"] = fs
        return {
            "source": {"format": "debezium-json", "path": src},
            "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
            "sink": sink,
            "checkpoint": str(tmp_path / f"ckpt_{name}"),
        }

    q1, local_t = run_pipeline(spark, cfg("tbl_local", None))
    q1.awaitTermination(120)
    q2, hadoop_t = run_pipeline(spark, cfg("tbl_hadoop", "hadoop"))
    q2.awaitTermination(120)
    assert isinstance(hadoop_t.fs, HadoopFS)

    def state(t):
        return sorted(
            (r["id"], r["name"], float(r["price"]), r["stock"])
            for r in t.read().select("id", "name", "price", "stock").collect()
        )

    assert state(hadoop_t) == state(local_t)
    assert state(local_t) == sorted(
        (r[0], r[1], float(r[3]), r[4]) for r in EXPECTED_FINAL
    )

    with pytest.raises(ValueError, match="unsupported sink fs"):
        run_pipeline(spark, cfg("tbl_bad", "nfs"))


def test_schema_registry_old_version_reregister_returns_existing(tmp_path):
    """r15 code-review (Confluent semantics): a restarted OLD connector
    re-registering a superseded schema gets that schema's EXISTING
    version — minting a new highest version would roll current() back
    and silently null the evolved columns out of every later event."""
    reg = SchemaRegistry(str(tmp_path), "OLR_DB.PRODUCT")
    v1 = reg.register("id bigint, name string")
    v2 = reg.register("id bigint, name string, category string")
    assert (v1, v2) == (1, 2)
    # the old connector comes back up and re-registers its old schema
    assert reg.register("id bigint, name string") == 1
    assert reg.current_version() == 2  # evolution is NOT rolled back
    assert reg.versions() == [1, 2]


def test_schema_additivity_with_parenthesized_types(tmp_path):
    """r15 code-review: decimal(10,2)'s inner comma must not split the
    field list — the engine's own envelope casts price to decimal(10,2)."""
    reg = SchemaRegistry(str(tmp_path), "OLR_DB.KV")
    v1 = reg.register("id bigint, price decimal(10,2)")
    v2 = reg.register("id bigint, price decimal(10,2), note varchar(64)")
    assert reg.is_additive(v1, v2)
    assert not reg.is_additive(v2, v1)


def test_schema_registry_torn_record_detected_and_healed(tmp_path):
    """r18 review pass / r19 verdict order #3: on stores where
    ``create_exclusive`` degrades to a client-enforced fence, a registrant
    dying mid-upload can leave a TRUNCATED ``v<N>.ddl`` visible. A torn
    DDL can truncate at a top-level comma and still parse as valid DDL
    (silently dropping the evolution's appended columns), so records are
    self-verifying (#sha256 header): reads of a torn record RAISE with
    the recovery runbook instead of decoding with it or silently falling
    back to the pre-evolution schema, and the dead writer's own restart
    re-registers past it, healing the registry with no manual step."""
    import pytest

    from olr_cdc_oracle_with_dbz_spark.cdc.schema_registry import _seal
    from olr_cdc_oracle_with_dbz_spark.fs import LocalFS

    class TornFS(LocalFS):
        """Publishes only a PREFIX of each record — the degraded-store
        mid-upload death, at whatever cut `chop` dictates."""

        def __init__(self, chop):
            self.chop = chop

        def create_exclusive(self, path: str, text: str) -> bool:
            return super().create_exclusive(path, self.chop(text))

    evolved = "id bigint, name string, category string"
    reg = SchemaRegistry(str(tmp_path), "OLR_DB.PRODUCT")
    assert reg.register("id bigint, name string") == 1

    # the nasty tear: cut at a top-level comma so the payload is VALID
    # DDL missing the appended column — undetectable by parsing
    def cut_at_comma(text):
        head, body = text.split("\n", 1)
        return head + "\n" + body[: body.rindex(",")]

    torn_writer = SchemaRegistry(
        str(tmp_path), "OLR_DB.PRODUCT", fs=TornFS(cut_at_comma)
    )
    assert torn_writer.register(evolved) == 2  # "published", torn on disk
    with pytest.raises(RuntimeError, match="torn record"):
        reg.get(2)
    with pytest.raises(RuntimeError, match="torn record"):
        reg.current()  # loud: NO silent fallback to v1
    assert reg.versions() == [1, 2]  # the torn record occupies its number

    # the dead writer restarts with a healthy fs and re-registers: the
    # torn v2 never matches idempotency, so the schema lands at v3
    healed = SchemaRegistry(str(tmp_path), "OLR_DB.PRODUCT")
    assert healed.register(evolved) == 3
    assert reg.current() == evolved
    assert reg.is_additive(1, 3)

    # every other truncation class of a sealed record also reads torn:
    # mid-header, header-only, header+partial-line — never legacy-plain
    for chop in (
        lambda t: t[:4],                      # "#sha"
        lambda t: t.split("\n", 1)[0],        # full header, no newline
        lambda t: t[: len(t) // 2],           # header + partial body
    ):
        sub = str(tmp_path / chop.__code__.co_name) + repr(chop.__code__.co_firstlineno)
        torn = SchemaRegistry(sub, "S", fs=TornFS(chop))
        torn.register("id bigint, name string")
        with pytest.raises(RuntimeError, match="torn record"):
            SchemaRegistry(sub, "S").current()
    assert _seal("x") .startswith("#sha256:")


def test_quarantine_dead_letters_replay_idempotent(spark, tmp_path):
    """r19 review pass: the dead-letter write is per-batch overwrite keyed
    by batch id — a replay of the same batches (here: a wiped checkpoint
    re-reading the same source under the same stream identity) re-lands
    the same quarantine rows instead of appending duplicates, matching
    the good-row side's replay idempotence (merge no-ops, spool
    overwrites)."""
    import shutil

    src = str(tmp_path / "q_in")
    bad_lines = ["{broken", '{"not": "an envelope"}']
    _write(src, json_lines() + bad_lines, "b0.jsonl")
    qdir = str(tmp_path / "dead")
    config = {
        "source": {"format": "debezium-json", "path": src},
        "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
        "sink": {"table_dir": str(tmp_path / "q_tbl"), "pk": "id"},
        "checkpoint": str(tmp_path / "q_ck"),
        "quarantine": qdir,
    }
    q, table = run_pipeline(spark, config)
    q.awaitTermination(120)
    assert spark.read.parquet(qdir).count() == len(bad_lines)
    golden = [
        (r["id"], r["name"], float(r["price"]), r["stock"])
        for r in table.read().select("id", "name", "price", "stock").orderBy("id").collect()
    ]

    # wiped checkpoint, same config: the full replay re-runs every batch
    # under the same ids and the same ckpt:-derived stream identity
    shutil.rmtree(tmp_path / "q_ck")
    q2, t2 = run_pipeline(spark, config)
    q2.awaitTermination(120)
    assert spark.read.parquet(qdir).count() == len(bad_lines)  # not doubled
    rows2 = [
        (r["id"], r["name"], float(r["price"]), r["stock"])
        for r in t2.read().select("id", "name", "price", "stock").orderBy("id").collect()
    ]
    assert rows2 == golden


def test_fanout_max_files_per_trigger_bounds_micro_batches(spark, tmp_path):
    """source.max_files_per_trigger applies to every pipeline shape: a
    fan-out run over two source files with a one-file bound commits two
    micro-batches, and routing still converges every table."""
    import json as _json

    from olr_cdc_oracle_with_dbz_spark.pipeline import run_fanout_pipeline

    src = str(tmp_path / "fan_in")
    lines = json_lines()
    other = [
        _json.dumps({**_json.loads(s), "source": {**_json.loads(s)["source"], "table": "INVENTORY"}})
        for s in lines[:5]
    ]
    _write(src, lines[:6] + other[:3], "b0.jsonl")
    _write(src, lines[6:] + other[3:], "b1.jsonl")
    ckpt = str(tmp_path / "fan_ck")
    config = {
        "source": {"format": "debezium-json", "path": src, "max_files_per_trigger": 1},
        "filter": {"schema": "OLR_DB", "tables": ["PRODUCT", "INVENTORY"]},
        "sink": {"root_dir": str(tmp_path / "tables"), "pk": "id"},
        "checkpoint": ckpt,
    }
    q, sinks = run_fanout_pipeline(spark, config)
    q.awaitTermination(120)

    commits = [n for n in os.listdir(os.path.join(ckpt, "commits")) if n[0] != "."]
    assert sorted(commits) == ["0", "1"]
    for t, table in sinks.items():
        assert len(table.versions()) == 2, t  # one merge per micro-batch
    assert {r["id"] for r in sinks["PRODUCT"].read().collect()} == {
        r[0] for r in EXPECTED_FINAL
    }
    assert {r["id"] for r in sinks["INVENTORY"].read().collect()} == {1, 2, 3, 4}


def test_pipeline_shapes_derive_canonical_ckpt_identity(spark, tmp_path, monkeypatch):
    """Every pipeline shape stamps its sinks with the canonical ``ckpt:``
    identity materialize_stream derives, so a relative, trailing-slash
    checkpoint spelling names the same stream as its absolute form."""
    from olr_cdc_oracle_with_dbz_spark.pipeline import run_fanout_pipeline
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import _canon_ckpt_path

    # Spark resolves a relative checkpoint against the JVM's working dir;
    # run the driver side from the same dir so both read one location
    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    monkeypatch.chdir(jvm_cwd)

    src = str(tmp_path / "in")
    _write(src, json_lines(), "b0.jsonl")

    def rel(name: str) -> str:
        return os.path.relpath(str(tmp_path / name), jvm_cwd) + "/"

    source = {"format": "debezium-json", "path": src}
    quarantine_cfg = {
        "source": source,
        "filter": {"schema": "OLR_DB", "table": "PRODUCT"},
        "sink": {"table_dir": str(tmp_path / "q_tbl"), "pk": "id"},
        "checkpoint": rel("q_ck"),
        "quarantine": str(tmp_path / "dead"),
    }
    fanout_cfg = {
        "source": source,
        "filter": {"schema": "OLR_DB", "tables": ["PRODUCT"]},
        "sink": {"root_dir": str(tmp_path / "fan"), "pk": "id"},
        "checkpoint": rel("f_ck"),
    }
    q, q_table = run_pipeline(spark, quarantine_cfg)
    q.awaitTermination(120)
    q2, sinks = run_fanout_pipeline(spark, fanout_cfg)
    q2.awaitTermination(120)

    for cfg, table, name in (
        (quarantine_cfg, q_table, "q_ck"),
        (fanout_cfg, sinks["PRODUCT"], "f_ck"),
    ):
        want = "ckpt:" + _canon_ckpt_path(cfg["checkpoint"])
        assert want == f"ckpt:{tmp_path / name}"
        assert table.stream_id == want
        assert table._head()[1]["stream_id"] == want  # stamped on commit
