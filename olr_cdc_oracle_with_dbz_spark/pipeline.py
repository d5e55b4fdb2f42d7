"""Declarative pipeline assembly — the engine's "connector config" surface.

The reference is a CDC pipeline assembled **entirely from declarative
configuration**: an OLR source/filter/format config
(/root/reference/scripts/OpenLogReplicator.json), a Debezium source config
(README.md:797-827) and a JDBC sink config (README.md:829-850) wired
together, no imperative code. A user switching from the reference gets the
same experience here: one config dict → a running, checkpointed,
monitored capture→materialize pipeline.

Config shape (every key maps to a reference connector setting, cited):

    {
      "source": {
        "format": "debezium-json",            # wire format (R5)
        "path": "/in/events",                 # file form, or:
        "kafka": {"bootstrap": ..., "topic": ...},   # topic form (R1)
        "max_files_per_trigger": 10,          # batch bound (R19 analogue)
      },
      "filter": {"schema": "OLR_DB", "table": "PRODUCT"},  # OLR filter (R3)
      "schema_registry": "/meta/schemas",     # versioned decode (R16), optional
      "sink": {"table_dir": "/tables/products", "pk": "id",
               "min_batch_events": 500000,    # upsert (R8/R9); coalesce
                                              # undersized batches (CDC_STEADY_r09)
               "fs": "hadoop"},               # metadata seam (fs.py): "local"
                                              # (default) or "hadoop" for table
                                              # roots on hdfs:// / s3a:// / ...
      "checkpoint": "/ckpt/products",         # resume (R15)
    }
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from olr_cdc_oracle_with_dbz_spark.cdc.envelope import (
    PK,
    parse_envelope,
    quarantine_malformed,
    source_filter,
)
from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import ENVELOPE_SCHEMA
from olr_cdc_oracle_with_dbz_spark.streaming.ingest import (
    read_cdc_stream,
    read_text_stream,
)
from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
    ParquetUpsertTable,
    run_to_completion,
    start_sink,
)


def _sink_fs(spark: SparkSession, sink: dict):
    """Resolve the sink's metadata-filesystem config key to an fs.py impl.

    ``"local"`` / absent → LocalFS (driver-local bookkeeping, this build's
    default); ``"hadoop"`` → HadoopFS, required when ``table_dir`` lives on
    shared storage (hdfs:// / s3a:// / ...) — the 100 TB deployment shape.
    """
    choice = sink.get("fs", "local")
    if choice == "local":
        return None  # ParquetUpsertTable defaults to LocalFS
    if choice == "hadoop":
        from olr_cdc_oracle_with_dbz_spark.fs import HadoopFS

        return HadoopFS(spark)
    raise ValueError(f"unsupported sink fs {choice!r} (use 'local' or 'hadoop')")


def _drive(
    stream: DataFrame,
    route: Callable[[DataFrame, int], list[DataFrame]],
    tables: list[ParquetUpsertTable],
    config: dict,
    trigger_once: bool,
    timeout_sec: float | None,
) -> StreamingQuery:
    """The one sink driver behind every pipeline shape.

    ``route(batch, batch_id)`` is the shape's per-batch pre-step; it
    returns one envelope batch per table, in ``tables`` order, and each
    goes through that table's :meth:`ParquetUpsertTable.foreach_batch`
    (the only merge-or-spool rule). The query starts through
    :func:`start_sink`, which also stamps every table with the
    checkpoint-derived replay identity (R15).

    A bounded run whose sink coalesces micro-batches (``min_batch_events
    > 0``) is awaited here so every table's sub-threshold spool tail is
    published before returning (ADVICE r10): otherwise those rows sit
    durably in ``_spool/`` while the checkpoint commits, and readers see
    stale state. ``timeout_sec`` bounds the await (ADVICE r11); on expiry
    :func:`run_to_completion` stops the query before flushing. Continuous
    streams call ``run_to_completion`` (or ``flush_spool``) at shutdown
    themselves.
    """
    # sink batch-sizing knob (CDC_STEADY_r09): micro-batches below this
    # event count are spooled and merged together, amortizing the
    # per-commit floor. 0 = merge every micro-batch (default).
    min_batch_events = config["sink"].get("min_batch_events", 0)
    sinks = [table.foreach_batch(min_batch_events) for table in tables]

    def fn(batch: DataFrame, batch_id: int) -> None:
        for sink, part in zip(sinks, route(batch, batch_id), strict=True):
            sink(part, batch_id)

    query = start_sink(stream, fn, config["checkpoint"], tables, trigger_once)
    if trigger_once and min_batch_events > 0:
        run_to_completion(query, *tables, timeout_sec=timeout_sec)
    return query


def run_pipeline(
    spark: SparkSession,
    config: dict,
    trigger_once: bool = True,
    timeout_sec: float | None = None,
) -> tuple[StreamingQuery, ParquetUpsertTable]:
    """Assemble and start the configured capture→materialize pipeline.

    Returns the running query plus the queryable upsert table. Restart with
    the same config resumes from the checkpoint (R15) — the config IS the
    pipeline identity, exactly like re-PUTting a connector config.

    ``timeout_sec`` (ADVICE r11): when ``trigger_once`` and the sink
    coalesces micro-batches (``min_batch_events > 0``), this call awaits
    the bounded run so it can publish the sub-threshold spool tail; a
    wedged availableNow query would otherwise block the caller forever.
    With a timeout the await returns after ``timeout_sec`` seconds and the
    tail is flushed from whatever the stream durably staged by then.
    """
    src = config["source"]
    if src.get("format", "debezium-json") != "debezium-json":
        raise ValueError(f"unsupported source format {src.get('format')!r}")

    flt = config.get("filter", {})
    schema_name = flt.get("schema", "OLR_DB")
    table_name = flt.get("table", "PRODUCT")

    sink = config["sink"]
    fs = _sink_fs(spark, sink)  # one instance shared by registry + table

    # R16: decode pinned to the registered schema version if a registry is
    # configured (first run registers the built-in envelope schema as v1).
    envelope_ddl = ENVELOPE_SCHEMA
    if "schema_registry" in config:
        from olr_cdc_oracle_with_dbz_spark.cdc.schema_registry import SchemaRegistry

        # the registry lives beside the table — same filesystem seam
        reg = SchemaRegistry(
            config["schema_registry"], f"{schema_name}.{table_name}", fs=fs
        )
        if reg.current_version() is None:
            reg.register(ENVELOPE_SCHEMA)
        envelope_ddl = reg.current()

    table = ParquetUpsertTable(spark, sink["table_dir"], key=sink.get("pk", PK), fs=fs)

    if "quarantine" in config:
        # permissive-ingest form: parse inside foreachBatch so undecodable
        # lines divert to the dead-letter dir instead of failing the stream
        # (unknown-type passthrough posture, OpenLogReplicator.json:25)
        qdir = config["quarantine"]
        stream = read_text_stream(spark, src["path"], src.get("max_files_per_trigger"))

        def route(batch: DataFrame, batch_id: int) -> list[DataFrame]:
            good, bad = quarantine_malformed(batch, schema=envelope_ddl)
            # per-batch overwrite, keyed by the batch id (r19 review pass):
            # a foreachBatch REPLAY after a crash between this write and
            # the checkpoint commit re-lands the same dead letters in the
            # same partition dir instead of appending duplicates — the
            # same idempotent-per-batch discipline as the spool. Readers
            # `spark.read.parquet(qdir)` as before; partition discovery
            # surfaces the batch id as a column.
            bad.write.mode("overwrite").parquet(f"{qdir}/batch={batch_id}")
            return [source_filter(good, schema_name, table_name)]

    else:
        if "kafka" in src:
            from olr_cdc_oracle_with_dbz_spark.sources.kafka import read_kafka_cdc

            stream = read_kafka_cdc(
                spark,
                src["kafka"]["bootstrap"],
                src["kafka"]["topic"],
                schema_name=schema_name,
                table=table_name,
            )
        else:
            stream = read_cdc_stream(
                spark,
                src["path"],
                schema_name=schema_name,
                table=table_name,
                max_files_per_trigger=src.get("max_files_per_trigger"),
                envelope_schema=envelope_ddl,
            )

        def route(batch: DataFrame, _batch_id: int) -> list[DataFrame]:
            return [batch]

    query = _drive(stream, route, [table], config, trigger_once, timeout_sec)
    return query, table


def run_fanout_pipeline(
    spark: SparkSession,
    config: dict,
    trigger_once: bool = True,
    timeout_sec: float | None = None,
) -> tuple[StreamingQuery, dict[str, ParquetUpsertTable]]:
    """Multi-table capture: one stream, one checkpoint, per-table MERGE.

    The reference's OLR filter is an ARRAY of tables sharing one capture
    stream (/root/reference/scripts/OpenLogReplicator.json:32-39); here
    the equivalent is a single file source whose micro-batches are routed
    by ``source.table`` inside ``foreachBatch`` — one offset log covers
    every sink atomically, so a restart can never leave tables at
    different stream positions (the cross-table consistency the
    reference gets from its single connector). The shared checkpoint
    also gives every per-table sink the same replay identity.

    Config: like :func:`run_pipeline` but ``filter.tables`` is a list and
    ``sink.root_dir`` holds one subdirectory per table. The per-table
    spool threshold (``sink.min_batch_events``) matters most here:
    routing splits every micro-batch N ways, so per-table batches are 1/N
    the size and hit the per-commit floor N times as often without
    coalescing.
    """
    src = config["source"]
    schema_name = config.get("filter", {}).get("schema", "OLR_DB")
    sink = config["sink"]
    fs = _sink_fs(spark, sink)
    sinks = {
        t: ParquetUpsertTable(
            spark, f"{sink['root_dir']}/{t}", key=sink.get("pk", PK), fs=fs
        )
        for t in config["filter"]["tables"]
    }
    raw = read_text_stream(spark, src["path"], src.get("max_files_per_trigger"))
    env = parse_envelope(raw, "value").filter(F.col("_schema") == schema_name)

    def route(batch: DataFrame, _batch_id: int) -> list[DataFrame]:
        return [batch.filter(F.col("_table") == t) for t in sinks]

    query = _drive(env, route, list(sinks.values()), config, trigger_once, timeout_sec)
    return query, sinks
