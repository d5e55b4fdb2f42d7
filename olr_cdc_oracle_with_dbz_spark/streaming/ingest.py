"""Streaming CDC ingest (reference R1/R13/R15 → Structured Streaming).

The reference's capture chain (OLR redo reader → Debezium → Kafka,
/root/reference/README.md:30-38) stays external; the engine's streaming
entry points are:

* :func:`read_cdc_stream` — Debezium-JSON lines from a watched directory
  (the test/file form; swap ``format("text")``+path for
  ``format("kafka")``+subscribe for the production topic form — the rest
  of the pipeline is identical).
* checkpointing — Spark's ``checkpointLocation`` offset+commit log is the
  engine's equivalent of the OLR scn/seq/offset checkpoint JSON
  (/root/reference/olr-checkpoint/ORACLE-chkpt-2156848.json:1,11): restart
  resumes exactly, never replays committed batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from olr_cdc_oracle_with_dbz_spark.cdc.envelope import parse_envelope, source_filter


def read_text_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Raw JSON-lines stream (one ``value`` string per line) from a watched
    dir. ``max_files_per_trigger`` bounds each micro-batch (R19 analogue)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def read_cdc_stream(
    spark: SparkSession,
    source_dir: str,
    schema_name: str = "OLR_DB",
    table: str = "PRODUCT",
    max_files_per_trigger: int | None = None,
    envelope_schema: str | None = None,
) -> DataFrame:
    """Streaming DataFrame of typed envelope rows from a JSON-lines dir.

    ``envelope_schema`` pins decode to a registered schema version (R16);
    defaults to the built-in envelope DDL.
    """
    raw = read_text_stream(spark, source_dir, max_files_per_trigger)
    parsed = parse_envelope(
        raw, "value", **({"schema": envelope_schema} if envelope_schema else {})
    )
    return source_filter(parsed, schema_name, table)


def read_csv_stream(spark: SparkSession, source_dir: str, schema: str) -> DataFrame:
    """Directory-watch CSV source (spooldir-connector analogue, R13 —
    /root/reference/Dockerfile:65-66). Explicit schema, never inferred."""
    return spark.readStream.schema(schema).option("header", True).csv(source_dir)
