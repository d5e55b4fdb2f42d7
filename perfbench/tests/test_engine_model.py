"""The generator's final-state model agrees with the engine on a small seed:
snapshot, backfill and live updates drained through ``run_pipeline``."""

import os

import pytest

from perfbench.cdc import table_digest
from perfbench.gen import ChangeStream, write_lines


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from perfbench.harness import start_session, stop_session

    s = start_session(str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_session(s)


def test_model_matches_engine(spark, tmp_path):
    from olr_cdc_oracle_with_dbz_spark import pipeline
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

    src = tmp_path / "in"
    src.mkdir()
    stream = ChangeStream(seed=42)
    write_lines(str(src / "a.json"), stream.snapshot(400))
    corpus = stream.backfill(300, 300)
    write_lines(str(src / "b1.json"), corpus[: len(corpus) // 2])
    write_lines(str(src / "b2.json"), corpus[len(corpus) // 2:])
    write_lines(str(src / "c.json"), stream.updates(500, 600, 1_704_153_600_000, 0.2))
    config = {
        "source": {"format": "debezium-json", "path": str(src),
                   "max_files_per_trigger": 2},
        "sink": {"table_dir": str(tmp_path / "t"), "pk": "id", "min_batch_events": 300},
        "checkpoint": str(tmp_path / "ckpt"),
    }
    q, _ = pipeline.run_pipeline(spark, config, trigger_once=True, timeout_sec=120)
    q.awaitTermination()
    got = table_digest(ParquetUpsertTable(spark, str(tmp_path / "t"), key="id").read())
    assert got == stream.model.digest()
    assert got[0] > 0
