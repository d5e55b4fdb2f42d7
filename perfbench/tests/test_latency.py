"""File -> micro-batch mapping from a hand-built checkpoint, the per-file
event-to-queryable latency built on it, and the trigger timing read from
progress reports."""

import json
import os

import pytest

from perfbench.cdc import batches_of_files, engine_s, file_latencies, trigger_intervals


def _log(path: str, entries: list[tuple[str, int]]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///data/in/{name}",
                                "timestamp": 1_700_000_000_000, "batchId": batch}) + "\n")


def test_checkpoint_mapping_reads_batches_and_compactions(tmp_path):
    d = tmp_path / "ckpt" / "sources" / "0"
    os.makedirs(d)
    # a compaction file carries every entry up to its batch; later batches
    # keep one file each
    _log(str(d / "9.compact"), [("s_000000.json", 0), ("s_000001.json", 0),
                                ("s_000002.json", 4), ("s_000003.json", 9)])
    _log(str(d / "10"), [("s_000004.json", 10), ("s_000005.json", 10)])
    _log(str(d / "11"), [("s_000006.json", 11)])
    (d / ".11.crc").write_text("binary checksum, ignored")
    got = batches_of_files(str(tmp_path / "ckpt"))
    assert got == {"s_000000.json": 0, "s_000001.json": 0, "s_000002.json": 4,
                   "s_000003.json": 9, "s_000004.json": 10, "s_000005.json": 10,
                   "s_000006.json": 11}


def test_file_latency_is_commit_return_minus_due_time():
    due = {"a": 100.0, "b": 100.1, "c": 100.2, "d": 100.3}
    batch_of = {"a": 3, "b": 3, "c": 4}  # d never made it into a batch
    committed = {3: 101.5, 4: 103.0}
    lat = file_latencies(due, batch_of, committed)
    assert lat == pytest.approx({"a": 1.5, "b": 1.4, "c": 2.8})


def test_trigger_intervals_and_engine_time_skip_empty_triggers():
    progress = [
        {"batchId": 0, "numInputRows": 0, "timestamp": "2024-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 5}},
        {"batchId": 1, "numInputRows": 10, "timestamp": "2024-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 1500, "addBatch": 1200}},
        {"batchId": 2, "numInputRows": 4, "timestamp": "2024-01-01T00:00:03.250Z",
         "durationMs": {"triggerExecution": 400, "addBatch": 100}},
    ]
    clock = 1_704_067_200.0 - 100.0  # 2024-01-01T00:00:00Z reads 100 s on the perf clock
    got = trigger_intervals(progress, clock)
    assert got == [pytest.approx((101.0, 102.5)), pytest.approx((103.25, 103.65))]
    assert engine_s(progress) == pytest.approx(0.3 + 0.3)
