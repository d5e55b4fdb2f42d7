"""The generators are deterministic and their model is the latest event per key."""

import json

import pyarrow as pa

from perfbench.gen import ChangeStream, TableModel, analytics_tables, row_term


def _events(seed: int) -> list[str]:
    s = ChangeStream(seed)
    lines = s.snapshot(300)
    lines += s.backfill(250, 200)
    lines += s.updates(400, 450, 1_704_153_600_000, 0.05)
    return lines


def test_same_seed_same_bytes():
    assert _events(7) == _events(7)
    assert _events(7) != _events(8)


def test_analytics_tables_are_deterministic():
    a, b = analytics_tables(3, 0.001), analytics_tables(3, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(analytics_tables(4, 0.001)["orders"])


def test_analytics_tables_have_catalog_columns():
    t = analytics_tables(1, 0.001)
    assert t["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    li = t["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()


def _replay(lines: list[str]) -> TableModel:
    """Independent model: keep each key's highest-SCN event."""
    latest: dict[int, dict] = {}
    for line in lines:
        e = json.loads(line)
        img = e["after"] if e["op"] != "d" else e["before"]
        key = img["id"]
        if key not in latest or e["source"]["scn"] > latest[key]["source"]["scn"]:
            latest[key] = e
    m = TableModel()
    for key, e in latest.items():
        if e["op"] == "d":
            m.rows[key] = None
            continue
        a = e["after"]
        whole, cents = a["price"].split(".")
        m.rows[key] = (e["source"]["scn"], int(whole) * 100 + int(cents), a["stock"], a["name"])
    return m


def test_model_is_latest_event_per_key():
    s = ChangeStream(11)
    lines = s.snapshot(300) + s.backfill(250, 200)
    lines += s.updates(400, 450, 1_704_153_600_000, 0.1)
    assert s.model.digest() == _replay(lines).digest()
    assert s.model.rows == _replay(lines).rows


def test_backfill_histories_are_ordered_and_sized():
    s = ChangeStream(5)
    s.snapshot(1000)
    lines = s.backfill(500, 1000)
    by_key: dict[int, list[tuple[int, str]]] = {}
    for line in lines:
        e = json.loads(line)
        img = e["after"] or e["before"]
        by_key.setdefault(img["id"], []).append((e["source"]["scn"], e["op"]))
    for key, evs in by_key.items():
        ops = [op for _scn, op in sorted(evs)]
        assert "d" not in ops[:-1], (key, ops)  # a delete ends a key's history
        assert ops[0] == ("u" if key < 1000 else "c"), (key, ops)
    assert 1.3 < len(lines) / len(by_key) < 1.5


def test_row_term_matches_digest():
    m = TableModel()
    m.apply(3, 10, (1234, 5, "gear"))
    m.apply(3, 9, (1, 1, "nut"))  # older event loses
    m.apply(4, 11, None)
    assert m.digest() == (1, row_term(3, 1234, 5, "gear"))
