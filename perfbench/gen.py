"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives the
same bytes. Two families:

* Debezium-JSON change events for the upsert table (the initial snapshot,
  the backfill corpus and the live update stream), plus :class:`TableModel`,
  the expected final table state: the latest event per key by SCN wins and a
  key whose latest event is a delete is absent.
* A small TPC-H-shaped star schema plus the ``events``, ``documents`` and
  ``embeddings`` tables the analytics queries read, written as one parquet
  file per table with the column names and types the catalog expects.
"""

from __future__ import annotations

import os

import numpy as np

#: event-time origin of every generated event (2024-01-01T00:00:00Z)
TS0_MS = 1_704_067_200_000
#: all-row checksum modulus (a Mersenne prime; keeps per-row terms in int64)
_MOD = 2_147_483_647
_NAMES = ("anvil", "bolt", "gear", "hinge", "lever", "nut", "ring", "spring",
          "valve", "widget", "bearing", "clamp")


def row_term(key: int, price_cents: int, stock: int, name: str) -> int:
    """One live row's contribution to the table checksum.

    Mirrored by :func:`perfbench.cdc.table_digest` as a Spark expression."""
    return (key * 1_000_003 + price_cents * 7919 + stock * 31 + len(name)) % _MOD


class TableModel:
    """Expected state of the upsert table: key -> (scn, price_cents, stock,
    name), or None once the key's latest event is a delete."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple[int, int, int, str] | None] = {}

    def copy(self) -> "TableModel":
        m = TableModel()
        m.rows = dict(self.rows)
        return m

    def apply(self, key: int, scn: int, image: tuple[int, int, str] | None) -> None:
        cur = self.rows.get(key)
        if cur is not None and cur[0] > scn:
            return
        self.rows[key] = None if image is None else (scn, *image)

    def digest(self) -> tuple[int, int]:
        """(live row count, checksum) — compared against the table."""
        n = total = 0
        for key, row in self.rows.items():
            if row is not None:
                n += 1
                total += row_term(key, row[1], row[2], row[3])
        return n, total


def _image(key: int, price_cents: int, stock: int, name: str, ts_ms: int) -> str:
    return (
        f'{{"id":{key},"name":"{name}","description":null,'
        f'"price":"{price_cents // 100}.{price_cents % 100:02d}",'
        f'"stock":{stock},"created_date":{TS0_MS},"updated_date":{ts_ms}}}'
    )


def envelope(op: str, key: int, scn: int, ts_ms: int,
             before: tuple | None, after: tuple | None) -> str:
    """One Debezium change event as a JSON line (no trailing newline).

    ``before``/``after`` are ``(price_cents, stock, name)`` images or None."""
    b = "null" if before is None else _image(key, *before, ts_ms)
    a = "null" if after is None else _image(key, *after, ts_ms)
    return (
        f'{{"before":{b},"after":{a},"op":"{op}","ts_ms":{ts_ms},'
        f'"source":{{"scn":{scn},"txId":"T{scn}","rowId":"R{key}",'
        f'"schema":"OLR_DB","table":"PRODUCT","ts_ms":{ts_ms}}}}}'
    )


class ChangeStream:
    """Seeded source of change events over one key space, with uniform keys.

    One instance hands out strictly increasing SCNs, so events it emits later
    always win over earlier ones in the model.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.scn = 1_000
        self.model = TableModel()

    def _values(self, n: int):
        price = self.rng.integers(100, 1_000_000, n)
        stock = self.rng.integers(0, 10_000, n)
        names = self.rng.integers(0, len(_NAMES), n)
        return price, stock, names

    def _emit(self, op: str, key: int, ts_ms: int, after: tuple | None) -> str:
        self.scn += 1
        cur = self.model.rows.get(key)
        before = None if cur is None else cur[1:]
        if op == "d" and before is None:
            before = (100, 0, _NAMES[0])  # delete of an absent key
        line = envelope(op, key, self.scn, ts_ms, before, after)
        self.model.apply(key, self.scn, after)
        return line

    def snapshot(self, n_keys: int) -> list[str]:
        """Initial-load events (op ``r``) for keys ``0..n_keys-1``."""
        price, stock, names = self._values(n_keys)
        return [
            self._emit("r", k, TS0_MS, (int(price[k]), int(stock[k]), _NAMES[names[k]]))
            for k in range(n_keys)
        ]

    def backfill(self, first_key: int, n_keys: int) -> list[str]:
        """Catch-up corpus over keys ``first_key..first_key+n_keys-1``.

        Keys below the current model are updated, the rest inserted; each
        key then gets a second update with p=0.3 and a final delete with
        p=0.1 — about 1.4 events per key. Events of different keys
        interleave in SCN order, like a change log replayed after downtime.
        """
        rng = self.rng
        keys = np.arange(first_key, first_key + n_keys)
        extra_u = rng.random(n_keys) < 0.3
        dels = rng.random(n_keys) < 0.1
        ev_key = np.concatenate([keys, keys[extra_u], keys[dels]])
        # per-key step: 0 first event, 1 second update, 2 delete (always last)
        step = np.concatenate([np.zeros(n_keys, int), np.ones(extra_u.sum(), int),
                               np.full(dels.sum(), 2)])
        t = rng.random(len(ev_key))
        # a key's steps must run in step order: hand each key's times, sorted,
        # to its steps, sorted (both orders group the keys identically)
        when = np.empty_like(t)
        when[np.lexsort((step, ev_key))] = t[np.lexsort((t, ev_key))]
        glob = np.argsort(when, kind="stable")
        price, stock, names = self._values(len(glob))
        lines = []
        for i, j in enumerate(glob):
            key, st = int(ev_key[j]), int(step[j])
            ts_ms = TS0_MS + 3_600_000 + i
            if st == 2:
                lines.append(self._emit("d", key, ts_ms, None))
                continue
            op = "u" if self.model.rows.get(key) is not None else "c"
            after = (int(price[i]), int(stock[i]), _NAMES[names[i]])
            lines.append(self._emit(op, key, ts_ms, after))
        return lines

    def updates(self, n: int, key_space: int, ts_ms: int, delete_share: float) -> list[str]:
        """``n`` live-stream events: uniform keys, ``delete_share`` deletes,
        the rest updates (an update of an absent key re-inserts)."""
        rng = self.rng
        keys = rng.integers(0, key_space, n)
        is_del = rng.random(n) < delete_share
        price, stock, names = self._values(n)
        out = []
        for i in range(n):
            key = int(keys[i])
            if is_del[i]:
                out.append(self._emit("d", key, ts_ms, None))
            else:
                op = "u" if self.model.rows.get(key) is not None else "c"
                out.append(self._emit(op, key, ts_ms,
                                      (int(price[i]), int(stock[i]), _NAMES[names[i]])))
        return out


def write_lines(path: str, lines: list[str]) -> None:
    """Write a JSON-lines file atomically (temp name, then rename), so a
    directory-watching reader never sees a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


# -- analytics tables ----------------------------------------------------------

_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")


def analytics_tables(seed: int, scale: float = 0.005) -> dict:
    """The catalog's ten tables as pyarrow Tables, sized by ``scale``
    (1.0 ~ TPC-H SF1 row counts for the star schema)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_ev = max(int(1_000_000 * scale), 500)
    n_doc, n_vec, dim = 500, 500, 64
    day = np.timedelta64(1, "D")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    colors = ["blue", "red", "green", "black", "white", "small", "large", "steel"]
    nouns = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    d0 = np.datetime64("1995-01-01")
    odate = d0 + rng.integers(0, 2400, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (odate[l_ok] + rng.integers(1, 122, n_li) * day).astype(
            "datetime64[us]"),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n_ev // 60, 10), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_w = int(rng.integers(10, 100))
        texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_w)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_analytics_dir(out_dir: str, seed: int, scale: float = 0.005) -> dict:
    """Write the analytics tables under ``out_dir``; returns row counts."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in analytics_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
