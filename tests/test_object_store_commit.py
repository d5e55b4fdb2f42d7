"""The r13 commit protocol on a store WITHOUT atomic rename (VERDICT r12).

The r12 seam's own caveat (fs.py): ``FileContext.rename(OVERWRITE)`` is
atomic on HDFS but copy+delete on S3A, so a pointer-swap commit could tear
on exactly the store a 100 TB table root realistically lives on. Round 13
replaced the pointer swap with an append-only commit log of IMMUTABLE
put-if-absent records — put-if-absent (S3 conditional PUT / If-None-Match,
GCS if-generation-match) being the one primitive object stores do offer.

``ObjectStoreFS`` below simulates that store: ``write_text_atomic``
degrades to observable delete-then-write (the copy+delete rename window,
plus a hook so a test can interleave a reader mid-"rename") while
``create_exclusive`` stays content-atomic put-if-absent (the conditional
PUT). The suite proves, through that FS:

- the full sink lifecycle (merge / spool+replay / flush / compact /
  re-bucket / point-lookup / vacuum) converges to the LocalFS state;
- the commit path performs ZERO rename-swap calls — the protocol no
  longer depends on atomic rename at all;
- the optimistic fence is genuinely atomic: of two writers deriving from
  the same parent commit, exactly one's put-if-absent wins;
- foreachBatch replays append content-identical records instead of
  duplicating state;
- a torn head record (a writer that died mid-upload on a degraded store)
  is skipped by readers and conservatively blocks writers at the fence;
- pre-r13 pointer-layout tables migrate on their next commit;
- the R16 schema registry registers with the same primitive (zero swaps).
"""

from __future__ import annotations

import os

import pytest

from olr_cdc_oracle_with_dbz_spark.cdc.schema_registry import SchemaRegistry, _seal
from olr_cdc_oracle_with_dbz_spark.fs import LocalFS
from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

from test_fs_seam import _frame, _run_sink_flow


class ObjectStoreFS(LocalFS):
    """LocalFS that models an object store's metadata semantics.

    - ``write_text_atomic`` is NOT atomic: the destination is deleted,
      an optional ``on_rename_window`` hook runs (a reader interleaved
      mid-"rename" observes the missing file), then the content lands.
      Every call is counted — the commit-path tests assert ZERO.
    - ``create_exclusive`` models a conditional PUT: content-atomic
      put-if-absent (inherited hardlink publish), also counted.
    """

    def __init__(self, on_rename_window=None):
        self.swap_calls = 0
        self.put_if_absent_calls = 0
        self.on_rename_window = on_rename_window

    def write_text_atomic(self, path: str, text: str) -> None:
        self.swap_calls += 1
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        if os.path.exists(path):
            os.remove(path)  # the copy+delete window: dst briefly absent
        if self.on_rename_window is not None:
            self.on_rename_window(path)
        with open(path, "w") as f:
            f.write(text)

    def create_exclusive(self, path: str, text: str) -> bool:
        self.put_if_absent_calls += 1
        return super().create_exclusive(path, text)


def test_sink_flow_through_object_store_fs_matches_local(spark, tmp_path):
    """Full lifecycle through the non-atomic-rename store == LocalFS state,
    and the table's commit path never once needed a rename swap."""
    golden = _run_sink_flow(spark, str(tmp_path / "local_tbl"), LocalFS())
    s3 = ObjectStoreFS()
    got = _run_sink_flow(spark, str(tmp_path / "s3_tbl"), s3)
    assert got == golden
    assert s3.swap_calls == 0  # commits are put-if-absent records ONLY
    assert s3.put_if_absent_calls >= 4  # 2 merges + flush + compact


def test_fence_put_if_absent_exactly_one_winner(spark, tmp_path):
    """Two writers deriving from the SAME parent commit race on one
    put-if-absent record: exactly one wins, the loser raises and can
    re-derive + retry successfully. No check-then-act window exists —
    the loser's failure comes from the create itself."""
    fs = ObjectStoreFS()
    tdir = str(tmp_path / "tbl")
    a = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    b = ParquetUpsertTable(spark, tdir, key="id", fs=fs)
    a.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)

    parent_seq, m = b._head()  # both writers derive from commit 1
    assert parent_seq == 1
    a.merge_batch(_frame(spark, [(2, "b", 101, False)]), 2)  # A wins seq 2
    with pytest.raises(RuntimeError, match="concurrent writer"):
        b._commit("v99", dict(m["buckets"]), expect_parent=parent_seq)
    assert not fs.exists(os.path.join(tdir, "_commits", "c" + "0" * 19 + "3.json"))

    # loser re-derives and retries: the standard optimistic path
    b.merge_batch(_frame(spark, [(3, "c", 102, False)]), 3)
    assert {r["id"] for r in b.read().collect()} == {1, 2, 3}


def test_replay_of_durable_commit_is_noop_on_object_store(spark, tmp_path):
    """A foreachBatch replay (same batch id) whose _commit already landed
    (crash between commit and checkpoint offset commit): the head carries
    the batch's own label, so the replay returns WITHOUT writing — the
    old re-write path mode("overwrite")-deleted the very version dir the
    head references and the merge reads from (r15 code-review headline).
    One record, one logical version, no duplicated rows."""
    fs = ObjectStoreFS()
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", n_buckets=4, fs=fs)
    rows = [(i, f"n{i}", 100 + i, False) for i in range(6)]
    t.merge_batch(_frame(spark, rows), 7)
    first = t._head()
    t.merge_batch(_frame(spark, rows), 7)  # replay after crash
    second = t._head()

    assert second == first  # the durable commit stands; replay is a no-op
    assert t.versions() == [first[1]["version"]]  # one logical version
    assert t.read().count() == 6
    assert fs.swap_calls == 0


def test_torn_head_record_skipped_by_readers_blocks_writers(spark, tmp_path):
    """A writer that died mid-upload on a degraded store leaves a torn
    record at the head sequence: readers fall back to the previous commit
    (never torn state), and a writer deriving from that fallback refuses
    at the fence — the dead writer's fate is unknown, so superseding it
    silently would be a lost update. Deleting the torn record recovers."""
    fs = ObjectStoreFS()
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", n_buckets=4, fs=fs)
    t.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)
    good_seq, good = t._head()

    torn = t._commit_path(good_seq + 1)
    with open(torn, "w") as f:
        f.write('{"version": "v999", "n_bu')  # died mid-upload

    assert t._head() == (good_seq, good)  # reader falls back
    assert t.current_version() == good["version"]
    assert t.read().count() == 1

    # the writer's refusal names the zombie record and the recovery step
    with pytest.raises(RuntimeError, match="torn record"):
        t.merge_batch(_frame(spark, [(2, "b", 101, False)]), 2)

    os.remove(torn)  # operator recovery: drop the zombie record
    t.merge_batch(_frame(spark, [(2, "b", 101, False)]), 2)
    assert t.read().count() == 2


def test_compact_fence_failure_keeps_handle_on_live_layout(spark, tmp_path):
    """ADVICE r12: a re-bucketing compaction whose commit loses the fence
    must NOT leave the handle on the new bucket count — a caller that
    catches the error and keeps merging through the same handle would
    corrupt bucketing. The handle stays on the live layout and the retry
    path works."""
    class RaceFS(ObjectStoreFS):
        """Arms a one-shot interleave: the NEXT commit attempt loses to a
        merge that lands first — the genuine compaction-vs-merge race."""

        def __init__(self):
            super().__init__()
            self.interleave = None

        def create_exclusive(self, path: str, text: str) -> bool:
            plant, self.interleave = self.interleave, None
            if plant is not None:
                plant()  # the raced merge commits first
            return super().create_exclusive(path, text)

    fs = RaceFS()
    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False) for i in range(12)]), 1)

    racer = ParquetUpsertTable(spark, tdir, key="id", fs=ObjectStoreFS())
    fs.interleave = lambda: racer.merge_batch(
        _frame(spark, [(50, "raced", 500, False)]), 2
    )
    with pytest.raises(RuntimeError, match="concurrent writer"):
        t.compact(target_partitions=2, n_buckets=8)
    assert t.n_buckets == 4  # NOT mutated by the failed compaction

    # the caught-and-continue caller stays correct on the live layout,
    # and the raced merge's row was NOT lost
    t.merge_batch(_frame(spark, [(3, "upd3", 200, False)]), 3)
    assert {r["name"] for r in t.read_keys([3]).collect()} == {"upd3"}
    assert t.read_keys([50]).count() == 1

    # and the retry re-derives (now including the raced row) and succeeds
    t.compact(target_partitions=2, n_buckets=8)
    assert t.n_buckets == 8
    r = ParquetUpsertTable(spark, tdir, key="id", fs=ObjectStoreFS())
    assert r.n_buckets == 8 and r.read().count() == 13  # 12 base + raced


def test_stale_handle_merge_adopts_rebucketed_layout(spark, tmp_path):
    """ADVICE r12: a handle constructed BEFORE another handle re-bucketed
    the table must not stamp its stale n_buckets over the mixed-layout
    manifest — merge_batch adopts the committed count at derive time, so
    lookups keep pruning correctly and later merges read the right
    buckets."""
    fs = ObjectStoreFS()
    tdir = str(tmp_path / "tbl")
    stale = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    stale.merge_batch(
        _frame(spark, [(i, f"n{i}", 100 + i, False) for i in range(20)]), 1
    )

    other = ParquetUpsertTable(spark, tdir, key="id", fs=fs)
    other.compact(target_partitions=4, n_buckets=8)  # maintenance re-bucket

    # the stale handle merges sequentially AFTER the compaction — the r12
    # fence passes (nothing concurrent), so only layout adoption saves it
    stale.merge_batch(_frame(spark, [(3, "upd3", 999, False)]), 2)
    assert stale.n_buckets == 8  # adopted
    assert stale._head()[1]["n_buckets"] == 8

    fresh = ParquetUpsertTable(spark, tdir, key="id", fs=fs)
    assert fresh.n_buckets == 8
    assert fresh.read().count() == 20  # no duplicated keys
    assert {r["name"] for r in fresh.read_keys([3]).collect()} == {"upd3"}
    assert {r["id"] for r in fresh.read_keys([0, 7, 19]).collect()} == {0, 7, 19}


def test_schema_registry_through_object_store_fs(spark, tmp_path):
    """R16 registration is put-if-absent versioned records — zero rename
    swaps, concurrent same-schema registrants converge, highest-N wins
    with no pointer file."""
    fs = ObjectStoreFS()
    reg = SchemaRegistry(str(tmp_path / "schemas"), "OLR_DB.PRODUCT", fs=fs)
    assert reg.register("id bigint, name string") == 1
    assert reg.register("id bigint, name string") == 1  # idempotent
    assert reg.register("id bigint, name string, category string") == 2
    assert fs.swap_calls == 0
    assert not fs.exists(os.path.join(str(tmp_path / "schemas"),
                                      "OLR_DB.PRODUCT", "_CURRENT"))

    # lost race, same content: converge on the winner's version
    other = SchemaRegistry(str(tmp_path / "schemas"), "OLR_DB.PRODUCT", fs=fs)
    fs.create_exclusive(
        os.path.join(other.dir, "v3.ddl"), _seal("id bigint, name string, x int")
    )  # a concurrent registrant wins v3 first
    assert other.register("id bigint, name string, x int") == 3
    # lost race, DIFFERENT content: take the next number
    assert other.register("id bigint, name string, y int") == 4
    assert reg.current_version() == 4


def _race_worker(args):
    """Module-level for pickling: race N sequential record creates."""
    root, worker_id, n_seqs = args
    fs = LocalFS()
    wins = []
    for seq in range(n_seqs):
        if fs.create_exclusive(os.path.join(root, f"c{seq}.json"), worker_id):
            wins.append(seq)
    return wins


def test_create_exclusive_multiprocess_exactly_one_winner(tmp_path):
    """The commit primitive under REAL concurrency: 8 processes race to
    create the same 40 sequence records; every record gets exactly one
    winner, every winner's content is complete (never torn/mixed), and
    the win counts sum to the record count — the property the whole r13
    fence rests on, asserted at the os.link layer itself."""
    import multiprocessing as mp

    root = str(tmp_path / "log")
    os.makedirs(root)
    n_workers, n_seqs = 8, 40
    with mp.get_context("spawn").Pool(n_workers) as pool:
        wins = pool.map(
            _race_worker, [(root, f"w{i}", n_seqs) for i in range(n_workers)]
        )
    all_wins = [s for w in wins for s in w]
    assert sorted(all_wins) == list(range(n_seqs))  # exactly one winner each
    fs = LocalFS()
    for seq in range(n_seqs):
        content = fs.read_text(os.path.join(root, f"c{seq}.json"))
        assert content in {f"w{i}" for i in range(n_workers)}  # complete
    assert sorted(fs.list_names(root)) == sorted(
        f"c{s}.json" for s in range(n_seqs)
    )  # no temp-file litter


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check of the commit log: random interleavings of merge /
    replay / compact / re-bucket / vacuum through the simulated object
    store must converge to a plain-Python latest-SCN-wins model. Seeded
    exhaustive-ish sweep rather than hypothesis (each op runs Spark jobs,
    so the budget goes to DIVERSE op sequences, not shrinking)."""
    import random

    from pyspark.sql import functions as F

    for seed in range(4):
        rng = random.Random(seed)
        fs = ObjectStoreFS()
        tdir = str(tmp_path / f"tbl{seed}")
        # r14: random retention cadence — auto-vacuum interleaving with
        # merge/replay/compact/manual-vacuum must never change head state
        t = ParquetUpsertTable(
            spark,
            tdir,
            key="id",
            n_buckets=4,
            fs=fs,
            retain_commits=rng.choice([2, 32]),
        )
        model: dict[int, tuple[int, str, bool]] = {}  # id -> (scn, name, del)
        scn = 100
        last_batch = None
        for step in range(7):
            op = rng.choice(["merge", "merge", "replay", "compact", "vacuum"])
            if op == "merge" or (op == "replay" and last_batch is None):
                rows = []
                for _ in range(rng.randint(1, 5)):
                    k = rng.randint(0, 9)
                    deleted = rng.random() < 0.25
                    scn += 1
                    rows.append((k, f"n{scn}", scn, deleted))
                    cur = model.get(k)
                    if cur is None or scn >= cur[0]:
                        model[k] = (scn, f"n{scn}", deleted)
                last_batch = (rows, step + 1)
                t.merge_batch(_frame(spark, rows), step + 1)
            elif op == "replay":
                rows, bid = last_batch
                t.merge_batch(_frame(spark, rows), bid)  # idempotent
            elif op == "compact":
                t.compact(
                    target_partitions=2,
                    n_buckets=rng.choice([None, 4, 8]),
                )
            elif op == "vacuum":
                t.vacuum(keep=rng.choice([1, 2]))
        expect = sorted(
            (k, name, s) for k, (s, name, d) in model.items() if not d
        )
        df = t.read()
        got = (
            sorted((r["id"], r["name"], r["_scn"]) for r in df.collect())
            if df is not None
            else []
        )
        assert got == expect, f"seed {seed} diverged"
        assert fs.swap_calls == 0  # never a rename swap, any op mix
        # reopen sees the same state (layout is the contract)
        r = ParquetUpsertTable(spark, tdir, key="id", fs=ObjectStoreFS())
        lookup = r.read_keys([k for k, _, _ in expect][:3])
        if expect:
            assert lookup.count() == min(3, len(expect))
        assert r.read().filter(F.col("id") < 0).count() == 0
