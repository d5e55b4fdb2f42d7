"""Commit-log retention (r14 — VERDICT r13 "what's missing" #3) and the
vacuum head-protection fix (ADVICE r13, medium).

The r13 protocol appends one immutable record to ``_commits/`` per commit
and ``_head()`` lists the whole directory per merge. Unbounded, a
months-running stream accumulates an ever-growing log dir and an
O(commits) LIST per commit — on S3 the slow, paginated operation. r14
bounds both: every ``retain_commits``-th commit auto-vacuums down to the
newest ``retain_commits`` records (the Postgres sink analogy — the
reference's durable shared state is bounded, /root/reference/README.md:
840-842, not every historical row version).

The medium ADVICE bug this file pins: pre-r14 ``vacuum(keep=1)`` retained
``seqs[-1:]`` BLINDLY — with a torn record on top (the degraded-store
scenario the protocol itself handles), the only retained record was the
zombie, the readable head record was deleted, ``referenced`` collapsed to
{} and the GC loop deleted every data dir: total table loss.
"""

from __future__ import annotations

import os

import pytest

from olr_cdc_oracle_with_dbz_spark.fs import LocalFS
from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

from test_fs_seam import _frame

_COMMITS = "_commits"


def _log_names(table):
    """Commit RECORD filenames in the log dir. The dir also holds the
    ``f<seq>.floor`` fence marker (r15) — one at rest, never per-commit —
    which the record-count bounds exclude."""
    return [
        n
        for n in table.fs.list_names(os.path.join(table.table_dir, _COMMITS))
        if n.startswith("c") and n.endswith(".json")
    ]


def test_vacuum_never_drops_readable_head_under_torn_top(spark, tmp_path):
    """ADVICE r13 (medium): a torn record ABOVE the readable head must not
    make vacuum(keep=1) delete the head record + GC every data dir."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    t.merge_batch(_frame(spark, [(1, "a", 100, False), (2, "b", 101, False)]), 1)
    t.merge_batch(_frame(spark, [(3, "c", 102, False)]), 2)
    head_seq, head_m = t._head()
    assert head_seq == 2

    # a writer died mid-create on a degraded store: seq 3 exists, torn
    torn = t._commit_path(3)
    fs.mkdirs(os.path.dirname(torn))
    with open(torn, "w") as f:
        f.write("{truncated")

    dropped = t.vacuum(keep=1)
    # the readable head record survives, whatever keep says...
    assert t._head() == (head_seq, head_m)
    assert t.current_version() == head_m["version"]
    # ...and so does every data dir it references: the table still reads
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]
    # only the superseded readable record was dropped
    assert dropped == ["v" + "0" * 19 + "1"]
    # the zombie was NOT silently deleted (its writer's fate is unknown;
    # recovery above the head stays the documented manual step)
    assert fs.exists(torn)


def test_vacuum_skips_torn_record_below_head(spark, tmp_path):
    """A record that reads torn BELOW the head (a read racing an upload)
    is skipped — neither deleted nor allowed to crash the sweep."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    for i in range(1, 4):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)
    mid = t._commit_path(2)
    with open(mid, "w") as f:
        f.write("{torn")  # simulate reading mid-upload

    dropped = t.vacuum(keep=1)
    assert fs.exists(mid)  # hands off a record whose fate is in flight
    assert dropped == ["v" + "0" * 19 + "1"]
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]


def test_auto_retention_bounds_log_and_listing(spark, tmp_path):
    """A several-hundred-commit table keeps ``_commits/`` (and therefore
    the per-merge ``_head()`` listing) bounded by the retention window,
    and GC drops data dirs only the vacuumed records referenced."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    retain = t.retain_commits
    assert retain == ParquetUpsertTable.DEFAULT_RETAIN_COMMITS

    # drive the COMMIT path directly (no Spark jobs): 300 synthetic
    # commits, each referencing its own one-bucket data dir
    n = 300
    for i in range(1, n + 1):
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)

    names = _log_names(t)
    # between auto-vacuums at most `retain` fresh records accumulate on
    # top of the retained window — the bound is ~2x the window, NEVER n
    assert len(names) <= 2 * retain
    head_seq, head_m = t._head()
    assert head_seq == n and head_m["version"] == f"v{n:020d}"

    # data dirs: every dir a surviving record references exists; dirs
    # referenced only by vacuumed records are gone
    live = {
        rel.rsplit("/", 1)[0]
        for s in t._commit_seqs()
        for rel in t._record(s)["buckets"].values()
    }
    for d in live:
        assert fs.is_dir(os.path.join(tdir, d))
    assert not fs.exists(os.path.join(tdir, f"v{1:020d}"))

    # the bound holds for a REOPENED handle continuing the stream
    t2 = ParquetUpsertTable(spark, tdir, key="id", fs=fs)
    for i in range(n + 1, n + 80 + 1):
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t2._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)
    assert len(_log_names(t2)) <= 2 * retain


def test_retention_respects_time_travel_for_retained_records(spark, tmp_path):
    """Within the retention window ``versions()``/``read(v)`` keep working;
    past it, time travel returns None instead of partial state."""
    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=LocalFS(), retain_commits=4
    )
    labels = []
    for i in range(1, 9):  # 8 merges, retention window 4
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)
        labels.append(t.current_version())

    retained = t.versions()
    assert retained == labels[-4:]  # the newest window, oldest->newest
    # time travel inside the window: version i holds rows 1..i
    v6 = labels[5]
    assert sorted(r["id"] for r in t.read(version=v6).collect()) == list(range(1, 7))
    # past the window: a clean None, not partial state
    assert t.read(version=labels[0]) is None
    # head unaffected
    assert sorted(r["id"] for r in t.read().collect()) == list(range(1, 9))


def test_auto_retention_disabled_keeps_every_record(spark, tmp_path):
    """retain_commits=0 restores the manual-vacuum-only behavior."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=0
    )
    for i in range(1, 71):
        t._commit(f"v{i:020d}", {}, expect_parent=i - 1)
    assert len(_log_names(t)) == 70


def test_many_merges_with_retention_state_and_window(spark, tmp_path):
    """40 real merges (inserts/updates/deletes) through retain_commits=8:
    final state exact, log bounded, every retained version readable."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=8
    )
    model: dict[int, tuple[str, int, bool]] = {}
    scn = 1000
    for i in range(1, 41):
        k = i % 7  # 7 keys, repeatedly updated
        deleted = i % 5 == 0
        scn += 1
        model[k] = (f"n{scn}", scn, deleted)
        t.merge_batch(_frame(spark, [(k, f"n{scn}", scn, deleted)]), i)

    expect = sorted(
        (k, name, s) for k, (name, s, d) in model.items() if not d
    )
    got = sorted(
        (r["id"], r["name"], r["_scn"]) for r in t.read().collect()
    )
    assert got == expect
    assert len(_log_names(t)) <= 16  # 2x the window, never 40
    vs = t.versions()
    assert vs[-1] == t.current_version()
    for v in vs:  # every retained version time-travels to a readable frame
        assert t.read(version=v) is not None


class _VacuumRaceFS(LocalFS):
    """LocalFS that simulates a CONCURRENT vacuum: the first read of one
    chosen commit record deletes it and raises FileNotFoundError — exactly
    what a reader sees when another handle's vacuum wins the race between
    ``_commit_seqs``'s listing and ``_record``'s read (ADVICE r13: HadoopFS
    used to surface this as a raw py4j error and crash the fallback)."""

    def __init__(self, race_path: str):
        self.race_path = race_path
        self.fired = False

    def read_text(self, path: str) -> str:
        if path == self.race_path and not self.fired:
            self.fired = True
            os.remove(path)
            raise FileNotFoundError(path)
        return super().read_text(path)


def test_reads_survive_concurrent_vacuum_race(spark, tmp_path):
    """versions()/read()/head resolution fall back cleanly when a commit
    record vanishes between the log listing and its read."""
    tdir = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=LocalFS())
    for i in range(1, 4):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)

    # reader whose next read of record 1 races a concurrent vacuum
    race = _VacuumRaceFS(t._commit_path(1))
    r = ParquetUpsertTable(spark, tdir, key="id", fs=race)
    vs = r.versions()  # hits the race on record 1, must not crash
    assert race.fired
    assert vs == ["v" + "0" * 19 + "2", "v" + "0" * 19 + "3"]
    assert sorted(row["id"] for row in r.read().collect()) == [1, 2, 3]

    # same race on the HEAD record: _head falls back to the previous one
    race2 = _VacuumRaceFS(t._commit_path(3))
    r2 = ParquetUpsertTable(spark, tdir, key="id", fs=race2)
    seq, m = r2._head()
    assert race2.fired and seq == 2  # record 3 raced away -> head is 2
    assert m["version"] == "v" + "0" * 19 + "2"


def test_vacuum_leaves_uncommitted_writer_dirs_alone(spark, tmp_path):
    """Targeted GC (r14): a version dir no record references — an
    in-flight writer mid-``merge_batch`` (data written, record not yet
    created) or a crashed writer's orphan — is NOT deleted by vacuum;
    deleting it could corrupt a commit in progress. Orphan cleanup is a
    separate age-based concern (Delta's retention-hours posture)."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    for i in range(1, 4):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)
    inflight = os.path.join(tdir, f"v{99:020d}", "pb=0")
    fs.mkdirs(inflight)  # another writer's not-yet-committed version dir
    t.vacuum(keep=1)
    assert fs.is_dir(inflight)
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]


def test_vacuum_orphans_is_age_gated(spark, tmp_path):
    """The age-based orphan sweep deletes only OLD never-referenced dirs:
    a young orphan (possibly an in-flight write), a STALE-topped orphan
    whose children show fresh activity (a long-running writer — the dir
    mtime reflects write START, ADVICE r14), and every referenced dir —
    however old — survive."""
    import time

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    for i in range(1, 3):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)

    old_orphan = os.path.join(tdir, f"v{98:020d}")
    young_orphan = os.path.join(tdir, f"v{99:020d}")
    active_orphan = os.path.join(tdir, f"v{97:020d}")
    fs.mkdirs(os.path.join(old_orphan, "pb=0"))
    fs.mkdirs(os.path.join(young_orphan, "pb=0"))
    fs.mkdirs(os.path.join(active_orphan, "pb=0"))
    week_ago = time.time() - 8 * 24 * 3600
    # genuinely dead: top AND children untouched for a week
    os.utime(old_orphan, (week_ago, week_ago))
    os.utime(os.path.join(old_orphan, "pb=0"), (week_ago, week_ago))
    # long-running writer: dir created a week ago (mkdir set the top
    # mtime and nothing refreshes it) but a child shows fresh activity —
    # the age signal must be the child max, not the top (ADVICE r14)
    os.utime(active_orphan, (week_ago, week_ago))
    # age a REFERENCED dir too: age alone must never make it a victim
    ref_dir = os.path.join(tdir, "v" + "0" * 19 + "1")
    os.utime(ref_dir, (week_ago, week_ago))

    dropped = t.vacuum_orphans(older_than_sec=7 * 24 * 3600)
    assert dropped == [f"v{98:020d}"]
    assert not fs.exists(old_orphan)
    assert fs.is_dir(young_orphan)  # young: hands off
    assert fs.is_dir(active_orphan)  # stale top, fresh child: hands off
    assert fs.is_dir(ref_dir)  # referenced: hands off at any age
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]


def test_stale_writer_cannot_win_vacated_slot(spark, tmp_path):
    """ADVICE r14 (medium): auto-retention DELETES old commit records,
    which re-opens their put-if-absent slots. A writer whose
    derive-to-commit window outlived the retention window (a long
    compact(), a stale merge_batch handle racing a busy stream) would —
    pre-r15 — win create_exclusive at a below-head slot and return as if
    committed while the head never includes its rows: a silent lost
    update. The persisted vacuum floor must convert that into a raise."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=4
    )
    for i in range(1, 13):  # auto-vacuum at 4, 8, 12 -> floor reaches 8
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)
    head_before = t._head()
    assert t._floor() == 8

    # stale writer: derived from commit 2 long ago; slot 3 is VACATED, so
    # create_exclusive alone would succeed — the floor must raise first
    import pytest

    with pytest.raises(RuntimeError, match="stale writer"):
        t._commit("v_stale", {"0": "v_stale/pb=0"}, expect_parent=2)
    # no counterfeit record was left at the vacated slot
    assert not fs.exists(t._commit_path(3))
    # the head (and therefore every reader) is unaffected
    assert t._head() == head_before

    # a FRESH derive commits fine: the fence only blocks vacated slots
    label = f"v{13:020d}"
    fs.mkdirs(os.path.join(tdir, label, "pb=0"))
    assert t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=12) == 13

    # the floor is durable table state, not handle state: a reopened
    # handle enforces it identically
    t2 = ParquetUpsertTable(spark, tdir, key="id", fs=fs)
    with pytest.raises(RuntimeError, match="stale writer"):
        t2._commit("v_stale2", {"0": "v_stale2/pb=0"}, expect_parent=4)
    assert not fs.exists(t2._commit_path(5))


class _VacuumBetweenCheckAndCreateFS(LocalFS):
    """Simulates the narrowest interleave: a concurrent stream advances
    the head AND retention vacuums the writer's slot AFTER the writer's
    floor pre-check but BEFORE its create_exclusive lands."""

    def __init__(self):
        self.table = None
        self.armed_path = None
        self.fired = False

    def create_exclusive(self, path, text):
        if path == self.armed_path and not self.fired:
            self.fired = True
            t = self.table
            for i in (6, 7, 8):  # the busy stream races ahead...
                label = f"v{i:020d}"
                self.mkdirs(os.path.join(t.table_dir, label, "pb=0"))
                t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)
            t.vacuum(keep=1)  # ...and retention vacates slots < 8
        return super().create_exclusive(path, text)


def test_vacuum_between_floor_precheck_and_create_is_fenced(spark, tmp_path):
    """The authoritative POST-win floor check (ADVICE r14): the floor is
    published before any deletion, so a writer that passed the pre-check
    and then won a slot a concurrent vacuum vacated must observe the
    raised floor, withdraw its record, and raise."""
    import pytest

    tdir = str(tmp_path / "tbl")
    fs = _VacuumBetweenCheckAndCreateFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=0
    )
    fs.table = t
    for i in range(1, 6):
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)

    # writer derives from the live head (5) -> seq 6; between its floor
    # pre-check and its create, the stream commits 6..8 and vacuum runs
    fs.armed_path = t._commit_path(6)
    with pytest.raises(RuntimeError, match="stale writer"):
        t._commit("v_racer", {"0": "v_racer/pb=0"}, expect_parent=5)
    assert fs.fired
    # the counterfeit record was withdrawn; the true head stands
    assert not fs.exists(t._commit_path(6))
    head_seq, head_m = t._head()
    assert head_seq == 8 and head_m["version"] == f"v{8:020d}"


def test_torn_records_below_head_reclaimed_by_aged_sweep(spark, tmp_path):
    """r15 (VERDICT r14 missing #3): vacuum() skips torn records below
    the head — correct, their fate may be in flight — but on a degraded
    store that repeatedly tears records the log bound would otherwise
    grow by the accumulated residue forever. vacuum_orphans reclaims a
    below-head record that STILL reads torn past the age threshold, and
    fences the re-opened slot through the vacuum floor."""
    import time

    import pytest

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    for i in range(1, 6):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)

    # a degraded store tore records 2 and 3 (writers died mid-upload)
    for s in (2, 3):
        with open(t._commit_path(s), "w") as f:
            f.write("{torn")

    t.vacuum(keep=1)  # drops readable 1 and 4; skips the torn residue
    assert sorted(_log_names(t)) == [f"c{s:020d}.json" for s in (2, 3, 5)]

    # young torn records survive the sweep: may be uploads in flight
    assert t.vacuum_orphans(older_than_sec=3600) == []
    assert fs.exists(t._commit_path(2)) and fs.exists(t._commit_path(3))

    # aged past the threshold they are permanently dead: reclaimed
    week_ago = time.time() - 8 * 24 * 3600
    for s in (2, 3):
        os.utime(t._commit_path(s), (week_ago, week_ago))
    dropped = t.vacuum_orphans(older_than_sec=7 * 24 * 3600)
    assert dropped == [f"c{s:020d}.json" for s in (2, 3)]
    # the log bound is restored to the retained window...
    assert _log_names(t) == [f"c{5:020d}.json"]
    # ...the table still reads exactly its head state...
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4, 5]
    # ...and the re-opened slots are fenced against stale writers
    assert t._floor() >= 3
    with pytest.raises(RuntimeError, match="stale writer"):
        t._commit("v_stale", {"0": "v_stale/pb=0"}, expect_parent=1)
    assert not fs.exists(t._commit_path(2))

    # a torn record AT/ABOVE the head is never swept: zombie recovery
    # above the head stays the documented manual step (_head contract)
    with open(t._commit_path(6), "w") as f:
        f.write("{torn")
    os.utime(t._commit_path(6), (week_ago, week_ago))
    assert t.vacuum_orphans(older_than_sec=7 * 24 * 3600) == []
    assert fs.exists(t._commit_path(6))


def test_vacuum_grace_protects_young_records(spark, tmp_path):
    """r15 code-review: a record younger than ``vacuum_grace_sec`` is
    never vacated — the fence against a keep-tight vacuum racing a fresh
    writer's create→post-check window (which would raise the floor past
    a legitimate commit and make its writer raise spuriously). Age is
    the store mtime, so backdating a record makes it eligible."""
    import time

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=0,
        vacuum_grace_sec=3600.0,
    )
    for i in range(1, 6):
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)

    # every record is seconds old: nothing is eligible, floor unraised
    assert t.vacuum(keep=1) == []
    assert len(_log_names(t)) == 5
    assert t._floor() == 0

    # records 1-3 age past the grace; 4 stays young, 5 is the head
    old = time.time() - 7200
    for s in (1, 2, 3):
        os.utime(t._commit_path(s), (old, old))
    dropped = t.vacuum(keep=1)
    assert dropped == [f"v{s:020d}" for s in (1, 2, 3)]
    assert sorted(_log_names(t)) == [f"c{s:020d}.json" for s in (4, 5)]
    assert t._floor() == 3


class _StickyWithdrawFS(_VacuumBetweenCheckAndCreateFS):
    """After the RACER's create of the armed slot (the second successful
    create at that path — the first is the busy stream's own commit), the
    store starts failing deletes of that record, silently per the
    cleanup-only delete contract."""

    def __init__(self):
        super().__init__()
        self.sticky = None
        self.n_armed_creates = 0

    def create_exclusive(self, path, text):
        ok = super().create_exclusive(path, text)
        if path == self.armed_path and ok:
            self.n_armed_creates += 1
            if self.n_armed_creates == 2:
                self.sticky = path
        return ok

    def delete(self, path):
        if path == self.sticky:
            return  # transient store failure, swallowed by contract
        super().delete(path)


def test_withdrawal_failure_is_reported(spark, tmp_path):
    """r15 code-review: fs.delete swallows failures by contract, so the
    post-win fence VERIFIES the counterfeit record is gone and names the
    manual cleanup when it is not — instead of claiming a withdrawal
    that silently failed while readers could still time-travel to it."""
    import pytest

    tdir = str(tmp_path / "tbl")
    fs = _StickyWithdrawFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=0
    )
    fs.table = t
    for i in range(1, 6):
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)

    fs.armed_path = t._commit_path(6)
    with pytest.raises(RuntimeError, match="WITHDRAWAL FAILED"):
        t._commit("v_racer", {"0": "v_racer/pb=0"}, expect_parent=5)
    # the counterfeit record is still on the store — exactly what the
    # error message warned about
    assert fs.exists(t._commit_path(6))


def test_orphan_sweep_sees_deep_committer_staging(spark, tmp_path):
    """r15 code-review: an IN-FLIGHT Spark write stages all activity
    under _temporary/<app>/_temporary/<taskAttempt>/ — task file writes
    bump the taskAttempt dir at depth 4, while every shallower dir keeps
    its setup-time mtime. The orphan age signal must reach that depth or
    a tight older_than_sec would sweep a still-running writer's dir."""
    import time

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    for i in range(1, 3):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)

    # an unreferenced dir mid-write: committer skeleton set up hours ago,
    # but a task attempt is actively writing (fresh mtime at depth 4)
    attempt = os.path.join(
        tdir, "v_inflight", "_temporary", "0", "_temporary", "attempt_0"
    )
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000"), "w") as f:
        f.write("data")
    old = time.time() - 7200
    top = os.path.join(tdir, "v_inflight")
    for p in (
        top,
        os.path.join(top, "_temporary"),
        os.path.join(top, "_temporary", "0"),
        os.path.join(top, "_temporary", "0", "_temporary"),
    ):
        os.utime(p, (old, old))

    assert t.vacuum_orphans(older_than_sec=3600) == []
    assert fs.exists(top)

    # the job died: once the attempt dir ages too, the dir is reclaimed
    os.utime(attempt, (old, old))
    os.utime(os.path.join(attempt, "part-00000"), (old, old))
    assert t.vacuum_orphans(older_than_sec=3600) == ["v_inflight"]
    assert not fs.exists(top)


def test_torn_sweep_publishes_single_floor_marker(spark, tmp_path):
    """r15 code-review: reclaiming k aged torn records publishes ONE
    floor marker covering all of them (the batched publish-then-delete
    order vacuum() uses), not k marker create/GC round-trips."""
    import time

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    for i in range(1, 6):
        t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False)]), i)
    week_ago = time.time() - 8 * 24 * 3600
    for s in (1, 2, 3):
        with open(t._commit_path(s), "w") as f:
            f.write("{torn")
        os.utime(t._commit_path(s), (week_ago, week_ago))

    dropped = t.vacuum_orphans(older_than_sec=7 * 24 * 3600)
    assert dropped == [f"c{s:020d}.json" for s in (1, 2, 3)]
    markers = [
        n
        for n in fs.list_names(os.path.join(tdir, _COMMITS))
        if n.endswith(".floor")
    ]
    assert markers == [f"f{3:020d}.floor"]
    assert t._floor() == 3


def test_replay_of_committed_batch_is_noop(spark, tmp_path):
    """r15 code-review (headline): a foreachBatch replay of a batch whose
    _commit already landed (crash between the commit and the checkpoint
    offset commit) finds the head carrying its own label and must NOT
    re-run the write — mode("overwrite") would delete the very version
    dir the head references and the merge reads from (Spark's
    read/overwrite-conflict guard misses it: read roots are the pb=
    subdirs, the overwrite target is their parent)."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    t.merge_batch(_frame(spark, [(1, "a", 100, False), (2, "b", 200, False)]), 1)
    t.merge_batch(_frame(spark, [(2, "b2", 201, False), (3, "c", 300, False)]), 2)

    head_before = t._head()
    log_before = sorted(_log_names(t))
    v2 = os.path.join(tdir, f"v{2:020d}")
    files_before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(v2)
        for f in fn
    }

    # the replay: same batch id, same (deterministically re-derived) rows
    t.merge_batch(_frame(spark, [(2, "b2", 201, False), (3, "c", 300, False)]), 2)

    assert t._head() == head_before  # no new commit record
    assert sorted(_log_names(t)) == log_before
    files_after = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(v2)
        for f in fn
    }
    assert files_after == files_before  # the version dir was not rewritten
    rows = {r["id"]: r["name"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "b2", 3: "c"}


def test_commit_seqs_ignores_stray_files(spark, tmp_path):
    """r15 code-review: a stray non-record 'c*.json' in _commits/ (operator
    backup copy in the very dir the torn-record runbook points at) must
    not brick the constructor and every table op with a ValueError."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs)
    t.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)
    with open(os.path.join(tdir, _COMMITS, "c0001 (copy).json"), "w") as f:
        f.write("{}")

    t2 = ParquetUpsertTable(spark, tdir, key="id", fs=fs)  # must not raise
    assert [r["id"] for r in t2.read().collect()] == [1]
    t2.merge_batch(_frame(spark, [(2, "b", 200, False)]), 2)
    assert sorted(r["id"] for r in t2.read().collect()) == [1, 2]


class _VacuumAfterLostCreateFS(LocalFS):
    """After the armed path's create_exclusive LOSES (slot occupied), a
    concurrent retention vacuum reclaims the occupying record before the
    loser reads it back."""

    def __init__(self):
        self.table = None
        self.armed_path = None
        self.fired = False

    def create_exclusive(self, path, text):
        ok = super().create_exclusive(path, text)
        if path == self.armed_path and not ok and not self.fired:
            self.fired = True
            self.table.vacuum(keep=1)
        return ok


def test_lost_create_after_vacuum_classified_stale(spark, tmp_path):
    """r15 code-review: losing create_exclusive and then finding the slot
    unreadable because a vacuum DELETED the record must be diagnosed as
    the stale-writer case, not as a torn record — the torn runbook sends
    an operator to delete a file that no longer exists."""
    import pytest

    tdir = str(tmp_path / "tbl")
    fs = _VacuumAfterLostCreateFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, retain_commits=0
    )
    fs.table = t
    for i in range(1, 6):
        label = f"v{i:020d}"
        fs.mkdirs(os.path.join(tdir, label, "pb=0"))
        t._commit(label, {"0": f"{label}/pb=0"}, expect_parent=i - 1)

    # stale handle derived from commit 2 -> loses the create at slot 3;
    # the armed vacuum then reclaims records 1-4 before the read-back
    fs.armed_path = t._commit_path(3)
    with pytest.raises(RuntimeError, match="stale writer"):
        t._commit("v_stale", {"0": "v_stale/pb=0"}, expect_parent=2)
    assert fs.fired


def test_replay_cross_stream_label_collision_raises(spark, tmp_path):
    """r15 ADVICE: the replay short-circuit keys on the head's label
    equalling v{batch_id}, so a FRESH checkpoint reprocessing into an
    existing table dir would silently no-op the one batch whose id
    collides with the head — silent data loss. With a stream_id stamped
    in the commit record, the collision raises instead; the SAME stream
    replaying keeps the no-op; id-less handles/records keep the old
    (documented) behavior."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs, stream_id="s1")
    t.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)
    t.merge_batch(_frame(spark, [(2, "b", 200, False)]), 2)

    # same stream, same batch id: genuine replay, still a no-op
    head = t._head()
    t.merge_batch(_frame(spark, [(2, "b", 200, False)]), 2)
    assert t._head() == head

    # different stream, colliding batch id: must raise, not drop the batch
    fresh = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="s2")
    with pytest.raises(RuntimeError, match="batch-id collision"):
        fresh.merge_batch(_frame(spark, [(9, "z", 900, False)]), 2)

    # id-less handle against an id-stamped record: documented legacy
    # no-op, but no longer SILENT (r16 ADVICE #3) — the record's id
    # proves the table opted into identity checking, so the unverified
    # replay assumption is surfaced as a warning
    legacy = ParquetUpsertTable(spark, tdir, key="id", fs=fs)
    with pytest.warns(RuntimeWarning, match="unverifiable replay"):
        legacy.merge_batch(_frame(spark, [(9, "z", 900, False)]), 2)
    assert 9 not in {r["id"] for r in legacy.read().collect()}

    # non-colliding batch ids from the new stream commit normally
    fresh.merge_batch(_frame(spark, [(3, "c", 300, False)]), 3)
    assert {r["id"] for r in fresh.read().collect()} == {1, 2, 3}


def test_overwrite_of_referenced_version_dir_raises(spark, tmp_path):
    """r16 review: the cross-stream collision check keys on the HEAD
    label, but a fresh stream starting BELOW the head (batch 0 against a
    head at v3) passes it and its mode('overwrite') write would destroy
    a version dir that live commits still reference (the head's bucket
    map carries untouched buckets' labels forward; retained records pin
    their dirs for time travel). merge_batch must refuse to overwrite:
    a label COMMITTED by a retained record raises cross-stream (and
    no-ops as a replay same-stream); a label whose own record is gone
    but whose dir some retained bucket map still references raises
    regardless of stream; a true orphan (no record anywhere) stays
    overwritable — the idempotent retry of this stream's own failed
    write."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs, stream_id="s1")
    t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False) for i in range(8)]), 1)
    t.merge_batch(_frame(spark, [(0, "upd", 200, False)]), 2)
    t.merge_batch(_frame(spark, [(1, "upd", 201, False)]), 3)

    # fresh stream, batch id below the head: the head-label check never
    # fires, but record 1 still commits v...1 -> raise, nothing written
    fresh = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="s2")
    with pytest.raises(RuntimeError, match="batch-id collision"):
        fresh.merge_batch(_frame(spark, [(9, "z", 900, False)]), 1)
    assert {r["id"] for r in t.read().collect()} == set(range(8))

    # same stream replaying a committed below-head batch: no-op, no raise
    head = t._head()
    t.merge_batch(_frame(spark, [(0, "n0", 100, False)]), 2)
    assert t._head() == head

    # drop record 1 (vacuum) -- v...1's dirs stay referenced by the
    # retained records' bucket maps; overwriting them must still raise,
    # for EITHER stream (the label is now uncommitted-but-live)
    t.vacuum(keep=2)
    assert t._manifest(f"v{1:020d}") is None
    with pytest.raises(RuntimeError, match="version-dir collision"):
        fresh.merge_batch(_frame(spark, [(9, "z", 900, False)]), 1)
    with pytest.raises(RuntimeError, match="version-dir collision"):
        t.merge_batch(_frame(spark, [(9, "z", 900, False)]), 1)
    assert {r["id"] for r in t.read().collect()} == set(range(8))

    # the idempotent-retry case stays allowed: an orphan version dir from
    # a writer that died before its commit landed has no record -> the
    # re-run of the same batch overwrites it and commits
    orphan = os.path.join(tdir, f"v{5:020d}")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "stale.txt"), "w") as f:
        f.write("dead writer litter")
    t.merge_batch(_frame(spark, [(8, "e", 500, False)]), 5)
    assert {r["id"] for r in t.read().collect()} == set(range(9))

    # the runbook in the error message must actually work: compact() then
    # vacuum(keep=1) re-roots every bucket and retires the old records,
    # after which the fresh stream's batch 1 merges cleanly
    t.compact(target_partitions=2)
    t.vacuum(keep=1)
    fresh2 = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="s2")
    fresh2.merge_batch(_frame(spark, [(9, "z", 900, False)]), 1)
    assert {r["id"] for r in fresh2.read().collect()} == set(range(10))


def test_materialize_stream_id_canonical_and_rederived(spark, tmp_path):
    """r16 review: (a) the auto-derived replay identity strips trailing
    separators, so a resume spelled ``/ckpt/x/`` reads as the SAME
    stream as ``/ckpt/x`` (a spelling difference must not wedge every
    restart on a spurious collision); (b) an id auto-derived by a
    previous materialize_stream call is re-derived for a new
    checkpoint, not reused (else stream B stamps stream A's identity
    and the collision guard is silently bypassed); (c) an explicit id
    is never clobbered."""
    from olr_cdc_oracle_with_dbz_spark.cdc.envelope import parse_envelope
    from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import json_lines
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
        materialize_stream,
        run_to_completion,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json_lines()[:1]) + "\n")
    env = parse_envelope(spark.readStream.format("text").load(str(src)), "value")

    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"), key="id", n_buckets=4)
    q = materialize_stream(env, t, str(tmp_path / "ckpt") + "/", trigger_once=True)
    run_to_completion(q, t, timeout_sec=120)
    assert t.stream_id == f"ckpt:{tmp_path / 'ckpt'}"  # trailing slash stripped
    assert t._auto_stream_id

    # same handle, new checkpoint over an EMPTY source: the auto id
    # follows the run instead of stamping the first stream's identity
    empty = tmp_path / "in2"
    empty.mkdir()
    env2 = parse_envelope(spark.readStream.format("text").load(str(empty)), "value")
    q2 = materialize_stream(env2, t, str(tmp_path / "ckpt2"), trigger_once=True)
    run_to_completion(q2, t, timeout_sec=120)
    assert t.stream_id == f"ckpt:{tmp_path / 'ckpt2'}"

    # an EXPLICIT id is never clobbered
    t2 = ParquetUpsertTable(
        spark, str(tmp_path / "tbl2"), key="id", n_buckets=4, stream_id="mine"
    )
    q3 = materialize_stream(env2, t2, str(tmp_path / "ckpt3"), trigger_once=True)
    run_to_completion(q3, t2, timeout_sec=120)
    assert t2.stream_id == "mine"
    assert not getattr(t2, "_auto_stream_id", False)


def test_stream_id_comparison_ignores_trailing_slash(spark, tmp_path):
    """r16 review (second pass): records stamped by a release that
    derived ids verbatim from a slash-spelled checkpoint must keep
    comparing equal to the canonicalized form — a legitimate same-stream
    replay after the upgrade must short-circuit, not wedge every restart
    on a spurious 'batch-id collision'."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    old = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, stream_id="ckpt:/c/x/"
    )
    old.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)

    upgraded = ParquetUpsertTable(
        spark, tdir, key="id", fs=fs, stream_id="ckpt:/c/x"
    )
    head = upgraded._head()
    upgraded.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)  # replay
    assert upgraded._head() == head  # no-op, no raise

    # a genuinely different stream still raises
    other = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="ckpt:/c/y")
    with pytest.raises(RuntimeError, match="batch-id collision"):
        other.merge_batch(_frame(spark, [(2, "b", 200, False)]), 1)


def test_none_id_collision_strict_flag_and_no_id_records(spark, tmp_path):
    """r16 ADVICE #3, both sides of the default: ``strict_identity=True``
    upgrades the None-id-handle-vs-id-stamped-record warning to a raise
    (nothing written either way), while a table whose records carry NO id
    keeps the fully-silent legacy no-op — there is nothing to verify
    against, and a pre-r16 table must not start warning spuriously."""
    import warnings as _w

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(spark, tdir, key="id", n_buckets=4, fs=fs, stream_id="s1")
    t.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)

    # strict None-id handle: the unverifiable replay RAISES, no write
    strict = ParquetUpsertTable(
        spark, tdir, key="id", fs=fs, strict_identity=True
    )
    head = t._head()
    with pytest.raises(RuntimeError, match="unverifiable replay"):
        strict.merge_batch(_frame(spark, [(9, "z", 900, False)]), 1)
    assert t._head() == head
    assert 9 not in {r["id"] for r in t.read().collect()}

    # strict_identity has NO effect on a handle that carries an id: the
    # same stream's replay stays a silent no-op
    strict_same = ParquetUpsertTable(
        spark, tdir, key="id", fs=fs, stream_id="s1", strict_identity=True
    )
    with _w.catch_warnings():
        _w.simplefilter("error")
        strict_same.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)
    assert t._head() == head

    # records with NO stored id (pre-r16 table): None-id replay stays
    # silent — no warning, no raise
    tdir2 = str(tmp_path / "tbl2")
    old = ParquetUpsertTable(spark, tdir2, key="id", n_buckets=4, fs=fs)
    old.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)
    with _w.catch_warnings():
        _w.simplefilter("error")
        old.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)


def test_record_outliving_dir_still_guards_collision(spark, tmp_path):
    """r16 ADVICE #1: a retained commit record can outlive its version
    dir — an EMPTY micro-batch touches no buckets, so its label dir is
    referenced by no bucket map and the age-based orphan sweep reclaims
    the dir while the record survives. The collision guard used to be
    gated purely on ``fs.exists(version dir)``, so a fresh checkpoint
    colliding on that batch id skipped the owner scan and appended a
    DUPLICATE-label commit record (ambiguous ``_manifest(label)``
    resolution). The scan must also run when the dir is absent but the
    label sits at-or-below the head."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, stream_id="s1",
        vacuum_grace_sec=0.0,
    )
    t.merge_batch(_frame(spark, [(i, f"n{i}", 100 + i, False) for i in range(8)]), 1)
    t.merge_batch(_frame(spark, []), 2)  # empty micro-batch: record, no refs
    t.merge_batch(_frame(spark, [(0, "upd", 200, False)]), 3)

    v2 = f"v{2:020d}"
    assert t._manifest(v2) is not None
    # the reachable real-world path: the sweep reclaims the unreferenced
    # empty-batch dir while its commit record survives retention
    swept = t.vacuum_orphans(older_than_sec=-1.0)
    assert v2 in swept
    assert not fs.exists(os.path.join(tdir, v2))
    assert t._manifest(v2) is not None  # record outlives its dir

    # fresh stream colliding on the dir-less batch id: MUST raise (was:
    # silent duplicate-label commit record)
    fresh = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="s2")
    n_records = len(t._commit_seqs())
    with pytest.raises(RuntimeError, match="batch-id collision"):
        fresh.merge_batch(_frame(spark, [(9, "z", 900, False)]), 2)
    assert len(t._commit_seqs()) == n_records  # no duplicate-label append

    # same stream replaying the dir-less committed batch: no-op, and no
    # duplicate record either (pre-fix it re-wrote the dir and appended)
    head = t._head()
    t.merge_batch(_frame(spark, []), 2)
    assert t._head() == head
    assert len(t._commit_seqs()) == n_records

    # once retention drops the record too, the label leaves the committed
    # batch-id space entirely (no record, no reference, no dir): the scan
    # finds nothing and the merge proceeds — the guard is exactly as
    # durable as the log, by design
    t.vacuum(keep=1)
    assert t._manifest(v2) is None
    fresh.merge_batch(_frame(spark, [(9, "z", 900, False)]), 2)
    assert 9 in {r["id"] for r in fresh.read().collect()}


def test_ckpt_id_canonicalization_spellings(spark, tmp_path):
    """r16 ADVICE #2: the auto-derived replay identity must canonicalize
    the checkpoint PATH, not compare verbatim spellings — a restart that
    spells the same checkpoint with doubled slashes, ``.`` segments, or
    relatively would otherwise derive a different stream_id and wedge
    every restart on a spurious batch-id collision. URI spellings keep
    their authority slashes (normpath would mangle ``hdfs://``)."""
    import os as _os

    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
        _canon_ckpt_path,
    )

    # path canonicalization: doubled slashes, dot segments, trailing
    # separators, and relative spellings all converge
    base = str(tmp_path / "ckpt")
    assert _canon_ckpt_path(base + "/") == base
    assert _canon_ckpt_path(str(tmp_path) + "//ckpt") == base
    assert _canon_ckpt_path(str(tmp_path) + "/./ckpt/") == base
    rel = _os.path.relpath(base)
    assert _canon_ckpt_path(rel) == base  # cwd-resolved
    # non-file: URIs: trailing strip + scheme lowercasing only, authority
    # slashes and path case untouched
    assert _canon_ckpt_path("hdfs://nn:8020/a/b/") == "hdfs://nn:8020/a/b"
    assert _canon_ckpt_path("s3a://bkt/ck/") == "s3a://bkt/ck"
    assert _canon_ckpt_path("HDFS://nn:8020/a/b") == "hdfs://nn:8020/a/b"
    assert _canon_ckpt_path("s3a://bkt/CK") == "s3a://bkt/CK"  # key case kept
    # file: URIs reduce to their local-path form (r17 ADVICE #1): all
    # these spellings name ONE location to Hadoop's local filesystem, so
    # they must derive ONE stream identity
    assert _canon_ckpt_path("file:/x/y/") == "/x/y"
    assert _canon_ckpt_path("file:///x/y") == "/x/y"
    assert _canon_ckpt_path("file://localhost/x/y") == "/x/y"
    assert _canon_ckpt_path("FILE:///x//y/") == "/x/y"  # scheme case-insens.
    assert _canon_ckpt_path("file:///x/y") == _canon_ckpt_path("/x/y")
    # a real remote authority is NOT this filesystem: verbatim
    assert _canon_ckpt_path("file://nas01/x/y") == "file://nas01/x/y"
    # r18 ADVICE #1: RFC 3986 hosts are case-insensitive like schemes —
    # an authority-case change across restarts is still THIS filesystem
    assert _canon_ckpt_path("file://LOCALHOST/x/y") == "/x/y"
    assert _canon_ckpt_path("file://Localhost/x/y") == "/x/y"
    assert _canon_ckpt_path("FILE://NAS01/x/y") == "file://NAS01/x/y"
    # r18 ADVICE #2: root spellings survive the trailing strip — '' would
    # abspath to the CWD, and file:/// (→ '/') would then diverge from '/'
    assert _canon_ckpt_path("/") == "/"
    assert _canon_ckpt_path("//") == "/"
    assert _canon_ckpt_path("///") == "/"
    assert _canon_ckpt_path("file:///") == "/"
    assert _canon_ckpt_path("file://localhost/") == "/"
    assert _canon_ckpt_path("file:///") == _canon_ckpt_path("/")
    # single-letter "schemes" are Windows drive specs, i.e. local paths —
    # they canonicalize through abspath instead of skipping it
    assert _canon_ckpt_path("C:/ckpt") == _os.path.abspath("C:/ckpt")

    # comparison canonicalizes BOTH sides, so records stamped verbatim by
    # a pre-r17 release under a doubled-slash spelling keep comparing
    # equal to the canonical form — replay no-ops instead of wedging
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    legacy_spelling = f"ckpt:{tmp_path}//ckpt"
    old = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, stream_id=legacy_spelling
    )
    old.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)

    upgraded = ParquetUpsertTable(
        spark, tdir, key="id", fs=fs, stream_id=f"ckpt:{base}"
    )
    head = upgraded._head()
    upgraded.merge_batch(_frame(spark, [(1, "a", 100, False)]), 1)  # replay
    assert upgraded._head() == head  # no-op, no spurious wedge

    # a genuinely different checkpoint still raises
    other = ParquetUpsertTable(
        spark, tdir, key="id", fs=fs, stream_id=f"ckpt:{tmp_path}/ckpt2"
    )
    with pytest.raises(RuntimeError, match="batch-id collision"):
        other.merge_batch(_frame(spark, [(2, "b", 200, False)]), 1)

    # explicit (non-ckpt:) ids stay opaque — trailing strip only, no
    # path canonicalization (a query.id is not a path)
    assert not ParquetUpsertTable._other_stream("run-a", "run-a/")
    assert ParquetUpsertTable._other_stream("run-a", "run-b")
    assert ParquetUpsertTable._other_stream("run-a", "run-a//x")


def test_wiped_checkpoint_same_path_end_to_end(spark, tmp_path):
    """VERDICT r16 #6: drive the wiped-checkpoint-same-path scenario
    through :func:`materialize_stream` itself (not merge_batch directly)
    and assert the guard stack governs every interleaving:

    (a) wipe + same data — the documented txnAppId-shaped identity limit:
        every replayed batch no-ops against its retained record; content
        unchanged, stream completes;
    (b) wipe after retention dropped below-head records whose dirs the
        head still references — the version-dir guard RAISES through the
        stream instead of overwriting live data;
    (c) the error message's runbook (compact + vacuum(keep=1)) actually
        unblocks: the re-run merges cleanly and converges to the same
        content (idempotent latest-SCN-wins re-merge).
    """
    import shutil

    from olr_cdc_oracle_with_dbz_spark.cdc.envelope import parse_envelope
    from olr_cdc_oracle_with_dbz_spark.cdc.fixtures import json_lines
    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
        materialize_stream,
        run_to_completion,
    )

    import time as _time

    src = tmp_path / "in"
    src.mkdir()
    lines = json_lines()
    half = max(1, (len(lines) - 1) // 2)
    # the LAST file holds a single event (one key -> one bucket), so the
    # final head's bucket map still references the PREVIOUS batch's dirs
    # — the carried-forward-label state the guard exists to protect
    now = _time.time()
    for i, chunk in enumerate(
        (lines[:half], lines[half:-1], lines[-1:])
    ):
        p = src / f"f{i}.json"
        p.write_text("\n".join(chunk) + "\n")
        os.utime(p, (now + 10 * i, now + 10 * i))  # deterministic order

    def _run(table):
        env = parse_envelope(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)  # one file per micro-batch
            .load(str(src)),
            "value",
        )
        q = materialize_stream(env, table, str(tmp_path / "ckpt"))
        run_to_completion(q, table, timeout_sec=180)

    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, vacuum_grace_sec=0.0
    )
    _run(t)
    want = sorted(
        (r["id"], r["name"]) for r in t.read().collect()
    )
    head_before = t._head()
    assert len(t._commit_seqs()) == 3  # three micro-batches committed

    # (a) wiped checkpoint, same source, same path: same auto identity,
    # every batch 0..2 collides with its own retained record -> replay
    # no-ops all the way through; content and head unchanged
    shutil.rmtree(tmp_path / "ckpt")
    t2 = ParquetUpsertTable(spark, tdir, key="id", fs=fs, vacuum_grace_sec=0.0)
    _run(t2)
    assert t2._head() == head_before
    assert sorted((r["id"], r["name"]) for r in t2.read().collect()) == want

    # (b) retention drops the below-head records (their dirs stay pinned
    # by the head's bucket map); a wiped-checkpoint re-run's batch 0 now
    # finds no owning record but a live reference -> the guard raises
    # THROUGH the stream before anything is overwritten
    t2.vacuum(keep=1)
    assert t2._manifest(f"v{0:020d}") is None
    shutil.rmtree(tmp_path / "ckpt")
    t3 = ParquetUpsertTable(spark, tdir, key="id", fs=fs, vacuum_grace_sec=0.0)
    with pytest.raises(Exception, match="collision"):
        _run(t3)
    assert sorted((r["id"], r["name"]) for r in t3.read().collect()) == want

    # (c) the runbook unblocks: compact re-roots every bucket under a
    # fresh label, vacuum(keep=1) retires the old records, and the
    # wiped-checkpoint re-run merges cleanly to identical content
    t3.compact(target_partitions=2)
    t3.vacuum(keep=1)
    shutil.rmtree(tmp_path / "ckpt")
    t4 = ParquetUpsertTable(spark, tdir, key="id", fs=fs, vacuum_grace_sec=0.0)
    _run(t4)
    assert sorted((r["id"], r["name"]) for r in t4.read().collect()) == want


def test_label_space_high_water_survives_backwards_reuse(spark, tmp_path):
    """r17 review pass (second-order ADVICE r16 #1): after a sanctioned
    backwards label reuse (the post-runbook wiped-checkpoint path), the
    head's own version drops below retained labels, so gating the
    collision scan on it alone re-opens the dir-less duplicate-label
    hole one level up — a dir-less COMMITTED label now sits ABOVE the
    head label. Each commit therefore stamps a monotone ``max_label``
    high-water mark and the gate keys on that; _commit additionally
    refuses to append a duplicate of a label a retained record still
    commits."""
    tdir = str(tmp_path / "tbl")
    fs = LocalFS()
    t = ParquetUpsertTable(
        spark, tdir, key="id", n_buckets=4, fs=fs, stream_id="s1",
        vacuum_grace_sec=0.0,
    )
    t.merge_batch(_frame(spark, [(i, f"a{i}", 100 + i, False) for i in range(8)]), 0)
    t.merge_batch(_frame(spark, [(i, f"b{i}", 200 + i, False) for i in range(8)]), 1)
    t.merge_batch(_frame(spark, []), 2)  # empty: record v2, no refs, own dir only
    t.merge_batch(_frame(spark, [(i, f"d{i}", 400 + i, False) for i in range(8)]), 3)

    v0, v2, v3 = (f"v{i:020d}" for i in (0, 2, 3))
    # sweep unreferenced dirs (v2's own, and v0's now-superseded ones),
    # then retention drops the v0/v1 records: label v0 is traceless,
    # label v2 is committed-but-dir-less, head is v3
    t.vacuum_orphans(older_than_sec=-1.0)
    t.vacuum(keep=2)
    assert t._manifest(v0) is None
    assert t._manifest(v2) is not None
    assert not fs.exists(os.path.join(tdir, v2))

    # sanctioned reuse: a fresh stream's batch 0 finds label v0 traceless
    # and proceeds — committing a BACKWARDS head label (v0 below v2/v3)
    fresh = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="s2")
    fresh.merge_batch(_frame(spark, [(9, "z", 900, False)]), 0)
    head = fresh._head()[1]
    assert head["version"] == v0
    assert head["max_label"] == v3  # the high-water mark survived the reuse

    # the second-order hole: batch 2 collides with the dir-less committed
    # v2 record sitting ABOVE the new head label. A version-gated scan
    # would skip it and append a duplicate v2 record; the space-gated
    # scan finds the owner and raises cross-stream
    n_records = len(fresh._commit_seqs())
    with pytest.raises(RuntimeError, match="batch-id collision"):
        fresh.merge_batch(_frame(spark, [(10, "y", 901, False)]), 2)
    assert len(fresh._commit_seqs()) == n_records

    # same stream as the v2 record: verified replay, no-op, no duplicate
    same = ParquetUpsertTable(spark, tdir, key="id", fs=fs, stream_id="s1")
    same.merge_batch(_frame(spark, []), 2)
    assert len(fresh._commit_seqs()) == n_records

    # root enforcement: even a direct _commit of a retained label is
    # refused when the version sits inside the parent's label space
    parent_seq, head_m = fresh._head()
    with pytest.raises(RuntimeError, match="duplicate-label"):
        fresh._commit(
            v2, dict(head_m["buckets"]), expect_parent=parent_seq,
            parent_manifest=head_m,
        )
    # ...including via the best-effort parent read when the caller does
    # not hand the manifest over
    with pytest.raises(RuntimeError, match="duplicate-label"):
        fresh._commit(v2, dict(head_m["buckets"]), expect_parent=parent_seq)

    # forward commits stay free of the scan and the stamp stays monotone
    fresh.merge_batch(_frame(spark, [(11, "w", 902, False)]), 7)
    head2 = fresh._head()[1]
    assert head2["version"] == f"v{7:020d}"
    assert head2["max_label"] == f"v{7:020d}"  # v7 > v3: mark advanced
