"""Property-based check of the commit-log metadata invariants (r14).

The r14 vacuum/retention logic is pure driver-side metadata — no Spark
jobs — so hypothesis can grind hundreds of random op sequences
(commit / torn-commit / vacuum / zombie-recovery) against a plain-Python
model in seconds. The invariants it pins are exactly the ones whose
violation is catastrophic and silent:

1. the readable head is ALWAYS the highest readable record (torn records
   above it never become state, vacuum never deletes it);
2. every data dir referenced by any surviving record exists on disk —
   GC can never strand a manifest (the ADVICE r13 total-table-loss bug
   class);
3. ``versions()`` equals the model's readable labels in commit order;
4. a writer deriving from a head under a torn top is fenced (raises),
   and committing works again after zombie recovery;
5. (r16) the merge-path overwrite guard's decision — committed-by /
   referenced-only / safe-orphan — matches the surviving log exactly in
   every reachable state, so a batch-id reuse can never overwrite a dir
   a retained record still pins, while dead writers' orphans stay
   retryable;
6. (r17, ADVICE r16 #1) a DIFFERENT stream's merge_batch raises on EVERY
   label any surviving record commits or references — including labels
   whose version dir no longer exists (an empty micro-batch's record
   outliving its swept dir), the state the old fs.exists-only gate let
   slip through as a silent duplicate-label commit. Equivalently: every
   in-use label compares <= the head label, so the at-or-below-head scan
   gate covers the whole committed batch-id space.

Commit manifests deliberately inherit buckets from the previous head so
records cross-reference OLDER version dirs — the layout shape real
micro-batch merges produce and the reason vacuum's ``referenced`` set
must be computed from survivors, not assumed per-record.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from olr_cdc_oracle_with_dbz_spark.fs import LocalFS
from olr_cdc_oracle_with_dbz_spark.streaming.materialize import ParquetUpsertTable

_OPS = st.lists(
    st.one_of(
        st.just(("commit",)),
        st.just(("commit_empty",)),  # r17: record with NO dir of its own
        st.just(("torn",)),
        st.just(("recover",)),
        st.tuples(st.just("vacuum"), st.integers(min_value=0, max_value=5)),
        st.just(("sweep",)),  # r15: aged torn-below-head reclamation
        st.just(("stale",)),  # r15: writer at a vacated slot must be fenced
    ),
    min_size=1,
    max_size=14,
)


def _new_table(root: str, stream_id: str = "prop-stream") -> ParquetUpsertTable:
    # spark is only stored by the constructor; every op here is metadata
    return ParquetUpsertTable(
        None,
        root,
        key="id",
        n_buckets=4,
        fs=LocalFS(),
        retain_commits=0,
        stream_id=stream_id,
    )


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_log_invariants_under_random_ops(tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("log"))
    t = _new_table(root)
    fs = t.fs
    # model: seq -> label for readable records, None for torn ones
    model: dict[int, str | None] = {}
    # model of the vacated-slot floor: highest seq any vacuum/sweep deleted
    floor = 0

    def model_head() -> int:
        readable = [s for s, lab in model.items() if lab is not None]
        return max(readable) if readable else 0

    def check_invariants():
        head_seq, head_m = t._head()
        assert head_seq == model_head()
        if head_seq:
            assert head_m["version"] == model[head_seq]
        # the published floor covers every slot ever vacated (>= because
        # a vacuum may batch-publish above the model's incremental max)
        assert t._floor() >= floor
        # every surviving record's referenced dirs exist on disk
        for s in t._commit_seqs():
            r = t._record(s)
            if r is None:
                continue
            for rel in r["buckets"].values():
                assert fs.is_dir(os.path.join(root, rel.split("/", 1)[0]))
        # versions() == readable labels in commit order, deduped
        want: dict[str, None] = {}
        for s in sorted(model):
            if model[s] is not None:
                want.setdefault(model[s], None)
        assert t.versions() == list(want)
        # r16: the overwrite-guard decision (merge_batch's three-case
        # split) matches the survivors exactly in EVERY reachable log
        # state: a label some surviving record commits reports its
        # owner; a label only referenced by surviving bucket maps (its
        # own record vacuumed) reports referenced-not-owned — the
        # must-not-overwrite case; a label nothing references is a safe
        # orphan on both axes
        survivors = {
            s: r
            for s in t._commit_seqs()
            if (r := t._record(s)) is not None
        }
        head_m = t._head()[1]
        committed = {r["version"] for r in survivors.values()}
        referenced = {
            rel.split("/", 1)[0]
            for r in survivors.values()
            for rel in r["buckets"].values()
        }
        assert t._referenced_dirs() == referenced
        for lab in committed | referenced:
            owner = t._manifest(lab)
            if lab in committed:
                assert owner is not None and owner["version"] == lab
            else:
                assert owner is None
        fresh_label = f"v{(max(model) if model else 0) + 1000:020d}"
        assert t._manifest(fresh_label) is None
        # r17 (ADVICE r16 #1): the merge gate must consult the scan for
        # every in-use label, INCLUDING labels whose version dir is gone
        # (commit_empty records never had one). Fixed-width labels order
        # numerically under string comparison, so lab <= head label is
        # the gate condition — assert it covers the whole in-use space,
        # then assert the end-to-end consequence: an INTRUDING stream's
        # merge_batch raises for every such label in every reachable
        # state (the guard path runs entirely before any Spark work, so
        # a raise never touches the None batch frame — and a failure to
        # raise crashes on it, failing the test)
        if head_m is not None:
            head_space = head_m.get("max_label") or head_m["version"]
            intruder = _new_table(root, stream_id="intruder")
            for lab in committed | referenced:
                assert lab <= head_space
                with pytest.raises(RuntimeError, match="collision"):
                    intruder.merge_batch(None, int(lab[1:]))

    for op in ops:
        if op[0] == "commit":
            parent, m = t._head()
            seq = parent + 1
            label = f"v{seq:020d}"
            buckets = dict(m["buckets"]) if m else {}
            buckets[str(seq % 4)] = f"{label}/pb={seq % 4}"
            fs.mkdirs(os.path.join(root, label, f"pb={seq % 4}"))
            if seq in model:  # torn record occupies the fence slot
                with pytest.raises(RuntimeError, match="concurrent writer"):
                    t._commit(label, buckets, expect_parent=parent)
            else:
                assert t._commit(label, buckets, expect_parent=parent) == seq
                model[seq] = label
        elif op[0] == "commit_empty":
            # an EMPTY micro-batch's commit: the record lands with the
            # bucket map inherited UNCHANGED and no version dir is ever
            # created (equivalently: created then reclaimed by the orphan
            # sweep, since nothing references it) — the record-outlives-
            # dir state of ADVICE r16 #1
            parent, m = t._head()
            seq = parent + 1
            label = f"v{seq:020d}"
            buckets = dict(m["buckets"]) if m else {}
            if seq in model:
                with pytest.raises(RuntimeError, match="concurrent writer"):
                    t._commit(label, buckets, expect_parent=parent)
            else:
                assert t._commit(label, buckets, expect_parent=parent) == seq
                model[seq] = label
        elif op[0] == "torn":
            seq = (max(model) if model else 0) + 1
            path = t._commit_path(seq)
            fs.mkdirs(os.path.dirname(path))
            with open(path, "w") as f:
                f.write("{torn")
            model[seq] = None
        elif op[0] == "recover":
            if model and model[max(model)] is None:
                seq = max(model)
                fs.delete(t._commit_path(seq))
                del model[seq]
        elif op[0] == "sweep":
            # aged reclamation (r15): with a zero threshold every torn
            # record BELOW the head is permanently-dead residue and must
            # be reclaimed (and its slot fenced); torn records at/above
            # the head stay — zombie recovery there is manual
            head_before = model_head()
            t.vacuum_orphans(older_than_sec=-1.0)
            for s in sorted(model):
                if s < head_before and model[s] is None:
                    floor = max(floor, s)
                    del model[s]
            assert model_head() == head_before
        elif op[0] == "stale":
            # a writer whose derive outlived retention targets a vacated
            # slot: the floor fence must raise and leave no record
            if floor > 0:
                head_before = t._head()
                with pytest.raises(RuntimeError, match="stale writer"):
                    t._commit(
                        "v_stale", {}, expect_parent=floor - 1
                    )
                assert not fs.exists(t._commit_path(floor))
                assert t._head() == head_before
        else:  # vacuum
            keep = op[1]
            head_before = model_head()
            t.vacuum(keep=keep)
            # model the deletion rule: readable victims strictly below the
            # head and outside the newest-keep tail are dropped
            seqs = sorted(model)
            retained = set(seqs[-keep:]) if keep > 0 else set(seqs[-1:])
            dropped = [
                s
                for s in seqs
                if s < head_before and s not in retained and model[s] is not None
            ]
            for s in dropped:
                del model[s]
            if dropped:
                floor = max(floor, max(dropped))
            assert model_head() == head_before  # the head never moves
        check_invariants()


@settings(max_examples=200, deadline=None)
@given(
    segs=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    ),
    doubles=st.lists(st.booleans(), min_size=5, max_size=5),
    dots=st.lists(st.booleans(), min_size=5, max_size=5),
    trail=st.integers(min_value=0, max_value=3),
)
def test_ckpt_canonicalization_spelling_invariance(segs, doubles, dots, trail):
    """r16 ADVICE #2, ground with hypothesis: EVERY spelling of the same
    local checkpoint path — doubled separators, interleaved ``.``
    segments, trailing separators, relative vs absolute — canonicalizes
    to one stream identity, and a URI spelling is never path-mangled
    (authority slashes survive; only trailing separators strip)."""
    import os as _os

    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (
        _canon_ckpt_path,
    )

    base = "/" + "/".join(segs)
    canon = _canon_ckpt_path(base)

    # perturbed spelling: double some separators, inject ./ segments,
    # append trailing separators
    out = []
    for i, seg in enumerate(segs):
        out.append("/" + ("/" if doubles[i % 5] else ""))
        if dots[i % 5]:
            out.append("./")
        out.append(seg)
    spelled = "".join(out) + "/" * trail
    assert _canon_ckpt_path(spelled) == canon

    # relative spelling resolves to the same absolute identity
    rel = _os.path.relpath(base)
    assert _canon_ckpt_path(rel) == canon

    # identity comparison is spelling-blind on both sides
    a = "ckpt:" + spelled
    b = "ckpt:" + base
    assert not ParquetUpsertTable._other_stream(a, b)

    # URI spellings: internal structure untouched, trailing strip only
    uri = "hdfs://nn:8020" + base
    assert _canon_ckpt_path(uri + "///") == uri
    assert _canon_ckpt_path(uri) == uri

    # r18 ADVICE, ground for every generated path: all file:-local
    # spellings — empty authority, any CASE of localhost, 'file:' with
    # no slashes — converge on the plain-path identity
    for spelling in (
        "file://" + base,
        "file:" + base,
        "file://localhost" + base,
        "file://LOCALHOST" + base,
        "file://LocalHost" + base,
        "FILE://" + base,
    ):
        assert _canon_ckpt_path(spelling) == canon, spelling
    # and root spellings never collapse to the CWD
    assert _canon_ckpt_path("/" * (trail + 1)) == "/"
    assert _canon_ckpt_path("file:///" + "/" * trail) == "/"


# ---------------------------------------------------------------------------
# r18 order #7: spool-layer identity state machine. The claim / adopt /
# warn / raise / delete decisions around the ``_stream_id`` marker are pure
# driver-side metadata when every staged dir is zero-row (footer count 0),
# so hypothesis can grind random interleavings of three actors — stream A,
# stream B, and an id-less legacy handle — against a plain-Python model.
# The target invariant is the r17 VERDICT's adversarial question: is every
# unverifiable mix LOUD in every reachable state (no actor ever silently
# merges/deletes rows it cannot prove are its own), and does a foreign-id
# actor NEVER mutate another stream's claimed spool?
# ---------------------------------------------------------------------------

_ACTORS = {"A": "sA", "B": "sB", "N": None}

_SPOOL_OPS = st.lists(
    st.tuples(
        st.sampled_from(sorted(_ACTORS)),
        st.sampled_from(["stage", "flush"]),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_SPOOL_OPS)
def test_spool_identity_state_machine(tmp_path_factory, ops):
    import warnings as _w

    root = str(tmp_path_factory.mktemp("spool"))
    fs = LocalFS()
    handles = {
        name: _new_table_noid(root, fs, sid) for name, sid in _ACTORS.items()
    }

    # model: marker value (None = unmarked), count of staged dirs
    marker: str | None = None
    dirs = 0
    seq = 0

    def stage(t, label):
        # spool_batch minus the Spark write: identity check + claim, then
        # a zero-row staged dir lands via the same fs seam
        t._check_spool_identity(claim=True)
        d = os.path.join(t._spool_dir(), label)
        fs.mkdirs(d)
        t._spool_rows_cache = None  # fresh handle semantics per op

    for actor, action in ops:
        t = handles[actor]
        t._spool_rows_cache = None  # re-derive from disk like a fresh handle
        mine = _ACTORS[actor]
        foreign = marker is not None and mine is not None and marker != mine
        unverifiable_none = marker is not None and mine is None
        adoption = marker is None and mine is not None and dirs > 0
        seq += 1
        label = f"b{seq:012d}"

        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            if foreign:
                # LOUD + state untouched, both paths
                with pytest.raises(RuntimeError, match="spool identity"):
                    stage(t, label) if action == "stage" else t.flush_spool()
            elif action == "stage":
                stage(t, label)
                dirs += 1
                if marker is None and mine is not None:
                    marker = mine  # claimed (adoption or fresh)
            else:  # flush (always zero events in this grind)
                assert t.flush_spool() is False
                if not unverifiable_none:
                    marker, dirs = None, 0  # spool cleared
                # else: claim and dirs left in place

        warned = [w for w in caught if issubclass(w.category, RuntimeWarning)]
        if foreign:
            assert not warned
        elif unverifiable_none:
            assert any("unverifiable spool" in str(w.message) for w in warned)
        elif adoption:
            if action == "stage":
                assert any(
                    "unverifiable spool adoption" in str(w.message)
                    for w in warned
                )
            else:
                # r18 ADVICE #3: the zero-event FLUSH deletes marker-less
                # dirs that are provably zero-row — no merge happens, no
                # claim exists, so the adoption warning (which describes
                # a merge) is suppressed on this path.
                assert not warned, [str(w.message) for w in warned]
        else:
            assert not warned, [str(w.message) for w in warned]

        # disk agrees with the model after every op
        mpath = os.path.join(root, "_spool", "_stream_id")
        got = fs.read_text(mpath).strip() if fs.exists(mpath) else None
        assert got == marker
        on_disk = [
            d
            for d in fs.list_names(os.path.join(root, "_spool"))
            if d != "_stream_id"
        ]
        assert len(on_disk) == dirs


def _new_table_noid(root: str, fs, stream_id):
    return ParquetUpsertTable(
        None,
        root,
        key="id",
        n_buckets=4,
        fs=fs,
        retain_commits=0,
        stream_id=stream_id,
    )
