"""Keyed upsert materialization sink (reference R8–R11 → foreachBatch MERGE).

The reference materializes the Kafka change stream into Postgres with a JDBC
sink in upsert mode + delete propagation (/root/reference/README.md:839-845).
The Spark-native equivalent is ``writeStream.foreachBatch`` running a keyed
MERGE per micro-batch into a table the rest of the engine can query.

This local build has no Delta/Iceberg jars, so the table is a
**hash-bucketed parquet directory with an append-only commit log of
immutable, put-if-absent records** — the same MERGE semantics at
delta-file (here: bucket) granularity, and the same commit shape as
Delta's transaction log:

    table_dir/
      _commits/c00000000000000000001.json
          # one IMMUTABLE record per commit, created with
          # fs.create_exclusive (put-if-absent, never renamed, never
          # overwritten), six fields:
          #   "version":   "v...042" — this commit's label
          #   "max_label": highest label in the lineage (replay gate)
          #   "n_buckets": N — the key-hash layout
          #   "buckets":   {"3": "v.../pb=3", ...} — live dir per bucket
          #   "schema":    StructType.json() of the table's rows
          #   "stream_id": writing stream's replay identity (optional)
      v00000000000042/pb=3/...parquet # bucket 3 as rewritten by batch 42

"Current" is the highest-sequence record — no pointer file, no rename.
That makes the commit correct on stores WITHOUT atomic rename (the r12
seam's own caveat, closed in r13): put-if-absent is the primitive object
stores actually offer (S3 conditional PUT / If-None-Match, GCS
if-generation-match), and the optimistic-concurrency fence becomes
atomic wherever that primitive is real — two writers deriving from
parent sequence P both try to create record P+1 and exactly one wins;
the loser raises and re-derives. Qualification (ADVICE r13): on S3A
clients older than Hadoop 3.4.1 the fs seam can only enforce
no-overwrite client-side, so the fence is best-effort there and the
seam warns once; with conditional writes (or HDFS/local rename) the r12
check-then-swap near-miss window is gone. The log is BOUNDED: every
``retain_commits``-th commit auto-vacuums old records (r14), so a
months-running stream neither grows ``_commits/`` without limit nor
pays an O(all-commits-ever) LIST per merge.

Readers take the table schema from the record (Delta's ``metaData``
schema string), so no read infers it from parquet footers; the writer
already holds it on the driver when it commits.

A micro-batch MERGE rewrites ONLY the buckets its keys hash into; untouched
buckets stay referenced at their old version paths. Per-batch write cost is
O(batch + touched-bucket bytes), not O(table) — at 100 TB with localized key
activity a batch touches a handful of buckets, which is exactly Delta's
file-rewrite granularity (``DeltaTable.merge`` rewrites only files whose
key ranges match). On a cluster this class swaps for
``DeltaTable.merge(...).whenMatchedUpdate/Delete.whenNotMatchedInsert`` —
the dataflow (dedup latest per key by SCN → bucket-pruned merge) is
identical.

Deletes leave **tombstones**: the stored state keeps ``(key, _scn,
__deleted=true)`` rows so an out-of-order older event arriving in a later
micro-batch cannot resurrect a deleted key; readers filter them out.
Tombstones persist until major compaction (Delta-style retention window).

Exactly-once: foreachBatch may replay a batch after failure; the merge is
idempotent (latest-SCN-wins is a deterministic function of {current state ∪
batch}), and the version label is keyed by batch id. A replay of a batch
whose commit landed finds a retained record committing its label and is a
no-op; a replay whose earlier attempt died before its commit rewrites the
same data paths and appends the record — together with the checkpoint
offset log this gives the reference's effective exactly-once contract
(R15).
"""

from __future__ import annotations

import json
import os
import re
import warnings
from collections.abc import Callable, Iterable, Iterator
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from olr_cdc_oracle_with_dbz_spark.cdc.envelope import (
    PK,
    compact_latest_clustered,
    unwrap,
)
from olr_cdc_oracle_with_dbz_spark.fs import LocalFS
from olr_cdc_oracle_with_dbz_spark.functions.hashing import xxhash64_longs

#: URI scheme detector (RFC 3986 shape) for checkpoint-path canonicalization.
#: Requires 2+ scheme characters (r17 ADVICE): RFC 3986 permits one-letter
#: schemes, but in practice a one-letter "scheme" is a Windows drive spec
#: (``C:/ckpt``) — a LOCAL path that must canonicalize through abspath like
#: any other scheme-less spelling, not skip it. No Hadoop filesystem
#: registers a single-letter scheme.
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]+:")


def _canon_ckpt_path(path: str) -> str:
    """Canonical spelling of a checkpoint path for replay-identity use.

    r16 ADVICE: deriving the identity from the VERBATIM string means a
    restart that spells the same checkpoint differently (relative vs
    absolute, doubled interior slashes) gets a different ``stream_id``
    and permanently wedges on a spurious batch-id-collision raise — the
    exact failure the trailing-slash strip was added to avoid, via a
    different spelling. Scheme-less local paths canonicalize through
    ``os.path.abspath`` (which also collapses ``//`` and ``.``).

    ``file:``-scheme URIs reduce to their LOCAL-path form first (r17
    ADVICE): ``file:///ckpt/x``, ``file:/ckpt/x``, ``file://localhost/
    ckpt/x`` and plain ``/ckpt/x`` all name the same location to Hadoop's
    local filesystem, so they must derive the same stream identity — a
    restart that switches spelling (e.g. a config templating change)
    must not wedge on a spurious cross-stream collision. A ``file://``
    URI with a real (non-localhost) authority is left verbatim — it
    names a remote host, not this filesystem.

    Other URI schemes (``hdfs://``, ``s3a://``) keep their spelling
    apart from trailing-separator stripping — a full normpath would
    mangle the ``scheme://`` authority slashes, and distributed-store
    URIs are already absolute by construction. A RELATIVE local path
    resolves against the canonicalizer's cwd, so spell checkpoints
    absolutely in anything restarted from a different directory (the
    collision runbook names this caveat — see ``_IDENTITY_CAVEAT``).
    """
    # The strip must not erase a ROOT path (r18 ADVICE): '/', '//', '///'
    # would otherwise reduce to '' and abspath('') resolves to the CWD —
    # a root checkpoint would canonicalize to the working directory, and
    # 'file:///' (which correctly reduces to '/') would derive a
    # DIFFERENT identity than plain '/'.
    p = path.rstrip("/") or "/"
    m = _SCHEME_RE.match(p)
    if m:
        # RFC 3986: schemes are case-insensitive — HDFS://nn/x and
        # hdfs://nn/x name one location to Hadoop, so they must derive
        # one identity. Authority/path case is left alone (object-store
        # keys ARE case-sensitive).
        p = p[: m.end()].lower() + p[m.end():]
    if p[:5] == "file:":
        rest = p[5:]
        if rest.startswith("//"):
            authority, sep, tail = rest[2:].partition("/")
            # RFC 3986 hosts are case-insensitive, same as the scheme
            # fold above (r18 ADVICE): file://LOCALHOST/x is this
            # filesystem, not a remote host.
            if authority.lower() not in ("", "localhost"):
                return p  # remote-host file URI: not this filesystem
            rest = "/" + tail if sep else "/"
        p = rest or "/"
    if not _SCHEME_RE.match(p):
        p = os.path.abspath(p)
        # POSIX abspath/normpath PRESERVE a leading double slash
        # (implementation-defined per POSIX; Python keeps it), but on the
        # platforms Spark checkpoints land on it names the same file as a
        # single slash — found by the r17 hypothesis grind: a restart
        # spelled //ckpt/x must not read as a different stream than
        # /ckpt/x. abspath never emits 3+ leading slashes, so one strip
        # suffices.
        if p.startswith("//"):
            p = p[1:]
    return p


#: Appended to every cross-stream collision raise (r17 ADVICE #4): the two
#: canonicalization blind spots are invisible at failure time without this —
#: an operator seeing "different stream" cannot otherwise distinguish a
#: genuine fresh-checkpoint reuse from a same-stream restart that merely
#: changed its working directory or URI spelling.
_IDENTITY_CAVEAT = (
    " (Note: auto-derived 'ckpt:' identities canonicalize local and file: "
    "spellings, but a RELATIVE checkpoint path resolves against the "
    "driver's cwd and non-file: URI spellings compare near-verbatim — a "
    "same-stream restart from a different working directory, or with a "
    "changed hdfs://s3a:// spelling, can raise this spuriously. If this "
    "is the same stream, re-spell its checkpoint absolutely and "
    "identically to the original.)"
)


_COMMITS = "_commits"  # append-only commit log directory
_FLOOR_EXT = ".floor"  # vacated-slot fence marker files (r15, ADVICE r14)
_PB = "pb"  # bucket partition column
_INT64 = range(-(1 << 63), 1 << 63)


def _key_lit(v):
    """``F.lit`` of a lookup value. ``F.lit`` of an ``int`` outside int64
    raises in the JVM, so such an int goes in as a ``Decimal`` (as its
    digits past Spark's 38-digit decimals) and Spark's own cast decides
    what it means against the key type."""
    if isinstance(v, int) and v not in _INT64:
        return F.lit(Decimal(v) if abs(v) < 10**38 else str(v))
    return F.lit(v)


def _driver_buckets(
    values: list, key_type, n_buckets: int
) -> list[tuple[object, int]] | None:
    """(value, bucket id) of each representable lookup value, hashed on
    the driver — or None when the (key type, value type) pair needs
    :meth:`ParquetUpsertTable._probe_buckets`. Only Python ``int`` values
    against a ``bigint`` key hash here. Python's ``%`` with a positive
    modulus is Spark's ``pmod``."""
    if key_type == LongType() and all(isinstance(v, int) for v in values):
        ints = [int(v) for v in values if v in _INT64]
        return list(zip(ints, (h % n_buckets for h in xxhash64_longs(ints))))
    return None


class ParquetUpsertTable:
    """A queryable keyed table maintained by bucket-granular micro-batch MERGE."""

    #: bucket count for NEW tables when the constructor doesn't pick one
    DEFAULT_BUCKETS = 16

    #: commit records auto-retained (and the auto-vacuum cadence) when the
    #: constructor doesn't pick one — see ``retain_commits`` below
    DEFAULT_RETAIN_COMMITS = 32

    #: minimum age (store mtime vs driver clock) before vacuum may delete
    #: a commit record and vacate its slot — see ``vacuum_grace_sec`` below
    DEFAULT_VACUUM_GRACE_SEC = 60.0

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        key: str = PK,
        extra_cols: tuple[str, ...] = (),
        n_buckets: int | None = None,
        fs=None,
        retain_commits: int | None = None,
        vacuum_grace_sec: float | None = None,
        stream_id: str | None = None,
        strict_identity: bool = False,
    ):
        """``extra_cols``: evolved image columns to carry through unwrap —
        the R10 auto.evolve path; rows from pre-evolution events surface
        NULL for them, and unionByName(allowMissingColumns) inside the
        merge evolves the existing table additively.

        ``n_buckets``: key-hash bucket count for a NEW table. Sized so one
        bucket's bytes fit an executor comfortably (at 100 TB: thousands
        of buckets); the local default keeps test tables in a handful of
        files. Reopening an EXISTING table adopts the committed count from
        the manifest (ADVICE r11 — hashing against any other layout would
        read back the wrong buckets and duplicate keys); passing an
        explicit ``n_buckets`` that CONFLICTS with the committed layout
        raises instead of being silently ignored — re-bucket a grown
        table with ``compact(n_buckets=...)``.

        ``fs``: the metadata-bookkeeping filesystem (``fs.LocalFS`` /
        ``fs.HadoopFS``). Every commit-record / spool directory op
        routes through it; the DATA path (bucket parquet) already goes
        through Spark's own Hadoop FS client. Pass ``HadoopFS(spark)``
        when ``table_dir`` lives on shared storage (hdfs://, s3a://, ...)
        — the 100 TB deployment shape for the reference's R8 sink
        contract (/root/reference/README.md:840-842).

        ``retain_commits``: commit-log retention window (r14, VERDICT r13
        "what's missing" #3). Every commit appends one record and
        ``_head()`` lists ``_commits/`` — without retention a
        months-running stream accumulates an unbounded log dir and pays
        an O(commits) LIST per merge (on S3 the slow, paginated op).
        Every ``retain_commits``-th commit auto-vacuums down to the
        newest ``retain_commits`` records, so the log dir (and therefore
        every per-merge listing) is bounded by ~2x the window regardless
        of stream lifetime, while ``read(version=...)`` time travel keeps
        working across the retained window. 0 disables auto-retention
        (manual ``vacuum()`` only). The reference's sink contract is the
        model: the Postgres sink database keeps bounded durable state,
        not every historical row version
        (/root/reference/README.md:840-842).

        ``vacuum_grace_sec``: a record younger than this is never deleted
        by :meth:`vacuum`, so its slot is never vacated while its writer
        could still be inside the create→post-check window of
        :meth:`_commit` (the fs-call-wide race where a successor commit
        plus a ``keep``-tight vacuum could otherwise raise the floor past
        a FRESH, legitimate commit and make its writer raise spuriously —
        Delta's "can't VACUUM below the retention threshold" posture
        applied to commit metadata). The bounded-log guarantee becomes
        max(~2x ``retain_commits``, commits within the grace window);
        at production micro-batch cadence (seconds apart) the 60 s
        default adds at most a handful of records. Age compares the
        store's mtime against the driver's clock (same skew caveat as
        :meth:`vacuum_orphans`) — size it well above expected skew.
        0 restores unconditional vacuuming (tests exercising rapid
        retention use this; they are single-threaded, so the race the
        grace exists to close cannot occur there).

        ``stream_id``: identity of the writing stream/checkpoint, stamped
        into every commit record and spool marker (r15 ADVICE). A merge
        whose label ``v{batch_id}`` a retained record already commits is
        a replay and returns without writing; with no identity,
        reprocessing a source from a FRESH checkpoint against an
        existing table dir silently no-ops every batch whose id collides
        with a committed label — silent data loss. With an identity, a
        label collision from a DIFFERENT stream raises instead. Use the
        Structured Streaming ``query.id`` (stable across restarts from
        the same checkpoint) or the checkpoint path; :func:`start_sink`
        (and so every ``run_pipeline`` shape) auto-derives the latter
        when the handle has none. Same posture as Delta's ``txnAppId``
        idempotent-write key. None preserves the label-only check (and
        records with no stored id — pre-r16 tables — never raise).

        ``strict_identity`` (r16 ADVICE): a None-id handle that meets a
        record or spool marker that DOES carry a ``stream_id`` normally
        warns and proceeds (replay no-op, or spool merge) — the stamp
        proves the table opted into identity checking, so an ad-hoc
        batch writer reprocessing into a protected table re-opens the
        silent-data-loss hole the feature closes. ``strict_identity=True``
        upgrades that warning to a raise (:meth:`_check_identity`); it
        has no effect on handles that carry an id (those already raise
        on cross-stream collisions).
        """
        self.spark = spark
        self.table_dir = table_dir
        self.key = key
        self.extra_cols = extra_cols
        self.stream_id = stream_id
        self.strict_identity = strict_identity
        self.retain_commits = (
            self.DEFAULT_RETAIN_COMMITS if retain_commits is None else retain_commits
        )
        if self.retain_commits < 0:
            raise ValueError(f"retain_commits must be >= 0, got {retain_commits}")
        self.vacuum_grace_sec = (
            self.DEFAULT_VACUUM_GRACE_SEC
            if vacuum_grace_sec is None
            else vacuum_grace_sec
        )
        if self.vacuum_grace_sec < 0:
            raise ValueError(
                f"vacuum_grace_sec must be >= 0, got {vacuum_grace_sec}"
            )
        self.fs = fs if fs is not None else LocalFS()
        self.fs.mkdirs(table_dir)
        _seq, m = self._head()
        if m is not None:
            committed = m["n_buckets"]
            if n_buckets is not None and n_buckets != committed:
                raise ValueError(
                    f"{table_dir} is committed with n_buckets={committed}, "
                    f"got n_buckets={n_buckets}; reopen without n_buckets "
                    f"(adopts the layout) or re-bucket via "
                    f"compact(n_buckets={n_buckets})"
                )
            self.n_buckets = committed
        else:
            self.n_buckets = (
                self.DEFAULT_BUCKETS if n_buckets is None else n_buckets
            )

    # -- commit log ----------------------------------------------------------
    def _commit_dir(self) -> str:
        return os.path.join(self.table_dir, _COMMITS)

    def _floor_marker(self, seq: int) -> str:
        return os.path.join(self._commit_dir(), f"f{seq:020d}{_FLOOR_EXT}")

    def _floor(self) -> int:
        """Highest commit sequence any vacuum has ever DELETED — the
        vacated-slot fence (ADVICE r14). Retention deletes old records,
        which vacates their sequence slots; without a floor, a writer
        whose derive-to-commit window outlived the retention window
        (a long ``compact()``, a stale ``merge_batch`` handle racing a
        busy stream) could win ``create_exclusive`` at a BELOW-head slot
        and return as if committed while the head never includes its
        rows — a silent lost update, the exact failure the fence exists
        to raise. Pre-retention the unbounded log made occupied slots
        permanent; the floor restores that permanence.

        The floor is the MAX over immutable ``f<seq>.floor`` marker
        files, each created with the same put-if-absent primitive as
        commit records — never a mutate-in-place or rename-swap, whose
        non-atomic fallback on object stores would expose a
        missing-floor gap at exactly the moment the fence matters
        (the commit path's no-rename rule, test_object_store_commit).
        0 = no marker (nothing ever vacuumed; an absent floor fails
        OPEN to pre-retention behavior — it never blocks commits)."""
        return max((s for s, _n in self._floor_markers()), default=0)

    def _floor_markers(self) -> list[tuple[int, str]]:
        """(seq, filename) of every ``f<seq>.floor`` marker in the log dir
        — the single parser of the marker naming scheme, shared by
        :meth:`_floor` and :meth:`_raise_floor`."""
        out = []
        for name in self.fs.list_names(self._commit_dir()):
            if name.startswith("f") and name.endswith(_FLOOR_EXT):
                try:
                    out.append((int(name[1 : -len(_FLOOR_EXT)]), name))
                except ValueError:
                    continue
        return out

    def _raise_floor(self, seq: int) -> None:
        """Monotonically advance the vacated-slot floor to at least
        ``seq``. MUST be called BEFORE the records at/below ``seq`` are
        deleted: the invariant the commit-side checks rely on is "every
        vacated slot is <= the published floor", so the marker publishes
        first and deletion follows. Publication is put-if-absent (losing
        the race to an identical marker is success); superseded lower
        markers are garbage-collected AFTER the higher one is visible,
        so a reader's max never regresses — the log dir carries at most
        a few markers transiently and exactly one at rest."""
        markers = self._floor_markers()  # one listing serves check + GC
        if seq <= max((s for s, _n in markers), default=0):
            return
        self.fs.create_exclusive(self._floor_marker(seq), "")
        for s, name in markers:
            if s < seq:
                self.fs.delete(os.path.join(self._commit_dir(), name))

    def _commit_path(self, seq: int) -> str:
        return os.path.join(self._commit_dir(), f"c{seq:020d}.json")

    def _commit_seqs(self) -> list[int]:
        """All committed sequence numbers, ascending (driver-side listing of
        the log dir — bounded by vacuum retention, not by table size)."""
        out = []
        for name in self.fs.list_names(self._commit_dir()):
            if name.startswith("c") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    # a stray non-record file (operator backup copy like
                    # "c...json (copy).json", editor droppings) must not
                    # brick every table op from the constructor on down —
                    # same skip rule as _floor_markers
                    continue
        return sorted(out)

    def _record(self, seq: int) -> dict | None:
        """One commit record, or None when it can't be read or parsed.
        None means either (a) a torn record — a store where
        ``create_exclusive`` degrades to a non-atomic create AND the
        writer died mid-upload — or (b) the record was deleted by a
        concurrent vacuum between ``_commit_seqs``'s listing and this
        read; both resolve by falling back to the previous record. The
        fs seam normalizes missing-file errors to ``FileNotFoundError``
        (an OSError) on BOTH impls — HadoopFS used to surface the raw
        py4j ``Py4JJavaError`` here and crash the fallback (ADVICE r13).
        """
        try:
            return json.loads(self.fs.read_text(self._commit_path(seq)))
        except (ValueError, OSError):
            return None

    def _head(self) -> tuple[int, dict | None]:
        """(sequence, manifest) of the newest readable commit; (0, None)
        for an empty table. The sequence is the fence token every writer
        carries into :meth:`_commit`.

        Note the torn-head case: if the highest record is unreadable (a
        writer died mid-create on a degraded store), reads fall back to
        the previous record but the dead writer still OCCUPIES its
        sequence — a later commit deriving from the fallback raises at
        the fence instead of silently superseding a record whose fate is
        unknown. That's the conservative posture Delta's log takes with
        zombie commit files; recovery is deleting the torn record.
        """
        return next(self._readable(), (0, None))

    def _readable(self) -> Iterator[tuple[int, dict]]:
        """(sequence, record) of every readable retained record, newest
        first, read lazily — a caller that stops early reads no more."""
        for seq in reversed(self._commit_seqs()):
            m = self._record(seq)
            if m is not None:
                yield seq, m

    def current_version(self) -> str | None:
        """Label of the live version (e.g. ``v...042``), or None."""
        _seq, m = self._head()
        return m.get("version") if m else None

    def _manifest(self, version: str | None = None) -> dict | None:
        """The head record, or the newest retained record that commits
        version LABEL ``version`` — time travel, and the one answer to
        "is this label committed". A replay whose earlier attempt wrote
        data but died BEFORE its commit landed re-writes and appends
        under the same label; a replay of a DURABLE commit is a no-op in
        merge_batch and appends nothing."""
        for _seq, m in self._readable():
            if version is None or m["version"] == version:
                return m
        return None

    def _referenced_dirs(
        self, records: Iterable[dict | None] | None = None
    ) -> set[str]:
        """Top-level version dirs that readable retained records
        reference — every record's, not just the head's: merges carry
        untouched buckets' labels forward, so a dir outlives its own
        commit record. ``records`` (None entries skipped) saves a caller
        that already read the log a second pass."""
        if records is None:
            records = (m for _seq, m in self._readable())
        return {
            rel.split("/", 1)[0]
            for m in records
            if m is not None
            for rel in m["buckets"].values()
        }

    def _commit(
        self,
        version: str,
        buckets: dict[str, str],
        expect_parent: int,
        n_buckets: int | None = None,
        parent_manifest: dict | None = None,
        schema: StructType | None = None,
    ) -> int:
        """Append one immutable commit record at sequence ``expect_parent
        + 1`` via put-if-absent; returns the committed sequence.

        ``expect_parent`` is the optimistic-concurrency fence: the commit
        sequence this write's state was DERIVED from (``_head()[0]`` at
        derive time). If another writer committed in between, its record
        already occupies ``expect_parent + 1`` and ``create_exclusive``
        loses — committing anyway would silently drop that writer's rows
        (the classic lost update, e.g. a compaction whose rewrite raced a
        micro-batch merge), so this raises instead. Unlike the r12
        pointer-swap fence there is NO check-then-act window: put-if-
        absent makes exactly one deriver of any parent win wherever the
        store offers a real put-if-absent primitive: local/HDFS rename-
        without-overwrite, and object stores WITH conditional writes (S3
        If-None-Match via Hadoop >= 3.4.1 S3A, GCS
        if-generation-match). On older S3A clients the fs seam's
        fallback enforces no-overwrite CLIENT-side (HEAD-then-PUT) — a
        narrow race window remains there and the seam warns once when
        that path is taken (fs.py, ADVICE r13). Replays are
        unaffected: a replay whose earlier attempt died BEFORE its
        commit landed re-derives from the live head and appends a fresh
        record; a replay of a commit that DID land is a no-op in
        merge_batch, before any write (r15 — re-writing would overwrite
        a referenced version dir).

        Auto-retention (r14): every ``retain_commits``-th successful
        commit vacuums the log down to the newest ``retain_commits``
        records, bounding ``_commits/`` (and the per-merge ``_head()``
        listing) for arbitrarily long-running streams. Runs AFTER the
        commit succeeds, on the committer's own sequence cadence, so
        concurrent handles don't double-vacuum in lockstep and a fence
        failure never triggers retention.

        Label-space high-water mark (r17 review pass): each record also
        stamps ``max_label`` = max(this version, parent's max_label) —
        monotone over the whole lineage even when a sanctioned reuse
        (the post-runbook wiped-checkpoint path) commits a BACKWARDS
        version label. The merge-path collision gate keys on it, because
        after such a reuse the head's own version no longer bounds the
        retained label space (a dir-less committed label ABOVE the new
        head would otherwise slip the at-or-below-head gate — the
        second-order form of ADVICE r16 #1). ``parent_manifest`` lets
        the caller hand over the head record it already read; when
        omitted on a non-root commit, the parent record is read
        best-effort (one extra metadata read, direct-caller/test path
        only). A backwards commit (version at-or-below the parent's
        space) additionally refuses to DUPLICATE a label some retained
        record still commits — the ambiguity the merge gate prevents,
        enforced at the root for non-merge callers too.

        ``schema`` is the table's row schema as written by this commit
        (``merge_batch`` and ``compact`` pass it); None inherits the
        parent record's, so a metadata-only commit keeps the schema its
        unchanged data dirs were written with.
        """
        seq = expect_parent + 1
        if parent_manifest is None and expect_parent > 0:
            parent_manifest = self._record(expect_parent)  # best-effort
        parent_space = parent_manifest["max_label"] if parent_manifest else None
        if (
            parent_space is not None
            and version <= parent_space
            and self._manifest(version) is not None
        ):
            raise RuntimeError(
                f"duplicate-label commit refused on {self.table_dir}: "
                f"a retained record already commits {version} — "
                f"appending another would make manifest/time-travel "
                f"resolution ambiguous. Point the writer at a new "
                f"table dir, or compact() then vacuum(keep=1) first"
            )
        # Vacated-slot fence (ADVICE r14): retention vacates old sequence
        # slots, so create_exclusive alone no longer proves this writer is
        # the head's successor — a slot can be winnable because a vacuum
        # DELETED its record, not because no one ever committed there.
        # Check the floor before the create (cheap fast-fail on a stale
        # derive) AND after winning it (authoritative: the floor is
        # published BEFORE any deletion, so a concurrent vacuum that
        # vacated this slot is visible by now). The post-win check CAN in
        # principle fire on a fresh, legitimate commit — it takes a
        # successor deriving from this record AND a vacuum raising the
        # floor past it, both inside the one-fs-call window between our
        # create and our floor read — but ``vacuum_grace_sec`` keeps
        # records that young out of every vacuum's reach, so reaching it
        # requires the driver to stall longer than the grace between two
        # adjacent metadata calls. If that ever happens the failure is
        # spurious-but-safe: the raise aborts a batch whose rows are
        # already in the head lineage, and the idempotent replay
        # re-derives from the live head.
        floor = self._floor()
        if seq <= floor:
            raise RuntimeError(
                f"stale writer detected on {self.table_dir}: state derived "
                f"from commit {expect_parent}, but the retention vacuum "
                f"has already reclaimed commits through {floor} — "
                f"committing {version} at slot {seq} would be invisible to "
                f"the head (silent lost update). Re-derive from the live "
                f"head and retry"
            )
        rec = {
            "version": version,
            "max_label": (
                version if parent_space is None else max(version, parent_space)
            ),
            "n_buckets": self.n_buckets if n_buckets is None else n_buckets,
            "buckets": buckets,
        }
        if schema is not None:
            rec["schema"] = schema.json()
        elif parent_manifest is not None and "schema" in parent_manifest:
            rec["schema"] = parent_manifest["schema"]
        if self.stream_id is not None:
            # replay-identity key (r15 ADVICE): lets merge_batch tell a
            # genuine replay of THIS stream's batch from a label collision
            # by a different stream reprocessing into the same table dir
            rec["stream_id"] = self.stream_id
        record = json.dumps(rec)
        if not self.fs.create_exclusive(self._commit_path(seq), record):
            if self._record(seq) is None:
                # Either the occupying record is unreadable (a writer died
                # mid-create on a store where create_exclusive degrades to
                # a non-atomic create) or a vacuum deleted it between our
                # lost create and this read. Re-check the floor to tell
                # them apart — sending an operator to delete a torn record
                # that a vacuum already reclaimed is a wrong runbook.
                if seq <= self._floor():
                    raise RuntimeError(
                        f"stale writer detected on {self.table_dir}: "
                        f"state derived from commit {expect_parent}, but "
                        f"the retention vacuum has already reclaimed "
                        f"commits through {self._floor()} — re-derive "
                        f"from the live head and retry"
                    )
                raise RuntimeError(
                    f"concurrent writer detected on {self.table_dir}: "
                    f"commit {seq} exists but is unreadable (torn record "
                    f"from a writer that died mid-commit). Verify that "
                    f"writer is dead, delete {self._commit_path(seq)}, "
                    f"and retry"
                )
            live_seq, live = self._head()
            raise RuntimeError(
                f"concurrent writer detected on {self.table_dir}: state "
                f"derived from commit {expect_parent} but commit {seq} "
                f"already exists (live: {live_seq} -> "
                f"{live.get('version') if live else None!r}); committing "
                f"{version} would drop that writer's rows — re-derive and "
                f"retry"
            )
        floor = self._floor()
        if seq <= floor:
            # A vacuum raised the floor past this slot between the
            # pre-check and the create: the slot was vacated, the win is
            # counterfeit, and leaving the record would publish a version
            # the head never includes. Withdraw it and raise. fs.delete
            # swallows failures by contract, so verify the withdrawal
            # with an exists probe — an undead record is a time-travel
            # target readers could reach, and the error must say so
            # rather than claim a clean withdrawal.
            self.fs.delete(self._commit_path(seq))
            withdrawn = not self.fs.exists(self._commit_path(seq))
            raise RuntimeError(
                f"stale writer detected on {self.table_dir}: commit slot "
                f"{seq} was won after the retention vacuum reclaimed "
                f"commits through {floor} (derived from {expect_parent}); "
                + (
                    "the record was withdrawn"
                    if withdrawn
                    else f"WITHDRAWAL FAILED — delete "
                    f"{self._commit_path(seq)} manually before readers "
                    f"time-travel to it"
                )
                + " — re-derive from the live head and retry"
            )
        if self.retain_commits and seq % self.retain_commits == 0:
            self.vacuum(keep=self.retain_commits)
        return seq

    # -- read side ---------------------------------------------------------
    def _schema(self, m: dict) -> StructType:
        """The row schema a data-bearing commit record was written with.
        Readers pass it to the parquet reader instead of inferring one
        from footers (a Spark job per read). Tables committed before
        records carried a schema are not readable by this release."""
        if "schema" not in m:
            raise ValueError(
                f"{self.table_dir}: commit {m.get('version')!r} references "
                f"data but records no table schema (written before commit "
                f"records carried one); rebuild the table from its source"
            )
        return StructType.fromJson(json.loads(m["schema"]))

    def _scan(self, m: dict, rels: Iterable[str]) -> DataFrame:
        """Live rows of the bucket dirs ``rels`` under record ``m``'s
        schema, tombstones filtered out. A dir written before an additive
        evolution reads NULL for the columns it lacks."""
        df = self.spark.read.schema(self._schema(m)).parquet(
            *(os.path.join(self.table_dir, rel) for rel in rels)
        )
        if "__deleted" in df.columns:
            df = df.filter(~F.col("__deleted")).drop("__deleted")
        return df

    def read(self, version: str | None = None) -> DataFrame | None:
        """Read the live version, or time-travel to any retained version.

        Every micro-batch MERGE commits a new manifest, so history is
        retained until vacuumed — the contract Delta's transaction log
        provides (``VERSION AS OF``), here with manifest granularity.
        Tombstoned (deleted) keys are filtered out at read time.
        """
        m = self._manifest(version)
        if m is None or not m["buckets"]:
            return None
        return self._scan(m, m["buckets"].values())

    def read_keys(self, values, version: str | None = None) -> DataFrame | None:
        """Bucket-pruned point lookup — the sink-database query pattern.

        The reference's users hit the JDBC sink with ``WHERE id = ?``
        (/root/reference/README.md:829-850, the Postgres side); against
        this table the equivalent must NOT scan every bucket. Only the
        buckets the keys hash into are read: at 100 TB with thousands of
        buckets a point lookup touches one bucket's files instead of the
        table, and the returned frame's scan is the lookup's only Spark
        job. The key type comes from the commit record's schema.

        Bucket ids are ``pmod(xxhash64(CAST(v AS key type)), n_buckets)``,
        the writer's expression. A ``bigint`` key with Python ``int``
        values (``bool`` included, cast as Spark casts it; an int outside
        int64 is no such key) hashes on the driver with the XXH64 twin of
        ``functions/hashing.py`` (pinned bit-identical to ``F.xxhash64``).
        Every other pair — floats or strings against a ``bigint`` key,
        any value against a ``string`` or other key type, ``None`` values
        — goes through a one-row Spark probe job before the scan, so cast
        and coercion semantics stay Spark's own. Returns None when the
        table has no committed version, no value is representable in the
        key type, or none of the keys' buckets exist yet.
        """
        values = list(values)
        if not values:
            return None
        m = self._manifest(version)
        if m is None or not m["buckets"]:
            # committed-but-empty table (an empty first batch commits {})
            # reads the same as no table: no rows to look up (ADVICE r11)
            return None
        # pmod against the bucket count the MANIFEST records, not the
        # constructor default — a table written with a non-default count
        # must prune against the layout it was written with (ADVICE r11)
        n_buckets = m["n_buckets"]
        # xxhash64 is TYPE-sensitive (an int literal hashes differently
        # from the same value in a long column), so lookups hash and
        # compare as the STORED key type
        key_type = self._schema(m)[self.key].dataType
        keyed = _driver_buckets(values, key_type, n_buckets)
        if keyed is None:
            keyed = self._probe_buckets(values, key_type, n_buckets)
        if not keyed:
            return None  # no lookup value is representable in the key type
        buckets = {str(b) for _v, b in keyed}
        rels = [rel for b, rel in m["buckets"].items() if b in buckets]
        if not rels:
            return None
        # filter with the SAME cast literals used for bucket hashing —
        # raw Python values can compare differently than they hash (e.g.
        # int lookups against a string key column), so pruning and
        # filtering must agree on the comparison type (ADVICE r11)
        cast_lits = [_key_lit(v).cast(key_type) for v, _b in keyed]
        return self._scan(m, rels).filter(F.col(self.key).isin(*cast_lits))

    def _probe_buckets(
        self, values: list, key_type, n_buckets: int
    ) -> list[tuple[object, int]]:
        """(value, bucket id) of each lookup value whose cast to
        ``key_type`` round-trips, computed by one tiny local Spark job:
        each value's bucket id AND whether ``lit(v) == cast(v)`` under
        Spark's comparison coercion. A LOSSY cast — e.g. 3.9 against a
        bigint key — must mean "no such key", not a silent match of key
        3; NULL-producing casts and None lookups drop the same way."""
        lits = [_key_lit(v) for v in values]
        cast_lits = [lit.cast(key_type) for lit in lits]
        probe = [
            F.struct(
                F.pmod(F.xxhash64(c), F.lit(n_buckets)).alias("b"),
                F.coalesce(lit == c, F.lit(False)).alias("ok"),
            )
            for lit, c in zip(lits, cast_lits)
        ]
        rows = (
            self.spark.range(1)  # 1 row, 1 partition: explode keeps order
            .select(F.explode(F.array(*probe)).alias("p"))
            .select("p.b", "p.ok")
            .collect()
        )  # ≤ len(values) scalars — bounded, not data-sized
        return [(v, r["b"]) for v, r in zip(values, rows) if r["ok"]]

    def versions(self) -> list[str]:
        """All retained version LABELS, oldest→newest (commit order). A
        replay whose earlier attempt's commit never landed can append a
        second record under the same label, so labels are deduplicated —
        one logical version per label."""
        records = map(self._record, self._commit_seqs())
        return list(
            dict.fromkeys(r["version"] for r in records if r is not None)
        )

    def vacuum(self, keep: int = 2) -> list[str]:
        """Drop all but the newest ``keep`` commit records — NEVER the
        READABLE head — then garbage-collect data dirs that only the
        dropped records referenced. Returns the dropped version labels.

        Head protection (ADVICE r13): ``keep`` counts from the newest
        SEQUENCE, but the newest sequences can be torn records (a writer
        that died mid-create on a degraded store). The pre-r14 shape kept
        ``seqs[-keep:]`` blindly — with a torn record on top,
        ``vacuum(keep=1)`` retained only the zombie, the readable head
        record was deleted, ``referenced`` collapsed to {} and the GC
        loop dropped EVERY data dir: total table loss. Now the readable
        head (the newest readable record of this vacuum's listing) and
        everything at/above its sequence are unconditionally retained,
        whatever ``keep`` says.

        Torn records BELOW the head are skipped, not deleted: under the
        fence protocol head > s implies record s was readable when the
        log advanced past it, so reading it torn means this vacuum raced
        a concurrent reader-visible upload — deleting a record whose
        fate is in flight is the one call this method must never make
        (zombie recovery above the head stays manual, per ``_head``;
        PERMANENTLY torn below-head residue is reclaimed by the age-gated
        sweep in :meth:`vacuum_orphans`, r15).

        Vacated-slot fence (ADVICE r14): before any record is deleted,
        the highest to-be-deleted sequence is published as a put-if-absent
        ``f<seq>.floor`` marker. Deleting a record re-opens its
        put-if-absent slot, so a writer whose derive-to-commit window
        outlived the retention window could otherwise win a BELOW-head
        slot and silently lose its update; :meth:`_commit` rejects any
        sequence at/below the floor, before and after the create.

        GC is TARGETED (r14): only version dirs the dropped records
        referenced — minus those any surviving record still references —
        are deleted. A dir referenced by NO record ever (an in-flight
        writer's not-yet-committed version, or a crashed writer's
        orphan) is left alone: auto-retention runs concurrently with
        live writers, and deleting a dir mid-write would corrupt the
        writer's pending commit. Orphan cleanup is the separate age-based
        sweep :meth:`vacuum_orphans` (Delta's posture: VACUUM uses a
        retention-hours threshold for exactly this reason).
        """
        import time

        seqs = self._commit_seqs()
        if not seqs:
            return []  # empty table: nothing to vacuum
        # the readable head, from this listing (_head() would LIST again)
        head_seq = next(
            (s for s in reversed(seqs) if self._record(s) is not None), 0
        )
        retained = set(seqs[-keep:]) if keep > 0 else set(seqs[-1:])
        grace_cutoff = time.time() - self.vacuum_grace_sec
        to_drop: list[tuple[int, dict]] = []
        for s in seqs:
            if s >= head_seq or s in retained:
                continue
            r = self._record(s)
            if r is None:
                continue  # in-flight upload racing this vacuum: hands off
            if self.vacuum_grace_sec:
                # a record this young may belong to a writer still inside
                # its create→post-check window; vacating its slot could
                # raise the floor past a fresh legitimate commit and make
                # that writer raise spuriously (see vacuum_grace_sec in
                # __init__). Leave it for the next vacuum.
                try:
                    if self.fs.mtime(self._commit_path(s)) > grace_cutoff:
                        continue
                except OSError:
                    continue  # vanished under a concurrent sweep
            to_drop.append((s, r))
        if to_drop:
            # publish the vacated-slot floor BEFORE any deletion (ADVICE
            # r14): once a slot's record is gone the slot is winnable
            # again, and the only thing standing between a stale writer
            # and a silent lost update is the floor being visible first
            self._raise_floor(max(s for s, _r in to_drop))
        dropped_dirs = self._referenced_dirs(r for _s, r in to_drop)
        for s, _r in to_drop:
            self.fs.delete(self._commit_path(s))
        for d in sorted(dropped_dirs - self._referenced_dirs()):
            self.fs.delete(os.path.join(self.table_dir, d))
        # dedupe labels (replay records share one) preserving order
        return list(dict.fromkeys(r["version"] for _s, r in to_drop))

    def _age_mtime(self, path: str, depth: int = 4) -> float:
        """Freshest modification time over ``path`` and its descendants
        down to ``depth`` levels — the age signal for orphan cleanup.
        The top-level dir's mtime alone measures write START, not last
        activity: on LocalFS a version dir's mtime is set at mkdir and
        never refreshed by ongoing writes into subdirs (ADVICE r14).
        Depth 4 is dictated by where a LIVE writer's activity actually
        lands: a committed layout bumps ``pb=*`` subdirs (depth 1), but
        an IN-FLIGHT Spark write stages everything under the
        FileOutputCommitter's
        ``_temporary/<appAttempt>/_temporary/<taskAttempt>/`` tree —
        task file creation bumps the ``<taskAttempt>`` dirs, which sit
        at depth 4 under the version dir. A shallower probe reads a
        still-running job as idle once its attempt dirs exist, and a
        tight ``older_than_sec`` could then sweep the dir mid-write. The
        walk is maintenance-path-only and scoped to UNREFERENCED dirs,
        so the listing cost is bounded by one job's staging tree."""
        newest = self.fs.mtime(path)  # root raise = caller's vanished case
        if depth > 0 and self.fs.is_dir(path):
            for child in self.fs.list_names(path):
                try:
                    newest = max(
                        newest,
                        self._age_mtime(os.path.join(path, child), depth - 1),
                    )
                except OSError:
                    continue  # child vanished between listing and stat
        return newest

    def vacuum_orphans(self, older_than_sec: float = 7 * 24 * 3600) -> list[str]:
        """Age-based cleanup of the two residues the regular
        :meth:`vacuum` deliberately never touches, because either might
        be a live writer's in-flight state — age is the disambiguator
        (Delta's VACUUM takes exactly this posture with its
        retention-hours threshold):

        1. ORPHAN version dirs — dirs under the table root that no commit
           record references (a writer that crashed between its data
           write and its commit, or an abandoned fence-failure retry). A
           young one may be an IN-FLIGHT writer's pending commit;
           deleting it mid-write would corrupt that commit. Age is
           measured as the freshest mtime over the dir and its immediate
           children (:meth:`_age_mtime`), not the dir's own mtime — the
           latter reflects write START (ADVICE r14).
        2. TORN commit records BELOW the readable head (r15, VERDICT r14
           "what's missing" #3) — a writer that died mid-upload on a
           store where ``create_exclusive`` degrades to a non-atomic
           create. :meth:`vacuum` skips them because a young torn read
           may be an upload still in flight; but one that still reads
           torn after ``older_than_sec`` is permanently dead, and
           without this sweep a degraded store accumulates them forever,
           eroding the bounded-log guarantee retention exists to give.
           The vacated-slot floor is raised BEFORE each deletion, so the
           re-opened slot can never be won by a stale writer (same fence
           as :meth:`vacuum`).

        ``older_than_sec`` must comfortably exceed the longest write job
        PLUS driver-vs-store clock skew: the age compares the store's
        reported mtime against the driver's local clock, and on shared
        storage the two are unrelated (the 7-day default mirrors Delta's
        and absorbs both). Returns the deleted entry names (dir names and
        commit-record filenames). Run it as scheduled maintenance
        alongside :meth:`compact`, not per-batch.
        """
        import time

        # one pass over the log: readable records feed the referenced
        # set, unreadable ones are the torn-sweep candidates for leg (2)
        records: dict[int, dict | None] = {
            s: self._record(s) for s in self._commit_seqs()
        }
        referenced = self._referenced_dirs(records.values())
        cutoff = time.time() - older_than_sec
        dropped = []
        for d in self.fs.list_names(self.table_dir):
            if not d.startswith("v") or d in referenced:
                continue
            p = os.path.join(self.table_dir, d)
            if not self.fs.is_dir(p):
                continue
            try:
                if self._age_mtime(p) > cutoff:
                    continue  # young enough to be an in-flight write
            except OSError:
                continue  # vanished between listing and stat: not ours
            self.fs.delete(p)
            dropped.append(d)
        # (2) permanently torn records below the readable head
        head_seq = max(
            (s for s, r in records.items() if r is not None), default=0
        )
        torn_old: list[int] = []
        for s, r in records.items():
            if s >= head_seq or r is not None:
                continue
            try:
                if self.fs.mtime(self._commit_path(s)) > cutoff:
                    continue  # may be an upload still in flight
            except OSError:
                continue  # vanished (concurrent sweep or late completion)
            torn_old.append(s)
        if torn_old:
            # ONE floor publication covering every slot about to re-open
            # (the same batched publish-then-delete order vacuum() uses)
            # instead of a marker create + listing + marker GC per record
            self._raise_floor(max(torn_old))
            for s in sorted(torn_old):
                self.fs.delete(self._commit_path(s))
                dropped.append(os.path.basename(self._commit_path(s)))
        return dropped

    @staticmethod
    def _canon_id(sid: str) -> str:
        """Canonical form of a replay identity for comparison. Auto-derived
        ids (``ckpt:<path>``) canonicalize their path component with
        :func:`_canon_ckpt_path` — records stamped by a release that
        derived ids verbatim from a relative / slash-doubled checkpoint
        spelling must keep comparing equal to the canonicalized form, or
        every restart of that stream wedges on a spurious collision (r16
        review #2, r16 ADVICE #2). Explicit caller ids (``query.id`` etc.)
        are opaque: trailing-separator strip only."""
        if sid.startswith("ckpt:"):
            return "ckpt:" + _canon_ckpt_path(sid[len("ckpt:"):])
        return sid.rstrip("/")

    @classmethod
    def _other_stream(cls, mine: str | None, theirs: str | None) -> bool:
        """True iff both replay identities are present and name DIFFERENT
        streams (canonicalized comparison — see :meth:`_canon_id`)."""
        return (
            mine is not None
            and theirs is not None
            and cls._canon_id(mine) != cls._canon_id(theirs)
        )

    def _check_identity(self, theirs: str | None, label: str | None) -> None:
        """The one stream-identity verdict, on the record that commits
        the colliding ``label`` (the merge's replay path) or, with
        ``label`` None, on the spool's ``_stream_id`` marker. ``theirs``
        is the identity stamped there (None: nothing stamped).

        * A DIFFERENT stream raises: a fresh checkpoint reusing the
          batch-id space, whose batch a replay no-op would drop, or
          another incarnation's staged rows, which a flush would blend
          into this stream's batch.
        * A None-id handle over a stamped record or marker warns, and
          raises under ``strict_identity`` (r16 ADVICE #3): the stamp
          proves the table opted into identity checking, so calling the
          collision same-stream is an unverified assumption.
        """
        if label is None:
            subject, kind = "the spool", "spool"
            collision = "spool identity collision"
            act = "merging its staged micro-batches into this stream's batch"
            remedy = (
                f"Clear the stale spool ({self._spool_dir()}) if those "
                f"rows are superseded, or point this stream at a new "
                f"table dir."
            )
        else:
            subject, kind = f"commit {label}", "replay"
            collision = "batch-id collision"
            act = "treating this batch as a replay no-op"
            remedy = (
                "Point a fresh reprocess at a new table dir, or compact() "
                "then vacuum(keep=1) first (re-roots every bucket under a "
                "fresh label and retires the old records)."
            )
        if self._other_stream(self.stream_id, theirs):
            raise RuntimeError(
                f"{collision} on {self.table_dir}: {subject} carries stream "
                f"identity {theirs!r} but this handle is stream "
                f"{self.stream_id!r}, so {act} would silently drop or "
                f"blend rows. {remedy}" + _IDENTITY_CAVEAT
            )
        if theirs is not None and self.stream_id is None:
            self._unverifiable(
                f"unverifiable {kind} on {self.table_dir}: {subject} "
                f"carries stream identity {theirs!r} but this handle has "
                f"none, so {act} cannot be verified as same-stream. If "
                f"this is the same stream, pass its stream_id (start_sink, "
                f"which run_pipeline uses, stamps it). {remedy}",
                # the frame that called merge_batch / spool_batch / flush_spool
                stacklevel=4 if label else 5,
            )

    def _unverifiable(self, msg: str, stacklevel: int) -> None:
        """An identity mix that cannot be verified as same-stream: warn,
        or raise under ``strict_identity``."""
        if self.strict_identity:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=stacklevel)

    # -- write side --------------------------------------------------------
    def _bucket_col(self, n_buckets: int | None = None):
        n = self.n_buckets if n_buckets is None else n_buckets
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(n))

    def merge_batch(self, unwrapped: DataFrame, batch_id: int) -> None:
        """MERGE: latest event per key wins; deletes tombstone rows (R8/R9).

        Only the buckets the batch's keys hash into are read back and
        rewritten — one partitioned write job regardless of bucket count.

        Replay idempotence: ``label`` is keyed by ``batch_id``, so a
        foreachBatch replay of a batch whose ``_commit`` ALREADY landed
        finds a retained record committing its label — the head (crash
        between the commit and the checkpoint offset commit) or one below
        it (a later merge or compact folded its rows in) — and returns
        without writing or running a Spark job. Re-running the write
        would ``overwrite`` a version dir that records reference and the
        merge reads from (Spark's read/overwrite-conflict guard does not
        fire because the read roots are the ``pb=`` subdirs while the
        overwrite target is their parent). This is Delta's foreachBatch
        txn-version dedup posture. Consequence: a table's batch-id space
        must be monotonic — reprocessing a source from a FRESH checkpoint
        against an existing table dir reuses old labels; point it at a
        new table dir (or ``compact()`` first, which relabels the head)
        instead. :meth:`_check_identity` enforces that consequence before
        the no-op: a label collision from a different ``stream_id``
        raises, and a None-id handle colliding with an id-stamped record
        warns (raises under ``strict_identity``). Records or handles
        without an id keep the label-only check (ad-hoc batch use).
        """
        label = f"v{batch_id:020d}"
        parent_seq, manifest = self._head()  # fence token for _commit
        out = os.path.join(self.table_dir, label)
        # label-space high-water mark, NOT the head's own version: after a
        # sanctioned backwards reuse (the post-runbook wiped-checkpoint
        # path) the head label drops below retained labels, and gating on
        # it alone would re-open the dir-less-collision hole one level up
        head_space = manifest["max_label"] if manifest else None
        if self.fs.exists(out) or (
            head_space is not None and label <= head_space
        ):
            # The collision scan runs BEFORE any Spark job over the batch
            # (r16 review); the healthy new-batch path — label above the
            # high-water mark, no dir — pays only the exists probe. It
            # also runs when the dir is absent but the label sits inside
            # the committed batch-id space (r16 ADVICE #1): a retained
            # record can outlive its dir (an empty micro-batch's dir is in
            # no bucket map, so vacuum removes it while the record
            # survives), and gating on fs.exists alone would let a
            # colliding fresh checkpoint append a DUPLICATE-label record.
            # Fixed-width labels (v%020d, optional 'c' suffixes) compare
            # numerically under string order. Three cases: (1) a retained
            # record, the head included, commits the label — a replay of
            # a durable batch: no-op once the identity verdict passes;
            # (2) no record commits it but a bucket map still references
            # it — writing under it corrupts committed reads (raise);
            # (3) a true orphan from a writer that died before its commit
            # landed — overwrite IS the idempotent retry (stored rows keep
            # their _scn, so replayed older events never overwrite newer
            # state).
            owner = self._manifest(label)
            if owner is not None:
                self._check_identity(owner.get("stream_id"), label)
                return  # this batch's commit is already durable: no-op
            if label in self._referenced_dirs():
                raise RuntimeError(
                    f"version-dir collision on {self.table_dir}: writing "
                    f"batch {batch_id} would overwrite {label}, but a "
                    f"retained commit record's bucket map references it "
                    f"— a fresh checkpoint is reusing an existing "
                    f"table's batch-id space. Point the new stream at a "
                    f"new table dir, or compact() then vacuum(keep=1) "
                    f"first (re-roots every bucket under a fresh label "
                    f"and retires the old records)"
                )
        if manifest is not None:
            # ADVICE r12: this handle may predate a compact(n_buckets=...)
            # re-bucket by another handle — hashing with the stale count
            # would stamp a mixed-layout manifest (missed lookups,
            # duplicated keys on later merges). Adopt the committed
            # layout: everything below derives from self.n_buckets, so
            # adoption keeps hash, pruning, and the committed record
            # consistent — and a long-lived foreachBatch handle keeps
            # working across a maintenance re-bucket.
            self.n_buckets = manifest["n_buckets"]
        buckets = dict(manifest["buckets"]) if manifest else {}
        # the committed schema (raises on a record that lacks one before
        # any job runs); the read-back below uses it, so no read infers
        # a schema from footers
        stored = self._schema(manifest) if buckets else None
        batch = unwrapped.withColumn(_PB, self._bucket_col())
        touched = sorted(
            r[0] for r in batch.select(_PB).distinct().collect()
        )  # ≤ n_buckets scalars on the driver — bounded, not data-sized
        src = batch
        # One read per VERSION dir (partition discovery restores pb from
        # the _PB=k path segments), not one read+union per bucket: a
        # steady-state merge touches most buckets, and 16 separate parquet
        # reads union'd pairwise cost more in listing/footer/plan work
        # than the merge's actual dataflow (measured: the pre-populated
        # tail merge spent more time assembling the 16-way union than
        # compacting it).
        by_version: dict[str, list[int]] = {}
        for b in touched:
            rel = buckets.get(str(b))
            if rel is not None:
                by_version.setdefault(rel.rsplit(f"/{_PB}=", 1)[0], []).append(b)
        bases = []
        for version, bs in by_version.items():
            vdir = os.path.join(self.table_dir, version)
            df = (
                self.spark.read.option("basePath", vdir)
                .schema(StructType([*stored, StructField(_PB, LongType())]))
                .parquet(*[os.path.join(vdir, f"{_PB}={b}") for b in bs])
            )
            bases.append(df)
        if bases:
            base = bases[0]
            for extra in bases[1:]:
                base = base.union(extra)  # one stored schema: same columns
            # stored rows keep the _scn (and tombstones) they were
            # materialized at, so a replayed/late older event can never
            # overwrite newer state or resurrect a deleted key.
            src = base.unionByName(batch, allowMissingColumns=True)
        # bucket-aligned compaction: one exchange on the bucket id (vs the
        # per-key window exchange), output clustered+key-sorted so the
        # partitionBy write emits ONE key-ordered file per touched bucket
        # instead of tasks×buckets fragments — the read-back cost every
        # later micro-batch pays (envelope.compact_latest_clustered)
        new_state = compact_latest_clustered(
            src, self.key, F.col(_PB), len(touched)
        )
        new_state.write.partitionBy(_PB).mode("overwrite").parquet(out)
        for b in touched:
            buckets[str(b)] = f"{label}/{_PB}={b}"
        # the schema of the rows just written (known on the driver: no
        # job), plus any stored column this batch's rows lack — the
        # untouched buckets still carry it
        written = [f for f in new_state.schema if f.name != _PB]
        names = {f.name for f in written}
        if stored is not None:
            written += [f for f in stored if f.name not in names]
        self._commit(
            label,
            buckets,
            expect_parent=parent_seq,
            parent_manifest=manifest,
            schema=StructType(written),
        )

    def compact(
        self, target_partitions: int = 8, n_buckets: int | None = None
    ) -> None:
        """Major compaction: rewrite every bucket key-sorted, drop tombstones.

        Micro-batch MERGEs leave buckets fragmented across version dirs and
        unordered; the scheduled major compaction re-buckets, sorts each
        bucket by PK, and bounds file count so point lookups prune via
        bucket hash + per-file min/max stats and scans stay wide-split
        (SCALE.md §5). Tombstones older than the compaction are dropped
        here — the end of their retention window. Same put-if-absent
        commit as a merge — readers never see a half-written version. A merge
        that lands DURING the rewrite is detected at commit time (the
        ``expect_parent`` fence): committing a compaction derived from the
        pre-merge state would silently drop that merge's rows, so the
        compaction raises instead — re-run it; compaction is always safe
        to retry because it changes layout, never logical content.

        ``n_buckets`` RE-BUCKETS the table (the grown-table path: a table
        that outlived its initial bucket count gets a wider layout here,
        since every row is being rewritten anyway). The new count is
        committed in the record, so later reopens adopt it; the HANDLE's
        count is only updated after the commit succeeds — a fence failure
        (the raced-merge case) leaves the handle on the live layout, so a
        caller that catches the error and keeps merging stays correct
        instead of silently corrupting bucketing (ADVICE r12).
        """
        parent_seq, manifest = self._head()
        if manifest is None:
            return
        current = self.read(manifest["version"])  # tombstones filtered
        if current is None:
            return
        n = self.n_buckets if n_buckets is None else n_buckets
        label = f"{manifest['version']}c"  # e.g. v...042 -> v...042c
        out = os.path.join(self.table_dir, label)
        rows = current.withColumn("__deleted", F.lit(False))
        (
            rows.withColumn(_PB, self._bucket_col(n))
            .repartition(target_partitions, F.col(_PB))
            .sortWithinPartitions(_PB, self.key)
            .write.partitionBy(_PB)
            .mode("overwrite")
            .parquet(out)
        )
        buckets = {
            d.split("=", 1)[1]: f"{label}/{d}"
            for d in self.fs.list_names(out)
            if d.startswith(f"{_PB}=")
        }
        self._commit(
            label,
            buckets,
            expect_parent=parent_seq,
            n_buckets=n,
            parent_manifest=manifest,
            schema=rows.schema,
        )
        self.n_buckets = n  # only after a successful commit

    # -- micro-batch coalescing (spool) -------------------------------------
    # CDC_STEADY_r09 decomposition: each MERGE commit pays a ~1 s fixed
    # floor (16-bucket partitioned write + manifest commit) regardless of
    # batch size — ≥500k-event micro-batches amortize it (149.6k ev/s at
    # the 650k tail vs 46–51k at small batches). The spool turns that
    # production guidance into code: undersized micro-batches are staged
    # as parquet under ``_spool/`` (idempotent per-batch overwrite, so a
    # foreachBatch replay after failure rewrites the same path) and one
    # MERGE runs when the accumulated events cross ``min_batch_events``.
    # Crash safety: a batch is durable in the spool before its checkpoint
    # offset commits, and the eventual merge is the same idempotent
    # latest-SCN-wins MERGE — a crash between flush and spool-clear only
    # replays the merge. All spool bookkeeping routes through ``self.fs``
    # (the metadata seam, ``fs.py``): LocalFS for this build's local
    # tables, HadoopFS when the staging dir lives on shared storage — the
    # 100 TB deployment shape. The merge-cost shape is unchanged either
    # way: O(staged batch + touched buckets).
    _SPOOL = "_spool"
    _SPOOL_ID = "_stream_id"  # identity marker file inside the spool dir

    def _spool_dir(self) -> str:
        return os.path.join(self.table_dir, self._SPOOL)

    def _check_spool_identity(
        self, claim: bool, zero_event_delete: bool = False
    ) -> str | None:
        """The spool's stream identity (r17 review pass): staged batches
        OUTLIVE a wiped checkpoint, so a fresh incarnation's threshold
        flush would otherwise merge a previous incarnation's staged rows
        into its own batch — the same cross-stream blend the commit guard
        closes, one layer down (the commit guard can't see it: rows from
        both incarnations arrive in ONE merge under the new stream's
        batch id). The first id-carrying staging writes a ``_stream_id``
        marker beside the staged dirs (``claim=True``); every later
        staging or flush hands it to :meth:`_check_identity`, the verdict
        the merge's replay path gives a commit record: a foreign stream
        raises (clear the stale spool or point the new stream at a new
        table dir), and a None-id handle over an id-MARKED spool warns
        (raises under ``strict_identity``) — merging (or, on the
        zero-event path, deleting) another stream's claim cannot be
        verified as same-stream. The marker is deleted with the spool
        dir on every flush, so each coalescing window re-claims it.
        Returns the marker's value (None if absent).

        One mix only the spool has is loud the same way: an id-carrying
        handle over a MARKER-LESS spool that already holds staged batch
        dirs (r17 ADVICE #3 / r18 order #7). Those dirs were written
        before identity stamping or by an id-less incarnation, so
        adopting them merges unverified rows into this stream's batch
        under this stream's batch id. Pre-r17 legacy spools
        adopt-with-a-warning rather than silently; the warning fires
        exactly once per spool (staging immediately claims the marker,
        so later touches compare equal). An id-carrying handle claiming
        an EMPTY marker-less spool (the normal first staging of a
        coalescing window) stays silent — as does the zero-event DELETE
        path (``zero_event_delete=True``, r18 ADVICE #3): there the
        marker-less dirs are provably zero-row and about to be deleted,
        not merged, so no unverified rows can enter any batch and the
        adoption warning's merge language would misdescribe the action.
        """
        root = self._spool_dir()
        marker = os.path.join(root, self._SPOOL_ID)
        theirs = None
        if self.fs.exists(marker):
            try:
                theirs = self.fs.read_text(marker).strip() or None
            except OSError:
                # vanished between exists and read: a flush cleared the
                # spool concurrently. A FOREIGN flush would have raised
                # rather than cleared, so the deleter was this stream (or
                # an unmarked legacy spool's cleanup) — same meaning as
                # no marker. The commit log's _record tolerates the
                # identical listing-vs-vacuum race (ADVICE r13).
                theirs = None
        self._check_identity(theirs, None)
        if theirs is None and self.stream_id is not None:
            legacy = [
                d
                for d in self.fs.list_names(root)
                if d != self._SPOOL_ID and self.fs.is_dir(os.path.join(root, d))
            ]
            # r18 ADVICE #3: on the zero-event FLUSH path the marker-less
            # dirs are provably zero-row (spool_events()==0 counted their
            # footers) and are about to be DELETED, not merged — the
            # adoption warning's "merging them ... cannot be verified"
            # text would misdescribe the action, and there is no claim or
            # data to protect, so the unverifiable-adoption posture does
            # not apply here.
            if legacy and not zero_event_delete:
                self._unverifiable(
                    f"unverifiable spool adoption on {self.table_dir}: "
                    f"{len(legacy)} staged micro-batch dir(s) carry no "
                    f"stream identity (written before identity stamping, "
                    f"or by an id-less writer), but this handle is stream "
                    f"{self.stream_id!r} — merging them into this "
                    f"stream's batch cannot be verified as same-stream. "
                    f"Clear {self._spool_dir()} if the rows are "
                    f"superseded, or flush them with an id-less handle "
                    f"first.",
                    stacklevel=4,
                )
            if claim:
                self.fs.mkdirs(root)
                self.fs.write_text_atomic(marker, self.stream_id)
        return theirs

    def _spool_rows(self) -> dict[str, int]:
        """Per-batch-dir staged row counts: derived ONCE from footers (crash
        recovery / first touch), then maintained incrementally — ADVICE r10:
        rescanning every footer on every micro-batch was O(staged files)
        driver work that grew until flush.
        """
        cache = getattr(self, "_spool_rows_cache", None)
        if cache is None:
            cache = {}
            root = self._spool_dir()
            for d in self.fs.list_names(root):
                p = os.path.join(root, d)
                if self.fs.is_dir(p):
                    cache[d] = self.fs.parquet_rows(p)  # footers, no job
            self._spool_rows_cache = cache
        return cache

    def spool_batch(self, unwrapped: DataFrame, batch_id: int) -> None:
        """Stage one micro-batch's unwrapped rows durably, without merging."""
        self._check_spool_identity(claim=True)
        label = f"b{batch_id:012d}"
        out = os.path.join(self._spool_dir(), label)
        unwrapped.write.mode("overwrite").parquet(out)
        # keyed by dir name, so a foreachBatch REPLAY (same batch_id,
        # overwritten path) replaces the entry instead of double-counting
        self._spool_rows()[label] = self.fs.parquet_rows(out)

    def spool_events(self) -> int:
        """Accumulated staged events — incremental counter, zero jobs."""
        return sum(self._spool_rows().values())

    def flush_spool(self, batch_id: int | None = None) -> bool:
        """MERGE everything staged as ONE batch, then clear the spool.

        Returns True if a merge ran. ``batch_id`` defaults to the highest
        staged micro-batch's id, so an end-of-stream tail flush (see
        :func:`run_to_completion`) versions under the last batch it covers.

        The zero-events early return ALSO runs the identity check first
        (r17 ADVICE #2): the spool root can hold another stream's
        ``_stream_id`` marker and zero-ROW staged dirs, and deleting it
        unchecked would silently clear that stream's claim — a foreign-id
        handle raises, and a None-id handle over a marked spool warns and
        LEAVES the claimed (empty) spool in place instead of deleting it.
        An id-carrying handle over MARKER-LESS zero-row dirs deletes them
        silently (r18 ADVICE #3): no claim exists and no rows are merged
        or lost, so the unverifiable-adoption warning (whose text
        describes a merge) is suppressed on this path.
        """
        root = self._spool_dir()
        if self.spool_events() == 0:
            theirs = self._check_spool_identity(
                claim=False, zero_event_delete=True
            )
            if theirs is None or self.stream_id is not None:
                # a None-id handle (warned above) leaves another
                # stream's claim in place
                self.fs.delete(root)
            self._spool_rows_cache = {}
            return False
        self._check_spool_identity(claim=False)
        staged = [
            d
            for d in self.fs.list_names(root)
            if self.fs.is_dir(os.path.join(root, d))
        ]
        if batch_id is None:
            batch_id = max(int(d.lstrip("b")) for d in staged)
        df = self.spark.read.option("mergeSchema", "true").parquet(
            *(os.path.join(root, d) for d in staged)
        )
        self.merge_batch(df, batch_id)
        self.fs.delete(root)
        self._spool_rows_cache = {}
        return True

    def foreach_batch(self, min_batch_events: int = 0):
        """The per-batch sink step — unwrap, then merge or spool — and the
        only merge-or-spool rule: :func:`materialize_stream` hands it to
        ``foreachBatch`` directly, and every ``pipeline`` shape calls it
        per table from its own batch function.

        ``min_batch_events > 0`` coalesces undersized micro-batches: rows
        are spooled until the staged total reaches the threshold, then one
        MERGE publishes them all (amortizing the per-commit floor —
        CDC_STEADY_r09). 0 keeps the merge-every-batch behavior.
        """

        def fn(env_batch: DataFrame, batch_id: int) -> None:
            # per-batch: unwrap envelope rows, then keyed merge. Keeping the
            # state columns (_scn) in the table makes replay idempotent and
            # preserves the total order for the next merge.
            unwrapped = unwrap(env_batch, self.extra_cols)
            if min_batch_events <= 0:
                self.merge_batch(unwrapped, batch_id)
                return
            self.spool_batch(unwrapped, batch_id)
            if self.spool_events() >= min_batch_events:
                self.flush_spool(batch_id)

        return fn


def start_sink(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    tables: Iterable[ParquetUpsertTable],
    trigger_once: bool = True,
) -> StreamingQuery:
    """Start ``stream`` as a ``foreachBatch`` query whose ``batch_fn``
    writes into ``tables`` — the one place a sink query starts
    (:func:`materialize_stream` and every ``pipeline`` shape).

    ``checkpointLocation`` provides the OLR-checkpoint-equivalent resume
    contract: offsets of consumed source files + commit log of completed
    batches (R15). ``trigger_once`` drains what is available and stops
    (``availableNow``).

    Every table handle with no ``stream_id`` adopts the checkpoint path as
    its replay identity (r15 ADVICE): stable across restarts from the same
    checkpoint, distinct for a fresh checkpoint elsewhere — so a fresh
    stream reprocessing into an existing table dir raises on a batch-id
    label collision instead of silently dropping the batch. The path is
    canonicalized by :func:`_canon_ckpt_path` (r16 ADVICE: scheme-less
    paths through ``os.path.abspath`` so ``ckpt/x``, ``./ckpt//x`` and
    ``/cwd/ckpt/x`` all read as ONE stream; URI paths keep their
    spelling apart from trailing-separator stripping, since normpath
    would mangle ``hdfs://`` authorities), and the collision comparison
    re-canonicalizes BOTH sides so records stamped verbatim by older
    releases stay equal to the canonical form. A relative checkpoint
    path resolves against the driver's cwd — spell it absolutely in
    anything restarted from a different directory. Limits, same as
    Delta's ``txnAppId``: a
    checkpoint WIPED and recreated at the same path carries the same
    identity, so its batch-0 collision still reads as a replay — the
    version-dir guard in :meth:`ParquetUpsertTable.merge_batch` catches
    the destructive cases, and callers needing strict identity pass an
    explicit per-run ``stream_id`` (e.g. the StreamingQuery's
    ``query.id``). An id AUTO-derived by a previous call is re-derived
    for this run's checkpoint (not reused), so one handle driven through
    two checkpoints never stamps the first stream's identity on the
    second.
    """
    auto_id = f"ckpt:{_canon_ckpt_path(checkpoint_dir)}"
    for table in tables:
        if table.stream_id is None or getattr(table, "_auto_stream_id", False):
            table.stream_id = auto_id
            table._auto_stream_id = True
    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def materialize_stream(
    env_stream: DataFrame,
    table: ParquetUpsertTable,
    checkpoint_dir: str,
    trigger_once: bool = True,
    min_batch_events: int = 0,
) -> StreamingQuery:
    """Run the envelope stream into the upsert table (S1/S7) through
    :func:`start_sink` (resume contract and replay identity are described
    there). ``min_batch_events`` (CDC_STEADY_r09): coalesce undersized
    micro-batches in the spool and MERGE once the staged total crosses
    the threshold — call :func:`run_to_completion` (or
    ``table.flush_spool(...)``) after the stream terminates to publish a
    sub-threshold tail.
    """
    return start_sink(
        env_stream,
        table.foreach_batch(min_batch_events),
        checkpoint_dir,
        [table],
        trigger_once,
    )


def run_to_completion(
    query: StreamingQuery,
    *tables: ParquetUpsertTable,
    timeout_sec: float | None = None,
) -> bool:
    """Await stream termination, then publish every table's sub-threshold
    spool tail (one table, or each sink of a fan-out query).

    The companion to ``min_batch_events`` (ADVICE r10): without it, a
    bounded run whose total events fall below the threshold commits its
    checkpoint offsets while the rows sit durably-but-unpublished in the
    spool. Returns True if any tail merge ran. Safe when no spool is in
    play (flush of an empty spool is a no-op).

    When ``timeout_sec`` expires with the query still running (wedged or
    merely slow), the query is STOPPED before any spool is touched —
    flushing concurrently with an active stream could delete a batch the
    stream stages after the flush's listing, losing its checkpointed
    events permanently. Stop-then-flush keeps the invariant: a batch is
    either merged by this flush or its offsets never committed (so a
    restart replays it into the spool).
    """
    if timeout_sec is None:
        query.awaitTermination()
    elif not query.awaitTermination(timeout_sec):
        query.stop()
        query.awaitTermination()  # stop() is async; wait until no batch runs
    flushed = False
    for table in tables:
        flushed = table.flush_spool() or flushed
    return flushed
