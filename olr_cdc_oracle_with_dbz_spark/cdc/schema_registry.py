"""Versioned schema registry (reference R16 / Schema Registry semantics).

The reference pins envelope decode to a schema version: OLR checkpoints a
dictionary-snapshot SCN (``schema-ref-scn``,
/root/reference/olr-checkpoint/ORACLE-chkpt-2156848.json:11) and Kafka
value schemas are centrally registered + versioned per topic
(/root/reference/docker-compose-main.yml:97-119). The engine's equivalent:
a per-table store of versioned Spark DDL schemas with an unambiguous
current version — streaming ingest decodes with the pinned version; additive
evolution registers version N+1 and re-parses (old events yield NULL for
new fields, exactly Debezium/JDBC-sink ``auto.evolve``).

Storage is a directory of IMMUTABLE ``v<N>.ddl`` files, each published
with ``fs.create_exclusive`` (put-if-absent); "current" is the highest
registered N — the same append-only commit-log discipline as the
materialized table (r13: no pointer file, no rename, so registration is
correct on object stores without atomic rename, and two concurrent
registrants of version N race on one atomic create instead of
last-writer-wins). On a cluster this lives beside the table on shared
storage, so all file bookkeeping routes through the same filesystem seam
(``fs.py``) as the sink: ``SchemaRegistry(root, subject,
fs=HadoopFS(spark))`` versions schemas on hdfs:// / s3a:// exactly as
locally.

TORN-RECORD posture (r19, the r18 review pass's one soft spot): on
stores where ``create_exclusive`` degrades to a client-enforced fence, a
writer dying mid-upload can leave a TRUNCATED ``v<N>.ddl`` visible. The
commit log detects its torn records by JSON parse failure — but a torn
DDL can truncate at a top-level comma and still be VALID DDL, silently
dropping the appended columns of an evolution, so parse failure cannot
be the detector here. Records are therefore self-verifying: every
registration publishes ``#sha256:<digest>`` on line one and the DDL
below it (:func:`_seal`), and every read verifies (:func:`_unseal`).
A record without a valid header reads as torn. A torn record behaves
like the commit log's torn head: reads RAISE loudly (no silent fallback
to the pre-evolution schema, which would null evolved columns out of
every event) while
:meth:`SchemaRegistry.register` skips it for idempotency matching and
supersedes it at the next number — so the torn writer's own restart
re-registers its schema and heals the registry without manual recovery.
"""

from __future__ import annotations

import hashlib
import os
import re

#: Line-one header of a sealed (self-verifying) record. Every record MUST
#: carry a valid matching header — a torn prefix of a sealed record
#: ("#sha2", or header + partial body) can never pass.
_SEAL = "#sha256:"


def _seal(ddl: str) -> str:
    digest = hashlib.sha256(ddl.encode("utf-8")).hexdigest()
    return f"{_SEAL}{digest}\n{ddl}"


def _unseal(raw: str) -> str | None:
    """DDL payload of a record, or None for a TORN record: a missing
    newline, malformed header, or digest mismatch — every possible
    truncation of a sealed record — reads as torn.
    """
    head, sep, body = raw.partition("\n")
    if not sep or not head.startswith(_SEAL):
        return None
    if hashlib.sha256(body.encode("utf-8")).hexdigest() != head[len(_SEAL):].strip():
        return None
    return body


class SchemaRegistry:
    """Versioned DDL schema store for one subject (table/topic)."""

    def __init__(self, root: str, subject: str, fs=None):
        from olr_cdc_oracle_with_dbz_spark.fs import LocalFS

        self.dir = os.path.join(root, subject)
        self.fs = fs if fs is not None else LocalFS()
        self.fs.mkdirs(self.dir)

    def register(self, ddl: str) -> int:
        """Register a new schema version; returns its version number.

        Idempotent against EVERY registered version, not just the newest
        (Confluent registry semantics): a restarted OLD connector
        re-registering a superseded schema gets that schema's existing
        version back — minting a new highest version for it would roll
        ``current()`` back to the un-evolved schema and the next pipeline
        start would silently null the evolved columns out of every event
        (r15 code-review). A lost put-if-absent race re-checks the
        winner's content — two restarting connectors registering the SAME
        evolution converge on one version; a different schema takes the
        next number.
        """
        text = ddl.strip()
        versions = self.versions()
        for v in reversed(versions):
            # torn records (None) can never match — a truncated upload is
            # not this schema, whatever it was meant to be
            if self._try_get(v) == text:
                return v
        version = (versions[-1] if versions else 0) + 1
        while not self.fs.create_exclusive(
            os.path.join(self.dir, f"v{version}.ddl"), _seal(text)
        ):
            if self._try_get(version) == text:
                return version  # concurrent registrant of the same schema
            # occupied by a different schema OR a torn record: take the
            # next number. Superseding a torn record is safe here — its
            # create is single-shot (already final), and this is exactly
            # how the dead writer's own restart heals the registry.
            version += 1
        return version

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _try_get(self, version: int) -> str | None:
        """DDL of ``version``; None when the record is torn OR was removed
        between the listing and this read (same normalization as the
        commit log's ``_record``)."""
        try:
            raw = self.fs.read_text(os.path.join(self.dir, f"v{version}.ddl"))
        except OSError:
            return None
        return _unseal(raw)

    def get(self, version: int) -> str:
        raw = self.fs.read_text(os.path.join(self.dir, f"v{version}.ddl"))
        ddl = _unseal(raw)
        if ddl is None:
            path = os.path.join(self.dir, f"v{version}.ddl")
            raise RuntimeError(
                f"schema version {version} under {self.dir} is a torn "
                f"record (a registrant died mid-upload on a store where "
                f"put-if-absent degrades to a client-enforced fence); "
                f"refusing to decode with it or silently fall back to the "
                f"pre-evolution schema. Recover by re-registering the "
                f"intended schema (it takes the next version and "
                f"supersedes this one) or, after verifying the writer is "
                f"dead, deleting {path}."
            )
        return ddl

    def current(self) -> str:
        v = self.current_version()
        if v is None:
            raise LookupError(f"no schema registered under {self.dir}")
        return self.get(v)

    def versions(self) -> list[int]:
        out = []
        for name in self.fs.list_names(self.dir):
            m = re.fullmatch(r"v(\d+)\.ddl", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def is_additive(self, old_version: int, new_version: int) -> bool:
        """True iff the new schema only APPENDS fields, at any nesting
        level (auto.evolve-compatible: old events re-parse under the new
        schema with NULL for the appended fields)."""
        return _is_additive_ddl(self.get(old_version), self.get(new_version))


def _split_fields(ddl: str) -> list[str]:
    """Split a DDL field list on top-level commas — aware of BOTH angle
    brackets (struct/array/map) and parentheses (``decimal(10,2)``,
    ``varchar(64)``): the engine's own envelope casts price to
    decimal(10,2), so parenthesized precision commas are squarely
    in-domain (r15 code-review)."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _field_parts(field: str) -> tuple[str, str]:
    """('name', 'type') from 'name type' or 'name:type' (struct-inner form)."""
    norm = " ".join(field.split())
    if ":" in norm.split("<", 1)[0]:
        name, typ = norm.split(":", 1)
    else:
        name, typ = norm.split(" ", 1)
    return name.strip(), typ.strip()


def _is_additive_ddl(old: str, new: str) -> bool:
    old_fields = _split_fields(old.strip())
    new_fields = _split_fields(new.strip())
    if len(new_fields) < len(old_fields):
        return False
    for of, nf in zip(old_fields, new_fields):
        oname, otyp = _field_parts(of)
        nname, ntyp = _field_parts(nf)
        if oname != nname:
            return False
        o_struct = otyp.startswith("struct<") and otyp.endswith(">")
        n_struct = ntyp.startswith("struct<") and ntyp.endswith(">")
        if o_struct and n_struct:
            if not _is_additive_ddl(otyp[7:-1], ntyp[7:-1]):
                return False
        elif otyp != ntyp:
            return False
    return True
