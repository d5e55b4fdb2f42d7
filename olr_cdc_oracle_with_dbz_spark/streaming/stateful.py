"""Custom stateful streaming operator: transaction assembly (reference R18).

OpenLogReplicator groups change events by transaction and delivers them
commit-ordered (``message: 2`` grouping + ``xid: 1`` flags,
/root/reference/scripts/OpenLogReplicator.json:20,26); Debezium carries the
transaction id on every event. The engine re-creates "transaction view"
semantics as an arbitrary-stateful Structured Streaming operator:
``applyInPandasWithState`` keyed on ``_txid``, accumulating per-transaction
statistics across micro-batches in the state store.

This is the template for any custom per-key stateful operator Spark lacks
natively (the SURVEY §2A R19 bounded-buffer concern maps to the state store:
per-key state is a fixed-size summary — counts and SCN bounds, never the
raw events — so state size is O(tracked transactions), and the RocksDB
provider spills it off-heap at scale). PER-KEY state is small, but the KEY
COUNT is only bounded when idle summaries are evicted: transactions are
commit-grouped by the capture chain, so a txid that stops receiving events
is complete, yet ``NoTimeout`` state would keep its summary forever — on a
continuous CDC feed that is O(all transactions ever), not O(open). Pass
``idle_timeout_ms`` to evict a transaction's summary after it has been
idle that long (processing-time timeout, the r19 review pass); the default
keeps the legacy keep-everything behavior for bounded replays/tests.

Output mode is ``update``: each micro-batch emits the current assembly for
transactions that received events, so downstream sees transaction progress;
state survives restarts via the checkpoint (tested by feeding batches
through two separate queries over one checkpoint).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: per-transaction summary carried in the state store
_STATE_SCHEMA = "n_events int, scn_lo long, scn_hi long, n_ins int, n_upd int, n_del int"
_OUTPUT_SCHEMA = (
    "txid string, n_events int, scn_lo long, scn_hi long, "
    "n_ins int, n_upd int, n_del int"
)


def _assemble_fn(
    idle_timeout_ms: int | None,
) -> Callable[[tuple, Iterable[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """Build the per-key update function, closing over the eviction policy."""

    def _assemble(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if idle_timeout_ms is not None and state.hasTimedOut:
            # the transaction went idle past the timeout: it is complete
            # (the capture chain delivers commit-grouped), so its summary
            # leaves the store — this is what bounds the key count. Its
            # final assembly was already emitted by the batch that last
            # touched it, so the timeout callback emits nothing.
            state.remove()
            return
        (txid,) = key
        if state.exists:
            n, lo, hi, ni, nu, nd = state.get
        else:
            n, lo, hi, ni, nu, nd = 0, None, None, 0, 0, 0
        for pdf in pdfs:
            n += len(pdf)
            # an envelope whose wire JSON omitted source.scn parses to a null
            # _scn; pandas min()/max() over all-NaN yields NaN and int(NaN)
            # would kill the whole streaming query (r15 code-review). Such
            # rows still count toward n/op totals; they just carry no SCN
            # position, so they don't move the range.
            scn = pd.to_numeric(pdf["_scn"], errors="coerce").dropna()
            if len(scn):
                b_lo, b_hi = int(scn.min()), int(scn.max())
                lo = b_lo if lo is None else min(lo, b_lo)
                hi = b_hi if hi is None else max(hi, b_hi)
            ops = pdf["op"].value_counts()
            ni += int(ops.get("c", 0)) + int(ops.get("r", 0))
            nu += int(ops.get("u", 0))
            nd += int(ops.get("d", 0))
        state.update((n, lo, hi, ni, nu, nd))
        if idle_timeout_ms is not None:
            # the idle clock restarts on every touch — eviction fires only
            # after a full quiet period, never mid-transaction
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [(txid, n, lo, hi, ni, nu, nd)],
            columns=["txid", "n_events", "scn_lo", "scn_hi", "n_ins", "n_upd", "n_del"],
        )

    return _assemble


def assemble_transactions(
    env_stream: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Per-transaction running assembly over the envelope stream.

    Each emitted row is the cumulative (events, SCN range, op counts) for a
    ``_txid`` — per-key state persisted in the streaming state store and
    updated incrementally per micro-batch.

    ``idle_timeout_ms``: evict a transaction's summary after it has gone
    that long without events (processing-time timeout). REQUIRED for
    unbounded production feeds — without it every txid ever seen keeps a
    state row forever; leave ``None`` only for bounded replays where the
    full transaction ledger is the point.
    """
    return (
        env_stream.select("_txid", "_scn", "op")
        .groupBy("_txid")
        .applyInPandasWithState(
            _assemble_fn(idle_timeout_ms),
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if idle_timeout_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )
