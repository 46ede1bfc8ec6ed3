"""Structured Streaming variant of the pipeline (SURVEY §2.9, S1 streaming
mode) — the FIFO-tail deployment of the reference (`fopen` loop over a
named pipe, /root/reference/src/sagan.c:1142-1345) re-expressed as:

    readStream (file source over the transcripts directory)
      → PARSE / IGNORE     (same narrow codegen expressions as batch)
      → MATCH              (same stateless vectorized mapInPandas matcher)
      → CORRELATE          (applyInPandasWithState keyed by the batch
                            engine's state-group key; state = the four
                            stores, JSON-encoded in the GroupState.  Store
                            ENTRIES evict by EVENT time (_make_pruner —
                            the Clean_IPC_Object analog,
                            src/ipc.c:79-200); the processing-time timeout
                            only GCs whole groups, so a stalled or
                            backfilled source cannot lose event-time-live
                            entries unless the group itself goes
                            wall-clock silent)

The result is the correlated stream (CORR_SCHEMA).  Routing is the
caller's: write the stream to any streaming sink and apply the batch
sink builders (route.alert_sink, eve_alert_sink, sink_counts) to what it
wrote.

Watermark note: the reference has NO event-time semantics — correlation
windows use wall-clock arrival (after.c:63-80).  The batch engine made
that deterministic via (epoch, turn_idx) ordering; streaming preserves
arrival-order semantics per micro-batch by sorting each group's rows on
(epoch, turn_idx, rule_idx) before folding, so replaying the same file
sequence reproduces the batch result (tested in
tests/test_streaming.py).

Key routing is the batch engine's: correlate.state_key_cols plans one
state-group key per matched row (conv_id for conv-derived clusters, the
row's store key where every row touches one store, one group per cluster
otherwise), and ONE applyInPandasWithState grouped by that key runs the
same unified engine-order fold as batch.  Batch and streaming therefore
cannot diverge on which rows share state.

Event-time bound (the one the pruner assumes): store eviction is exact
while event-time disorder stays within ONE horizon (the largest rule
window) of the max epoch each state group has ever seen — the max is
persisted in the GroupState, so the bound spans micro-batches.  A source
backfilling OLDER than that may consult already-pruned entries; such rows
are counted in the ``late_rows`` accumulator (streaming_alerts attaches
one; see its docstring) so silent state loss is observable.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from .correlate import (
    CORR_SCHEMA,
    CorrState,
    FlexStore,
    _SORT,
    apply_fold_to_batches,
    state_key_cols,
    unified_fold,
    with_default_flags,
)
from .datagen import TRANSCRIPTS_SCHEMA
from .dynamic import require_no_dynamic
from .match import run_match
from .parse import parse_transcripts, split_ignored
from .rules.compiler import RuleSet

# GroupState layout: one JSON blob (the four stores, key-stringified)
STATE_SCHEMA = "state string"


def _encode_state(st: CorrState, max_epoch: int = 0) -> str:
    return json.dumps({
        "a": [[list(k), v] for k, v in st.after.items()],
        "t": [[list(k), v] for k, v in st.thresh.items()],
        "x": [[list(k), v] for k, v in st.xbit.items()],
        "f": st.flex.dump(),
        "m": max_epoch,   # max event epoch ever seen (pruner anchor)
    })


def _decode_state(blob: str) -> tuple[CorrState, int]:
    d = json.loads(blob)
    st = CorrState()
    st.after = {tuple(k): v for k, v in d.get("a", [])}
    st.thresh = {tuple(k): v for k, v in d.get("t", [])}
    st.xbit = {tuple(k): v for k, v in d.get("x", [])}
    st.flex = FlexStore.load(d.get("f", []))
    return st, int(d.get("m", 0))


def _horizon_s(ruleset: RuleSet) -> int:
    """The largest rule window in seconds (after/threshold seconds,
    xbit/flexbit expire); 1800 when the ruleset has none."""
    horizon = 0
    for r in ruleset.rules:
        if r.after:
            horizon = max(horizon, r.after.seconds)
        if r.threshold:
            horizon = max(horizon, r.threshold.seconds)
        for xb in r.xbits:
            horizon = max(horizon, xb.expire)
        for fb in r.flexbits:
            horizon = max(horizon, fb.timeout)
    return horizon or 1800


def default_state_timeout_ms(ruleset: RuleSet) -> int:
    """Eviction default: 2× the largest rule window — the streaming analog
    of the reference's Clean_IPC_Object stale-entry eviction
    (src/ipc.c:79-200).  Without a timeout, per-conv GroupState would grow
    unboundedly across the conv_id keyspace in a long-running stream."""
    return 2 * _horizon_s(ruleset) * 1000


def _make_pruner(ruleset: RuleSet):
    """Event-time state eviction (the Clean_IPC_Object analog,
    src/ipc.c:79-200, driven by EVENT epochs instead of wall clock):
    drops store entries whose liveness window ended more than one full
    horizon before the max event epoch seen by this group — exact under
    event-time disorder bounded by the horizon (one largest-window's
    worth of backfill), and the real per-group state-size bound; the
    processing-time GroupState timeout then only GCs groups wholesale.

    Flexbit entries are pruned ONLY when the ruleset has no `count`
    clause: count is expiry-agnostic (flexbit-mmap.c:683-744 checks
    neither state nor expiry) and counts entry CREATIONS, so dropping an
    expired entry that a later `set` would have merely updated would
    double-count it."""
    horizon = _horizon_s(ruleset)
    after_w = {(r.sid, r.rev): r.after.seconds
               for r in ruleset.rules if r.after}
    thresh_w = {r.sid: r.threshold.seconds
                for r in ruleset.rules if r.threshold}
    flex_ok = not any(fb.action == "count"
                      for r in ruleset.rules for fb in r.flexbits)

    def prune(st: CorrState, max_epoch: int) -> None:
        cut = max_epoch - horizon
        st.after = {k: v for k, v in st.after.items()
                    if v[1] + after_w.get((k[0], k[1]), 0) >= cut}
        st.thresh = {k: v for k, v in st.thresh.items()
                     if v[1] + thresh_w.get(k[0], 0) >= cut}
        st.xbit = {k: exp for k, exp in st.xbit.items() if exp >= cut}
        if flex_ok:
            keep = [(name, e) for name, e in st.flex.dump() if e[4] >= cut]
            st.flex = FlexStore.load(keep)

    return prune


def _group_correlator(ruleset: RuleSet, timeout_ms: int = 0,
                      late_rows=None):
    """applyInPandasWithState function, one call per state group and
    micro-batch: the group's rows are concatenated and sorted ONCE (the
    global sort keeps cross-chunk order exact), then folded through the
    same unified engine-order fold as batch, with the stores persisted in
    the GroupState across micro-batches.  Store entries are evicted by
    EVENT time via _make_pruner on every invocation, anchored to the max
    epoch the group has EVER seen (persisted in the state blob) — rows
    older than one horizon behind that anchor may consult already-pruned
    entries and are tallied into the ``late_rows`` accumulator."""
    fold = unified_fold(ruleset)
    prune = _make_pruner(ruleset)
    horizon = _horizon_s(ruleset)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        st, max_epoch = (_decode_state(state.get[0]) if state.exists
                         else (CorrState(), 0))
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   .drop(columns=["_key"])
                   .sort_values(_SORT).reset_index(drop=True))
            if late_rows is not None and max_epoch:
                late = int((pdf["epoch"] < max_epoch - horizon).sum())
                if late:
                    late_rows.add(late)
            max_epoch = max(max_epoch, int(pdf["epoch"].max()))
            yield from apply_fold_to_batches(fold, st, [pdf])
        if max_epoch:
            prune(st, max_epoch)
        state.update((_encode_state(st, max_epoch),))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)

    return fn


def read_transcript_stream(spark, path: str, max_files: int = 10):
    """File-source stream over a transcripts parquet directory — the
    FIFO-tail analog (new files == new log lines)."""
    return (spark.readStream
            .schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(path))


def streaming_alerts(spark, transcripts_stream, ruleset: RuleSet,
                     state_timeout_ms: int | None = None,
                     late_rows=None):
    """transcripts stream → correlated stream (CORR_SCHEMA; the rows that
    pass the gates and survive suppression are the emit set — routing
    and enrichment are the caller's).  Rulesets with ``dynamic_load``
    rules are refused (``dynamic.require_no_dynamic``).

    ``state_timeout_ms=None`` (default) derives the eviction timeout from
    the ruleset's largest window (default_state_timeout_ms); pass 0 to
    explicitly opt out of eviction.

    ``late_rows``: optional Spark accumulator; rows arriving with
    epoch < a group's persisted max epoch - horizon (the bound under
    which event-time eviction is exact) are tallied into it, so backfill
    deeper than one horizon is observable instead of silently consulting
    pruned state.  Pass ``spark.sparkContext.accumulator(0)``."""
    require_no_dynamic(ruleset)
    if state_timeout_ms is None:
        state_timeout_ms = default_state_timeout_ms(ruleset)
    parsed = parse_transcripts(transcripts_stream)
    kept, _ = split_ignored(parsed, ruleset.ignore_list)
    base, stateful = with_default_flags(run_match(kept, ruleset), ruleset)
    if not stateful:
        return base
    key, _ = state_key_cols(ruleset)
    return (base.withColumn("_key", key)
            .groupBy("_key")
            .applyInPandasWithState(
                _group_correlator(ruleset, state_timeout_ms, late_rows),
                outputStructType=CORR_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=("ProcessingTimeTimeout" if state_timeout_ms
                             else "NoTimeout")))

