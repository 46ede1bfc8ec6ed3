"""Structured Streaming variant of the pipeline (SURVEY §2.9, S1 streaming
mode) — the FIFO-tail deployment of the reference (`fopen` loop over a
named pipe, /root/reference/src/sagan.c:1142-1345) re-expressed as:

    readStream (file source over the transcripts directory)
      → PARSE / IGNORE     (same narrow codegen expressions as batch)
      → MATCH              (same stateless vectorized mapInPandas matcher)
      → CORRELATE          (applyInPandasWithState grouped by a hash
                            bucket of the batch engine's state-group key;
                            each key keeps its own four stores,
                            JSON-encoded in its bucket's GroupState.  Store
                            ENTRIES evict by EVENT time (_make_pruner —
                            the Clean_IPC_Object analog,
                            src/ipc.c:79-200); processing-time eviction
                            only drops whole keys, so a stalled or
                            backfilled source cannot lose event-time-live
                            entries unless the key itself goes wall-clock
                            silent)

The result is the correlated stream (CORR_SCHEMA).  Routing is the
caller's: write the stream to any streaming sink and apply the batch
sink builders (route.alert_sink, eve_alert_sink, sink_counts) to what it
wrote.

Watermark note: the reference has NO event-time semantics — correlation
windows use wall-clock arrival (after.c:63-80).  The batch engine made
that deterministic via (epoch, turn_idx) ordering; streaming preserves
arrival-order semantics per micro-batch by sorting each key's rows on
(epoch, conv_id, turn_idx, rule_idx) before folding, so replaying the
same file sequence reproduces the batch result (tested in
tests/test_streaming.py).

Key routing is the batch engine's: correlate.state_key_cols plans one
state-group key per matched row (conv_id for conv-derived clusters, the
row's store key where every row touches one store, one group per cluster
otherwise), so batch and streaming cannot diverge on which rows share
state.  The stream is grouped by ``pmod(xxhash64(key), N_BUCKETS)`` and
ONE applyInPandasWithState call per bucket and micro-batch folds every
key present: the bucket's rows are sorted by (key, engine order), split on
key boundaries, and each slice runs the batch engine's unified_fold
against that key's own CorrState.  The fixed Python cost of a call (Arrow
conversion, concat, sort, output batches) is paid once per bucket instead
of once per key.  Only the keys present in a micro-batch are decoded and
re-encoded; the others ride along as stored strings.

Exactness bound, per state key (the one the pruner assumes): store
eviction is exact while event-time disorder stays within ONE horizon (the
largest rule window) of the max epoch that KEY has ever seen — each key's
max is persisted in its own entry of the bucket state, so the bound spans
micro-batches and one key's epochs never prune or age another key in the
same bucket.  A source backfilling OLDER than that may consult
already-pruned entries; such rows are counted per key in the
``late_rows`` accumulator (streaming_alerts attaches one; see its
docstring) so silent state loss is observable.

Processing-time eviction is per key too: each entry carries the
processing time of the last micro-batch that brought its key rows, and a
key silent for longer than the state timeout is dropped on its bucket's
next call.  The bucket's own ProcessingTimeTimeout, re-armed on every
data call, removes the whole state once every key in it is silent.

N_BUCKETS is a module constant, not derived from
``spark.sql.shuffle.partitions``: the bucket count is baked into the plan
as a literal while the checkpoint restores state under the old count, so
a conf-derived count would re-route keys away from their state when a
stream restarts with another shuffle-partition setting.  Changing
N_BUCKETS therefore invalidates existing checkpoints.  It also caps the
stateful operator's parallelism at N_BUCKETS tasks, which on hosts with
at most 8 cores equals the session's shuffle-partition count
(session.get_spark).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
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

# bucket count of the stateful operator; fixed, because a checkpoint's
# state is routed by it (module docstring)
N_BUCKETS = 8

# GroupState layout, one row per bucket: its state keys, each key's
# _encode_state JSON (four stores + max epoch) and the processing time (ms)
# of the key's last rows, as parallel arrays
STATE_SCHEMA = "keys array<string>, blobs array<string>, seen array<bigint>"


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
    (src/ipc.c:79-200).  Without a timeout, the per-key entries of the
    bucket states would grow unboundedly across the conv_id keyspace in
    a long-running stream."""
    return 2 * _horizon_s(ruleset) * 1000


def _make_pruner(ruleset: RuleSet):
    """Event-time state eviction (the Clean_IPC_Object analog,
    src/ipc.c:79-200, driven by EVENT epochs instead of wall clock):
    drops store entries whose liveness window ended more than one full
    horizon before the max event epoch seen by this state key — exact
    under event-time disorder bounded by the horizon (one largest-window's
    worth of backfill), and the real per-key state-size bound; the
    processing-time timeout then only evicts whole keys.

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


def _fold_spans(fold):
    """unified_fold over a frame sorted by state key: ``spans`` lists
    each key's (start, stop, CorrState), and every slice folds against
    its own key's stores."""
    def fold_spans(pdf: pd.DataFrame, spans):
        out = ([], [], [], [])
        for a, b, st in spans:
            for acc, part in zip(out, fold(pdf.iloc[a:b], st)):
                acc.extend(part)
        return out

    return fold_spans


def _bucket_correlator(ruleset: RuleSet, timeout_ms: int = 0,
                       late_rows=None):
    """applyInPandasWithState function, one call per bucket and
    micro-batch.  The bucket state holds one entry per state key (its
    stores and max epoch as _encode_state JSON, and the processing time
    of its last rows).  A data call first drops the keys silent for
    longer than ``timeout_ms``, then concatenates and sorts the bucket's
    rows ONCE by (key, engine order) and folds each key's slice through
    the same unified engine-order fold as batch with that key's stores.
    Each present key is then pruned by EVENT time (_make_pruner) against
    the max epoch that key has EVER seen; its rows older than one horizon
    behind that anchor may consult already-pruned entries and are
    tallied into the ``late_rows`` accumulator."""
    fold_spans = _fold_spans(unified_fold(ruleset))
    prune = _make_pruner(ruleset)
    horizon = _horizon_s(ruleset)

    def fn(bucket, pdfs: Iterator[pd.DataFrame],
           state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:          # every key in the bucket is silent
            state.remove()
            return
        now = state.getCurrentProcessingTimeMs()
        stored = zip(*state.get) if state.exists else ()
        entries = {k: (blob, seen) for k, blob, seen in stored
                   if not timeout_ms or now - seen <= timeout_ms}
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   .drop(columns=["_bucket"])
                   .sort_values(["_key"] + _SORT).reset_index(drop=True))
            keys = pdf.pop("_key").to_numpy()
            epochs = pdf["epoch"].to_numpy()
            cuts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1),
                    len(keys)]
            spans, anchors, late = [], [], 0
            for a, b in zip(cuts[:-1], cuts[1:]):
                k = keys[a]
                st, max_epoch = (_decode_state(entries[k][0])
                                 if k in entries else (CorrState(), 0))
                if max_epoch:
                    late += int((epochs[a:b] < max_epoch - horizon).sum())
                spans.append((a, b, st))
                # epoch leads the sort within a key: its last row is its max
                anchors.append((k, max(max_epoch, int(epochs[b - 1]))))
            if late_rows is not None and late:
                late_rows.add(late)
            yield from apply_fold_to_batches(fold_spans, spans, [pdf])
            for (_, _, st), (k, max_epoch) in zip(spans, anchors):
                prune(st, max_epoch)
                entries[k] = (_encode_state(st, max_epoch), now)
        state.update((list(entries),
                      [blob for blob, _ in entries.values()],
                      [seen for _, seen in entries.values()]))
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
    epoch < their key's persisted max epoch - horizon (the bound under
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
    from pyspark.sql import functions as F

    key, _ = state_key_cols(ruleset)
    return (base.withColumn("_key", key)
            .withColumn("_bucket", F.pmod(F.xxhash64("_key"),
                                          F.lit(N_BUCKETS)))
            .groupBy("_bucket")
            .applyInPandasWithState(
                _bucket_correlator(ruleset, state_timeout_ms, late_rows),
                outputStructType=CORR_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=("ProcessingTimeTimeout" if state_timeout_ms
                             else "NoTimeout")))

