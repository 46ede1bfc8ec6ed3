"""Streaming variant: replaying the transcript files through the
Structured Streaming pipeline must reproduce the batch engine's emitted
set (same rows, same suppression decisions), including when the input
arrives split across multiple micro-batches with state carried in the
GroupState between them."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sagan_spark.correlate import run_correlate
from sagan_spark.datagen import gen_rows
from sagan_spark.match import run_match
from sagan_spark.parse import parse_transcripts, split_ignored
from sagan_spark.rules.compiler import compile_ruleset_from_dir
from sagan_spark.streaming import read_transcript_stream, streaming_alerts

EMIT_COLS = ["conv_id", "turn_idx", "sid", "suppress_after",
             "suppress_thresh", "xbit_pass", "flexbit_pass"]


@pytest.fixture(scope="module")
def ruleset():
    return compile_ruleset_from_dir(
        os.path.join(os.path.dirname(__file__), "..", "rules-entry"))


def _batch_result(spark, rows, ruleset) -> pd.DataFrame:
    df = spark.createDataFrame(pd.DataFrame(rows))
    parsed = parse_transcripts(df)
    kept, _ = split_ignored(parsed, ruleset.ignore_list)
    corr = run_correlate(run_match(kept, ruleset), ruleset)
    return (corr.select(*EMIT_COLS).toPandas()
            .sort_values(EMIT_COLS).reset_index(drop=True))


def _stream_result(spark, in_dir, ruleset, max_files) -> pd.DataFrame:
    stream = read_transcript_stream(spark, in_dir, max_files=max_files)
    # state_timeout_ms=0: explicit eviction opt-out so
    # processAllAvailable() settles (the default ProcessingTimeTimeout
    # keeps scheduling no-data cleanup batches); the timeout branch is
    # covered by test_per_key_eviction, the default's arithmetic by
    # test_default_state_timeout
    corr = streaming_alerts(spark, stream, ruleset, state_timeout_ms=0)
    q = (corr.select(*EMIT_COLS).writeStream
         .format("memory").queryName("stream_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table("stream_out").toPandas()
            .sort_values(EMIT_COLS).reset_index(drop=True))


def _chunk_frames(rows, n_chunks):
    """Chunk by turn ranges so arrival order == epoch order per conv
    (mirrors tail-ing a live log)."""
    pdf = pd.DataFrame(rows)
    bounds = sorted(pdf["turn_idx"].unique())
    per = max(1, len(bounds) // n_chunks)
    chunks = []
    for k in range(n_chunks):
        lo = k * per
        hi = (k + 1) * per if k < n_chunks - 1 else 10 ** 9
        chunk = pdf[(pdf["turn_idx"] >= lo) & (pdf["turn_idx"] < hi)]
        if len(chunk):
            chunks.append(chunk)
    return chunks


def _write_frames(spark, frames, out_dir):
    """One parquet file per frame, with distinct mtimes so the file
    source replays them in order."""
    os.makedirs(out_dir, exist_ok=True)
    for chunk in frames:
        (spark.createDataFrame(chunk)
         .withColumn("turn_idx", F.col("turn_idx").cast("int"))
         .coalesce(1).write.mode("append").parquet(out_dir))
        time.sleep(1.1)  # distinct mtime ordering for the file source


def _write_chunks(spark, rows, out_dir, n_chunks):
    _write_frames(spark, _chunk_frames(rows, n_chunks), out_dir)


def test_stream_equals_batch_single_microbatch(spark, ruleset, tmp_path):
    rows = gen_rows(40)
    in_dir = str(tmp_path / "stream_in1")
    (spark.createDataFrame(pd.DataFrame(rows))
     .withColumn("turn_idx", F.col("turn_idx").cast("int"))
     .write.parquet(in_dir))
    batch = _batch_result(spark, rows, ruleset)
    stream = _stream_result(spark, in_dir, ruleset, max_files=100)
    pd.testing.assert_frame_equal(batch, stream)


def test_stream_equals_batch_across_microbatches(spark, ruleset, tmp_path):
    rows = gen_rows(12)
    in_dir = str(tmp_path / "stream_in2")
    _write_chunks(spark, rows, in_dir, n_chunks=3)
    batch = _batch_result(spark, rows, ruleset)
    stream = _stream_result(spark, in_dir, ruleset, max_files=1)
    pd.testing.assert_frame_equal(batch, stream)


def test_stream_ipkeys_equal_batch(spark, tmp_path):
    """IP-extracted correlation keys — the reference's PRIMARY deployment
    mode (after.c:108-110 hashes extracted addresses) — stream through
    the store-keyed state groups and reproduce the batch plan exactly,
    state carried across micro-batches."""
    rs = compile_ruleset_from_dir(
        os.path.join(os.path.dirname(__file__), "..", "rules-entry",
                     "ipkeys"))
    rows = gen_rows(12)
    in_dir = str(tmp_path / "stream_ipkeys")
    _write_chunks(spark, rows, in_dir, n_chunks=3)
    batch = _batch_result(spark, rows, rs)
    stream = _stream_result(spark, in_dir, rs, max_files=1)
    # every store kind must flip at least once or state isn't exercised
    assert (batch["suppress_after"]).any()
    assert set(batch["xbit_pass"].unique()) == {True, False}
    assert set(batch["flexbit_pass"].unique()) == {True, False}
    pd.testing.assert_frame_equal(batch, stream)


def test_stream_dual_track_equal_batch(spark, tmp_path):
    """after + threshold with DIFFERENT tracks on one rule — two state
    keys per row — streams through one serial state group for the rule's
    cluster and must reproduce the batch result exactly, with both
    suppression kinds actually flipping."""
    from sagan_spark.rules.compiler import compile_ruleset
    rs = compile_ruleset(
        'alert syslog any any -> any any (msg:"dual"; '
        'content:"connection from"; parse_src_ip: 1; '
        "after: track by_src, count 2, seconds 604800; "
        "threshold: type limit, track by_dst, count 2, seconds 604800; "
        "classtype:misc-attack; sid:9; rev:1;)")
    from sagan_spark.correlate import cluster_modes
    assert cluster_modes(rs) == {0: "serial"}
    rows = gen_rows(12)
    # a 3-address src pool recurring across convs: the after store (by
    # extracted src) and the threshold store (by conv-fallback dst) both
    # accumulate real counts and disagree row-wise
    for i, r in enumerate(rows):
        r["text"] = f"connection from 10.0.0.{i % 3} port 80"
    in_dir = str(tmp_path / "stream_dual")
    _write_chunks(spark, rows, in_dir, n_chunks=3)
    batch = _batch_result(spark, rows, rs)
    stream = _stream_result(spark, in_dir, rs, max_files=1)
    assert batch["suppress_after"].any()
    assert batch["suppress_thresh"].any()
    assert not batch["suppress_thresh"].all()
    pd.testing.assert_frame_equal(batch, stream)


def test_stream_cross_store_equal_batch(spark, tmp_path):
    """A rule gated by an xbit AND counted by after on parse_src_ip keys
    (two stores on one row) streams through its cluster's serial state
    group and reproduces the batch result, with the gate and the
    suppression both flipping."""
    from sagan_spark.correlate import cluster_modes
    from sagan_spark.rules.compiler import compile_ruleset
    rs = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"s"; content:"stage1"; '
        'parse_src_ip: 1; xbits: set,xa,track ip_src,expire 600; '
        'classtype:misc-attack; sid:41; rev:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"stage2"; '
        'parse_src_ip: 1; xbits: isset,xa,track ip_src; '
        'after: track by_src, count 1, seconds 604800; '
        'classtype:misc-attack; sid:42; rev:1;)',
    ]))
    assert cluster_modes(rs) == {0: "serial"}
    rows = gen_rows(12)
    for i, r in enumerate(rows):
        stage = "stage1" if i % 5 == 2 else "stage2"
        r["text"] = f"{stage} from 10.0.0.{i % 3} port 80"
    in_dir = str(tmp_path / "stream_cross")
    _write_chunks(spark, rows, in_dir, n_chunks=3)
    batch = _batch_result(spark, rows, rs)
    stream = _stream_result(spark, in_dir, rs, max_files=1)
    assert set(batch["xbit_pass"].unique()) == {True, False}
    assert set(batch["suppress_after"].unique()) == {True, False}
    pd.testing.assert_frame_equal(batch, stream)


def test_default_state_timeout(ruleset):
    """Eviction default = 2x the largest rule window (the Clean_IPC_Object
    analog, src/ipc.c:79-200) so long-running streams bound their state."""
    from sagan_spark.streaming import default_state_timeout_ms
    horizon = 0
    for r in ruleset.rules:
        if r.after:
            horizon = max(horizon, r.after.seconds)
        if r.threshold:
            horizon = max(horizon, r.threshold.seconds)
        for xb in r.xbits:
            horizon = max(horizon, xb.expire)
    assert default_state_timeout_ms(ruleset) == 2 * horizon * 1000


def test_stream_flexbits_equal_batch(spark, tmp_path):
    """Flexbit store state survives the GroupState JSON round-trip
    across micro-batches and reproduces the batch fold exactly."""
    from sagan_spark.rules.compiler import compile_ruleset_from_dir
    rs = compile_ruleset_from_dir(
        os.path.join(os.path.dirname(__file__), "..", "rules-entry",
                     "flexbit"))
    rows = gen_rows(12)
    in_dir = str(tmp_path / "stream_flex")
    _write_chunks(spark, rows, in_dir, n_chunks=3)
    batch = _batch_result(spark, rows, rs)
    stream = _stream_result(spark, in_dir, rs, max_files=1)
    assert set(batch["flexbit_pass"].unique()) == {True, False}
    pd.testing.assert_frame_equal(batch, stream)


def test_late_rows_accumulator(spark, tmp_path):
    """Backfill deeper than one horizon (the bound under which event-time
    eviction is exact) is OBSERVABLE: rows with epoch < a group's
    persisted max - horizon tally into the late_rows accumulator instead
    of silently consulting pruned state."""
    from sagan_spark.rules.compiler import compile_ruleset
    rs = compile_ruleset(
        'alert syslog any any -> any any (msg:"x"; content:"foo"; '
        "after: track by_src, count 2, seconds 60; "
        "classtype:misc-attack; sid:77; rev:1;)")   # horizon = 60 s
    in_dir = str(tmp_path / "stream_late")
    os.makedirs(in_dir, exist_ok=True)
    for ts, turn in [("2026-01-01 12:00:00", 1),
                     ("2026-01-01 10:00:00", 0)]:   # 2 h backfill > 60 s
        pdf = pd.DataFrame([{"conv_id": "c1", "turn_idx": turn,
                             "role": "user", "text": "foo bar",
                             "tool": "", "ts": pd.Timestamp(ts)}])
        (spark.createDataFrame(pdf)
         .withColumn("turn_idx", F.col("turn_idx").cast("int"))
         .coalesce(1).write.mode("append").parquet(in_dir))
        time.sleep(1.1)
    acc = spark.sparkContext.accumulator(0)
    stream = read_transcript_stream(spark, in_dir, max_files=1)
    corr = streaming_alerts(spark, stream, rs, state_timeout_ms=0,
                            late_rows=acc)
    q = (corr.writeStream.format("memory").queryName("late_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert acc.value >= 1


def test_stream_none_flexbit_equal_batch(spark, tmp_path):
    """'none'-direction flexbits (cross-conv state, flexbit-mmap.c:124)
    route through one state group per flexbit cluster instead of raising,
    and reproduce the batch fold exactly."""
    from sagan_spark.rules.compiler import compile_ruleset
    rs = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"s"; content:"stage1"; '
        'flexbits: set,gb,259200; classtype:misc-attack; sid:31; rev:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"stage2"; '
        'flexbits: isset,none,gb; classtype:misc-attack; sid:32; rev:1;)',
    ]))
    rows = gen_rows(12)
    in_dir = str(tmp_path / "stream_none_flex")
    _write_chunks(spark, rows, in_dir, n_chunks=3)
    batch = _batch_result(spark, rows, rs)
    stream = _stream_result(spark, in_dir, rs, max_files=1)
    # both pass outcomes must occur or the ruleset isn't exercising state
    assert set(batch["flexbit_pass"].unique()) == {True, False}
    pd.testing.assert_frame_equal(batch, stream)


def _drain(spark, in_dir, rs, sink, checkpoint, late_rows=None):
    """One run of the stream into a parquet sink with a checkpoint,
    drained to the end and stopped."""
    corr = streaming_alerts(spark, read_transcript_stream(spark, in_dir,
                                                          max_files=1),
                            rs, state_timeout_ms=0, late_rows=late_rows)
    q = (corr.select(*EMIT_COLS).writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", checkpoint)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_restart_equal_batch(spark, ruleset, tmp_path):
    """Kill and resume: a stream stopped after two files and restarted
    from its checkpoint, with another shuffle-partition setting, emits
    the batch result.  The checkpoint pins the state store's partitions,
    so the state buckets must not follow the conf (N_BUCKETS)."""
    rows = gen_rows(12)
    frames = _chunk_frames(rows, 3)
    in_dir = str(tmp_path / "stream_restart")
    sink, ck = str(tmp_path / "restart_out"), str(tmp_path / "restart_ck")
    _write_frames(spark, frames[:2], in_dir)
    _drain(spark, in_dir, ruleset, sink, ck)
    _write_frames(spark, frames[2:], in_dir)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _drain(spark, in_dir, ruleset, sink, ck)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert before != "4"
    stream = (spark.read.parquet(sink).toPandas()
              .sort_values(EMIT_COLS).reset_index(drop=True))
    pd.testing.assert_frame_equal(_batch_result(spark, rows, ruleset),
                                  stream)


def test_colliding_keys_keep_own_epochs(spark, tmp_path):
    """Two state keys routed to one bucket, their epochs far more than a
    horizon apart: the lagging key is pruned and aged against its OWN
    max epoch, never its neighbour's, so the stream equals batch and no
    row counts as late."""
    from sagan_spark.correlate import cluster_modes
    from sagan_spark.rules.compiler import compile_ruleset
    from sagan_spark.streaming import N_BUCKETS
    rs = compile_ruleset(
        'alert syslog any any -> any any (msg:"x"; content:"foo"; '
        "after: track by_src, count 2, seconds 60; "
        "classtype:misc-attack; sid:77; rev:1;)")   # horizon = 60 s
    assert cluster_modes(rs) == {0: "conv"}         # state key = conv_id
    cands = spark.createDataFrame([(f"c{i}",) for i in range(2 * N_BUCKETS
                                                              + 1)],
                                  "conv_id string")
    seen: dict = {}
    for r in cands.select("conv_id", F.pmod(F.xxhash64("conv_id"),
                                            F.lit(N_BUCKETS))).collect():
        seen.setdefault(r[1], []).append(r[0])
    lag, lead = next(v for v in seen.values() if len(v) > 1)[:2]
    t0 = pd.Timestamp("2026-01-01 10:00:00")

    def row(conv, turn, dt):
        return {"conv_id": conv, "turn_idx": turn, "role": "user",
                "text": "foo bar", "tool": "",
                "ts": t0 + pd.Timedelta(seconds=dt)}

    first = [row(lag, 0, 0), row(lag, 1, 10),
             row(lead, 0, 86400), row(lead, 1, 86410)]
    second = [row(lag, 2, 20), row(lag, 3, 30)]
    in_dir = str(tmp_path / "stream_collide")
    _write_frames(spark, [pd.DataFrame(first), pd.DataFrame(second)],
                  in_dir)
    late = spark.sparkContext.accumulator(0)
    sink = str(tmp_path / "collide_out")
    _drain(spark, in_dir, rs, sink, str(tmp_path / "collide_ck"), late)
    batch = _batch_result(spark, first + second, rs)
    stream = (spark.read.parquet(sink).toPandas()
              .sort_values(EMIT_COLS).reset_index(drop=True))
    # the lagging key's third and fourth rows fire only on carried state
    assert set(batch["suppress_after"].unique()) == {True, False}
    pd.testing.assert_frame_equal(batch, stream)
    assert late.value == 0


class _StubGroupState:
    """The GroupState surface the bucket function uses, with a settable
    processing time."""

    def __init__(self):
        self.now, self.hasTimedOut, self.value = 0, False, None
        self.removed, self.timeouts = False, []

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def getCurrentProcessingTimeMs(self):
        return self.now

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeouts.append(ms)


def test_per_key_eviction():
    """Processing-time eviction is per state key inside a bucket: a key
    silent for longer than the timeout is dropped on the bucket's next
    call while a recently active neighbour is kept; a timed-out bucket
    (every key silent) removes its state; the bucket's timeout is re-armed
    after every data call."""
    from sagan_spark.rules.compiler import compile_ruleset
    from sagan_spark.streaming import _bucket_correlator
    rs = compile_ruleset(
        'alert syslog any any -> any any (msg:"x"; content:"foo"; '
        "after: track by_src, count 2, seconds 60; "
        "classtype:misc-attack; sid:77; rev:1;)")
    fn = _bucket_correlator(rs, timeout_ms=1000)

    def rows(*keys, epoch=100):
        return pd.DataFrame({
            "conv_id": list(keys), "turn_idx": 0, "epoch": epoch,
            "rule_idx": 0, "ip_src": list(keys), "ip_dst": list(keys),
            "src_port": 0, "dst_port": 0, "after_key": list(keys),
            "thresh_key": None, "suppress_after": False,
            "suppress_thresh": False, "xbit_pass": True,
            "flexbit_pass": True, "_key": list(keys), "_bucket": 0})

    st = _StubGroupState()
    out = pd.concat(fn((0,), iter([rows("a", "b")]), st))
    assert "_key" not in out and "_bucket" not in out
    assert list(out["conv_id"]) == ["a", "b"]
    assert st.value[0] == ["a", "b"]
    st.now = 600
    list(fn((0,), iter([rows("b", epoch=101)]), st))
    st.now = 1500                    # a silent 1500 ms, b silent 900 ms
    list(fn((0,), iter([rows("c", epoch=102)]), st))
    assert st.value[0] == ["b", "c"]
    assert st.value[2] == [600, 1500]
    assert st.timeouts == [1000, 1000, 1000]
    st.hasTimedOut = True            # no data for the whole timeout
    assert list(fn((0,), iter([]), st)) == []
    assert st.removed and not st.exists
    assert st.timeouts == [1000, 1000, 1000]
