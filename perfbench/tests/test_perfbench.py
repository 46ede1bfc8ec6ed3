"""Tests of the benchmark's own code: the seeded generator, the digests,
the span arithmetic and the event-log reducer.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
from collections import Counter
from datetime import datetime, timezone

import pytest

from perfbench import eventlog, layers
from perfbench.digest import (ALERT_COLS, mismatches, oracle_digests,
                              rows_digest, sink_digests)
from perfbench.spans import Span, Tracer, self_times
from perfbench.workloads import (SEED_STRIDE, WORKLOADS, Workload,
                                 chunk_bounds, gen_rows)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SMALL = Workload("small", "rules-fixtures", n_convs=30, noise_pct=50,
                 hot_convs=2, hot_len=40)


# -- generator ---------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    assert gen_rows(SMALL, 3) == gen_rows(SMALL, 3)
    a, b = gen_rows(SMALL, 3), gen_rows(SMALL, 4)
    assert {r["conv_id"] for r in a}.isdisjoint(r["conv_id"] for r in b)


@pytest.mark.parametrize("seed", [0, 1, 7, 123456])
def test_skew_is_present_for_every_seed(seed):
    turns = Counter(r["conv_id"] for r in gen_rows(SMALL, seed))
    hot = [f"conv-{seed * SEED_STRIDE + j:08d}" for j in range(2)]
    assert [turns[c] for c in hot] == [40, 40]
    assert max(n for c, n in turns.items() if c not in hot) < 40
    assert len(turns) == SMALL.n_convs


def test_noise_share_follows_the_workload():
    rows = gen_rows(SMALL, 5)
    noise = sum(r["text"].startswith("routine operation") for r in rows)
    assert 0.35 < noise / len(rows) < 0.65


def test_chunk_bounds_split_turn_ranges_evenly():
    rows = gen_rows(SMALL, 2)
    bounds = chunk_bounds([r["turn_idx"] for r in rows], 3)
    assert bounds == sorted(set(bounds)) and len(bounds) == 2
    sizes = Counter(sum(r["turn_idx"] >= b for b in bounds) for r in rows)
    assert min(sizes.values()) > len(rows) / 6


# -- digests -----------------------------------------------------------------

def test_rows_digest_ignores_order_but_not_content():
    rows = [("c1", 0, "x"), ("c1", 1, "y"), ("c2", 0, "x"), ("c1", 0, "x")]
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    assert rows_digest(rows) == rows_digest(shuffled)
    assert rows_digest(rows) != rows_digest(rows[:-1])
    assert rows_digest(rows) != rows_digest(rows[:-1] + [("c1", 0, "z")])


def _oracle_result():
    ts = datetime(2024, 1, 1, 0, 0, 20, tzinfo=timezone.utc)
    alert = {"conv_id": "conv-1", "turn_idx": 3, "ts": ts, "gid": 5000001,
             "sid": 7, "rev": 1, "msg": "m", "classtype": "c",
             "class_desc": "C", "pri": 2, "ip_src": "1.2.3.4",
             "src_port": 22, "ip_dst": "conv-1", "dst_port": 514,
             "proto": "tcp", "text": "hello", "action": "alert"}
    other = dict(alert, turn_idx=4, sid=8)
    drop = {"conv_id": "conv-2", "turn_idx": 0, "ts": ts, "text": "bye"}
    counters = {k: 1 for k in ("events_received", "events_processed",
                               "ignore_count", "saganfound", "alert_total",
                               "after_total", "threshold_total")}
    return {"alerts": [alert, other], "eve_alerts": [alert, other],
            "drops": [drop], "counters": counters}


def _write_sinks(out_dir, result):
    """Write ``result`` the way the engine's sinks lay it out, rows
    reversed and spread over two files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, rows):
        os.makedirs(os.path.join(out_dir, name))
        rows = rows[::-1]
        for k, part in enumerate((rows[:1], rows[1:])):
            pq.write_table(pa.Table.from_pylist(part), os.path.join(
                out_dir, name, f"part-{k}.parquet"))

    write("alert", [dict(a, bucket=1) for a in result["alerts"]])
    eves = []
    for a in result["eve_alerts"]:
        md5 = hashlib.md5(f"{a['conv_id']}|{a['turn_idx']}".encode())
        eves.append({
            "timestamp": a["ts"].strftime("%Y-%m-%dT%H:%M:%S.000+0000"),
            "flow_id": int(md5.hexdigest()[:15], 16), "event_type": "alert",
            "src_ip": a["ip_src"], "src_port": a["src_port"],
            "dest_ip": a["ip_dst"], "dest_port": a["dst_port"],
            "proto": a["proto"],
            "payload": base64.b64encode(a["text"].encode()).decode(),
            "action": a["action"], "gid": a["gid"],
            "signature_id": a["sid"], "rev": a["rev"],
            "signature": a["msg"], "category": a["classtype"],
            "severity": a["pri"], "conv_id": a["conv_id"],
            "turn_idx": a["turn_idx"]})
    write("eve_alert", eves)
    write("drop", list(result["drops"]))


def test_sink_digests_match_oracle_digests(tmp_path):
    result = _oracle_result()
    _write_sinks(str(tmp_path), result)
    want = oracle_digests(result)
    got = sink_digests(str(tmp_path), result["counters"])
    assert mismatches(got, want) == []
    assert got["alert"]["rows"] == 2 and got["drop"]["rows"] == 1


def test_mismatches_name_the_sink_and_counter():
    want = oracle_digests(_oracle_result())
    bad = _oracle_result()
    bad["alerts"][0]["pri"] = 3
    bad["counters"]["saganfound"] = 2
    got = oracle_digests(bad)
    msgs = mismatches(got, want)
    assert [m.split(" ")[0] for m in msgs] == ["alert:", "eve_alert:",
                                               "counter"]
    assert "saganfound" in msgs[2]


def test_digest_columns_cover_the_oracle_alert_fields():
    assert set(ALERT_COLS) == set(_oracle_result()["alerts"][0])


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    spans = [Span("job", 0.0, 10.0),
             Span("a", 1.0, 4.0, parent=0),
             Span("b", 3.0, 6.0, parent=0),     # overlaps a
             Span("c", 8.0, 12.0, parent=0),    # runs past the parent
             Span("a", 1.5, 2.0, parent=1)]     # grandchild, same name
    got = self_times(spans)
    assert got["job"] == pytest.approx(10 - (6 - 1) - (10 - 8))
    assert got["a"] == pytest.approx((3 - 0.5) + 0.5)
    assert got["b"] == pytest.approx(3.0)
    assert got["c"] == pytest.approx(4.0)


def test_tracer_nests_spans_by_call():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))
    with tracer.span("job"):
        with tracer.span("parse"):
            pass
        with tracer.span("match"):
            with tracer.span("inner"):
                pass
    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("job", None), ("parse", 0), ("match", 0),
                     ("inner", 2)]
    st = self_times(tracer.spans)
    assert st == {"job": 3.0, "parse": 1.0, "match": 2.0, "inner": 1.0}


# -- event log ---------------------------------------------------------------

def _task_end(stage, run_ms, py_ms=0, sent=0, shuffle=0, py_id=None):
    accs = [{"ID": py_id, "Name": eventlog.PY_RUN, "Update": str(py_ms)},
            {"Name": eventlog.PY_SENT, "Update": str(sent)}] if py_ms else []
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": run_ms * 10 ** 6,
                             "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 5,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle}}}


def test_reduce_events_maps_stages_to_the_first_job_label():
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "perfbench:match"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "perfbench:correlate"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {}},
        _task_end(0, 1000, py_ms=800, sent=100),
        _task_end(1, 500, shuffle=7),
        _task_end(2, 3000, py_ms=2000),
        _task_end(2, 1000, py_ms=500),
        _task_end(2, 1000, py_ms=500),
        _task_end(3, 9000, py_ms=9000),
    ]
    out = eventlog.reduce_events(events)
    assert set(out) == {"perfbench:match", "perfbench:correlate"}
    m, c = out["perfbench:match"], out["perfbench:correlate"]
    assert (m.tasks, m.run_s, m.python_s) == (2, 1.5, 0.8)
    assert (m.arrow_bytes, m.shuffle_write_bytes, m.spill_bytes) == \
        (100, 7, 10)
    assert m.shuffle_stages == {1} and c.shuffle_stages == set()
    assert c.python_s == pytest.approx(3.0)
    assert c.max_python_task_s == 3.0 and c.python_task_skew == 3.0


def test_reduce_events_splits_python_time_by_plan_operator():
    plan = {"nodeName": "WholeStage", "metrics": [], "children": [
        {"nodeName": "FlatMapGroupsInPandasWithState",
         "metrics": [{"accumulatorId": 11}], "children": [
             {"nodeName": "MapInPandas", "metrics": [{"accumulatorId": 7}],
              "children": []}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "run-1"}},
        _task_end(0, 900, py_ms=600, py_id=7),
        _task_end(1, 900, py_ms=200, py_id=11),
        _task_end(1, 900, py_ms=100, py_id=11),
    ]
    out = eventlog.reduce_events(
        events, lambda p: p.get("spark.jobGroup.id"))["run-1"]
    assert out.python_s_by_op == pytest.approx(
        {"MapInPandas": 0.6, "FlatMapGroupsInPandasWithState": 0.3})


def test_reducer_on_a_tiny_spark_run(tmp_path):
    """A real event log: a labelled job with a Python stage and a
    shuffle, reduced per label."""
    from pyspark.sql import SparkSession

    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        pytest.skip("needs a fresh Spark session")
    log_dir = str(tmp_path / "events")
    os.makedirs(log_dir)
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    try:
        spark.sparkContext.setJobDescription("perfbench:tiny")
        n = (spark.range(400, numPartitions=2)
             .mapInPandas(lambda it: it, schema="id long")
             .repartition(3).count())
        assert n == 400
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    out = eventlog.reduce_log(eventlog.find_app_log(log_dir, app_id))
    tiny = out["perfbench:tiny"]
    assert tiny.tasks >= 2
    assert tiny.python_s > 0 and tiny.arrow_bytes > 0
    assert tiny.shuffle_write_bytes > 0 and tiny.run_s > 0
    assert len(tiny.shuffle_stages) >= 1


# -- the benchmark definition ----------------------------------------------

def test_benchmark_json_agrees_with_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["per_layer"]} == layers.PER_LAYER
    assert all(w["name"] in WORKLOADS for w in bench["workloads"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_workload_rules_exist():
    for w in WORKLOADS.values():
        assert os.path.isdir(os.path.join(ROOT, w.rules)), w.rules
