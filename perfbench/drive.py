"""Drives the engine from outside, through its layers' public functions.

* :func:`set_up` -- session start, ruleset compile, matcher build and the
  first trivial ``mapInPandas`` (the Python worker spawn).
* :func:`batch_job` -- one closed-loop batch job: ``run_pipeline``, the
  three sink writes and the counter row, one after another.
* :func:`traced_batch_job` -- the same work split at the layer
  boundaries: each layer's output is persisted and counted before the
  next layer starts, inside a span named after the layer.
* :func:`stream_drain` -- one Structured Streaming run over the chunk
  files, drained to the end; :func:`route_stream` then routes what it
  wrote to the sinks, outside the timed window.

Nothing here reaches inside ``sagan_spark``: it only calls the functions
the layers export and reads what they return.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass, field

from .spans import Tracer

LAYER_PREFIX = "perfbench:"


@dataclass
class Setup:
    session_s: float
    compile_s: float
    matcher_s: float
    worker_s: float

    @property
    def total_s(self) -> float:
        return self.session_s + self.compile_s + self.matcher_s + \
            self.worker_s


def set_up(rules_dir: str, cores: int):
    """Returns (spark, ruleset, Setup)."""
    from sagan_spark.match import build_matcher, compile_programs
    from sagan_spark.rules.compiler import compile_ruleset_from_dir
    from sagan_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    t1 = time.perf_counter()
    ruleset = compile_ruleset_from_dir(rules_dir)
    t2 = time.perf_counter()
    compile_programs(ruleset)
    build_matcher(ruleset)
    t3 = time.perf_counter()
    spark.range(2 * cores, numPartitions=cores).mapInPandas(
        lambda it: it, schema="id long").count()
    t4 = time.perf_counter()
    return spark, ruleset, Setup(t1 - t0, t2 - t1, t3 - t2, t4 - t3)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every process this one started to end; terminate any
    that outlive ``timeout_s``."""
    from .procstat import tree_pids

    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        try:
            # reap our own exited children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


# -- batch -----------------------------------------------------------------

def batch_job(spark, ruleset, input_dir: str, out_dir: str) -> dict:
    """One batch job through ``run_pipeline``; returns the counter row."""
    from sagan_spark.pipeline import run_pipeline
    from sagan_spark.sinks import write_sink

    res = run_pipeline(spark, spark.read.parquet(input_dir), ruleset)
    try:
        res.correlated.count()
        write_sink(res.alerts, os.path.join(out_dir, "alert"))
        write_sink(res.eve_alerts, os.path.join(out_dir, "eve_alert"))
        write_sink(res.drops, os.path.join(out_dir, "drop"))
        return res.counters.collect()[0].asDict()
    finally:
        res.unpersist()


@dataclass
class TracedJob:
    counters: dict
    counts: dict         # row counts at the layer boundaries


def traced_batch_job(spark, ruleset, input_dir: str, out_dir: str,
                     tracer: Tracer) -> TracedJob:
    """The batch job with every layer materialized before the next one
    starts."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from sagan_spark.correlate import run_correlate
    from sagan_spark.enrich import (attach_gen_msg, attach_references,
                                    enrich_alerts)
    from sagan_spark.match import candidate_filter, run_match
    from sagan_spark.parse import (ignore_condition, parse_transcripts,
                                   split_ignored)
    from sagan_spark.route import (alert_sink, drop_sink, eve_alert_sink,
                                   sink_counts)
    from sagan_spark.sinks import write_sink

    sc = spark.sparkContext
    held = []

    def materialize(df):
        """Persist ``df`` and compute it with a no-op write, which (unlike
        a count) adds no shuffle of its own to the layer."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def layer(name: str):
        sc.setJobDescription(LAYER_PREFIX + name)
        return tracer.span(name)

    try:
        with tracer.span("job"):
            with layer("parse"):
                parsed = materialize(parse_transcripts(
                    spark.read.parquet(input_dir)))
                kept, dropped = split_ignored(parsed, ruleset.ignore_list)
                kept, dropped = materialize(kept), materialize(dropped)
            with layer("match"):
                matches = materialize(run_match(kept, ruleset))
            with layer("correlate"):
                correlated = materialize(run_correlate(matches, ruleset))
            with layer("enrich"):
                alerts = materialize(attach_gen_msg(attach_references(
                    enrich_alerts(alert_sink(correlated, ruleset), spark,
                                  ruleset), spark, ruleset), spark,
                    ruleset))
            with layer("sinks"):
                write_sink(alerts, os.path.join(out_dir, "alert"))
                write_sink(eve_alert_sink(correlated, ruleset),
                           os.path.join(out_dir, "eve_alert"))
                write_sink(drop_sink(dropped),
                           os.path.join(out_dir, "drop"))
                counters = sink_counts(
                    correlated, parsed,
                    ignore_condition(ruleset.ignore_list),
                    ruleset).collect()[0].asDict()

        # row counts at the layer boundaries, outside every span
        sc.setJobDescription(LAYER_PREFIX + "counts")
        n = {"parse.rows_in": parsed.count(),
             "parse.rows_kept": kept.count(),
             "parse.rows_ignored": dropped.count(),
             "match.rows_out": matches.count(),
             "enrich.rows": alerts.count()}
        pref = candidate_filter(ruleset)
        n["match.rows_prefiltered"] = (kept.filter(pref).count()
                                       if pref is not None
                                       else n["parse.rows_kept"])
        n["match.turns_matched"] = (matches.select("conv_id", "turn_idx")
                                    .distinct().count())
        stateful = [i for i, r in enumerate(ruleset.rules)
                    if r.after or r.threshold or r.xbits or r.flexbits]
        keyed = matches.filter(F.col("rule_idx").isin(stateful or [-1]))
        n["correlate.rows_keyed"] = keyed.count()
        n["correlate.max_group_rows"] = (
            keyed.groupBy("conv_id").count().agg(F.max("count"))
            .collect()[0][0] or 0)
        n["correlate.rows_suppressed"] = correlated.filter(
            ~(F.col("xbit_pass") & F.col("flexbit_pass") &
              ~F.col("suppress_after") & ~F.col("suppress_thresh"))
        ).count()
    finally:
        sc.setJobDescription(None)
        for df in held:
            df.unpersist()
    return TracedJob(counters, n)


# -- streaming ---------------------------------------------------------------

@dataclass
class Drain:
    wall_s: float
    batch_s: list = field(default_factory=list)   # triggerExecution, s
    state_rows: int = 0
    state_bytes: int = 0
    late_rows: int = 0
    run_id: str = ""
    counters: dict = field(default_factory=dict)  # set by route_stream


def stream_drain(spark, ruleset, input_dir: str, out_dir: str,
                 work_dir: str) -> Drain:
    """Drain the chunk files through ``streaming_alerts`` (one file per
    micro-batch) into a parquet file sink of the correlated rows."""
    from sagan_spark.streaming import read_transcript_stream, streaming_alerts

    late = spark.sparkContext.accumulator(0)
    ck = os.path.join(work_dir, "checkpoint")
    shutil.rmtree(ck, ignore_errors=True)
    t0 = time.perf_counter()
    # state_timeout_ms=0: no processing-time eviction, so the drain
    # settles once every file is processed
    corr = streaming_alerts(
        spark, read_transcript_stream(spark, input_dir, max_files=1),
        ruleset, state_timeout_ms=0, late_rows=late)
    query = (corr.writeStream.format("parquet")
             .option("path", os.path.join(out_dir, "correlated"))
             .option("checkpointLocation", ck)
             .outputMode("append").start())
    try:
        query.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = query.recentProgress
    finally:
        query.stop()
    shutil.rmtree(ck, ignore_errors=True)

    d = Drain(wall, run_id=str(query.runId), late_rows=int(late.value))
    for p in progress:
        if p["numInputRows"] > 0:
            d.batch_s.append(p["durationMs"]["triggerExecution"] / 1000.0)
    ops = (progress[-1]["stateOperators"] if progress else None) or []
    d.state_rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
    d.state_bytes = sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
    return d


def route_stream(spark, ruleset, out_dir: str, drain: Drain) -> Drain:
    """Route the drained correlated rows to the alert and eve_alert sinks
    and count them, with the same route, enrich and sink functions as a
    batch job.  The streaming path produces no drop sink and no ingest
    counters, so only the counters of correlated rows are set."""
    from pyspark.sql import functions as F

    from sagan_spark.datagen import TRANSCRIPTS_SCHEMA
    from sagan_spark.enrich import (attach_gen_msg, attach_references,
                                    enrich_alerts)
    from sagan_spark.parse import parse_transcripts
    from sagan_spark.route import alert_sink, eve_alert_sink, sink_counts
    from sagan_spark.sinks import write_sink

    corr = spark.read.parquet(os.path.join(out_dir, "correlated"))
    write_sink(attach_gen_msg(attach_references(enrich_alerts(
        alert_sink(corr, ruleset), spark, ruleset), spark, ruleset),
        spark, ruleset), os.path.join(out_dir, "alert"))
    write_sink(eve_alert_sink(corr, ruleset),
               os.path.join(out_dir, "eve_alert"))
    no_input = parse_transcripts(spark.createDataFrame([], TRANSCRIPTS_SCHEMA))
    row = sink_counts(corr, no_input, F.lit(False), ruleset).collect()[0]
    drain.counters = {k: row[k] for k in STREAM_COUNTERS}
    return drain


# what a drain is checked on: the sinks and counters that a stream of
# correlated rows determines
STREAM_SINKS = ("alert", "eve_alert")
STREAM_COUNTERS = ("saganfound", "alert_total", "after_total",
                   "threshold_total")
