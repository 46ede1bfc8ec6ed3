"""End-to-end pipeline composition: parse → match → correlate → enrich →
route (SURVEY §3.4).

The plan, stage by stage:

  read transcripts (any table; bucket(conv_id) partition spec at scale)
    → PARSE      sentinel-fill + epoch           [narrow, codegen]
    → IGNORE     drop-list filter                [narrow, codegen; the
                  pushdown-friendly first filter, sagan.c:1228-1248]
    → MATCH      vectorized mapInPandas matcher  [narrow, Arrow batches]
    → CORRELATE  after/threshold/xbit grouped    [the only shuffles —
                  keyed by state key, matched rows only]
    → ENRICH     ruleset-literal map lookups     [narrow projection; no
                  join, no broadcast]
    → ROUTE      sink projections + counts       [map-side agg]

Nothing in the plan materializes unpartitioned state; every stage is keyed
by conv_id-derived keys, which is what makes the 10^12-turn design scale
work (SURVEY §7.3).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .correlate import run_correlate
from .dynamic import require_no_dynamic
from .enrich import attach_gen_msg, attach_references, enrich_alerts
from .match import run_match
from .parse import ignore_condition, parse_transcripts, split_ignored
from .route import (
    alert_sink,
    drop_sink,
    eve_alert_sink,
    sink_counts,
    to_eve_json,
)
from .rules.compiler import RuleSet
from .sinks import write_sink


@dataclass
class PipelineResult:
    alerts: DataFrame
    eve_alerts: DataFrame
    drops: DataFrame
    counters: DataFrame
    correlated: DataFrame   # pre-route, for inspection/metrics
    persisted: list = None  # frames this run persisted (for unpersist())
    detections: DataFrame = None   # dynamic-rule detection alerts

    def unpersist(self) -> None:
        """Release exactly the frames this pipeline persisted — callers'
        own cached DataFrames are untouched (no clearCache)."""
        for df in self.persisted or ():
            df.unpersist()


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 ruleset: RuleSet) -> PipelineResult:
    from pyspark import StorageLevel

    require_no_dynamic(ruleset)
    parsed = parse_transcripts(transcripts)
    kept, dropped = split_ignored(parsed, ruleset.ignore_list)
    matches = run_match(kept, ruleset)
    # every sink + the counters consume `correlated`; persist so the four
    # sink actions share one computation of the match/correlate stages
    correlated = run_correlate(matches, ruleset).persist(
        StorageLevel.MEMORY_AND_DISK)
    alerts = enrich_alerts(alert_sink(correlated, ruleset), spark, ruleset)
    alerts = attach_references(alerts, spark, ruleset)   # J2
    alerts = attach_gen_msg(alerts, spark, ruleset)      # J3
    # re-order columns for a stable sink schema
    alerts = alerts.select(
        "conv_id", "turn_idx", "ts", "gid", "sid", "rev", "msg", "classtype",
        "class_desc", "pri", "ip_src", "src_port", "ip_dst", "dst_port",
        "proto", "text", "action", "ref_urls", "gen_msg")
    return PipelineResult(
        alerts=alerts,
        eve_alerts=eve_alert_sink(correlated, ruleset),
        drops=drop_sink(dropped),
        counters=sink_counts(correlated, parsed,
                             ignore_condition(ruleset.ignore_list), ruleset),
        correlated=correlated,
        persisted=[correlated],
    )


def run_job(spark: SparkSession, transcripts: DataFrame, ruleset: RuleSet,
            out_dir: str) -> dict:
    """Run the pipeline and write its output: the alert, eve_alert and
    drop sinks to ``<out_dir>/<sink>`` (``write_sink``), returning the
    counter row.  The one writer of a batch run's sinks — the one-shot
    job, its warm-up and every checkpoint unit go through it."""
    res = run_pipeline(spark, transcripts, ruleset)
    try:
        # materialize the shared upstream (scan→match→correlate) once,
        # then run the three sink writes + counters as CONCURRENT Spark
        # jobs: the scheduler interleaves their stages, so per-action
        # barrier latency overlaps instead of summing (each alone
        # underutilizes the executor)
        res.correlated.count()
        with ThreadPoolExecutor(max_workers=4) as pool:
            fa = pool.submit(write_sink, res.alerts,
                             os.path.join(out_dir, "alert"))
            fe = pool.submit(write_sink, res.eve_alerts,
                             os.path.join(out_dir, "eve_alert"))
            fd = pool.submit(write_sink, res.drops,
                             os.path.join(out_dir, "drop"))
            fc = pool.submit(lambda: res.counters.collect()[0].asDict())
            fa.result(), fe.result(), fd.result()
            return fc.result()
    finally:
        res.unpersist()


__all__ = ["PipelineResult", "run_job", "run_pipeline", "to_eve_json"]
