"""End-to-end pipeline composition: parse → match → correlate → enrich →
route (SURVEY §3.4).

The plan, stage by stage:

  read transcripts (parquet / Iceberg when available; bucket(conv_id)
      partition spec at scale)
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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .correlate import run_correlate
from .enrich import attach_gen_msg, attach_references, enrich_alerts
from .match import run_match
from .parse import (
    ignore_condition,
    malformed_counts,
    parse_transcripts,
    split_ignored,
)
from .route import (
    alert_sink,
    drop_sink,
    eve_alert_sink,
    eve_log_sink,
    sink_counts,
    to_eve_json,
)
from .rules.compiler import RuleSet, compile_ruleset_from_dir


@dataclass
class PipelineResult:
    alerts: DataFrame
    eve_alerts: DataFrame
    eve_logs: DataFrame
    drops: DataFrame
    counters: DataFrame
    malformed: DataFrame
    correlated: DataFrame   # pre-route, for inspection/metrics
    persisted: list = None  # frames this run persisted (for unpersist())

    def unpersist(self) -> None:
        """Release exactly the frames this pipeline persisted — callers'
        own cached DataFrames are untouched (no clearCache)."""
        for df in self.persisted or ():
            df.unpersist()


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 ruleset: RuleSet) -> PipelineResult:
    from pyspark import StorageLevel

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
        eve_logs=eve_log_sink(kept),
        drops=drop_sink(dropped),
        counters=sink_counts(correlated, parsed,
                             ignore_condition(ruleset.ignore_list), ruleset),
        malformed=malformed_counts(parsed),
        correlated=correlated,
        persisted=[correlated],
    )


def run_pipeline_from_dir(spark: SparkSession, transcripts: DataFrame,
                          rules_dir: str) -> PipelineResult:
    return run_pipeline(spark, transcripts,
                        compile_ruleset_from_dir(rules_dir))


__all__ = ["PipelineResult", "run_pipeline", "run_pipeline_from_dir",
           "to_eve_json"]
