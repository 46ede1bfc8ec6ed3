"""§3.3 — dynamic rule loading, batch-reinterpreted.

Reference behavior (/root/reference/src/processors/dynamic-rules.c:58-182,
sampling src/processor.c:171-193, gate engine.c:396):

* rules carrying ``dynamic_load: <ruleset>`` are evaluated ONLY on
  sampled lines (every ``dynamic_load_sample_rate``-th processed line);
* on a match, the named ruleset is hot-loaded once and ONE alert fires
  for the triggering line; subsequent matches are silent
  (already-loaded → return 0, dynamic-rules.c:73-82);
* newly loaded rules see lines processed after the load.

Batch reinterpretation (documented deviations, both deterministic where
the reference is timing-dependent):

* sampling: the reference's shared line counter is thread-racy; here a
  row is sampled when ``md5-hash(conv_id|turn_idx) % rate == 0`` — the
  same 1-in-rate density, order-free (scale-safe, no global sort), and
  engine-portable so the DuckDB oracle derives the identical sample;
* the one alert per triggered ruleset goes to the FIRST triggering row
  in deterministic (epoch, conv_id, turn_idx) order;
* loaded rulesets apply to the WHOLE batch (a superset of the
  reference's mid-stream cutover, which depends on arrival timing).

Two-pass plan: pass 1 matches only the dynamic-detection rules over the
sampled rows (a tiny fraction); the triggered ruleset names collect to
the driver (small), compile, and union into the base ruleset for the
full pass 2.  At 10^12 turns pass 1 scans ``1/rate`` of the input with a
handful of rules — the sampling predicate is codegen'd above the scan.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from .match import run_match
from .parse import parse_transcripts, split_ignored
from .rules.compiler import RuleSet, compile_ruleset_from_dir


def sample_cond(rate: int):
    """Deterministic 1-in-rate sampling predicate (md5-derived so DuckDB
    computes the identical sample; xxhash64 would be Spark-only)."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col("conv_id"), F.col("turn_idx").cast("string"))),
        1, 8), 16, 10).cast("long")
    return (h % rate) == 0


def split_dynamic(ruleset: RuleSet) -> tuple[RuleSet, RuleSet]:
    """(normal rules, dynamic-detection rules) — the engine.c:396 gate:
    dynamic rules never run in the normal pass."""
    normal = tuple(r for r in ruleset.rules if not r.dynamic_load)
    dyn = tuple(r for r in ruleset.rules if r.dynamic_load)
    return (replace(ruleset, rules=normal), replace(ruleset, rules=dyn))


def require_no_dynamic(ruleset: RuleSet) -> None:
    """Raise ValueError if any rule carries ``dynamic_load``: such a rule
    runs only on sampled rows and loads its ruleset on a hit
    (engine.c:396), which only ``run_pipeline_dynamic`` does — matched as
    an ordinary rule it would alert on every hit and load nothing."""
    sids = sorted(r.sid for r in ruleset.rules if r.dynamic_load)
    if sids:
        raise ValueError(
            f"sids {sids} carry dynamic_load; run the ruleset through "
            "run_pipeline_dynamic, which samples them and loads what they "
            "name")


def detect_dynamic(parsed: DataFrame, dyn_rs: RuleSet,
                   sample_rate: int) -> DataFrame:
    """Pass 1: dynamic-detection matches over the sampled rows, plus the
    first-trigger flag per ruleset (ROW_NUMBER over the deterministic
    order — the one-alert-per-load rule, dynamic-rules.c:73-120)."""
    from pyspark.sql import Window

    kept, _ = split_ignored(parsed, dyn_rs.ignore_list)
    sampled = kept.filter(sample_cond(sample_rate))
    matches = run_match(sampled, dyn_rs)
    w = Window.partitionBy("rule_idx").orderBy("epoch", "conv_id",
                                               "turn_idx")
    return matches.withColumn(
        "first_trigger", F.row_number().over(w) == 1)


def run_pipeline_dynamic(spark: SparkSession, transcripts: DataFrame,
                         ruleset: RuleSet, rules_root: str,
                         sample_rate: int = 5):
    """Full dynamic flow: detect → load → merged pass 2.

    Returns (PipelineResult, loaded_names); the result's ``detections``
    holds the detection alerts."""
    from .pipeline import run_pipeline

    base_rs, dyn_rs = split_dynamic(ruleset)
    parsed = parse_transcripts(transcripts)
    det = detect_dynamic(parsed, dyn_rs, sample_rate)
    det = det.persist()
    triggered_idx = [r["rule_idx"] for r in
                     det.select("rule_idx").distinct().collect()]
    loaded_names = sorted({dyn_rs.rules[i].dynamic_load
                           for i in triggered_idx})
    merged = base_rs
    seen_sids = {r.sid for r in base_rs.rules}
    for name in loaded_names:
        extra = compile_ruleset_from_dir(os.path.join(rules_root, name))
        new = tuple(r for r in extra.rules if r.sid not in seen_sids)
        seen_sids |= {r.sid for r in new}
        merged = replace(merged, rules=merged.rules + new)
    res = run_pipeline(spark, transcripts, merged)
    # the detection frame rides the result's unpersist() lifecycle so
    # long-lived sessions don't accumulate cached partitions per call
    res.persisted.append(det)
    res.detections = (det.filter(F.col("first_trigger"))
                      .select("conv_id", "turn_idx", "sid", "ip_src",
                              "ip_dst", "msg", "classtype"))
    return res, loaded_names
