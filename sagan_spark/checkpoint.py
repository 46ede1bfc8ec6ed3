"""Checkpointed per-partition lineage + metrics enabling resume
(north rule; the analog of the reference's persistent mmap state + stats,
/root/reference/etc/sagan.yaml:197-211, src/stats.c:51-180).

Model: the input is processed in *partition units* — deterministic slices
of the conv_id space (``bucket_of(conv_id) = pmod(hash(conv_id), n)``).
Each unit is a *complete* run of the pipeline over its conv bucket, so
conv-keyed correlation state is fully contained in a unit.

A run writes, per completed unit:
  (run_id, unit, status, rows_in, alerts, started_ts, finished_ts)
to ``<checkpoint_dir>/lineage/`` (parquet, append).  ``resume`` lists the
completed units and the driver skips them — restart-safe exactly-once at
unit granularity, because each unit's sink writes go to
``<sink>/unit=<k>/`` (idempotent overwrite per unit).

Limit: state keyed by *extracted IPs* (after/threshold/xbit/flexbit
tracks on parse_src_ip and the like) can cross units, and each unit folds
it separately, so a ``--checkpointed`` run is exact only for rulesets whose
state is conv-keyed (the fixture corpus, via the host fallback).  For
IP-keyed rulesets such as ``rules-entry/ipkeys`` it can emit different
alerts than the one-shot ``run_pipeline``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

LINEAGE_SCHEMA = ("run_id string, unit int, status string, rows_in long, "
                  "alerts long, wall_sec double, finished_ts string")


def unit_column(df: DataFrame, n_units: int) -> DataFrame:
    """Deterministic unit assignment: pmod(xxhash64(conv_id), n)."""
    return df.withColumn(
        "unit", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_units))
        .cast("int"))


def completed_units(spark: SparkSession, checkpoint_dir: str) -> set[int]:
    path = os.path.join(checkpoint_dir, "lineage")
    if not os.path.exists(path):
        return set()
    df = spark.read.parquet(path)
    return {r["unit"] for r in
            df.filter(F.col("status") == "done").select("unit").distinct()
            .collect()}


def record_unit(spark: SparkSession, checkpoint_dir: str, run_id: str,
                unit: int, rows_in: int, alerts: int,
                wall_sec: float) -> None:
    path = os.path.join(checkpoint_dir, "lineage")
    row = [(run_id, unit, "done", rows_in, alerts, wall_sec,
            time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))]
    spark.createDataFrame(row, LINEAGE_SCHEMA).write.mode("append") \
        .parquet(path)


def run_with_checkpoint(spark: SparkSession, transcripts: DataFrame,
                        ruleset, out_dir: str, run_id: str,
                        n_units: int = 8) -> dict:
    """Process the table unit-by-unit with lineage records; on restart,
    completed units are skipped.  Returns summary counts."""
    from .pipeline import run_pipeline

    ckpt = os.path.join(out_dir, "_checkpoint")
    done = completed_units(spark, ckpt)
    df = unit_column(transcripts, n_units)
    summary = {"units_total": n_units, "units_skipped": len(done),
               "alerts": 0, "rows": 0}
    for unit in range(n_units):
        if unit in done:
            continue
        t0 = time.time()
        part = df.filter(F.col("unit") == unit).drop("unit")
        res = run_pipeline(spark, part, ruleset)
        alerts_path = os.path.join(out_dir, "alert", f"unit={unit}")
        res.alerts.write.mode("overwrite").parquet(alerts_path)
        eve_path = os.path.join(out_dir, "eve_alert", f"unit={unit}")
        res.eve_alerts.write.mode("overwrite").parquet(eve_path)
        counters = res.counters.collect()[0].asDict()
        record_unit(spark, ckpt, run_id, unit,
                    counters["events_received"], counters["alert_total"],
                    time.time() - t0)
        summary["alerts"] += counters["alert_total"]
        summary["rows"] += counters["events_received"]
        # release exactly the frames THIS unit persisted — a blanket
        # clearCache would also evict caller-cached inputs, silently
        # recomputing them for every remaining unit
        res.unpersist()
    # run-level metrics doc
    with open(os.path.join(out_dir, f"metrics_{run_id}.json"), "w") as f:
        json.dump(summary, f)
    return summary
