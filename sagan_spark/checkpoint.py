"""Checkpointed per-partition lineage + metrics enabling resume
(north rule; the analog of the reference's persistent mmap state + stats,
/root/reference/etc/sagan.yaml:197-211, src/stats.c:51-180).

Model: the input is processed in *partition units* — deterministic slices
of the conv_id space (``bucket_of(conv_id) = pmod(hash(conv_id), n)``).
Each unit is one ``pipeline.run_job`` over its conv bucket, writing the
alert, eve_alert and drop sinks to ``<out>/unit=<k>/<sink>`` (overwritten
whole if a unit reruns).

A completed unit appends
  (run_id, unit, n_units, status, counters, wall_sec, finished_ts)
to ``<out>/_checkpoint/lineage/`` (parquet), where ``counters`` is the
unit's full counter row.  A rerun skips the units listed there and
returns the counters summed over every completed unit, so a run killed
and resumed ends with the one-shot run's counter row and the union of
its sink rows — restart-safe exactly-once at unit granularity.  A rerun
asking for another unit count is refused: its units would overlap the
recorded ones.

That holds only while every correlation store is keyed by conv_id
(``correlate.cluster_modes`` is ``conv`` for every cluster), so no state
crosses units.  ``run_with_checkpoint`` rejects any other ruleset before
a unit runs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .correlate import cluster_modes, state_groups
from .pipeline import run_job

LINEAGE_SCHEMA = ("run_id string, unit int, n_units int, status string, "
                  "counters map<string, bigint>, wall_sec double, "
                  "finished_ts string")


def require_conv_keyed(ruleset) -> None:
    """Raise ValueError unless every state cluster is keyed by conv_id:
    only then is a run split by conv bucket lossless."""
    groups = state_groups(ruleset)
    modes = cluster_modes(ruleset, groups)
    sids = sorted({r.sid for i, r in enumerate(ruleset.rules)
                   if modes[groups[i]] != "conv"})
    if sids:
        raise ValueError(
            f"sids {sids} keep correlation state keyed by extracted "
            "fields, not conv_id, so it crosses conv units; a run split "
            "by conv bucket would fold it per unit and differ from the "
            "one-shot run")


def unit_column(df: DataFrame, n_units: int) -> DataFrame:
    """Deterministic unit assignment: pmod(xxhash64(conv_id), n)."""
    return df.withColumn(
        "unit", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_units))
        .cast("int"))


def completed_units(spark: SparkSession, checkpoint_dir: str,
                    n_units: int) -> dict[int, dict]:
    """unit → the counter row its lineage recorded, for completed units.
    Raises ValueError if any was split with another unit count."""
    path = os.path.join(checkpoint_dir, "lineage")
    if not os.path.exists(path):
        return {}
    rows = (spark.read.parquet(path).filter(F.col("status") == "done")
            .select("unit", "n_units", "counters").collect())
    other = sorted({r["n_units"] for r in rows} - {n_units})
    if other:
        raise ValueError(
            f"the checkpoint holds units of a split into {other} units; "
            f"a resume into {n_units} units would sum overlapping units")
    return {r["unit"]: r["counters"] for r in rows}


def record_unit(spark: SparkSession, checkpoint_dir: str, run_id: str,
                unit: int, n_units: int, counters: dict,
                wall_sec: float) -> None:
    path = os.path.join(checkpoint_dir, "lineage")
    row = [(run_id, unit, n_units, "done", counters, wall_sec,
            time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))]
    spark.createDataFrame(row, LINEAGE_SCHEMA).write.mode("append") \
        .parquet(path)


def run_with_checkpoint(spark: SparkSession, transcripts: DataFrame,
                        ruleset, out_dir: str, run_id: str,
                        n_units: int = 8) -> dict:
    """Process the table unit-by-unit with lineage records; on restart,
    completed units are skipped.  Returns the unit counts and the counter
    row summed over every completed unit."""
    require_conv_keyed(ruleset)
    ckpt = os.path.join(out_dir, "_checkpoint")
    done = completed_units(spark, ckpt, n_units)
    summary = {"units_total": n_units, "units_skipped": len(done)}
    df = unit_column(transcripts, n_units)
    for unit in range(n_units):
        if unit in done:
            continue
        t0 = time.time()
        part = df.filter(F.col("unit") == unit).drop("unit")
        done[unit] = run_job(spark, part, ruleset,
                             os.path.join(out_dir, f"unit={unit}"))
        record_unit(spark, ckpt, run_id, unit, n_units, done[unit],
                    time.time() - t0)
    for counters in done.values():
        for k, v in counters.items():
            summary[k] = summary.get(k, 0) + v
    return summary
