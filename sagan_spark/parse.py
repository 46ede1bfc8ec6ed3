"""Stage 1 — PARSE: column normalization + malformed-field counters.

The reference's pipe-format parser replaces missing fields with sentinel
strings and counts them, never hard-failing
(/root/reference/src/input-pipe.c:151-163, counters src/sagan.h:214-222).
Same contract here: nulls become sentinels, with per-field malformed
counts surfaced as a metrics DataFrame.  All expressions are JVM-side
(whole-stage codegen) — no UDFs in this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# sentinel analogs of "SAGAN: * ERROR" (input-pipe.c:151-163)
SENTINELS = {
    "role": "UNDEFINED",
    "tool": "UNDEFINED",
    "text": "",
    "conv_id": "UNKNOWN_HOST",
}


def parse_transcripts(df: DataFrame) -> DataFrame:
    """Normalize a raw transcripts DataFrame: sentinel-fill nulls, add
    ``epoch`` seconds (the correlation clock, after.c:63-65 analog) and a
    ``malformed`` bitmap column for the counters aggregation."""
    malformed = (
        F.when(F.col("text").isNull(), 1).otherwise(0) * 1 +
        F.when(F.col("role").isNull(), 1).otherwise(0) * 2 +
        F.when(F.col("tool").isNull(), 1).otherwise(0) * 4 +
        F.when(F.col("conv_id").isNull(), 1).otherwise(0) * 8
    )
    return (
        df.withColumn("malformed", malformed)
        .withColumn("conv_id", F.coalesce("conv_id",
                                          F.lit(SENTINELS["conv_id"])))
        .withColumn("role", F.coalesce("role", F.lit(SENTINELS["role"])))
        .withColumn("tool", F.coalesce("tool", F.lit(SENTINELS["tool"])))
        .withColumn("text", F.coalesce("text", F.lit(SENTINELS["text"])))
        .withColumn("epoch", F.unix_timestamp("ts").cast("long"))
    )


def malformed_counts(parsed: DataFrame) -> DataFrame:
    """malformed_text / malformed_role / ... counters
    (src/sagan.h:214-222)."""
    return parsed.agg(
        F.count("*").alias("events_received"),
        F.sum(F.when(F.col("malformed").bitwiseAND(1) > 0, 1).otherwise(0)
              ).alias("malformed_text"),
        F.sum(F.when(F.col("malformed").bitwiseAND(2) > 0, 1).otherwise(0)
              ).alias("malformed_role"),
        F.sum(F.when(F.col("malformed").bitwiseAND(4) > 0, 1).otherwise(0)
              ).alias("malformed_tool"),
        F.sum(F.when(F.col("malformed").bitwiseAND(8) > 0, 1).otherwise(0)
              ).alias("malformed_host"),
    )


def ignore_condition(ignore_list: tuple[str, ...]):
    """Ignore-list predicate (src/sagan.c:1230-1248) as a JVM-side
    substring alternation — codegen'd, pushable right above the scan."""
    if not ignore_list:
        return F.lit(False)
    cond = None
    for s in ignore_list:
        c = F.col("text").contains(F.lit(s))
        cond = c if cond is None else (cond | c)
    return cond


def split_ignored(parsed: DataFrame, ignore_list: tuple[str, ...]
                  ) -> tuple[DataFrame, DataFrame]:
    """Ignore-list short-circuit as a Spark-native filter.  Returns
    (kept, dropped)."""
    if not ignore_list:
        return parsed, parsed.limit(0)
    cond = ignore_condition(ignore_list)
    return parsed.filter(~cond), parsed.filter(cond)
