"""Stage 4 — ENRICH: classification, reference and gen-msg lookups
(SURVEY §2.4).

The reference loads these tables once at startup and scans them linearly
per alert (classifications.c:151-169, references.c:141-209,
gen-msg.c:132-148).  Here each table is the ruleset's own dict, inlined
as one literal map: ``coalesce(map[key], '')`` is a narrow projection
that the optimizer folds to a single map constant, so enrichment adds no
join, no broadcast job and no driver-built lookup DataFrame to the plan.
The tables are ruleset-sized, never data-sized, at any input scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .rules.compiler import RuleSet


def _lookup(df: DataFrame, mapping: dict, *keys: str) -> Column:
    """``mapping[key]`` as a column, ``''`` for an absent or null key.

    A multi-column key is a struct of ``keys`` and ``mapping``'s keys are
    tuples in the same order.  Literal keys are cast to the key columns'
    types; ``mapping`` being a dict keeps them unique, which Spark's
    ``mapKeyDedupPolicy=EXCEPTION`` requires."""
    if not mapping:
        return F.lit("")
    types = [df.schema[k].dataType for k in keys]

    def lit_key(k) -> Column:
        vals = k if len(keys) > 1 else (k,)
        parts = [F.lit(v).cast(t).alias(name)
                 for v, t, name in zip(vals, types, keys)]
        return F.struct(*parts) if len(keys) > 1 else parts[0]

    m = F.create_map(*(c for k, v in mapping.items()
                       for c in (lit_key(k), F.lit(v))))
    key = F.col(keys[0]) if len(keys) == 1 else F.struct(*keys)
    return F.coalesce(m[key], F.lit(""))


def enrich_alerts(alerts: DataFrame, spark: SparkSession,
                  ruleset: RuleSet) -> DataFrame:
    """classtype → class_desc (J1).  The rule compiler already folded
    priority in; this re-derives class_desc for the alert sink exactly
    like Classtype_Lookup at output time (classifications.c:151-169)."""
    desc = {k: v[0] for k, v in ruleset.classifications.items()}
    return alerts.withColumn("class_desc",
                             _lookup(alerts, desc, "classtype"))


def attach_references(alerts: DataFrame, spark: SparkSession,
                      ruleset: RuleSet) -> DataFrame:
    """sid → the ``[Xref => url]`` suffix block (J2) that the reference
    appends to every alert (references.c:141-209): the URLs of every rule
    carrying that sid, duplicates kept, sorted and comma-joined.  A
    reference name missing from reference.config has an empty prefix."""
    urls: dict[int, list[str]] = {}
    for r in ruleset.rules:
        for name, rid in r.references:
            urls.setdefault(r.sid, []).append(
                ruleset.references.get(name, "") + rid)
    refs = {sid: ",".join(sorted(u)) for sid, u in urls.items()}
    return alerts.withColumn("ref_urls", _lookup(alerts, refs, "sid"))


def attach_gen_msg(alerts: DataFrame, spark: SparkSession,
                   ruleset: RuleSet) -> DataFrame:
    """(gid, sid) → generator message (J3), Generator_Lookup
    (gen-msg.c:132-148) on the alert's (gid, sid) pair."""
    return alerts.withColumn(
        "gen_msg", _lookup(alerts, ruleset.gen_msg, "gid", "sid"))
