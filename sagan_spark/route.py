"""Stage 6 — ROUTE: fan matched rows out to sinks + per-sink counts.

Sinks (SURVEY §2.1):
* ``alert``      — K1/K2 analog (one row per emitted alert;
                   output-plugins/alert.c:49-78 / fast.c:46-80)
* ``eve_alert``  — K3 Suricata-EVE-style record (json-handler.c:55-252)
* ``eve_log``    — K4: one record per *processed* turn
                   (json-handler.c:258-322, engine.c:1662-1668)
* ``drop``       — K10: ignore-list hits (sagan.c:1230-1248)

Per-sink aggregate counts are a correctness target (north rule); they are
computed as plain groupBy/count aggregations over the routed frames —
map-side partial aggregation, one tiny result row each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

GID = 5000001  # SAGAN_PROCESSOR_GENERATOR_ID analog (oracle/engine.py GID)

ALERT_COLUMNS = [
    # field set from alert.c:59-63 + send-alert.c:70-107, transcript-mapped;
    # class_desc is added by enrich.enrich_alerts (J1)
    "conv_id", "turn_idx", "ts", "gid", "sid", "rev", "msg", "classtype",
    "pri", "ip_src", "src_port", "ip_dst", "dst_port",
    "proto", "text", "action",
]


def _sent(but_sids: list[int]):
    """Rows that survive xbit/flexbit gating and after/threshold
    suppression — the Send_Alert set (engine.c:1470-1606) — of every
    rule but ``but_sids`` (the noalert/noeve flags, output.c:81-93)."""
    cond = (F.col("xbit_pass") & F.col("flexbit_pass") &
            ~F.col("suppress_after") & ~F.col("suppress_thresh"))
    return cond & ~F.col("sid").isin(but_sids) if but_sids else cond


def _is_alert(ruleset):
    """The one alert predicate, emitted and not a noalert rule: the rows
    of alert_sink and fast_sink, and the alert_total of sink_counts and
    perfmon_report."""
    return _sent([r.sid for r in ruleset.rules if r.noalert])


def alert_sink(correlated: DataFrame, ruleset) -> DataFrame:
    return (correlated.filter(_is_alert(ruleset))
            .withColumn("gid", F.lit(GID).cast("long"))
            .select(*ALERT_COLUMNS))


def eve_alert_sink(correlated: DataFrame, ruleset) -> DataFrame:
    """EVE alert projection (field list json-handler.c:113-216).  Kept as
    typed columns; ``to_eve_json`` renders the JSON string form."""
    noeve = [r.sid for r in ruleset.rules if r.noeve]
    return (correlated.filter(_sent(noeve))
            .withColumn("gid", F.lit(GID).cast("long"))
            .select(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSZ")
                 .alias("timestamp"),
                # deterministic synth flow id (FlowGetId analog,
                # src/util.c:1641-1660); md5-derived so the DuckDB oracle
                # computes the identical value (xxhash64 is Spark-only)
                F.conv(F.substring(F.md5(F.concat_ws(
                    "|", F.col("conv_id"),
                    F.col("turn_idx").cast("string"))), 1, 15), 16, 10)
                .cast("long").alias("flow_id"),
                F.lit("alert").alias("event_type"),
                F.col("ip_src").alias("src_ip"),
                F.col("src_port"),
                F.col("ip_dst").alias("dest_ip"),
                F.col("dst_port").alias("dest_port"),
                F.col("proto"),
                F.base64(F.col("text").cast("binary")).alias("payload"),
                F.col("action"),
                F.col("gid"),
                F.col("sid").alias("signature_id"),
                F.col("rev"),
                F.col("msg").alias("signature"),
                F.col("classtype").alias("category"),
                F.col("pri").alias("severity"),
                F.col("conv_id"), F.col("turn_idx"),
            ))


def to_eve_json(eve_alerts: DataFrame) -> DataFrame:
    """Render EVE rows as one JSON string column (F.to_json over a struct —
    JVM-side, codegen'd)."""
    alert_struct = F.struct(
        F.col("action"), F.col("gid"), F.col("signature_id"), F.col("rev"),
        F.col("signature"), F.col("category"), F.col("severity"))
    top = F.struct(
        F.col("timestamp"), F.col("flow_id"), F.col("event_type"),
        F.col("src_ip"), F.col("src_port"), F.col("dest_ip"),
        F.col("dest_port"), F.col("proto"), F.col("payload"),
        alert_struct.alias("alert"))
    return eve_alerts.select(
        "conv_id", "turn_idx", F.to_json(top).alias("eve"))


_PROTO_NUM = {"icmp": 1, "tcp": 6, "udp": 17}   # IP protocol numbers


def fast_sink(correlated: DataFrame, ruleset) -> DataFrame:
    """K2 — the one-line Snort "fast" format
    (src/output-plugins/fast.c:46-80): ``MM/DD/YYYY-HH:MM:SS.uuuuuu
    [**] [gid:sid:rev] msg [**] [Classification: class] [Priority: p]
    [Program: prog] {PROTO} src:sport -> dst:dport``.  Timestamp via
    CreateTimeString type-0 (src/util-time.c:49-64, UTC session);
    Event->class is the classtype shortname (cf. the strcmp against
    s_shortname in unified2.c:155-159)."""
    e = (correlated.filter(_is_alert(ruleset))
         .withColumn("gid", F.lit(GID).cast("long")))
    proto_up = F.upper("proto")
    proto_tag = F.when(F.lower("proto").isin(*_PROTO_NUM), proto_up) \
                 .otherwise(F.lit("UNKNOWN"))
    line = F.concat(
        F.date_format("ts", "MM/dd/yyyy-HH:mm:ss.SSSSSS"),
        F.lit(" [**] ["), F.col("gid").cast("string"),
        F.lit(":"), F.col("sid").cast("string"),
        F.lit(":"), F.col("rev").cast("string"),
        F.lit("] "), F.col("msg"),
        F.lit(" [**] [Classification: "), F.col("classtype"),
        F.lit("] [Priority: "), F.col("pri").cast("string"),
        F.lit("] [Program: "), F.col("tool"),
        F.lit("] {"), proto_tag, F.lit("} "),
        F.col("ip_src"), F.lit(":"), F.col("src_port").cast("string"),
        F.lit(" -> "),
        F.col("ip_dst"), F.lit(":"), F.col("dst_port").cast("string"))
    return e.select("conv_id", "turn_idx", line.alias("fast_line"))


def unified2_sink(correlated: DataFrame, ruleset) -> DataFrame:
    """K5 — the unified2 alert record as a typed routed table (SURVEY
    §2.1: skip the binary format, keep the field set of
    src/output-plugins/unified2.c:140-175): sensor/epoch/µs, sig triple,
    classification_id = 1-based position in classification.config load
    order (unified2.c:151-159), priority, addresses, ports, IP protocol
    number, blocked flag from the drop action."""
    cls_ids = [(name, i + 1)
               for i, name in enumerate(ruleset.classifications)]
    class_id = (F.coalesce(F.create_map(
        *[F.lit(x) for pair in cls_ids for x in pair])[F.col("classtype")],
        F.lit(0)) if cls_ids else F.lit(0))
    e = correlated.filter(_sent([]))
    proto_num = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _PROTO_NUM.items() for x in kv])
        [F.lower("proto")], F.lit(0))
    return e.select(
        "conv_id", "turn_idx",
        F.lit(0).alias("sensor_id"),
        F.col("epoch").alias("event_second"),
        (F.unix_micros("ts") % 1_000_000).cast("int")
        .alias("event_microsecond"),
        F.lit(GID).cast("long").alias("generator_id"),
        F.col("sid").alias("signature_id"),
        F.col("rev").alias("signature_revision"),
        class_id.cast("int").alias("classification_id"),
        F.col("pri").alias("priority_id"),
        F.col("ip_src").alias("ip_source"),
        F.col("ip_dst").alias("ip_destination"),
        F.col("src_port").alias("sport_itype"),
        F.col("dst_port").alias("dport_icode"),
        proto_num.cast("int").alias("protocol"),
        F.when(F.col("action") == "drop", 1).otherwise(0).cast("int")
        .alias("blocked"))


def track_client_transitions(parsed: DataFrame,
                             timeout_sec: int) -> DataFrame:
    """A9 — track-clients quiet/return alerting
    (src/processors/track-clients.c:72-367): a source quiet for longer
    than the timeout gets a DOWN record; its next message gets an UP
    record.  Batch analog: consecutive-event gaps per conv_id via one
    window (lag), plus a trailing DOWN when the source never returns
    before the table's horizon (max epoch).

    Scale: one shuffle keyed by conv_id (the window partition); the
    horizon is a scalar broadcast from a single-row aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("epoch", "turn_idx")
    gaps = (parsed
            .withColumn("prev_epoch", F.lag("epoch").over(w))
            .filter(F.col("prev_epoch").isNotNull() &
                    (F.col("epoch") - F.col("prev_epoch") > timeout_sec))
            .select("conv_id",
                    F.col("prev_epoch").alias("down_epoch"),
                    F.col("epoch").alias("up_epoch")))
    horizon = parsed.agg(F.max("epoch").alias("horizon"))
    tail = (parsed.groupBy("conv_id")
            .agg(F.max("epoch").alias("last_seen"))
            .crossJoin(F.broadcast(horizon))
            .filter(F.col("horizon") - F.col("last_seen") > timeout_sec)
            .select("conv_id", F.col("last_seen").alias("down_epoch"),
                    F.lit(None).cast("long").alias("up_epoch")))
    return gaps.unionByName(tail)


def perfmon_report(parsed: DataFrame, correlated: DataFrame, ruleset,
                   interval_sec: int = 3600) -> DataFrame:
    """A8 — the perfmonitor periodic-counter CSV
    (src/processors/perfmon.c:132-193) as per-interval delta rows:
    events received / gated matches (saganfound) / alerts (noalert
    rules excluded, as in sink_counts) per epoch bucket.  Two map-side
    aggregations + one tiny outer join on the bucket key."""
    bucket = (F.floor(F.col("epoch") / interval_sec) * interval_sec) \
        .alias("bucket")
    recv = parsed.groupBy(bucket).agg(
        F.count("*").alias("events_received"))
    gated = correlated.filter(F.col("xbit_pass") & F.col("flexbit_pass"))
    found = gated.groupBy(bucket).agg(F.count("*").alias("saganfound"))
    alerts = (correlated.filter(_is_alert(ruleset)).groupBy(bucket)
              .agg(F.count("*").alias("alert_total")))
    return (recv.join(found, "bucket", "left")
            .join(alerts, "bucket", "left")
            .select("bucket", "events_received",
                    F.coalesce("saganfound", F.lit(0)).alias("saganfound"),
                    F.coalesce("alert_total", F.lit(0))
                    .alias("alert_total")))


def eve_log_sink(kept: DataFrame) -> DataFrame:
    """event_type:"log" record per processed turn (json-handler.c:258-322)."""
    return kept.select(
        "conv_id", "turn_idx", "ts",
        F.lit("log").alias("event_type"), "text")


def drop_sink(dropped: DataFrame) -> DataFrame:
    return dropped.select("conv_id", "turn_idx", "ts", "text")


def sink_counts(correlated: DataFrame, parsed: DataFrame,
                ignore_cond, ruleset) -> DataFrame:
    """The counter block (src/sagan.h:194-345, stats.c:109-114):
    one aggregate row.  saganfound counts gated matches pre-suppression
    (engine.c:1543); after_total counts after-rule fires (after.c:147);
    threshold_total counts threshold suppressions (threshold.c:147).

    The received/processed/ignored triple is ONE conditional aggregation
    pass over the parsed frame (map-side partial agg) — not separate
    kept/dropped scans, which would each recompute the upstream."""
    gated = correlated.filter(F.col("xbit_pass") & F.col("flexbit_pass"))
    agg = gated.agg(
        F.count("*").alias("saganfound"),
        F.sum(F.when(F.col("after_key").isNotNull() &
                     ~F.col("suppress_after"), 1).otherwise(0)
              ).alias("after_total"),
        F.sum(F.when(F.col("suppress_thresh"), 1).otherwise(0)
              ).alias("threshold_total"),
        F.sum(F.when(_is_alert(ruleset), 1).otherwise(0)
              ).alias("alert_total"),
    )
    base = parsed.agg(
        F.count("*").alias("events_received"),
        F.sum(F.when(ignore_cond, 1).otherwise(0)).alias("ignore_count"))
    return base.crossJoin(agg).select(
        "events_received",
        (F.col("events_received") - F.coalesce("ignore_count", F.lit(0))
         ).alias("events_processed"),
        F.coalesce("ignore_count", F.lit(0)).alias("ignore_count"),
        "saganfound",
        F.coalesce("alert_total", F.lit(0)).alias("alert_total"),
        F.coalesce("after_total", F.lit(0)).alias("after_total"),
        F.coalesce("threshold_total", F.lit(0)).alias("threshold_total"),
    )
