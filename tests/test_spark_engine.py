"""Golden equality: the Spark pipeline must reproduce the pure-Python
oracle exactly — routed rows per sink ordered by (conv_id, turn_idx, sid)
and per-sink aggregate counts (SURVEY §5.2 item 2; the north rule's
routed-row equality criterion)."""

import pandas as pd
import pytest

from oracle.engine import Event, OracleEngine
from sagan_spark.datagen import gen_rows
from sagan_spark.pipeline import run_pipeline
from sagan_spark.rules.compiler import compile_ruleset, compile_ruleset_from_dir

ALERT_CMP = ["conv_id", "turn_idx", "sid", "rev", "msg", "classtype",
             "pri", "ip_src", "src_port", "ip_dst", "dst_port", "proto",
             "text", "action"]


def spark_df_from_rows(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


def run_both(spark, rows, ruleset):
    oracle = OracleEngine(ruleset)
    o = oracle.run([Event(**r) for r in rows])
    res = run_pipeline(spark, spark_df_from_rows(spark, rows), ruleset)
    return o, res


def assert_alerts_equal(o, res):
    got = (res.alerts.toPandas()
           .sort_values(["conv_id", "turn_idx", "sid"])
           .reset_index(drop=True))
    want = pd.DataFrame(o["alerts"], columns=ALERT_CMP + ["ts", "gid",
                                                          "class_desc"])
    if len(want) == 0:
        assert len(got) == 0
        return
    want = want.sort_values(["conv_id", "turn_idx", "sid"]
                            ).reset_index(drop=True)
    for col in ALERT_CMP:
        assert got[col].tolist() == want[col].tolist(), f"mismatch in {col}"
    assert got["class_desc"].tolist() == want["class_desc"].tolist()


def assert_counters_equal(o, res, keys=("events_received",
                                        "events_processed", "ignore_count",
                                        "saganfound", "alert_total",
                                        "after_total", "threshold_total")):
    got = res.counters.toPandas().iloc[0].to_dict()
    for k in keys:
        assert int(got[k]) == o["counters"][k], \
            f"{k}: spark={got[k]} oracle={o['counters'][k]}"


@pytest.fixture(scope="module")
def fixture_ruleset():
    return compile_ruleset_from_dir("rules-fixtures")


def test_full_fixture_corpus_equality(spark, fixture_ruleset):
    """The headline golden test: full 28-rule corpus over the generated
    transcripts — routed-row + counter equality."""
    rows = gen_rows(60)   # ~900 turns incl. 2 hot conversations
    o, res = run_both(spark, rows, fixture_ruleset)
    assert o["counters"]["alert_total"] > 0
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)
    # drop sink equality
    got_drops = (res.drops.toPandas()
                 .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert len(got_drops) == len(o["drops"])
    assert got_drops["turn_idx"].tolist() == \
        [d["turn_idx"] for d in o["drops"]]


def test_after_threshold_equality(spark):
    """Dense bursts straddling window boundaries (S-1, S, S+1 edges)."""
    from datetime import datetime, timezone
    T0 = 1704067200
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"aft"; content:"login failed";'
        ' after: track by_src, count 2, seconds 60; sid:1;)\n'
        'alert syslog any any -> any any (msg:"thr"; content:"login failed";'
        ' threshold: type limit, track by_src, count 2, seconds 60; sid:2;)')
    rows = []
    for conv in range(4):
        offs = [0, 30, 59, 60, 61, 120, 121, 300, 310, 320]
        for t, off in enumerate(offs):
            rows.append({
                "conv_id": f"c{conv}", "turn_idx": t, "role": "user",
                "text": "login failed", "tool": "sshd",
                "ts": datetime.fromtimestamp(T0 + conv * 7 + off,
                                             tz=timezone.utc)})
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_xbit_pair_equality(spark):
    from datetime import datetime, timezone
    T0 = 1704067200
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"s1"; content:"stage1"; '
        'xbits: set,sb,track ip_src,expire 100; sid:1;)\n'
        'alert syslog any any -> any any (msg:"s2"; content:"stage2"; '
        'xbits: isset,sb,track ip_src; sid:2;)')
    rows = []
    for conv in range(3):
        seq = [("stage2 early", 0), ("stage1 go", 10), ("stage2 hit", 50),
               ("stage2 expired", 250), ("stage1 again", 260),
               ("stage2 rehit", 270)]
        for t, (txt, off) in enumerate(seq):
            rows.append({
                "conv_id": f"c{conv}", "turn_idx": t, "role": "user",
                "text": txt, "tool": "sshd",
                "ts": datetime.fromtimestamp(T0 + conv * 3 + off,
                                             tz=timezone.utc)})
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_eve_log_and_malformed(spark, fixture_ruleset):
    from sagan_spark.parse import (malformed_counts, parse_transcripts,
                                   split_ignored)
    from sagan_spark.route import eve_log_sink
    rows = gen_rows(10)
    rows[3] = {**rows[3], "text": None}
    rows[4] = {**rows[4], "role": None}
    df = spark_df_from_rows(spark, rows)
    parsed = parse_transcripts(df)
    m = malformed_counts(parsed).toPandas().iloc[0]
    assert int(m["malformed_text"]) == 1
    assert int(m["malformed_role"]) == 1
    assert int(m["events_received"]) == len(rows)
    # eve_log = processed (non-ignored) rows
    kept, _ = split_ignored(parsed, fixture_ruleset.ignore_list)
    c = run_pipeline(spark, df, fixture_ruleset).counters.toPandas().iloc[0]
    assert eve_log_sink(kept).count() == int(c["events_processed"])


def test_eve_json_rendering(spark, fixture_ruleset):
    import json

    from sagan_spark.pipeline import to_eve_json
    rows = gen_rows(8)
    res = run_pipeline(spark, spark_df_from_rows(spark, rows),
                       fixture_ruleset)
    j = to_eve_json(res.eve_alerts).limit(1).toPandas()
    if len(j):
        doc = json.loads(j["eve"].iloc[0])
        # field parity with json-handler.c:113-216
        for k in ("timestamp", "flow_id", "event_type", "src_ip",
                  "dest_ip", "proto", "payload", "alert"):
            assert k in doc
        for k in ("action", "gid", "signature_id", "rev", "signature",
                  "category", "severity"):
            assert k in doc["alert"]


def test_hot_conversation_skew(spark, fixture_ruleset):
    """Zipf-hot conversations (FIXTURES §1) still produce exact results —
    the AQE/skew path changes physical distribution, never semantics."""
    rows = gen_rows(20, hot_convs=3, hot_len=400)
    o, res = run_both(spark, rows, fixture_ruleset)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def _rows_from(seqs):
    """seqs: {conv: [(turn, text, epoch_off), ...]} → row dicts."""
    from datetime import datetime, timezone
    T0 = 1704067200
    rows = []
    for conv, items in seqs.items():
        for t, txt, off in items:
            rows.append({
                "conv_id": conv, "turn_idx": t, "role": "user",
                "text": txt, "tool": "sshd",
                "ts": datetime.fromtimestamp(T0 + off, tz=timezone.utc)})
    return rows


def test_flexbit_conv_keyed_equality(spark):
    """Flexbits on the conv-fallback fast path: set/isset/unset/expiry
    through the unified engine-order fold."""
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"set"; content:"reboot"; '
        'flexbits: set,wr,100; sid:1;)\n'
        'alert syslog any any -> any any (msg:"chk"; content:"avoff"; '
        'flexbits: isset,by_src,wr; sid:2;)\n'
        'alert syslog any any -> any any (msg:"off"; content:"clear"; '
        'flexbits: unset,by_src,wr; sid:3;)')
    rows = _rows_from({
        "c1": [(0, "avoff early", 0), (1, "reboot", 10), (2, "avoff", 50),
               (3, "clear", 60), (4, "avoff post-unset", 70),
               (5, "reboot", 80), (6, "avoff expired", 300)],
        "c2": [(0, "avoff other conv", 55)],
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_flexbit_general_path_equality(spark):
    """Flexbits with parse-extracted IPs take the serial flexbit stage
    (reverse direction across extracted address pairs)."""
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"out"; content:"outbound"; '
        'parse_src_ip: 1; parse_dst_ip: 2; flexbits: set,cv,1000; sid:1;)\n'
        'alert syslog any any -> any any (msg:"in"; content:"inbound"; '
        'parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset,reverse,cv; '
        'sid:2;)')
    rows = _rows_from({
        "c1": [(0, "outbound 10.0.0.1 to 10.0.0.2", 0),
               (1, "inbound 10.0.0.2 to 10.0.0.1", 10),
               (2, "inbound 10.0.0.1 to 10.0.0.2", 20),
               (3, "inbound 10.0.0.3 to 10.0.0.1", 30)],
        "c2": [(0, "outbound 10.0.1.1 to 10.0.1.2", 5),
               (1, "inbound 10.0.1.2 to 10.0.1.1", 15)],
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_xbit_with_after_conv_keyed_equality(spark):
    """xbit⊕after in one rule — allowed on the conv-keyed path, exact
    engine-order interleaving (engine.c:1132/1516/1560)."""
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"arm"; content:"arm"; '
        'xbits: set,ab,track ip_src,expire 1000; sid:1;)\n'
        'alert syslog any any -> any any (msg:"m"; content:"hit"; '
        'xbits: isset,ab,track ip_src; '
        'after: track by_src, count 1, seconds 300; sid:2;)')
    rows = _rows_from({
        "c1": [(0, "hit", 0), (1, "arm", 10), (2, "hit", 20), (3, "hit", 30),
               (4, "hit", 40)],
        "c2": [(0, "arm", 0), (1, "hit", 5), (2, "hit", 15)],
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_multi_track_xbits_conv_keyed(spark):
    """Two xbits with different tracks in one rule (lifted restriction)."""
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"a"; content:"seta"; '
        'xbits: set,ba,track ip_src,expire 1000; sid:1;)\n'
        'alert syslog any any -> any any (msg:"b"; content:"setb"; '
        'xbits: set,bb,track ip_pair,expire 1000; sid:2;)\n'
        'alert syslog any any -> any any (msg:"c"; content:"check"; '
        'xbits: isset,ba,track ip_src; xbits: isset,bb,track ip_pair; '
        'sid:3;)')
    rows = _rows_from({
        "c1": [(0, "check", 0), (1, "seta", 10), (2, "check", 20),
               (3, "setb", 30), (4, "check", 40)],
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_after_ports_only_track_general_path(spark):
    """after track by_srcport&by_dstport (no conv component) must NOT take
    the conv-partitioned path — the key is global across conversations
    (ADVICE item: conv partitioning would fragment one shared counter)."""
    from sagan_spark.correlate import cluster_modes
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; '
        'content:"connection from"; parse_src_ip: 1; '
        'after: track by_srcport&by_dstport, count 1, seconds 300; sid:1;)')
    assert cluster_modes(rules) == {0: "store"}
    rows = _rows_from({
        "a": [(0, "connection from 1.1.1.1:99", 0),
              (1, "connection from 1.1.1.1:77", 2)],
        "b": [(0, "connection from 2.2.2.2:99", 1)],
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_ports_only_track_fallback_rejects_conv_path(spark):
    """Same advice item, fallback addressing: by_username-only track on a
    rule without extraction yields one global key — must leave the
    conv-keyed fast path rather than fragment the counter."""
    from sagan_spark.correlate import cluster_modes
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; content:"probe"; '
        'after: track by_username, count 2, seconds 300; sid:1;)')
    assert cluster_modes(rules) == {0: "store"}
    rows = _rows_from({
        "a": [(0, "probe", 0), (1, "probe", 2)],
        "b": [(0, "probe", 1), (1, "probe", 3)],
    })
    o, res = run_both(spark, rows, rules)
    # global counter: suppress first 2 (count 2), fire on 3rd and 4th
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_intel_and_geoip_gates_equality(spark):
    intel = ("198.51.100.7\tIntel::ADDR\tfeed1\n"
             "evil-domain.example\tIntel::DOMAIN\tfeed1\n")
    geo = "198.51.100.0/24,RU\n203.0.113.0/24,US\n"
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"i"; content:"from"; '
        'parse_src_ip: 1; zeek-intel: src_ipaddr, domain; sid:1;)\n'
        'alert syslog any any -> any any (msg:"g"; content:"from"; '
        'parse_src_ip: 1; country_code: track by_src, isnot US; sid:2;)',
        intel_text=intel, geoip_text=geo)
    rows = _rows_from({
        "c1": [(0, "from 198.51.100.7 x", 0),      # intel IP + RU country
               (1, "from 203.0.113.9 x", 10),      # US → geoip blocked
               (2, "from 198.51.100.8 x", 20),     # RU, not intel
               (3, "from 8.8.8.8 evil-domain.example", 30),  # domain hit
               (4, "from 192.168.0.5 x", 40)],     # private → geoip skip
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


_NOALERT_NOEVE = (
    'alert syslog any any -> any any (msg:"quiet"; content:"login failed";'
    ' noalert; sid:1;)\n'
    'alert syslog any any -> any any (msg:"no eve"; content:"stage"; '
    'noeve; sid:2;)\n'
    'alert syslog any any -> any any (msg:"both"; content:"login"; sid:3;)')


def _noalert_noeve_rows():
    # turns spread over several hours, so perfmon sees several buckets
    return _rows_from({
        "c1": [(0, "login failed", 0), (1, "stage one", 4000),
               (2, "login failed again", 8000)],
        "c2": [(0, "stage two", 10), (1, "login ok", 3700),
               (2, "nothing", 7300)],
    })


def test_noalert_noeve_equal_oracle(spark):
    """noalert drops a rule's rows from the alert sink and alert_total,
    noeve from the eve_alert sink (output.c:81-93)."""
    rules = compile_ruleset(_NOALERT_NOEVE)
    o, res = run_both(spark, _noalert_noeve_rows(), rules)
    assert {a["sid"] for a in o["alerts"]} == {2, 3}
    assert {a["sid"] for a in o["eve_alerts"]} == {1, 3}
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res, keys=("saganfound", "alert_total"))
    got = sorted((r["conv_id"], r["turn_idx"], r["signature_id"])
                 for r in res.eve_alerts.collect())
    assert got == sorted((a["conv_id"], a["turn_idx"], a["sid"])
                         for a in o["eve_alerts"])


def test_perfmon_alert_total_equals_sink_counts(spark):
    """perfmon's per-bucket alert_total counts the same alert rows as
    the counter block: noalert rules excluded."""
    from pyspark.sql import functions as F
    from sagan_spark.parse import parse_transcripts
    from sagan_spark.route import perfmon_report
    rules = compile_ruleset(_NOALERT_NOEVE)
    df = spark_df_from_rows(spark, _noalert_noeve_rows())
    res = run_pipeline(spark, df, rules)
    perfmon = perfmon_report(parse_transcripts(df), res.correlated, rules)
    assert perfmon.count() > 1
    total = perfmon.agg(F.sum("alert_total")).first()[0]
    assert total == res.counters.first()["alert_total"]


def test_alert_reference_and_gen_msg_columns(spark):
    """J2/J3 wired into the alert sink: ref_urls is the sorted,
    comma-joined [Xref => url] block (references.c:141-209); gen_msg from
    the (gid, sid) map (gen-msg.c:132-148)."""
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; content:"refhit"; '
        'reference:url,example.com/a; reference:cve,2024-0001; sid:7;)',
        reference_text=("config reference: url,http://\n"
                        "config reference: cve,http://cve.mitre.org/"
                        "cgi-bin/cvename.cgi?name=\n"),
        gen_msg_text="5000001 || 7 || sagan test generator\n")
    rows = _rows_from({"c1": [(0, "refhit now", 0)]})
    res = run_pipeline(spark, spark_df_from_rows(spark, rows), rules)
    a = res.alerts.toPandas()
    assert len(a) == 1
    assert a["ref_urls"].iloc[0] == (
        "http://cve.mitre.org/cgi-bin/cvename.cgi?name=2024-0001,"
        "http://example.com/a")
    assert a["gen_msg"].iloc[0] == "sagan test generator"


def test_enrich_lookup_edge_cases(spark):
    """The three lookups on their edge cases, values written by hand from
    Sagan's semantics: the reference block of a sid gathers every rule
    carrying it (references.c:141-209), duplicates kept and sorted; an
    unconfigured reference name has an empty prefix; an unknown or null
    classtype, an unmatched gid and an empty lookup table all give ''."""
    from sagan_spark.enrich import enrich_alerts
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"a"; content:"alpha"; '
        'reference:url,b.example/x; reference:url,a.example/y; '
        'classtype:known; sid:7;)\n'
        'alert syslog any any -> any any (msg:"b"; content:"beta"; '
        'reference:url,a.example/y; reference:nosuch,zz-1; '
        'classtype:unlisted; sid:7;)\n'
        'alert syslog any any -> any any (msg:"c"; content:"gamma"; '
        'sid:8;)',
        classification_text="config classification: known,Known Thing,2\n",
        reference_text="config reference: url,http://\n",
        gen_msg_text=("5000001 || 7 || seven\n"
                      "1 || 8 || eight under another generator\n"))
    rows = _rows_from({"c1": [(0, "alpha", 0), (1, "beta", 1),
                              (2, "gamma", 2)]})
    res = run_pipeline(spark, spark_df_from_rows(spark, rows), rules)
    a = (res.alerts.toPandas().sort_values("turn_idx")
         .reset_index(drop=True))
    block = "http://a.example/y,http://a.example/y,http://b.example/x,zz-1"
    assert a["sid"].tolist() == [7, 7, 8]
    assert a["class_desc"].tolist() == ["Known Thing", "", ""]
    assert a["ref_urls"].tolist() == [block, block, ""]
    assert a["gen_msg"].tolist() == ["seven", "seven", ""]

    null_cls = spark.createDataFrame([("known",), (None,)],
                                     "classtype string")
    got = enrich_alerts(null_cls, spark, rules).collect()
    assert sorted((r.classtype or "", r.class_desc) for r in got) == [
        ("", ""), ("known", "Known Thing")]

    bare = compile_ruleset(
        'alert syslog any any -> any any (msg:"d"; content:"delta"; '
        'classtype:known; sid:9;)')
    res = run_pipeline(spark, spark_df_from_rows(
        spark, _rows_from({"c1": [(0, "delta", 0)]})), bare)
    a = res.alerts.toPandas()
    assert a[["class_desc", "ref_urls", "gen_msg"]].values.tolist() == [
        ["", "", ""]]


def test_alert_plan_has_no_lookup_join(spark, tmp_path):
    """Enrichment is a projection over ruleset literals: the alert plan
    holds no join, no broadcast and no driver-built lookup table, so a
    per-run lookup DataFrame cannot come back unnoticed."""
    import contextlib
    import io
    rows = gen_rows(5)
    path = str(tmp_path / "in")
    spark_df_from_rows(spark, rows).write.parquet(path)
    rs = compile_ruleset_from_dir("rules-fixtures")
    assert rs.classifications and rs.references and rs.gen_msg
    res = run_pipeline(spark, spark.read.parquet(path), rs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.alerts.explain("formatted")
    plan = buf.getvalue()
    for op in ("Join", "BroadcastExchange", "Scan ExistingRDD"):
        assert op not in plan, op


def test_candidate_filter(spark):
    """The JVM prefilter ORs one positive predicate per rule, each
    predicate once: a nocase content lower-cases the text, a meta_content
    ORs its expanded alternatives, a pcre with a >=4-char leading literal
    becomes a contains and a Java-safe one an rlike.  One rule without a
    positive predicate disables the filter.  Kept rows are a superset of
    the rows the rules match."""
    from sagan_spark.match import candidate_filter

    def pred(*bodies):
        rules = [f'alert syslog any any -> any any (msg:"m"; {b} sid:{i};)'
                 for i, b in enumerate(bodies, 1)]
        return candidate_filter(
            compile_ruleset("\n".join(["var USERS mary,bob", *rules])))

    texts = ["DISK FULL on /var", "disk ok", "user bob login",
             "user eve login", "session opened for root", "session closed",
             "BARBAZ", "baz", "sshd: fail", "sshd: accept"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def kept(p):
        return sorted(r.text for r in df.filter(p).collect())

    cases = [
        ('content:"Disk Full"; nocase;',
         "contains(lower(text), 'disk full')", ["DISK FULL on /var"]),
        ('meta_content:"user %sagan% login",$USERS;',
         "or(contains(text, 'user mary login'), "
         "contains(text, 'user bob login'))", ["user bob login"]),
        (r'pcre:"/session opened for \w+/";',
         "contains(text, 'session opened for ')",
         ["session opened for root"]),
        ('pcre:"/(foo|bar)baz/i";', "rlike(text, '(?i)(foo|bar)baz')",
         ["BARBAZ"]),
    ]
    for body, expr, rows in cases:
        p = pred(body)
        assert str(p) == f"Column<'{expr}'>", body
        assert kept(p) == rows, body

    assert pred('content:!"ok";') is None
    assert pred('content:"sshd";', 'content:!"ok";') is None

    shared = pred('content:"sshd"; content:"fail";',
                  'content:"sshd"; content:"accept";')
    assert str(shared) == "Column<'contains(text, 'sshd')'>"
    assert kept(shared) == ["sshd: accept", "sshd: fail"]


def test_file_driven_normalize_rulebase(spark):
    """X5 full: a custom normalize.rulebase overrides the built-in
    default (the liblognorm rulebase-path analog,
    src/liblognormalize.c:64-104) in both engines."""
    rb = (r"acct=(?P<username>\S+)" "\n"
          r"origin=(?P<src_ip>\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})"
          r":(?P<src_port>\d{1,5})" "\n")
    rules = compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; content:"session"; '
        'normalize; sid:1;)', normalize_rulebase_text=rb)
    assert rules.normalize_rulebase  # file-driven, not the default
    rows = _rows_from({
        "c1": [(0, "session acct=root origin=10.1.2.3:999", 0),
               (1, "session from 10.9.9.9", 5)],  # default rb would hit
    })
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    a = (res.alerts.toPandas().sort_values("turn_idx")
         .reset_index(drop=True))
    assert a["ip_src"].tolist() == ["10.1.2.3", "c1"]
    assert a["src_port"].tolist() == [999, 514]


def test_dynamic_rule_loading(spark):
    """§3.3 batch analog: detection on sampled rows loads the named
    ruleset once, alerts once for the first trigger, and the loaded
    rules apply to the batch; no trigger → nothing loaded."""
    import os

    from sagan_spark.dynamic import run_pipeline_dynamic
    from sagan_spark.rules.compiler import compile_ruleset_from_dir
    root = os.path.join(os.path.dirname(__file__), "..", "rules-entry",
                        "dynamic")
    rs = compile_ruleset_from_dir(root)
    rows = _rows_from({
        f"c{k}": [(0, "stage1 marker boot", k), (1, "stage2 marker go",
                                                 10 + k)]
        for k in range(10)})   # 10 convs → some sampled at rate 2
    res, names = run_pipeline_dynamic(
        spark, spark_df_from_rows(spark, rows), rs, rules_root=root,
        sample_rate=2)
    assert names == ["loaded"]
    d = res.detections.toPandas()
    assert len(d) == 1 and d["sid"].iloc[0] == 6300001  # one alert per load
    loaded = res.alerts.filter("sid = 6300002").count()
    assert loaded == 10                                 # whole-batch apply

    # no trigger → no load, no detection alert
    rows2 = _rows_from({"c1": [(0, "stage2 marker only", 0)]})
    res2, names2 = run_pipeline_dynamic(
        spark, spark_df_from_rows(spark, rows2), rs, rules_root=root,
        sample_rate=2)
    assert names2 == [] and res2.detections.count() == 0
    assert res2.alerts.count() == 0


def test_write_sink_bucketed_layout(spark, tmp_path):
    """sinks.write_sink: rows cluster by
    bucket(conv_id) into n_buckets files — the Iceberg bucket-transform
    analog (one shuffle, not tasks x buckets small files)."""
    import glob

    from sagan_spark.sinks import write_sink
    rows = _rows_from({f"c{k}": [(0, "x", k)] for k in range(50)})
    df = spark_df_from_rows(spark, rows)
    out = str(tmp_path / "sinkout")
    write_sink(df, out, n_buckets=4)
    files = glob.glob(out + "/part-*.parquet")
    assert 0 < len(files) <= 4
    back = spark.read.parquet(out)
    assert back.count() == 50
    assert "bucket" in back.columns
    # each non-empty file holds whole buckets (clustering, not scatter):
    # no bucket value appears in more than one file
    import pandas as pd
    seen: dict[int, str] = {}
    for f in files:
        for b in pd.read_parquet(f)["bucket"].unique():
            assert seen.setdefault(int(b), f) == f
    assert len(seen) <= 4


def test_state_groups_partitioning():
    """Union-find groups: xbit/flexbit name sharing couples rules; a
    shared sid couples after/threshold rules (sid-keyed state,
    after.c:113-117, threshold.c:118-121); rules sharing neither stay
    independent."""
    from sagan_spark.correlate import state_groups
    rs = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"a"; content:"a"; '
        'after: track by_src, count 1, seconds 60; sid:1;)',
        'alert syslog any any -> any any (msg:"b"; content:"b"; '
        'threshold: type limit, track by_src, count 1, seconds 60; sid:2;)',
        'alert syslog any any -> any any (msg:"c"; content:"c"; '
        'xbits: set,n1,track ip_src,expire 60; sid:3;)',
        'alert syslog any any -> any any (msg:"d"; content:"d"; '
        'xbits: isset,n1,track ip_src; sid:4;)',
        'alert syslog any any -> any any (msg:"e"; content:"e"; '
        'xbits: set,n2,track ip_src,expire 60; sid:5;)',
        'alert syslog any any -> any any (msg:"f"; content:"f"; '
        'threshold: type limit, track by_dst, count 1, seconds 60; '
        'sid:2; rev:2;)',
        'alert syslog any any -> any any (msg:"g"; content:"g"; '
        'xbits: set,n3,track ip_src,expire 60; sid:5; rev:2;)',
    ]))
    g = state_groups(rs)
    assert g[2] == g[3]                    # shared xbit name n1
    assert g[1] == g[5]                    # shared threshold sid 2
    assert g[6] != g[4]                    # sid alone joins no xbit rules
    assert len({g[0], g[1], g[2], g[4], g[6]}) == 5   # otherwise independent


def test_hot_conv_group_salting_exact(spark):
    """A single hot conversation with multiple independent stateful rule
    groups: the (conv_id, group) salt splits its rows without changing
    any result (golden equality vs the oracle)."""
    rules = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"a"; content:"login failed"; '
        'after: track by_src, count 2, seconds 300; sid:1;)',
        'alert syslog any any -> any any (msg:"t"; content:"probe"; '
        'threshold: type limit, track by_src, count 2, seconds 300; '
        'sid:2;)',
        'alert syslog any any -> any any (msg:"s1"; content:"stage1"; '
        'xbits: set,hb,track ip_src,expire 500; sid:3;)',
        'alert syslog any any -> any any (msg:"s2"; content:"stage2"; '
        'xbits: isset,hb,track ip_src; sid:4;)',
    ]))
    texts = ["login failed", "probe", "stage1", "stage2"] * 30
    rows = _rows_from({"hot": [(i, t, i) for i, t in enumerate(texts)],
                       "cold": [(0, "probe", 1)]})
    o, res = run_both(spark, rows, rules)
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_duplicate_sid_threshold_shared_on_conv_path(spark):
    """Two revisions of one sid share ONE threshold store keyed by
    (sid, track) (threshold.c:118-121) even though they match different
    content: the conv-keyed cluster salt must not split them into two
    state groups.  Interleaved hits beta@0, alpha@5, beta@20, alpha@25
    in one window: count 1 lets only the first hit through."""
    rules = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"r1"; content:"alpha"; '
        'threshold: type limit, track by_src, count 1, seconds 10; '
        'sid:7; rev:1;)',
        'alert syslog any any -> any any (msg:"r2"; content:"beta"; '
        'threshold: type limit, track by_src, count 1, seconds 10; '
        'sid:7; rev:2;)',
    ]))
    rows = _rows_from({"c1": [(0, "beta", 0), (1, "alpha", 5),
                              (2, "beta", 20), (3, "alpha", 25)]})
    o, res = run_both(spark, rows, rules)
    assert o["counters"]["alert_total"] == 2
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_flexbit_name_groups():
    """state_groups over flexbits: independent names → independent
    groups; a shared name unions; one `count` clause couples ALL flexbit
    rules."""
    from sagan_spark.correlate import state_groups
    rs = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"a"; content:"a"; '
        'parse_src_ip: 1; flexbits: set,n1,500; sid:1;)',
        'alert syslog any any -> any any (msg:"b"; content:"b"; '
        'parse_src_ip: 1; flexbits: isset,by_src,n1; sid:2;)',
        'alert syslog any any -> any any (msg:"c"; content:"c"; '
        'parse_src_ip: 1; flexbits: set,n2,500; sid:3;)',
    ]))
    g = state_groups(rs)
    assert g[0] == g[1] and g[0] != g[2]
    rs2 = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"a"; content:"a"; '
        'parse_src_ip: 1; flexbits: set,n1,500; sid:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"c"; '
        'parse_src_ip: 1; flexbits: set,n2,500; '
        'flexbits: count,by_src,gt 0; sid:2;)',
    ]))
    g2 = state_groups(rs2)
    assert len(set(g2.values())) == 1      # count couples everything


def test_flexbit_general_path_parallel_groups(spark):
    """Two unrelated flexbit names on IP-extracted keys: the fold
    shuffles by flexbit cluster and src (no Exchange SinglePartition in
    the plan — the round-2 repartition(1) stage is gone), the matcher
    runs once (one Exchange, no filter/union branches) and the result
    stays golden-equal to the oracle."""
    rules = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"s1"; content:"alpha set"; '
        'parse_src_ip: 1; flexbits: set,n1,500; sid:1;)',
        'alert syslog any any -> any any (msg:"c1"; content:"alpha chk"; '
        'parse_src_ip: 1; flexbits: isset,by_src,n1; sid:2;)',
        'alert syslog any any -> any any (msg:"s2"; content:"beta set"; '
        'parse_src_ip: 1; flexbits: set,n2,500; sid:3;)',
        'alert syslog any any -> any any (msg:"c2"; content:"beta chk"; '
        'parse_src_ip: 1; flexbits: isset,by_src,n2; sid:4;)',
    ]))
    from sagan_spark.correlate import cluster_modes, run_correlate
    from sagan_spark.match import run_match
    from sagan_spark.parse import parse_transcripts
    assert cluster_modes(rules) == {0: "store", 1: "store"}
    rows = _rows_from({
        "c1": [(0, "alpha set 10.0.0.1", 0), (1, "alpha chk 10.0.0.1", 10),
               (2, "beta chk 10.0.0.1", 20), (3, "beta set 10.0.0.2", 30),
               (4, "beta chk 10.0.0.2", 40), (5, "alpha chk 10.0.0.2", 50)],
        "c2": [(0, "alpha chk 10.0.0.1", 15), (1, "beta set 10.0.0.1", 25),
               (2, "beta chk 10.0.0.1", 35), (3, "alpha chk 10.0.0.1", 600)],
    })
    o, res = run_both(spark, rows, rules)
    corr = run_correlate(
        run_match(parse_transcripts(spark_df_from_rows(spark, rows)), rules),
        rules)
    plan = corr._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Union" not in plan
    # the matcher and the fold: one MapInPandas each
    assert plan.count("MapInPandas") == 2
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


def test_flexbit_exact_tally_overcount(spark):
    """The no-break tally quirk (flexbit-mmap.c:116-318,637): ONE source
    set from TWO destinations holds two live entries, so a single
    isset-by_src clause tallies 2 != 1 and must FAIL."""
    rules = compile_ruleset("\n".join([
        'alert syslog any any -> any any (msg:"s"; content:"seen"; '
        'parse_src_ip: 1; parse_dst_ip: 2; flexbits: set,w,500; sid:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"probe"; '
        'parse_src_ip: 1; flexbits: isset,by_src,w; sid:2;)',
    ]))
    rows = _rows_from({
        "c1": [(0, "seen 10.0.0.1 to 10.0.0.9", 0),
               (1, "probe 10.0.0.1", 10),          # 1 live entry → pass
               (2, "seen 10.0.0.1 to 10.0.0.8", 20),
               (3, "probe 10.0.0.1", 30)],         # 2 live entries → FAIL
    })
    o, res = run_both(spark, rows, rules)
    got = (res.correlated.filter("sid = 2")
           .select("turn_idx", "flexbit_pass").toPandas()
           .sort_values("turn_idx"))
    assert got["flexbit_pass"].tolist() == [True, False]
    assert_alerts_equal(o, res)


def test_checkpoint_resume(spark, tmp_path, monkeypatch):
    """Kill-and-resume (north rule's resume requirement), checked against
    the one-shot run: a run killed while unit 3 of 4 writes its sinks
    keeps the two completed units' lineage; the resumed run skips exactly
    those, and the units' alert, eve_alert and drop rows and summed
    counters equal one uninterrupted ``run_job`` over the same rows."""
    import os

    import sagan_spark.pipeline as pl
    from sagan_spark.checkpoint import run_with_checkpoint

    df = spark_df_from_rows(spark, gen_rows(30))
    rs = compile_ruleset_from_dir("rules-fixtures")
    out_full = str(tmp_path / "full")
    full = pl.run_job(spark, df, rs, out_full)

    out_ck = str(tmp_path / "ck")
    real = pl.write_sink

    def dying(frame, path, **kw):
        if path == os.path.join(out_ck, "unit=2", "drop"):
            raise RuntimeError("simulated executor loss")
        return real(frame, path, **kw)

    monkeypatch.setattr(pl, "write_sink", dying)
    with pytest.raises(RuntimeError):
        run_with_checkpoint(spark, df, rs, out_ck, "runA", n_units=4)
    monkeypatch.setattr(pl, "write_sink", real)

    resumed = run_with_checkpoint(spark, df, rs, out_ck, "runB", n_units=4)
    assert resumed.pop("units_skipped") == 2      # the two completed units
    assert resumed.pop("units_total") == 4
    assert resumed == full

    def _rows(outs, sink):
        p = pd.concat([spark.read.parquet(os.path.join(o, sink)).toPandas()
                       for o in outs], ignore_index=True)
        p = p.drop(columns=["bucket"]).astype(str)
        cols = sorted(p.columns)
        return p[cols].sort_values(cols).reset_index(drop=True)

    units = [os.path.join(out_ck, f"unit={k}") for k in range(4)]
    for sink in ("alert", "eve_alert", "drop"):
        want = _rows([out_full], sink)
        assert len(want), sink                    # every sink is exercised
        pd.testing.assert_frame_equal(_rows(units, sink), want)


def test_checkpoint_rejects_ip_keyed(spark, tmp_path):
    """A ruleset whose state is keyed by extracted IPs crosses conv units,
    so a checkpointed run is refused before any unit writes."""
    import os

    from sagan_spark.checkpoint import run_with_checkpoint

    rs = compile_ruleset_from_dir(
        os.path.join(os.path.dirname(__file__), "..", "rules-entry",
                     "ipkeys"))
    out = tmp_path / "ck"
    with pytest.raises(ValueError, match="crosses conv units") as err:
        run_with_checkpoint(spark, spark_df_from_rows(spark, gen_rows(4)),
                            rs, str(out), "runA", n_units=4)
    for r in rs.rules:
        assert str(r.sid) in str(err.value)
    assert not out.exists()


def test_checkpoint_rejects_other_unit_count(spark, tmp_path):
    """Resuming a complete 2-unit run with 3 units would skip units of the
    old split and sum them with units of the new one; it is refused,
    naming both counts, before any unit runs."""
    import os

    from sagan_spark.checkpoint import run_with_checkpoint

    df = spark_df_from_rows(spark, gen_rows(20))
    rs = compile_ruleset_from_dir("rules-fixtures")
    out = str(tmp_path / "ck")
    run_with_checkpoint(spark, df, rs, out, "runA", n_units=2)
    with pytest.raises(ValueError, match=r"\[2\].*3 units"):
        run_with_checkpoint(spark, df, rs, out, "runB", n_units=3)
    assert not os.path.exists(os.path.join(out, "unit=2"))


def test_dynamic_load_rejected_outside_dynamic_pipeline(spark, tmp_path):
    """A dynamic_load rule matched as an ordinary rule would alert on every
    hit and load nothing: run_pipeline (so run_job) and streaming_alerts
    refuse the ruleset, naming its detector sids."""
    import os

    from sagan_spark.pipeline import run_job
    from sagan_spark.streaming import read_transcript_stream, streaming_alerts

    rs = compile_ruleset_from_dir(
        os.path.join(os.path.dirname(__file__), "..", "rules-entry",
                     "dynamic"))
    df = spark_df_from_rows(spark, _rows_from(
        {"c1": [(0, "stage1 marker cmd=alpha", 0)]}))
    with pytest.raises(ValueError, match=r"sids \[6300001\]"):
        run_pipeline(spark, df, rs)
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="dynamic_load"):
        run_job(spark, df, rs, str(out))
    assert not out.exists()
    src = str(tmp_path / "src")
    df.write.parquet(src)
    with pytest.raises(ValueError, match=r"sids \[6300001\]"):
        streaming_alerts(spark, read_transcript_stream(spark, src), rs)


def test_ipkeys_corpus_equals_oracle(spark):
    """The IP-keyed entry corpus (after, threshold, ip_pair xbits and
    by_src flexbits on parse_src_ip keys, each its own store cluster)
    through the single correlate plan is golden-equal to the oracle, and
    the corpus really exercises state."""
    import os

    rs = compile_ruleset_from_dir(
        os.path.join(os.path.dirname(__file__), "..", "rules-entry",
                     "ipkeys"))
    rows = gen_rows(16)
    o, res = run_both(spark, rows, rs)
    corr = res.correlated.toPandas()
    # both pass outcomes occur, or the corpus isn't exercising state
    assert corr["suppress_after"].any()
    assert set(corr["xbit_pass"].unique()) == {True, False}
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)


_CROSS_STORE = {
    "xbits+after": [
        'alert syslog any any -> any any (msg:"s"; content:"stage1"; '
        'parse_src_ip: 1; xbits: set,xa,track ip_src,expire 300; sid:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"stage2"; '
        'parse_src_ip: 1; xbits: isset,xa,track ip_src; '
        'after: track by_src, count 1, seconds 300; sid:2;)'],
    "flexbits+threshold": [
        'alert syslog any any -> any any (msg:"s"; content:"stage1"; '
        'parse_src_ip: 1; flexbits: set,fa,300; sid:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"stage2"; '
        'parse_src_ip: 1; flexbits: isset,by_src,fa; '
        'threshold: type limit, track by_src, count 1, seconds 300; '
        'sid:2;)'],
    "xbits+flexbits": [
        'alert syslog any any -> any any (msg:"s"; content:"stage1"; '
        'parse_src_ip: 1; xbits: set,xb,track ip_src,expire 300; sid:1;)',
        'alert syslog any any -> any any (msg:"c"; content:"stage2"; '
        'parse_src_ip: 1; xbits: isset,xb,track ip_src; '
        'flexbits: isnotset,by_src,fb; flexbits: set,fb,40; sid:2;)'],
    "multi-track xbits": [
        'alert syslog any any -> any any (msg:"s"; content:"stage1"; '
        'parse_src_ip: 1; xbits: set,ms,track ip_src,expire 300; sid:1;)',
        'alert syslog any any -> any any (msg:"p"; content:"stage2"; '
        'parse_src_ip: 1; xbits: set,mp,track ip_pair,expire 300; sid:2;)',
        'alert syslog any any -> any any (msg:"c"; content:"check"; '
        'parse_src_ip: 1; xbits: isset,ms,track ip_src; '
        'xbits: isset,mp,track ip_pair; sid:3;)'],
}


@pytest.mark.parametrize("shape", sorted(_CROSS_STORE))
def test_cross_store_ip_keyed_equals_oracle(spark, shape):
    """Rule shapes whose rows touch several stores on parse_src_ip keys
    fold as one serial group per cluster and match the oracle exactly."""
    from sagan_spark.correlate import cluster_modes
    rules = compile_ruleset("\n".join(_CROSS_STORE[shape]))
    assert "serial" in cluster_modes(rules).values()
    ips = ["10.0.0.1", "10.0.0.2", "10.0.0.1", "10.0.0.3"]
    seqs = {}
    for c in range(4):
        ip = ips[c]
        seqs[f"c{c}"] = [
            (0, f"stage2 from {ip}", 100 * c),
            (1, f"check from {ip}", 100 * c + 5),
            (2, f"stage1 from {ip}", 100 * c + 10),
            (3, f"stage2 from {ip}", 100 * c + 20),
            (4, f"stage2 from {ip}", 100 * c + 30),
            (5, f"check from {ip}", 100 * c + 40),
            (6, f"stage2 from {ip}", 100 * c + 90),
            (7, f"check from {ip}", 100 * c + 95)]
    o, res = run_both(spark, _rows_from(seqs), rules)
    corr = res.correlated.toPandas()
    assert not (corr["xbit_pass"] & corr["flexbit_pass"]).all()   # gated
    assert o["counters"]["alert_total"] > 0
    assert_alerts_equal(o, res)
    assert_counters_equal(o, res)
