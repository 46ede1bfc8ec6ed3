"""Oracle-engine semantics tests: hand-computed expectations for the
correlation edge cases flagged in SURVEY §7.3 (after/threshold reset
anchoring, xbit expiry boundary, gate quirk)."""

from datetime import datetime, timezone

from oracle.engine import Event, OracleEngine
from sagan_spark.rules.compiler import compile_ruleset, compile_ruleset_from_dir


def ev(conv, turn, text, epoch, role="user", tool="sshd"):
    return Event(conv_id=conv, turn_idx=turn, role=role, text=text,
                 tool=tool, ts=datetime.fromtimestamp(epoch, tz=timezone.utc))


T0 = 1704067200  # 2024-01-01T00:00:00Z (Monday)


def engine(rules_text, **kw):
    return OracleEngine(compile_ruleset(rules_text, **kw))


def test_simple_content_alert():
    e = engine('alert syslog any any -> any any '
               '(msg:"m"; content:"Invalid login"; sid:1;)')
    out = e.run([ev("c1", 0, "Invalid login from 1.2.3.4", T0),
                 ev("c1", 1, "all good", T0 + 10)])
    assert len(out["alerts"]) == 1
    a = out["alerts"][0]
    assert (a["sid"], a["turn_idx"]) == (1, 0)
    # no extraction requested → host fallback (engine.c:967-1018)
    assert a["ip_src"] == "c1" and a["proto"] == "udp" and a["src_port"] == 514
    assert out["counters"]["saganfound"] == 1
    assert out["counters"]["alert_total"] == 1


def test_gate_last_present_wins_quirk():
    """engine.c:401-485: each gate block re-inits the fail flag, so a failing
    program gate is forgiven by a passing facility gate."""
    e = engine('alert syslog any any -> any any (msg:"m"; '
               'program: nomatch; syslog_facility: user; content:"x"; sid:1;)')
    out = e.run([ev("c1", 0, "x marks", T0, role="user", tool="sshd")])
    assert len(out["alerts"]) == 1  # program failed but facility (last) passed


def test_after_fires_only_past_count():
    """after count 3 seconds 300: alerts only on the 4th+ hit in window
    (after.c:140-147: fires when count > C)."""
    e = engine('alert syslog any any -> any any (msg:"m"; '
               'content:"login failed"; after: track by_src, count 3, '
               'seconds 300; sid:1;)')
    evs = [ev("c1", t, "login failed", T0 + t * 10) for t in range(6)]
    out = e.run(evs)
    assert [a["turn_idx"] for a in out["alerts"]] == [3, 4, 5]
    assert out["counters"]["after_total"] == 3
    assert out["counters"]["saganfound"] == 6


def test_after_window_reset():
    """Counter resets when gap from window anchor exceeds S
    (after.c:130-137)."""
    e = engine('alert syslog any any -> any any (msg:"m"; '
               'content:"login failed"; after: track by_src, count 2, '
               'seconds 60; sid:1;)')
    # 3 quick hits (third fires), then a hit 100s after the anchor → reset
    times = [T0, T0 + 10, T0 + 20, T0 + 120, T0 + 130, T0 + 140]
    evs = [ev("c1", t, "login failed", ts) for t, ts in enumerate(times)]
    out = e.run(evs)
    # t=2 fires (count 3>2). t=3: 120-0 > 60 → reset count=1 → suppressed.
    # t=4: count 2 → suppressed. t=5: count 3 > 2 → fires.
    assert [a["turn_idx"] for a in out["alerts"]] == [2, 5]


def test_after_tracks_keys_independently():
    e = engine('alert syslog any any -> any any (msg:"m"; '
               'content:"login failed"; after: track by_src, count 1, '
               'seconds 300; sid:1;)')
    evs = [ev("a", 0, "login failed", T0), ev("b", 0, "login failed", T0 + 1),
           ev("a", 1, "login failed", T0 + 2), ev("b", 1, "login failed", T0 + 3)]
    out = e.run(evs)
    assert sorted((a["conv_id"], a["turn_idx"]) for a in out["alerts"]) == \
        [("a", 1), ("b", 1)]


def test_threshold_limit_suppresses_after_count():
    """threshold type limit count 2: first 2 alert, later suppressed; the
    rolling utime (threshold.c:131) means a 60s+ idle gap resets."""
    e = engine('alert syslog any any -> any any (msg:"m"; '
               'content:"probe"; threshold: type limit, track by_src, '
               'count 2, seconds 60; sid:1;)')
    times = [T0, T0 + 10, T0 + 20, T0 + 30, T0 + 120]
    evs = [ev("c1", t, "probe", ts) for t, ts in enumerate(times)]
    out = e.run(evs)
    # t0,t1 alert; t2,t3 suppressed (count 3,4 > 2);
    # t4: gap 120-30=90 > 60 → reset count=1 → alerts.
    assert [a["turn_idx"] for a in out["alerts"]] == [0, 1, 4]
    assert out["counters"]["threshold_total"] == 2


def test_threshold_rolling_anchor_differs_from_after():
    """threshold updates utime on EVERY event (threshold.c:131-132) — a
    steady drip never resets; after anchors to the window start."""
    e = engine('alert syslog any any -> any any (msg:"m"; '
               'content:"probe"; threshold: type limit, track by_src, '
               'count 1, seconds 60; sid:1;)')
    # events every 50s: each gap < 60 so window never expires for threshold
    evs = [ev("c1", t, "probe", T0 + t * 50) for t in range(5)]
    out = e.run(evs)
    assert [a["turn_idx"] for a in out["alerts"]] == [0]


def test_xbit_set_isset_and_expiry():
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"stage1"; xbits: set,sb,track ip_src,expire 100; sid:1;)
alert syslog any any -> any any (msg:"chk"; content:"stage2"; xbits: isset,sb,track ip_src; sid:2;)
'''
    e = engine(rules)
    evs = [
        ev("c1", 0, "stage2 early", T0),          # isset before set → no
        ev("c1", 1, "stage1 fire", T0 + 10),      # set (expire@ T0+110)
        ev("c1", 2, "stage2 now", T0 + 50),       # isset live → alert
        ev("c1", 3, "stage2 late", T0 + 200),     # expired (xbit-mmap.c:208)
        ev("c2", 4, "stage2 other", T0 + 60),     # different key → no
    ]
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(1, 1), (2, 2)]


def test_xbit_unset():
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"s-on"; xbits: set,b,track ip_src,expire 1000; sid:1;)
alert syslog any any -> any any (msg:"unset"; content:"s-off"; xbits: unset,b,track ip_src; sid:2;)
alert syslog any any -> any any (msg:"chk"; content:"check"; xbits: isset,b,track ip_src; sid:3;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "s-on", T0), ev("c1", 1, "check", T0 + 10),
           ev("c1", 2, "s-off", T0 + 20), ev("c1", 3, "check", T0 + 30)]
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(1, 0), (3, 1), (2, 2)]  # (conv, turn, sid) ordering


def test_xbit_isnotset():
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"arm"; xbits: set,nb,track ip_src,expire 1000; sid:1;)
alert syslog any any -> any any (msg:"notset"; content:"fresh"; xbits: isnotset,nb,track ip_src; sid:2;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "fresh one", T0), ev("c1", 1, "arm it", T0 + 10),
           ev("c1", 2, "fresh two", T0 + 20)]
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(2, 0), (1, 1)]


def test_ignore_list_short_circuit():
    e = OracleEngine(compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; content:"DEBUG"; sid:1;)',
        ignore_text="DEBUG heartbeat ok\n"))
    out = e.run([ev("c1", 0, "DEBUG heartbeat ok", T0),
                 ev("c1", 1, "DEBUG something else", T0 + 1)])
    assert out["counters"]["ignore_count"] == 1
    assert len(out["drops"]) == 1
    assert [a["turn_idx"] for a in out["alerts"]] == [1]


def test_alert_time_window():
    # T0 = Monday 2024-01-01 00:00 UTC; day bit 1 (Monday), office hours
    rules = ('alert syslog any any -> any any (msg:"m"; content:"badge"; '
             'alert_time: days 12345, time 0800-1700; sid:1;)')
    e = engine(rules)
    out = e.run([ev("c1", 0, "badge swipe", T0 + 9 * 3600),      # 09:00 Mon
                 ev("c1", 1, "badge swipe", T0 + 20 * 3600),     # 20:00 Mon
                 ev("c1", 2, "badge swipe", T0 + 5 * 86400 + 9 * 3600)])  # Sat
    assert [a["turn_idx"] for a in out["alerts"]] == [0]


def test_midnight_wrap_alert_time():
    rules = ('alert syslog any any -> any any (msg:"m"; content:"night"; '
             'alert_time: days 1, time 2200-0600; sid:1;)')
    e = engine(rules)
    out = e.run([ev("c1", 0, "night shift", T0 + 23 * 3600),     # Mon 23:00
                 ev("c1", 1, "night shift", T0 + 12 * 3600),     # Mon 12:00
                 ev("c1", 2, "night shift", T0 + 86400 + 3 * 3600)])  # Tue 03:00
    # Tue 03:00 passes: previous day (Mon) in days and rule wraps midnight
    assert [a["turn_idx"] for a in out["alerts"]] == [0, 2]


def test_flow_targeting_with_parse_ip():
    rules = ('alert syslog 10.0.0.0/8 any -> any any (msg:"m"; '
             'content:"connection from"; parse_src_ip: 1; sid:1;)')
    e = engine(rules)
    out = e.run([ev("c1", 0, "connection from 10.1.2.3:55", T0),
                 ev("c1", 1, "connection from 11.1.2.3:55", T0 + 1)])
    assert [a["turn_idx"] for a in out["alerts"]] == [0]
    assert out["alerts"][0]["ip_src"] == "10.1.2.3"
    assert out["alerts"][0]["src_port"] == 55


def test_drop_action_and_counters():
    e = engine('drop syslog any any -> any any (msg:"m"; content:"noise"; sid:9;)')
    out = e.run([ev("c1", 0, "noise here", T0)])
    assert out["alerts"][0]["action"] == "drop"


def test_fixture_corpus_runs_on_generated_transcripts():
    from sagan_spark.datagen import gen_rows
    rs = compile_ruleset_from_dir("rules-fixtures")
    e = OracleEngine(rs)
    rows = gen_rows(40)
    evs = [Event(**r) for r in rows]
    out = e.run(evs)
    c = out["counters"]
    assert c["events_received"] == len(rows)
    assert c["ignore_count"] > 0            # DEBUG heartbeat fodder
    assert c["alert_total"] > 0
    assert c["events_received"] == c["events_processed"] + c["ignore_count"]
    # multiple distinct rules fire on the template bank
    assert len({a["sid"] for a in out["alerts"]}) >= 8


# ---------------------------------------------------------------------------
# flexbits (A4) — src/flexbit-mmap.c semantics
# ---------------------------------------------------------------------------

def test_flexbit_set_isset_by_src():
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"reboot"; flexbits: set,win_reboot,100; sid:1;)
alert syslog any any -> any any (msg:"chk"; content:"av off"; flexbits: isset,by_src,win_reboot; sid:2;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "av off early", T0),        # isset before set → no
           ev("c1", 1, "reboot now", T0 + 10),     # set
           ev("c1", 2, "av off after", T0 + 50),   # live + same src → alert
           ev("c2", 3, "av off other", T0 + 50),   # other conv → no
           ev("c1", 4, "av off late", T0 + 200)]   # expired → no
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(1, 1), (2, 2)]


def test_flexbit_isnotset_direction_none_is_global():
    """direction none: ANY live entry with the name anywhere blocks
    isnotset (flexbit-mmap.c:347-362)."""
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"arm"; flexbits: set,g,1000; sid:1;)
alert syslog any any -> any any (msg:"chk"; content:"fresh"; flexbits: isnotset,none,g; sid:2;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "fresh a", T0),
           ev("c1", 1, "arm", T0 + 10),
           ev("c2", 2, "fresh b", T0 + 20)]  # other conv, but none == global
    out = e.run(evs)
    got = [(a["sid"], a["conv_id"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(2, "c1", 0), (1, "c1", 1)]


def test_flexbit_reverse_direction_with_parsed_ips():
    """reverse: stored (A→B) matches a current (B→A) event
    (flexbit-mmap.c:168-180)."""
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"outbound"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set,conv,1000; sid:1;)
alert syslog any any -> any any (msg:"chk"; content:"inbound"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: isset,reverse,conv; sid:2;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "outbound 10.0.0.1 to 10.0.0.2", T0),
           ev("c1", 1, "inbound 10.0.0.2 to 10.0.0.1", T0 + 10),   # reversed
           ev("c1", 2, "inbound 10.0.0.1 to 10.0.0.2", T0 + 20)]   # same dir
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(1, 0), (2, 1)]


def test_flexbit_unset():
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"on"; flexbits: set,u,1000; sid:1;)
alert syslog any any -> any any (msg:"off"; content:"off"; flexbits: unset,by_src,u; sid:2;)
alert syslog any any -> any any (msg:"chk"; content:"check"; flexbits: isset,by_src,u; sid:3;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "on", T0), ev("c1", 1, "check", T0 + 10),
           ev("c1", 2, "off", T0 + 20), ev("c1", 3, "check", T0 + 30)]
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(1, 0), (3, 1), (2, 2)]


def test_flexbit_count_name_agnostic_quirk():
    """Count tallies store entries matching the direction-IP regardless of
    name OR state (flexbit-mmap.c:683-744) — distributed-attack counting.
    Needs parse ips so entries differ in dst (same src)."""
    rules = '''
alert syslog any any -> any any (msg:"set"; content:"touch"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set,seen,1000; sid:1;)
alert syslog any any -> any any (msg:"q"; content:"query"; parse_src_ip: 1; parse_dst_ip: 2; flexbits: set,probe,1000; flexbits: count,by_src,gt 2; sid:2;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "touch 10.9.0.1 to 10.0.0.2", T0),
           ev("c1", 1, "touch 10.9.0.1 to 10.0.0.3", T0 + 1),
           ev("c1", 2, "query 10.9.0.1 to 10.0.0.9", T0 + 2),  # cnt=2 → no
           ev("c1", 3, "touch 10.9.0.1 to 10.0.0.4", T0 + 3),  # cnt → 3
           ev("c1", 4, "query 10.9.0.1 to 10.0.0.8", T0 + 4)]  # 3 > 2 ✓
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    # sid1 fires on every touch (set-only passes the gate); the blocked
    # query at turn 2 does NOT create its own 'probe' entry (Flexbit_Set
    # runs inside the gate chain, engine.c:1467-1570), so only the third
    # touch pushes the per-src count past 2
    assert got == [(1, 0), (1, 1), (1, 3), (2, 4)]


def test_flexbit_count_only_rule_never_passes_gate():
    """Gate quirk (engine.c:1470-1474): count without set/cond never
    satisfies any disjunct."""
    rules = ('alert syslog any any -> any any (msg:"m"; content:"x"; '
             'flexbits: count,by_src,gt 0; sid:1;)')
    e = engine(rules)
    out = e.run([ev("c1", 0, "x", T0), ev("c1", 1, "x", T0 + 1)])
    assert out["alerts"] == []


def test_xbit_combined_with_after_engine_order():
    """xbit isset gates BEFORE the after counter (engine.c:1132 vs 1516):
    rows failing isset never increment after state."""
    rules = '''
alert syslog any any -> any any (msg:"arm"; content:"arm"; xbits: set,ab,track ip_src,expire 1000; sid:1;)
alert syslog any any -> any any (msg:"m"; content:"hit"; xbits: isset,ab,track ip_src; after: track by_src, count 1, seconds 300; sid:2;)
'''
    e = engine(rules)
    evs = [ev("c1", 0, "hit", T0),        # isset fails → no after count
           ev("c1", 1, "arm", T0 + 10),
           ev("c1", 2, "hit", T0 + 20),   # count=1 → suppressed (C=1)
           ev("c1", 3, "hit", T0 + 30)]   # count=2 > 1 → fires
    out = e.run(evs)
    got = [(a["sid"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [(1, 1), (2, 3)]


def test_after_track_ports_only_key():
    """track by_srcport&by_dstport with extracted ports: the state key is
    the port pair (after.c:108-110), shared across conversations."""
    rules = ('alert syslog any any -> any any (msg:"m"; '
             'content:"connection from"; parse_src_ip: 1; '
             'after: track by_srcport&by_dstport, count 1, seconds 300; '
             'sid:1;)')
    e = engine(rules)
    evs = [ev("a", 0, "connection from 1.1.1.1:99", T0),
           ev("b", 0, "connection from 2.2.2.2:99", T0 + 1),  # same ports
           ev("a", 1, "connection from 1.1.1.1:77", T0 + 2)]  # new port key
    out = e.run(evs)
    # port-99 key: count 1 suppressed, count 2 fires; port-77 key: suppressed
    got = [(a["conv_id"], a["turn_idx"]) for a in out["alerts"]]
    assert got == [("b", 0)]


# ---------------------------------------------------------------------------
# zeek-intel (J5) + country_code (J6)
# ---------------------------------------------------------------------------

INTEL = ("198.51.100.7\tIntel::ADDR\tfeed1\n"
         "evil-domain.example\tIntel::DOMAIN\tfeed1\n"
         "deadbeefdeadbeefdeadbeefdeadbeef\tIntel::FILE_HASH\tfeed1\n")


def test_intel_src_ipaddr_gate():
    e = OracleEngine(compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; content:"from"; '
        'parse_src_ip: 1; zeek-intel: src_ipaddr; sid:1;)',
        intel_text=INTEL))
    out = e.run([ev("c1", 0, "from 198.51.100.7 ok", T0),
                 ev("c1", 1, "from 198.51.100.8 ok", T0 + 1)])
    assert [a["turn_idx"] for a in out["alerts"]] == [0]


def test_intel_domain_substring_gate():
    e = OracleEngine(compile_ruleset(
        'alert syslog any any -> any any (msg:"m"; content:"lookup"; '
        'zeek-intel: domain; sid:1;)', intel_text=INTEL))
    out = e.run([ev("c1", 0, "lookup EVIL-domain.example now", T0),
                 ev("c1", 1, "lookup good.example now", T0 + 1)])
    assert [a["turn_idx"] for a in out["alerts"]] == [0]  # stristr nocase


def test_geoip_is_isnot_and_skip():
    geo = "198.51.100.0/24,RU\n203.0.113.0/24,US\n"
    rules_is = ('alert syslog any any -> any any (msg:"m"; content:"from"; '
                'parse_src_ip: 1; country_code: track by_src, is RU; sid:1;)')
    e = OracleEngine(compile_ruleset(rules_is, geoip_text=geo))
    out = e.run([ev("c1", 0, "from 198.51.100.9", T0),       # RU → is → hit
                 ev("c1", 1, "from 203.0.113.9", T0 + 1),    # US → no
                 ev("c1", 2, "from 192.168.1.1", T0 + 2)])   # private → SKIP
    assert [a["turn_idx"] for a in out["alerts"]] == [0]

    rules_isnot = ('alert syslog any any -> any any (msg:"m"; content:"from"; '
                   'parse_src_ip: 1; country_code: track by_src, isnot US; '
                   'sid:1;)')
    e2 = OracleEngine(compile_ruleset(rules_isnot, geoip_text=geo))
    out2 = e2.run([ev("c1", 0, "from 198.51.100.9", T0),     # RU ≠ US → hit
                   ev("c1", 1, "from 203.0.113.9", T0 + 1),  # US → blocked
                   ev("c1", 2, "from 192.168.1.1", T0 + 2)])  # SKIP → blocked
    assert [a["turn_idx"] for a in out2["alerts"]] == [0]


def test_driver_contract_parity():
    """The driver's correctness gate hashes every queries() entry against
    its oracle_sql(); a key present on one side only silently downgrades
    that operator's check.  Guard the contract shape itself: exact key
    parity."""
    import importlib.util
    import os
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "entry_contract", os.path.join(root, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    q, o = set(m.queries()), set(m.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))
