"""Vectorized-extraction equivalence: vextract.assemble_extract and the
gate masks must agree with the row-wise reference implementations
(extract.parse_ip_cache / semantics.extract_for_rule / flow_pass) on the
encoding zoo AND on adversarial random fragments — the fast/exotic split
must never change results, only speed."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from sagan_spark.extract import parse_ip_cache
from sagan_spark.rules.compiler import compile_ruleset
from sagan_spark.semantics import PrimCache, extract_for_rule, flow_pass
from sagan_spark.vextract import BatchExtract, assemble_extract, flow_mask

ZOO = [
    "Invalid login from 1.2.3.4",
    "trailing form 10.0.0.1. next",
    "colon form 192.168.7.9:4444 ok",
    "hash form 10.1.1.1#8080 ok",
    "bracket form 172.16.0.5 :443 rest",
    "inet#10.9.8.7 prefix",
    "follow 10.2.2.2 port 2222 done",
    "follow 10.3.3.3 source port: 3333 done",
    "client 10.4.4.4 client port 44 done",
    "typo 10.5.5.5 desitnation port 55 done",
    "proto tcp with 10.6.6.6",
    "ipv6 fe80::1 here",
    "login from ::1",
    "two 1.1.1.1 then 2.2.2.2:82",
    "invalid 999.1.2.3 then 3.3.3.3",
    "overflow 1.2.3.456 no",
    "md5=0123456789abcdef0123456789abcdef tail",
    "sha blob 0123456789abcdef0123456789abcdef0123456789abcdef0123456789abcdef x",
    "port only :88 dangler",
    "dotted 4.4.4.4.:99 weird",
    "5.5.5.5:66. trailing dot port",
    "nothing to see",
    "",
]


def _rule(text, **kw):
    return compile_ruleset(text, **kw).rules[0]


def _ctx(texts):
    s = pd.Series(texts, dtype="string").fillna("").astype(str)
    tools = pd.Series(["sshd"] * len(texts))
    return BatchExtract(s, tools)


def _row_extract(rule, texts, convs):
    out = []
    for t, c in zip(texts, convs):
        pc = PrimCache(t, "sshd")
        out.append(extract_for_rule(rule, c, pc))
    return out


def _assert_equiv(rule, texts):
    convs = [f"conv{i % 3}" for i in range(len(texts))]
    ctx = _ctx(texts)
    alive = np.arange(len(texts))
    got = assemble_extract(rule, ctx, alive, np.array(convs, dtype=object),
                           np.array(["sshd"] * len(texts), dtype=object))
    want = _row_extract(rule, texts, convs)
    for i, w in enumerate(want):
        for k in ("ip_src", "src_port", "ip_dst", "dst_port", "proto",
                  "username", "hash"):
            assert got[k][i] == w[k], \
                f"{k} row {i} ({texts[i]!r}): {got[k][i]!r} != {w[k]!r}"


def test_zoo_parse_src_ip_equivalence():
    _assert_equiv(_rule(
        'alert syslog any any -> any any (msg:"m"; parse_src_ip: 1; '
        'content:""; sid:1;)'), ZOO)


def test_zoo_second_ip_and_port():
    _assert_equiv(_rule(
        'alert syslog any any -> any any (msg:"m"; parse_src_ip: 1; '
        'parse_dst_ip: 2; parse_port; content:""; sid:1;)'), ZOO)


def test_zoo_hash_proto_normalize():
    _assert_equiv(_rule(
        'alert syslog any any -> any any (msg:"m"; parse_hash: md5; '
        'parse_proto; parse_proto_program; normalize; content:""; '
        'sid:1;)'), ZOO)


def test_zoo_fallback_addressing():
    """A rule that extracts nothing: every field is the host fallback."""
    _assert_equiv(_rule(
        'alert syslog any any -> any any (msg:"m"; content:""; sid:1;)'),
        ZOO)


def test_flow_mask_matches_row_flow():
    rule = _rule('alert syslog 10.0.0.0/8 any -> any any (msg:"m"; '
                 'parse_src_ip: 1; content:""; sid:1;)')
    texts = ZOO
    convs = [f"conv{i % 3}" for i in range(len(texts))]
    ctx = _ctx(texts)
    alive = np.arange(len(texts))
    ex = assemble_extract(rule, ctx, alive, np.array(convs, dtype=object),
                          np.array(["sshd"] * len(texts), dtype=object))
    got = flow_mask(rule, ctx, ex)
    want = [flow_pass(rule, w) for w in _row_extract(rule, texts, convs)]
    assert got.tolist() == want


_frag = st.sampled_from([
    "1.2.3.4", "10.0.0.1.", "192.168.1.1:80", "1.1.1.1#81", ":82",
    "port", "source", "client", "port:", "83", "tcp", "udp", "icmp",
    "fe80::1", "::1", "inet#4.3.2.1", "999.9.9.9", "1.2.3", "word", "x.y.z.w",
    "deadbeefdeadbeefdeadbeefdeadbeef", "..", "-", "(5.5.5.5)",
    "[6.6.6.6]:443", "7.7.7.7,8.8.8.8",
])


@settings(max_examples=60, deadline=None)
@given(st.lists(_frag, min_size=0, max_size=8))
def test_random_fragment_equivalence(frags):
    """Property: on any whitespace-join of zoo fragments the vectorized
    cache equals parse_ip_cache exactly."""
    text = " ".join(frags)
    ctx = _ctx([text])
    got = ctx.hits_for(np.array([0]))[0]
    want = parse_ip_cache(text, 514)
    assert got == want, f"{text!r}: {got} != {want}"
