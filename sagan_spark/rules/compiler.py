"""Rule-DSL compiler: Sagan/Snort-syntax rule text → ``CompiledRule``.

Driver-side only (pure Python, no Spark imports).  Re-implements the
semantics of the reference loaders from scratch:

* rule file reading / paren-nest line joining — /root/reference/src/rules.c:96-157
* ``ParseRuleHead`` (action proto src sport dir dst dport) — rules.c:223-313
* ``ParseTargetAddress`` (var expand, ``any``, ``!`` negation, CIDR,
  ``[a,b]`` groups) — rules.c:315-364
* ``ParseTargetPort`` (``lo:hi`` ranges, negation) — rules.c:376-439
* ``ParseRuleBody`` (``;``-separated ``key:value`` options) — rules.c:511-600
* hex-pipe content decode ``|3a 3b|`` — ``Content_Pipe2``, src/util.c:934
* ``$VAR`` expansion — ``Var_To_Value``, src/util.c:762
* meta_content template expansion — src/meta-content.c:49-111
* classification / reference / gen-msg / ignore / blacklist config loaders —
  src/classifications.c:95-125, src/references.c:97-117, src/gen-msg.c:87-116,
  src/ignore-list.c:48-92, src/processors/blacklist.c:110-215

The upstream keyword surface is doc/source/rule-keywords.rst:8-727; this
fork's parser wires only a subset (rules.c:552-589) but the engine keeps the
full semantics, so we implement the documented surface.
"""

from __future__ import annotations

import ipaddress
import re
from dataclasses import dataclass, field

from .model import (
    FLEXBIT_DIRECTIONS,
    AfterSpec,
    AlertTimeSpec,
    CompiledRule,
    ContentSpec,
    FlexbitSpec,
    MetaContentSpec,
    PcreSpec,
    RuleHead,
    TargetSpec,
    ThresholdSpec,
    XbitSpec,
    _VALID_TRACKS,
)

MAX_META_ALTERNATIVES = 256   # MAX_META_CONTENT_ITEMS, src/sagan-defs.h:113
MAX_PCRE_PER_RULE = 10        # MAX_PCRE, src/sagan-defs.h:109


class RuleParseError(ValueError):
    pass


# ---------------------------------------------------------------------------
# scalar helpers
# ---------------------------------------------------------------------------

def ip_to_int(ip: str) -> int:
    """IP display string → integer key, IPv4 mapped into the IPv6 space —
    the analog of the reference's 16-byte ``IP2Bit`` form
    (src/util.c:336, MAXIPBIT src/sagan-defs.h:127)."""
    addr = ipaddress.ip_address(ip)
    if addr.version == 4:
        return int(addr) | (0xFFFF << 32)
    return int(addr)


def cidr_to_range(cidr: str) -> tuple[int, int]:
    """CIDR → inclusive int range (``Netaddr_To_Range``, src/util.c:609)."""
    net = ipaddress.ip_network(cidr, strict=False)
    lo = int(net.network_address)
    hi = int(net.broadcast_address)
    if net.version == 4:
        lo |= 0xFFFF << 32
        hi |= 0xFFFF << 32
    return lo, hi


def decode_hex_pipes(s: str) -> str:
    """Decode ``|3a 3b|`` hex segments inside a content pattern
    (``Content_Pipe2``, src/util.c:934-1010)."""

    def repl(m: re.Match) -> str:
        return "".join(chr(int(h, 16)) for h in m.group(1).split())

    return re.sub(r"\|([0-9a-fA-F]{2}(?:\s+[0-9a-fA-F]{2})*)\|", repl, s)


_PCRE_FLAG_MAP = {"i": re.I, "s": re.S, "m": re.M, "x": re.X}
# PCRE constructs with no Python-re equivalent — reject at compile time
# rather than silently diverging (SURVEY §7.3 dialect risk).  Possessive
# quantifiers (*+ ++ ?+ {m,n}+) and atomic groups (?>...) are native in
# Python >= 3.11 re; \x{..} is translated below; only pattern recursion
# remains untranslatable.
_PCRE_UNSUPPORTED = re.compile(r"\(\?R\)")

# PCRE \x{HH...} code-point escape → Python \xHH / \uHHHH / \UHHHHHHHH
# (the even-backslash prefix keeps literal '\\x{' sequences untouched)
_PCRE_XBRACE = re.compile(r"(?<!\\)((?:\\\\)*)\\x\{([0-9a-fA-F]{1,6})\}")


def _xbrace_repl(m: re.Match) -> str:
    cp = int(m.group(2), 16)
    if cp <= 0xFF:
        esc = f"\\x{cp:02x}"
    elif cp <= 0xFFFF:
        esc = f"\\u{cp:04x}"
    else:
        esc = f"\\U{cp:08x}"
    return m.group(1) + esc


def translate_pcre(spec: str) -> PcreSpec:
    """``/regex/flags`` → PcreSpec in the Python ``re`` dialect."""
    spec = spec.strip()
    if spec.startswith('"') and spec.endswith('"'):
        spec = spec[1:-1]
    if not spec.startswith("/"):
        raise RuleParseError(f"pcre must be /re/flags: {spec!r}")
    end = spec.rfind("/")
    if end == 0:
        raise RuleParseError(f"unterminated pcre: {spec!r}")
    pattern, flagstr = spec[1:end], spec[end + 1:]
    if _PCRE_UNSUPPORTED.search(pattern):
        raise RuleParseError(f"unsupported PCRE construct in {pattern!r}")
    pattern = _PCRE_XBRACE.sub(_xbrace_repl, pattern)
    flags = 0
    for ch in flagstr:
        if ch in _PCRE_FLAG_MAP:
            flags |= _PCRE_FLAG_MAP[ch]
        elif ch in "RUB":   # sagan/pcre runtime flags without re meaning
            continue
        else:
            raise RuleParseError(f"unknown pcre flag {ch!r} in {spec!r}")
    re.compile(pattern, flags)  # validate now, on the driver
    return PcreSpec(pattern=pattern, flags=flags)


def expand_vars(text: str, variables: dict[str, str]) -> str:
    """``$VAR`` substitution (``Var_To_Value``, src/util.c:762-820).
    Longest-name-first so $HOME_NET wins over $HOME."""
    for name in sorted(variables, key=len, reverse=True):
        text = text.replace(f"${name}", variables[name])
    return text


# ---------------------------------------------------------------------------
# lookup-config loaders (J1-J3, K10, J4)
# ---------------------------------------------------------------------------

def load_classifications(text: str) -> dict[str, tuple[str, int]]:
    """``config classification: shortname,description,priority``
    (src/classifications.c:95-125) → {shortname: (description, priority)}."""
    out: dict[str, tuple[str, int]] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = re.match(r"config\s+classification:\s*(.+)", line)
        if not m:
            continue
        parts = [p.strip() for p in m.group(1).split(",")]
        if len(parts) >= 3:
            out[parts[0]] = (parts[1], int(parts[2]))
    return out


def load_references(text: str) -> dict[str, str]:
    """``config reference: name,url-prefix`` (src/references.c:97-117)."""
    out: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = re.match(r"config\s+reference:\s*(.+)", line)
        if not m:
            continue
        parts = [p.strip() for p in m.group(1).split(",", 1)]
        if len(parts) == 2:
            out[parts[0]] = parts[1]
    return out


def load_gen_msg(text: str) -> dict[tuple[int, int], str]:
    """``gid || aid || msg`` triplets (src/gen-msg.c:87-116)."""
    out: dict[tuple[int, int], str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = [p.strip() for p in line.split("||")]
        if len(parts) >= 3:
            out[(int(parts[0]), int(parts[1]))] = parts[2]
    return out


def load_ignore_list(text: str) -> list[str]:
    """One substring per line (src/ignore-list.c:48-92)."""
    return [ln.strip() for ln in text.splitlines()
            if ln.strip() and not ln.strip().startswith("#")]


def load_blacklist(text: str) -> list[tuple[int, int]]:
    """IPs / CIDRs, one per line (src/processors/blacklist.c:110-215) →
    sorted inclusive int ranges for bisect lookup."""
    ranges = []
    for ln in text.splitlines():
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        if "/" not in ln:
            ln += "/32" if ":" not in ln else "/128"
        ranges.append(cidr_to_range(ln))
    return sorted(ranges)


_INTEL_TYPE_MAP = {
    # Zeek intel framework type → our set key
    # (loaders src/processors/bro-intel.c:527-825)
    "Intel::ADDR": "addr",
    "Intel::DOMAIN": "domain",
    "Intel::FILE_HASH": "file_hash",
    "Intel::URL": "url",
    "Intel::SOFTWARE": "software",
    "Intel::EMAIL": "email",
    "Intel::USER_NAME": "user_name",
    "Intel::FILE_NAME": "file_name",
    "Intel::CERT_HASH": "cert_hash",
}


def load_intel(text: str) -> dict[str, tuple[str, ...]]:
    """Zeek intel.dat: tab-separated ``indicator  indicator_type  ...``
    (the file format consumed by src/processors/bro-intel.c:527-825) →
    {set_key: sorted indicators}.  ADDR entries are exact-IP matches;
    every other type is a case-insensitive substring of the message
    (Sagan_stristr, e.g. bro-intel.c Sagan_BroIntel_DOMAIN)."""
    sets: dict[str, set[str]] = {k: set() for k in _INTEL_TYPE_MAP.values()}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) < 2:
            parts = line.split()
        if len(parts) < 2:
            continue
        indicator, itype = parts[0].strip(), parts[1].strip()
        key = _INTEL_TYPE_MAP.get(itype)
        if key:
            sets[key].add(indicator if key == "addr" else indicator.lower())
    return {k: tuple(sorted(v)) for k, v in sets.items() if v}


def _load_rulebase(text: str) -> tuple[str, ...]:
    """normalize.rulebase file → patterns (extract.load_normalize_rulebase;
    empty file → () → the built-in default rulebase)."""
    if not text.strip():
        return ()
    from ..extract import load_normalize_rulebase
    return load_normalize_rulebase(text)


def load_geoip(text: str) -> tuple[tuple[int, int, str], ...]:
    """GeoIP interval table: ``cidr,ISO3166-code`` per line — the
    broadcast analog of the Maxmind mmdb point lookup
    (src/geoip.c:93-206) → sorted inclusive (lo, hi, country) ranges."""
    out = []
    for ln in text.splitlines():
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        cidr, _, cc = ln.partition(",")
        cidr = cidr.strip()
        if "/" not in cidr:
            cidr += "/128" if ":" in cidr else "/32"
        lo, hi = cidr_to_range(cidr)
        out.append((lo, hi, cc.strip().upper()))
    return tuple(sorted(out))


# ---------------------------------------------------------------------------
# header parsing
# ---------------------------------------------------------------------------

def _parse_target_address(tok: str, variables: dict[str, str]) -> TargetSpec:
    tok = expand_vars(tok.strip(), variables)
    negated = tok.startswith("!")
    if negated:
        tok = tok[1:]
    tok = tok.strip("[]")
    if tok.lower() == "any":
        return TargetSpec(any=True)
    ranges = []
    for part in tok.split(","):
        part = part.strip()
        if not part:
            continue
        if "/" not in part:
            part += "/128" if ":" in part else "/32"
        ranges.append(cidr_to_range(part))
    return TargetSpec(any=False, negated=negated, ranges=tuple(sorted(ranges)))


def _parse_target_port(tok: str, variables: dict[str, str]) -> TargetSpec:
    tok = expand_vars(tok.strip(), variables)
    negated = tok.startswith("!")
    if negated:
        tok = tok[1:]
    tok = tok.strip("[]")
    if tok.lower() == "any":
        return TargetSpec(any=True)
    ranges = []
    for part in tok.split(","):
        part = part.strip()
        if ":" in part:   # lo:hi range (rules.c:399-421)
            lo_s, _, hi_s = part.partition(":")
            lo = int(lo_s) if lo_s else 0
            hi = int(hi_s) if hi_s else 65535
        else:
            lo = hi = int(part)
        ranges.append((lo, hi))
    return TargetSpec(any=False, negated=negated, ranges=tuple(sorted(ranges)))


def parse_rule_head(head_text: str, variables: dict[str, str]) -> RuleHead:
    toks = head_text.split()
    if len(toks) != 7:
        raise RuleParseError(f"rule header needs 7 tokens, got {toks!r}")
    action, proto, src, sport, direction, dst, dport = toks
    if action not in ("alert", "drop"):
        raise RuleParseError(f"unsupported action {action!r}")
    if direction not in ("->", "<-", "<>", "any"):
        raise RuleParseError(f"bad direction {direction!r}")
    src_ip = _parse_target_address(src, variables)
    src_port = _parse_target_port(sport, variables)
    dst_ip = _parse_target_address(dst, variables)
    dst_port = _parse_target_port(dport, variables)
    # AllAny fast-track (rules.c:303-310): header imposes no constraint
    all_any = all(t.any for t in (src_ip, src_port, dst_ip, dst_port))
    return RuleHead(action=action, proto=proto.lower(), src_ip=src_ip,
                    src_port=src_port, direction=direction, dst_ip=dst_ip,
                    dst_port=dst_port, all_any=all_any)


# ---------------------------------------------------------------------------
# body parsing
# ---------------------------------------------------------------------------

def _split_options(body: str) -> list[str]:
    """Split on ``;`` outside double quotes (rules.c:511-523 strtok with
    quote awareness)."""
    out, cur, in_q = [], [], False
    for ch in body:
        if ch == '"':
            in_q = not in_q
            cur.append(ch)
        elif ch == ";" and not in_q:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return [o for o in out if o]


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
        return v[1:-1]
    return v


def _parse_tracks(spec: str) -> tuple[str, ...]:
    tracks = tuple(t.strip() for t in spec.split("&"))
    bad = set(tracks) - _VALID_TRACKS
    if bad:
        raise RuleParseError(f"unknown track(s) {bad}")
    return tracks


def _parse_after_threshold(val: str) -> dict:
    parts = [p.strip() for p in val.split(",")]
    out: dict = {}
    for p in parts:
        k, _, v = p.partition(" ")
        k = k.strip().lower()
        v = v.strip()
        if k == "track":
            out["tracks"] = _parse_tracks(v)
        elif k == "count":
            out["count"] = int(v)
        elif k == "seconds":
            out["seconds"] = int(v)
        elif k == "type":
            out["ttype"] = v
    return out


def _parse_xbit(val: str) -> XbitSpec:
    """``set,name,track ip_src[,expire 300]`` (src/xbit.c:54-123)."""
    parts = [p.strip() for p in val.split(",")]
    action = parts[0].lower()
    name = parts[1] if len(parts) > 1 else ""
    track, expire = "ip_src", 0
    for p in parts[2:]:
        k, _, v = p.partition(" ")
        if k == "track":
            track = v.strip()
        elif k == "expire":
            expire = int(v)
    if action not in ("set", "unset", "isset", "isnotset"):
        raise RuleParseError(f"bad xbit action {action!r}")
    if track not in ("ip_src", "ip_dst", "ip_pair"):
        raise RuleParseError(f"bad xbit track {track!r}")
    return XbitSpec(action=action, name=name, track=track, expire=expire)


def _parse_flexbit(val: str) -> FlexbitSpec:
    """``set,<name>,<timeout>`` / ``{unset|isset|isnotset},<dir>,<name>``
    / ``count,{by_src|by_dst},{gt|lt|eq} N``
    (doc/source/rule-keywords.rst:299-336; direction table
    src/flexbit.c:63-135)."""
    parts = [p.strip() for p in val.split(",")]
    action = parts[0].lower()
    if action == "set":
        if len(parts) != 3:
            raise RuleParseError(f"flexbits set needs name,timeout: {val!r}")
        return FlexbitSpec(action="set", name=parts[1],
                           timeout=int(parts[2]))
    if action in ("unset", "isset", "isnotset"):
        if len(parts) != 3:
            raise RuleParseError(
                f"flexbits {action} needs direction,name: {val!r}")
        direction = parts[1].lower()
        if direction not in FLEXBIT_DIRECTIONS:
            raise RuleParseError(f"bad flexbit direction {direction!r}")
        return FlexbitSpec(action=action, name=parts[2],
                           direction=direction)
    if action == "count":
        if len(parts) != 3:
            raise RuleParseError(
                f"flexbits count needs direction, op N: {val!r}")
        direction = parts[1].lower()
        if direction not in ("by_src", "by_dst"):
            # Flexbit_Count_MMAP only implements direction 2/3
            # (flexbit-mmap.c:683-744)
            raise RuleParseError(
                f"flexbit count direction must be by_src|by_dst")
        op, _, n = parts[2].partition(" ")
        op = op.strip().lower()
        if op not in ("gt", "lt", "eq"):
            raise RuleParseError(f"flexbit count op must be gt|lt|eq")
        return FlexbitSpec(action="count", direction=direction,
                           count_op=op, count_n=int(n))
    raise RuleParseError(f"bad flexbit action {action!r}")


_INTEL_KEYWORDS = frozenset({
    # engine.c:1396-1459 lookup kinds
    "src_ipaddr", "dst_ipaddr", "all_ipaddr", "both_ipaddr",
    "domain", "file_hash", "url", "software", "email",
    "user_name", "file_name", "cert_hash",
})


def _parse_intel(val: str) -> tuple[str, ...]:
    """``zeek-intel: src_ipaddr, domain, url``
    (doc/source/rule-keywords.rst zeek-intel; engine.c:1396-1459)."""
    kinds = tuple(p.strip().lower() for p in val.split(",") if p.strip())
    bad = set(kinds) - _INTEL_KEYWORDS
    if bad:
        raise RuleParseError(f"unknown zeek-intel kind(s) {bad}")
    return kinds


def _parse_country_code(val: str) -> tuple[str, bool, tuple[str, ...]]:
    """``country_code: track by_src, isnot US`` / ``... is [CN,RU]``
    (doc/source/rule-keywords.rst:165-184; engine.c:1161-1225)."""
    track, is_mode, codes = "", True, ()
    for p in val.split(",", 1):
        p = p.strip()
        if p.lower().startswith("track"):
            track = p.split()[1].lower()
        else:
            k, _, v = p.partition(" ")
            k = k.strip().lower()
            if k not in ("is", "isnot"):
                raise RuleParseError(f"country_code needs is|isnot: {val!r}")
            is_mode = (k == "is")
            codes = tuple(c.strip().upper()
                          for c in v.strip().strip("[]").split(",")
                          if c.strip())
    if track not in ("by_src", "by_dst"):
        raise RuleParseError(f"country_code track must be by_src|by_dst")
    if not codes:
        raise RuleParseError(f"country_code needs country list: {val!r}")
    return track, is_mode, codes


def _parse_alert_time(val: str) -> AlertTimeSpec:
    """``days 0123456, time 0800-1700`` (src/aetas.c parse + rule-keywords
    doc)."""
    days: frozenset[int] = frozenset(range(7))
    start, end = 0, 2359
    for p in val.split(","):
        k, _, v = p.strip().partition(" ")
        v = v.strip()
        if k == "days":
            days = frozenset(int(c) for c in v)
        elif k == "time":
            s, _, e = v.partition("-")
            start, end = int(s), int(e)
    return AlertTimeSpec(days=days, start=start, end=end)


def parse_rule(text: str, variables: dict[str, str] | None = None,
               classifications: dict[str, tuple[str, int]] | None = None,
               ) -> CompiledRule:
    """One rule string → CompiledRule (ParseRule, src/rules.c:189-221)."""
    variables = variables or {}
    classifications = classifications or {}
    text = text.strip()
    lp = text.find("(")
    if lp < 0 or not text.rstrip().endswith(")"):
        raise RuleParseError(f"rule must be 'header ( body )': {text[:80]!r}")
    head = parse_rule_head(text[:lp].strip(), variables)
    body = text[lp + 1: text.rstrip().rfind(")")]

    fields: dict = dict(head=head, sid=0)
    contents: list[ContentSpec] = []
    pcres: list[PcreSpec] = []
    metas: list[MetaContentSpec] = []
    xbits: list[XbitSpec] = []
    flexbits: list[FlexbitSpec] = []
    refs: list[tuple[str, str]] = []
    last_modifiable: str | None = None   # "content" | "meta"

    def _mod(key: str, value: int) -> None:
        nonlocal contents, metas
        if last_modifiable == "content" and contents:
            contents[-1] = ContentSpec(**{**contents[-1].__dict__, key: value})
        elif last_modifiable == "meta" and metas:
            metas[-1] = MetaContentSpec(**{**metas[-1].__dict__, key: value})
        else:
            raise RuleParseError(f"{key} without preceding content")

    for opt in _split_options(body):
        key, sep, val = opt.partition(":")
        key = key.strip().lower()
        val = val.strip()

        if key == "msg":
            fields["msg"] = _unquote(val)
        elif key == "sid":
            fields["sid"] = int(val)
        elif key == "rev":
            fields["rev"] = int(val)
        elif key == "classtype":
            fields["classtype"] = val
            if val in classifications:
                fields["priority"] = classifications[val][1]
        elif key == "priority":
            fields["priority"] = int(val)
        elif key == "reference":
            name, _, rid = val.partition(",")
            refs.append((name.strip(), rid.strip()))
        elif key == "content":
            raw = _unquote(val)
            negated = raw.startswith("!")
            if negated:
                raw = _unquote(raw[1:].strip())
            contents.append(ContentSpec(
                pattern=decode_hex_pipes(raw), negated=negated))
            last_modifiable = "content"
        elif key == "nocase" and not sep or key == "nocase":
            if last_modifiable == "content" and contents:
                contents[-1] = ContentSpec(
                    **{**contents[-1].__dict__, "nocase": True})
            else:
                raise RuleParseError("nocase without content")
        elif key in ("offset", "depth", "distance", "within"):
            _mod(key, int(val))
        elif key == "pcre":
            if len(pcres) >= MAX_PCRE_PER_RULE:
                raise RuleParseError("too many pcre options")
            pcres.append(translate_pcre(val))
        elif key == "meta_content":
            tpl_part, _, var_part = val.partition('",')
            tpl = _unquote(tpl_part + '"')
            expansion = expand_vars(var_part.strip(), variables)
            items = [i.strip() for i in expansion.split(",") if i.strip()]
            if len(items) > MAX_META_ALTERNATIVES:
                raise RuleParseError("meta_content expansion too large")
            # "%sagan%" placeholder substitution (src/meta-content.c:74-91)
            alts = tuple(decode_hex_pipes(tpl.replace("%sagan%", i))
                         for i in items)
            negated = tpl_part.strip().startswith("!")
            metas.append(MetaContentSpec(alternatives=alts, negated=negated))
            last_modifiable = "meta"
        elif key == "meta_nocase":
            if metas:
                metas[-1] = MetaContentSpec(
                    **{**metas[-1].__dict__, "nocase": True})
        elif key in ("meta_offset", "meta_depth", "meta_distance",
                     "meta_within"):
            short = key.removeprefix("meta_")
            if not metas:
                raise RuleParseError(f"{key} without meta_content")
            metas[-1] = MetaContentSpec(
                **{**metas[-1].__dict__, short: int(val)})
        elif key == "program":
            fields["program"] = tuple(
                p.strip() for p in expand_vars(val, variables).split("|"))
        elif key == "syslog_facility" or key == "facility":
            fields["facility"] = tuple(p.strip() for p in val.split("|"))
        elif key == "syslog_level" or key == "level":
            fields["level"] = tuple(p.strip() for p in val.split("|"))
        elif key == "syslog_tag" or key == "tag":
            fields["tag"] = tuple(p.strip() for p in val.split("|"))
        elif key == "syslog_priority":
            fields["syspri"] = tuple(p.strip() for p in val.split("|"))
        elif key == "parse_src_ip":
            fields["parse_src_ip"] = int(val)
        elif key == "parse_dst_ip":
            fields["parse_dst_ip"] = int(val)
        elif key == "parse_port":
            fields["parse_port"] = True
        elif key == "parse_proto":
            fields["parse_proto"] = True
        elif key == "parse_proto_program":
            fields["parse_proto_program"] = True
        elif key == "parse_hash":
            if val not in ("md5", "sha1", "sha256"):
                raise RuleParseError(f"parse_hash must be md5|sha1|sha256")
            fields["parse_hash"] = val
        elif key == "normalize":
            fields["normalize"] = True
        elif key == "after":
            d = _parse_after_threshold(val)
            fields["after"] = AfterSpec(tracks=d.get("tracks", ("by_src",)),
                                        count=d["count"], seconds=d["seconds"])
        elif key == "threshold":
            d = _parse_after_threshold(val)
            fields["threshold"] = ThresholdSpec(
                ttype=d.get("ttype", "limit"),
                tracks=d.get("tracks", ("by_src",)),
                count=d["count"], seconds=d["seconds"])
        elif key == "xbits":
            xbits.append(_parse_xbit(val))
        elif key == "flexbits":
            if val.strip().lower() in ("noalert", "nounified2", "noeve"):
                # suppression flags (rule-keywords.rst:336; rules.h:99-101)
                if val.strip().lower() == "noalert":
                    fields["noalert"] = True
                elif val.strip().lower() == "noeve":
                    fields["noeve"] = True
            else:
                fb = _parse_flexbit(val)
                if fb.action == "count" and any(
                        f.action == "count" for f in flexbits):
                    # the reference shares one counter across count
                    # clauses (flexbit-mmap.c:676-744); keep it unambiguous
                    raise RuleParseError("only one flexbit count per rule")
                flexbits.append(fb)
        elif key in ("zeek-intel", "bro-intel", "zeek_intel", "bro_intel"):
            fields["intel"] = _parse_intel(val)
        elif key == "country_code":
            track, is_mode, codes = _parse_country_code(val)
            fields["geoip_track"] = track
            fields["geoip_is"] = is_mode
            fields["geoip_codes"] = codes
        elif key == "dynamic_load":
            fields["dynamic_load"] = _unquote(val)
        elif key == "alert_time":
            fields["alert_time"] = _parse_alert_time(val)
        elif key == "blacklist":
            fields["blacklist"] = True
        elif key == "noalert":
            fields["noalert"] = True
        elif key == "noeve":
            fields["noeve"] = True
        elif key == "email":
            fields["email"] = val
        elif key == "external":
            fields["external"] = val
        elif key in ("metadata",):   # informational, ignored like upstream
            continue
        else:
            raise RuleParseError(f"unknown rule option {key!r}")

    if not fields["sid"]:
        raise RuleParseError("rule missing sid")
    return CompiledRule(contents=tuple(contents), pcres=tuple(pcres),
                        meta_contents=tuple(metas), xbits=tuple(xbits),
                        flexbits=tuple(flexbits),
                        references=tuple(refs), **fields)


# ---------------------------------------------------------------------------
# rule-file reading
# ---------------------------------------------------------------------------

def iter_rule_texts(text: str) -> list[str]:
    """Join physical lines into complete rules using paren-nest tracking,
    skipping comments (Load_Rules, src/rules.c:126-151).  Also accepts
    ``var NAME value`` lines, returned with a ``var `` prefix intact."""
    out: list[str] = []
    buf: list[str] = []
    nest = 0
    for line in text.splitlines():
        stripped = line.strip()
        if not buf:
            if not stripped or stripped.startswith("#"):
                continue
            if stripped.startswith("var "):
                out.append(stripped)
                continue
        buf.append(line)
        nest += line.count("(") - line.count(")")
        if nest == 0 and stripped.endswith(")"):
            out.append(" ".join(x.strip() for x in buf))
            buf = []
    if buf:
        raise RuleParseError(f"unterminated rule: {' '.join(buf)[:80]!r}")
    return out


@dataclass
class RuleSet:
    """The compiled analog of the reference's parallel global rule arrays
    (src/rules.c:93-94) plus the lookup side tables."""

    rules: tuple[CompiledRule, ...] = ()
    classifications: dict[str, tuple[str, int]] = field(default_factory=dict)
    references: dict[str, str] = field(default_factory=dict)
    gen_msg: dict[tuple[int, int], str] = field(default_factory=dict)
    ignore_list: tuple[str, ...] = ()
    blacklist_ranges: tuple[tuple[int, int], ...] = ()
    intel_sets: dict[str, tuple[str, ...]] = field(default_factory=dict)
    geoip_ranges: tuple[tuple[int, int, str], ...] = ()
    normalize_rulebase: tuple[str, ...] = ()   # () → built-in default
    variables: dict[str, str] = field(default_factory=dict)

    def by_sid(self, sid: int) -> CompiledRule:
        return next(r for r in self.rules if r.sid == sid)


def compile_ruleset(rules_text: str,
                    classification_text: str = "",
                    reference_text: str = "",
                    gen_msg_text: str = "",
                    ignore_text: str = "",
                    blacklist_text: str = "",
                    intel_text: str = "",
                    geoip_text: str = "",
                    normalize_rulebase_text: str = "",
                    variables: dict[str, str] | None = None) -> RuleSet:
    variables = dict(variables or {})
    classifications = load_classifications(classification_text)
    rules: list[CompiledRule] = []
    for chunk in iter_rule_texts(rules_text):
        if chunk.startswith("var "):
            _, name, value = chunk.split(None, 2)
            variables[name] = value
            continue
        rules.append(parse_rule(chunk, variables, classifications))
    return RuleSet(
        rules=tuple(rules),
        classifications=classifications,
        references=load_references(reference_text),
        gen_msg=load_gen_msg(gen_msg_text),
        ignore_list=tuple(load_ignore_list(ignore_text)),
        blacklist_ranges=tuple(load_blacklist(blacklist_text)),
        intel_sets=load_intel(intel_text),
        geoip_ranges=load_geoip(geoip_text),
        normalize_rulebase=_load_rulebase(normalize_rulebase_text),
        variables=variables,
    )


def compile_ruleset_from_dir(path: str) -> RuleSet:
    """Load a rules-fixtures-style directory (test.rules,
    classification.config, reference.config, gen-msg.map, ignore.txt,
    blacklist.txt)."""
    import os

    def rd(name: str) -> str:
        p = os.path.join(path, name)
        if os.path.exists(p):
            with open(p) as f:
                return f.read()
        return ""

    rules_text = "\n".join(
        rd(f) for f in sorted(os.listdir(path)) if f.endswith(".rules"))
    return compile_ruleset(
        rules_text,
        classification_text=rd("classification.config"),
        reference_text=rd("reference.config"),
        gen_msg_text=rd("gen-msg.map"),
        ignore_text=rd("ignore.txt"),
        blacklist_text=rd("blacklist.txt"),
        intel_text=rd("intel.dat"),
        geoip_text=rd("geoip.csv"),
        normalize_rulebase_text=rd("normalize.rulebase"),
    )
