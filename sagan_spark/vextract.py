"""Vectorized batch extraction: the matcher's one extraction path.

Every rule's alive rows pass through ``assemble_extract`` — a rule that
parses nothing gets the host fallback addressing (engine.c:967-1045) —
and then through only the gate masks that rule has.  The per-row Python
loop (extract → flow → gates) becomes pandas / numpy column operations
over each rule's alive subset, per the parse-once design of SURVEY
§2.3 X1 ("one pass of a compiled IP+port regex per text batch"):

* the IP/port cache (the encoding zoo of /root/reference/src/parsers/
  ip.c:32-61) is built with ONE ``str.extractall`` C-regex pass for the
  common forms (bare IPv4, trailing dot, ``ip:port``); rows carrying an
  exotic marker (``#`` forms, ``[ip] :port`` split tokens, port-follow
  words, IPv6, proto keywords) fall back to the exact row-wise
  ``parse_ip_cache`` — a conservative split: any false positive only
  costs speed, never correctness;
* hash / normalize / proto extraction are ``str.extract`` passes;
* flow targeting, alert_time, blacklist, intel and geoip gates evaluate
  as numpy boolean masks (IPv4→int via octet extraction, interval
  membership via ``np.searchsorted``).

Everything is memoized per batch and shared across rules (the
parse-once cache, engine.c:845-860): each primitive touches a given row
at most once no matter how many rules request it.

Semantics stay bit-identical to the row-wise reference implementations
in extract.py / semantics.py — enforced by the golden oracle-equality
suite and a hypothesis equivalence test (tests/test_vextract.py).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .extract import (
    DEFAULT_PORT,
    DEFAULT_PROTO,
    DEFAULT_PROGRAM_PROTO_MAP,
    IpHit,
    _SANITIZE,
    compile_rulebase,
    parse_ip_cache,
)
from .rules.compiler import ip_to_int

# rows matching NONE of these can only contain bare-IPv4 / trailing-dot /
# ip:port token forms, which the fast extractall handles exactly
_EXOTIC_RE = re.compile(
    r"#"                                      # ip#port / inet# (ip.c:44,55)
    r"|\S:\S*:"                               # ≥2 colons → IPv6 candidates
    r"|::"                                    # compressed IPv6 ('::1') — a
                                              # leading '::' has no non-space
                                              # before its first colon, so the
                                              # \S:\S*: alternative misses it
    r"|(?:^|\s):\d"                           # '[ip] :80' split token (ip.c:58)
    r"|[\d.]\s+\S*port"                       # 'ip port 1234' follow (ip.c:289)
    r"|[\d.]\s+(?:source|destination|desitnation|client)\s"  # ip.c:321-413
    r"|(?:^|\s)(?:tcp|udp|icmp)(?:\s|$)",     # proto keywords (ip.c:209-242)
    re.IGNORECASE)

_OCT = r"(?:25[0-5]|2[0-4]\d|1?\d?\d)"
_STRICT_IP = rf"(?:{_OCT}\.){{3}}{_OCT}"
# one token: strict IPv4, optional :port, optional ONE trailing dot
# (parse order ip.c / extract.parse_ip_cache: dot-strip precedes :port,
# so 'ip.:55' is NOT a hit — the dot may only follow the port or the ip)
_FAST_TOKEN_RE = re.compile(
    rf"(?:^|(?<=\s))(?P<ip>{_STRICT_IP})(?::(?P<port>\d{{1,5}}))?\.?(?=\s|$)")

_HASH_RES = {
    kind: re.compile(
        rf"(?:^|(?<=\s))[.:;]*(?P<h>[0-9a-fA-F]{{{n}}})[.:;]*(?=\s|$)")
    for kind, n in (("md5", 32), ("sha1", 40), ("sha256", 64))}

_PROTO_FIRST_RE = re.compile(r"(?:^|\s)(tcp|udp|icmp)(?:\s|$)", re.I)

_IPV4_SPLIT_RE = re.compile(rf"^({_OCT})\.({_OCT})\.({_OCT})\.({_OCT})$")


class BatchExtract:
    """Per-batch lazy extraction context (one instance per Arrow batch)."""

    def __init__(self, text: pd.Series, tool: pd.Series, rulebase=None):
        # positional indexing throughout: row labels == positions
        self.text = text.reset_index(drop=True)
        self.tool = tool.reset_index(drop=True)
        self.rulebase = compile_rulebase(rulebase)
        self._san: pd.Series | None = None
        self._hits: dict[int, list] = {}      # exotic row → [IpHit...]
        self._hits_done: np.ndarray = np.zeros(len(text), dtype=bool)
        self._mr: list[pd.DataFrame] = []     # fast-row extractall frames
        self._nth: dict[int, tuple] = {}      # n → (ips, ports, protos, ver)
        self._scan_version = 0
        self._hash: dict[str, tuple] = {}
        self._proto = np.full(len(text), "", dtype=object)
        self._proto_done = np.zeros(len(text), dtype=bool)
        self._norm: dict[str, np.ndarray] = {}
        self._norm_done = np.zeros(len(text), dtype=bool)
        self._ipint_cache: dict[str, int | None] = {}

    # -- sanitized text ----------------------------------------------------

    @property
    def san(self) -> pd.Series:
        if self._san is None:
            self._san = self.text.str.translate(_SANITIZE)
        return self._san

    # -- IP/port cache (ip.c:88-992) ---------------------------------------

    def _scan(self, rows: np.ndarray) -> None:
        """Populate the IP cache for unscanned rows: ONE extractall
        C-regex pass for the common token forms, exact row-wise
        parse_ip_cache for exotic rows.  Fast-row matches accumulate in
        ``_mr`` (row, match-rank, ip, port) frames consumed vectorized
        by nth_hits; exotic rows keep their IpHit lists."""
        todo = rows[~self._hits_done[rows]]
        if not todo.size:
            return
        san = self.san.iloc[todo]
        exotic = san.str.contains(_EXOTIC_RE).to_numpy(
            dtype=bool, na_value=True)
        fast_rows = todo[~exotic]
        if fast_rows.size:
            m = self.san.iloc[fast_rows].str.extractall(_FAST_TOKEN_RE)
            if len(m):
                mr = m.reset_index()
                mr = mr[mr["match"] < 30]          # MAX_PARSE_IP
                mr["port"] = pd.to_numeric(
                    mr["port"], errors="coerce").fillna(0).astype(np.int64)
                mr.loc[mr["port"] == 0, "port"] = DEFAULT_PORT
                self._mr.append(mr)
        for r in todo[exotic]:
            self._hits[r] = parse_ip_cache(
                str(self.text.iloc[r]), DEFAULT_PORT)
        self._hits_done[todo] = True
        self._scan_version += 1

    def nth_hits(self, rows: np.ndarray, n: int):
        """Full-batch (ip, port, proto) arrays for the n-th (0-based)
        cache entry; '' ip means fewer than n+1 hits.  Vectorized
        assignment from the accumulated extractall frames; exotic rows
        filled row-wise (rare)."""
        self._scan(rows)
        cached = self._nth.get(n)
        if cached is None or cached[3] != self._scan_version:
            size = len(self.text)
            ips = np.full(size, "", dtype=object)
            ports = np.zeros(size, dtype=np.int64)
            protos = np.full(size, "", dtype=object)
            for mr in self._mr:
                sel = mr[mr["match"] == n]
                if len(sel):
                    idx = sel["level_0"].to_numpy()
                    ips[idx] = sel["ip"].to_numpy(dtype=object)
                    ports[idx] = sel["port"].to_numpy()
            for r, hits in self._hits.items():
                if len(hits) > n:
                    ips[r] = hits[n].ip
                    ports[r] = hits[n].port
                    protos[r] = hits[n].proto
            cached = (ips, ports, protos, self._scan_version)
            self._nth[n] = cached
        return cached[0], cached[1], cached[2]

    def hits_for(self, rows: np.ndarray) -> list[list]:
        """Row-wise IpHit lists (equivalence tests + the rare
        all_ipaddr intel scan)."""
        self._scan(rows)
        if self._mr:
            have = {r for mr in self._mr
                    for r in mr["level_0"].tolist()}
        else:
            have = set()
        out = []
        for r in rows:
            h = self._hits.get(r)
            if h is None:
                h = []
                if r in have:
                    for mr in self._mr:
                        sel = mr[mr["level_0"] == r].sort_values("match")
                        h.extend(IpHit(ip=i, port=int(p), proto="")
                                 for i, p in zip(sel["ip"], sel["port"]))
            out.append(h)
        return out

    # -- hashes (hash.c:42-174) --------------------------------------------

    def hash_for(self, kind: str, rows: np.ndarray):
        """Full-batch object array of the first exact-length hex token
        ('' = none)."""
        arr, done = self._hash.setdefault(
            kind, (np.full(len(self.text), "", dtype=object),
                   np.zeros(len(self.text), dtype=bool)))
        todo = rows[~done[rows]]
        if todo.size:
            got = (self.san.iloc[todo].str.extract(_HASH_RES[kind])["h"]
                   .str.lower().fillna("").to_numpy(dtype=object))
            arr[todo] = got
            done[todo] = True
        return arr

    # -- proto keyword (first occurrence — detect_proto, ip.c:209-242) -----

    def proto_for(self, rows: np.ndarray):
        todo = rows[~self._proto_done[rows]]
        if todo.size:
            got = (self.san.iloc[todo].str.extract(_PROTO_FIRST_RE)[0]
                   .str.lower().fillna("").to_numpy(dtype=object))
            self._proto[todo] = got
            self._proto_done[todo] = True
        return self._proto

    # -- normalize rulebase (liblognormalize.c analog) ----------------------

    def norm_fields(self, rows: np.ndarray) -> dict[str, np.ndarray]:
        """Full-batch arrays per NORMALIZE_FIELDS entry ('' = absent);
        first-matching-regex-wins per field (normalize_message)."""
        todo = rows[~self._norm_done[rows]]
        if todo.size:
            sub = self.text.iloc[todo]
            for rx in self.rulebase:
                got = sub.str.extract(rx)
                for field in got.columns:
                    arr = self._norm.setdefault(
                        field, np.full(len(self.text), "", dtype=object))
                    vals = got[field].fillna("").to_numpy(dtype=object)
                    empty = arr[todo] == ""
                    arr[todo] = np.where(empty, vals, arr[todo])
            self._norm_done[todo] = True
        return self._norm

    # -- IP string → int (IP2Bit analog), memoized per distinct string -----

    def ip_int(self, ip: str):
        v = self._ipint_cache.get(ip, -1)
        if v != -1:
            return v
        try:
            v = ip_to_int(ip)
        except ValueError:
            v = None
        self._ipint_cache[ip] = v
        return v


def _proto_program(tools: np.ndarray) -> np.ndarray:
    """Vectorized parse_proto_program (proto.c:85-109): ordered substring
    scan of the program→proto map."""
    low = pd.Series(tools).str.lower().fillna("")
    out = np.full(len(tools), "", dtype=object)
    undecided = np.ones(len(tools), dtype=bool)
    for needle, proto in DEFAULT_PROGRAM_PROTO_MAP:
        hit = low.str.contains(needle, regex=False).to_numpy(
            dtype=bool, na_value=False) & undecided
        out[hit] = proto
        undecided &= ~hit
    return out


def assemble_extract(rule, ctx: BatchExtract, alive: np.ndarray,
                     conv_np: np.ndarray, tool_np: np.ndarray) -> dict:
    """Vectorized extract_for_rule (semantics.py): same precedence —
    normalize < parse_* < host fallback (engine.c:842-1045)."""
    n = alive.size
    ip_src = np.full(n, "", dtype=object)
    ip_dst = np.full(n, "", dtype=object)
    src_port = np.zeros(n, dtype=np.int64)
    dst_port = np.zeros(n, dtype=np.int64)
    proto = np.full(n, "", dtype=object)
    username = np.full(n, "", dtype=object)
    hsh = np.full(n, "", dtype=object)

    if rule.normalize:
        nf = ctx.norm_fields(alive)
        if "src_ip" in nf:
            ip_src = nf["src_ip"][alive].copy()
        if "dst_ip" in nf:
            ip_dst = nf["dst_ip"][alive].copy()
        if "src_port" in nf:
            src_port = pd.to_numeric(
                pd.Series(nf["src_port"][alive]).replace("", "0")
            ).astype(np.int64).to_numpy()
        if "dst_port" in nf:
            dst_port = pd.to_numeric(
                pd.Series(nf["dst_port"][alive]).replace("", "0")
            ).astype(np.int64).to_numpy()
        if "username" in nf:
            username = nf["username"][alive].copy()

    if rule.parse_src_ip or rule.parse_dst_ip or rule.parse_port:
        ns, nd = rule.parse_src_ip, rule.parse_dst_ip
        if ns:
            ips, ports, protos = ctx.nth_hits(alive, ns - 1)
            sel = ips[alive] != ""
            ip_src = np.where(sel, ips[alive], ip_src)
            src_port = np.where(sel, ports[alive], src_port)
            psel = sel & (protos[alive] != "")
            proto = np.where(psel, protos[alive], proto)
        if nd:
            ips, ports, protos = ctx.nth_hits(alive, nd - 1)
            sel = ips[alive] != ""
            ip_dst = np.where(sel, ips[alive], ip_dst)
            dst_port = np.where(sel, ports[alive], dst_port)
            psel = sel & (protos[alive] != "")
            proto = np.where(psel, protos[alive], proto)
        if rule.parse_port:
            ips0, ports0, _ = ctx.nth_hits(alive, 0)
            sel = ips0[alive] != ""
            src_port = np.where(sel, ports0[alive], src_port)

    if rule.parse_hash:
        hsh = ctx.hash_for(rule.parse_hash, alive)[alive].copy()

    if rule.parse_proto:
        det = ctx.proto_for(alive)[alive]
        proto = np.where(det != "", det, proto)

    if rule.parse_proto_program:
        prog = _proto_program(tool_np[alive])
        empty = proto == ""
        proto[empty] = prog[empty]

    # fallback addressing (engine.c:967-1045)
    conv = conv_np[alive]
    ip_src = np.where(ip_src == "", conv, ip_src)
    ip_dst = np.where(ip_dst == "", conv, ip_dst)
    src_port = np.where(src_port == 0, DEFAULT_PORT, src_port)
    dst_port = np.where(dst_port == 0, DEFAULT_PORT, dst_port)
    proto = np.where(proto == "", DEFAULT_PROTO, proto)
    return {"ip_src": ip_src, "src_port": src_port, "ip_dst": ip_dst,
            "dst_port": dst_port, "proto": proto, "username": username,
            "hash": hsh}


def _ip_ints(ctx: BatchExtract, ips: np.ndarray) -> np.ndarray:
    """object array of ip strings → float array of int keys (NaN = not an
    IP).  IPv4 vectorized via octet extraction; anything else through the
    memoized ip_int fallback (conv-id fallbacks hit the memo once per
    distinct string)."""
    s = pd.Series(ips, dtype="object").astype(str)
    parts = s.str.extract(_IPV4_SPLIT_RE)
    out = np.full(len(ips), np.nan)
    ok = parts[0].notna().to_numpy()
    if ok.any():
        v = (parts[0].astype(float) * 16777216 +
             parts[1].astype(float) * 65536 +
             parts[2].astype(float) * 256 + parts[3].astype(float))
        out[ok] = v.to_numpy()[ok] + float(0xFFFF << 32)
    for i in np.nonzero(~ok)[0]:
        vi = ctx.ip_int(ips[i])
        if vi is not None:
            out[i] = float(vi)
    return out


# bounds below 2^52 are exact in float64; IPv6 ranges exceed it, so any
# table containing one routes through the exact row-wise integer path
_FLOAT_EXACT = 2 ** 52


def _has_big_bound(ranges) -> bool:
    return any(r[1] >= _FLOAT_EXACT for r in ranges)


def _in_ranges(vals: np.ndarray, ranges) -> np.ndarray:
    """Membership of float int-keys in sorted inclusive ranges via
    searchsorted (the broadcast is_inrange, util.c:564).  Caller must
    ensure bounds are float-exact (see _has_big_bound)."""
    if not ranges:
        return np.zeros(len(vals), dtype=bool)
    lo = np.array([r[0] for r in ranges], dtype=float)
    hi = np.array([r[1] for r in ranges], dtype=float)
    safe = np.nan_to_num(vals, nan=-1.0)
    idx = np.searchsorted(lo, safe, side="right") - 1
    valid = (idx >= 0) & ~np.isnan(vals)
    idx = np.clip(idx, 0, len(ranges) - 1)
    return valid & (safe >= lo[idx]) & (safe <= hi[idx])


def _target_mask(spec, ip_vals: np.ndarray | None,
                 port_vals: np.ndarray | None) -> np.ndarray:
    """Vectorized TargetSpec.contains (rules/model.py)."""
    vals = ip_vals if ip_vals is not None else port_vals.astype(float)
    if spec.any:
        return np.ones(len(vals), dtype=bool)
    hit = np.zeros(len(vals), dtype=bool)
    for lo, hi in spec.ranges:
        hit |= (vals >= lo) & (vals <= hi)
    hit &= ~np.isnan(vals)
    if spec.negated:
        hit = ~hit & ~np.isnan(vals)
    return hit


def flow_mask(rule, ctx: BatchExtract, ex: dict) -> np.ndarray:
    """Vectorized flow_pass (src/flow.c:49-427) with AllAny fast-track.
    IPv6 header targets (bounds past float64 exactness) fall back to the
    exact row-wise flow_pass."""
    n = len(ex["ip_src"])
    if rule.head.all_any:
        return np.ones(n, dtype=bool)
    h = rule.head
    if _has_big_bound(h.src_ip.ranges) or _has_big_bound(h.dst_ip.ranges):
        from .semantics import flow_pass
        return np.array([
            flow_pass(rule, {"ip_src": s, "ip_dst": d,
                             "src_port": int(sp), "dst_port": int(dp)})
            for s, d, sp, dp in zip(ex["ip_src"], ex["ip_dst"],
                                    ex["src_port"], ex["dst_port"])],
            dtype=bool)
    s_ip = _ip_ints(ctx, ex["ip_src"])
    d_ip = _ip_ints(ctx, ex["ip_dst"])
    s_p = np.asarray(ex["src_port"], dtype=np.int64)
    d_p = np.asarray(ex["dst_port"], dtype=np.int64)
    fwd = (_target_mask(h.src_ip, s_ip, None) &
           _target_mask(h.src_port, None, s_p) &
           _target_mask(h.dst_ip, d_ip, None) &
           _target_mask(h.dst_port, None, d_p))
    if h.direction in ("->", "any"):
        return fwd
    rev = (_target_mask(h.src_ip, d_ip, None) &
           _target_mask(h.src_port, None, d_p) &
           _target_mask(h.dst_ip, s_ip, None) &
           _target_mask(h.dst_port, None, s_p))
    if h.direction == "<-":
        return rev
    return fwd | rev


def alert_time_mask(spec, ts: pd.Series) -> np.ndarray:
    """Vectorized alert_time_pass (aetas.c:48-150) incl. midnight wrap;
    naive timestamps under a UTC session ARE UTC."""
    dt = pd.DatetimeIndex(ts)
    day = (dt.weekday + 1) % 7               # tm_wday: Sunday == 0
    cur = dt.hour * 100 + dt.minute
    in_days = np.isin(day, list(spec.days))
    prev_ok = np.isin((day - 1) % 7, list(spec.days))
    next_day = spec.start > spec.end
    if not next_day:
        return in_days & (cur >= spec.start) & (cur <= spec.end)
    wrap_today = in_days & ((cur >= spec.start) | (cur <= spec.end))
    wrap_prev = ~in_days & prev_ok & (cur <= spec.end)
    return np.asarray(wrap_today | wrap_prev, dtype=bool)


def blacklist_mask(ctx: BatchExtract, ex: dict, ranges) -> np.ndarray:
    """Vectorized blacklist gate (blacklist.c:244-297): src OR dst in a
    loaded CIDR range.  IPv6 blacklist entries route through the exact
    row-wise path."""
    if ranges and _has_big_bound(ranges):
        from .extract import blacklist_hit
        return np.array([blacklist_hit(s, ranges) or blacklist_hit(d, ranges)
                         for s, d in zip(ex["ip_src"], ex["ip_dst"])],
                        dtype=bool)
    return (_in_ranges(_ip_ints(ctx, ex["ip_src"]), ranges) |
            _in_ranges(_ip_ints(ctx, ex["ip_dst"]), ranges))


def intel_mask(rule, ctx: BatchExtract, ex: dict, alive: np.ndarray,
               intel_sets: dict) -> np.ndarray:
    """Vectorized zeek-intel gate (engine.c:1396-1459)."""
    n = alive.size
    out = np.zeros(n, dtype=bool)
    if not intel_sets:
        return out
    addr = intel_sets.get("addr", ())
    addr_set = set(addr)
    low_msg = None
    for kind in rule.intel:
        if kind == "src_ipaddr":
            out |= pd.Series(ex["ip_src"]).isin(addr_set).to_numpy()
        elif kind == "dst_ipaddr":
            out |= pd.Series(ex["ip_dst"]).isin(addr_set).to_numpy()
        elif kind == "both_ipaddr":
            out |= (pd.Series(ex["ip_src"]).isin(addr_set).to_numpy() |
                    pd.Series(ex["ip_dst"]).isin(addr_set).to_numpy())
        elif kind == "all_ipaddr":
            if addr_set:
                hits = ctx.hits_for(alive)
                out |= np.array([any(h.ip in addr_set for h in hs)
                                 for hs in hits], dtype=bool)
        else:
            needles = intel_sets.get(kind, ())
            if needles:
                if low_msg is None:
                    low_msg = ctx.text.iloc[alive].str.lower()
                m = np.zeros(n, dtype=bool)
                for nd in needles:
                    m |= low_msg.str.contains(nd, regex=False).to_numpy(
                        dtype=bool, na_value=False)
                out |= m
    return out


# is_notroutable ranges as int keys (geoip skip, util.c notroutable table)
_NOTROUTABLE_RANGES = None


def _notroutable_ranges():
    global _NOTROUTABLE_RANGES
    if _NOTROUTABLE_RANGES is None:
        import ipaddress
        rs = []
        for n in ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16",
                  "127.0.0.0/8", "224.0.0.0/4", "255.255.255.255/32"):
            net = ipaddress.ip_network(n)
            rs.append((int(net.network_address) | (0xFFFF << 32),
                       int(net.broadcast_address) | (0xFFFF << 32)))
        for n in ("ff00::/8", "fe80::/10", "fc00::/7", "::1/128"):
            net = ipaddress.ip_network(n)
            rs.append((int(net.network_address),
                       int(net.broadcast_address)))
        _NOTROUTABLE_RANGES = tuple(sorted(rs))
    return _NOTROUTABLE_RANGES


def geoip_mask(rule, ctx: BatchExtract, ex: dict, ranges) -> np.ndarray:
    """Vectorized country_code gate (engine.c:1161-1225): SKIP
    (non-routable / no interval / unparseable) blocks; is/isnot compare
    against the looked-up country."""
    ips = ex["ip_src"] if rule.geoip_track == "by_src" else ex["ip_dst"]
    n = len(ips)
    if not ranges:
        return np.zeros(n, dtype=bool)
    if _has_big_bound(ranges):
        from .extract import geoip_pass
        return np.array([
            geoip_pass(rule, s, d, ranges)
            for s, d in zip(ex["ip_src"], ex["ip_dst"])], dtype=bool)
    vals = _ip_ints(ctx, ips)
    skip = np.isnan(vals) | _in_ranges(vals, _notroutable_ranges())
    lo = np.array([r[0] for r in ranges], dtype=float)
    hi = np.array([r[1] for r in ranges], dtype=float)
    cc = np.array([r[2] for r in ranges], dtype=object)
    safe = np.nan_to_num(vals, nan=-1.0)
    idx = np.searchsorted(lo, safe, side="right") - 1
    found = (idx >= 0) & ~skip
    idx = np.clip(idx, 0, len(ranges) - 1)
    found &= (safe >= lo[idx]) & (safe <= hi[idx])
    country = np.where(found, cc[idx], None)
    in_codes = pd.Series(country).isin(set(rule.geoip_codes)).to_numpy()
    ok = in_codes if rule.geoip_is else (found & ~in_codes)
    return ok & found
