"""Stage 2 — MATCH: the vectorized rule-match engine.

One ``mapInPandas`` pass evaluates the whole compiled rule set against each
Arrow batch and explodes (event × matched-rule) rows — the Spark-first
re-expression of the reference's per-event rule loop
(``Sagan_Engine``, /root/reference/src/processors/engine.c:96-1683).

Execution strategy (scale notes):

* **Narrow stage** — no shuffle: matching is embarrassingly parallel over
  input partitions; at 10^12 turns this stage scales linearly with
  executors.
* **Vectorized hot path** — gates and content/pcre/meta predicates are
  pandas/NumPy C loops over Arrow columns (the SIMD-strstr analog,
  src/parsers/strstr-asm/*).  Never per-row Python.
* **Progressive masking** — predicates run cheap-to-expensive
  (program/role gates → content → pcre → meta_content), each evaluated
  only on rows still alive — the reference's predicate-ordering
  optimization (doc/source/high-performance.rst:78-93) with the added win
  that a dead row skips *all* remaining predicates.
* **Lazy extraction** — parse_src_ip/hash/normalize run only on matched
  rows, memoized per event across rules (the parse-once cache,
  engine.c:845-860).
* Content windows (offset/depth/distance/within) have *constant* bounds
  per rule (model.content_window), so they vectorize as ``str.slice``.
"""

from __future__ import annotations

import operator
import re
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd

from .rules.compiler import RuleSet
from .rules.model import glob_to_regex
from .semantics import xbit_track_value
from .vextract import (
    BatchExtract,
    alert_time_mask,
    assemble_extract,
    blacklist_mask,
    flow_mask,
    geoip_mask,
    intel_mask,
)

MATCH_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, epoch long, rule_idx int, sid long, rev int, "
    "action string, msg string, classtype string, pri int, "
    "ip_src string, src_port int, ip_dst string, dst_port int, "
    "proto string, username string, hash string, "
    "after_key string, thresh_key string, xbit_key string"
)

_DTYPES = {"turn_idx": "int32", "epoch": "int64", "rule_idx": "int32",
           "sid": "int64", "rev": "int32", "pri": "int32",
           "src_port": "int32", "dst_port": "int32"}


def _window_bounds(spec, prev_depth: int) -> tuple[int, int | None]:
    """Constant slice bounds for one content/meta window — the vectorized
    form of model.content_window (engine.c:502-558)."""
    if spec.distance != 0:
        start = prev_depth + spec.distance + 1
        stop = start + spec.within if spec.within else None
        return start, stop
    start = spec.offset
    stop = start + spec.depth + 1 if spec.depth else None
    return start, stop


_BACKREF_RE = re.compile(r"\\[1-9]|\(\?P=")


def _noncapture(pattern: str) -> str:
    """Rewrite capturing groups ``(`` → ``(?:`` (boolean-search
    equivalent) so pandas ``str.contains`` doesn't emit its has-match-
    groups UserWarning on every batch.  Skipped when the pattern uses
    backreferences (rewriting would break them); character-class
    interiors are left untouched."""
    if _BACKREF_RE.search(pattern):
        return pattern
    out: list[str] = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if ch == "[" and not in_class:
            in_class = True
        elif ch == "]" and in_class:
            in_class = False
        elif ch == "(" and not in_class and not pattern.startswith("(?", i):
            out.append("(?:")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


class _RuleProgram:
    """Executor-side compiled form of one rule: everything regex is
    pre-compiled once per executor (the PCRE-JIT analog,
    src/sagan.c:686-700)."""

    def __init__(self, idx: int, rule):
        self.idx = idx
        self.rule = rule
        # last-present-gate-wins quirk (engine.c:401-485)
        self.gate = None
        if rule.program:
            alt = "|".join(glob_to_regex(g)[1:-1] for g in rule.program)
            self.gate = ("tool_re", re.compile(f"(?:{alt})"))
        for attr in ("facility", "level", "tag", "syspri"):
            vals = getattr(rule, attr)
            if vals:
                self.gate = ("role_in", frozenset(vals))
        self.contents = []
        for z, c in enumerate(rule.contents):
            prev_depth = rule.contents[z - 1].depth if z > 0 else 0
            self.contents.append((_window_bounds(c, prev_depth), c))
        self.pcres = [re.compile(_noncapture(p.pattern), p.flags)
                      for p in rule.pcres]
        self.metas = []
        for z, m in enumerate(rule.meta_contents):
            prev_depth = rule.meta_contents[z - 1].depth if z > 0 else 0
            flags = re.I if m.nocase else 0
            alt = re.compile("|".join(re.escape(a) for a in m.alternatives),
                             flags)
            self.metas.append((_window_bounds(m, prev_depth), alt, m.negated))

    # -- vectorized predicates ------------------------------------------------

    def alive_after_gates(self, alive: np.ndarray, tool: pd.Series,
                          role: pd.Series) -> np.ndarray:
        if self.gate is None:
            return alive
        kind, arg = self.gate
        if kind == "tool_re":
            ok = tool.iloc[alive].str.fullmatch(arg).to_numpy(dtype=bool,
                                                              na_value=False)
        else:
            ok = role.iloc[alive].isin(arg).to_numpy()
        return alive[ok]

    def alive_after_body(self, alive: np.ndarray, text: pd.Series,
                         masks: "_MaskCache") -> np.ndarray:
        for (start, stop), c in self.contents:
            if alive.size == 0:
                return alive
            hit = masks.content(c.pattern, c.nocase, start, stop)
            alive = alive[~hit[alive]] if c.negated else alive[hit[alive]]
        for rx in self.pcres:
            if alive.size == 0:
                return alive
            alive = alive[masks.regex_window(rx, 0, None)[alive]]
        for (start, stop), alt_rx, negated in self.metas:
            if alive.size == 0:
                return alive
            hit = masks.regex_window(alt_rx, start, stop)
            alive = alive[~hit[alive]] if negated else alive[hit[alive]]
        return alive


class _MaskCache:
    """Per-batch memo of predicate masks over the FULL batch.

    Deployed rulesets share predicates heavily (many signatures test the
    same program/service literal); evaluating each *distinct*
    (pattern, window, nocase) once per Arrow batch and letting rules
    intersect numpy bool masks turns O(rules × contents) pandas scans
    into O(distinct predicates) — the multi-pattern grouping of
    SURVEY §4.3 in its python half (the JVM half is candidate_filter)."""

    __slots__ = ("text", "_cache", "_regions")

    def __init__(self, text: pd.Series):
        self.text = text
        self._cache: dict = {}
        self._regions: dict = {}

    def _region(self, start: int, stop) -> pd.Series:
        if (start, stop) == (0, None):
            return self.text
        key = (start, stop)
        r = self._regions.get(key)
        if r is None:
            r = self._regions[key] = self.text.str.slice(start, stop)
        return r

    def content(self, pattern: str, nocase: bool, start: int,
                stop) -> np.ndarray:
        key = ("c", pattern, nocase, start, stop)
        m = self._cache.get(key)
        if m is None:
            region = self._region(start, stop)
            if nocase:
                hit = region.str.lower().str.contains(
                    pattern.lower(), regex=False)
            else:
                hit = region.str.contains(pattern, regex=False)
            m = self._cache[key] = hit.to_numpy(dtype=bool, na_value=False)
        return m

    def regex_window(self, rx, start: int, stop) -> np.ndarray:
        key = ("rw", rx.pattern, rx.flags, start, stop)
        m = self._cache.get(key)
        if m is None:
            m = self._cache[key] = self._region(start, stop).str.contains(
                rx).to_numpy(dtype=bool, na_value=False)
        return m


def compile_programs(ruleset: RuleSet) -> list[_RuleProgram]:
    return [_RuleProgram(i, r) for i, r in enumerate(ruleset.rules)]


# ---------------------------------------------------------------------------
# JVM-side candidate prefilter (the grouped multi-pattern prefilter of
# SURVEY §4.3, pushed into Catalyst instead of Python)
# ---------------------------------------------------------------------------

_JAVA_UNSAFE = ("(?P", "(?(", "\\x{", "*+", "++", "?+")
# \d/\w/\b/\s (and negations) are ASCII-only in Java rlike but Unicode in
# Python re — a JVM prefilter using them could drop rows the Python
# matcher would match (false negative in a supposed superset filter)
_JAVA_SEMANTIC_DRIFT = re.compile(r"\\[dwsbDWSB]")


def _java_safe_regex(pattern: str) -> bool:
    """True when the python-re pattern is also a valid AND semantically
    equivalent Java regex (rlike): excludes python-only syntax and the
    class shorthands whose char sets differ between engines."""
    return (not any(tok in pattern for tok in _JAVA_UNSAFE)
            and not _JAVA_SEMANTIC_DRIFT.search(pattern))


_META = set(r".^$*+?{}[]()|\\" "\\")


def _regex_required_literal(pattern: str) -> str:
    """Longest LEADING literal run of a regex — every match must contain
    it, so ``contains(literal)`` is a sound superset prefilter that costs
    a substring scan instead of a per-row regex.  Escaped metachars
    (``\\[`` etc.) count as literals; a trailing char made optional by a
    following quantifier is dropped."""
    if pattern.startswith("^"):
        pattern = pattern[1:]
    # a top-level alternation makes NO leading run required
    # ("abcd|efgh" can match without "abcd"); group-internal alternation
    # after the literal is fine
    depth = 0
    in_class = False
    j = 0
    while j < len(pattern):
        c = pattern[j]
        if c == "\\":
            j += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return ""
        j += 1
    out: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            # only punctuation escapes (\. \[ \* …) are literals; any
            # alphanumeric escape (\d \w \b \x20 \A \Z …) is a class,
            # anchor, or code-point escape — stop the literal run there
            if nxt and not nxt.isalnum():
                out.append(nxt)
                i += 2
                continue
            break
        if ch in _META:
            break
        out.append(ch)
        i += 1
    if i < n and pattern[i] in "*?{" and out:
        out.pop()                 # optional/counted last char isn't required
    return "".join(out)


def _rule_prefilter_key(rule):
    """The rule's cheapest positive body predicate as a hashable key, or
    None when no conservative predicate exists (e.g. only negated
    contents).  Window modifiers (offset/depth/...) only shrink the match
    region, so a plain contains is a sound superset.  Deployed rulesets
    share first literals heavily (hundreds of signatures keyed on the same
    program/service token), so candidate_filter ORs DISTINCT keys — the
    evaluation cost scales with distinct literals, not rule count."""
    for c in rule.contents:
        if not c.negated:
            return ("content", c.pattern.lower() if c.nocase else c.pattern,
                    c.nocase)
    for m in rule.meta_contents:
        if not m.negated and m.alternatives:
            return ("meta", m.alternatives, m.nocase)
    for p in rule.pcres:
        # a required literal beats rlike: the JVM contains-chain is a
        # substring scan, the regex is per-row NFA work × rule count
        lit = _regex_required_literal(p.pattern)
        nocase = bool(p.flags & re.I)
        if len(lit) >= 4:
            return ("content", lit.lower() if nocase else lit, nocase)
        if _java_safe_regex(p.pattern):
            return ("pcre", p.pattern, p.flags)
    return None


def _key_predicate(key):
    """The Catalyst predicate a _rule_prefilter_key stands for."""
    from pyspark.sql import functions as F

    def contains(lit: str, nocase: bool):
        # a nocase literal is already lower-cased
        return (F.lower(F.col("text")).contains(lit) if nocase
                else F.col("text").contains(lit))

    kind, arg, mod = key
    if kind == "content":
        return contains(arg, mod)
    if kind == "meta":
        return reduce(operator.or_, (contains(a.lower() if mod else a, mod)
                                     for a in arg))
    prefix = "".join(tag for flag, tag in
                     ((re.I, "(?i)"), (re.S, "(?s)"), (re.M, "(?m)"))
                     if mod & flag)
    return F.col("text").rlike(prefix + arg)


def candidate_filter(ruleset: RuleSet):
    """OR of per-rule prefilters, deduplicated — rows matching none can be
    dropped BEFORE the Arrow boundary, so at realistic alert densities
    only a few percent of the table is ever serialized into Python.
    Returns None (no filtering possible) if any rule lacks a positive
    predicate."""
    keys = [_rule_prefilter_key(r) for r in ruleset.rules]
    if not keys or None in keys:
        return None
    return reduce(operator.or_, map(_key_predicate, dict.fromkeys(keys)))


def _vec_track_key(tracks, ip_src, src_port, ip_dst, dst_port, user,
                   n: int) -> list[str]:
    """Vectorized-ish track_key (semantics.track_key) over per-rule match
    arrays; components not tracked collapse to constants."""
    srcs = ip_src if "by_src" in tracks else ("",) * n
    dsts = ip_dst if "by_dst" in tracks else ("",) * n
    users = user if "by_username" in tracks else ("",) * n
    sports = src_port if "by_srcport" in tracks else (0,) * n
    dports = dst_port if "by_dstport" in tracks else (0,) * n
    return [f"{s}|{sp}|{d}|{dp}|{u}" for s, sp, d, dp, u in
            zip(srcs, sports, dsts, dports, users)]


def iter_match_frames(pdf: pd.DataFrame, ruleset: RuleSet,
                      programs: list[_RuleProgram]
                      ) -> Iterator[pd.DataFrame]:
    """Yield one (event x matched-rule) frame PER RULE.  Streaming
    frames to the Arrow writer instead of concatenating one giant batch
    avoids a full extra copy + pandas block consolidation of the output
    (the dominant cost at high match density)."""
    n = len(pdf)
    pdf = pdf.reset_index(drop=True)
    text = pdf["text"].astype("string").fillna("").astype(str)
    tool = pdf["tool"].astype("string").fillna("").astype(str)
    role = pdf["role"].astype("string").fillna("").astype(str)
    all_rows = np.arange(n)
    # per-batch parse-once cache, shared by every rule (SURVEY §2.3 X1)
    ctx = BatchExtract(text, tool, ruleset.normalize_rulebase)

    conv_np = pdf["conv_id"].to_numpy()
    turn_np = pdf["turn_idx"].to_numpy()
    ts_np = pdf["ts"].to_numpy()
    epoch_np = pdf["epoch"].to_numpy()
    role_np = role.to_numpy()
    tool_np = tool.to_numpy()
    text_np = text.to_numpy()

    masks = _MaskCache(text)
    for prog in programs:
        alive = prog.alive_after_gates(all_rows, tool, role)
        alive = prog.alive_after_body(alive, text, masks)
        if alive.size == 0:
            continue
        rule = prog.rule
        cls = ruleset.classifications.get(rule.classtype,
                                          ("", rule.priority))
        pri = rule.priority or cls[1]

        # every rule's alive rows through the one vectorized extraction
        # (fallback addressing included, engine.c:967-1045), then only
        # the gate masks the rule has
        ex = assemble_extract(rule, ctx, alive, conv_np, tool_np)
        mask = np.ones(alive.size, dtype=bool)
        if not rule.head.all_any:
            mask &= flow_mask(rule, ctx, ex)
        if rule.alert_time is not None:
            mask &= alert_time_mask(rule.alert_time, pdf["ts"].iloc[alive])
        if rule.blacklist:
            mask &= blacklist_mask(ctx, ex, ruleset.blacklist_ranges)
        if rule.intel:
            mask &= intel_mask(rule, ctx, ex, alive, ruleset.intel_sets)
        if rule.geoip_track:
            mask &= geoip_mask(rule, ctx, ex, ruleset.geoip_ranges)
        if not mask.any():
            continue
        alive = alive[mask]
        m = int(alive.size)
        ip_src = ex["ip_src"][mask]
        src_port = ex["src_port"][mask]
        ip_dst = ex["ip_dst"][mask]
        dst_port = ex["dst_port"][mask]
        proto = ex["proto"][mask]
        username = ex["username"][mask]
        hsh = ex["hash"][mask]

        out = {
            "conv_id": conv_np[alive],
            "turn_idx": turn_np[alive],
            "role": role_np[alive],
            "text": text_np[alive],
            "tool": tool_np[alive],
            "ts": ts_np[alive],
            "epoch": epoch_np[alive],
            "rule_idx": np.full(m, prog.idx, dtype=np.int32),
            "sid": np.full(m, rule.sid, dtype=np.int64),
            "rev": np.full(m, rule.rev, dtype=np.int32),
            "action": np.full(m, rule.head.action, dtype=object),
            "msg": np.full(m, rule.msg, dtype=object),
            "classtype": np.full(m, rule.classtype, dtype=object),
            "pri": np.full(m, pri, dtype=np.int32),
            "ip_src": np.asarray(ip_src, dtype=object),
            "src_port": np.asarray(src_port, dtype=np.int32),
            "ip_dst": np.asarray(ip_dst, dtype=object),
            "dst_port": np.asarray(dst_port, dtype=np.int32),
            "proto": np.asarray(proto, dtype=object),
            "username": np.asarray(username, dtype=object),
            "hash": np.asarray(hsh, dtype=object),
            "after_key": _vec_track_key(
                rule.after.tracks, ip_src, src_port, ip_dst, dst_port,
                username, m) if rule.after else np.full(m, None, object),
            "thresh_key": _vec_track_key(
                rule.threshold.tracks, ip_src, src_port, ip_dst, dst_port,
                username, m) if rule.threshold else np.full(m, None, object),
            "xbit_key": (
                [xbit_track_value(rule.xbits[0].track,
                                  {"ip_src": s, "ip_dst": d})
                 for s, d in zip(ip_src, ip_dst)]
                if rule.xbits else np.full(m, None, object)),
        }
        frame = pd.DataFrame(out)
        for c, dt in _DTYPES.items():
            frame[c] = frame[c].astype(dt)
        yield frame


def build_matcher(ruleset: RuleSet):
    """Returns a mapInPandas function.  The RuleSet travels in the task
    closure (compiled regexes are rebuilt per executor, not pickled);
    per-rule frames stream straight to the Arrow writer."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        programs = compile_programs(ruleset)
        for pdf in batches:
            yield from iter_match_frames(pdf, ruleset, programs)

    return fn


def run_match(parsed_df, ruleset: RuleSet):
    """parsed transcripts → exploded (event × matched rule) DataFrame.

    Plan shape: column-pruned projection → JVM-side candidate prefilter
    (codegen'd contains/rlike disjunction — rows that can't match any rule
    never cross the Arrow boundary) → vectorized matcher."""
    needed = parsed_df.select("conv_id", "turn_idx", "role", "text",
                              "tool", "ts", "epoch")
    pref = candidate_filter(ruleset)
    if pref is not None:
        needed = needed.filter(pref)
    return needed.mapInPandas(build_matcher(ruleset), schema=MATCH_SCHEMA)
