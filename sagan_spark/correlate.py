"""Stage 5 — CORRELATE: after / threshold / xbit / flexbit stateful
semantics.

The reference keeps this state in mmap'd shared memory keyed by
Djb2(track-string) (/root/reference/src/after.c, src/threshold.c,
src/xbit-mmap.c, src/flexbit-mmap.c).  Here each state key becomes a
Spark partition-local dict entry:

* ``after``      — key (sid, rev, after_key)   [after.c:113-117 matches
                   hash + sid + rev]
* ``threshold``  — key (sid, thresh_key)       [threshold.c:118-121
                   matches hash + sid only — rev is NOT part of the key]
* ``xbits``      — key (name, track value) (xbit-mmap.c:88-91)
* ``flexbits``   — a store of (name, ip_src, ip_dst, ports, expire,
                   state) entries compared direction-specifically
                   (flexbit-mmap.c:61-1494)

Execution strategy — ONE plan, batch and streaming alike:

* The reference evaluates every store in one engine-order pass over
  shared memory (engine.c:1132-1570).  ``unified_fold`` is that pass; it
  is exact over any row set that holds every row sharing state with any
  of its rows.  Correlation is therefore only a question of the
  partition key, and ``state_key_cols`` is the one planner for it.
* A union-find over the stores (``state_groups``) splits the ruleset
  into clusters that share no state: after/threshold rules join by sid,
  xbit rules by name, flexbit rules by name, and a flexbit ``count``
  clause (a name-agnostic scan) joins every flexbit rule.  A rule that
  touches several stores joins them, so each cluster owns its state
  completely.  The partition key is data-derived in the sense of
  *Jigsaw* (SIGMOD 2021): it comes from which stores the rules share.
* Each cluster gets the finest exact key (``cluster_modes``):
  ``conv`` — every key is a function of conv_id (the host-fallback
  addressing of engine.c:967-1045), so the key is conv_id; ``store`` —
  every row touches one store with one key, so the key is that store's
  key; ``serial`` — anything else (cross-store rules, multi-track xbits,
  dual-track after+threshold), so the whole cluster is one group.
* Batch: ``repartition(key, cluster) → sortWithinPartitions → one
  mapInPandas`` over every matched row (stateless rows key by conv_id).
  The cluster column is the hot-conversation salt: a hot conversation's
  rows spread across its independent clusters.  Streaming:
  ``groupBy(pmod(xxhash64(key), N_BUCKETS)).applyInPandasWithState``,
  folding each key of a bucket with that key's own stores (streaming
  module docstring).
* Deterministic (epoch, conv_id, turn_idx, rule_idx) order inside each
  key — the batch replacement for the reference's wall-clock arrival
  order (SURVEY §2.6).
* The reference's data-dependent reset anchoring (after.c:130-137 resets
  from the *window anchor*, threshold.c:131 rolls the anchor on every
  event) is a sequential fold — not expressible as a sliding-window SQL
  aggregate, exactly as SURVEY §4.3 planned.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .match import MATCH_SCHEMA
from .rules.compiler import RuleSet
from .semantics import FlexStore, flexbit_gate, xbit_track_value

CORR_SCHEMA = (MATCH_SCHEMA +
               ", suppress_after boolean, suppress_thresh boolean, "
               "xbit_pass boolean, flexbit_pass boolean")

_SORT = ["epoch", "conv_id", "turn_idx", "rule_idx"]

# composite state-key separator
GSEP = "\x1f"


def _track_conv_derived(tracks: tuple[str, ...]) -> bool:
    """Under fallback addressing (engine.c:967-1045) ip_src/ip_dst are
    conv_id; ports/username collapse to constants.  A track set keyed only
    on by_username/by_srcport/by_dstport therefore yields one GLOBAL key
    ('|0||0|') — partitioning that by conv_id would fragment a single
    shared counter into per-partition state.  Conv-partitioning is only
    sound when the track set includes by_src or by_dst."""
    return "by_src" in tracks or "by_dst" in tracks


def _conv_derived(rule) -> bool:
    """Every state key of the rule is a function of conv_id alone: no
    parse_src_ip/parse_dst_ip/parse_port/normalize, every after/threshold
    track set has a conv-derived component (_track_conv_derived), and no
    flexbit reader uses the cross-conv 'none' direction (any src/dst
    matches, flexbit-mmap.c:124; a 'set' ignores its direction)."""
    if not (rule.after or rule.threshold or rule.xbits or rule.flexbits):
        return True
    if (rule.parse_src_ip or rule.parse_dst_ip or rule.parse_port or
            rule.normalize):
        return False
    if rule.after and not _track_conv_derived(rule.after.tracks):
        return False
    if rule.threshold and not _track_conv_derived(rule.threshold.tracks):
        return False
    return not any(fb.direction == "none"
                   and fb.action in ("isset", "isnotset", "unset")
                   for fb in rule.flexbits)


def _single_store(rule) -> bool:
    """Every row of the rule touches exactly one store with one key:
    after and/or threshold on the same track set (both sid-scoped, one
    track value per row), or single-track xbits, or flexbits."""
    kinds = (bool(rule.after or rule.threshold) + bool(rule.xbits) +
             bool(rule.flexbits))
    if kinds != 1:
        return False
    if rule.after and rule.threshold:
        return rule.after.tracks == rule.threshold.tracks
    return len({xb.track for xb in rule.xbits}) <= 1


def state_groups(ruleset: RuleSet) -> dict[int, int]:
    """rule_idx → state cluster id.

    Union-find over the stores: after/threshold state is keyed by sid
    (after.c:113-117, threshold.c:118-121), xbit state by name
    (xbit-mmap.c:88-91) and flexbit state by name (flexbit-mmap.c name
    match); a flexbit `count` clause scans entries of EVERY name
    (flexbit-mmap.c:683-744), so its presence joins all flexbit rules.
    Rules in different clusters share no state, so any partitioning that
    keeps each cluster's interacting rows together is bit-identical."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent[find(a)] = find(b)

    has_count = any(fb.action == "count"
                    for r in ruleset.rules for fb in r.flexbits)
    for i, r in enumerate(ruleset.rules):
        node = ("r", i)
        find(node)
        if r.after or r.threshold:
            union(node, ("sid", r.sid))
        for xb in r.xbits:
            union(node, ("x", xb.name))
        for fb in r.flexbits:
            union(node, ("f", fb.name))
        if has_count and r.flexbits:
            union(node, ("count",))
    roots: dict = {}
    return {i: roots.setdefault(find(("r", i)), len(roots))
            for i in range(len(ruleset.rules))}


def cluster_modes(ruleset: RuleSet,
                  groups: dict[int, int] | None = None) -> dict[int, str]:
    """cluster id → 'conv' (every rule _conv_derived), 'store' (every rule
    _single_store) or 'serial' (anything else)."""
    if groups is None:
        groups = state_groups(ruleset)
    conv: dict[int, bool] = {}
    store: dict[int, bool] = {}
    for i, r in enumerate(ruleset.rules):
        g = groups[i]
        conv[g] = conv.get(g, True) and _conv_derived(r)
        store[g] = store.get(g, True) and _single_store(r)
    return {g: "conv" if conv[g] else "store" if store[g] else "serial"
            for g in conv}


def flex_subkey_modes(ruleset: RuleSet,
                      groups: dict[int, int]) -> dict[int, str]:
    """cluster id → finest EXACT flexbit subkey, for clusters holding
    flexbit rules:

      'src'   every reader (isset/isnotset/unset/count) in the cluster is
              src-sided (by_src/by_src_p, count by_src): an entry can
              only be consulted by rows sharing its ip_src, so the
              cluster shards by ip_src with bit-identical results
      'dst'   dst-sided mirror
      'pair'  only both/both_p readers → shard by (ip_src, ip_dst)
      'upair' both/reverse mix → shard by the unordered pair
      ''      anything else ('none', xbitdst cross-directions, mixed
              sides) — the cluster stays one group, which is the
              reference's own global-scan semantic

    set-only clusters (no readers) shard freely ('src')."""
    dirs: dict[int, set] = {}
    for i, r in enumerate(ruleset.rules):
        if not r.flexbits:
            continue
        d = dirs.setdefault(groups[i], set())
        for fb in r.flexbits:
            if fb.action in ("isset", "isnotset", "unset"):
                d.add(fb.direction)
            elif fb.action == "count":
                d.add("count_" + fb.direction)
    out = {}
    for g, d in dirs.items():
        if d <= {"by_src", "by_src_p", "count_by_src"}:
            out[g] = "src"
        elif d <= {"by_dst", "by_dst_p", "count_by_dst"}:
            out[g] = "dst"
        elif d <= {"both", "both_p"}:
            out[g] = "pair"
        elif d <= {"both", "both_p", "reverse", "reverse_p"}:
            out[g] = "upair"
        else:
            out[g] = ""
    return out


def state_key_cols(ruleset: RuleSet):
    """The state-group key of every matched row, as ``(key, cluster)``
    column expressions; batch partitions by both, streaming groups by
    ``key`` alone.  Per cluster mode (cluster_modes):

      conv    conv_id (stateless rules are conv clusters too)
      store   the row's one store key —
                a<GSEP>sid<GSEP>track-value   after/threshold (sid-scoped,
                                              after.c:113-117 /
                                              threshold.c:118-121)
                x<GSEP>xbit_key               xbit track value; set/isset
                                              interact iff their values
                                              coincide (xbit-mmap.c:88-91)
                f<GSEP>cluster<GSEP>subkey    flexbit cluster, sharded by
                                              flex_subkey_modes
      serial  s<GSEP>cluster — the whole cluster is one group"""
    from pyspark.sql import functions as F

    groups = state_groups(ruleset)
    modes = cluster_modes(ruleset, groups)
    rid = F.col("rule_idx")
    cluster = (F.create_map(*[F.lit(x) for i, g in groups.items()
                              for x in (i, g)])[rid]
               if len(modes) > 1 else F.lit(0))
    cl = cluster.cast("string")
    src = F.coalesce(F.col("ip_src"), F.lit(""))
    dst = F.coalesce(F.col("ip_dst"), F.lit(""))
    subkey = {"src": src, "dst": dst,
              "pair": F.concat_ws("~", src, dst),
              "upair": F.concat_ws("~", F.least(src, dst),
                                   F.greatest(src, dst)),
              "": F.lit("")}
    fmodes = flex_subkey_modes(ruleset, groups)
    branches: dict[str, tuple] = {}   # branch → (key expr, rule idxs)
    for i, r in enumerate(ruleset.rules):
        mode = modes[groups[i]]
        if mode == "serial":
            name, expr = "s", F.concat_ws(GSEP, F.lit("s"), cl)
        elif mode == "conv":
            continue
        elif r.xbits:
            name, expr = "x", F.concat_ws(GSEP, F.lit("x"), F.col("xbit_key"))
        elif r.flexbits:
            sub = fmodes[groups[i]]
            name, expr = "f" + sub, F.concat_ws(GSEP, F.lit("f"), cl,
                                                subkey[sub])
        else:
            name, expr = "a", F.concat_ws(
                GSEP, F.lit("a"), F.col("sid").cast("string"),
                F.coalesce(F.col("after_key"), F.col("thresh_key")))
        branches.setdefault(name, (expr, []))[1].append(i)
    key = None
    for expr, idx in branches.values():
        cond = rid.isin(idx)
        key = F.when(cond, expr) if key is None else key.when(cond, expr)
    conv = F.col("conv_id")
    return (conv if key is None else key.otherwise(conv)), cluster


# ---------------------------------------------------------------------------
# per-key state machines
# ---------------------------------------------------------------------------

def _after_update(spec, state: dict, key, t: int) -> bool:
    """One Sagan_After2 step (after.c:51-229): returns after_log_flag
    (True = suppress).  Window anchor resets on expiry (after.c:130-137)
    and rolls on every fire (after.c:140-147)."""
    st = state.get(key)
    if st is None:                    # add-new-entry path (after.c:155+)
        state[key] = [1, t]
        return True
    cnt, utime = st[0] + 1, st[1]
    flag = True
    if t - utime > spec.seconds:      # window-anchor reset (after.c:130)
        cnt, utime, flag = 1, t, True
    if spec.count < cnt:              # fire (after.c:140-147)
        utime, flag = t, False
    st[0], st[1] = cnt, utime
    return flag


def _thresh_update(spec, state: dict, key, t: int) -> bool:
    """One Threshold2 step (threshold.c:54-231): returns thresh_log_flag
    (True = suppress); anchor rolls to every event (threshold.c:131)."""
    st = state.get(key)
    if st is None:
        state[key] = [1, t]
        return False
    cnt, utime = st[0] + 1, st[1]
    oldtime = t - utime
    utime = t                         # rolling anchor (threshold.c:131)
    flag = False
    if oldtime > spec.seconds:
        cnt, flag = 1, False
    if spec.count < cnt:              # suppress (threshold.c:138-147)
        flag = True
    st[0], st[1] = cnt, utime
    return flag


def _xbit_condition(rule, store: dict, ip_src: str, ip_dst: str,
                    t: int) -> bool:
    """isset/isnotset gate (Xbit_Condition_MMAP, xbit-mmap.c:180-280),
    per-xbit track keys (multi-track supported)."""
    n_isset = n_isnotset = ok_isset = ok_isnotset = 0
    ex = {"ip_src": ip_src, "ip_dst": ip_dst}
    for xb in rule.xbits:
        if xb.action == "isset":
            n_isset += 1
        elif xb.action == "isnotset":
            n_isnotset += 1
        else:
            continue
        exp = store.get((xb.name, xbit_track_value(xb.track, ex)), 0)
        live = exp != 0 and t < exp
        if xb.action == "isset" and live:
            ok_isset += 1
        elif xb.action == "isnotset" and not live:
            ok_isnotset += 1
    if n_isset == 0 and n_isnotset == 0:
        return True
    return ok_isset == n_isset and ok_isnotset == n_isnotset


def _xbit_apply(rule, store: dict, ip_src: str, ip_dst: str,
                t: int) -> None:
    """set/unset post-match (engine.c:1560-1565, xbit-mmap.c:99/168)."""
    ex = {"ip_src": ip_src, "ip_dst": ip_dst}
    for xb in rule.xbits:
        key = (xb.name, xbit_track_value(xb.track, ex))
        if xb.action == "set":
            store[key] = t + xb.expire        # xbit-mmap.c:99
        elif xb.action == "unset":
            store[key] = 0                    # xbit-mmap.c:168


# ---------------------------------------------------------------------------
# the unified engine-order fold (batch + streaming)
# ---------------------------------------------------------------------------

class CorrState:
    """All four stores, carried across Arrow batches within a partition
    (batch) or across micro-batches (streaming)."""

    __slots__ = ("after", "thresh", "xbit", "flex")

    def __init__(self):
        self.after: dict = {}
        self.thresh: dict = {}
        self.xbit: dict = {}
        self.flex = FlexStore()


def unified_fold(ruleset: RuleSet):
    """Per-row fold in EXACT engine order (engine.c:1132-1570):
    flexbit condition/count + xbit condition gate the rule; only
    gate-passing rows touch the after/threshold counters; sets fire only
    when not suppressed (engine.c:1560-1570)."""
    rules = ruleset.rules

    def fold(pdf: pd.DataFrame, st: CorrState):
        sup_a, sup_t, xpass, fpass = [], [], [], []
        for ridx, t, src, dst, sport, dport, akey, tkey in zip(
                pdf["rule_idx"].tolist(), pdf["epoch"].tolist(),
                pdf["ip_src"].tolist(), pdf["ip_dst"].tolist(),
                pdf["src_port"].tolist(), pdf["dst_port"].tolist(),
                pdf["after_key"].tolist(), pdf["thresh_key"].tolist()):
            rule = rules[ridx]
            # 1. flexbit condition + count (engine.c:1141-1151, 1470-1478)
            if rule.flexbits:
                cond_ret = st.flex.condition(rule, src, dst, sport,
                                             dport, t)
                count_ret = st.flex.count_check(rule, src, dst)
                f_ok = flexbit_gate(rule, cond_ret, count_ret)
            else:
                f_ok = True
            # 2. xbit condition (engine.c:1132-1135, 1480)
            x_ok = (_xbit_condition(rule, st.xbit, src, dst, t)
                    if rule.xbits else True)
            a_flag = t_flag = False
            if f_ok and x_ok:
                # 3. after → threshold (engine.c:1516-1532)
                if rule.after is not None and akey is not None:
                    a_flag = _after_update(
                        rule.after, st.after, (rule.sid, rule.rev, akey), t)
                if (rule.threshold is not None and tkey is not None
                        and not a_flag):
                    t_flag = _thresh_update(
                        rule.threshold, st.thresh, (rule.sid, tkey), t)
                # 4. sets fire only when not suppressed (engine.c:1560-1570)
                if not a_flag and not t_flag:
                    if rule.xbits:
                        _xbit_apply(rule, st.xbit, src, dst, t)
                    if rule.flexbits:
                        st.flex.apply_sets(rule, src, dst, sport, dport, t)
            sup_a.append(a_flag)
            sup_t.append(t_flag)
            xpass.append(x_ok)
            fpass.append(f_ok)
        return sup_a, sup_t, xpass, fpass

    return fold


def apply_fold_to_batches(fold, st: CorrState,
                          batches: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        sup_a, sup_t, xpass, fpass = fold(pdf, st)
        pdf["suppress_after"] = pd.Series(sup_a, dtype=bool,
                                          index=pdf.index)
        pdf["suppress_thresh"] = pd.Series(sup_t, dtype=bool,
                                           index=pdf.index)
        pdf["xbit_pass"] = pd.Series(xpass, dtype=bool, index=pdf.index)
        pdf["flexbit_pass"] = pd.Series(fpass, dtype=bool, index=pdf.index)
        yield pdf


def with_default_flags(matches, ruleset: RuleSet):
    """matches + the four CORR_SCHEMA flag columns at their pass values,
    and whether any rule is stateful.  When none is, those defaults are
    already the correlated result and no fold needs to run (shared by
    run_correlate and streaming_alerts)."""
    from pyspark.sql import functions as F

    df = (matches
          .withColumn("suppress_after", F.lit(False))
          .withColumn("suppress_thresh", F.lit(False))
          .withColumn("xbit_pass", F.lit(True))
          .withColumn("flexbit_pass", F.lit(True)))
    return df, any(r.after or r.threshold or r.xbits or r.flexbits
                   for r in ruleset.rules)


def run_correlate(matches, ruleset: RuleSet):
    """matches (MATCH_SCHEMA) → matches + suppression/gate flags
    (CORR_SCHEMA): ONE repartition(key, cluster) + sortWithinPartitions +
    a single mapInPandas running the unified engine-order fold over every
    matched row.  One shuffle, one Arrow round-trip, every clause
    combination exact; a partition-shared CorrState cannot alias across
    keys because every store is keyed by row-level values and clusters
    share no sid or name (state_key_cols)."""
    df, stateful = with_default_flags(matches, ruleset)
    if not stateful:
        return df

    key, cluster = state_key_cols(ruleset)
    rep = (df.withColumn("_key", key).withColumn("_cl", cluster)
           .repartition("_key", "_cl")
           .sortWithinPartitions("_key", "_cl", *_SORT)
           .drop("_key", "_cl"))
    fold = unified_fold(ruleset)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from apply_fold_to_batches(fold, CorrState(), batches)

    return rep.mapInPandas(run, schema=CORR_SCHEMA)
