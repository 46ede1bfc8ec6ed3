"""Scale smoke: run EVERY driver query's Spark side at a larger sf dir
(default /tmp/sf10 — 100× the correctness-gate data) under a per-query
watchdog, and report wall + rows | TIMEOUT | ERROR per query.

This is how the media_frames runaway (unbounded 1→N fan-out) was caught:
the correctness gate at sf0.01 can't see super-linear blow-ups.

CONTRACT: every non-ok status must carry an ``explanation`` in the
written artifact (EXPLANATIONS below) — an unexplained TIMEOUT is a bug
until profiled.  The tool exits non-zero if one appears.

Cache model: the correctness gate runs all queries in ONE session and
never clears a cache, so every query over a rules corpus reads that
corpus's one memoized pipeline run (``__spark_entry__._run``).  The smoke
does the same: the first query of each corpus pays the cold build and the
rest measure the way the gate sees them.

Usage: python tools/scale_smoke.py [sf_dir] [timeout_sec] [name ...]
Writes BENCH/scale_smoke.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _commit() -> str:
    """Full hash of the code under test, suffixed ``-dirty`` when the
    working tree has uncommitted changes."""
    try:
        return subprocess.run(["git", "-C", REPO, "describe", "--always",
                               "--dirty", "--abbrev=40"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"

# required explanation for any expected non-ok result (the contract)
EXPLANATIONS: dict[str, str] = {
    "cosine_dup": (
        "8 bands x 4 bits, the banding its static DuckDB oracle "
        "re-derives; random-collision candidates grow ~D**2/4 in the "
        "DISTINCT vector count D, so it suits up to ~50k distinct vectors "
        "(similarity.py doc) — the exact-dup collapse made sf10's "
        "2k-distinct corpus pass"),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    timeout = float(sys.argv[2]) if len(sys.argv) > 2 else 120.0
    only = set(sys.argv[3:])
    commit = _commit()

    import __spark_entry__ as E
    from sagan_spark.session import get_spark

    spark = get_spark("scale_smoke")
    spark.range(32 * 4, numPartitions=32).mapInPandas(
        lambda it: it, schema="id long").count()

    results: dict[str, dict] = {}

    def measure(name, thunk):
        out: dict = {}

        def run():
            try:
                t0 = time.time()
                out["rows"] = thunk().count()
                out["wall"] = round(time.time() - t0, 2)
            except Exception as e:  # noqa: BLE001
                out["error"] = str(e).splitlines()[0][:200]

        th = threading.Thread(target=run, daemon=True)
        t0 = time.time()
        th.start()
        th.join(timeout)
        if th.is_alive():
            spark.sparkContext.cancelAllJobs()
            th.join(30)
            r = {"status": "TIMEOUT", "wall": round(time.time() - t0, 2)}
        elif "error" in out:
            r = {"status": "ERROR", "error": out["error"]}
        else:
            r = {"status": "ok", "rows": out["rows"], "wall": out["wall"]}
        if r["status"] != "ok" and name in EXPLANATIONS:
            r["explanation"] = EXPLANATIONS[name]
        # per-entry provenance: partial re-runs merge into the prior
        # artifact, so each entry must carry its OWN measurement
        # conditions (commit, timeout, timestamp) — a single artifact
        # header would misattribute surviving entries to the new run
        r["commit"] = commit
        r["timeout_sec"] = timeout
        r["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                         time.gmtime())
        results[name] = r
        print(f"{r['status']:>8} {name}: {r}", flush=True)

    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        measure(name, lambda: fn(spark, sf_dir))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "scale_smoke.json")
    if only and os.path.exists(path):
        # partial re-run: merge into the existing artifact (same sf_dir).
        # Surviving entries keep their OWN per-entry provenance; a
        # timeout mismatch is loudly flagged (entries measured under a
        # different watchdog are not comparable as ok/TIMEOUT verdicts)
        with open(path) as f:
            prior = json.load(f)
        if prior.get("sf_dir") == sf_dir:
            prior_timeouts = {r.get("timeout_sec",
                                    prior.get("timeout_sec"))
                              for r in prior.get("results", {}).values()}
            if prior_timeouts - {timeout}:
                print(f"WARNING: merging entries measured under "
                      f"timeout_sec {sorted(prior_timeouts)} into a "
                      f"{timeout}s run — per-entry provenance applies",
                      file=sys.stderr)
            merged = dict(prior.get("results", {}))
            merged.update(results)
            results = merged
    with open(path, "w") as f:
        json.dump({"sf_dir": sf_dir, "timeout_sec": timeout,
                   "commit": commit,
                   "provenance": "per-entry: each result carries the "
                                 "commit/timeout_sec/measured_at it was "
                                 "measured under (merged partial re-runs "
                                 "keep their original conditions)",
                   "cache_model": "one memoized pipeline run per rules "
                                  "corpus, never cleared (as in the "
                                  "correctness gate's session)",
                   "results": results}, f, indent=1)
    bad = [n for n, r in results.items() if r["status"] != "ok"]
    unexplained = [n for n in bad if "explanation" not in results[n]]
    print(json.dumps({"total": len(results), "not_ok": bad,
                      "unexplained": unexplained}))
    return 1 if unexplained else 0


if __name__ == "__main__":
    sys.exit(main())
