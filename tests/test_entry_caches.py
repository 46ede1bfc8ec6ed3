"""Persist lifecycle of the entry module's one memo, ``_run``: every query
over a rules corpus reads that corpus's one pipeline run, and
``clear_entry_caches`` releases every frame the module persisted; queries
outside the memo (the dedup operators) persist nothing.

The persisted-RDD assertions are DELTA checks (against the persisted RDDs
present before the queries ran) so the tests are robust to other session
tests holding their own caches.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.001"

# rules corpus → two queries that read its memoized run
SIBLINGS = {
    "": ("pipeline_alerts", "match_content_ip"),
    "gates": ("intel_gate", "blacklist_gate"),
    "ipkeys": ("correlate_after_ip", "correlate_xbit_pair"),
}


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_entry_queries_release_all_persists(spark):
    entry.clear_entry_caches()
    before = _persisted_ids(spark)
    qs = entry.queries()
    # queries over six corpora, dynamic_rules among them, and the two
    # shingle-Jaccard dedup queries; counts force materialization
    for name in ("pipeline_alerts", "correlate_flexbit", "intel_gate",
                 "correlate_after_ip", "correlate_dual_ip",
                 "dynamic_rules", "ngram_jaccard", "minhash_lsh"):
        qs[name](spark, SF).count()
    assert len(entry._RUNS) == 6, "memoization never engaged"
    assert _persisted_ids(spark) - before
    entry.clear_entry_caches()
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"persisted RDDs leaked: {leaked}"


def test_corpus_siblings_share_one_run(spark, monkeypatch):
    """Two queries over one corpus build its pipeline once and add exactly
    one persisted RDD (the correlated frame they both read)."""
    import sagan_spark.pipeline as pl

    entry.clear_entry_caches()
    builds = []
    real = pl.run_pipeline

    def counting(*args):
        builds.append(args[2])
        return real(*args)

    monkeypatch.setattr(pl, "run_pipeline", counting)
    qs = entry.queries()
    for corpus, names in SIBLINGS.items():
        before = _persisted_ids(spark)
        for name in names:
            qs[name](spark, SF).count()
        assert len(_persisted_ids(spark) - before) == 1, corpus
    assert len(builds) == len(SIBLINGS)
    entry.clear_entry_caches()


def test_cache_keyed_by_application_id_and_evicts_dead(spark):
    """Keys use the context's applicationId (unique per context lifetime —
    id(spark) can be REUSED by CPython after a session is GC'd, handing a
    new session a stale frame bound to a dead context), and entries whose
    session has stopped are evicted on access."""
    entry.clear_entry_caches()

    class DeadSession:
        @property
        def sparkContext(self):
            raise RuntimeError("SparkContext was stopped")

    entry._RUNS[("app-dead", SF, "gates")] = (DeadSession(), object())
    live = entry._run(spark, SF, "gates")   # access runs eviction
    assert list(entry._RUNS) == [
        (spark.sparkContext.applicationId, SF, "gates")]
    assert live is entry._run(spark, SF, "gates")
    entry.clear_entry_caches()
