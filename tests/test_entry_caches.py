"""Persist lifecycle of the driver-entry memoization caches: repeated
driver queries in one session must not accumulate cached frames (the
round-3 leak left correlate-internal MEMORY_AND_DISK frames behind; the
single correlate plan persists nothing itself, so every persisted frame
belongs to a cache that clear_entry_caches releases).

The assertion is a DELTA check (no persisted RDDs beyond those present
before the queries ran) so the test is robust to other session tests
holding their own caches.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.001"


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_entry_queries_release_all_persists(spark):
    before = _persisted_ids(spark)
    qs = entry.queries()
    # one conv-keyed pipeline consumer, two consumers of the memoized
    # IP-keyed frame and the un-memoized dual-track query; counts force
    # materialization
    for name in ("pipeline_alerts", "correlate_after_ip",
                 "correlate_xbit_pair", "correlate_dual_ip"):
        qs[name](spark, SF).count()
    # the caches themselves hold persisted frames while live (that's the
    # point — the 4 IP queries share ONE correlated frame) ...
    assert entry._IP_CORR_CACHE, "memoization never engaged"
    entry.clear_entry_caches()
    # ... and releasing them leaves nothing behind
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"persisted RDDs leaked: {leaked}"


def test_ip_correlated_df_memoized(spark):
    entry.clear_entry_caches()
    a = entry._ip_correlated_df(spark, SF)
    b = entry._ip_correlated_df(spark, SF)
    assert a is b
    entry.clear_entry_caches()


def test_cache_keyed_by_application_id_and_evicts_dead(spark):
    """Cache keys use the context's applicationId (unique per context
    lifetime — id(spark) can be REUSED by CPython after a session is
    GC'd, handing a new session a stale frame bound to a dead context),
    and entries whose session has stopped are evicted on access."""
    assert entry._cache_key(spark, SF) == (
        spark.sparkContext.applicationId, SF)

    class DeadSession:
        @property
        def sparkContext(self):
            raise RuntimeError("SparkContext was stopped")

    entry._IP_CORR_CACHE[("app-dead", SF)] = (DeadSession(), object())
    live = entry._ip_correlated_df(spark, SF)   # access runs eviction
    assert ("app-dead", SF) not in entry._IP_CORR_CACHE
    assert live is entry._ip_correlated_df(spark, SF)
    entry.clear_entry_caches()
