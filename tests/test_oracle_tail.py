"""ENFORCED oracle coverage for the driver-gate TAIL (round-4 advice):
the hard correctness gate records only the first ``GATE_WINDOW``
``queries()`` entries, so the len(queries()) - GATE_WINDOW rotated past
the window would otherwise be covered only by the best-effort
tools/check_oracle.py runs.  This test runs exactly those tail queries
through the same Spark-vs-DuckDB compare (same canon hash as the tool)
on every pytest run, so a regression in a tail query fails CI even
while it sits outside the gate window.

The tail is read from the registry, not hard-coded — rotating the tail
set between rounds automatically rotates the enforcement.

``EXTRA`` adds in-window queries whose operators have no other tier-1
oracle check: the near-duplicate and nearest-neighbour family over
documents and embeddings (shared LSH banding, top-k ranking and Jaccard
verify), each non-vacuous at sf0.001."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracle import canon, register_views  # noqa: E402

SF = "/root/testdata/sf0.001"

_TAIL = list(entry.queries())[entry.GATE_WINDOW:]
EXTRA = ["knn_brute", "ann_lsh", "ann_ivf", "cosine_dup", "ngram_jaccard",
         "minhash_lsh"]


@pytest.fixture(scope="module")
def duck():
    import duckdb
    con = duckdb.connect()
    register_views(con, SF)
    yield con
    con.close()


def test_tail_exists_and_every_query_registered_once():
    names = list(entry.queries())
    assert len(names) == len(set(names))
    assert _TAIL, "registry shrank below the gate window"


@pytest.mark.parametrize("name", _TAIL + EXTRA)
def test_tail_query_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF).toPandas()
    sql = entry.oracle_sql().get(name)
    assert sql is not None, f"tail query {name} lost its oracle"
    ddf = duck.execute(sql).fetchdf()
    sn, sc, sh = canon(sdf)
    dn, dc, dh = canon(ddf)
    assert (sn, sc, sh) == (dn, dc, dh), (
        f"{name}: spark(rows={sn},hash={sh}) vs duck(rows={dn},hash={dh})")
    assert sn > 0, f"{name}: zero rows at {SF} — oracle check is vacuous"
