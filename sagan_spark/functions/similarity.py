"""Similarity search over an embedding column (``array<float>``).

* **brute_force_topk** — exact cosine top-k per query: broadcast the query
  set (small), compute dot products with ``F.aggregate``/``F.zip_with``
  (JVM-side, codegen — no Python), window top-k.  The exact baseline; at
  100 TB this is a single broadcast-join scan, no shuffle except the
  per-query top-k aggregation.
* **lsh_ann_topk** — random-hyperplane LSH buckets (sign of dot with fixed
  deterministic hyperplanes) → candidates share ≥1 band bucket → exact
  rerank within candidates.  The scale path: candidate generation is an
  equi-join on bucket keys.
* **ivf_topk** — IVF-style: k-means-lite centroids chosen deterministically
  (first C vectors as seeds, one Lloyd iteration via DataFrame ops),
  probe the nearest ``nprobe`` cells.  Approximate; recall tested vs brute
  force in pytest.
* **cosine_dup_pairs** — embedding-cosine near-duplicate pairs for the
  dedup family: exact duplicates collapse by the raw vector, then an
  LSH-banded candidate self-join whose pairs travel as ids + an
  exact-cosine verify over the vectors joined back.

Both LSH operators band the same way (``_banded``): ``N_BANDS`` bands of
``BAND_BITS`` sign bits each, as JVM codegen expressions that the static
DuckDB oracles re-derive bit for bit.  All three top-k operators rank
through ``_top``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

# the one LSH banding: every caller uses it, and the DuckDB oracles of
# ann_lsh and cosine_dup rebuild their buckets from these two constants
N_BANDS = 8
BAND_BITS = 4


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"),
                       lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v * v))


def with_cosine(df: DataFrame, a_col: str, b_col: str,
                out: str = "cosine") -> DataFrame:
    """Cosine rounded to 6 places; NULL when either vector is zero (an
    ANSI-mode plain divide would fail the whole query instead)."""
    a, b = F.col(a_col), F.col(b_col)
    return df.withColumn(
        out, F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), 6))


def _top(scored: DataFrame, k: int, by: str = "query_id",
         tie: str = "neighbor_id",
         keep=("query_id", "neighbor_id", "cosine", "rank")) -> DataFrame:
    """The ``keep`` columns of the rows of ``scored`` ranked 1..k per
    ``by`` on (cosine desc, ``tie`` asc); ``rank`` is that rank."""
    w = Window.partitionBy(by).orderBy(F.col("cosine").desc(),
                                       F.col(tie).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).select(*keep))


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     max_queries: int = 10000) -> DataFrame:
    """For each query row (query_id, embedding) return its k nearest
    neighbors by cosine (excluding self-id), deterministic tie-break on
    (cosine desc, neighbor id asc).

    Plan shape: broadcast(queries) ⋈ vectors (no shuffle of the big side)
    → per-pair cosine in codegen → window top-k keyed by query_id.

    This is the EXACT baseline: |V|×|Q| scored pairs.  A large queries
    frame would silently turn it into an all-pairs scan nobody asked
    for, so |Q| is checked against ``max_queries`` up front — use
    lsh_ann_topk / ivf_topk for bulk query sets."""
    nq = queries.count()
    if nq > max_queries:
        raise ValueError(
            f"brute_force_topk got {nq} queries (> {max_queries}); the "
            "broadcast nested-loop is the exact small-Q baseline — use "
            "lsh_ann_topk or ivf_topk for bulk query sets, or raise "
            "max_queries explicitly")
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_emb"))
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("v_emb"))
    pairs = v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    return _top(with_cosine(pairs, "q_emb", "v_emb"), k)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (sin-based — stable across
    runs and engines, no RNG state)."""
    return [[math.sin(0.7 * p + 1.3 * d + 0.31) for d in range(dim)]
            for p in range(n_planes)]


def _banded(df: DataFrame, emb: str, dim: int) -> DataFrame:
    """``df`` exploded to one row per band, with its ``band`` index and
    ``bucket``: the sign bits of ``emb`` against the band's BAND_BITS
    hyperplanes, folded MSB-first."""
    planes = _hyperplanes(dim, N_BANDS * BAND_BITS)
    cols = []
    for b in range(N_BANDS):
        bits = None
        for p in planes[b * BAND_BITS:(b + 1) * BAND_BITS]:
            arr = F.array(*[F.lit(x) for x in p])
            bit = F.when(_dot(F.col(emb), arr) >= 0, 1).otherwise(0)
            bits = bit if bits is None else bits * 2 + bit
        cols.append(F.struct(F.lit(b).alias("band"), bits.alias("bucket")))
    return (df.select("*", F.explode(F.array(*cols)).alias("bb"))
            .select(*df.columns, "bb.band", "bb.bucket"))


def lsh_ann_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH: signature = sign bits vs N_BANDS*BAND_BITS
    hyperplanes; candidates = pairs sharing any band; exact cosine rerank
    → top-k (may differ from brute force only when a true neighbor shares
    no band — recall measured in tests)."""
    v = _banded(vectors.select(F.col(id_col).alias("neighbor_id"),
                               F.col(vec_col).alias("v_emb")), "v_emb", dim)
    q = _banded(queries.select(F.col(id_col).alias("query_id"),
                               F.col(vec_col).alias("q_emb")), "q_emb", dim)
    cand = (v.join(F.broadcast(q), ["band", "bucket"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "q_emb", "neighbor_id", "v_emb")
            .distinct())
    return _top(with_cosine(cand, "q_emb", "v_emb"), k)


def cosine_dup_pairs(vectors: DataFrame, threshold: float = 0.30,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     dim: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-family sibling of
    lsh_ann_topk): candidates are id pairs sharing >= 1 random-hyperplane
    band bucket — a bucketed SELF-join, never an all-pairs product — then
    exact-cosine verified against ``threshold``.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6.

    Scale shape: exact-duplicate collapse first.  A web-scale corpus
    carries heavy exact duplication (the sf10 table: 200k rows, 2,000
    distinct vectors, 100-member clusters).  LSH over raw rows
    self-joins every cluster in EVERY band — 8.4e9 candidate pairs
    measured at sf10 — so candidates are generated over DISTINCT vectors
    only, banded as lsh_ann_topk bands; duplicate clusters re-expand
    afterwards (their pair volume is the data's own duplication, i.e.
    the answer, not wasted candidate work).  The collapse groups by the
    raw vector: a hash key would save no wire bytes, since the
    cluster-map join shuffles the raw vectors anyway.  Candidate pairs
    are deduplicated as (rid_a, rid_b) ids before the two vectors join
    back for the cosine.  Random vectors spread over 2**BAND_BITS
    buckets per band, so the candidate load is
    ~ N_BANDS * D**2 / 2**(BAND_BITS+1) = D**2 / 4 for D distinct
    vectors, which suits corpora of up to ~50k distinct vectors."""
    vv = vectors.select(F.col(id_col).alias("vid"),
                        F.col(vec_col).alias("emb"))
    # one representative id (the least) per distinct vector, and the
    # cluster map from every input id to its representative
    reps = vv.groupBy("emb").agg(F.min("vid").alias("rid"))
    members = vv.join(reps, "emb").select("rid", "vid")

    # candidates travel as id pairs: the distinct() shuffles two longs
    # per pair, and the vectors join back only for the verify
    v = _banded(reps, "emb", dim).select("rid", "band", "bucket")
    cand = (v.withColumnRenamed("rid", "rid_a")
            .join(v.withColumnRenamed("rid", "rid_b"), ["band", "bucket"])
            .filter(F.col("rid_a") < F.col("rid_b"))
            .select("rid_a", "rid_b")
            .distinct()
            .join(reps.select(F.col("rid").alias("rid_a"),
                              F.col("emb").alias("a_emb")), "rid_a")
            .join(reps.select(F.col("rid").alias("rid_b"),
                              F.col("emb").alias("b_emb")), "rid_b"))
    rep_pairs = (with_cosine(cand, "a_emb", "b_emb")
                 .filter(F.col("cosine") >= threshold)
                 .select("rid_a", "rid_b", "cosine"))

    # expand duplicate clusters back to id pairs via the members map.
    # cross-cluster: every member of a × every member of b — the
    # verified rep-level cosine applies to all of them (identical vecs)
    ma, mb = members.alias("ma"), members.alias("mb")
    cross = (rep_pairs
             .join(ma, F.col("rid_a") == F.col("ma.rid"))
             .join(mb, F.col("rid_b") == F.col("mb.rid"))
             .select(F.least("ma.vid", "mb.vid").alias("id_a"),
                     F.greatest("ma.vid", "mb.vid").alias("id_b"),
                     "cosine"))
    # within-cluster: all pairs inside one duplicate cluster, cosine of
    # the vector with itself (rounded like every other pair; a zero
    # vector's NULL cosine drops the pair, matching the raw self-join)
    w1, w2 = members.alias("w1"), members.alias("w2")
    within = (w1.join(w2, (F.col("w1.rid") == F.col("w2.rid")) &
                      (F.col("w1.vid") < F.col("w2.vid")))
              .join(reps, "rid")
              .select(F.col("w1.vid").alias("id_a"),
                      F.col("w2.vid").alias("id_b"),
                      F.col("emb").alias("a_emb"),
                      F.col("emb").alias("b_emb")))
    within = (with_cosine(within, "a_emb", "b_emb")
              .filter(F.col("cosine") >= threshold)
              .select("id_a", "id_b", "cosine"))
    return cross.unionByName(within)


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-lite: centroids = the first n_cells vectors by id
    (deterministic seeds, cell = rank in id order); vectors assigned to
    the nearest centroid; queries probe the nprobe nearest cells and
    rerank exactly within them.  Approximate by design — the 100 TB path
    where brute force is too wide."""
    from pyspark.sql import types as T

    # seeds are enumerated DRIVER-side (collect of n_cells rows): a
    # row_number window over the unpartitioned seed frame would be a
    # single-partition WindowExec — harmless at 16 rows but its warning
    # drowns out real ones (a literal partitionBy key gets folded away
    # by Catalyst, so the explicit enumeration is the quiet exact form)
    seed_rows = (vectors.orderBy(id_col).limit(n_cells)
                 .select(F.col(vec_col)).collect())
    seeds = vectors.sparkSession.createDataFrame(
        [(i, r[0]) for i, r in enumerate(seed_rows)],
        T.StructType([
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("c_emb", vectors.schema[vec_col].dataType)]))
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("v_emb"))
    # assign each vector to nearest seed (broadcast seeds)
    assigned = _top(with_cosine(v.crossJoin(F.broadcast(seeds)),
                                "v_emb", "c_emb"), 1, "neighbor_id", "cell",
                    keep=("neighbor_id", "v_emb", "cell"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_emb"))
    probes = _top(with_cosine(q.crossJoin(F.broadcast(seeds)),
                              "q_emb", "c_emb"), nprobe, tie="cell",
                  keep=("query_id", "q_emb", "cell"))
    cand = (assigned.join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id")))
    return _top(with_cosine(cand, "q_emb", "v_emb"), k)
