"""Deduplication operators for a large-scale training-data pipeline
(exact, MinHash+LSH, SimHash, n-gram Jaccard).

Scale design:
* **exact_dedup** — one hash-groupBy shuffle on the md5 key; at 100 TB the
  shuffle moves only (key, doc_id) pairs, not text.
* **minhash_lsh_pairs** — exact-duplicate collapse → shingle → minhash
  signature → band buckets → bucket equi-join → exact-Jaccard verify →
  cluster re-expansion.  The candidate join is an equi-join on (band,
  bucket-hash) over duplicate-cluster REPRESENTATIVES, so Spark shuffles
  only signature fragments and duplicate clusters never self-join inside
  buckets; the O(n²) comparison never materializes.  Verification makes
  the output *exact* above the threshold (LSH miss probability with
  b=64/r=2 bands is < 1e-20 at s ≥ 0.8), so the DuckDB all-pairs oracle
  matches.
* **simhash** — 64-bit signature via token-hash bit voting; near-dup =
  hamming distance ≤ k over banded buckets.
* **ngram_jaccard_pairs** — the exact all-pairs baseline (shingle explode +
  self-join on shingle + group count); quadratic in bucket size, used as
  the verifier and the small-scale oracle-comparable path.

Both Jaccard operators verify through ``_verified_jaccard``.  No operator
here persists a frame: a frame read by several branches of one plan is
computed once per action through Spark's exchange reuse, and a cache
nothing unpersists would outlive the call.

Shingles are word n-grams; the shingle hash basis is
``conv(substr(md5(s),1,8),16,10)`` — stable across engines (DuckDB
computes the identical value), unlike xxhash64/Spark-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# MinHash parameters: 128 permutations in 64 bands × 2 rows.
# All arithmetic is sized to stay < 2^52 so it is exact in int64 (Spark
# ANSI mode) AND in a double (DuckDB oracle parity): h < 2^21, a,b < 2^30.
MINHASH_PERMS = 128
LSH_BANDS = 64
LSH_ROWS = 2
_P = 999_999_937          # prime < 2^30
_H_MOD = 2_000_003        # shingle-hash basis modulus (< 2^21)
# deterministic permutation coefficients (LCG-expanded from a fixed seed)
_A = [((i * 2654435761 + 0x9E3779B9) % _P) or 1
      for i in range(1, MINHASH_PERMS + 1)]
_B = [(i * 40503 + 0xC2B2AE35) % _P for i in range(1, MINHASH_PERMS + 1)]


def normalize_text(col):
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def word_shingles(df: DataFrame, text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams of the normalized text.
    Kept SQL-parity-simple: tokens joined by single space."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return (df.select("doc_id", F.explode(F.array_distinct(sh))
                      .alias("shingle"))
            .filter(F.length("shingle") > 0)
            .distinct())


def shingle_hash(col):
    """Stable integer basis from md5 hex, reduced mod _H_MOD —
    engine-portable (DuckDB: CAST('0x'||substr(md5(s),1,8) AS UBIGINT)
    % _H_MOD gives the identical value)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
            % F.lit(_H_MOD))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5-of-normalized-text groups; keeps the min id as the
    canonical representative and returns (doc_id, canonical_id, group_sz).
    One shuffle, keys only."""
    keyed = df.select(F.col(id_col).alias("doc_id"),
                      F.md5(normalize_text(F.col(text_col))).alias("fp"))
    w = Window.partitionBy("fp")
    return (keyed
            .withColumn("canonical_id", F.min("doc_id").over(w))
            .withColumn("group_sz", F.count("*").over(w))
            .select("doc_id", "canonical_id", "group_sz"))


def _verified_jaccard(sh: DataFrame, shared: DataFrame,
                      threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the pairs of ``shared`` — one
    (doc_a, doc_b) row per shingle the two docs share — whose exact
    shingle-set Jaccard |A∩B| / (|A|+|B|-|A∩B|), rounded to 6, is
    >= threshold; the set sizes are counted in ``sh`` (doc_id, shingle)."""
    inter = shared.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", F.round(
                F.col("inter") /
                (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold: |A∩B| via the shingle
    self-join.  Output: (doc_a, doc_b, jaccard) with doc_a < doc_b."""
    sh = word_shingles(df, text_col, n)
    a, b = sh.alias("a"), sh.alias("b")
    shared = (a.join(b, (F.col("a.shingle") == F.col("b.shingle")) &
                     (F.col("a.doc_id") < F.col("b.doc_id")))
              .select(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b")))
    return _verified_jaccard(sh, shared, threshold)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       n: int = 3, shingles: DataFrame | None = None
                       ) -> DataFrame:
    """(doc_id, sig: array<long>[MINHASH_PERMS]) — min over shingles of
    (a*h + b) mod p per permutation.  Pure column algebra: the per-perm
    min is a single groupBy aggregation over exploded shingles.  Pass a
    pre-computed ``shingles`` frame to share the tokenize/explode work
    with other stages (minhash_lsh_pairs does)."""
    sh = (shingles if shingles is not None
          else word_shingles(df, text_col, n)).withColumn(
        "h", shingle_hash(F.col("shingle")))
    aggs = [F.min((F.col("h") * F.lit(_A[i]) + F.lit(_B[i])) % _P
                  ).alias(f"m{i}") for i in range(MINHASH_PERMS)]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(
        *[F.col(f"m{i}") for i in range(MINHASH_PERMS)]).alias("sig"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """MinHash LSH candidates (band buckets → equi-join) verified by exact
    Jaccard.  Exact-equal to the all-pairs result at the threshold, with
    LSH pruning doing the scale work.

    Scale shape, two layers (mirrors cosine_dup_pairs):

    * **Exact-duplicate collapse first.**  A web-scale corpus is heavy
      with byte-identical documents; LSH over raw rows self-joins every
      duplicate cluster in EVERY band (quadratic in cluster size — the
      slowest sf10 query before this collapse).  So: collapse to one
      representative per md5(normalized text) fingerprint (the same key
      ``exact_dedup`` uses — identical normalized text ⇒ identical
      shingle set ⇒ identical signature, bands and Jaccard), band /
      verify REPRESENTATIVES only, then re-expand: cross-cluster member
      pairs inherit the verified representative Jaccard, within-cluster
      pairs are 1.0 by construction (clusters whose text normalizes to
      empty yield no shingles and therefore no pairs, exactly like the
      raw path).  The collapse shuffle carries (fp, doc_id) plus ONE
      text per (partition, fp) — min_by's map-side partial — never the
      full corpus text.
    * **Banding / verification** over representatives is unchanged: the
      candidate join is an equi-join on (band, bucket), the exact-verify
      join touches candidate pairs only.

    Nothing is persisted: the representative shingles feed the
    signatures, both verify sides and the set sizes, and ``reps`` feeds
    the shingles and the members map, but each is one plan subtree that
    Spark's exchange reuse computes once per action (``ReusedExchange``
    in the plan) — so a call leaves no cached frame behind."""
    # --- exact-duplicate collapse ---------------------------------
    keyed = df.select(F.col("doc_id"),
                      F.col(text_col).alias("__mh_text"),
                      F.md5(normalize_text(F.col(text_col))).alias("fp"))
    reps = (keyed.groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("__mh_text", "doc_id").alias("__mh_text")))
    # cluster map: representative id per input doc (join on the 32-char
    # fingerprint, never the text)
    members = (keyed.select("fp", "doc_id")
               .join(reps.select("fp", F.col("doc_id").alias("rid")), "fp")
               .select("rid", "doc_id"))
    rep_docs = reps.select("doc_id", F.col("__mh_text").alias(text_col))

    sh = word_shingles(rep_docs, text_col, n)
    sigs = minhash_signatures(rep_docs, text_col, n, shingles=sh)
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(*[F.col("sig")[bi * LSH_ROWS + r]
                             for r in range(LSH_ROWS)]).alias("bucket"))
            for bi in range(LSH_BANDS)])).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (bands.alias("x").join(
        bands.alias("y"),
        (F.col("x.band") == F.col("y.band")) &
        (F.col("x.bucket") == F.col("y.bucket")) &
        (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"))
        .distinct())
    # exact verify: compute true Jaccard only for candidates
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    rep_pairs = _verified_jaccard(
        sh, cand.join(a, "doc_a").join(b, ["doc_b", "shingle"]), threshold)

    # --- re-expand duplicate clusters -----------------------------
    # cross-cluster: every member of a × every member of b carries the
    # verified representative Jaccard (identical shingle sets)
    ma = members.select(F.col("rid").alias("doc_a"),
                        F.col("doc_id").alias("ma_id"))
    mb = members.select(F.col("rid").alias("doc_b"),
                        F.col("doc_id").alias("mb_id"))
    cross = (rep_pairs.join(ma, "doc_a").join(mb, "doc_b")
             .select(F.least("ma_id", "mb_id").alias("doc_a"),
                     F.greatest("ma_id", "mb_id").alias("doc_b"),
                     "jaccard"))
    # within-cluster: Jaccard 1.0 by construction; clusters whose rep has
    # no shingles (empty normalized text, hence no signature) never pair,
    # like the raw path
    nonempty = sigs.select(F.col("doc_id").alias("rid"))
    w1 = members.select("rid", F.col("doc_id").alias("doc_a"))
    w2 = members.select("rid", F.col("doc_id").alias("doc_b"))
    within = (w1.join(w2, "rid")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .join(nonempty, "rid", "left_semi")
              .select("doc_a", "doc_b",
                      F.round(F.lit(1.0), 6).alias("jaccard")))
    if threshold > 1.0:
        within = within.filter(F.col("jaccard") >= threshold)
    return cross.unionByName(within)


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens: per-bit weighted vote of token
    hashes.  The 64 hash bits come from two md5-derived 32-bit halves —
    engine-portable, so the DuckDB oracle reproduces the exact signature
    (xxhash64 would be Spark-only).  Output (doc_id, simhash long)."""
    toks = (df.select("doc_id", F.explode(
        F.split(normalize_text(F.col(text_col)), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("doc_id", "tok").agg(F.count("*").alias("w"))
        .withColumn("h1", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                    .cast("long"))
        .withColumn("h2", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10)
                    .cast("long")))
    # per-bit vote: sum(w * (bit ? 1 : -1)); bits 0-31 from h1, 32-63 h2
    votes = [F.sum(F.when(
        F.shiftright("h1" if b < 32 else "h2", b % 32).bitwiseAND(1) == 1,
        F.col("w")).otherwise(-F.col("w"))).alias(f"v{b}")
        for b in range(64)]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long") if b < 63 else \
            F.when(F.col(f"v{b}") > 0,
                   F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k, banded into 4
    16-bit blocks (pigeonhole: any pair within distance 3 shares ≥1 exact
    block) → equi-join on (block_idx, block_value), then exact hamming
    verify via bit_count(xor)."""
    sigs = simhash(df, text_col)
    blocks = sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("blk"),
                     F.shiftright("simhash", i * 16).bitwiseAND(0xFFFF)
                     .alias("val"))
            for i in range(4)])).alias("b")
    ).select("doc_id", "simhash", "b.blk", "b.val")
    x, y = blocks.alias("x"), blocks.alias("y")
    cand = (x.join(y, (F.col("x.blk") == F.col("y.blk")) &
                   (F.col("x.val") == F.col("y.val")) &
                   (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"),
                    F.col("x.simhash").alias("sig_a"),
                    F.col("y.simhash").alias("sig_b"))
            .distinct())
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))
