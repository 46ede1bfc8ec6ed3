"""Training-data pipeline operator tests: dedup / similarity / text /
multimodal vs straightforward pure-Python reimplementations."""

import math

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),        # exact dup
        (2, "the quick brown fox jumps over the lazy cat"),        # near dup
        (3, "completely different text about spark pipelines"),
        (4, "THE  Quick   Brown Fox Jumps Over The Lazy Dog"),     # norm dup
        (5, "another unrelated document mentioning nothing else"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from sagan_spark.functions.dedup import exact_dedup
    got = {r["doc_id"]: (r["canonical_id"], r["group_sz"])
           for r in exact_dedup(docs).collect()}
    assert got[0] == (0, 3) and got[1] == (0, 3) and got[4] == (0, 3)
    assert got[3] == (3, 1)


def py_shingles(text, n=3):
    toks = " ".join(text.lower().split()).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


def py_jaccard(a, b, n=3):
    sa, sb = py_shingles(a, n), py_shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_pairs(docs):
    from sagan_spark.functions.dedup import ngram_jaccard_pairs
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    expected = {}
    for a in texts:
        for b in texts:
            if a < b:
                j = py_jaccard(texts[a], texts[b])
                if j >= 0.5:
                    expected[(a, b)] = round(j, 6)
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-6


def test_minhash_lsh_matches_exact_pairs(docs):
    from sagan_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert lsh == exact  # verify-after-LSH makes it exact at this scale


def test_minhash_lsh_collapse_expansion_values(spark, docs):
    """The exact-duplicate collapse + cluster re-expansion reproduces the
    all-pairs jaccard VALUES (not just the pair set) on a corpus with
    fanned-out duplicate clusters, and an all-whitespace duplicate
    cluster (zero shingles) yields no pairs — exactly like the raw
    all-pairs path."""
    from sagan_spark.functions.dedup import (minhash_lsh_pairs,
                                             ngram_jaccard_pairs)
    fan1 = (docs.filter(F.col("doc_id").isin([0, 2]))
            .withColumn("doc_id", F.col("doc_id") + 10))
    fan2 = fan1.withColumn("doc_id", F.col("doc_id") + 10)
    blanks = spark.createDataFrame([(30, "   "), (31, " ")],
                                   "doc_id long, text string")
    corpus = docs.unionByName(fan1).unionByName(fan2).unionByName(blanks)
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    assert lsh == exact
    assert not any(30 in p or 31 in p for p in lsh)
    assert any(a >= 10 or b >= 10 for a, b in lsh)   # expansion happened


def test_simhash_near_dups(docs):
    from sagan_spark.functions.dedup import simhash_near_dups
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_dups(docs, max_hamming=12).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0    # identical text
    assert (0, 4) in pairs and pairs[(0, 4)] == 0    # normalized identical
    assert (3, 5) not in pairs                       # unrelated


def test_quality_and_tokens(spark):
    from sagan_spark.functions.text import quality_score, token_count
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat and it is fine for sure today ok")],
        "doc_id long, text string")
    q = quality_score(df).collect()[0]
    assert q["n_tokens"] == 14
    assert q["stopword_ratio"] > 0.2
    assert q["quality_score"] >= 0.75
    t = token_count(df).collect()[0]
    assert t["n_tokens_ws"] == 14
    assert t["n_tokens_bpe"] >= 14


def test_lang_id_and_fingerprint(spark):
    from sagan_spark.functions.text import fingerprint, lang_id
    df = spark.createDataFrame(
        [(0, "el gato de la casa y que bien"),
         (1, "der hund ist und die katze das"),
         (2, "hello world plain english text")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got == {0: "es", 1: "de", 2: "en"}
    fp = fingerprint(df).collect()[0]
    import hashlib
    assert fp["fp_md5"] == hashlib.md5(
        b"el gato de la casa y que bien").hexdigest()


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np
    rows = []
    for i in range(40):
        v = [math.sin(0.1 * i + 0.37 * d) for d in range(16)]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(vecs):
    import numpy as np
    from sagan_spark.functions.similarity import brute_force_topk
    queries = vecs.filter(F.col("vec_id") < 3)
    got = brute_force_topk(vecs, queries, k=3).collect()
    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in vecs.collect()}
    for qid in range(3):
        want = sorted(
            ((round(float(np.dot(data[qid], data[j]) /
                          (np.linalg.norm(data[qid]) *
                           np.linalg.norm(data[j]))), 6), j)
             for j in data if j != qid),
            key=lambda t: (-t[0], t[1]))[:3]
        mine = sorted([(r["cosine"], r["neighbor_id"]) for r in got
                       if r["query_id"] == qid],
                      key=lambda t: (-t[0], t[1]))
        assert [j for _, j in mine] == [j for _, j in want]


def test_lsh_ann_recall(vecs):
    from sagan_spark.functions.similarity import brute_force_topk, lsh_ann_topk
    queries = vecs.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(vecs, queries, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_ann_topk(vecs, queries, k=3, dim=16).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # approximate path; recall floor


def test_cosine_dup_pairs_subset_of_bruteforce(vecs):
    """cosine_dup_pairs: every emitted pair is a true >=threshold pair
    (verify is exact), normalized id_a < id_b, and recall vs the full
    all-pairs truth clears the LSH floor."""
    import numpy as np
    from sagan_spark.functions.similarity import cosine_dup_pairs
    got = cosine_dup_pairs(vecs, threshold=0.9, dim=16).collect()
    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in vecs.collect()}
    truth = set()
    for i in data:
        for j in data:
            if i < j:
                c = round(float(np.dot(data[i], data[j]) /
                                (np.linalg.norm(data[i]) *
                                 np.linalg.norm(data[j]))), 6)
                if c >= 0.9:
                    truth.add((i, j))
    mine = {(r["id_a"], r["id_b"]) for r in got}
    assert all(a < b for a, b in mine)
    assert mine <= truth                  # no false positives, ever
    assert truth                          # fixture has real near-dups
    assert len(mine) / len(truth) >= 0.6  # banding recall floor


def test_cosine_dup_duplicate_clusters(spark, vecs):
    """Exact-duplicate clusters collapse to one representative and
    re-expand: every within-cluster pair has cosine 1.0, a duplicated
    zero vector yields no pair (its cosine is undefined), and the
    cross-cluster pairs are the base corpus's pairs expanded over the
    cluster members."""
    from itertools import combinations
    from sagan_spark.functions.similarity import cosine_dup_pairs
    zero = spark.createDataFrame([(40, [0.0] * 16)],
                                 "vec_id long, embedding array<float>")
    base = vecs.unionByName(zero)
    # clusters {i, 100+i, 200+i} for i in 0..4, and {40, 140, 240}
    clustered = base.filter(F.col("vec_id").isin(0, 1, 2, 3, 4, 40))
    corpus = base
    for shift in (100, 200):
        corpus = corpus.unionByName(
            clustered.withColumn("vec_id", F.col("vec_id") + shift))

    def members(i):
        return [i, 100 + i, 200 + i] if i in (0, 1, 2, 3, 4, 40) else [i]

    def pairs(df):
        return {(r["id_a"], r["id_b"], r["cosine"]) for r in
                cosine_dup_pairs(df, threshold=0.9, dim=16).collect()}

    base_pairs = pairs(base)
    got = pairs(corpus)
    within = {(a, b, 1.0) for i in (0, 1, 2, 3, 4)
              for a, b in combinations(members(i), 2)}
    cross = {(min(x, y), max(x, y), c) for a, b, c in base_pairs
             for x in members(a) for y in members(b)}
    assert base_pairs and within <= got
    assert not {p for p in got if 40 in (p[0] % 100, p[1] % 100)}
    assert got - within == cross


def test_ivf_topk_runs(vecs):
    from sagan_spark.functions.similarity import brute_force_topk, ivf_topk
    queries = vecs.filter(F.col("vec_id") < 3)
    got = ivf_topk(vecs, queries, k=3, n_cells=8, nprobe=4).collect()
    assert len(got) == 9
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(vecs, queries, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(exact & approx) / len(exact) >= 0.5


def test_multimodal_plumbing(spark):
    from sagan_spark.functions.multimodal import (
        extract_features, media_metadata, sample_frames, synth_media_df)
    media = synth_media_df(spark, 12)
    meta = media_metadata(media).collect()
    assert all(r["n_bytes"] >= 64 for r in meta)
    feats = extract_features(media).collect()
    assert len(feats) == 12 and all(len(r["features"]) == 8 for r in feats)
    # determinism: same media_id → same features
    f2 = extract_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, f2))
    frames = sample_frames(media, every_ms=400).collect()
    vids = [r for r in meta if r["kind"] == "video"]
    assert len(frames) == sum(-(-r["duration_ms"] // 400) for r in vids)


@pytest.mark.parametrize("branch", ["fake", "pil"])
def test_extract_features_decode_branches(spark, branch):
    """Branch-parametrized decode coverage: whichever decode branch the
    environment supports runs for real; the other is SKIPPED (visible in
    the report), never silently passed.  Both branches share the Spark
    plumbing (schema / Arrow batch shape / mapInPandas signature), which
    is asserted identically."""
    from sagan_spark.functions import multimodal as mm
    if branch == "pil" and not mm._HAS_PIL:
        pytest.skip("PIL not installed in this sandbox — real-decode "
                    "branch pending environment support")
    media = mm.synth_media_df(spark, 9, real_images=(branch == "pil"))
    out = mm.extract_features(media, decoder=branch)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,features:array<double>>")
    rows = out.collect()
    assert len(rows) == 9
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])
    # determinism per branch
    again = out.collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))
