"""Property tests for dedup/similarity scale paths: banded variants must
agree with their exact counterparts; LSH must have measured recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mee_spark.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_pairs_banded,
)
from mee_spark.similarity import ann_bruteforce_topk, ann_lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # add exact dups + near-dups so dedup has real positives
    dups = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text", "lang", "source", "n_chars")
    near = base.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tail tail")).alias("text"),
        "lang", "source", "n_chars")
    return base.unionByName(dups).unionByName(near).cache()


def test_dedup_exact_finds_planted_dups(spark, docs):
    res = dedup_exact(docs).filter(F.col("n_dupes") > 1).collect()
    survivors = {r["doc_id"] for r in res}
    assert set(range(10)) <= survivors          # originals survive (min id)
    assert all(r["n_dupes"] == 2 for r in res)


def test_minhash_candidates_catch_exact_dups(spark, docs):
    pairs = {(r["doc_id_a"], r["doc_id_b"])
             for r in minhash_lsh_pairs(docs, verify_threshold=0.9).collect()}
    for i in range(10):
        assert (i, i + 10_000) in pairs  # identical docs always band together


def test_minhash_subset_of_true_jaccard(spark, docs):
    lsh = {(r["doc_id_a"], r["doc_id_b"], r["jaccard"])
           for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()}
    true = {(r["doc_id_a"], r["doc_id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert lsh <= true  # verification guarantees no false positives
    # recall on high-similarity pairs (identical docs band with prob 1)
    high = {t for t in true if t[2] >= 0.99}
    assert high <= lsh


def test_simhash_banded_equals_allpairs(spark, docs):
    ap = {(r["doc_id_a"], r["doc_id_b"], r["hamming"])
          for r in simhash_pairs(docs, max_hamming=6).collect()}
    bd = {(r["doc_id_a"], r["doc_id_b"], r["hamming"])
          for r in simhash_pairs_banded(docs, max_hamming=6).collect()}
    assert ap == bd  # pigeonhole banding is lossless
    assert any(h == 0 for _, _, h in ap)  # planted exact dups at distance 0


def test_ann_lsh_results_subset_and_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probes = list(range(10))
    brute = {}
    for r in ann_bruteforce_topk(emb, probes, k=10).collect():
        brute.setdefault(r["probe_id"], set()).add(r["vec_id"])
    lsh_hits = 0
    total = 0
    for r in ann_lsh_topk(emb, probes, k=10, n_planes=4, multi_probe=True).collect():
        if r["vec_id"] in brute.get(r["probe_id"], set()):
            lsh_hits += 1
        total += 1
    assert total > 0
    recall = lsh_hits / (10 * len(probes))
    # 4 planes -> 16 buckets over 500 vecs; bucketed search must still
    # find a reasonable share of true neighbors
    assert recall >= 0.35, f"LSH recall {recall}"


def test_embedding_lsh_subset_and_recall(spark):
    """Blocked pairs ⊆ exact pairs (verification guarantees precision 1);
    recall at the contract params (4 planes, radius 2) stays high for the
    wide-angle threshold used on the synthetic corpus."""
    from mee_spark.similarity import embedding_dup_pairs, embedding_dup_pairs_lsh

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r["vec_id_a"], r["vec_id_b"], r["cos"])
             for r in embedding_dup_pairs(emb, threshold=0.4).collect()}
    blocked = {(r["vec_id_a"], r["vec_id_b"], r["cos"])
               for r in embedding_dup_pairs_lsh(
                   emb, threshold=0.4, n_planes=4, probe_radius=2).collect()}
    assert blocked <= exact
    assert len(exact) > 0
    recall = len(blocked) / len(exact)
    assert recall >= 0.5, f"embedding LSH recall {recall}"


def test_embedding_lsh_no_duplicate_candidates(spark):
    """Each qualifying pair is produced exactly once (one XOR mask per
    bucket-distance) — no distinct needed, no double-counted pairs."""
    from mee_spark.similarity import embedding_dup_pairs_lsh

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = embedding_dup_pairs_lsh(
        emb, threshold=0.4, n_planes=4, probe_radius=2).collect()
    pairs = [(r["vec_id_a"], r["vec_id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_ann_ivf_fixed_matches_plan_and_recall(spark):
    """Fixed-quantizer IVF: deterministic, self-excluding, rank-dense, and
    recall comparable to the trained quantizer at equal nprobe budget."""
    from mee_spark.similarity import ann_bruteforce_topk, ann_ivf_topk_fixed

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probes = list(range(10))
    res = ann_ivf_topk_fixed(emb, probes, k=10, n_centroids=16, nprobe=4).collect()
    res2 = ann_ivf_topk_fixed(emb, probes, k=10, n_centroids=16, nprobe=4).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, res2))
    by_probe = {}
    for r in res:
        assert r["vec_id"] != r["probe_id"]
        by_probe.setdefault(r["probe_id"], []).append(r["rank"])
    for pid, ranks in by_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    brute = {}
    for r in ann_bruteforce_topk(emb, probes, k=10).collect():
        brute.setdefault(r["probe_id"], set()).add(r["vec_id"])
    hits = sum(1 for r in res if r["vec_id"] in brute.get(r["probe_id"], set()))
    recall = hits / (10 * len(probes))
    assert recall >= 0.3, f"fixed-IVF recall {recall}"


def _boilerplate_corpus(spark, n_docs=120):
    """Every doc: unique filler + ONE shared boilerplate paragraph — the
    Common-Crawl cookie-banner shape that makes a single fingerprint/
    shingle key carry n_docs^2 candidate pairs."""
    boiler = "accept cookies privacy policy terms of service navigation menu " * 4
    rows = [(i, f"unique{i}a word{i}b filler{i}c token{i}d " * 6 + boiler)
            for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_hot_fp_cap_bounds_boilerplate_skew(spark):
    from mee_spark.textops import winnow_dup_pairs, winnow_fingerprints

    docs = _boilerplate_corpus(spark)
    n = docs.count()
    # the boilerplate fps appear in every doc — the uncapped join pays n^2
    fp_df = (winnow_fingerprints(docs, k=16, window=4)
             .groupBy("fp").count())
    assert fp_df.filter(F.col("count") == n).count() > 0
    uncapped = winnow_dup_pairs(docs, k=16, window=4, min_shared=1).count()
    assert uncapped == n * (n - 1) // 2  # every pair meets via boilerplate
    capped = winnow_dup_pairs(docs, k=16, window=4, min_shared=1,
                              max_fp_df=16).count()
    # boilerplate's n^2 blow-up is gone; what survives is the low-df tail
    # of filler grams that legitimately pass the cap (~1% here)
    assert capped * 50 < uncapped
    # a cap above the max fp df is a no-op (correctness-preserving knob)
    loose = winnow_dup_pairs(docs, k=16, window=4, min_shared=1,
                             max_fp_df=n).count()
    assert loose == uncapped


def test_ngram_hot_shingle_cap_bounds_boilerplate_skew(spark):
    docs = _boilerplate_corpus(spark)
    n = docs.count()
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.05).count()
    assert uncapped == n * (n - 1) // 2
    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                 max_shingle_df=16).count()
    assert capped == 0
    loose = ngram_jaccard_pairs(docs, n=3, threshold=0.05,
                                max_shingle_df=n).count()
    assert loose == uncapped


def test_wide_plane_lsh_bucket_fold(spark):
    """At 64 planes the fold's bucket ids match a driver-side reference
    bit-exactly under integer-valued (exactly representable) arithmetic,
    the top plane's bit lands in int64's sign bit, probe-mask generation
    is combinatorial rather than a 2^n scan, and a 64-plane query runs."""
    import numpy as np

    from mee_spark.similarity import _probe_masks, ann_lsh_topk, lsh_bucket_col

    rng = np.random.default_rng(7)
    planes = rng.integers(-3, 4, size=(64, 16)).astype(np.float64)
    vecs = rng.integers(-5, 6, size=(200, 16)).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["b"] for r in emb.select(
        "vec_id", lsh_bucket_col(F.col("embedding"), planes).alias("b")
    ).collect()}
    bits = (vecs @ planes.T) > 0
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    want = (bits.astype(np.uint64) * weights).sum(
        axis=1, dtype=np.uint64).view(np.int64)
    assert [got[i] for i in range(200)] == [int(w) for w in want]
    assert any(w < 0 for w in want)  # the sign bit is exercised
    assert len(_probe_masks(64, 1)) == 65
    # end-to-end 64-plane query runs (top-bit masks are valid int64)
    real = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assert ann_lsh_topk(real, [1, 2], k=5, n_planes=64).count() >= 0


def test_lsh_bucket_degenerate_inputs(spark):
    """Null embeddings bucket to 0 (the when/otherwise null result) and
    input that a filter empties yields no rows, without an error."""
    import numpy as np

    from mee_spark.similarity import lsh_bucket_col

    rng = np.random.default_rng(3)
    planes = rng.integers(-3, 4, size=(8, 4)).astype(np.float64)
    rows = [(0, [1.0, -2.0, 3.0, 0.5]), (1, None), (2, [0.0, 0.0, 0.0, 0.0]),
            (3, None), (4, [-1.0, 4.0, -2.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fold = {r["vec_id"]: r["b"] for r in emb.select(
        "vec_id", lsh_bucket_col(F.col("embedding"), planes).alias("b")).collect()}
    vecs = np.array([rows[0][1], rows[4][1]])
    bits = (vecs @ planes.T) > 0
    want = (bits * (1 << np.arange(8))).sum(axis=1)
    assert (fold[0], fold[4]) == (int(want[0]), int(want[1]))
    assert fold[1] == 0 and fold[3] == 0 and fold[2] == 0
    empty = emb.filter("vec_id < 0").select(
        lsh_bucket_col(F.col("embedding"), planes).alias("b"))
    assert empty.count() == 0


# ------------------------------------------------- connected components

def test_connected_components_basic(spark):
    """Chain + separate pair + triangle: labels converge to the min doc_id
    of each component; docs not in any pair don't appear."""
    from mee_spark.dedup import dup_connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),          # chain -> {1,2,3} labeled 1
         (10, 11),                # pair -> labeled 10
         (20, 21), (21, 22), (20, 22)],  # triangle -> labeled 20
        "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    """A 33-node path is the adversarial diameter case: pointer jumping
    must collapse it within the iteration bound (linear propagation alone
    would need 32 rounds)."""
    from mee_spark.dedup import dup_connected_components

    n = 33
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 100 + n - 1)],
        "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_connected_components(pairs, max_iter=8).collect()}
    assert got == {100 + i: 100 for i in range(n)}


def test_connected_components_hub(spark):
    """Hub topology (one doc near-dup to many — the boilerplate case):
    single round convergence, min label wins regardless of edge order."""
    from mee_spark.dedup import dup_connected_components

    pairs = spark.createDataFrame(
        [(500, x) for x in range(490, 499)],  # hub 500, spokes 490..498
        "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_connected_components(pairs).collect()}
    assert set(got.values()) == {490}
    assert len(got) == 10


def test_decontaminate_flags_verbatim_leak_and_scores_frac(spark):
    from mee_spark.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),        # source of the probe
         (2, "a b c d e f g h zz yy"),      # shares the first 8-gram only
         (3, "totally different words here with nothing shared at all")],
        "doc_id long, text string")
    # probe = doc 1's first 9 tokens -> two distinct 8-grams
    probes = spark.createDataFrame(
        [(100, "a b c d e f g h i")], "probe_id long, text string")
    out = {(r.probe_id, r.doc_id): (r.shared_ngrams, r.probe_ngrams, r.frac)
           for r in decontaminate(corpus, probes, n=8).collect()}
    assert out == {
        (100, 1): (2, 2, 1.0),
        (100, 2): (1, 2, 0.5),
    }


def test_decontaminate_min_shared_threshold(spark):
    from mee_spark.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h zz yy")],
        "doc_id long, text string")
    probes = spark.createDataFrame(
        [(100, "a b c d e f g h i")], "probe_id long, text string")
    out = decontaminate(corpus, probes, n=8, min_shared=2)
    assert [r.doc_id for r in out.collect()] == [1]
