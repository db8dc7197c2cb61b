"""Similarity search over embedding columns (`embeddings` table:
vec_id bigint, embedding array<float>, label int).

* ``cosine_col`` — double-precision cosine as a JVM expression
  (zip_with + aggregate): stays in codegen, matches the DuckDB oracle's
  list-lambda formulation exactly (both accumulate left-to-right in
  float64).
* ``ann_bruteforce_topk`` — exact top-k: broadcast the (tiny) probe set
  against the corpus; shuffle only (probe × corpus-partition) local
  top-k candidates. The correctness baseline.
* ``ann_lsh_topk`` — a scale path: random-hyperplane LSH (deterministic
  hyperplanes from a seeded RNG, broadcast), candidates restricted to
  matching buckets (+ optional multi-probe), exact cosine re-rank within
  the bucket. Recall vs brute force is a tested property, not a hope.
* ``ann_ivf_topk_fixed`` — the other scale path: IVF over fixed seeded
  centroids, exact cosine re-rank within the probed cells.
* ``embedding_dup_pairs`` — exact near-dup by cosine >= threshold;
  ``embedding_dup_pairs_lsh`` is its LSH-blocked scale form.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cosine_col(a: Column, b: Column) -> Column:
    """Double-precision cosine similarity of two array<float> columns."""
    return dot_pair_col(a, b) / (norm_col(a) * norm_col(b))


def dot_pair_col(a: Column, b: Column) -> Column:
    """float64 dot product, left-to-right fold (oracle-identical order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    """float64 L2 norm, left-to-right fold. Hoist this to one column per
    VECTOR before a pairwise join: inline cosine costs three 64-element
    folds per PAIR; with norms precomputed the pair pays one. The value is
    bit-identical (same expressions, evaluated once instead of per pair)."""
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def ann_bruteforce_topk(emb: DataFrame, probe_ids: list[int], k: int = 10) -> DataFrame:
    """(probe_id, rank, vec_id, cos) exact top-k neighbors per probe.

    Probes broadcast (never shuffle the corpus); self-match excluded;
    ties (cos desc, vec_id asc), cosine rounded 1e-6 for determinism."""
    probes = emb.filter(F.col("vec_id").isin([int(p) for p in probe_ids])).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec"))
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id",
            F.round(cosine_col(F.col("pvec"), F.col("embedding")), 6).alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("probe_id").cast("long"), "rank", F.col("vec_id").cast("long"), "cos")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 13) -> np.ndarray:
    """Deterministic random hyperplanes (float64, seeded)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _to_i64(m: int) -> int:
    """Two's-complement fold of an unsigned bitmask into Spark's LongType
    (bit 63 set -> negative literal; ``1 << 63`` overflows LongType)."""
    return m - (1 << 64) if m >= (1 << 63) else m


def lsh_bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id from the hyperplane projections (JVM arithmetic).

    Left-to-right folds are bit-reproducible across engines (the DuckDB
    oracle evaluates the same order), at the price of an expression tree
    that grows O(planes x dim). Bucket ids fold into int64, so at most 64
    planes."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(c)) for c in plane]),
                       lambda x, c: x.cast("double") * c),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(
            proj > 0, F.lit(_to_i64(1 << j)).cast("long")).otherwise(F.lit(0))
    return bucket


def ann_lsh_topk(emb: DataFrame, probe_ids: list[int], k: int = 10,
                 n_planes: int = 8, seed: int = 13, dim: int = 64,
                 multi_probe: bool = True) -> DataFrame:
    """LSH-bucketed ANN: candidates share the probe's bucket; exact cosine
    re-rank inside. At 10^12 vectors the bucket groupBy replaces the
    cross join — cost drops from O(N·P) to O(N/2^planes · P) per probe.

    ``multi_probe`` additionally probes every bucket at hamming distance
    1 from the probe's own (flip each plane's sign bit): near neighbors
    that straddle one hyperplane are recovered at (planes+1)x candidate
    cost — the standard recall lever without more tables."""
    planes = hyperplanes(dim, n_planes, seed)
    bucketed = emb.withColumn("bkt", lsh_bucket_col(F.col("embedding"), planes))
    probes = bucketed.filter(F.col("vec_id").isin([int(p) for p in probe_ids])).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec"),
        F.col("bkt").alias("pbkt"))
    if multi_probe:
        flips = F.array(F.lit(0), *[F.lit(_to_i64(1 << j)) for j in range(n_planes)])
        probes = probes.withColumn(
            "pbkt", F.explode(F.transform(flips, lambda m: F.col("pbkt").bitwiseXOR(m))))
    scored = (
        bucketed.join(F.broadcast(probes), F.col("bkt") == F.col("pbkt"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id",
                F.round(cosine_col(F.col("pvec"), F.col("embedding")), 6).alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("probe_id").cast("long"), "rank", F.col("vec_id").cast("long"), "cos")
    )


def fixed_centroids(dim: int, n_centroids: int, seed: int = 29) -> np.ndarray:
    """Deterministic data-oblivious centroids (seeded Gaussian, unit norm).

    The oracle-reproducible coarse quantizer: pure constants, so the whole
    IVF plan (assignment, probe cells, re-rank) can be verified bit-exactly
    against an external SQL engine with the centroids inlined. Recall is
    below a k-means quantizer's (cells are not data-adaptive)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def dot_col(vec: Column, consts) -> Column:
    """float64 dot(vec, constant vector) as a LEFT-TO-RIGHT fold — the same
    accumulation order as DuckDB's list_sum over list_transform, so cell
    assignments hash-match across engines (matmul reassociates and can
    flip argmax on near-ties; a fold cannot)."""
    return F.aggregate(
        F.zip_with(vec, F.array(*[F.lit(float(c)) for c in consts]),
                   lambda x, c: x.cast("double") * c),
        F.lit(0.0), lambda acc, v: acc + v)


def _centroid_rank_structs(vec: Column, centroids: np.ndarray) -> Column:
    """array<struct(nd, cid)> where nd = -dot(vec, centroid) — sorting asc
    ranks centroids by (dot desc, cid asc), the cross-engine tie-break."""
    return F.array(*[
        F.struct((-dot_col(vec, c)).alias("nd"), F.lit(i).cast("int").alias("cid"))
        for i, c in enumerate(centroids)
    ])


def ivf_cell_col(vec: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid id, all-JVM (norms drop out of the argmax since
    centroids are unit-norm — rank by raw dot)."""
    return F.array_min(_centroid_rank_structs(vec, centroids))["cid"]


def ivf_probe_cells_col(vec: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """array<int> — the nprobe nearest centroid ids, rank order."""
    ranked = F.array_sort(_centroid_rank_structs(vec, centroids))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def ann_ivf_topk_fixed(emb: DataFrame, probe_ids: list[int], k: int = 10,
                       n_centroids: int = 16, nprobe: int = 4,
                       seed: int = 29, dim: int = 64) -> DataFrame:
    """IVF ANN with a FIXED (data-oblivious, seeded) coarse quantizer:
    coarse-quantize the corpus into centroid cells; each probe searches
    only its ``nprobe`` nearest cells with exact cosine re-rank, so the
    cost per probe drops from O(N) to O(N·nprobe/n_centroids).

    Assign each corpus vector to one cell (all-JVM fold expressions, no
    Python), explode each probe into its nprobe nearest cells, broadcast
    the tiny probe set, exact-cosine re-rank inside the probed cells.
    Every step is reproducible from the seed alone, so a SQL engine given
    the same centroid constants produces the identical result set."""
    from mee_spark.dedup import spread

    cent = fixed_centroids(dim, n_centroids, seed)
    pids = [int(p) for p in probe_ids]
    assigned = spread(emb).select("vec_id", "embedding",
                                  ivf_cell_col(F.col("embedding"), cent).alias("cell"))
    probes = (
        emb.filter(F.col("vec_id").isin(pids))
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec"),
                F.explode(ivf_probe_cells_col(F.col("embedding"), cent, nprobe))
                .alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id",
                F.round(cosine_col(F.col("pvec"), F.col("embedding")), 6).alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("probe_id").cast("long"), "rank", F.col("vec_id").cast("long"), "cos")
    )


def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.98) -> DataFrame:
    """(vec_id_a, vec_id_b, cos) — EXACT embedding-cosine near-duplicates.

    All pairs a<b: O(N²), the small-scale verify kernel / oracle for the
    blocked variant below — the same role ngram_jaccard_pairs plays for
    minhash LSH. NEVER the 10^12-vector path; use
    ``embedding_dup_pairs_lsh`` there."""
    withn = emb.select("vec_id", "embedding", norm_col(F.col("embedding")).alias("nrm"))
    a = withn.select(F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("va"),
                     F.col("nrm").alias("na"))
    b = withn.select(F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("vb"),
                     F.col("nrm").alias("nb"))
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b",
                F.round(dot_pair_col(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks of popcount <= radius over n_planes bits (sorted,
    int64 two's-complement). Generated combinatorially — C(n, <=r) masks,
    never a 2^n scan (64 planes / radius 1 is 65 masks, not 2^64)."""
    from itertools import combinations

    masks = [
        _to_i64(sum(1 << b for b in bits))
        for r in range(radius + 1)
        for bits in combinations(range(n_planes), r)
    ]
    return sorted(masks)


def embedding_dup_pairs_lsh(
    emb: DataFrame, threshold: float = 0.95, n_planes: int = 16,
    probe_radius: int = 1, seed: int = 13, dim: int = 64,
) -> DataFrame:
    """(vec_id_a, vec_id_b, cos) — LSH-BLOCKED embedding near-duplicates:
    the 10^12-vector scale path.

    Candidate pairs form ONLY between vectors whose hyperplane sign
    buckets differ by hamming distance <= probe_radius (side A explodes
    over its bucket's XOR-mask ball; side B keeps its exact bucket, so
    each qualifying pair is generated exactly once). Exact double-precision
    cosine verifies candidates; ``embedding_dup_pairs`` (all pairs) is the
    small-scale oracle, mirroring minhash-LSH vs ngram-Jaccard.

    Cost: candidates ~ N²/2^planes per probe instead of N². Recall is a
    monotone function of (planes, radius) vs the cosine threshold's angle;
    tested against the exact kernel. At true near-dup thresholds (>=0.95,
    angle <=18°) the default 16 planes / radius 1 keeps recall high while
    the bucket groupBy stays skew-free (buckets are hyperplane-balanced).
    """
    from mee_spark.dedup import spread

    planes = hyperplanes(dim, n_planes, seed)
    bucketed = spread(emb).select(
        "vec_id", F.col("embedding"),
        norm_col(F.col("embedding")).alias("nrm"),
        lsh_bucket_col(F.col("embedding"), planes).alias("bkt"))
    # materialize ONCE before the self-join: both join branches would
    # otherwise inline the O(planes x dim) plan-literal bucket fold
    # (~1024 expression nodes at the 16x64 default), doubling both the
    # projection work and — the real cost at interactive scale — the
    # Catalyst analysis/codegen of a giant tree. One distributed
    # checkpoint of (id, vec, norm, bucket) is also the right 10^12-shape:
    # the self-join's two sides read one computed relation instead of
    # recomputing the projection per side.
    bucketed = bucketed.localCheckpoint(eager=True)
    # vectors + precomputed norms ride THROUGH the bucket join (a 64-float
    # array is ~0.5 KB — cheaper to carry than to re-join 2x afterwards),
    # and the verify pays ONE fold per candidate (dot; norms hoisted)
    masks = F.array(*[F.lit(m) for m in _probe_masks(n_planes, probe_radius)])
    probed_a = bucketed.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(F.transform(masks, lambda m: F.col("bkt").bitwiseXOR(m))).alias("pbkt"))
    side_b = bucketed.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"), F.col("bkt").alias("pbkt"))
    # each pair at hamming distance d <= radius matches on exactly one mask
    # (the XOR of the two buckets) — no duplicate candidates, no distinct
    return (
        probed_a.join(side_b, "pbkt")
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b",
                F.round(dot_pair_col(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
