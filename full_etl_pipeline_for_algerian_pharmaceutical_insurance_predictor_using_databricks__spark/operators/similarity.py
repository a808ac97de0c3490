"""Similarity search over the `embeddings` table (north-star extension):
brute-force cosine top-k as the exactness baseline, random-hyperplane
LSH bucketing as the scale path, per-label centroids.

Scale design: brute force is O(n·m) pairs — correct but quadratic; it
exists as the oracle-checked baseline. The LSH path hashes each vector
to a signature bucket; candidate generation is a hash join on bucket
(multiprobe: original + 1-bit-flipped probes), then exact re-ranking of
the small candidate set. At 1000 executors both paths are shuffle-lean:
broadcast of hyperplanes, hash join on bucket id.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.scale import checkpoint_df
from ..sources import load_table, local_rows_df


def dot_col(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (bit-compatible with DuckDB's
    left-to-right list fold)."""
    va = F.transform(a, lambda x: x.cast("double"))
    vb = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column) -> Column:
    """Euclidean norm via the same sequential fold."""
    va = F.transform(a, lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(va, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def sqdist_col(a: Column, b: Column) -> Column:
    """Squared Euclidean distance via the same sequential fold.  No
    casts: callers pass arrays of the element types they want."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Sequential-fold double cosine (bit-compatible with DuckDB's
    list_cosine_similarity over DOUBLE[])."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, code
    = round(x/scale) — 4× less memory/IO than float32, the standard
    first lever when an embedding corpus stops fitting the cluster.
    Map-only expression pipeline (no UDF, no shuffle); `dequantize_col`
    reverses it for similarity math, and cosine degrades by < 1e-3 on
    unit-scale vectors (asserted in tests/test_llm_ops.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    # scale is computed in its OWN projection: referencing the O(d)
    # absmax fold inside the codes lambda would re-run it per element
    # (O(d²) per vector)
    scaled = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.when(absmax == 0.0, F.lit(1.0))
        .otherwise(absmax / F.lit(127.0))
        .alias("scale"),
    )
    return scaled.select(
        "vec_id",
        "label",
        "scale",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") / F.col("scale")).cast("tinyint"),
        ).alias("codes"),
    )


def dequantize_col(codes: Column, scale: Column) -> Column:
    """codes (array<tinyint>) × scale → array<double>."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


TOP_K = 5
N_QUERY_VECS = 20  # first N vec_ids act as the query set


def _fit_pq_codebooks(emb: DataFrame, m: int, n_codes: int, sub_d: int) -> list:
    """Fit the `m` per-subspace PQ KMeans codebooks CONCURRENTLY from a
    driver thread pool (guide §2.6 — overlap independent jobs): each
    sub-quantizer trains on a disjoint 1/m slice of the (checkpointed)
    embeddings, the fits share no state, and one fit's job tail leaves
    most executor slots idle, so running them sequentially serializes
    m × (KMeans-iteration barriers + per-job scheduling overhead) for
    nothing.  Models are returned in subspace order and are
    bit-identical to the sequential fits: same seed, same input values,
    same partitioning (all derive from the same materialized frame) —
    concurrency changes job interleaving, never a job's result.
    Measured at sf0.1: ann_ivf_pq build 4.4 s → ~2.6 s."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def fit(mi: int):
        sub = F.slice(
            F.col("embedding").cast("array<double>"), mi * sub_d + 1, sub_d
        )
        return KMeans(
            k=n_codes,
            seed=7 + mi,
            maxIter=5,
            featuresCol=f"_sub{mi}",
            predictionCol=f"code_{mi}",
        ).fit(emb.select(array_to_vector(sub).alias(f"_sub{mi}")))

    # 2-3 jobs in flight fills the stage tails without executor fights
    with ThreadPoolExecutor(max_workers=min(m, 3)) as pool:
        return list(pool.map(fit, range(m)))


#: Ceiling on materialized candidate pairs for the EXACT (cartesian)
#: tier.  These operators are oracle anchors, not the scale path — the
#: guard makes pointing them at a big corpus an explicit error instead
#: of a cluster-melting job.  Override with `max_pairs=` (None = off).
EXACT_PAIR_CAP = 200_000_000


def guard_cartesian(n_pairs: int, op: str, cap: int | None) -> None:
    """Raise if an exact all-pairs operator would materialize more than
    `cap` candidate pairs.  The count arrives from a metadata-cheap
    `count()` on the source table, so the guard costs no real scan."""
    if cap is not None and n_pairs > cap:
        raise ValueError(
            f"{op}: {n_pairs:,} candidate pairs exceeds the exact-tier cap "
            f"({cap:,}). This operator is the brute-force oracle anchor — "
            f"use the ANN/LSH scale path for large corpora, or pass "
            f"max_pairs=None to override deliberately."
        )


def knn_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERY_VECS,
    max_pairs: int | None = EXACT_PAIR_CAP,
) -> DataFrame:
    """Exact cosine top-k for the query subset against the full corpus.
    row_number over (query, cosine DESC) — partitioned window, scales
    with the query count.

    Norms are precomputed per row BEFORE the pair join (n + q norm
    folds instead of 2·n·q), and the tiny query side is broadcast so
    the corpus never shuffles. cosine = dot/(norm_q·norm_c) evaluates
    the identical fold expressions, so values stay bit-compatible with
    the naive form and the DuckDB oracle."""
    corpus = load_table(spark, sf_dir, "embeddings")
    if max_pairs is not None:
        # one scan total: the guard count() runs on the same DataFrame
        # the plan below reuses (and is skipped entirely when the
        # caller disabled the guard), so no extra full-scan job lands
        # inside benched wall time
        guard_cartesian(corpus.count() * n_queries, "knn_bruteforce", max_pairs)
    emb = corpus.withColumn("norm", norm_col(F.col("embedding")))
    q = F.broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_col(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


_KNN_SQL = f"""
SELECT query_id, neighbor_id, cosine, rank
FROM (
    SELECT
        q.vec_id AS query_id,
        c.vec_id AS neighbor_id,
        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
            AS cosine,
        ROW_NUMBER() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])) DESC,
                     c.vec_id ASC
        ) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id != c.vec_id
)
WHERE rank <= {TOP_K}
"""

# --------------------------------------------------------------------------
# LSH-bucketed ANN (rows-only; recall asserted in tests vs brute force)
# --------------------------------------------------------------------------

# 6 planes / 2-bit multiprobe: for weakly-similar corpora (true-NN
# cosine ≈ 0.5 ⇒ per-plane agreement ≈ 0.67) expected top-1 recall is
# P[Binom(6,.33) ≤ 2] ≈ 0.68 while probing 22 of 64 buckets. More
# planes = exponentially worse recall on this similarity profile.
N_PLANES = 6
MULTIPROBE_BITS = 2
DIM = 64


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from a splitmix64
    sequence — reproducible across sessions with no RNG state."""
    planes = []
    state = 0x9E3779B97F4A7C15
    for _ in range(N_PLANES):
        row = []
        for _ in range(DIM):
            state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            z = z ^ (z >> 31)
            row.append((z % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def _bucket_of(vec: Column) -> Column:
    """Sign-pattern bucket id of a vector against the fixed hyperplanes."""
    planes = _hyperplanes()
    v = F.transform(vec, lambda x: x.cast("double"))
    bucket = F.lit(0).cast("long")
    for j, row in enumerate(planes):
        h = F.array(*[F.lit(x) for x in row])
        dot = F.aggregate(
            F.zip_with(v, h, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.shiftleft(F.when(dot > 0, 1).otherwise(0).cast("long"), j)
    return bucket


def ann_lsh(
    spark: SparkSession, sf_dir: str, k: int = TOP_K, n_queries: int = N_QUERY_VECS
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query
    (multiprobe: all buckets within MULTIPROBE_BITS sign flips),
    re-ranked by exact cosine.

    Candidate generation is a hash join on bucket id — no quadratic
    pair blowup; probe count is C(planes,0..bits), independent of n."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", _bucket_of(F.col("embedding"))).withColumn(
        "norm", norm_col(F.col("embedding"))
    )
    flips = [0] + [1 << j for j in range(N_PLANES)]
    if MULTIPROBE_BITS >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(N_PLANES)
            for j in range(i + 1, N_PLANES)
        ]
    probes = F.broadcast(
        bucketed.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])
            ).alias("probe_bucket"),
        )
    )
    cand = (
        probes.join(
            bucketed.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
                F.col("norm").alias("c_norm"),
                F.col("bucket").alias("probe_bucket"),
            ),
            "probe_bucket",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_col(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# IVF ANN (coarse k-means quantizer → inverted lists → probe + re-rank)
# --------------------------------------------------------------------------

IVF_NLIST = 16  # coarse centroids (≈ sqrt(n) at test scale; tune per corpus)
IVF_NPROBE = 4  # inverted lists scanned per query


def ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERY_VECS,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-style ANN: a seeded Spark ML KMeans coarse quantizer
    partitions the corpus into `nlist` inverted lists; each query scans
    only its `nprobe` nearest lists, re-ranking candidates by exact
    cosine.

    Scale path: the quantizer fits on a sample (KMeans is itself
    distributed), assignment is one model.transform pass, and candidate
    generation is a hash join on centroid id — per-query work is
    O(n·nprobe/nlist) instead of O(n). The centroid table is tiny and
    broadcast everywhere it appears."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("norm", norm_col(F.col("embedding")))
        .withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    # few iterations: a coarse quantizer only needs rough Voronoi cells;
    # recall comes from nprobe, not centroid convergence
    km = KMeans(k=nlist, seed=7, maxIter=5, featuresCol="vec", predictionCol="list_id")
    model = km.fit(emb.select("vec"))
    assigned = model.transform(emb).select(
        "vec_id", "embedding", "norm", "list_id"
    )

    # centroid table: tiny (nlist × dim) — literal-free, built once
    centroids = local_rows_df(spark, 
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, centroid array<double>",
    )
    queries_df = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    # pick each query's nprobe nearest centroids (query side is tiny)
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
    probes = F.broadcast(
        queries_df.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            "centroid_id",
            sqdist_col(
                F.col("q_emb").cast("array<double>"), F.col("centroid")
            ).alias("dist"),
        )
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_emb", "q_norm", F.col("centroid_id").alias("list_id"))
    )
    cand = (
        probes.join(
            assigned.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
                F.col("norm").alias("c_norm"),
                "list_id",
            ),
            "list_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_col(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# Stock Spark ML path: BucketedRandomProjectionLSH approx join
# --------------------------------------------------------------------------


def ann_brp_lsh(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERY_VECS,
    euclidean_radius: float = 8.0,
) -> DataFrame:
    """The built-in alternative to the custom LSH/IVF paths:
    `BucketedRandomProjectionLSH.approxSimilarityJoin` (euclidean
    buckets) generates candidates, then exact cosine re-ranks — the
    zero-custom-code baseline an operator of this engine would reach
    for first. Seeded, so results are reproducible."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("norm", norm_col(F.col("embedding")))
        .withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=7
    )
    model = brp.fit(emb)
    queries_df = emb.filter(F.col("vec_id") < n_queries)
    joined = model.approxSimilarityJoin(
        queries_df, emb, euclidean_radius, distCol="euclid"
    )
    cand = (
        joined.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            (
                dot_col(F.col("datasetA.embedding"), F.col("datasetB.embedding"))
                / (F.col("datasetA.norm") * F.col("datasetB.norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# Per-label centroids (posexplode → decimal-exact per-dim averages)
# --------------------------------------------------------------------------


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) mean — the classic vector rollup. Exact
    decimal sums so engine aggregation order is irrelevant."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "v")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(28,12)")).cast("double")
                / F.count("*")
            ).alias("centroid"),
            F.count("*").alias("vectors"),
        )
    )


_CENTROIDS_SQL = """
SELECT
    label,
    dim,
    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS centroid,
    COUNT(*) AS vectors
FROM (
    SELECT
        label,
        generate_subscripts(embedding, 1) - 1 AS dim,
        unnest(embedding) AS v
    FROM embeddings
)
GROUP BY label, dim
"""


# --------------------------------------------------------------------------
# Product quantization + ADC scan (the FAISS-PQ shape in DataFrames)
# --------------------------------------------------------------------------

PQ_M = 4  # subspaces (64-dim → 4 × 16-dim subvectors)
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_RERANK = 8  # exact re-rank pool = PQ_RERANK × k candidates per query


def ann_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERY_VECS,
    m: int = PQ_M,
    n_codes: int = PQ_K,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scan:
    each subspace gets a seeded KMeans codebook, every vector encodes
    to `m` 4-bit codes (16 bytes → 2 bytes here — the memory plan that
    makes billion-vector search fit RAM), and each query scores the
    corpus by summing per-(subspace, code) partial distances from a
    broadcast lookup table instead of touching raw floats.  The top
    `PQ_RERANK·k` ADC candidates per query re-rank by exact cosine.

    Scale shape: codebook fits are on 16-dim slices (distributed
    KMeans); encoding is m model.transform passes (one scan); the ADC
    join is codes ⋈ broadcast LUT (Q·m·K rows ≈ KB) followed by a
    (query, vec) partial-distance sum — linear in corpus size with
    4-bit-per-subspace operands, and the exact re-rank touches only
    O(Q·PQ_RERANK·k) full vectors.  At real scale ADC runs inside IVF
    lists (IVF-PQ) so the linear term shrinks by nprobe/nlist — the
    composition is the `ann_ivf` candidate join with `codes` in place
    of raw embeddings."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # localCheckpoint, not persist: a persist() entry is plan-matched by
    # the CacheManager across calls and is never unpersisted here (the
    # returned DataFrame still needs it at execution time); checkpoint
    # blocks are reclaimed when the DataFrame is GC'd, and the dim probe
    # below reads one materialized block instead of re-scanning parquet
    emb = checkpoint_df(
        load_table(spark, sf_dir, "embeddings")
        .withColumn("norm", norm_col(F.col("embedding")))
    )
    dim = emb.select(F.size("embedding")).first()[0]
    sub_d = dim // m
    # encode: one KMeans codebook per subspace (fits overlapped — see
    # _fit_pq_codebooks); codes collected as cols
    models = _fit_pq_codebooks(emb, m, n_codes, sub_d)
    coded = emb
    luts = []
    for mi, model in enumerate(models):
        sub = F.slice(F.col("embedding").cast("array<double>"), mi * sub_d + 1, sub_d)
        coded = coded.withColumn(f"_sub{mi}", array_to_vector(sub))
        coded = model.transform(coded).drop(f"_sub{mi}")
        luts.append(
            [(mi, ci, [float(x) for x in c]) for ci, c in enumerate(model.clusterCenters())]
        )
    codebook = local_rows_df(spark, 
        [r for lut in luts for r in lut],
        "m int, code int, centroid array<double>",
    )
    codes = coded.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"code_{mi}") for mi in range(m)])).alias(
            "m", "code"
        ),
    )
    queries_df = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    # LUT: per (query, subspace, code) squared L2 partial — Q·m·K rows
    lut = F.broadcast(
        queries_df.crossJoin(F.broadcast(codebook)).select(
            "query_id",
            "m",
            "code",
            sqdist_col(
                F.slice(
                    F.col("q_emb").cast("array<double>"), F.col("m") * sub_d + 1, sub_d
                ),
                F.col("centroid"),
            ).alias("pdist"),
        )
    )
    adc = (
        codes.join(lut, ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdist").alias("adc_l2sq"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_l2sq"), F.asc("vec_id"))
    pool = adc.withColumn("adc_rank", F.row_number().over(wa)).filter(
        F.col("adc_rank") <= PQ_RERANK * k
    )
    # exact cosine re-rank on the small candidate pool
    cand = (
        pool.join(
            emb.select(
                F.col("vec_id"),
                F.col("embedding").alias("c_emb"),
                F.col("norm").alias("c_norm"),
            ),
            "vec_id",
        )
        .join(
            F.broadcast(
                emb.filter(F.col("vec_id") < n_queries).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb"),
                    F.col("norm").alias("q_norm"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot_col(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ivf_pq_fit(spark, emb, nlist: int, m: int, n_codes: int, sub_d: int):
    """Index BUILD: fit the coarse quantizer and the per-subspace PQ
    codebooks, encode every vector.  Returns (centroids, codebook,
    codes) — the three relations that ARE the index; everything here is
    one-time cost a deployment amortizes across queries (FAISS's
    train/add phase).  `emb` must carry `vec` (ml vector) and
    `embedding` columns."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # --- coarse quantizer: vector → inverted list -----------------------
    coarse = KMeans(
        k=nlist, seed=7, maxIter=5, featuresCol="vec", predictionCol="list_id"
    ).fit(emb.select("vec"))
    assigned = coarse.transform(emb)
    centroids = local_rows_df(spark, 
        [(i, [float(x) for x in c]) for i, c in enumerate(coarse.clusterCenters())],
        "centroid_id int, centroid array<double>",
    )

    # --- PQ codebooks: vector → m 4-bit codes (fits overlapped — see
    # _fit_pq_codebooks) -------------------------------------------------
    models = _fit_pq_codebooks(emb, m, n_codes, sub_d)
    coded = assigned
    luts = []
    for mi, model in enumerate(models):
        sub = F.slice(F.col("embedding").cast("array<double>"), mi * sub_d + 1, sub_d)
        coded = coded.withColumn(f"_sub{mi}", array_to_vector(sub))
        coded = model.transform(coded).drop(f"_sub{mi}")
        luts.append(
            [
                (mi, ci, [float(x) for x in c])
                for ci, c in enumerate(model.clusterCenters())
            ]
        )
    codebook = local_rows_df(spark, 
        [r for lut in luts for r in lut],
        "m int, code int, centroid array<double>",
    )
    # the compressed index: this — not the raw embeddings — is what the
    # candidate join scans
    codes = coded.select(
        "vec_id",
        "list_id",
        F.posexplode(F.array(*[F.col(f"code_{mi}") for mi in range(m)])).alias(
            "m", "code"
        ),
    )
    return centroids, codebook, codes


def _ivf_pq_query(
    emb: DataFrame,
    queries_df: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    k: int,
    nprobe: int,
    sub_d: int,
) -> DataFrame:
    """Serving path: probe selection → ADC scan of the probed lists →
    exact re-rank.  NO KMeans anywhere — the quantizers arrive as data,
    so this plan is pure joins/aggregates and its cost is the true
    per-query serving cost.  `emb` is used only for the O(Q·k) exact
    re-rank (vec_id → embedding, norm)."""
    # --- probe selection: each query's nprobe nearest lists -------------
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
    probes = F.broadcast(
        queries_df.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "centroid_id",
            sqdist_col(
                F.col("q_emb").cast("array<double>"), F.col("centroid")
            ).alias("dist"),
        )
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("list_id"))
    )
    # --- ADC LUT: per (query, subspace, code) squared-L2 partial --------
    lut = F.broadcast(
        queries_df.crossJoin(F.broadcast(codebook)).select(
            "query_id",
            "m",
            "code",
            sqdist_col(
                F.slice(
                    F.col("q_emb").cast("array<double>"), F.col("m") * sub_d + 1, sub_d
                ),
                F.col("centroid"),
            ).alias("pdist"),
        )
    )
    # --- compressed scan of the probed lists only -----------------------
    adc = (
        codes.join(probes, "list_id")
        .join(lut, ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdist").alias("adc_l2sq"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_l2sq"), F.asc("vec_id"))
    pool = adc.withColumn("adc_rank", F.row_number().over(wa)).filter(
        F.col("adc_rank") <= PQ_RERANK * k
    )
    # --- exact cosine re-rank on the tiny pool --------------------------
    cand = (
        pool.join(
            emb.select(
                "vec_id",
                F.col("embedding").alias("c_emb"),
                F.col("norm").alias("c_norm"),
            ),
            "vec_id",
        )
        .join(F.broadcast(queries_df), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot_col(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_ivf_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERY_VECS,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    n_codes: int = PQ_K,
) -> DataFrame:
    """IVF-PQ: the deployable billion-vector ANN — `ann_ivf`'s
    inverted-list pruning composed with `ann_pq`'s compressed ADC scan.
    This entry runs BUILD + QUERY in one plan (self-contained, fresh
    index every call); `ann_ivf_pq_serving` is the amortized split that
    freezes the index on disk and pays only the query half.

    A coarse KMeans quantizer routes every vector to one of `nlist`
    inverted lists; per-subspace PQ codebooks compress each vector to
    `m` 4-bit codes.  A query touches only its `nprobe` nearest lists,
    and inside those lists the scan reads CODES, not raw floats: the
    candidate join carries (vec_id, list_id, subspace, code) and scores
    via a broadcast per-query lookup table of partial distances, so
    per-query work is O(n·m·nprobe/nlist) on 4-bit operands.  Only the
    top `PQ_RERANK·k` ADC candidates per query ever touch a full
    vector, in the exact-cosine re-rank.

    Scale shape at 100 TB: both quantizers fit distributed (KMeans),
    encoding is one scan, the probe table and the ADC LUT are
    driver-tiny broadcasts (Q·nprobe and Q·m·K rows), and the heavy
    join — codes ⋈ probes on list_id — is hash-partitioned on a
    low-cardinality key whose fan-out AQE splits.  Raw embeddings are
    read exactly twice: codebook fit/encode, and the O(Q·k) re-rank."""
    from pyspark.ml.functions import array_to_vector

    emb = checkpoint_df(
        load_table(spark, sf_dir, "embeddings")
        .withColumn("norm", norm_col(F.col("embedding")))
        .withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    dim = emb.select(F.size("embedding")).first()[0]
    sub_d = dim // m
    centroids, codebook, codes = _ivf_pq_fit(spark, emb, nlist, m, n_codes, sub_d)
    queries_df = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    return _ivf_pq_query(
        emb, queries_df, centroids, codebook, codes, k, nprobe, sub_d
    )


#: Bump when the on-disk index layout or fit parameters change shape —
#: stale indexes under an old version dir are simply never read.
IVF_PQ_INDEX_VERSION = 1


def _default_index_dir(sf_dir: str) -> str:
    from ..functions.scale import default_index_dir

    return default_index_dir("ivfpq", IVF_PQ_INDEX_VERSION, sf_dir)


def ivf_pq_build_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    nlist: int = IVF_NLIST,
    m: int = PQ_M,
    n_codes: int = PQ_K,
) -> str:
    """One-time IVF-PQ index build: fit the quantizers, encode the
    corpus, and persist centroids / codebook / codes (+ a meta row with
    the subspace geometry) as parquet under `index_dir`.  The serving
    path never re-fits — the FAISS train/add vs search split.  At scale
    the codes table is the only corpus-sized relation (~64× smaller
    than the embeddings it indexes) and is written partitioned by
    list_id so a probe's scan prunes to its lists' files."""
    from pyspark.ml.functions import array_to_vector

    emb = checkpoint_df(
        load_table(spark, sf_dir, "embeddings")
        .withColumn("norm", norm_col(F.col("embedding")))
        .withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    dim = emb.select(F.size("embedding")).first()[0]
    sub_d = dim // m
    centroids, codebook, codes = _ivf_pq_fit(spark, emb, nlist, m, n_codes, sub_d)
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    codebook.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebook")
    codes.write.mode("overwrite").partitionBy("list_id").parquet(f"{index_dir}/codes")
    local_rows_df(spark, 
        [(dim, sub_d, m, n_codes, nlist)],
        "dim int, sub_d int, m int, n_codes int, nlist int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta")
    return index_dir


def ann_ivf_pq_serving(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    k: int = TOP_K,
    n_queries: int = N_QUERY_VECS,
    nprobe: int = IVF_NPROBE,
    nlist: int = IVF_NLIST,
    m: int = PQ_M,
    n_codes: int = PQ_K,
) -> DataFrame:
    """Query-only IVF-PQ against a FROZEN on-disk index (built once by
    `ivf_pq_build_index` if absent): the amortized serving cost the
    bench reports, vs `ann_ivf_pq` which re-fits per call.  The plan is
    parquet scans + joins + windows — no KMeans stage anywhere
    (asserted in tests/test_plans.py); identical ranking math to
    `ann_ivf_pq`, so the recall floor carries over."""
    if index_dir is None:
        index_dir = _default_index_dir(sf_dir)
    if not os.path.isdir(os.path.join(index_dir, "codes")):
        ivf_pq_build_index(spark, sf_dir, index_dir, nlist, m, n_codes)
    sub_d = spark.read.parquet(f"{index_dir}/meta").first()["sub_d"]
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    codebook = spark.read.parquet(f"{index_dir}/codebook")
    codes = spark.read.parquet(f"{index_dir}/codes")
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "norm", norm_col(F.col("embedding"))
    )
    queries_df = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    return _ivf_pq_query(
        emb, queries_df, centroids, codebook, codes, k, nprobe, sub_d
    )


PCA_K = 16
PCA_INDEX_VERSION = 1


def _default_pca_index_dir(sf_dir: str) -> str:
    from ..functions.scale import default_index_dir

    return default_index_dir("pca", PCA_INDEX_VERSION, sf_dir)


def pca_build_index(
    spark: SparkSession, sf_dir: str, index_dir: str, k: int = PCA_K
) -> str:
    """One-time PCA fit over the embedding corpus (distributed
    covariance + local eigendecomposition inside Spark ML), persisted
    via the ML writer — the dimensionality-reduction twin of
    `ivf_pq_build_index`.  The model is O(dim·k) values regardless of
    corpus size."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = PCA(k=k, inputCol="vec", outputCol="pca").fit(emb)
    model.write().overwrite().save(index_dir)
    return index_dir


def pca_project_serving(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    k: int = PCA_K,
) -> DataFrame:
    """Project every embedding onto the FROZEN principal subspace
    (built once by `pca_build_index` if absent): 64 → k dims for 4×
    cheaper ANN candidate generation at a measured variance budget.
    The plan is a scan + one matrix-multiply projection — no fit
    stage.  Output: (vec_id, pca array<double>, explained k-dim
    variance share as a column for auditability).  Rows-only entry
    (eigenvectors have sign freedom, so no SQL oracle); invariants —
    dim, variance ordering, build/serve identity, norm contraction —
    pinned in tests/test_llm_ops.py."""
    import os as _os

    from pyspark.ml.feature import PCAModel
    from pyspark.ml.functions import array_to_vector, vector_to_array

    if index_dir is None:
        index_dir = _default_pca_index_dir(sf_dir)
    if not _os.path.isdir(index_dir):
        pca_build_index(spark, sf_dir, index_dir, k)
    model = PCAModel.load(index_dir)
    var_share = float(sum(model.explainedVariance.toArray()))
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    return (
        model.transform(emb)
        .select(
            "vec_id",
            vector_to_array(F.col("pca")).alias("pca"),
            F.lit(var_share).alias("explained_variance_share"),
        )
        .orderBy("vec_id")
    )


QUERIES = {
    "sim_quantize_int8": quantize_embeddings,
    "sim_knn_bruteforce": knn_bruteforce,
    "sim_ann_lsh": ann_lsh,
    "sim_ann_ivf": ann_ivf,
    "sim_ann_brp_lsh": ann_brp_lsh,
    "sim_ann_pq": ann_pq,
    "sim_ann_ivf_pq": ann_ivf_pq,
    "sim_ann_ivf_pq_serving": ann_ivf_pq_serving,
    "sim_label_centroids": label_centroids,
    "sim_pca_project": pca_project_serving,
}

ORACLES = {
    "sim_knn_bruteforce": _KNN_SQL,
    "sim_label_centroids": _CENTROIDS_SQL,
}
