"""Distributed k-means over embedding columns.

Topic-bucketing a corpus by embedding cluster (for balancing, dedup
within topics, or stratified eval splits) needs k-means ON THE FULL
DATASET, not the driver-side sample that suffices for the IVF coarse
quantizer. Lloyd's algorithm maps cleanly onto DataFrames:

    assign:  argmin_c ||v - c||^2 — a literal-codebook Column expression
             (operators.similarity._nearest_centroid_expr), whole-stage
             codegen, no shuffle;
    update:  per-(cluster, dim) sums — posexplode + one partial-aggregated
             shuffle of k x dim cells; the driver folds k x dim floats into
             the next round's literals.

Per iteration: one job, one shuffle whose volume is k x dim x partitions
(map-side combine), driver traffic k x dim floats. The dataset never
leaves the executors — the classic scalable-Lloyd shape. Iterations are
driver-bounded (fixed count or centroid-shift tolerance), and the final
assignment is a pure expression usable in any downstream plan.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_bucket_spark.operators.similarity import (
    _cosine_prenormed,
    _nearest_centroid_expr,
    dot_expr,
    norm_expr,
)

__all__ = ["assign_clusters", "kmeans_fit", "semantic_dedup", "semantic_dup_pairs"]


def kmeans_fit(
    vectors: DataFrame,
    dim: int,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    n_iter: int = 10,
    tol: float = 1e-6,
    seed: int = 42,
    init: np.ndarray | None = None,
    sample_rows: int = 10_000,
) -> np.ndarray:
    """Lloyd's k-means on the full distributed dataset; returns (k, dim).

    ``init`` defaults to a seeded random pick from a bounded driver sample
    (deterministic); pass explicit centroids to resume/refine. Stops after
    ``n_iter`` rounds or when the max centroid shift falls below ``tol``.
    Empty clusters keep their previous centroid (no respawn — deterministic).

    The init sample is ORDER-FREE (content-hash TakeOrdered, the
    train_ivf_centroids fix): a bare ``limit(N)`` takes the corpus's
    first partitions, and an init drawn from one population can strand
    centroids even though the Lloyd's rounds run over the full dataset —
    the same measured order-bias class as the r14 quantizer finding.
    """
    if init is None:
        pdf = (
            vectors.select(vec_col)
            .orderBy(F.xxhash64(F.col(vec_col)))
            .limit(sample_rows)
            .toPandas()
        )
        X = np.array(pdf[vec_col].tolist(), dtype="float64")
        rng = np.random.default_rng(seed)
        init = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    centroids = np.array(init, dtype="float64")

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for _ in range(n_iter):
        assigned = vectors.select(v.alias("__v")).select(
            _nearest_centroid_expr("__v", centroids).alias("__c"), "__v"
        )
        cells = (
            assigned.select("__c", F.posexplode("__v").alias("__d", "__x"))
            .groupBy("__c", "__d")
            .agg(F.sum("__x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = centroids.copy()
        counts = np.zeros(len(centroids))
        sums = np.zeros_like(centroids)
        for r in cells:
            sums[r["__c"], r["__d"]] = r["s"]
            counts[r["__c"]] = r["n"]
        nonempty = counts > 0
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        shift = float(np.abs(new - centroids).max())
        centroids = new
        if shift < tol:
            break
    return centroids


def assign_clusters(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out: str = "cluster",
) -> DataFrame:
    """Append the nearest-centroid cluster id — a pure literal-codebook
    expression (codegen, zero shuffle); compose freely with any plan."""
    return vectors.withColumn(
        out, _nearest_centroid_expr(vec_col, np.asarray(centroids, dtype="float64"))
    )


def semantic_dup_pairs(
    vectors: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Within-cluster cosine near-dup pairs (SemDeDup-style candidates).

    Semantic dedup prunes documents whose embeddings nearly coincide with
    another document *in the same k-means cluster* — the cluster structure
    bounds the pairwise work: candidates come from an equi-join on the
    cluster id (pairwise only within a cluster), never the corpus-level
    all-pairs product. With k clusters over n docs the pair volume drops
    from n^2 to ~n^2/k; pick k ~ sqrt(n) (SemDeDup uses tens of thousands
    of clusters for web-scale corpora) so each cluster's pairwise block
    stays executor-sized.

    Physical plan (output-identical for any ``n_blocks``):

    - assignment is a literal-codebook argmin expression — codegen, no
      shuffle; per-row L2 norms are also computed BEFORE the join, so each
      candidate pair evaluates one dot-product fold, not dot + 2 norms;
    - the within-cluster self-join is **triangle-tiled**: rows hash into
      ``n_blocks`` blocks, the pair space decomposes into the
      B*(B+1)/2 block tiles, and the join key becomes
      (cluster, tile_i, tile_j). Real clusters are Zipf-skewed and a plain
      equi-join on cluster id concentrates the biggest cluster's O(n_c^2)
      work in ONE reducer — tiling multiplies join-key cardinality by ~B^2/2
      so the same work spreads over that many tasks, at the cost of each
      side's rows shuffling ~B/2 times. Every unordered pair lands in
      exactly one tile: for (bx != by) the pair appears once with roles
      fixed by block order; within a diagonal tile (i == i) the id order
      dedups. AQE's skew-join is a complement, not a substitute: it splits
      by partition, and a single hot KEY is unsplittable without this
      key-space refinement;
    - the streamed side is **explicitly repartitioned on the tile key**
      (fixed partition count — exempt from AQE coalescing, which would
      otherwise merge these byte-tiny but CPU-heavy partitions). Catalyst
      broadcasts the smaller side here, and a broadcast join inherits the
      STREAM side's partitioning — without the repartition a single-file
      scan runs every tile in one task and the tiling buys nothing.

    Returns ``(id_a, id_b, cluster, cosine)`` with ``id_a < id_b`` and
    ``cosine >= threshold`` (rounded to 6 decimals for portability).
    """
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    dim = int(np.asarray(centroids).shape[1])
    # Spread a single-split scan first: whichever side Catalyst decides to
    # stream (it broadcasts the other) must arrive with real parallelism.
    assigned = assign_clusters(
        ensure_parallelism(vectors), centroids, vec_col=vec_col, out="__cluster"
    ).select(
        F.col(id_col).alias("__id"),
        "__cluster",
        F.col(vec_col).alias("__v"),
        norm_expr(vec_col, dim).alias("__n"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    # Left role owns tiles (blk, j >= blk); right role owns tiles (i <= blk, blk).
    n_part = int(vectors.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    a = assigned.select(
        F.col("__id").alias("id_a"),
        "__cluster",
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        F.col("__blk").alias("__ti"),
        F.explode(F.sequence(F.col("__blk"), F.lit(n_blocks - 1))).alias("__tj"),
    ).repartition(n_part, "__cluster", "__ti", "__tj")
    b = assigned.select(
        F.col("__id").alias("id_b"),
        "__cluster",
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__ti"),
        F.col("__blk").alias("__tj"),
    )
    cos = _cosine_prenormed(dot_expr("__va", "__vb", dim), F.col("__na"), F.col("__nb"))
    return (
        a.join(b, ["__cluster", "__ti", "__tj"])
        .where((F.col("__ti") < F.col("__tj")) | (F.col("id_a") < F.col("id_b")))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= F.lit(threshold))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("__cluster").alias("cluster"),
            "cosine",
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Keep one representative per semantic near-dup neighborhood.

    Drop rule (deterministic, SemDeDup's anchor approximation): a row is
    dropped when some *smaller-id* row in its cluster has cosine >=
    ``threshold`` with it; min-id rows always survive as representatives.
    The drop set is just ``id_b`` of :func:`semantic_dup_pairs` — ids only
    through the shuffle.

    Survivor join shape (r17, guide §3.1): the drop-id set is a measured
    stage cache (caching.measured_stage — the pair join runs exactly
    once), and while it fits the broadcast threshold the left-anti join
    is broadcast-hinted, so the corpus's full rows (embedding payloads
    included) move ZERO times instead of once — measured: without the
    hint the anti-join planned AND executed as a SortMergeJoin shuffling
    the vectors side even with a 215-row drop set (AQE did not demote it
    at runtime). Above the threshold (a pathologically duplicate-heavy
    corpus) the shuffled anti-join shape is unchanged. Both postures are
    output-identical.

    Eager at call time (the probe-operator convention): the pair join
    materializes when called, so Spark jobs fire during construction;
    long-running callers free the cache with ``caching.stage_scope()``.
    """
    from sat_bucket_spark.caching import broadcast_if_fits, measured_stage

    dropped, metrics = measured_stage(
        semantic_dup_pairs(
            vectors, centroids, threshold=threshold, id_col=id_col,
            vec_col=vec_col, n_blocks=n_blocks,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return vectors.join(broadcast_if_fits(dropped, metrics), id_col, "left_anti")
