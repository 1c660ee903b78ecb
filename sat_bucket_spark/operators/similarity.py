"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed scale path.

Operates on a table with an ``array<float>`` embedding column (testdata:
``embeddings(vec_id, embedding, label)``). The dot products are computed with
``aggregate``/``zip_with`` — JVM-side, vectorized by codegen, no Python.

Scale design: brute-force is O(N*Q) and exists as the exactness baseline and
for broadcast-sized query sets; the production path buckets vectors with
random-hyperplane LSH so candidate generation is an equi-join on bucket keys,
then ranks exactly within buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sat_bucket_spark.caching import (
    broadcast_fits,
    broadcast_if_fits,
    measured_stage,
    stage_cache,
)

__all__ = [
    "append_to_ivfpq_index",
    "brute_force_topk",
    "build_ivfpq_index",
    "compact_ivfpq_index",
    "cosine_expr",
    "dedupe_ivfpq_index",
    "dot_expr",
    "embedding_decontamination",
    "norm_expr",
    "ivf_topk",
    "ivfpq_index_topk",
    "ivfpq_topk",
    "load_ivfpq_index",
    "l2_normalize",
    "lsh_dedup_against",
    "lsh_near_dup_pairs",
    "pairwise_near_duplicates",
    "pool_embeddings",
    "pq_encode",
    "pq_topk",
    "random_hyperplane_signature",
    "recall_at_k",
    "retrain_ivfpq_index",
    "semantic_dedup_against_index",
    "train_ivf_centroids",
    "train_pq_codebooks",
    "lsh_topk",
]


# Dot/norm strategy, MEASURED (Java 17, Spark 4.x, 1M-pair join, local[8]):
# the aggregate/zip_with fold beats a static `a[0]*b[0] + ...` unroll at
# EVERY tested dimension (8: 0.8s vs 1.2s; 32: 0.7s vs 1.9s; 64: 1.2s vs
# 6.5s). The unrolled expression generates one enormous Java method that
# blows past HotSpot's huge-method JIT budget and executes as interpreted
# bytecode, while the fold's lambda is a tiny JIT-hot loop body. The fold is
# also the bit-compat form: product in the arrays' element type, then
# left-to-right accumulation in DOUBLE — matching DuckDB's
# list_inner_product over DOUBLE[] exactly. `_dot_sql`/`_norm_sql` remain
# for plan-inspection tooling; nothing routes through them in hot paths.


def _q(name: str) -> str:
    return f"`{name}`"


def _dot_sql(a_name: str, b_name: str, dim: int) -> str:
    """Unrolled dot-product SQL over two array columns, built as ONE string
    (one py4j round-trip; per-element Column arithmetic would cost hundreds).

    Bit-compat with the HOF fold: the product happens in the arrays' element
    type (float32 for raw embeddings), each term is then cast and accumulated
    in DOUBLE left-to-right — exactly ``aggregate(zip_with(a,b,x*y), 0D, +)``.
    """
    a, b = _q(a_name), _q(b_name)
    return "(" + " + ".join(
        f"CAST({a}[{i}] * {b}[{i}] AS DOUBLE)" for i in range(dim)
    ) + ")"


def _norm_sql(a_name: str, dim: int) -> str:
    a = _q(a_name)
    body = " + ".join(f"CAST({a}[{i}] * {a}[{i}] AS DOUBLE)" for i in range(dim))
    return f"sqrt({body})"


def dot_expr(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Dot product of two array columns (JVM-side aggregate/zip_with fold).

    ``dim`` is accepted for signature stability but no longer selects a
    static unroll — see the measured strategy note above: the fold is both
    the fastest form on this JVM and the DuckDB-bit-compatible one.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column | str, dim: int | None = None) -> Column:
    """L2 norm of an array column (fold; ``dim`` kept for signature stability)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Cosine similarity of two array columns (0 when either norm is 0)."""
    denom = norm_expr(a, dim) * norm_expr(b, dim)
    return F.when(denom > 0, dot_expr(a, b, dim) / denom).otherwise(F.lit(0.0))


def _cosine_prenormed(dot: Column, na: Column, nb: Column) -> Column:
    """Cosine from a pair dot + per-ROW norms computed before the pair join.

    Value-identical to :func:`cosine_expr` (same norm expression, same
    division) but the two norm folds run once per row instead of once per
    candidate pair — in a near-dup join with P pairs over N rows that is
    2N norm evaluations instead of 2P."""
    denom = na * nb
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k of every query against the vector table.

    The query side is broadcast (top-k makes no sense for a huge query set in
    one job), so the join is map-side: each vector partition scans the
    broadcast queries — no shuffle of the big table. Ranking uses
    ``row_number`` partitioned by query with a deterministic (best-first,
    id asc) tiebreak.

    ``metric='cosine'`` (default) ranks by cosine similarity descending and
    emits a ``cosine`` column; ``metric='l2'`` ranks by exact SQUARED
    Euclidean distance ascending and emits ``l2dist`` — the ground truth
    for the IVFADC family, whose ADC scores approximate squared L2 (use it
    for :func:`recall_at_k` gates; cosine ground truth only agrees on
    L2-normalized corpora).
    """
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    prenorm = metric == "cosine"
    if prenorm:
        # Norm folds run once per ROW before the pair join (value-identical
        # to cosine_expr — see _cosine_prenormed): with Q broadcast queries
        # every corpus row forms Q pairs, so the per-pair HOF work drops
        # from 3 folds (dot + 2 norms) to 1 fold + 1 multiply.
        score = F.round(
            _cosine_prenormed(
                dot_expr(vec_col, query_vec_col, dim),
                F.col("__vn"),
                F.col("__qn"),
            ),
            6,
        ).alias("cosine")
        order = [F.col("cosine").desc(), F.col(id_col).asc()]
        cols = [query_id_col, id_col, "cosine", "rank"]
    else:
        sq = F.zip_with(
            F.col(vec_col),
            F.col(query_vec_col),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        score = F.round(
            F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("l2dist")
        order = [F.col("l2dist").asc(), F.col(id_col).asc()]
        cols = [query_id_col, id_col, "l2dist", "rank"]
    # Broadcast joins inherit the stream side's partitioning; spread a
    # single-split vectors scan before the N x Q distance work.
    v = ensure_parallelism(vectors)
    q = queries
    if prenorm:
        v = v.withColumn("__vn", norm_expr(vec_col, dim))
        q = q.withColumn("__qn", norm_expr(query_vec_col, dim))
    joined = v.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col), score
    )
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*cols)
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> float:
    """Mean per-query recall of an approximate top-k frame against exact
    ground truth (both shaped like the ``*_topk`` outputs: one row per
    (query, neighbor)).

    The gate for the persisted-ANN path: a pruning or encode bug that
    stays plan-shaped (wrong centroid assignment after an append, stale
    codebooks) passes every plan gate while silently returning poor
    neighbors — recall against :func:`brute_force_topk` with
    ``metric='l2'`` is what catches it. Distributed: one broadcast-sized
    semi-join over the two top-k frames (each |queries| * k rows) and two
    tiny aggregates; never touches the corpus.
    """
    e = exact.select(F.col(query_id_col).alias("__q"), F.col(id_col).alias("__i"))
    a = approx.select(F.col(query_id_col).alias("__q"), F.col(id_col).alias("__i"))
    hits = e.join(a, ["__q", "__i"], "left_semi")
    per_query = (
        e.groupBy("__q")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(hits.groupBy("__q").agg(F.count(F.lit(1)).alias("h")), "__q", "left")
        .select((F.coalesce(F.col("h"), F.lit(0)) / F.col("n")).alias("r"))
    )
    row = per_query.agg(F.avg("r").alias("recall")).collect()[0]
    return float(row["recall"]) if row["recall"] is not None else float("nan")


def pairwise_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold (embedding near-dup).

    All-pairs on purpose — the exactness oracle for embedding dedup. At scale
    use :func:`random_hyperplane_signature` buckets first and run this within
    buckets only. Pass ``dim`` to keep the per-pair cosine in codegen and the
    norms per-row (value-identical; see :func:`_cosine_prenormed`).
    """
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    # The non-equi join plans as BroadcastNestedLoop, which inherits the
    # STREAM side's partitioning — a single-file scan would evaluate every
    # pair in one task.
    a = ensure_parallelism(vectors).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if dim is not None:
        a = a.withColumn("__na", norm_expr("va", dim))
        b = b.withColumn("__nb", norm_expr("vb", dim))
        cos = _cosine_prenormed(
            dot_expr("va", "vb", dim), F.col("__na"), F.col("__nb")
        )
    else:
        cos = cosine_expr(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def lsh_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs — the bucketed scale path of
    :func:`pairwise_near_duplicates`.

    Candidates come from ``n_bands`` independent sign-random-projection
    bucketings (seeds ``seed..seed+n_bands-1``): a pair is a candidate when it
    shares a full bucket in ANY band — an equi-join per band, never the
    all-pairs product. The exact cosine verify restores precision; recall is
    probabilistic (a cosine-``t`` pair survives one band with
    ``(1 - acos(t)/pi)^n_planes``, so more bands raise recall, more planes cut
    candidates). Fully deterministic given ``seed`` — an external engine can
    replay bucket assignment from the same literal hyperplanes, which is how
    the driver oracle reproduces it bit-for-bit.

    Shuffle shape: per band, (id, bucket) pairs only; the candidate distinct
    carries (id_a, id_b); vectors travel only in the two verify joins.
    """
    cand = None
    for band in range(n_bands):
        # (id, int) — materialize so the a/b join sides don't each re-run
        # the dim x n_planes projection fold.
        sig = (
            random_hyperplane_signature(
                vectors, dim=dim, n_planes=n_planes, vec_col=vec_col,
                out="__lsh_b", seed=seed + band,
            )
            .select(id_col, "__lsh_b")
            .transform(stage_cache)
        )
        a = sig.select(F.col(id_col).alias("id_a"), "__lsh_b")
        b = sig.select(F.col(id_col).alias("id_b"), "__lsh_b")
        pairs = (
            a.join(b, "__lsh_b")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()  # ids only — no vector payload through the shuffle

    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm_expr(vec_col, dim).alias("__na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm_expr(vec_col, dim).alias("__nb"),
    )
    cos = _cosine_prenormed(dot_expr("__va", "__vb", dim), F.col("__na"), F.col("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _literal_vector(v) -> Column:
    """A literal double array as ONE parsed expression.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round-trip per element —
    ~1 ms each, so a 16x64 codebook burns >1 s of driver time just building
    the plan. A single ``F.expr`` string is one round-trip; ``repr(float)``
    round-trips exactly, so the values are bit-identical.
    """
    return F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in v) + ")")


def _literal_matrix(mat) -> Column:
    rows = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in mat
    )
    return F.expr(f"array({rows})")


def random_hyperplane_signature(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    out: str = "lsh_bucket",
    seed: int = 42,
) -> DataFrame:
    """Sign-random-projection LSH bucket id per vector.

    Bit i of the bucket = sign(v . h_i) for fixed seeded hyperplanes folded
    into the plan as literal arrays. Cosine-similar vectors collide with high
    probability (SimHash for real vectors).
    """
    # Deliberately the HOF fold, not the static unroll: this is a per-ROW
    # expression, and a fully unrolled n_planes*dim literal expression costs
    # seconds of parse + Janino compile per fresh plan — more than the
    # interpreted fold costs to execute. The unroll budget is reserved for
    # per-PAIR paths where the expression runs |candidates| >> |rows| times.
    planes = _hyperplanes(n_planes, dim, seed=seed)
    bucket = None
    for i in range(n_planes):
        plane = _literal_vector(planes[i])
        bit = (dot_expr(F.col(vec_col), plane) > 0).cast("long")
        term = bit * F.lit(2**i)
        bucket = term if bucket is None else (bucket + term)
    return vectors.withColumn(out, bucket)


def train_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    seed: int = 42,
    n_iter: int = 10,
) -> np.ndarray:
    """Driver-side k-means on a sample — the IVF coarse quantizer.

    The codebook is tiny (k x dim floats) and folds into Column expressions as
    literals; training on a bounded sample is the standard IVF recipe. Fully
    deterministic (seeded init, fixed iterations).

    The sample is ORDER-FREE: rows ranked by a content hash of the vector
    (TakeOrdered — per-partition top-K then a driver merge, never a full
    sort), not ``limit(N)``. A bare limit takes the corpus's FIRST
    partitions, and at scale those are one file / one domain / one time
    slice — measured failure (r14): an index built over base ∪ shifted
    populations trained its quantizer on base-only leading rows and
    served the shifted mass at recall 0.0048 while every plan gate stayed
    green. Hash ties are content-equal vectors, so the sampled VALUES
    are deterministic regardless of partitioning.
    """
    pdf = (
        vectors.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(sample_rows)
        .toPandas()
    )
    X = np.array(pdf[vec_col].tolist(), dtype="float64")
    rng = np.random.default_rng(seed)
    centroids = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = X[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def _nearest_centroid_expr(vec: Column | str, centroids: np.ndarray) -> Column:
    """argmin_c ||v - c||^2 as a literal-codebook expression (JVM-side).

    Uses ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2; ||v||^2 is common so the
    argmin reduces to argmin_c (||c||^2 - 2 v.c) — one dot product per
    centroid, no per-row allocation.

    Per-ROW expression, so the shared-lambda fold beats a static unroll: the
    plan holds k*dim literal leaves but only a constant number of operator
    nodes (analyzer + Janino stay fast — an unrolled k*dim expression costs
    seconds of parse/compile per fresh plan, far more than the interpreted
    fold costs to run once per row). First-min tie-break (array_position)
    matches DuckDB list_position.
    """
    C = np.asarray(centroids, dtype="float64")
    if isinstance(vec, str):
        vec = F.transform(F.col(vec), lambda x: x.cast("double"))
    # A chained when(score_i < best, ...) alternative duplicates best (which
    # embeds every earlier score) at each step — an O(2^n_clusters) expression
    # tree that Janino can't codegen and the interpreter re-evaluates; the
    # shared transform/aggregate lambda below avoids that.
    cents = _literal_matrix(C)
    # Bind the (possibly cast-transformed) vector as a lambda variable so it
    # is evaluated once per row, not once per centroid — a subexpression
    # referenced inside a HOF lambda re-evaluates per element.
    scores = F.element_at(
        F.transform(
            F.array(vec),
            lambda v: F.transform(
                cents,
                lambda c: F.aggregate(
                    F.zip_with(c, v, lambda a, b: a * a - 2.0 * a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        ),
        1,
    )
    return (F.array_position(scores, F.array_min(scores)) - 1).cast("int")


def _probe_pairs_df(spark, centroids: np.ndarray, n_probe: int) -> DataFrame:
    """(query_cell -> probed corpus cell) pairs as a tiny broadcastable table.

    Driver-side: k x k centroid distances, argsort per row — O(k^2) floats for
    a codebook that is literal-sized by construction.
    """
    d2 = ((centroids[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probe_order = d2.argsort(axis=1)[:, :n_probe]
    probes = [
        (int(c), int(p)) for c in range(len(centroids)) for p in probe_order[c]
    ]
    return spark.createDataFrame(probes, ["__qcluster", "__cluster"])


def knn_join(
    left: DataFrame,
    right: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    left_id_col: str = "query_id",
    left_vec_col: str = "query_vec",
    right_id_col: str = "vec_id",
    right_vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    exclude_self: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Large-large approximate k-NN join: every LEFT row gets its top-k
    cosine neighbors from RIGHT, with NEITHER side collected or broadcast.

    ``ivf_topk`` broadcasts the query side, which caps it at driver-memory
    query sets. Here both sides are cluster-partitioned with the same IVF
    coarse quantizer (a pure Column expression over a literal codebook): the
    left fans out to its ``n_probe`` nearest cells, the right carries its own
    cell, and matching is a plain shuffled equi-join on the cell id followed
    by a per-left-row top-k window. This is the all-pairs curation shape —
    "k nearest neighbors of every document" (SemDeDup-style audits,
    kNN-graph construction) — at corpus x corpus scale.

    100 TB design: shuffle volume is |left| * n_probe + |right| rows keyed by
    cell; join parallelism equals ``n_clusters``, so size the codebook to at
    least the shuffle partition count at scale (e.g. 4096 cells for a
    1000-executor job). Hot cells split further under AQE skew-join; the
    candidate volume per left row is ~(n_probe / n_clusters) * |right|. The
    top-k window shuffles ids + one float only.

    ``exclude_self`` drops ``left_id == right_id`` matches for self-join kNN
    (both sides the same corpus), so a row's trivial unit-cosine match does
    not occupy one of its k slots.

    Reference scope: beyond sat-bucket (nearest-neighbor searches there are
    single-node numpy, e.g. satbucket/analysis — this is the distributed
    re-expression).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            right, dim, n_clusters=n_clusters, vec_col=right_vec_col, seed=seed
        )
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    # Explicit aliases: left and right are often the SAME lineage (self-join
    # kNN), where DataFrame-qualified column refs go ambiguous. Norms are
    # computed ONCE per row before the join — cosine_expr would recompute
    # both norms per candidate PAIR, tripling the per-pair HOF work at
    # (n_probe/n_clusters)*|right| pairs per left row.
    r = (
        ensure_parallelism(right)
        .select(
            F.col(right_id_col).alias("__rid"),
            F.col(right_vec_col).alias("__rvec"),
        )
        .withColumn("__cluster", _nearest_centroid_expr("__rvec", centroids))
        .withColumn("__rnorm", norm_expr("__rvec", dim))
    )
    probe_df = _probe_pairs_df(right.sparkSession, centroids, n_probe)
    l = (
        ensure_parallelism(left)
        .select(
            F.col(left_id_col).alias("__lid"),
            F.col(left_vec_col).alias("__lvec"),
        )
        .withColumn("__qcluster", _nearest_centroid_expr("__lvec", centroids))
        .withColumn("__lnorm", norm_expr("__lvec", dim))
        .join(F.broadcast(probe_df), "__qcluster")
    )

    # Plain equi-join: Catalyst picks shuffled hash / sort-merge (or a
    # broadcast at toy sizes) — the operator itself never materializes a side.
    cond = F.col("r.__cluster") == F.col("l.__cluster")
    if exclude_self:
        cond = cond & (F.col("r.__rid") != F.col("l.__lid"))
    joined = r.alias("r").join(l.alias("l"), cond).select(
        F.col("l.__lid").alias(left_id_col),
        F.col("r.__rid").alias(right_id_col),
        F.round(
            _cosine_prenormed(
                dot_expr(F.col("r.__rvec"), F.col("l.__lvec"), dim),
                F.col("r.__rnorm"),
                F.col("l.__lnorm"),
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(left_id_col).orderBy(
        F.col("cosine").desc(), F.col(right_id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(left_id_col, right_id_col, "cosine", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize vectors into inverted lists,
    scan only the query's ``n_probe`` nearest lists.

    The scale path for ANN when hyperplane LSH recall is insufficient:
    candidate volume is ~(n_probe / n_clusters) of the corpus, and cluster
    assignment is a pure expression (no shuffle beyond the candidate join).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, dim, n_clusters=n_clusters, vec_col=vec_col, seed=seed
        )
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    # Norms once per row / per query, not per candidate pair (value-identical
    # to cosine_expr — see _cosine_prenormed): each corpus row matches
    # ~|queries| * n_probe / n_clusters candidate pairs, and the two 64-elem
    # norm folds were re-run for every one of them.
    v = ensure_parallelism(vectors).withColumn(
        "__cluster", _nearest_centroid_expr(vec_col, centroids)
    ).withColumn("__vn", norm_expr(vec_col, dim))

    probe_df = _probe_pairs_df(vectors.sparkSession, centroids, n_probe)

    q = queries.withColumn(
        "__qcluster", _nearest_centroid_expr(query_vec_col, centroids)
    ).withColumn("__qn", norm_expr(query_vec_col, dim)).join(
        F.broadcast(probe_df), "__qcluster"
    )
    joined = v.join(F.broadcast(q), "__cluster").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            _cosine_prenormed(
                dot_expr(vec_col, query_vec_col, dim),
                F.col("__vn"),
                F.col("__qn"),
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: rank exactly only within the query's LSH bucket.

    The scale path: bucket both sides (an equi-join on the bucket id replaces
    the cross product), then exact cosine + row_number within buckets. Recall
    is tunable via n_planes (fewer planes -> bigger buckets -> higher recall).
    """
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    v = random_hyperplane_signature(
        ensure_parallelism(vectors), dim, n_planes=n_planes, vec_col=vec_col,
        out="__bucket", seed=seed,
    ).withColumn("__vn", norm_expr(vec_col, dim))
    q = random_hyperplane_signature(
        queries, dim, n_planes=n_planes, vec_col=query_vec_col, out="__bucket", seed=seed
    ).withColumn("__qn", norm_expr(query_vec_col, dim))
    # Norms once per row, not per bucket-candidate pair (value-identical —
    # see _cosine_prenormed).
    joined = v.join(F.broadcast(q), "__bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            _cosine_prenormed(
                dot_expr(vec_col, query_vec_col, dim),
                F.col("__vn"),
                F.col("__qn"),
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def train_pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    seed: int = 42,
    n_iter: int = 10,
) -> np.ndarray:
    """Driver-side product-quantization training: k-means per subspace.

    Product quantization (Jegou et al., "Product Quantization for Nearest
    Neighbor Search") splits the ``dim``-dimensional space into ``m``
    subspaces of ``dim/m`` components and learns an independent ``ksub``-way
    codebook in each — a vector compresses to ``m`` small ints (one byte per
    subspace at ksub<=256), an ``(m * ksub * dim/m)``-float codebook
    replaces N * dim floats at scan time. Trained on a bounded sample like
    :func:`train_ivf_centroids` — same ORDER-FREE content-hash ranking,
    same reason (see that docstring's measured order-bias failure);
    fully deterministic (seeded init, fixed iterations). Returns shape
    ``(m, ksub, dim // m)``.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    pdf = (
        vectors.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(sample_rows)
        .toPandas()
    )
    X = np.array(pdf[vec_col].tolist(), dtype="float64")
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        C = Xj[rng.choice(len(Xj), size=min(ksub, len(Xj)), replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = Xj[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C)
    return np.stack(books)


def _subspace_scores_expr(vec_slice: Column, C_j: np.ndarray) -> Column:
    """Per-centroid scores ``||c||^2 - 2 c.v_j`` for ONE subspace slice.

    Equals squared L2 distance minus the slice's own ``||v_j||^2`` (constant
    within a subspace, so argmin and cross-subspace SUM ranking are
    unaffected). Bit-compat with the DuckDB oracle form
    ``cc - 2 * list_inner_product(slice, c)``: the centroid squared-norm is
    a Python-folded literal on both sides and the dot accumulates
    left-to-right in double.
    """
    C_j = np.asarray(C_j, dtype="float64")
    cents = _literal_matrix(C_j)
    ccs = _literal_vector([float((row**2).sum()) for row in C_j])
    # Bind the slice once per row (not once per centroid) — HOF lambdas
    # re-evaluate closed-over subexpressions per element.
    return F.element_at(
        F.transform(
            F.array(vec_slice),
            lambda v: F.zip_with(
                cents,
                ccs,
                lambda c, cc: cc
                - 2.0
                * F.aggregate(
                    F.zip_with(c, v, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        ),
        1,
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Attach the PQ code array: per subspace, the argmin-centroid index.

    Pure literal-codebook Column expressions (no shuffle, no Python) — the
    same shared-lambda shape as IVF cluster assignment, once per subspace.
    First-min tie-break (array_position) matches DuckDB list_position. At
    scale this runs ONCE at ingest and the codes persist next to the table;
    every later ANN scan reads m ints per row instead of dim floats.
    """
    books = np.asarray(codebooks, dtype="float64")
    m, _ksub, dsub = books.shape
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = []
    for j in range(m):
        s = _subspace_scores_expr(F.slice(v, j * dsub + 1, dsub), books[j])
        codes.append((F.array_position(s, F.array_min(s)) - 1).cast("int"))
    return df.withColumn(out, F.array(*codes))


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 4,
    ksub: int = 16,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: rank by summed LUT lookups.

    The memory-bound scale path (complements IVF's compute-bound pruning):
    each query precomputes an ``m x ksub`` lookup table of subspace scores
    against the literal codebook, and every corpus vector scores as the SUM
    of m table lookups indexed by its PQ code — the scan side touches only
    ``(id, pq_code)``, never the raw embeddings, so a 100 TB embedding
    corpus ANN-scans from a ~100x smaller code table (64 float32 -> 4-8
    bytes/row). Returns ``(query_id, vec_id, adist, rank)`` ranked ASCENDING
    by ``adist`` (squared-distance surrogate: ||q_j||^2 terms are per-query
    constants and drop out of the ranking). Combine with IVF coarse pruning
    (IVFADC) by filtering the code table on cluster id first.
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(
            vectors, dim, m=m, ksub=ksub, vec_col=vec_col, seed=seed
        )
    books = np.asarray(codebooks, dtype="float64")
    m, _ksub, dsub = books.shape
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    codes = pq_encode(ensure_parallelism(vectors), books, vec_col=vec_col).select(
        F.col(id_col), F.col("pq_code")
    )
    qv = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    lut = F.array(
        *[
            _subspace_scores_expr(F.slice(qv, j * dsub + 1, dsub), books[j])
            for j in range(m)
        ]
    )
    q = queries.select(F.col(query_id_col), lut.alias("__lut"))
    score = F.aggregate(
        F.zip_with(F.col("pq_code"), F.col("__lut"), lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    joined = codes.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col), F.round(score, 6).alias("adist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adist", "rank")
    )


def embedding_decontamination(
    train: DataFrame,
    eval_df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_vec_col: str = "embedding",
) -> DataFrame:
    """Per-training-vector max cosine against an evaluation embedding set.

    The embedding-space counterpart of :func:`~sat_bucket_spark.operators.
    dedup.decontamination_report`: a training document whose embedding nearly
    coincides with a benchmark document leaks the benchmark even when the
    surface text differs (paraphrases, translations). Returns one row per
    training vector: ``(id, max_cosine, is_contaminated)``.

    Scale shape: eval corpora are benchmark-sized (thousands of rows) where
    training corpora are TB — the eval side reduces to (vector, norm) and is
    **broadcast**, the per-pair cosine is a codegen aggregate/zip_with dot
    fold against pre-computed per-row norms (the fold measured faster than a
    static unroll on this JVM — see the dot_expr strategy note), and partial
    max aggregation runs map-side so
    the only shuffle carries ``(id, partial max)``. Training embeddings
    never move. Training rows vanish from the output only if the eval set is
    empty (cross join); callers should treat an empty eval set as "nothing
    to check".

    The flag derives from the ROUNDED max (6 decimals) so engines computing
    the division in double agree at the threshold boundary.
    """
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    t = ensure_parallelism(train).select(
        F.col(id_col), F.col(vec_col).alias("__tv")
    ).withColumn("__tn", norm_expr("__tv", dim))
    ev = eval_df.select(F.col(eval_vec_col).alias("__ev")).withColumn(
        "__en", norm_expr("__ev", dim)
    )
    cos = _cosine_prenormed(dot_expr("__tv", "__ev", dim), F.col("__tn"), F.col("__en"))
    pairs = t.crossJoin(F.broadcast(ev)).select(
        F.col(id_col), F.round(cos, 6).alias("__cos")
    )
    return (
        pairs.groupBy(id_col)
        .agg(F.max("__cos").alias("max_cosine"))
        .withColumn("is_contaminated", F.col("max_cosine") >= F.lit(threshold))
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 16,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """IVFADC-style top-k: IVF coarse pruning + PQ ADC ranking over codes.

    The composition both halves exist for (Jegou et al.'s IVFADC): corpus
    rows carry ``(coarse cluster, pq_code)`` — in production computed ONCE at
    ingest and persisted next to the table — queries probe their ``n_probe``
    nearest inverted lists and rank only those candidates, by summed
    lookup-table entries. Candidate volume is ~``n_probe / n_clusters`` of
    the corpus AND the scanned payload is m small ints per row; raw
    embeddings appear nowhere in the join. This variant quantizes raw
    vectors (not residuals v - centroid): scores replay exactly in any
    engine from the two literal codebooks, at some recall cost vs residual
    encoding — swap in residual codes at ingest if recall ever needs it.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, dim, n_clusters=n_clusters, vec_col=vec_col, seed=seed
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            vectors, dim, m=m, ksub=ksub, vec_col=vec_col, seed=seed
        )
    books = np.asarray(codebooks, dtype="float64")
    m, _ksub, dsub = books.shape
    from sat_bucket_spark.operators.parallel import ensure_parallelism

    v = pq_encode(
        ensure_parallelism(vectors).withColumn(
            "__cluster", _nearest_centroid_expr(vec_col, centroids)
        ),
        books,
        vec_col=vec_col,
    ).select(F.col(id_col), F.col("__cluster"), F.col("pq_code"))

    d2 = ((centroids[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probe_order = d2.argsort(axis=1)[:, :n_probe]
    probes = [(int(c), int(p)) for c in range(len(centroids)) for p in probe_order[c]]
    spark = vectors.sparkSession
    probe_df = spark.createDataFrame(probes, ["__qcluster", "__cluster"])

    qv = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    lut = F.array(
        *[
            _subspace_scores_expr(F.slice(qv, j * dsub + 1, dsub), books[j])
            for j in range(m)
        ]
    )
    q = (
        queries.withColumn("__qcluster", _nearest_centroid_expr(query_vec_col, centroids))
        .withColumn("__lut", lut)
        .join(F.broadcast(probe_df), "__qcluster")
        .select(F.col(query_id_col), F.col("__cluster"), F.col("__lut"))
    )
    score = F.aggregate(
        F.zip_with(F.col("pq_code"), F.col("__lut"), lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    joined = v.join(F.broadcast(q), "__cluster").select(
        F.col(query_id_col), F.col(id_col), F.round(score, 6).alias("adist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adist", "rank")
    )


def build_ivfpq_index(
    vectors: DataFrame,
    index_dir: str,
    dim: int,
    n_clusters: int = 16,
    m: int = 4,
    ksub: int = 16,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    store_vectors: bool = False,
) -> None:
    """Persist an IVFADC index: encode the corpus ONCE, search many times.

    :func:`ivfpq_topk` re-encodes the corpus on every call — right for a
    one-shot query, wrong for a standing corpus serving query batch after
    query batch (the production posture its docstring promises: codes
    "computed ONCE at ingest and persisted next to the table"). This
    writes that index:

    - ``codes/``: ``(id, pq_code)`` parquet PARTITIONED BY the coarse
      cluster — a query batch that probes ``n_probe`` lists reads ONLY
      those partitions (:func:`ivfpq_index_topk` prunes statically), so
      search I/O is ~``n_probe / n_clusters`` of the corpus codes, which
      are themselves m small ints per row.
    - ``meta/``: one-row parquet carrying dim/m/ksub/seed and the two
      float64 codebooks verbatim (parquet doubles are exact, so a search
      from the loaded index replays :func:`ivfpq_topk` bit for bit).

    Rebuild (or encode-and-append new rows with the SAME codebooks) when
    the corpus drifts; like any IVF index, recall degrades if the data
    distribution leaves the trained centroids behind.

    ``store_vectors=True`` additionally persists a REFINE STORE —
    ``vectors/``: ``(id, raw vector)`` parquet partitioned by the coarse
    cluster and SORTED WITHIN files BY id. This is FAISS's refine idea
    re-expressed as parquet layout: the exact verify of
    :func:`semantic_dedup_against_index` (``verify_vectors="index"``)
    then reads ONLY the probed clusters' vector partitions, with the
    candidate-id set pushed as an ``In`` so id-sorted row groups prune —
    the verify's I/O becomes candidate-bounded instead of scanning a
    caller-provided archive frame. Cost: the store is the corpus's
    vector bytes again (dim x 8 per row here; float32 upstream halves
    it) — pay it when the gate needs the exact posture without a
    corpus-side reader.
    """
    import os

    from sat_bucket_spark.operators.dedup import _fs_delete
    from sat_bucket_spark.operators.parallel import ensure_parallelism
    from sat_bucket_spark.writers import write_partitioned_dataset

    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, dim, n_clusters=n_clusters, vec_col=vec_col, seed=seed
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            vectors, dim, m=m, ksub=ksub, vec_col=vec_col, seed=seed
        )
    cents = np.asarray(centroids, dtype="float64")
    books = np.asarray(codebooks, dtype="float64")
    m, ksub, _dsub = books.shape

    # an in-place REBUILD replaces the codebooks, so any recorded recall
    # baseline (check_ivfpq_recall) describes a dead generation — clear it
    # AFTER training succeeds, immediately before the first destructive
    # write (the codes overwrite): a training failure above leaves the
    # standing index fully intact WITH its still-valid baseline (r15
    # advisor; no-op on fresh dirs and retrain stagings)
    _fs_delete(vectors.sparkSession, os.path.join(index_dir, "recall_baseline"))

    clustered = ensure_parallelism(vectors).withColumn(
        "__cluster", _nearest_centroid_expr(vec_col, cents)
    )
    codes = pq_encode(clustered, books, vec_col=vec_col).select(
        F.col(id_col), F.col("__cluster").cast("int"), F.col("pq_code")
    )
    codes.write.mode("overwrite").partitionBy("__cluster").parquet(
        os.path.join(index_dir, "codes")
    )
    if store_vectors:
        write_partitioned_dataset(
            clustered.select(
                F.col(id_col), F.col("__cluster").cast("int"), F.col(vec_col)
            ),
            os.path.join(index_dir, "vectors"),
            partitions=["__cluster"],
            sort_within_by=[id_col],
            mode="overwrite",
        )

    spark = vectors.sparkSession
    meta = spark.createDataFrame(
        [
            (
                int(dim), int(len(cents)), int(m), int(ksub), int(seed),
                id_col, bool(store_vectors), vec_col,
                cents.tolist(), books.tolist(),
            )
        ],
        "dim int, n_clusters int, m int, ksub int, seed int, id_col string, "
        "store_vectors boolean, vec_col string, "
        "centroids array<array<double>>, codebooks array<array<array<double>>>",
    )
    meta.write.mode("overwrite").parquet(os.path.join(index_dir, "meta"))


def append_to_ivfpq_index(
    vectors: DataFrame,
    index_dir: str,
    vec_col: str = "embedding",
) -> None:
    """Encode NEW corpus rows with the index's existing codebooks and
    append their codes — the incremental-ingest path (a nightly batch
    joins a standing index without retraining or re-encoding the corpus).

    The codebooks stay fixed by design: mixed-codebook codes would be
    unsearchable, and IVF recall under distribution drift is a rebuild
    decision, not an append decision. Appended rows land in their coarse
    cluster's partition, so search pruning is unaffected. Each append
    batch adds >= 1 file per touched cluster partition — run
    :func:`compact_ivfpq_index` periodically so searches don't accumulate
    per-cluster file-open costs.
    """
    import os

    from sat_bucket_spark.operators.parallel import ensure_parallelism

    spark = vectors.sparkSession
    params, cents, books, _codes = load_ivfpq_index(spark, index_dir)
    # malformed rows (NULL / wrong-length vector) never enter the index:
    # their codes would be garbage yet DETERMINISTIC, turning later probes'
    # sized approximation error into unconditional false matches
    well_formed = ensure_parallelism(vectors).where(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == F.lit(int(params["dim"])))
    )
    codes = pq_encode(
        well_formed.withColumn(
            "__cluster", _nearest_centroid_expr(vec_col, cents)
        ),
        books,
        vec_col=vec_col,
    ).select(
        F.col(params["id_col"]), F.col("__cluster").cast("int"), F.col("pq_code")
    )
    # cluster the write: without this each append leaves up to
    # shuffle.partitions files PER cluster partition (measured 33 files
    # per cluster after two trigger-frequency learn appends); one
    # batch-sized hash exchange makes it ~one file per touched cluster.
    # AQE may coalesce the small shuffle further — fewer files, fine here
    # (the downstream is only the write).
    codes.repartition("__cluster").write.mode("append").partitionBy(
        "__cluster"
    ).parquet(os.path.join(index_dir, "codes"))
    if params["store_vectors"]:
        from sat_bucket_spark.writers import write_partitioned_dataset

        write_partitioned_dataset(
            well_formed.withColumn(
                "__cluster", _nearest_centroid_expr(vec_col, cents).cast("int")
            ).select(
                F.col(params["id_col"]), F.col("__cluster"),
                F.col(vec_col).alias(params["vec_col"]),
            ),
            os.path.join(index_dir, "vectors"),
            partitions=["__cluster"],
            sort_within_by=[params["id_col"]],
            mode="append",
        )


def compact_ivfpq_index(
    spark,
    index_dir: str,
    target_file_size: str | int = "64MB",
    min_files: int = 2,
) -> int:
    """Compact the codes partitions fragmented by incremental appends.

    Every :func:`append_to_ivfpq_index` batch writes at least one new file
    into each coarse-cluster partition it touches; after N nightly appends
    a probed cluster pays N file opens (plus undersized row groups and
    weaker codec ratios) on EVERY search. This is the maintenance half of
    the incremental-ingest story: measure fragmentation from parquet file
    metadata only (no data pages read), then rewrite ONLY the cluster
    partitions whose mean file size is under ``target_file_size`` with at
    least ``min_files`` files — dynamic partition overwrite, so untouched
    clusters' files are never opened and a failed job leaves them intact
    (the same selective posture as :func:`sat_bucket_spark.maintenance.
    compact_bucket`, which this delegates to with the index's
    ``__cluster`` partitioning).

    Codes are content-identical after compaction — same (id, cluster,
    pq_code) rows in fewer files — so search results are unchanged (a test
    pins search equality across an append + compact cycle). Returns the
    number of cluster partitions rewritten.
    """
    import os

    from sat_bucket_spark.maintenance import compact_bucket

    n = compact_bucket(
        spark,
        os.path.join(index_dir, "codes"),
        target_file_size=target_file_size,
        min_files=min_files,
        partition_cols=["__cluster"],
    )
    params, _c, _b, _codes = load_ivfpq_index(spark, index_dir)
    if params["store_vectors"]:
        # the refine store fragments with the same appends; its rewrite
        # must stay id-SORTED within files — the sort is what lets the
        # verify's pushed candidate-id In prune row groups
        n += compact_bucket(
            spark,
            os.path.join(index_dir, "vectors"),
            target_file_size=target_file_size,
            min_files=min_files,
            partition_cols=["__cluster"],
            sort_within_by=[params["id_col"]],
        )
    return n


def retrain_ivfpq_index(
    spark,
    index_dir: str,
    vectors: DataFrame | None = None,
    n_clusters: int | None = None,
    m: int | None = None,
    ksub: int | None = None,
    seed: int | None = None,
) -> dict:
    """Retrain the codebooks over the CURRENT corpus distribution and swap
    the index generationally — the drift-maintenance leg the append path
    deliberately lacks (:func:`append_to_ivfpq_index` freezes codebooks
    because mixed-codebook codes are unsearchable; recall under
    distribution drift is a REBUILD decision). This is the ANN analogue
    of BM25's posting compaction: appends keep the index current, this
    keeps it ACCURATE once the embedding distribution leaves the frozen
    centroids behind (gate the decision with
    :func:`recall_at_k` against :func:`brute_force_topk` on a recent
    query sample — see SCALE.md's retrain-cadence note).

    Corpus source: ``vectors`` (id + raw vector frame) when given; else
    the index's own refine store (``store_vectors=True`` builds) — an
    index without either cannot retrain (raise, with instruction).

    Swap protocol (crash-safe, resumable):

    1. STAGE the full new generation under ``<index_dir>/retrain.tmp``
       via :func:`build_ivfpq_index` (its own meta commits LAST, so a
       loadable staging meta == staging complete). The standing index
       serves unchanged throughout — retraining costs zero downtime
       until the swap.
    2. Delete the standing ``meta/`` — the validity marker — so probes
       fail LOUDLY during the swap window instead of reading mixed
       generations.
    3. Per component (codes, vectors): delete the old dir, rename the
       staged one into place. 4. Rename the staged meta into place —
       the commit.

    A crash mid-staging leaves the OLD index fully valid plus staging
    debris (no loadable staging meta) — rerunning deletes the debris and
    restages. A crash mid-swap leaves no meta plus a COMPLETE staged
    generation — rerunning detects the loadable staging meta and resumes
    the swap without retraining (``index_report`` describes both states
    with the matching recovery hint). Returns ``{"resumed": bool,
    "n_clusters": int, "m": int, "ksub": int}``.

    Concurrency guard (the compact_bm25_index contract): the codes tree
    is fingerprinted BEFORE the staged generation's source snapshot is
    read and re-checked immediately before the swap — an
    ``append_to_ivfpq_index`` landing mid-retrain would otherwise be
    silently ERASED (the staged generation was trained and encoded from
    a pre-append snapshot, and the swap replaces codes/vectors
    wholesale). On a changed tree the retrain aborts with the staging
    left in place; rerunning resumes — which is only safe because a
    committed staging is detected FIRST, so the abort path deletes the
    staging before raising to keep "resume" meaning "finish a crashed
    swap", never "install a stale snapshot over a newer append".

    The witness SURVIVES the process: the pre-staging signature is
    persisted under ``retrain.tmp/witness`` before staging begins, so a
    kill between the staging commit and the swap cannot launder a stale
    snapshot through the resume path. On resume the two crash states are
    distinguished by the STANDING meta: gone = the swap already began
    (appends fail loudly in that window — finishing the swap is the only
    correct action); still loadable = the swap never began and the
    standing index kept serving, so the persisted witness is re-verified
    against the live codes tree and, on mismatch (an append landed after
    the kill) or a missing witness, the staging is DISCARDED and the
    retrain restarts from the current corpus instead of resuming.

    The guard narrows the append/maintenance race to the instants between
    its re-checks but cannot CLOSE it (check-then-act over a shared
    filesystem): an append landing after the final pre-swap re-check is
    still erased by the swap. Concurrent appends during retrain — as with
    every maintenance swap in this engine — require external mutual
    exclusion; the witness exists to make violations LOUD, not licensed.
    """
    import os

    from sat_bucket_spark.operators.dedup import (
        _fs_delete,
        _fs_is_dir,
        _fs_rename,
        _fs_tree_signature,
        _load_meta_row,
        _read_witness,
        _write_witness,
    )
    staging = os.path.join(index_dir, "retrain.tmp")
    witness_path = os.path.join(staging, "witness")
    codes_path = os.path.join(index_dir, "codes")

    def _staging_complete() -> bool:
        try:
            _load_meta_row(spark, staging)
            return True
        except Exception:
            return False

    def _swap(store_vectors: bool) -> None:
        # the recorded recall baseline (check_ivfpq_recall) describes the
        # OUTGOING generation's codebooks — gating a post-retrain reading
        # against it would compare across generations; re-record after
        _fs_delete(spark, os.path.join(index_dir, "recall_baseline"))
        _fs_delete(spark, os.path.join(index_dir, "meta"))
        comps = ["codes"] + (["vectors"] if store_vectors else [])
        for comp in comps:
            staged = os.path.join(staging, comp)
            if _fs_is_dir(spark, staged):
                _fs_delete(spark, os.path.join(index_dir, comp))
                _fs_rename(spark, staged, os.path.join(index_dir, comp))
        _fs_rename(
            spark, os.path.join(staging, "meta"), os.path.join(index_dir, "meta")
        )
        _fs_delete(spark, staging)

    if _staging_complete():
        standing_ok = True
        try:
            _load_meta_row(spark, index_dir)
        except Exception:
            standing_ok = False
        resume = False
        if not standing_ok:
            # true mid-swap: the standing meta is already gone, so probes
            # AND appends fail loudly in this window — nothing can have
            # landed since the kill; finishing the swap is the only
            # correct action (and the staged generation is the only
            # complete one left)
            resume = True
        else:
            # the swap never began: the standing index kept serving after
            # the kill, so an append may have landed — re-verify the
            # persisted witness against the live codes tree; mismatch (or
            # a pre-witness staging) means resuming would install a stale
            # snapshot over the newer append
            w = _read_witness(spark, witness_path)
            resume = w is not None and w == _fs_tree_signature(
                spark, codes_path
            )
        if resume:
            srow = _load_meta_row(spark, staging).asDict()
            _swap(bool(srow.get("store_vectors", False)))
            return {
                "resumed": True,
                "n_clusters": int(srow["n_clusters"]),
                "m": int(srow["m"]),
                "ksub": int(srow["ksub"]),
            }
    _fs_delete(spark, staging)  # stale/mid-staging debris: old index valid

    params, _cents, _books, _codes = load_ivfpq_index(spark, index_dir)
    # concurrency witness: captured BEFORE the source snapshot is read
    # (every append writes codes/, so the codes tree sees all of them)
    seen = _fs_tree_signature(spark, codes_path)
    # persist it under the staging root FIRST: build_ivfpq_index commits
    # the staging meta last, so any staging a rerun can see as complete
    # carries the witness its resume decision needs
    _write_witness(spark, witness_path, seen)
    if vectors is None:
        if not params["store_vectors"]:
            raise ValueError(
                f"{index_dir}: no refine store (store_vectors=False) and no "
                "vectors frame given — retraining needs raw vectors; pass "
                "the corpus as `vectors`"
            )
        vectors = spark.read.parquet(os.path.join(index_dir, "vectors")).select(
            F.col(params["id_col"]), F.col(params["vec_col"])
        )
    n_clusters = int(n_clusters or params["n_clusters"])
    m = int(m or params["m"])
    ksub = int(ksub or params["ksub"])
    seed = int(params["seed"] if seed is None else seed)
    build_ivfpq_index(
        vectors,
        staging,
        dim=int(params["dim"]),
        n_clusters=n_clusters,
        m=m,
        ksub=ksub,
        id_col=params["id_col"],
        vec_col=params["vec_col"],
        seed=seed,
        store_vectors=params["store_vectors"],
    )
    if _fs_tree_signature(spark, codes_path) != seen:
        # the staging MUST go: a rerun resumes any committed staging, and
        # resuming this one would install the stale pre-append snapshot —
        # the exact loss this guard exists to prevent
        _fs_delete(spark, staging)
        raise RuntimeError(
            f"{index_dir}: codes tree changed during retraining (concurrent "
            "append?) — swap aborted and staging discarded, standing index "
            "left intact; rerun retrain_ivfpq_index"
        )
    _swap(params["store_vectors"])
    return {"resumed": False, "n_clusters": n_clusters, "m": m, "ksub": ksub}


def check_ivfpq_recall(
    spark,
    index_dir: str,
    queries: DataFrame | None = None,
    k: int = 10,
    n_queries: int = 200,
    n_probe: int = 2,
    baseline: float | None = None,
    min_ratio: float = 0.8,
    record_baseline: bool = False,
) -> dict:
    """Measure the standing index's recall@k against exact ground truth —
    the nightly accuracy watch that gates the
    :func:`retrain_ivfpq_index` decision, packaged to ride next to
    :func:`sat_bucket_spark.maintenance.index_report` (fsck watches the
    index's STRUCTURE; this watches what structure can't show: frozen
    codebooks silently going stale under distribution drift).

    Ground truth comes from the index's own refine store
    (``store_vectors=True`` builds): ``queries`` (a
    ``(query_id, query_vec)`` frame — the ``*_topk`` query shape; or,
    when None, an ``n_queries`` order-free sample of the refine store —
    content-hash TakeOrdered, never ``limit(N)``; a bare limit reads the
    corpus's leading partitions, the measured r14 sampling trap) are ranked
    exactly by :func:`brute_force_topk` with ``metric='l2'`` (the metric
    ADC scores approximate) and compared to
    :func:`ivfpq_index_topk` via :func:`recall_at_k`. Cost is one scan
    of the refine store per call (the brute-force side) — size
    ``n_queries``/cadence accordingly; the index search itself reads only
    probed partitions. An index without a refine store cannot self-check
    (raise, with instruction): gate it externally with
    ``recall_at_k(ivfpq_index_topk(...), brute_force_topk(corpus, ...))``.

    Corpus-sampled queries contain their own exact copy, which a healthy
    index retrieves — so healthy recall is biased UP, and a drop is the
    drift signal. Gate the number RELATIVELY, never absolutely: recall at
    fixed PQ capacity (m x ksub) shrinks as the corpus grows, so an
    absolute floor tuned at one size misfires at another (measured r14:
    0.353 restored at 500 vectors vs 0.174 at 20k for the SAME healthy
    index family). The baseline = the reading taken right after the last
    build/retrain, supplied one of two ways: pass it as ``baseline``, or
    run once with ``record_baseline=True`` after each build/retrain — the
    reading persists to ``<index_dir>/recall_baseline`` (its own dir;
    meta stays immutable) and later calls pick it up automatically when
    ``baseline`` is None and the recorded (k, n_probe, n_queries, query
    provenance) ALL match the call's — a baseline recorded over a
    caller-supplied queries frame never gates a corpus-sampled watch (or
    vice versa), and a different sample size is a different measurement.
    ``retrain_recommended`` is then ``recall < min_ratio * baseline``
    (default 0.8x, the sf1 probe's drift gate re-expressed). With no
    baseline from either source, ``retrain_recommended`` is None — the
    first reading IS the baseline, record it.

    The recorded baseline describes the CURRENT codebooks, so
    :func:`retrain_ivfpq_index` deletes it at the swap (both the fresh
    and resume paths): a post-retrain reading against the pre-retrain
    generation's baseline would gate against the wrong reference —
    re-record after every retrain. Appends deliberately do NOT clear it:
    append-under-drift against the frozen-codebook baseline is exactly
    the comparison this watch exists to make.

    Record ONLY at build/retrain time, never on the nightly watch call
    itself: a nightly ``record_baseline=True`` RATCHETS the reference —
    each night's (possibly drifted) reading becomes the next night's
    baseline, so compound drift of 0.9x/night never trips a 0.8x gate.
    The baseline is a per-GENERATION constant, not a trailing average.

    Returns ``{"recall": float, "k": int, "n_queries": int, "n_probe":
    int, "baseline": float | None, "baseline_source": "arg" | "recorded"
    | "unreadable" | None, "retrain_recommended": bool | None}``.
    ``baseline_source="unreadable"`` means a recorded baseline EXISTS but
    failed to read (a crash mid-record corrupted it) — distinguished from
    the never-recorded None so a damaged baseline can't silently turn the
    nightly watch into a no-op gate; ``index_report`` flags the same
    state, and the fix is re-recording at the next build/retrain (or
    deleting the dir). SCALE.md's retrain-cadence note shows the nightly
    wiring.
    """
    import os

    params, _cents, _books, _codes = load_ivfpq_index(spark, index_dir)
    if not params["store_vectors"]:
        raise ValueError(
            f"{index_dir}: no refine store (store_vectors=False) — recall "
            "needs exact ground truth; gate externally with recall_at_k("
            "ivfpq_index_topk(...), brute_force_topk(corpus, ..., "
            "metric='l2'))"
        )
    id_col, vec_col = params["id_col"], params["vec_col"]
    corpus = spark.read.parquet(os.path.join(index_dir, "vectors")).select(
        F.col(id_col), F.col(vec_col)
    )
    query_source = "sampled" if queries is None else "supplied"
    if queries is None:
        queries = (
            corpus.orderBy(F.xxhash64(F.col(vec_col)))
            .limit(int(n_queries))
            .select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"),
            )
        )
    queries = stage_cache(queries)
    exact = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col, metric="l2"
    )
    approx = ivfpq_index_topk(spark, index_dir, queries, k=k, n_probe=n_probe)
    recall = recall_at_k(approx, exact, id_col=id_col)
    n_q = queries.count()
    from sat_bucket_spark.operators.dedup import _fs_is_dir

    baseline_path = os.path.join(index_dir, "recall_baseline")
    baseline_source = None if baseline is None else "arg"
    # existence-check first: a missing baseline is the normal first-run
    # state, not an exception to log
    if baseline is None and _fs_is_dir(spark, baseline_path):
        try:
            brow = spark.read.parquet(baseline_path).collect()[0].asDict()
            # a baseline at different knobs OR over an incomparable query
            # sample is not a reference — ignore it (r15 advisor: a
            # baseline recorded from a caller-supplied queries frame, or
            # at a different sample size, would silently gate later watch
            # runs on a different measurement; pre-provenance baselines
            # have no query_source column and are ignored the same way)
            if (
                int(brow["k"]) == int(k)
                and int(brow["n_probe"]) == int(n_probe)
                and int(brow.get("n_queries", -1)) == int(n_q)
                and brow.get("query_source") == query_source
            ):
                baseline = float(brow["recall"])
                baseline_source = "recorded"
        except Exception:
            # the dir EXISTS but won't read: a crash mid-record corrupted
            # it. Surface that loudly instead of impersonating the normal
            # never-recorded state — fsck flags the same condition
            baseline_source = "unreadable"
    recommended = None if baseline is None else recall < min_ratio * baseline
    if record_baseline:
        # record the same 6-dp rounding the return dict carries, so the
        # recorded baseline is exactly the reading the caller saw/logged
        spark.createDataFrame(
            [(
                round(float(recall), 6), int(k), int(n_probe), int(n_q),
                query_source,
            )],
            "recall double, k int, n_probe int, n_queries long, "
            "query_source string",
        ).write.mode("overwrite").parquet(baseline_path)
    return {
        "recall": round(recall, 6),
        "k": int(k),
        "n_queries": int(n_q),
        "n_probe": int(n_probe),
        "baseline": baseline,
        "baseline_source": baseline_source,
        "retrain_recommended": recommended,
    }


def dedupe_ivfpq_index(spark, index_dir: str) -> int:
    """Heal duplicate code rows left by REPLAYED appends — rewrite only the
    cluster partitions that actually contain them.

    ``append_to_ivfpq_index`` is not idempotent: an at-least-once caller
    (the streaming archive gate's learn path replaying a batch whose crash
    fell between the sink commit and the checkpoint offset) appends the
    same rows twice. Codebooks are frozen, so the replays produce
    IDENTICAL ``(id, __cluster, pq_code)`` rows — harmless to the dedup
    GATE (its contaminated set is DISTINCT ids) but visible to ranked
    search: a duplicated id occupies two ``row_number`` slots in
    :func:`ivfpq_index_topk`, displacing a legitimate k-th neighbor.

    Detection is one scan of the narrow codes table (id + cluster ints, a
    map-side-combined count); healing reads back ONLY the clusters that
    hold duplicates (partition-pruned) and rewrites them via dynamic
    partition overwrite with exact-duplicate rows dropped. Clean indexes
    — the common case — pay the detection scan and rewrite nothing.
    Returns the number of cluster partitions rewritten.

    Ids are assumed unique per vector: the same id re-ingested with a
    DIFFERENT embedding produces distinct code rows this function keeps
    (both are "real" entries; resolving them is an upsert policy, not
    replay healing)."""
    import os

    spark_codes_path = os.path.join(index_dir, "codes")
    params, _cents, _books, codes = load_ivfpq_index(spark, index_dir)
    id_col = params["id_col"]
    dup_clusters = [
        r["__cluster"]
        for r in codes.groupBy(id_col, "__cluster", "pq_code")
        .count()
        .where(F.col("count") > 1)
        .select("__cluster")
        .distinct()
        .collect()
    ]
    if not dup_clusters:
        return 0
    healed = (
        codes.where(F.col("__cluster").isin(dup_clusters))
        .dropDuplicates([id_col, "__cluster", "pq_code"])
    )
    # dynamic overwrite per write: only the healed clusters' partitions
    # are replaced, and no other write in the session changes mode
    healed.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("__cluster").parquet(spark_codes_path)
    if params["store_vectors"]:
        # the refine store replays the same appends — heal it in the
        # same clusters, keeping files id-sorted for the verify's
        # pushed-In row-group pruning
        vec_path = os.path.join(index_dir, "vectors")
        vecs = spark.read.parquet(vec_path)
        (
            vecs.where(F.col("__cluster").isin(dup_clusters))
            .dropDuplicates([id_col, "__cluster", params["vec_col"]])
            .repartition("__cluster")
            .sortWithinPartitions(id_col)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__cluster")
            .parquet(vec_path)
        )
    return len(dup_clusters)


def load_ivfpq_index(spark, index_dir: str):
    """(params dict, centroids ndarray, codebooks ndarray, codes DataFrame)
    for an index written by :func:`build_ivfpq_index`. The meta row
    (frozen params + codebooks) is mtime-cache-guarded like the dedup
    indexes' — immutable after build, rebuilds invalidate."""
    import os

    from sat_bucket_spark.operators.dedup import _load_meta_row

    row = _load_meta_row(spark, index_dir)
    params = {
        k: row[k] for k in ("dim", "n_clusters", "m", "ksub", "seed", "id_col")
    }
    d = row.asDict()
    # fields added r12 (refine store) — older metas simply lack them
    params["store_vectors"] = bool(d.get("store_vectors", False))
    params["vec_col"] = d.get("vec_col", "embedding")
    centroids = np.asarray(row["centroids"], dtype="float64")
    codebooks = np.asarray(row["codebooks"], dtype="float64")
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    return params, centroids, codebooks, codes


def ivfpq_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVFADC search against a persisted index — same scores, same ranks
    as :func:`ivfpq_topk` with the index's codebooks, but the corpus is
    never re-encoded and only the PROBED cluster partitions are read.

    Pruning is static and guaranteed: the query batch's probed-cluster
    set is collected first (bounded by ``n_clusters`` values — a caller-
    bounded collect, never corpus-sized) and applied as an ``isin``
    partition filter on the codes scan, so the parquet reader lists only
    those directories. The LUT/score/rank stage is identical to
    :func:`ivfpq_topk`.
    """
    params, cents, books, codes = load_ivfpq_index(spark, index_dir)
    m, ksub, dsub = books.shape
    id_col = params["id_col"]

    d2 = ((cents[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probe_order = d2.argsort(axis=1)[:, :n_probe]
    probes = [(int(c), int(p)) for c in range(len(cents)) for p in probe_order[c]]
    probe_df = spark.createDataFrame(probes, ["__qcluster", "__cluster"])

    qv = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    lut = F.array(
        *[
            _subspace_scores_expr(F.slice(qv, j * dsub + 1, dsub), books[j])
            for j in range(m)
        ]
    )
    q = stage_cache(
        queries.withColumn("__qcluster", _nearest_centroid_expr(query_vec_col, cents))
        .withColumn("__lut", lut)
        .join(F.broadcast(probe_df), "__qcluster")
        .select(F.col(query_id_col), F.col("__cluster"), F.col("__lut"))
    )
    # bounded collect: at most n_clusters ints, independent of corpus size
    probed = [r["__cluster"] for r in q.select("__cluster").distinct().collect()]
    pruned = codes.where(F.col("__cluster").isin(probed))

    score = F.aggregate(
        F.zip_with(F.col("pq_code"), F.col("__lut"), lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    joined = pruned.join(F.broadcast(q), "__cluster").select(
        F.col(query_id_col), F.col(id_col), F.round(score, 6).alias("adist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "adist", "rank")
    )


def semantic_dedup_against_index(
    batch: DataFrame,
    index_dir: str,
    min_cosine: float = 0.95,
    n_probe: int = 2,
    max_adist: float | None = None,
    adc_margin: float | None = 0.2,
    verify_vectors: DataFrame | str | None = None,
    id_col: str | None = None,
    vec_col: str = "embedding",
    pushdown_max_ids: int = 0,
) -> DataFrame:
    """Drop batch vectors that semantically duplicate ANY indexed corpus
    vector — without touching the corpus: the probe's inputs are the
    batch plus the persisted IVFPQ codes of the probed clusters.

    The persisted-index leg of the embedding dedup axis, completing the
    standing-archive matrix (exact keys -> ``dedup_exact_against_bloom_
    index``; text shingles -> ``minhash_dedup_against_index``; this ->
    embeddings). Reference analogue: incremental update against a
    standing bucket, /root/reference/satbucket/routines.py:580-587 —
    re-expressed as a build-once/probe-nightly index. Contrast with :func:`lsh_dedup_against`, which scans and
    re-signs the raw corpus vectors on every call — here the archive was
    encoded ONCE at ingest and only the probed clusters' ``(id,
    pq_code)`` rows (m small ints per row) are read.

    Two verification postures, mirroring the Bloom gate:

    - ``verify_vectors=None`` (default): a batch row is dropped when ANY
      probed code scores an ADC distance <= threshold + ``adc_margin``.
      ADC distances are quantized approximations of squared L2, so the
      margin leans the error toward OVER-dropping (the safe direction
      for ingest dedup, same trade as the Bloom FP rate) — but unlike a
      Bloom filter the error is two-sided: a true near-duplicate whose
      quantization error exceeds the margin, or whose nearest archive
      vector lives outside the ``n_probe`` probed clusters, passes
      through. Size ``n_probe``/``adc_margin`` against measured recall.
    - ``verify_vectors=<frame>``: ADC candidates are verified by EXACT
      cosine against the given ``(id, vector)`` frame (the index-append
      lazy-reader contract: the caller hands over the archive's raw
      embeddings, scanned only at the candidate ids). False ADC flags
      are restored; with ``n_probe = n_clusters`` and a generous margin
      the result is bit-identical to the exact brute-force gate (pinned
      by test) — which is what makes this leg hash-verifiable.
    - ``verify_vectors="index"``: the exact verify reads the index's own
      REFINE STORE (``build_ivfpq_index(store_vectors=True)``): the
      vectors scan is partition-pruned to the PROBED clusters and
      semi-joined on candidate ids — the verify never touches a
      caller-provided archive frame, so a learn-mode streaming gate is
      self-contained in the exact posture (appends keep the store in
      sync). Output-identical to passing the archive frame explicitly
      (pinned by test). ``pushdown_max_ids`` (OPT-IN, default 0 — same
      measured decision as the MinHash probe's sig pushdown) swaps the
      semi-join for a pushed ``In`` over the id-sorted files when the
      candidate-id count is point-lookup-small; with a candidate-complete
      margin the candidate set is every id in the probed clusters, where
      a measured 12k-50k-literal In cost ~14 s/probe in planning alone —
      leave it off unless a finite margin keeps candidates tiny.

    ``adc_margin=None`` is the explicit CANDIDATE-COMPLETE posture
    (requires ``verify_vectors``): every probed pair goes to the exact
    verify and the ADC scoring is SKIPPED ENTIRELY — no LUT, no per-pair
    fold, a slimmer broadcast frame. Same output as an unbounded finite
    margin (pinned by test), measurably cheaper. Use it when the
    codebooks can't separate at the working threshold (e.g. this
    repo's random-unit-vector test corpus — the PQ worst case); a
    finite margin is the production posture once trained codebooks
    bound the candidate volume.

    Thresholds: the primitive is ``max_adist`` (squared-L2 in ADC space);
    when None it derives as ``2 * (1 - min_cosine)``, exact for
    L2-NORMALIZED embeddings (``||a-b||^2 = 2 - 2 cos`` — run
    :func:`l2_normalize` upstream if the source isn't). The exact verify
    is plain cosine, valid for any norms.

    Rows with a NULL embedding or a length != the index's dim bypass the
    probe to the clean side (the engine's NULL-key convention: malformed
    rows never match; :func:`_nearest_centroid_expr` over a wrong-length
    vector would otherwise score garbage deterministically).

    Scale shape: batch rows never shuffle corpus-sized data — the probed
    codes scan is partition-pruned to the batch's probed clusters
    (bounded collect of <= n_clusters ints), the batch's (id, cluster,
    LUT) frame — a measured stage cache whose size counts the ``m x
    ksub`` LUT every row carries — is broadcast into it while it fits
    the broadcast threshold (caching.broadcast_if_fits), with a shuffled
    join fallback above; candidate ids filter the verify scan
    broadcast/semi-join gated the same way. Both postures of each gate
    are the same logical plan minus the hint — output-identical.

    Long-running callers (the streaming archive gate) wrap the call and
    the result's write in ``caching.stage_scope()`` to free the caches.
    """
    spark = batch.sparkSession
    params, cents, books, codes = load_ivfpq_index(spark, index_dir)
    m, ksub, dsub = books.shape
    corpus_id = params["id_col"]
    # like the MinHash probe, the batch defaults to the index's id column
    id_col = corpus_id if id_col is None else id_col
    dim = int(params["dim"])
    thr = (2.0 * (1.0 - float(min_cosine))) if max_adist is None else float(max_adist)

    malformed = F.col(vec_col).isNull() | (F.size(F.col(vec_col)) != F.lit(dim))
    bypass = batch.where(malformed)
    probed_batch = batch.where(~malformed)

    d2 = ((cents[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probe_order = d2.argsort(axis=1)[:, : min(int(n_probe), len(cents))]
    probes = [(int(c), int(p)) for c in range(len(cents)) for p in probe_order[c]]
    probe_df = spark.createDataFrame(probes, ["__qcluster", "__cluster"])

    if adc_margin is None and verify_vectors is None:
        raise ValueError(
            "adc_margin=None (candidate-complete) requires verify_vectors: "
            "without the exact verify every probed pair would be dropped"
        )
    if isinstance(verify_vectors, str):
        if verify_vectors != "index":
            raise ValueError(
                f"verify_vectors={verify_vectors!r}: pass a DataFrame, "
                "None, or the literal 'index' (refine store)"
            )
        if not params["store_vectors"]:
            raise ValueError(
                "verify_vectors='index' requires an index built with "
                "store_vectors=True"
            )
    q_cols = [F.col(id_col).alias("__bid"), F.col("__cluster")]
    q_base = probed_batch.withColumn(
        "__qcluster", _nearest_centroid_expr(vec_col, cents)
    )
    if adc_margin is not None:
        qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        lut = F.array(
            *[
                _subspace_scores_expr(F.slice(qv, j * dsub + 1, dsub), books[j])
                for j in range(m)
            ]
        )
        # the ADC LUT scores are ||c||^2 - 2 c.q_j (||q_j||^2 dropped — it
        # is rank-invariant, see _subspace_scores_expr); a THRESHOLD needs
        # true squared L2, so the query's own squared norm rides the probe
        # frame and is added back at the comparison
        qn2 = F.aggregate(qv, F.lit(0.0), lambda acc, x: acc + x * x)
        q_base = q_base.withColumn("__lut", lut).withColumn("__qn2", qn2)
        q_cols += [F.col("__lut"), F.col("__qn2")]
    # the broadcast relation is measured as the frame actually shipped
    # (batch rows x n_probe, LUTs included)
    q, q_metrics = measured_stage(
        q_base.join(F.broadcast(probe_df), "__qcluster").select(*q_cols)
    )
    # bounded collect: at most n_clusters ints, independent of corpus size
    probed = [r["__cluster"] for r in q.select("__cluster").distinct().collect()]
    pruned = codes.where(F.col("__cluster").isin(probed))

    flagged_pairs = pruned.join(broadcast_if_fits(q, q_metrics), "__cluster")
    if adc_margin is not None:
        score = F.aggregate(
            F.zip_with(
                F.col("pq_code"), F.col("__lut"),
                lambda c, l: F.element_at(l, c + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        flagged_pairs = flagged_pairs.where(
            F.round(score + F.col("__qn2"), 6) <= F.lit(thr + float(adc_margin))
        )

    if verify_vectors is None:
        # r17 (§3.1): contaminated (ids only) is bounded by the measured
        # probe frame, but without the hint the planner SMJ-shuffles the
        # whole batch for the anti-join (AQE rescues it only after the
        # batch's shuffle map side is written). It holds at most the probe
        # frame's n rows of ids only, so it is gated on that size, not on
        # the LUT-wide probe frame's bytes.
        contaminated = flagged_pairs.select(F.col("__bid").alias(id_col)).distinct()
        ids_bytes = q_metrics["n"] * contaminated._jdf.schema().defaultSize()
        contaminated = broadcast_if_fits(contaminated, {"bytes": ids_bytes})
        clean = probed_batch.join(contaminated, id_col, "left_anti")
        return clean.unionByName(bypass)

    # verified posture: exact cosine over the ADC candidate pairs only —
    # the verify scan reads candidate ids, never the whole archive. The
    # pairs are already unique (a corpus id lives in exactly ONE cluster,
    # which a batch row probes at most once), so no dedup shuffle here.
    cands, cand_metrics = measured_stage(
        flagged_pairs.select("__bid", F.col(corpus_id).alias("__cid"))
    )
    vb_src = probed_batch
    if broadcast_fits(spark, cand_metrics):
        # r17 (§1.2): the verify join keeps only rows with ADC candidates —
        # pre-filter the batch with a broadcast semi-join on the (already
        # materialized, counted) candidate ids so the per-row norm fold and
        # the vector projection run for candidates only. Map-side, no new
        # shuffle; output-identical (the inner join on __bid drops exactly
        # those rows anyway).
        vb_src = probed_batch.join(
            F.broadcast(
                cands.select(F.col("__bid").alias(id_col)).distinct()
            ),
            id_col,
            "left_semi",
        )
    vb = vb_src.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__va"),
        norm_expr(vec_col, dim).alias("__na"),
    )
    if isinstance(verify_vectors, str):  # "index": the refine store
        import os

        store_vec = params["vec_col"]
        base = spark.read.parquet(os.path.join(index_dir, "vectors")).where(
            F.col("__cluster").isin(probed)
        )
        if 0 < cand_metrics["n"] <= pushdown_max_ids:
            # bounded collect off the already-materialized candidate cache;
            # the pushed In prunes id-sorted row groups inside the probed
            # partitions — verify I/O is candidate-bounded
            cids = sorted(
                r["__cid"] for r in cands.select("__cid").distinct().collect()
            )
            base = base.where(F.col(corpus_id).isin(cids))
        else:
            cand_ids = broadcast_if_fits(
                cands.select("__cid").distinct(), cand_metrics
            )
            base = base.join(
                cand_ids.withColumnRenamed("__cid", corpus_id),
                corpus_id, "left_semi",
            )
        vc = base.select(
            F.col(corpus_id).alias("__cid"),
            F.col(store_vec).alias("__vb"),
            norm_expr(store_vec, dim).alias("__nb"),
        )
    else:
        cand_ids = broadcast_if_fits(cands.select("__cid").distinct(), cand_metrics)
        vc = verify_vectors.select(
            F.col(corpus_id).alias("__cid"),
            F.col(vec_col).alias("__vb"),
            norm_expr(vec_col, dim).alias("__nb"),
        ).join(cand_ids, "__cid", "left_semi")
    cos = _cosine_prenormed(dot_expr("__va", "__vb", dim), F.col("__na"), F.col("__nb"))
    # the candidate pairs are the measured-bounded side of the verify
    # joins — broadcast them under the same gate so neither vb nor vc is
    # ever shuffle-planned for the verify (ids-only frame)
    contaminated = (
        broadcast_if_fits(cands, cand_metrics)
        .join(vb, "__bid")
        .join(vc, "__cid")
        .where(F.round(cos, 6) >= F.lit(float(min_cosine)))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    # r17 (§3.1): same anti-join hint as the MinHash probe — the
    # contaminated set is candidate-bounded (measured), so planning the
    # batch into an SMJ shuffle for the final anti-join is pure waste.
    clean = probed_batch.join(
        broadcast_if_fits(contaminated, cand_metrics), id_col, "left_anti"
    )
    return clean.unionByName(bypass)


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out: str | None = None
) -> DataFrame:
    """Unit-normalize an embedding column (map-only expression).

    Zero vectors pass through unchanged (no NaN poisoning downstream
    cosine math). Normalizing at ingest turns every later cosine into a
    plain dot product — worth one pass over 100 TB exactly once.

    The norm is bound ONCE per row via the array-wrap lambda-variable
    pattern (transform over a 1-element array) — closing over the fold
    directly inside the division lambda would re-evaluate the O(dim) norm
    per element, turning normalization O(dim^2) per row.
    """
    out = out or vec_col
    v = F.col(vec_col)
    return df.withColumn(
        out,
        F.element_at(
            F.transform(
                F.array(norm_expr(v)),
                lambda n: F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v),
            ),
            1,
        ),
    )


def pool_embeddings(
    df: DataFrame,
    group_cols: list[str],
    dim: int,
    vec_col: str = "embedding",
    mode: str = "mean",
    out: str = "pooled",
) -> DataFrame:
    """Pool per-row embeddings to one vector per group (mean or sum).

    The chunk->document direction of the pipeline: documents are embedded
    in model-context-sized chunks, then pooled back to a document vector
    for dedup/clustering/search. Expressed as ``dim`` per-element aggregate
    expressions (``avg(v[i])``/``sum(v[i])``) reassembled into an array —
    ONE partial-aggregating shuffle carrying (group, dim doubles), fully
    inside codegen; no collect_list materialization of all member vectors
    on a reducer, so a group with millions of members costs the same
    shuffle bytes as a group of two. Elements are rounded to 6 decimals so
    engines replaying the division agree.
    """
    if mode not in ("mean", "sum"):
        raise ValueError(f"mode must be 'mean' or 'sum', got {mode!r}")
    agg_fn = F.avg if mode == "mean" else F.sum
    v = F.col(vec_col)
    aggs = [
        F.round(agg_fn(F.element_at(v, i + 1).cast("double")), 6).alias(f"__p{i}")
        for i in range(dim)
    ]
    grouped = df.groupBy(*group_cols).agg(*aggs, F.count(F.lit(1)).alias("n_members"))
    return grouped.select(
        *group_cols,
        F.array(*[F.col(f"__p{i}") for i in range(dim)]).alias(out),
        "n_members",
    )


def lsh_dedup_against(
    batch: DataFrame,
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_bands: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Drop batch vectors that near-duplicate ANY corpus vector (bucketed).

    The embedding cell of the incremental-dedup matrix (exact keys ->
    ``dedup_exact_against``; text shingles -> ``minhash_dedup_against``;
    this -> embeddings): ingest batch N against the standing corpus without
    re-deduplicating the archive. Both sides are bucketed with the SAME
    seeded hyperplanes per band; candidates come from batch-bucket x
    corpus-bucket equi-joins (batch-internal and corpus-internal collisions
    are never generated), exact cosine verifies candidates, and survivors
    come from one left-anti join on the batch id. Shuffle shape: (id,
    bucket) ints per band, (batch_id, corpus_id) candidates, vectors only
    in the verify joins. Contrast with
    :func:`embedding_decontamination` — that broadcasts a benchmark-sized
    eval set; this side handles a corpus too big to broadcast.
    """
    cand = None
    for band in range(n_bands):
        kw = dict(dim=dim, n_planes=n_planes, vec_col=vec_col, out="__lsh_b",
                  seed=seed + band)
        sb = (
            random_hyperplane_signature(batch, **kw)
            .select(F.col(id_col).alias("__bid"), "__lsh_b")
            .transform(stage_cache)
        )
        sc = (
            random_hyperplane_signature(corpus, **kw)
            .select(F.col(id_col).alias("__cid"), "__lsh_b")
            .transform(stage_cache)
        )
        pairs = sb.join(sc, "__lsh_b").select("__bid", "__cid")
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.distinct()  # ids only through the dedup exchange

    vb = batch.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__va"),
        norm_expr(vec_col, dim).alias("__na"),
    )
    vc = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__vb"),
        norm_expr(vec_col, dim).alias("__nb"),
    )
    cos = _cosine_prenormed(dot_expr("__va", "__vb", dim), F.col("__na"), F.col("__nb"))
    contaminated = (
        cand.join(vb, "__bid")
        .join(vc, "__cid")
        .where(F.round(cos, 6) >= F.lit(threshold))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return batch.join(contaminated, id_col, "left_anti")
