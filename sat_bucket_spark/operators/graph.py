"""Distributed connected components — duplicate-cluster resolution.

Near-duplicate detection (MinHash-LSH, SimHash, embedding LSH) emits PAIRS;
deduplication policy needs CLUSTERS ("keep one document per duplicate
group"), i.e. connected components of the pair graph. At 100 TB the pair
graph does not fit one machine, and CC is inherently iterative — the one
operator family in this engine that cannot be a single declarative plan.

The implementation is the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
each half-round is one groupBy-on-node + explode (one shuffle keyed on node
id, map-side combinable), and the edge set provably converges to a star
forest rooted at component minima in O(log^2 n) rounds (2-5 in practice for
dedup graphs, which are mostly tiny cliques). Compare plain min-label
propagation, whose round count is the graph DIAMETER: a duplicate chain of
length 1M takes 1M propagation rounds but ~20 star rounds.

Every round materializes eagerly via the stage-cache policy (caching.py;
default ``localCheckpoint``) — mandatory for iterative DataFrame
algorithms: without it the lineage (and the Catalyst plan) doubles per
round and planning goes exponential. On clusters with preemption, switch
to ``reliable_checkpoint`` (caching.set_stage_cache_mode) so a lost
executor recomputes instead of killing the loop. Convergence is detected with one
cheap aggregate per round (edge count + order-independent hash sum), not a
full self-join diff.

Output: ``(node, component)`` with component = the minimum node id in the
component — deterministic, engine-independent, and exactly what a
keep-lowest-id dedup policy consumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_bucket_spark.caching import (
    broadcast_if_fits,
    measured_stage,
    release_stage_cache,
    round_cache,
)


def _xor_hash(cols=("u", "v")):
    """The loop fingerprint's hash half: an order-independent xor-fold
    (overflow-free under ANSI mode). With the row count it is the
    convergence state, read as an observed metric off each round's
    materialization (caching.measured_stage, whose retry caveat applies)
    or, on the slow path, by :func:`_exact_fingerprint`."""
    return F.bit_xor(F.xxhash64(*cols)).alias("h")


def _exact_fingerprint(df: DataFrame, cols=("u", "v")) -> tuple:
    """Fingerprint via a dedicated aggregate action — exactly-once by
    construction (aggregates recompute on task retry, unlike observation
    accumulators). The slow path: used only to double-check a suspected
    non-convergence before raising (see connected_components)."""
    row = df.agg(F.count(F.lit(1)).alias("n"), _xor_hash(cols)).collect()[0]
    return (row["n"], row["h"])


def _persist(df: DataFrame) -> DataFrame:
    """Eager ``persist`` for LOOP-INVARIANT frames (pagerank's edge set
    and node/degree base under ``invariant_cache="partitioned"``) instead
    of the round cache, because:

    - partitioning SURVIVES: ``InMemoryTableScan`` reports the cached
      plan's outputPartitioning/ordering, while ``localCheckpoint``'s
      ``LogicalRDD`` drops both in this Spark build (measured: the cached
      edge set re-exchanged on ``u`` in EVERY round's contribution join —
      an edge-sized shuffle per round that pre-partitioning + persist
      eliminates);
    - the exponential-plan hazard that forces lineage truncation on ROUND
      frames does not apply — these frames' lineage is static;
    - lineage kept means executor loss recomputes: safe in every
      stage-cache mode, and the release is the cache-manager unpersist.
    """
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out

__all__ = [
    "connected_components",
    "near_duplicate_clusters",
    "pagerank",
    "update_connected_components",
    "update_pagerank",
]


def _bidir(e: DataFrame) -> DataFrame:
    return e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _adjacency(e: DataFrame) -> DataFrame:
    return _bidir(e).groupBy("u").agg(F.collect_set("v").alias("nbrs"))


def _canonical(out: DataFrame) -> DataFrame:
    return (
        out.where(F.col("w") != F.col("m"))
        .select(F.col("w").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + u)."""
    adj = _adjacency(e)
    m = F.least(F.array_min("nbrs"), F.col("u"))
    out = adj.select(
        m.alias("m"),
        F.explode(F.filter("nbrs", lambda w: w > F.col("u"))).alias("w"),
    )
    return _canonical(out)


def _small_star(e: DataFrame) -> DataFrame:
    """Connect u and every <=-neighbor of u to min(N(u) + u)."""
    adj = _adjacency(e)
    m = F.least(F.array_min("nbrs"), F.col("u"))
    out = adj.select(
        m.alias("m"),
        F.explode(
            F.array_union(
                F.filter("nbrs", lambda w: w <= F.col("u")), F.array(F.col("u"))
            )
        ).alias("w"),
    )
    return _canonical(out)


def _union_find_local(pairs: list) -> list:
    """Driver-side union-find with path halving; returns (node, min-root)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Connected components of an undirected edge list.

    Returns ``(node, component)`` for every node appearing in ``edges``
    (isolated nodes don't appear — union them in from the vertex table if
    needed); ``component`` is the component's minimum node id. Node ids may
    be any orderable type (long doc ids, string fingerprints).

    Edge sets at or below ``driver_threshold`` (after dedup) are solved
    with driver-side union-find — the same small-side reasoning as a
    broadcast join: a graph of a few hundred thousand edges is MBs, and one
    collect beats 2-5 distributed rounds of shuffles by an order of
    magnitude. Above the threshold the alternating star rounds run fully
    distributed; both paths produce the identical (node, min-id) output.
    Set ``driver_threshold=0`` to force the distributed path.

    The distributed loop stops when a full large+small round leaves the
    edge set unchanged (count + commutative hash fingerprint, read as
    observed metrics off the round's own materialization job — no extra
    action); at that point the graph is a star forest, which both passes
    map to itself.
    """
    # The fingerprint (count + xor-fold hash) rides the materialization job
    # as observed metrics and serves BOTH the driver-threshold gate (its
    # count) and the distributed loop's round-0 convergence state — no
    # aggregate action at all just to decide the route.
    e, metrics = measured_stage(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct(),
        _xor_hash(),
        cache=round_cache,
    )
    prev = (metrics["n"], metrics["h"])
    if driver_threshold and metrics["n"] <= driver_threshold:
        from pyspark.sql.types import StructField, StructType

        pairs = [(r["u"], r["v"]) for r in e.collect()]
        assignment = _union_find_local(pairs)
        node_type = e.schema["u"].dataType
        # the eager-cached edge frame is not an input of the returned
        # local result — free its blocks now instead of waiting on GC
        release_stage_cache(e, destructive=True)
        schema = StructType(
            [
                StructField("node", node_type, False),
                StructField("component", node_type, False),
            ]
        )
        # Broadcast-HINT the local result: a createDataFrame frame plans as
        # LogicalRDD with UNKNOWN stats (8 EiB default), so without the hint
        # every downstream join against it — the exact consumption pattern
        # (cluster map joined onto the corpus: near_duplicate_clusters,
        # leakage_safe_splits) — planned as a SortMergeJoin that SHUFFLES
        # THE CORPUS. The hint is size-safe by the same bound that chose
        # this route: the result is <= 2 * driver_threshold rows. The
        # distributed route below stays unhinted (its output is unbounded;
        # AQE decides from runtime shuffle stats).
        return F.broadcast(
            edges.sparkSession.createDataFrame(assignment, schema=schema)
        )

    for _ in range(max_iterations):
        prev_frame = e
        e, metrics = measured_stage(
            _small_star(_large_star(e)), _xor_hash(), cache=round_cache
        )
        cur = (metrics["n"], metrics["h"])
        # The new round is eagerly materialized with truncated lineage, so
        # the old round's blocks (or reliable-checkpoint files) are no
        # longer an input — free them now instead of waiting for driver GC
        # to reclaim the RDD reference (caching.release_stage_cache).
        release_stage_cache(prev_frame, destructive=True)
        if cur == prev:
            break
        prev = cur
    else:
        # Observation accumulators can over-count under task retries (see
        # caching.measured_stage), which would read as perpetual
        # non-convergence on a converged graph. Before raising, verify
        # with exactly-once aggregates: one more large+small round, both
        # sides fingerprinted by dedicated agg actions. If they match the
        # graph IS a star forest (the observed fingerprints were the
        # corruption) and the loop proceeds with the final frame.
        if _exact_fingerprint(_small_star(_large_star(e))) != _exact_fingerprint(e):
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return members.unionByName(roots).distinct()


def update_connected_components(
    standing: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    component_col: str = "component",
    max_iterations: int = 50,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Merge a NEW batch of edges into a standing ``(node, component)``
    map — without recomputing components over the corpus.

    The incremental leg of the dup-cluster pipeline (reference analogue:
    incremental update against standing state,
    /root/reference/satbucket/routines.py:580-587): at 100 TB the cluster
    map is corpus-sized standing state, and re-running
    :func:`connected_components` over ALL accumulated pairs per nightly
    batch re-shuffles the corpus's edge history every night. Instead,
    CONTRACT each standing component to its representative (the map
    already stores it), route the batch's edge endpoints through the map
    (unseen nodes represent themselves), solve components over the
    CONTRACTED edge set — batch-sized, so it usually takes the driver
    union-find route — and apply the resulting representative merges back
    with ONE broadcast-hash join over the standing map.

    Plan shape (the at-scale contract, pinned by a plan gate that walks
    the physical tree): the corpus-sized map appears on the STREAM side
    of exactly two broadcast-hash joins — the endpoint-slice join and the
    merge-application join — and on the build side of none. No Exchange
    node anywhere in the plan has the standing map in its subtree. The
    contraction does NOT join the batch's edges against the full map
    (that would put the map on the non-broadcastable build side of a
    left-outer join and sort-merge-exchange it, twice): instead the
    batch's distinct endpoints — batch-bounded — are broadcast into an
    inner join that slices the map map-side down to a batch-sized
    ``lookup`` frame, and THAT is broadcast into the two contraction
    left-joins and the unseen-node anti-join.

    Exactness: a standing representative is the MIN id of its old
    component, so the contracted solve's min over (representatives ∪ new
    node ids) is the true min over all merged members — the output is
    row-identical to a full recompute over (standing-map-as-edges ∪ new
    edges), pinned by test and by the DuckDB oracle. Batch edges between
    two members of the same standing component contract to self-loops and
    drop; components they don't touch keep their rows bit-for-bit.

    Returns the UPDATED full map: every standing node (component possibly
    remapped) plus every previously-unseen endpoint of ``new_edges``
    (unseen nodes with only self-loop edges are excluded, matching
    :func:`connected_components`' isolated-node convention).
    The endpoint, lookup-slice and merge frames (each bounded by 2x the
    batch's distinct endpoints, never corpus-sized) are measured stage
    caches, broadcast while they fit (caching.broadcast_if_fits), with a
    shuffled-join fallback above. Jobs fire at call time; long-lived
    callers wrap the call and the result's write in
    ``caching.stage_scope()`` to free the caches.
    """
    m = standing.select(
        F.col(node_col).alias("__n"), F.col(component_col).alias("__c")
    )
    e = new_edges.select(F.col(src).alias("__eu"), F.col(dst).alias("__ev"))
    # The batch's distinct endpoints — batch-bounded, the frame every
    # standing-map access is keyed by.
    endpoints, end_metrics = measured_stage(
        e.select(F.col("__eu").alias("__n"))
        .unionByName(e.select(F.col("__ev").alias("__n")))
        .distinct()
    )
    # Slice the standing map down to the rows the batch can touch: an
    # inner join with the BROADCAST endpoints keeps the corpus-sized map
    # on the stream side — one map-side scan, no Exchange on it, output
    # at most one row per endpoint. (Above the gate the slice join shuffles both
    # sides — documented fallback, same as the merge-application join.)
    lookup, lookup_metrics = measured_stage(
        m.join(broadcast_if_fits(endpoints, end_metrics), "__n")
    )
    lk_b = broadcast_if_fits(lookup, lookup_metrics)
    # contract endpoints through the batch-sized slice; unseen nodes are
    # their own representatives. Every join here is batch-vs-batch —
    # the full map is never on a join's build side.
    cu = (
        e.join(lk_b.withColumnRenamed("__n", "__eu"), "__eu", "left")
        .select(
            F.coalesce("__c", "__eu").alias("cu"), F.col("__ev")
        )
    )
    contracted_edges = (
        cu.join(lk_b.withColumnRenamed("__n", "__ev"), "__ev", "left")
        .select(F.col("cu"), F.coalesce("__c", "__ev").alias("cv"))
    )
    merge = connected_components(
        contracted_edges, src="cu", dst="cv",
        max_iterations=max_iterations, driver_threshold=driver_threshold,
    ).select(F.col("node").alias("__rep"), F.col("component").alias("__final"))
    # batch-bounded: contracted CC output rows <= 2x distinct endpoints
    merge, merge_metrics = measured_stage(merge)
    merge_b = broadcast_if_fits(merge, merge_metrics)

    updated_standing = (
        standing.select(
            F.col(node_col).alias("__un"), F.col(component_col).alias("__uc")
        )
        .join(merge_b, F.col("__uc") == F.col("__rep"), "left")
        .select(
            F.col("__un").alias(node_col),
            F.coalesce(F.col("__final"), F.col("__uc")).alias(component_col),
        )
    )
    # previously-unseen endpoints: they appear in the contracted solve
    # under their own ids — their component is the solve's answer. The
    # slice already holds every standing row keyed by a batch endpoint,
    # so the anti-join runs against the batch-sized lookup, not the map.
    new_nodes = (
        endpoints.join(lk_b.select("__n"), "__n", "left_anti")
        .select(F.col("__n").alias("__un"))
    )
    new_map = new_nodes.join(
        merge_b, F.col("__un") == F.col("__rep"), "inner"
    ).select(
        F.col("__un").alias(node_col),
        F.col("__final").alias(component_col),
    )
    return updated_standing.unionByName(new_map)


def near_duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Duplicate clusters from near-dup candidate pairs.

    ``(doc_id, cluster_id, is_kept)`` for every document in some cluster:
    cluster_id = min doc id of the cluster; is_kept marks the canonical
    (minimum-id) member — the row a drop-duplicates policy retains. Compose
    with an anti-join against ``is_kept = false`` ids to materialize the
    deduplicated corpus.
    """
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


def _pagerank_local(pairs, damping: float, iterations: int, init=None):
    """Driver-side power iteration — the identical per-round formula as
    the distributed loop (teleport + damped contributions + uniform
    dangling redistribution), on a numpy index-mapped edge list. Pairs
    are lexsorted first so the float accumulation order is deterministic
    run to run. ``init`` (node -> rank dict) replays the warm-start
    seeding: unknown nodes take the MEAN seed rank, then one exact-sum
    renormalization
    (math.fsum — the driver-route mirror of the distributed route's
    decimal-exact mass aggregate)."""
    import math as _math

    import numpy as np

    if not pairs:
        return []
    nodes = sorted({x for p in pairs for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    u = np.fromiter((idx[a] for a, _ in pairs), dtype=np.int64, count=len(pairs))
    v = np.fromiter((idx[b] for _, b in pairs), dtype=np.int64, count=len(pairs))
    order = np.lexsort((u, v))
    u, v = u[order], v[order]
    deg = np.bincount(u, minlength=n).astype(np.float64)
    dangling = deg == 0.0
    safe_deg = np.where(dangling, 1.0, deg)
    if init is None:
        ranks = np.full(n, 1.0 / n)
    else:
        known = [init[node] for node in nodes if node in init]
        m = _math.fsum(known)
        if known and m > 0.0:
            # unknown nodes seed at the MEAN standing rank, so the seed
            # is purely directional: scaling the whole standing map
            # cannot change the start vector (pinned by test). Exact sum
            # (fsum) mirrors the distributed route's decimal aggregate.
            mean = m / len(known)
            total = m + (n - len(known)) * mean
            ranks = np.array([init.get(node, mean) for node in nodes]) / total
        else:
            # degenerate empty/zero seed: uniform fallback, mirroring the
            # distributed route's guard
            ranks = np.full(n, 1.0 / n)
    teleport = 1.0 - damping
    for _ in range(iterations):
        shares = ranks / safe_deg
        contrib = np.zeros(n)
        np.add.at(contrib, v, shares[u])
        dang = float(ranks[dangling].sum())
        ranks = teleport / n + damping * (contrib + dang / n)
    return list(zip(nodes, ranks.tolist()))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    directed: bool = False,
    driver_threshold: int = 200_000,
    invariant_cache: str = "round",
    init_ranks: DataFrame | None = None,
    init_node_col: str = "node",
    init_rank_col: str = "rank",
    fuse_rounds: int = 8,
) -> DataFrame:
    """PageRank over an edge list (reference has no graph analytics; this
    extends the dedup-graph toolkit: rank duplicate-cluster members, score
    crawl-link authority for quality weighting).

    ``init_ranks`` is the WARM-START hook (see :func:`update_pagerank`
    for the standing-state framing): a ``(node, rank)`` frame seeding
    round 0 instead of the uniform 1/N vector. Nodes absent from the
    seed take the MEAN seed rank; seed rows for nodes not in the graph
    drop; the seeded vector is renormalized ONCE to unit mass
    (decimal-exact sum on the distributed route, math.fsum on the driver
    route — pinned equal to 1e-12). Mean-seeding makes the start vector
    purely DIRECTIONAL: an unnormalized or stale-total standing map
    yields the identical refresh (scale invariance pinned by test), and
    the unit-mass invariant can never be corrupted by the caller. The
    damped chain's fixpoint is init-independent; seeding changes how
    FAST the fixed rounds get there, never where they converge.

    Fixed ``iterations`` power-iteration rounds — deterministic output, no
    convergence race, and an exactly-mirrorable oracle (the driver's DuckDB
    check unrolls the same rounds as chained CTEs). Per round:

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) + dangling/N)

    where ``dangling`` is the total rank mass on nodes with no out-edges,
    redistributed uniformly (the standard stochastic-matrix completion, so
    total mass stays 1 every round). ``directed=False`` (default, matching
    ``connected_components``' undirected convention) symmetrizes first, so
    no node is dangling. Parallel edges collapse (DISTINCT, like
    ``connected_components``); self-loops are dropped; isolated nodes don't
    appear — union them in from the vertex table if needed.

    Scale shape: each round is ONE shuffle (groupBy dst of the
    contribution join) and ONE node-keyed join (the round frame carries
    ``deg`` alongside ``rank``, so degrees never re-join separately). N
    is read once, before the loop, off the node frame's materialization
    job (observed metric) and folded into the round expressions as a
    literal; the dangling mass — the only per-round scalar — stays a
    1-row broadcast frame, and is SKIPPED entirely for undirected graphs
    (symmetrization leaves no dangling node; dang = 0.0 is bit-identical
    to the term's absence). Never a driver collect inside the loop.
    Rounds materialize eagerly via the stage-cache policy (caching.py)
    so the Catalyst plan stays bounded, and each round releases the
    previous round's blocks.

    Edge sets at or below ``driver_threshold`` (after dedup) run the
    identical power iteration driver-side on numpy — the same small-side
    reasoning as ``connected_components``' union-find route: a
    few-hundred-thousand-edge graph is MBs, and the distributed loop's
    per-round eager materialization is pure fixed overhead there (a
    13-host crawl-authority graph paid ~1.3 s/round for microseconds of
    math). Both routes apply the same formula; a test pins their ranks
    equal to 1e-12. Set ``driver_threshold=0`` to force the distributed
    loop. The route gate is free: the edge count rides the edge frame's
    materialization job as an observed metric (shared with
    ``connected_components``' fingerprint probe).

    ``invariant_cache`` picks the storage shape for the LOOP-INVARIANT
    frames (the edge set and the node/degree base) — output-identical,
    different physics, both measured (2026-08-15, sf0.1 298k edges,
    local[32], interleaved warm medians):

    - ``"round"`` (default): the loop's lineage-truncating eager cache.
      ``localCheckpoint``'s ``LogicalRDD`` DROPS outputPartitioning in
      this Spark build, so every round's contribution join re-exchanges
      the edge set (7 AQE jobs/round) — but the raw-block scan is cheap,
      and at local/disk shuffle speeds this wins: 5.3-6.1 s vs 8.8-9.5 s.
    - ``"partitioned"``: persist the invariants pre-partitioned and
      pre-sorted on the round-join keys. InMemoryTableScan preserves
      partitioning/ordering, so the per-round EDGE-SIZED exchange and
      sort disappear (4 jobs/round; the only edge-sized shuffle left is
      the contribution groupBy) at the cost of a columnar-cache scan per
      round — slower locally, but the posture for network-bound clusters
      where shuffling the 100 TB edge set 10 times is the dominant term.
      Lineage stays intact (persist), so this shape is also safe under
      executor loss in every stage-cache mode.

    ``fuse_rounds`` (r16): how many power rounds share ONE materialized
    plan between round-boundary caches. Applies to graphs with no
    dangling branch only (undirected, where each round references the
    previous round frame exactly ONCE, so the fused plan grows linearly
    in the block size; the directed loop's dangling-mass aggregate
    references the round frame a second time — exponential growth — and
    stays at one cache per round). Why fusing wins at both ends of the
    scale: the invariant edge set is a ``localCheckpoint`` scan whose
    partitioning metadata is dropped, so EVERY round's contribution join
    re-exchanges it; inside one fused plan those per-round edge
    exchanges are textually identical subtrees and Spark's exchange
    reuse ships the edge shuffle ONCE per block (the plan shows
    ``ReusedExchange`` — at 100 TB that is the corpus-sized shuffle paid
    ``ceil(iterations/fuse_rounds)`` times instead of ``iterations``
    times), and locally each AQE shuffle stage is a scheduled job, so a
    10-round loop drops from ~60 jobs to ~25 (measured r16: q_pagerank
    construction 10.9 s → see OPTIMIZATION_r16.md). ``1`` restores the
    r15 cache-every-round behavior.

    Note this function is EAGER at call time: the route gate materializes
    the edge frame when called (jobs fire at construction, not first
    action), and below the threshold the result is a collected local
    relation — it does not re-derive if the upstream frame's source data
    changes, unlike a lazy plan. Callers composing lazy pipelines should
    expect Spark jobs during construction.

    Returns ``(node, rank)``; ranks sum to 1 (within float tolerance).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")

    if invariant_cache not in ("round", "partitioned"):
        raise ValueError(
            f"invariant_cache must be 'round' or 'partitioned', got {invariant_cache!r}"
        )
    partitioned = invariant_cache == "partitioned"

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = _bidir(e)
    # Routing count rides the materialization job (same probe as
    # connected_components) — no separate e.count() action for the gate.
    e = e.where(F.col("u") != F.col("v")).distinct()
    if partitioned:
        e = e.repartition("u").sortWithinPartitions("u")
    e, e_metrics = measured_stage(e, cache=_persist if partitioned else round_cache)
    n_edges = e_metrics["n"]

    def _node_frame(edge_frame):
        return (
            edge_frame.select(F.col("u").alias("node"))
            .unionByName(edge_frame.select(F.col("v").alias("node")))
            .distinct()
        )

    init = None
    if init_ranks is not None:
        # Seed hygiene, applied ONCE so both routes see the identical
        # cleaned seed: NULL/NaN ranks are ignored (those nodes seed as
        # unseen — a NaN would otherwise poison every rank through the
        # contribution sums), and duplicate node rows collapse to a
        # deterministic max (a duplicated standing map must not
        # double-count a node's mass or duplicate its round-frame row).
        # The groupBy's exchange is not an extra pass at scale: its
        # node-keyed output feeds the node-keyed seed join directly.
        r0 = F.col(init_rank_col).cast("double")
        init = (
            init_ranks.where(r0.isNotNull() & ~F.isnan(r0))
            .groupBy(F.col(init_node_col).alias("node"))
            .agg(F.max(r0).alias("__r0"))
        )

    if driver_threshold and n_edges <= driver_threshold:
        from pyspark.sql.types import DoubleType, StructField, StructType

        pairs = [(r["u"], r["v"]) for r in e.collect()]
        init_map = None
        if init is not None:
            # collect only the seed rows this graph can use: semi-join on
            # the graph's node set (one job) — never the full standing map,
            # whose size is not bounded by the threshold that chose this
            # route
            init_map = {
                r["node"]: r["__r0"]
                for r in init.join(
                    _node_frame(e), "node", "left_semi"
                ).collect()
            }
        node_type = e.schema["u"].dataType
        # the eager-cached edge frame is not an input of the returned
        # local result — free its blocks now instead of waiting on GC
        release_stage_cache(e, destructive=True)
        schema = StructType(
            [
                StructField("node", node_type, False),
                StructField("rank", DoubleType(), False),
            ]
        )
        # broadcast-hinted for the same reason as connected_components'
        # driver route: the local relation's unknown stats (LogicalRDD)
        # would otherwise force a corpus-sized shuffle on every downstream
        # join (e.g. host-authority rank joined back onto documents by
        # host); rows are bounded by the driver_threshold that chose this
        # route.
        return F.broadcast(
            edges.sparkSession.createDataFrame(
                _pagerank_local(pairs, damping, iterations, init=init_map),
                schema=schema,
            )
        )

    nodes = _node_frame(e)
    outdeg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    # Degrees travel WITH the rank in the round frame (node, deg, rank):
    # one node-keyed join per round (base ⋈ contrib) instead of the r9
    # shape's two (deg ⋈ ranks, then nodes ⋈ contrib). N rides the base
    # materialization as an observed metric — one long collected ONCE
    # before the loop, folded into the round expressions as a literal, so
    # the per-round plan carries no 1-row crossJoins for it.
    base = nodes.join(outdeg, "node", "left")
    if partitioned:
        base = base.repartition("node").sortWithinPartitions("node")
    base, base_metrics = measured_stage(
        base, cache=_persist if partitioned else round_cache
    )
    n_nodes = base_metrics["n"]
    # N is FOLDED into the rank formula (teleport term, 1/N init, dangling
    # mass split), so an observation over-count under stage retries would
    # make every rank silently wrong (mass no longer sums to 1) — unlike
    # the routing/convergence uses, where corruption is fail-safe. Verify
    # with an exact aggregate action against the just-cached base: the
    # count scans cached blocks (no recompute), costs one cheap job ONCE
    # before the loop, and aggregates recompute exactly on task retry.
    # Mirrors connected_components' _exact_fingerprint re-verification.
    n_exact = base.count()
    if n_exact != n_nodes:
        n_nodes = n_exact
    if n_nodes == 0:
        # empty edge set (reachable with driver_threshold=0): free the
        # eager-cached invariants before returning — they are not inputs
        # of the empty local result, so waiting on driver GC just leaks
        # their checkpoint blocks/files (same reasoning as the loop-exit
        # releases below).
        from pyspark.sql.types import DoubleType, StructField, StructType

        node_type = base.schema["node"].dataType
        empty = edges.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("node", node_type, False),
                    StructField("rank", DoubleType(), False),
                ]
            ),
        )
        release_stage_cache(e, destructive=True)
        release_stage_cache(base, destructive=True)
        return empty
    teleport_term = (1.0 - damping) / n_nodes

    # Undirected graphs cannot have dangling nodes — symmetrization gives
    # every node an out-edge — so the per-round dangling aggregate (one
    # broadcast job per round) and its crossJoin are dropped; with
    # dang = 0.0 the formula is bit-identical (x + 0.0/n == x for the
    # non-negative contrib sums), pinned by the route-equality test.
    has_dangling = directed

    # Round-fusion block size (see the fuse_rounds docstring note): the
    # dangling branch reads the round frame twice per round, so directed
    # graphs must cache every round or the fused plan doubles per round.
    if fuse_rounds < 1:
        raise ValueError(f"fuse_rounds must be >= 1, got {fuse_rounds}")
    fuse = 1 if has_dangling else fuse_rounds

    ranks = None  # round frame (node, deg, rank); round 0 folds 1/N
    cached_ranks = None  # last round-boundary cache (release bookkeeping)
    if init is not None:
        # Warm-start round 0: one node-keyed join seeds known nodes from
        # the standing map; previously-unseen nodes take the MEAN
        # standing rank, so the seed is purely DIRECTIONAL — scaling the
        # whole map (a stale total) cannot change the start vector — and
        # the renormalization to unit mass is exact. The mass aggregate
        # is decimal-exact (house determinism rule for float sums:
        # partition order cannot move it), collected once and folded as
        # literals — the only extra cost of warm starting, paid once,
        # not per round. The standing map shuffles AT MOST once here
        # (node-keyed join against base); at scale that single exchange
        # buys the removal of entire corpus-wide rounds (see
        # update_pagerank's receipt).
        seeded = round_cache(base.join(init, "node", "left"))
        srow = seeded.agg(
            F.sum(F.col("__r0").cast("decimal(38,18)")).alias("m"),
            F.count("__r0").alias("k"),
        ).collect()[0]
        k_known = int(srow["k"])
        m_known = float(srow["m"]) if srow["m"] is not None else 0.0
        if k_known > 0 and m_known > 0.0:
            mean = m_known / k_known
            total = m_known + (n_nodes - k_known) * mean
            # Round-0 ranks stay a LAZY projection over the seeded cache
            # (r17): re-checkpointing a trivial Project over the frame
            # that was eagerly checkpointed two statements ago is one
            # full N-row materialization pass per warm start for nothing
            # — at scale, a corpus-sized write (receipt: the r16 executed
            # captures show it as a separate non-AQE round-0 job). The
            # seeded cache itself is the release carrier; the first block
            # boundary frees it exactly like any previous-round frame.
            ranks = seeded.select(
                "node",
                "deg",
                (
                    F.coalesce(F.col("__r0"), F.lit(mean)) / F.lit(total)
                ).alias("rank"),
            )
            cached_ranks = seeded
        else:
            # a degenerate empty/zero seed falls back to the uniform start
            # (ranks stays None) rather than dividing by zero mass
            release_stage_cache(seeded, destructive=True)
    for _i in range(iterations):
        cur = (
            base.select("node", "deg", F.lit(1.0 / n_nodes).alias("rank"))
            if ranks is None
            else ranks
        )
        contrib = (
            e.join(
                cur.where(F.col("deg").isNotNull()).select(
                    F.col("node").alias("u"), (F.col("rank") / F.col("deg")).alias("share")
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("share").alias("contrib"))
        )
        new = base.join(contrib, "node", "left")
        rank_expr = F.coalesce(F.col("contrib"), F.lit(0.0))
        if has_dangling:
            dangling = F.broadcast(
                cur.where(F.col("deg").isNull()).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
                )
            )
            new = new.crossJoin(dangling)
            rank_expr = rank_expr + F.col("dang") / F.lit(float(n_nodes))
        new_ranks = new.select(
            "node",
            "deg",
            (F.lit(teleport_term) + F.lit(damping) * rank_expr).alias("rank"),
        )
        # Round-boundary cache at block ends only (and always on the last
        # round, so the post-loop invariant releases stay safe: the
        # returned frame's lineage must be truncated past e/base). Inside
        # a block the round stays LAZY — the next round chains onto its
        # plan, and the per-round edge/base exchanges dedupe to
        # ReusedExchange when the block materializes.
        if (_i + 1) % fuse == 0 or _i == iterations - 1:
            new_ranks = round_cache(new_ranks)
            if cached_ranks is not None:
                release_stage_cache(cached_ranks, destructive=True)
            cached_ranks = new_ranks
        ranks = new_ranks
    # the returned frame's lineage is truncated at the final round cache,
    # so the edge and base frames are no longer inputs — free them now
    # (the edge frame is the BIG one at scale) instead of waiting on GC
    release_stage_cache(e, destructive=True)
    release_stage_cache(base, destructive=True)
    return ranks.select("node", "rank")


def update_pagerank(
    standing_ranks: DataFrame,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    rank_col: str = "rank",
    damping: float = 0.85,
    iterations: int = 4,
    directed: bool = False,
    driver_threshold: int = 200_000,
    invariant_cache: str = "round",
    fuse_rounds: int = 8,
) -> DataFrame:
    """Refresh a STANDING rank map after the graph changed — the
    PageRank leg of the incremental-maintenance family
    (:func:`update_connected_components` for cluster maps, the four
    persisted index legs for dedup state; reference analogue:
    incremental update against standing state,
    /root/reference/satbucket/routines.py:580-587).

    Honesty note on what "incremental" can mean here: rank mass flows
    GLOBALLY — one new edge perturbs every rank — so unlike the CC
    contraction there is no corpus-free shortcut; every round still
    touches the full updated edge set. What standing state buys is
    ROUNDS: power iteration's error contracts from wherever it starts,
    and last night's converged ranks are a far better start than the
    uniform vector, so a nightly refresh needs a small fixed number of
    rounds instead of a cold run's ten-plus. At 100 TB each round is a
    corpus-sized shuffle — rounds ARE the cost, and the warm start's
    one-time seed join (the standing map's single exchange) replaces
    several of them. Receipt pinned by test and the sf1 probe: at equal
    round budgets the warm refresh lands decisively closer to the
    converged fixpoint than a cold run; the fixpoint itself is
    init-independent, so warm results never drift from what a full
    recompute converges to.

    ``edges`` is the FULL updated edge list (standing ∪ new — callers
    union); ``standing_ranks`` is a prior :func:`pagerank` output over
    any earlier version of the graph. Previously-unseen nodes seed at
    the MEAN standing rank (a purely directional seed — scale-invariant,
    see :func:`pagerank`); nodes that left the graph drop; the seed
    renormalizes to unit
    mass exactly (decimal-exact / fsum, route-pinned), so stale totals
    cannot corrupt the mass invariant. Same routing, caching, and
    determinism contracts as :func:`pagerank` — this is a thin naming of
    its ``init_ranks`` hook with the standing-state framing.
    """
    return pagerank(
        edges,
        src=src,
        dst=dst,
        damping=damping,
        iterations=iterations,
        directed=directed,
        driver_threshold=driver_threshold,
        invariant_cache=invariant_cache,
        init_ranks=standing_ranks,
        init_node_col=node_col,
        init_rank_col=rank_col,
        fuse_rounds=fuse_rounds,
    )
