"""Connected components / duplicate clustering tests."""

from __future__ import annotations

import numpy as np
import pytest

from sat_bucket_spark.operators.graph import (
    connected_components,
    near_duplicate_clusters,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


class TestConnectedComponents:
    def test_chain_and_clique(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (20, 22)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_self_loops_and_duplicates_ignored(self, spark):
        df = spark.createDataFrame([(5, 5), (5, 6), (6, 5)], ["src", "dst"])
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == {5: 5, 6: 5}

    def test_string_ids(self, spark):
        df = spark.createDataFrame([("b", "a"), ("b", "c"), ("x", "y")], ["src", "dst"])
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=0).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_long_chain_converges_fast(self, spark):
        # a 200-node path is the adversarial case for label propagation;
        # star rounds handle it in O(log n)
        edges = [(i, i + 1) for i in range(200)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=0).collect()
        }
        assert set(got.values()) == {0}
        assert len(got) == 201

    @pytest.mark.parametrize("seed", [0, 1, 2])
    @pytest.mark.parametrize("threshold", [200_000, 0])  # driver and distributed paths
    def test_random_vs_union_find(self, spark, seed, threshold):
        rng = np.random.default_rng(seed)
        n, m = 300, 260
        edges = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        ]
        expected = _union_find(edges)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=threshold).collect()
        }
        assert got == expected

    def test_exhausted_loop_verifies_convergence_before_raising(self, spark):
        """The 1-2-3 path converges to a star in ONE round, but the loop
        needs a SECOND round just to observe fingerprint equality; with
        max_iterations=1 the pre-r10 code raised on an actually-converged
        graph. The exactly-once aggregate fallback (also the guard against
        observation accumulators double-applying under task retries) must
        verify and return the correct components instead."""
        df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
        out = {
            (r["node"], r["component"])
            for r in connected_components(
                df, driver_threshold=0, max_iterations=1
            ).collect()
        }
        assert out == {(1, 1), (2, 1), (3, 1)}

    def test_genuinely_unconverged_still_raises(self, spark):
        """The fallback must not mask REAL non-convergence: a 9-node chain
        is not a star forest after one round."""
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 9)], ["src", "dst"]
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, driver_threshold=0, max_iterations=1)


class TestNearDuplicateClusters:
    def test_clusters_and_keep_flag(self, spark):
        pairs = spark.createDataFrame(
            [(3, 7), (7, 9), (12, 15)], ["id_a", "id_b"]
        )
        rows = {r["doc_id"]: r for r in near_duplicate_clusters(pairs).collect()}
        assert rows[3]["cluster_id"] == 3 and rows[3]["is_kept"]
        assert rows[7]["cluster_id"] == 3 and not rows[7]["is_kept"]
        assert rows[9]["cluster_id"] == 3 and not rows[9]["is_kept"]
        assert rows[12]["cluster_id"] == 12 and rows[12]["is_kept"]
        assert rows[15]["cluster_id"] == 12 and not rows[15]["is_kept"]


class TestResolveDuplicates:
    def test_priority_and_singletons(self, spark):
        from sat_bucket_spark.operators.dedup import resolve_duplicates

        docs = spark.createDataFrame(
            [
                (1, "crawl"), (2, "wiki"), (3, "crawl"),   # cluster A
                (4, "crawl"), (5, "crawl"),                # cluster B (tie -> min id)
                (9, "crawl"),                              # singleton
            ],
            ["doc_id", "source"],
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], ["doc_id", "cluster_id"]
        )
        out = resolve_duplicates(docs, clusters, priority=["wiki", "crawl"])
        got = sorted(r["doc_id"] for r in out.collect())
        # cluster A -> wiki doc 2; cluster B -> min-id 4; singleton 9 survives
        assert got == [2, 4, 9]

    def test_unlisted_sources_rank_last(self, spark):
        from sat_bucket_spark.operators.dedup import resolve_duplicates

        docs = spark.createDataFrame(
            [(1, "mystery"), (2, "wiki")], ["doc_id", "source"]
        )
        clusters = spark.createDataFrame([(1, 1), (2, 1)], ["doc_id", "cluster_id"])
        out = resolve_duplicates(docs, clusters, priority=["wiki"])
        assert [r["doc_id"] for r in out.collect()] == [2]


def _pagerank_ref(edges, damping=0.85, iterations=10, directed=False):
    """Plain-Python reference: same semantics as operators.graph.pagerank
    (symmetrize unless directed, collapse parallel edges, drop self-loops,
    uniform dangling-mass redistribution)."""
    if not directed:
        edges = list(edges) + [(b, a) for a, b in edges]
    eset = {(a, b) for a, b in edges if a != b}
    nodes = sorted({x for e in eset for x in e})
    n = len(nodes)
    outdeg = {}
    for a, _ in eset:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for a, b in eset:
            contrib[b] += rank[a] / outdeg[a]
        dang = sum(rank[v] for v in nodes if v not in outdeg)
        rank = {
            v: (1 - damping) / n + damping * (contrib[v] + dang / n)
            for v in nodes
        }
    return rank


class TestPagerank:
    def _run(self, spark, edges, **kw):
        from sat_bucket_spark.operators.graph import pagerank

        df = spark.createDataFrame(edges, ["src", "dst"])
        return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}

    def test_path_graph_hand_computed(self, spark):
        # A-B-C undirected path, 2 iterations, worked by hand:
        # r0 = 1/3 each; deg A=1 B=2 C=1
        # r1(A) = 0.05 + .85*(r0(B)/2) = 0.05 + .85/6
        # r1(B) = 0.05 + .85*(r0(A)+r0(C)) = 0.05 + .85*2/3
        # r2(A) = 0.05 + .85*(r1(B)/2), r2(B) = 0.05 + .85*2*r1(A)
        r1a = 0.05 + 0.85 / 6
        r1b = 0.05 + 0.85 * 2 / 3
        want = {
            1: 0.05 + 0.85 * (r1b / 2),
            2: 0.05 + 0.85 * 2 * r1a,
            3: 0.05 + 0.85 * (r1b / 2),
        }
        got = self._run(spark, [(1, 2), (2, 3)], iterations=2)
        assert got.keys() == want.keys()
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12

    def test_mass_conserved_and_matches_ref(self, spark):
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(80)]
        edges = [(a, b) for a, b in edges if a != b]
        got = self._run(spark, edges, iterations=10)
        want = _pagerank_ref(edges, iterations=10)
        assert abs(sum(got.values()) - 1.0) < 1e-9
        assert got.keys() == want.keys()
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9

    def test_directed_dangling_mass(self, spark):
        # 1->2, 3->2: node 2 is dangling; its mass must redistribute, and
        # the total must stay 1 every round.
        edges = [(1, 2), (3, 2)]
        got = self._run(spark, edges, iterations=5, directed=True)
        want = _pagerank_ref(edges, iterations=5, directed=True)
        assert abs(sum(got.values()) - 1.0) < 1e-12
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12
        # hub beats its dangling sources
        assert got[2] > got[1] == got[3]

    def test_parallel_edges_and_self_loops_collapse(self, spark):
        base = self._run(spark, [(1, 2), (2, 3)], iterations=3)
        noisy = self._run(
            spark, [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3)], iterations=3
        )
        assert base.keys() == noisy.keys()
        for k in base:
            assert abs(base[k] - noisy[k]) < 1e-12

    def test_driver_and_distributed_routes_identical(self, spark):
        """driver_threshold routes small graphs to the numpy power
        iteration; ranks must equal the distributed loop's to 1e-12 on
        both directed (dangling present) and undirected graphs."""
        import random

        rng = random.Random(11)
        edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(70)]
        edges = [(a, b) for a, b in edges if a != b]
        for directed in (False, True):
            fast = self._run(spark, edges, iterations=6, directed=directed)
            dist = self._run(
                spark, edges, iterations=6, directed=directed, driver_threshold=0
            )
            assert fast.keys() == dist.keys()
            for k in fast:
                assert abs(fast[k] - dist[k]) < 1e-12

    def test_driver_route_string_nodes(self, spark):
        """Host-authority graphs key on strings; the driver route must
        handle non-numeric node ids (index-mapped) identically."""
        edges = [("a.example", "hub.example"), ("b.example", "hub.example")]
        got = self._run(spark, edges, iterations=4, directed=True)
        dist = self._run(
            spark, edges, iterations=4, directed=True, driver_threshold=0
        )
        assert got.keys() == dist.keys() == {"a.example", "b.example", "hub.example"}
        for k in got:
            assert abs(got[k] - dist[k]) < 1e-12
        assert got["hub.example"] == max(got.values())

    def test_driver_route_output_broadcasts_downstream(self, spark):
        """Driver-route outputs (CC cluster maps, pagerank rank tables)
        are LOCAL relations whose plans (LogicalRDD) carry unknown stats
        (8 EiB default), so without an explicit hint every downstream
        join against them — cluster map onto corpus, host rank onto
        documents — planned as a SortMergeJoin that SHUFFLES THE CORPUS.
        Both routes hint broadcast (size-safe: bounded by the
        driver_threshold that chose the route); pin the plan with a
        corpus side too big to be the broadcast side itself."""
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.graph import (
            connected_components,
            pagerank,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
        )
        big = spark.range(10_000_000).select(F.col("id").alias("node"))

        cc = connected_components(pairs, src="id_a", dst="id_b")
        plan = (
            big.join(cc, "node", "left")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

        pr = pagerank(pairs.toDF("src", "dst"))
        plan = (
            big.join(pr, "node", "left")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_empty_edges_distributed_route(self, spark):
        """Self-loop-only input with driver_threshold=0 hits the
        distributed path's n_nodes == 0 early return: an empty (node,
        rank) frame with the right types, and the eager-cached invariants
        released (no error, no leaked-block dependency in the result)."""
        from pyspark.sql.types import DoubleType, LongType

        from sat_bucket_spark.operators.graph import pagerank

        df = spark.createDataFrame([(1, 1), (2, 2)], ["src", "dst"])
        out = pagerank(df, driver_threshold=0)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "rank"]
        assert isinstance(out.schema["node"].dataType, LongType)
        assert isinstance(out.schema["rank"].dataType, DoubleType)

    def test_corrupted_node_observation_still_exact(self, spark):
        """N is folded into the rank formula, so it must survive the
        observed-metric retry caveat (accumulators can over-count under
        stage retries): corrupt the base frame's observed count and the
        ranks must still match the clean run exactly — the exact-aggregate
        cross-check (graph.py) catches the drift."""
        from sat_bucket_spark.operators import graph

        edges = [(1, 2), (2, 3), (3, 1), (1, 4)]
        clean = self._run(spark, edges, iterations=4, driver_threshold=0)

        real = graph.measured_stage

        def corrupt(df, *extra, **kw):
            cached, metrics = real(df, *extra, **kw)
            if df.columns[0] == "node":  # the base frame — N's source
                metrics = {**metrics, "n": metrics["n"] + 7}
            return cached, metrics

        graph.measured_stage = corrupt
        try:
            got = self._run(spark, edges, iterations=4, driver_threshold=0)
        finally:
            graph.measured_stage = real
        assert got.keys() == clean.keys()
        for k in clean:
            assert abs(got[k] - clean[k]) < 1e-15
        assert abs(sum(got.values()) - 1.0) < 1e-12

    def test_validation(self, spark):
        from sat_bucket_spark.operators.graph import pagerank

        df = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="damping"):
            pagerank(df, damping=1.0)
        with pytest.raises(ValueError, match="iterations"):
            pagerank(df, iterations=0)
        with pytest.raises(ValueError, match="invariant_cache"):
            pagerank(df, driver_threshold=0, invariant_cache="nope")

    def test_invariant_cache_modes_identical(self, spark):
        """The two loop-invariant storage shapes (round cache vs
        partitioned persist) are output-identical to float-accumulation
        noise — only the physical plan differs (see the docstring's
        measured trade)."""
        edges = [(i, (i * 5 + 2) % 23) for i in range(60)]
        for directed in (False, True):
            a = self._run(
                spark, edges, iterations=5, directed=directed, driver_threshold=0
            )
            b = self._run(
                spark, edges, iterations=5, directed=directed,
                driver_threshold=0, invariant_cache="partitioned",
            )
            assert a.keys() == b.keys()
            for k in a:
                assert abs(a[k] - b[k]) < 1e-12

    def test_persist_mode_loop(self, spark):
        from sat_bucket_spark.caching import stage_cache_mode

        edges = [(i, i + 1) for i in range(12)]
        base = self._run(spark, edges, iterations=4)
        with stage_cache_mode("persist"):
            got = self._run(spark, edges, iterations=4)
        for k in base:
            assert abs(base[k] - got[k]) < 1e-12

    def test_fuse_rounds_output_identical(self, spark):
        """r16 round fusion: chaining ``fuse_rounds`` power rounds into one
        lazily-planned block (materialized once per block) must not change
        the ranks. Same arithmetic, same round count — the only admissible
        difference is float-accumulation jitter from aggregation order,
        which a same-args rerun of fuse_rounds=1 already exhibits (~1e-17),
        so the sibling 1e-12 tolerance applies."""
        import random

        rng = random.Random(13)
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
        edges = [(a, b) for a, b in edges if a != b]
        base = self._run(
            spark, edges, iterations=10, driver_threshold=0, fuse_rounds=1
        )
        for fuse in (3, 8, 16):  # block mid-loop, default, > iterations
            fused = self._run(
                spark, edges, iterations=10, driver_threshold=0,
                fuse_rounds=fuse,
            )
            assert fused.keys() == base.keys()
            for k in base:
                assert abs(fused[k] - base[k]) < 1e-12

    def test_fuse_rounds_directed_forces_per_round_cache(self, spark):
        """Directed graphs read the round frame twice per round (dangling
        aggregate), so the loop must force fuse=1 internally — any
        fuse_rounds value yields the cache-every-round result."""
        edges = [(1, 2), (3, 2), (2, 4), (4, 1)]
        a = self._run(
            spark, edges, iterations=5, directed=True, driver_threshold=0,
            fuse_rounds=1,
        )
        b = self._run(
            spark, edges, iterations=5, directed=True, driver_threshold=0,
            fuse_rounds=8,
        )
        assert a.keys() == b.keys()
        for k in a:
            assert abs(a[k] - b[k]) < 1e-12

    def test_fuse_rounds_validation(self, spark):
        from sat_bucket_spark.operators.graph import pagerank

        df = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="fuse_rounds"):
            pagerank(df, driver_threshold=0, fuse_rounds=0)

    def test_fuse_block_reuses_exchanges_at_runtime(self, spark):
        """r17 (VERDICT r16 #3): the fuse win's 100 TB claim is that the
        invariant edge/base exchange subtrees inside one fused block dedupe
        via Spark's runtime exchange reuse — the edge shuffle ships once
        per block, not once per round. The pre-AQE plan print legitimately
        shows no reuse (AQE applies it through its stage cache at runtime),
        so this pins the EXECUTED block plan: capture each round-boundary
        materialization via the loop's own round_cache hook and assert
        every multi-round block resolved with AQE finalized and at least
        ``fuse_rounds - 1`` ReusedExchange nodes (>=, not ==, per the
        ADVICE r16 version-pinning note — exact reuse counts are an
        AQE-version detail; the per-round reuse floor is the claim)."""
        import random

        import sat_bucket_spark.operators.graph as graph_mod
        from pyspark.sql import functions as F
        from sat_bucket_spark.operators.graph import pagerank

        rng = random.Random(29)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(200)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, ["src", "dst"])

        fuse = 4
        captured = []
        real = graph_mod.round_cache

        def capturing(frame):
            out = real(frame)
            captured.append(frame._jdf.queryExecution().executedPlan().toString())
            return out

        graph_mod.round_cache = capturing
        try:
            pagerank(
                df, damping=0.85, iterations=2 * fuse, directed=False,
                driver_threshold=0, fuse_rounds=fuse,
            )
        finally:
            graph_mod.round_cache = real

        # captures arrive in loop order: invariant edge cache, base cache,
        # then one per fused block — the block plans are the last
        # iterations/fuse materializations. A block plan chains `fuse`
        # rounds (>= 2 exchanges per round), of which the per-round
        # edge/base subtrees past the first round must resolve as runtime
        # reuses.
        assert len(captured) == 4, f"expected 4 materializations, got {len(captured)}"
        blocks = captured[-2:]
        for plan in blocks:
            assert "isFinalPlan=true" in plan, "block did not finalize AQE"
            n_reused = plan.count("ReusedExchange")
            assert n_reused >= fuse - 1, (
                f"fused block executed with only {n_reused} ReusedExchange "
                f"nodes (< fuse_rounds-1 = {fuse - 1}): the invariant "
                "edge/base shuffle is being re-executed per round"
            )


class TestRegistryRankRoundingMargin:
    """r9 advisor: q_pagerank/q_host_rank hash-compare ROUND(pr, 9) across
    three float accumulation orders (numpy lexsorted add.at, Spark
    distributed sums, DuckDB unrolled CTEs). Measured cross-order delta on
    these fixtures is <= 1e-18 (spark-vs-numpy max 8.7e-19 at sf0.1), so a
    rounded digit can only flip if a rank sits essentially ON a 9th-decimal
    half boundary. This pins every fixture rank >= 1e-14 away from one
    (measured margins: pagerank 7.6e-14 @ sf0.001 / 7.6e-13 @ sf0.01,
    host_rank 1.2e-12) — a fixture or testdata change that lands on the
    knife edge fails HERE, deterministically, instead of as a flaky driver
    hash row. Derivations are shared with the entry via
    _pagerank_fixture_edges/_host_rank_fixture_edges."""

    MARGIN = 1e-14

    @staticmethod
    def _min_boundary_dist(vals, decimals=9):
        import math

        scale = 10**decimals
        return min(
            abs(v * scale - math.floor(v * scale) - 0.5) / scale for v in vals
        )

    def _margins(self, spark, build, **kw):
        from sat_bucket_spark.operators.graph import pagerank

        out = []
        for sf in ("sf0.001", "sf0.01"):
            edges = build(spark, f"/root/testdata/{sf}")
            # driver route: identical values to the distributed loop at
            # ~1e-18 (pinned by test_driver_and_distributed_routes_identical)
            ranks = pagerank(edges, driver_threshold=1 << 60, **kw)
            out.append(self._min_boundary_dist([r["rank"] for r in ranks.collect()]))
        return out

    def test_pagerank_fixture_clears_boundaries(self, spark):
        import __spark_entry__ as E

        for m in self._margins(
            spark, E._pagerank_fixture_edges, damping=0.85, iterations=10,
            directed=False,
        ):
            assert m > self.MARGIN, f"rank within {m} of a rounding boundary"

    def test_pagerank_directed_fixture_clears_boundaries(self, spark):
        """pagerank_directed (distributed dangling-branch oracle): measured
        margins 5.5e-12 @ sf0.001 / 4.9e-14 @ sf0.01."""
        import __spark_entry__ as E

        for m in self._margins(
            spark, E._pagerank_directed_fixture_edges, damping=0.85,
            iterations=6, directed=True,
        ):
            assert m > self.MARGIN, f"rank within {m} of a rounding boundary"

    def test_host_rank_fixture_clears_boundaries(self, spark):
        import __spark_entry__ as E

        for m in self._margins(
            spark,
            lambda s, d: E._host_rank_fixture_edges(s, d)
            .withColumnRenamed("src_host", "src")
            .withColumnRenamed("dst_host", "dst"),
            damping=0.85, iterations=8, directed=True,
        ):
            assert m > self.MARGIN, f"rank within {m} of a rounding boundary"


class TestUpdateConnectedComponents:
    """update_connected_components: incremental maintenance of a standing
    (node, component) map — must equal a full recompute row for row."""

    @staticmethod
    def _full(spark, edges):
        from sat_bucket_spark.operators.graph import connected_components

        return {
            r["node"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(edges, ["src", "dst"])
            ).collect()
        }

    @pytest.mark.parametrize("seed", [0, 1, 2])
    @pytest.mark.parametrize("threshold", [200_000, 0])
    def test_update_equals_full_recompute(self, spark, seed, threshold):
        from sat_bucket_spark.operators.graph import (
            connected_components,
            update_connected_components,
        )

        rng = np.random.default_rng(seed)
        n = 300
        old = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, 200), rng.integers(0, n, 200))
            if a != b
        ]
        # new edges: old-old (merges standing components), old-new, new-new
        new = [
            (int(a), int(b))
            for a, b in zip(
                rng.integers(0, n + 80, 120), rng.integers(0, n + 80, 120)
            )
            if a != b
        ]
        standing = connected_components(
            spark.createDataFrame(old, ["src", "dst"])
        )
        got = {
            r["node"]: r["component"]
            for r in update_connected_components(
                standing,
                spark.createDataFrame(new, ["src", "dst"]),
                driver_threshold=threshold,
            ).collect()
        }
        # ground truth: full recompute over (standing-map-as-edges ∪ new).
        # Standing-map edges (node -> component) reproduce exactly the old
        # components, so this equals CC over (old ∪ new) restricted to
        # nodes that appear in old or new
        expected = self._full(
            spark,
            old + new,
        )
        assert got == expected

    def test_untouched_components_and_pure_new_cluster(self, spark):
        from sat_bucket_spark.operators.graph import (
            connected_components,
            update_connected_components,
        )

        old = [(1, 2), (2, 3), (10, 11), (20, 21)]
        standing = connected_components(
            spark.createDataFrame(old, ["src", "dst"])
        )
        new = [(3, 10), (100, 101), (101, 102)]
        got = {
            r["node"]: r["component"]
            for r in update_connected_components(
                standing, spark.createDataFrame(new, ["src", "dst"])
            ).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 10: 1, 11: 1,   # merged via the 3-10 edge
            20: 20, 21: 20,                    # untouched component intact
            100: 100, 101: 100, 102: 100,      # brand-new cluster
        }

    def test_new_node_with_smaller_id_becomes_representative(self, spark):
        from sat_bucket_spark.operators.graph import (
            connected_components,
            update_connected_components,
        )

        standing = connected_components(
            spark.createDataFrame([(5, 6)], ["src", "dst"])
        )
        got = {
            r["node"]: r["component"]
            for r in update_connected_components(
                standing, spark.createDataFrame([(0, 6)], ["src", "dst"])
            ).collect()
        }
        assert got == {0: 0, 5: 0, 6: 0}

    def test_stage_scope_lifetime(self, spark, cached_rdd_ids):
        """The endpoint, lookup-slice and merge caches live while the
        scope is open (the result reads them) and are freed on exit."""
        from sat_bucket_spark.caching import stage_scope
        from sat_bucket_spark.operators.graph import (
            connected_components,
            update_connected_components,
        )

        standing = connected_components(
            spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
        )
        before = cached_rdd_ids()
        with stage_scope():
            out = update_connected_components(
                standing, spark.createDataFrame([(2, 3)], ["src", "dst"])
            )
            got = {r["node"]: r["component"] for r in out.collect()}
            assert len(cached_rdd_ids() - before) == 3
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}
        assert not cached_rdd_ids() - before

    @staticmethod
    def _broadcast_hinted_joins(df) -> int:
        """Joins in ``df``'s optimized logical plan that carry an explicit
        broadcast hint on either side (walked node by node)."""
        n, stack = 0, [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "Join":
                hint = node.hint()
                for side in (hint.leftHint(), hint.rightHint()):
                    strategy = side.get().strategy() if side.isDefined() else None
                    if strategy is not None and strategy.isDefined():
                        n += strategy.get().toString() == "broadcast"
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
        return n

    @staticmethod
    def _ancestors_of_scan(plan: str, needle: str):
        """Yield the ancestor-chain lines of every plan-tree line matching
        ``needle``, parsed from the indented toString tree (child marker
        is 3 chars deeper than its parent)."""
        import re

        lines = plan.splitlines()
        depth = [re.match(r"^[\s:+|-]*", l).end() for l in lines]
        for i, line in enumerate(lines):
            if needle not in line:
                continue
            d = depth[i]
            for j in range(i - 1, -1, -1):
                if depth[j] < d:
                    d = depth[j]
                    yield lines[j]

    def test_standing_side_joins_broadcast(self, spark, tmp_path):
        """The at-scale plan contract: the corpus-sized standing map is on
        the STREAM side of broadcast-hash joins only — no Exchange node
        (shuffle OR broadcast) anywhere above a standing-map scan, and no
        SortMergeJoin in the whole update plan. The broadcast threshold is
        set below the standing map's own size estimate and AQE's runtime
        auto-broadcast is disabled, so neither can paper over a missing
        explicit hint with the tiny test map (the r12 advisor's finding: a
        ~200-row map auto-broadcasts and the assertion never exercises the
        at-scale shape), while the batch-sized measured gates still fit.
        Batch-sized frames also fall under that threshold, so the explicit
        broadcast hints are counted on the optimized plan as well."""
        from sat_bucket_spark.operators.graph import (
            connected_components,
            update_connected_components,
        )

        old = [(i, i + 1) for i in range(0, 400, 2)]
        standing_path = str(tmp_path / "standing")
        connected_components(
            spark.createDataFrame(old, ["src", "dst"])
        ).write.parquet(standing_path)
        standing = spark.read.parquet(standing_path)
        thresholds = [
            ("spark.sql.autoBroadcastJoinThreshold", None),
            ("spark.sql.adaptive.autoBroadcastJoinThreshold", None),
        ]
        map_bytes = standing._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        for i, (k, _) in enumerate(thresholds):
            try:
                thresholds[i] = (k, spark.conf.get(k))
            except Exception:
                pass
        spark.conf.set(thresholds[0][0], str(map_bytes // 2))
        spark.conf.set(thresholds[1][0], "-1")
        try:
            out = update_connected_components(
                standing,
                spark.createDataFrame([(1, 3), (401, 402)], ["src", "dst"]),
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            hinted = self._broadcast_hinted_joins(out)
        finally:
            for k, v in thresholds:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        # the explicit gate hints themselves: the map-application join
        # and the new-node joins against the lookup and merge frames. A
        # dropped hint fails here even where the planner would still
        # auto-broadcast the batch-sized side on its own.
        assert hinted == 3, hinted
        assert "SortMergeJoin" not in plan, plan[:2000]
        assert "BroadcastHashJoin" in plan
        # the standing scan appears in the merge-application join (the
        # lookup slice shows as a checkpointed ExistingRDD scan); the only
        # FileScan in this plan is the standing map — Spark truncates the
        # path in toString, so match the node type. It may not sit under
        # any Exchange.
        chains = list(self._ancestors_of_scan(plan, "FileScan parquet"))
        assert chains, "standing-map scan not found in plan:\n" + plan[:2000]
        for anc in chains:
            assert "Exchange" not in anc, (anc, plan[:3000])


class TestUpdatePagerank:
    """update_pagerank: warm-start refresh of a standing rank map. The
    fixpoint is init-independent; warm starting buys ROUNDS, and the
    seeding itself must be exact (renormalized, route-identical)."""

    @staticmethod
    def _edges(spark, pairs):
        return spark.createDataFrame(pairs, ["src", "dst"])

    @staticmethod
    def _ranks(df):
        return {r["node"]: r["rank"] for r in df.collect()}

    @staticmethod
    def _graph(seed=7, n=400, m=1200, extra=0):
        """A standing graph plus an optionally-appended NIGHTLY batch —
        small relative to the graph (the refresh posture; a batch that
        rewrites a third of the graph is a rebuild, not a refresh)."""
        rng = np.random.default_rng(seed)
        pairs = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        ]
        if extra:
            more = np.random.default_rng(seed + 1)
            pairs += [
                (int(a), int(b))
                for a, b in zip(
                    more.integers(0, n + 10, extra),
                    more.integers(0, n + 10, extra),
                )
                if a != b
            ]
        return pairs

    def test_routes_equal_with_warm_seed(self, spark):
        from sat_bucket_spark.operators.graph import pagerank, update_pagerank

        old = self._graph()
        full = self._graph(extra=40)
        standing = pagerank(self._edges(spark, old), iterations=6)
        via_driver = self._ranks(
            update_pagerank(standing, self._edges(spark, full), iterations=4)
        )
        via_dist = self._ranks(
            update_pagerank(
                standing, self._edges(spark, full), iterations=4,
                driver_threshold=0,
            )
        )
        assert via_driver.keys() == via_dist.keys()
        for k in via_driver:
            assert abs(via_driver[k] - via_dist[k]) < 1e-12, k

    def test_warm_start_beats_cold_at_equal_rounds(self, spark):
        """The receipt: at the same round budget, warm refresh lands
        closer to the converged fixpoint than a cold run — in L1, and
        not marginally."""
        from sat_bucket_spark.operators.graph import pagerank, update_pagerank

        old = self._graph()
        full = self._graph(extra=40)
        ef = self._edges(spark, full)
        standing = pagerank(self._edges(spark, old), iterations=30)
        truth = self._ranks(pagerank(ef, iterations=80))
        warm = self._ranks(update_pagerank(standing, ef, iterations=3))
        cold = self._ranks(pagerank(ef, iterations=3))
        l1_warm = sum(abs(warm[k] - truth[k]) for k in truth)
        l1_cold = sum(abs(cold[k] - truth[k]) for k in truth)
        assert l1_warm < 0.5 * l1_cold, (l1_warm, l1_cold)
        # and the warm result's mass invariant holds
        assert abs(sum(warm.values()) - 1.0) < 1e-9

    def test_membership_and_new_nodes(self, spark):
        """Output covers exactly the updated graph's nodes: standing-only
        nodes drop, previously-unseen nodes appear (mean-seeded)."""
        from sat_bucket_spark.operators.graph import pagerank, update_pagerank

        standing = pagerank(self._edges(spark, [(1, 2), (2, 3)]), iterations=5)
        out = self._ranks(
            update_pagerank(
                standing, self._edges(spark, [(1, 2), (4, 5)]), iterations=2
            )
        )
        assert set(out) == {1, 2, 4, 5}  # 3 dropped, 4/5 new
        assert abs(sum(out.values()) - 1.0) < 1e-9

    @pytest.mark.parametrize("threshold", [200_000, 0])
    def test_seed_scale_invariance(self, spark, threshold):
        """An unnormalized seed (stale total mass) is renormalized: a 2x
        scaled standing map yields the identical refresh — on BOTH
        routes (the distributed seed fold's decimal mass and literal
        arithmetic must be as scale-blind as the driver's fsum)."""
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.graph import pagerank, update_pagerank

        old = self._graph()
        full = self._graph(extra=40)
        ef = self._edges(spark, full)
        standing = pagerank(self._edges(spark, old), iterations=6)
        doubled = standing.select(
            "node", (F.col("rank") * 2.0).alias("rank")
        )
        a = self._ranks(
            update_pagerank(
                standing, ef, iterations=3, driver_threshold=threshold
            )
        )
        b = self._ranks(
            update_pagerank(
                doubled, ef, iterations=3, driver_threshold=threshold
            )
        )
        assert a.keys() == b.keys()
        for k in a:
            assert abs(a[k] - b[k]) < 1e-12, k

    @pytest.mark.parametrize("threshold", [200_000, 0])
    def test_seed_hygiene_null_nan_duplicates(self, spark, threshold):
        """NULL and NaN seed ranks are ignored (those nodes seed as
        unseen) and duplicate node rows collapse deterministically —
        identically on both routes. A NaN must never reach the
        contribution sums (it would poison every rank), and a duplicated
        standing row must not double-count a node's mass or duplicate
        its round-frame row."""
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.graph import pagerank, update_pagerank

        old = self._graph()
        full = self._graph(extra=40)
        ef = self._edges(spark, full)
        standing = pagerank(self._edges(spark, old), iterations=6)
        clean = self._ranks(
            update_pagerank(
                standing, ef, iterations=3, driver_threshold=threshold
            )
        )
        dirty = (
            standing
            # duplicate rows for every node, LOWER rank (max-collapse wins)
            .unionByName(
                standing.select("node", (F.col("rank") * 0.5).alias("rank"))
            )
            # a NULL-ranked and a NaN-ranked row on nodes in the graph
            .unionByName(
                standing.limit(2).select(
                    "node",
                    F.when(F.lit(False), 1.0).alias("rank"),  # NULL
                )
            )
            .unionByName(
                standing.limit(1).select(
                    "node", F.lit(float("nan")).alias("rank")
                )
            )
        )
        got = self._ranks(
            update_pagerank(
                dirty, ef, iterations=3, driver_threshold=threshold
            )
        )
        assert got.keys() == clean.keys()
        for k in got:
            assert abs(got[k] - clean[k]) < 1e-12, k
        assert all(v == v for v in got.values())  # no NaN anywhere

    @pytest.mark.parametrize("threshold", [200_000, 0])
    def test_degenerate_zero_seed_falls_back_uniform(self, spark, threshold):
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.graph import pagerank, update_pagerank

        full = self._graph()
        ef = self._edges(spark, full)
        zero = (
            ef.select(F.col("src").alias("node"))
            .unionByName(ef.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.lit(0.0).alias("rank"))
        )
        got = self._ranks(
            update_pagerank(zero, ef, iterations=3, driver_threshold=threshold)
        )
        want = self._ranks(
            pagerank(ef, iterations=3, driver_threshold=threshold)
        )
        assert got.keys() == want.keys()
        for k in got:
            assert abs(got[k] - want[k]) < 1e-12, k
