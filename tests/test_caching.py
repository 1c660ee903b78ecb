"""Stage-cache policy: all three modes must produce identical results.

The knob exists for cluster fault tolerance (caching.py module docstring);
it must never change semantics. Exercises the two structurally different
consumers: a multi-branch LSH dedup (signatures referenced 4x) and the
iterative connected-components loop (eager round-boundary materialization).
"""

from __future__ import annotations

import pytest

from sat_bucket_spark.caching import (
    STAGE_CACHE_MODES,
    get_stage_cache_mode,
    set_stage_cache_mode,
    stage_cache,
    stage_cache_mode,
)


def _docs(spark):
    rows = [
        (i, f"the quick brown fox jumps over dog number {i % 7} again and again")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_result(spark):
    from sat_bucket_spark.operators.dedup import minhash_lsh_dedup_pairs

    return sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_dedup_pairs(
            _docs(spark), n_hashes=8, n_bands=4, min_jaccard=0.5
        ).collect()
    )


def _components_result(spark):
    from sat_bucket_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (5, 6), (100, 100)],
        "src long, dst long",
    )
    cc = connected_components(edges, driver_threshold=0)  # force distributed
    return sorted((r["node"], r["component"]) for r in cc.collect())


class TestModesAgree:
    def test_lsh_dedup_identical_across_modes(self, spark, tmp_path):
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        baseline = None
        for mode in STAGE_CACHE_MODES:
            with stage_cache_mode(mode):
                got = _pairs_result(spark)
            if baseline is None:
                baseline = got
                assert baseline  # non-vacuous: the fixture has near-dups
            else:
                assert got == baseline, mode

    def test_connected_components_identical_across_modes(self, spark, tmp_path):
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        baseline = None
        for mode in STAGE_CACHE_MODES:
            with stage_cache_mode(mode):
                got = _components_result(spark)
            if baseline is None:
                baseline = got
                assert len({c for _, c in baseline}) > 1
            else:
                assert got == baseline, mode


class TestKnob:
    def test_default_and_validation(self):
        assert get_stage_cache_mode() == "local_checkpoint"
        with pytest.raises(ValueError, match="stage-cache mode"):
            set_stage_cache_mode("nope")
        with stage_cache_mode("persist"):
            assert get_stage_cache_mode() == "persist"
        assert get_stage_cache_mode() == "local_checkpoint"

    def test_reliable_requires_checkpoint_dir(self, spark):
        # a fresh session scope may or may not carry a dir from other tests;
        # only assert the error path when none is set
        if spark.sparkContext.getCheckpointDir() is not None:
            pytest.skip("checkpoint dir already set in this shared session")
        df = spark.range(5)
        with stage_cache_mode("reliable_checkpoint"):
            with pytest.raises(RuntimeError, match="checkpoint directory"):
                stage_cache(df)

    def test_persist_eager_materializes(self, spark):
        with stage_cache_mode("persist"):
            out = stage_cache(spark.range(10), eager=True)
            assert out.storageLevel.useMemory
            assert out.count() == 10
            out.unpersist()


class TestRoundRelease:
    """release_stage_cache must actually free round-frame storage (it is
    invisible to the cache manager) and leave the loops correct."""

    def test_local_checkpoint_blocks_freed(self, spark, cached_rdd_ids):
        from sat_bucket_spark.caching import release_stage_cache, round_cache

        cached_ids = cached_rdd_ids
        before = cached_ids()
        rc = round_cache(spark.range(10_000).selectExpr("id", "id * 2 as y"))
        held = cached_ids() - before
        assert held, "round_cache should hold executor blocks"
        # non-destructive default must be a safe no-op on a lineage-less frame
        release_stage_cache(rc)
        assert cached_ids() & held, "default call must NOT free checkpoint blocks"
        assert rc.count() == 10_000
        release_stage_cache(rc, destructive=True)
        assert not (cached_ids() & held), "destructive release must free the blocks"

    def test_reliable_checkpoint_files_deleted(self, spark, tmp_path):
        from sat_bucket_spark.caching import (
            release_stage_cache,
            round_cache,
            stage_cache_mode,
        )

        ckpt = tmp_path / "ckpt_release"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        with stage_cache_mode("reliable_checkpoint"):
            rc = round_cache(spark.range(1000).selectExpr("id"))
        files_before = [p for p in ckpt.rglob("*") if p.is_file()]
        assert files_before, "checkpoint should have written files"
        # non-destructive default must leave the checkpoint files intact
        release_stage_cache(rc)
        assert [p for p in ckpt.rglob("*") if p.is_file()], (
            "default call must NOT delete checkpoint files"
        )
        assert rc.count() == 1000
        release_stage_cache(rc, destructive=True)
        assert not [p for p in ckpt.rglob("*") if p.is_file()], (
            "destructive release must delete the round's checkpoint files"
        )

    def test_persist_mode_loop_releases_rounds(self, spark, tmp_path):
        # persist mode + checkpoint dir => round_cache writes one reliable
        # checkpoint per round; the loop must clean all but the last round
        from sat_bucket_spark.caching import stage_cache_mode
        from sat_bucket_spark.operators.graph import pagerank

        ckpt = tmp_path / "ckpt_loop"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        edges = spark.createDataFrame(
            [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
        )
        with stage_cache_mode("persist"):
            # driver_threshold=0: the round-release contract under test
            # only exists on the distributed loop
            ranks = pagerank(edges, iterations=5, directed=True, driver_threshold=0)
            got = {r["node"]: r["rank"] for r in ranks.collect()}
        # ring graph: uniform stationary distribution
        assert all(abs(v - 1 / 8) < 1e-9 for v in got.values())
        round_dirs = {p.parent for p in ckpt.rglob("*") if p.is_file()}
        # r10: the loop releases its loop-invariant frames (edges, base)
        # on exit too — only the ONE live final round may remain
        assert len(round_dirs) <= 1, sorted(round_dirs)


def _executed_node_names(df) -> list[str]:
    """Class names of every node in ``df``'s executed physical plan,
    walked through adaptive query stages (runs ``df`` first so AQE
    finalizes the plan it reports)."""
    df.collect()
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        names.append(name)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return names


def _signatures(spark):
    # 40 ids over 12 signatures, some one bit apart: near-dup verdicts
    rows = [(i, (i % 12) * 17 + (i % 3 == 0)) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, sig long")


def _keep_first(sigs):
    from sat_bucket_spark.operators.dedup import keep_first_by_signature

    return keep_first_by_signature(
        sigs, id_col="doc_id", sig_col="sig", n_bits=16, max_hamming=1,
        n_bands=4,
    )


class TestMeasuredStage:
    def test_metrics_and_bytes_per_mode(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from sat_bucket_spark.caching import measured_stage

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        df = spark.range(1000).selectExpr("id", "id % 7 as k")
        jsc = spark.sparkContext._jsc.sc()
        for mode in STAGE_CACHE_MODES:
            with stage_cache_mode(mode):
                cached, metrics = measured_stage(df, F.sum("k").alias("s"))
            assert metrics["n"] == 1000, mode
            assert metrics["s"] == sum(i % 7 for i in range(1000)), mode
            assert cached.count() == 1000
            if mode == "local_checkpoint":
                rdd_id = cached._jdf.queryExecution().analyzed().rdd().id()
                stored = {
                    i.id(): i.memSize() + i.diskSize()
                    for i in jsc.getRDDStorageInfo()
                }
                assert metrics["bytes"] == stored[rdd_id] > 0
            elif mode == "persist":
                relation = cached._jdf.queryExecution().optimizedPlan()
                assert relation.getClass().getSimpleName() == "InMemoryRelation"
                assert metrics["bytes"] == relation.stats().sizeInBytes() > 0
                cached.unpersist()
            else:  # a reliable checkpoint reports no size
                width = cached._jdf.schema().defaultSize()
                assert metrics["bytes"] == 1000 * width

    def test_gate_reads_the_broadcast_threshold(self, spark):
        from sat_bucket_spark.caching import broadcast_fits

        key = "spark.sql.autoBroadcastJoinThreshold"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "100")
            assert broadcast_fits(spark, {"bytes": 100})
            assert not broadcast_fits(spark, {"bytes": 101})
            for off in ("0", "-1"):
                spark.conf.set(key, off)
                assert not broadcast_fits(spark, {"bytes": 0})
        finally:
            spark.conf.set(key, prev)

    def test_above_bound_posture_not_broadcast(self, spark):
        """At a threshold of a few bytes the measured groups frame no
        longer fits: the executed expansion joins carry no broadcast, and
        the verdicts equal the broadcast posture's."""
        sigs = _signatures(spark)
        hinted = _keep_first(sigs)
        hinted_nodes = _executed_node_names(hinted)
        assert "BroadcastHashJoinExec" in hinted_nodes  # non-vacuous
        want = sorted(map(tuple, hinted.collect()))
        assert any(not r[-1] for r in want)  # the fixture has near-dups

        key = "spark.sql.autoBroadcastJoinThreshold"
        prev = spark.conf.get(key)
        spark.conf.set(key, "8")
        try:
            above = _keep_first(sigs)
            nodes = _executed_node_names(above)
            got = sorted(map(tuple, above.collect()))
        finally:
            spark.conf.set(key, prev)
        assert not [n for n in nodes if n.startswith("Broadcast")], nodes
        assert got == want


class TestStageScope:
    def test_scope_frees_every_stage_cache(self, spark, tmp_path, cached_rdd_ids):
        """keep_first_by_signature, update_connected_components and
        semantic_dedup_against_index leave no checkpoint RDD behind once
        their scope exits, and their results are read inside it."""
        import numpy as np

        from sat_bucket_spark.caching import stage_scope
        from sat_bucket_spark.operators.graph import (
            connected_components,
            update_connected_components,
        )
        from sat_bucket_spark.operators.similarity import (
            _hyperplanes,
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        rng = np.random.default_rng(3)
        vecs = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)],
            "vec_id long, embedding array<double>",
        )
        idx = str(tmp_path / "ivfpq")
        build_ivfpq_index(
            vecs.where("vec_id >= 20"), idx, dim=16,
            centroids=_hyperplanes(4, 16, seed=7),
            codebooks=np.stack([_hyperplanes(8, 4, seed=11 + j) for j in range(4)]),
        )
        standing = connected_components(
            spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
        )
        before = cached_rdd_ids()
        with stage_scope():
            kept = _keep_first(_signatures(spark)).collect()
            merged = update_connected_components(
                standing, spark.createDataFrame([(2, 3)], ["src", "dst"])
            ).collect()
            survivors = semantic_dedup_against_index(
                vecs, idx, min_cosine=0.99, n_probe=4, adc_margin=None,
                verify_vectors=vecs,
            ).collect()
            held = cached_rdd_ids() - before
        assert len(kept) == 40 and len(merged) == 4
        assert len(survivors) == 20  # copies of indexed rows are dropped
        assert len(held) >= 6, held
        assert not cached_rdd_ids() - before

    def test_no_scope_keeps_frames_and_nesting(self, spark, cached_rdd_ids):
        from sat_bucket_spark.caching import (
            release_stage_cache,
            stage_cache,
            stage_scope,
        )

        before = cached_rdd_ids()
        outside = stage_cache(spark.range(100), eager=True)
        with stage_scope():
            stage_cache(spark.range(100), eager=True)
            with stage_scope():
                stage_cache(spark.range(100), eager=True)
            assert len(cached_rdd_ids() - before) == 2
        assert len(cached_rdd_ids() - before) == 1
        assert outside.count() == 100  # unscoped frames are untouched
        release_stage_cache(outside, destructive=True)
        assert not cached_rdd_ids() - before
