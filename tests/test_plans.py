"""Physical-plan quality gates: the plans must be the ones we'd want at 100 TB.

These tests read ``explain()`` output and assert the optimizations that matter
at scale actually fire: predicate/projection pushdown, broadcast joins for
small dims, whole-stage codegen on hot paths, and no Python UDFs in expression
pipelines. Bucket partition pruning is checked on the files a read's scan
lists (``inputFiles()``).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute (noop sink) and return the AQE-final physical plan.

    Plans containing an exchange are wrapped in AdaptiveSparkPlan; codegen
    annotations ('*(n)') only appear once the final plan is materialized.
    The action must run on the DataFrame's OWN query execution (a
    write/count builds a new one), hence collect().
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_revenue_join_broadcasts_dims(spark):
    plan = _plan(E.q_revenue_by_nation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # nation (and customer via AQE) broadcast


def test_scan_project_pushdown(spark):
    plan = _plan(E.q_scan_project(spark, SF_DIR))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema  # column pruning reached the scan


def test_labels_stay_in_codegen(spark):
    plan = _final_plan(E.q_lonlat_labels(spark, SF_DIR))
    assert "*(" in plan  # '*' prefix marks whole-stage-codegen stages
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sessionize_single_shuffle(spark):
    plan = _plan(E.q_sessionize(spark, SF_DIR))
    # one exchange for the user_id window; no extra shuffles
    assert plan.count("Exchange hashpartitioning") == 1


def test_session_count_no_self_join(spark):
    plan = _plan(E.q_session_count(spark, SF_DIR))
    assert "Join" not in plan  # windowed count, not groupBy+join


def test_minhash_no_python(spark):
    plan = _plan(E.q_minhash(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_dedup_exchange_carries_no_signatures(spark):
    """The candidate-dedup shuffle must move bare (id_a, id_b) pairs.

    A distinct over (ids + signature arrays) would ship every signature
    through the exchange — at 100 TB candidate volume that payload dominates.
    """
    plan = _plan(E.q_minhash_lsh_dedup(spark, SF_DIR))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "sig" not in line, line
            assert "signature" not in line, line


def test_topk_broadcasts_queries(spark):
    plan = _plan(E.q_embedding_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_interval_join_broadcasts_groups(spark):
    plan = _plan(E.q_interval_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan


def test_bucket_read_prunes_partitions(spark, orbit_df, tmp_path_factory, input_dirs):
    import os

    from sat_bucket_spark import LonLatPartitioning, read, write_bucket

    d = str(tmp_path_factory.mktemp("plan_bucket"))
    p = LonLatPartitioning(size=(10, 10))
    write_bucket(orbit_df, d, p, x="lon", y="lat")
    extent = [5, 8, 0, 20]
    df = read(spark, d, extent=extent)
    # the scan reads exactly the on-disk partitions the extent intersects
    # (pruning happens at the open, before any file is read)
    want = {r for r in p.directories_by_extent(extent) if os.path.isdir(os.path.join(d, r))}
    assert input_dirs(df, d) == want
    assert want < input_dirs(read(spark, d), d)


def test_curation_map_ops_no_shuffle_no_python(spark):
    """normalize / pii_scan / doc_chunks are map-only: no exchange beyond the
    small-input parallelism spread, no Python nodes."""
    for name in ("normalize", "pii_scan", "doc_chunks"):
        plan = _plan(getattr(E, f"q_{name}")(spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Exchange hashpartitioning" not in plan, name


def test_repetition_row_local(spark):
    """repetition computes its statistics without any keyed shuffle."""
    plan = _plan(E.q_repetition(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    plan = _plan(E.q_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_bounded_rank(spark):
    plan = _plan(E.q_heavy_hitters(spark, SF_DIR))
    # per-group path: one shuffle for the count, one for the rank window max
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan


def test_seq_pack_single_group_shuffle(spark):
    """packing = one exchange on the group key feeding the Arrow kernel."""
    plan = _plan(E.q_seq_pack(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan  # the applyInPandas kernel, by design
    assert plan.count("Exchange hashpartitioning") == 1


def test_colocated_tables_join_without_exchange(spark, tmp_path):
    """bucketBy co-location: equi-join of two same-bucketed tables runs with
    zero exchanges (the at-scale repeated-join strategy when broadcast is
    impossible)."""
    from sat_bucket_spark.writers import write_colocated_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumnRenamed(
        "vec_id", "doc_id"
    )
    write_colocated_table(docs, "t_docs_b", ["doc_id"], n_buckets=8)
    write_colocated_table(emb, "t_emb_b", ["doc_id"], n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the co-located sort-merge path is observable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_docs_b").join(spark.table("t_emb_b"), "doc_id")
        plan = _final_plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert j.count() == spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_emb_b")


def test_tf_idf_single_keyed_agg_chain(spark):
    plan = _plan(E.q_tf_idf(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_assignment_codegen(spark):
    plan = _plan(E.q_cluster_sizes(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one exchange: the per-cluster count
    assert plan.count("Exchange hashpartitioning") <= 1


def test_semantic_dedup_tiles_the_pair_join(spark):
    """The within-cluster self-join must partition on the BLOCK-TILE key.

    A plain equi-join on cluster id serializes the biggest (Zipf-skewed)
    cluster's O(n_c^2) cosine work into one reducer, and a broadcast join
    would inherit the stream side's (possibly single-split) partitioning —
    the explicit tile-key repartition is what spreads the work.

    The join lives in ``semantic_dup_pairs``' own plan: ``semantic_dedup``
    stage-caches the pairs eagerly, so its frame shows only the cached scan.
    """
    from sat_bucket_spark.operators.clustering import semantic_dup_pairs

    emb = E._t(spark, SF_DIR, "embeddings")
    plan = _plan(semantic_dup_pairs(emb, E._IVF_CENTROIDS, threshold=0.3))
    assert "hashpartitioning(__cluster" in plan
    assert "__ti" in plan and "__tj" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pairwise_embedding_ops_spread_single_split_scans(spark):
    """Broadcast/nested-loop joins inherit the stream side's partitioning;
    a single-file embeddings scan must be spread before per-pair work."""
    for q in (E.q_embedding_near_dup, E.q_embedding_topk):
        plan = _plan(q(spark, SF_DIR))
        assert "Exchange RoundRobinPartitioning" in plan, plan.splitlines()[:5]


def test_pair_cosine_is_fold_not_unrolled(spark):
    """The per-PAIR cosine must be the aggregate/zip_with FOLD, not a static
    unroll. Measured on this JVM (Java 17, 1M-pair join): the unrolled
    64-term sum generates a method past HotSpot's huge-method JIT budget and
    runs as interpreted bytecode — ~5x slower than the fold, whose tiny
    lambda body stays JIT-hot. The fold is also the DuckDB-bit-compatible
    accumulation order. Guard against reintroducing the unroll."""
    plan = _plan(E.q_embedding_near_dup(spark, SF_DIR))
    assert "zip_with" in plan, "pair cosine no longer uses the fold"
    unrolled = [
        ln
        for ln in plan.splitlines()
        if ln.count("__va") > 8 and ln.count("__vb") > 8 and "zip_with" not in ln
    ]
    assert not unrolled, "found a statically unrolled pair-dot expression"


def _jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_lsh_candidates_no_probe_job(spark):
    """lsh_candidate_pairs with unknown n_hashes must derive the band width
    in-plan from size(signature) — constructing the DataFrame launches ZERO
    jobs (the old path ran a one-row probe per operator call)."""
    from sat_bucket_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    sigs = minhash_signatures(docs, n_hashes=16)
    sc = spark.sparkContext
    sc.setJobGroup("lsh-probe-gate", "construction must launch no jobs")
    implicit = lsh_candidate_pairs(sigs, n_bands=4)  # n_hashes unknown
    sc.setJobGroup("lsh-probe-gate-done", "")
    assert _jobs_in_group(spark, "lsh-probe-gate") == 0
    # and the in-plan derivation is value-identical to the explicit width
    explicit = lsh_candidate_pairs(sigs, n_bands=4, n_hashes=16)
    assert sorted(map(tuple, implicit.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_connected_components_gate_costs_no_extra_job(spark):
    """The driver-threshold gate must read the fingerprint (count + hash)
    off the edge frame's materialization job as OBSERVED METRICS — no
    aggregate action at all for routing/convergence. Measured job anatomy
    under AQE (each shuffle materializes as its own job): localCheckpoint
    of the deduped edges = 2, edge collect = 1 — 3 total on the driver
    path; a separate fingerprint aggregate would add 2 more."""
    from sat_bucket_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc-gate", "route gate + collect")
    out = connected_components(edges)
    sc.setJobGroup("cc-gate-done", "")
    assert _jobs_in_group(spark, "cc-gate") <= 3
    rows = {(r["node"], r["component"]) for r in out.collect()}
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_pagerank_gate_costs_no_extra_job(spark):
    """pagerank's driver-threshold gate must share connected_components'
    observed-metrics probe instead of a bare e.count() action (the r9
    verdict's 'extra routing job'). Same anatomy as the CC gate test:
    localCheckpoint of the symmetrized deduped edges = 2 jobs, edge
    collect = 1 — 3 total on the driver path; the old separate count
    added 2 more."""
    from sat_bucket_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    sc = spark.sparkContext
    sc.setJobGroup("pr-gate", "route gate + collect")
    out = pagerank(edges, iterations=3)
    sc.setJobGroup("pr-gate-done", "")
    assert _jobs_in_group(spark, "pr-gate") <= 3
    ranks = {r["node"]: r["rank"] for r in out.collect()}
    assert set(ranks) == {1, 2, 3, 10, 11}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_registry_wide_no_row_python(spark):
    """Standing sweep over EVERY registry entry for the two
    never-acceptable plan shapes:

    - ``BatchEvalPython``: row-at-a-time Python (Arrow-batched
      MapInPandas/ArrowEvalPython are the sanctioned Python paths for
      codecs/HTML/BPE/Vincenty);
    - ``CartesianProduct``: a non-broadcast cross product — every
      sanctioned crossJoin in the engine is against a broadcast
      1-row/scalar/tiny frame and therefore plans as
      BroadcastNestedLoopJoin, so a CartesianProduct node can only mean
      a data-sized side slipped out of the broadcast path (the O(n*m)
      shape that cannot survive any scale-up).

    Until r10 both were re-verified by ad-hoc grep each round — this pins
    them as a test. Uses sf0.001 so eager-at-construction keys (graph
    routes, dedup routing probes, LM training) stay cheap."""
    offenders = []
    try:
        for name, fn in E.queries().items():
            try:
                plan = _plan(fn(spark, SF_DIR))
            except Exception as exc:  # construction failure is its own signal
                offenders.append((name, f"construction failed: {exc}"))
                continue
            if "BatchEvalPython" in plan:
                offenders.append((name, "BatchEvalPython in plan"))
            if "CartesianProduct" in plan:
                offenders.append((name, "CartesianProduct in plan"))
    finally:
        # eager keys (graph routes, dedup routing probes) pin stage-cache
        # blocks at construction; don't carry them into the shared session
        spark.catalog.clearCache()
        for _id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()
    assert not offenders, offenders
