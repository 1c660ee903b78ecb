"""Distributed k-means tests vs a local numpy reference."""

from __future__ import annotations

import numpy as np
import pytest

from sat_bucket_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    semantic_dedup,
    semantic_dup_pairs,
)


def _local_lloyd(X, init, n_iter):
    c = np.array(init, dtype="float64")
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        new = c.copy()
        for k in range(len(c)):
            m = X[a == k]
            if len(m):
                new[k] = m.mean(axis=0)
        c = new
    return c


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    X = np.array(
        [r["embedding"] for r in df.select("embedding").collect()], dtype="float64"
    )
    return df, X


class TestKMeans:
    def test_matches_local_reference(self, spark, emb):
        df, X = emb
        init = X[:4].copy()
        got = kmeans_fit(df, dim=X.shape[1], n_clusters=4, init=init, n_iter=5, tol=0.0)
        want = _local_lloyd(X, init, 5)
        np.testing.assert_allclose(got, want, rtol=1e-8, atol=1e-10)

    def test_inertia_decreases(self, spark, emb):
        df, X = emb
        init = X[10:13].copy()
        fitted = kmeans_fit(df, dim=X.shape[1], n_clusters=3, init=init, n_iter=8)

        def inertia(c):
            d2 = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return d2.min(axis=1).sum()

        assert inertia(fitted) <= inertia(init) + 1e-9

    def test_assign_clusters_no_shuffle(self, spark, emb):
        df, X = emb
        out = assign_clusters(df, X[:4])
        assert out.select("cluster").distinct().count() <= 4
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan

    def test_deterministic_default_init(self, spark, emb):
        df, X = emb
        a = kmeans_fit(df, dim=X.shape[1], n_clusters=3, n_iter=2, seed=7)
        b = kmeans_fit(df, dim=X.shape[1], n_clusters=3, n_iter=2, seed=7)
        np.testing.assert_array_equal(a, b)


class TestSemanticDedup:
    THRESHOLD = 0.3

    def _local(self, X, centroids):
        d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        cl = d2.argmin(axis=1)
        norm = X / np.linalg.norm(X, axis=1, keepdims=True)
        cos = np.round(norm @ norm.T, 6)
        return cl, cos

    def test_matches_local_reference(self, spark, emb):
        df, X = emb
        centroids = X[:6].copy()
        ids = [r["vec_id"] for r in df.select("vec_id").collect()]
        cl, cos = self._local(X, centroids)
        dropped = {
            ids[j]
            for j in range(len(ids))
            for i in range(len(ids))
            if ids[i] < ids[j] and cl[i] == cl[j] and cos[i, j] >= self.THRESHOLD
        }
        want = sorted(set(ids) - dropped)
        got = sorted(
            r["vec_id"]
            for r in semantic_dedup(df, centroids, threshold=self.THRESHOLD).collect()
        )
        assert got == want

    def test_dedup_avoids_corpus_shuffle_when_drops_small(
        self, spark, emb, no_broadcast
    ):
        """r17 (§3.1): the drop-id set is measured at materialization; when
        it fits the broadcast bound, the survivor anti-join must be
        PLANNED broadcast — without the hint the corpus (embedding
        payloads included) was SortMergeJoin-shuffled even at a 215-row
        drop set, and AQE did not demote it at runtime. Gate off
        (no_broadcast) must yield identical survivors."""
        df, X = emb
        centroids = X[:6].copy()
        out = semantic_dedup(df, centroids, threshold=self.THRESHOLD)
        out.collect()  # finalize THIS frame's QE through AQE
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, (
            "survivor anti-join shuffle-planned despite a measured-small "
            "drop set"
        )
        assert "LeftAnti" in plan
        got = sorted(r["vec_id"] for r in out.collect())
        with no_broadcast():
            ungated = semantic_dedup(df, centroids, threshold=self.THRESHOLD)
            assert sorted(r["vec_id"] for r in ungated.collect()) == got

    def test_survivor_invariants(self, spark, emb):
        df, X = emb
        centroids = X[:6].copy()
        surv = semantic_dedup(df, centroids, threshold=self.THRESHOLD)
        pairs = semantic_dup_pairs(df, centroids, threshold=self.THRESHOLD)
        # min-id of every cluster survives; no survivor pair is a dup pair
        surv_ids = {r["vec_id"] for r in surv.collect()}
        for r in pairs.collect():
            assert not (r["id_a"] in surv_ids and r["id_b"] in surv_ids)
        cl, _ = self._local(X, centroids)
        ids = np.array([r["vec_id"] for r in df.select("vec_id").collect()])
        for k in set(cl):
            assert ids[cl == k].min() in surv_ids

    def test_pair_volume_bounded_by_clusters(self, spark, emb):
        df, X = emb
        # one cluster -> all-pairs; many clusters -> strictly fewer candidates
        one = semantic_dup_pairs(df, X[:1].copy(), threshold=-1.0).count()
        many = semantic_dup_pairs(df, X[:8].copy(), threshold=-1.0).count()
        n = df.count()
        assert one == n * (n - 1) // 2
        assert many < one
