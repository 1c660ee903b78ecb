"""Tests for the training-data-pipeline operators over the driver testdata."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sat_bucket_spark.operators.dedup import (
    add_simhash,
    dedup_exact,
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles_expr,
)
from sat_bucket_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    pairwise_near_duplicates,
)
from sat_bucket_spark.operators.text import (
    add_fingerprint,
    add_language_id,
    add_quality_score,
    add_token_count,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _executed_joins(df) -> list[tuple[str, str]]:
    """(node class, join type) of every join in ``df``'s executed plan,
    walked through adaptive query stages (``df`` must have run)."""
    joins, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name.endswith("JoinExec"):
            joins.append((name, node.joinType().toString()))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return joins


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


class TestText:
    def test_token_count_matches_python(self, spark, documents):
        rows = add_token_count(documents).select("doc_id", "text", "n_tokens").limit(50).collect()
        for r in rows:
            assert r["n_tokens"] == len(r["text"].split()), r["doc_id"]

    def test_token_count_empty(self, spark):
        df = spark.createDataFrame([("",), ("   ",), ("a b",)], ["text"])
        got = [r["n_tokens"] for r in add_token_count(df).collect()]
        assert got == [0, 0, 2]

    def test_quality_score_range(self, documents):
        rows = add_quality_score(documents).select("quality_score").collect()
        assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [
                ("the cat sat on the mat and it was happy",),
                ("der hund ist nicht auf der strasse und das ist gut",),
                ("xyzzy qwerty",),
            ],
            ["text"],
        )
        got = [r["lang_pred"] for r in add_language_id(df).collect()]
        assert got == ["en", "de", "und"]

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [("Hello,  World!",), ("hello world",), ("different text",)], ["text"]
        )
        fps = [r["fingerprint"] for r in add_fingerprint(df).collect()]
        assert fps[0] == fps[1] != fps[2]


class TestBpeTokensAndRollingHash:
    def test_bpe_tokens_runs(self, spark):
        from sat_bucket_spark.operators.text import bpe_tokens_expr

        df = spark.createDataFrame([(1, "Hello, world42! don't")], ["i", "text"])
        toks = df.select(bpe_tokens_expr("text").alias("t")).collect()[0]["t"]
        assert toks == ["hello", ",", "world", "42", "!", "don", "'", "t"]

    def test_bpe_count_vs_whitespace(self, spark, documents):
        from sat_bucket_spark.operators.text import add_bpe_token_count, add_token_count

        out = add_bpe_token_count(add_token_count(documents.limit(50))).collect()
        # punctuation splits mean BPE-ish count >= whitespace count
        assert all(r["n_bpe_tokens"] >= r["n_tokens"] for r in out)

    def test_rolling_hash_matches_python(self, spark, documents):
        from sat_bucket_spark.operators.text import add_rolling_fingerprint

        rows = add_rolling_fingerprint(documents.limit(30)).select("text", "rhash").collect()
        for r in rows:
            h = 0
            for ch in r["text"]:
                h = (h * 31 + ord(ch)) % 1_000_000_007
            assert r["rhash"] == h

    def test_rolling_hash_empty(self, spark):
        from sat_bucket_spark.operators.text import rolling_hash_expr
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, "")], ["i", "text"])
        assert df.select(rolling_hash_expr("text").alias("h")).collect()[0]["h"] == 0


class TestVocabulary:
    def test_matches_python_counts(self, spark, documents):
        from collections import Counter

        from sat_bucket_spark.operators.text import vocabulary

        docs = documents.limit(100).cache()
        got = {
            r["token"]: (r["term_freq"], r["doc_freq"])
            for r in vocabulary(docs).collect()
        }
        tf, df_ = Counter(), Counter()
        for r in docs.select("doc_id", "text").collect():
            toks = [t for t in (r["text"] or "").lower().split() if t]
            tf.update(toks)
            df_.update(set(toks))
        assert got == {t: (tf[t], df_[t]) for t in tf}

    def test_top_k_deterministic_cut(self, spark, documents):
        from sat_bucket_spark.operators.text import vocabulary

        a = [tuple(r) for r in vocabulary(documents, top_k=10).collect()]
        b = [tuple(r) for r in vocabulary(documents, top_k=10).collect()]
        assert a == b and len(a) <= 10

    def test_min_doc_freq(self, spark, documents):
        from sat_bucket_spark.operators.text import vocabulary

        out = vocabulary(documents, min_doc_freq=5).collect()
        assert all(r["doc_freq"] >= 5 for r in out)


class TestExactDedup:
    def test_duplicate_groups(self, spark):
        df = spark.createDataFrame(
            [(1, "aa"), (2, "aa"), (3, "bb"), (4, "aa")], ["doc_id", "text"]
        )
        groups = exact_duplicate_groups(df, ["text"]).collect()
        assert len(groups) == 1
        g = groups[0]
        assert g["n_docs"] == 3 and g["keep_id"] == 1 and g["doc_ids"] == [1, 2, 4]

    def test_dedup_exact_deterministic(self, spark):
        df = spark.createDataFrame(
            [(4, "aa"), (2, "aa"), (3, "bb")], ["doc_id", "text"]
        )
        kept = sorted(r["doc_id"] for r in dedup_exact(df, ["text"]).collect())
        assert kept == [2, 3]


class TestMinHash:
    def test_shingles(self, spark):
        df = spark.createDataFrame([("abcdef",), ("ab",)], ["text"])
        rows = df.select(shingles_expr("text", 3).alias("s")).collect()
        assert rows[0]["s"] == ["abc", "bcd", "cde", "def"]
        assert rows[1]["s"] == ["ab"]  # shorter than k -> whole text

    def test_identical_docs_identical_signatures(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different content here")],
            ["doc_id", "text"],
        )
        sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(df).collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[3]

    def test_lsh_finds_near_duplicates(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "zzz totally unrelated qqq")],
            ["doc_id", "text"],
        )
        sigs = minhash_signatures(df, n_hashes=16)
        pairs = lsh_candidate_pairs(sigs, n_bands=8).collect()
        pair_ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in pair_ids
        est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
        assert est[(1, 2)] > 0.5

    def test_dedup_pairs_duplicate_heavy_corpus(self, spark):
        """r8 distinct-text engine: exact copies take the within class
        (jaccard exactly 1.0, no banding), near-dups the across class;
        short texts (no shingles) never pair even when duplicated —
        matching the signature path, which drops them at the group-by."""
        from sat_bucket_spark.operators.dedup import (
            minhash_lsh_dedup_pairs,
            ngram_jaccard_pairs,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        texts = [base, base + " extra words here", "zz unrelated corpus row qq", "shrt"]
        rows = [(10 * i + c, t) for i, t in enumerate(texts) for c in range(4)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_dedup_pairs(
                df, n_hashes=16, n_bands=8, shingle_size=8, min_jaccard=0.1
            ).collect()
        }
        # every copy pair of every text at exactly 1.0 — including 'shrt',
        # whose sub-k text yields one whole-text shingle by contract
        for i in (0, 10, 20, 30):
            for a in range(4):
                for b in range(a + 1, 4):
                    assert got[(i + a, i + b)] == 1.0
        # …but 'shrt' never pairs ACROSS with any other text
        assert not any(
            (30 <= a < 40) != (30 <= b < 40) for a, b in got
        )
        # across-class jaccards equal the exact all-pairs truth
        truth = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, shingle_size=8).collect()
        }
        for (a, b), j in got.items():
            assert truth[(a, b)] == j

    def test_minhash_estimates_jaccard(self, spark, documents):
        # MinHash estimate should correlate with exact n-gram Jaccard
        docs = documents.limit(30)
        sigs = minhash_signatures(docs, n_hashes=32)
        pairs = lsh_candidate_pairs(sigs, n_bands=16)
        exact = ngram_jaccard_pairs(docs)
        joined = pairs.join(exact, ["id_a", "id_b"]).collect()
        for r in joined:
            assert abs(r["est_jaccard"] - r["jaccard"]) < 0.45  # 32 hashes: coarse


class TestNgramJaccard:
    def test_exact_jaccard_values(self, spark):
        df = spark.createDataFrame([(1, "abcd"), (2, "abcde"), (3, "zzzz")], ["doc_id", "text"])
        # 3-shingles: doc1 {abc,bcd}, doc2 {abc,bcd,cde}, doc3 {zzz}
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, shingle_size=3).collect()
        }
        assert got == {(1, 2): round(2 / 3, 6)}

    def test_min_jaccard_filter(self, spark):
        df = spark.createDataFrame([(1, "abcd"), (2, "abcde")], ["doc_id", "text"])
        assert ngram_jaccard_pairs(df, shingle_size=3, min_jaccard=0.9).count() == 0


class TestWordShingles:
    def test_word_ngrams(self, spark):
        df = spark.createDataFrame([("The quick brown fox",)], ["text"])
        rows = df.select(shingles_expr("text", 2, unit="word").alias("s")).collect()
        assert rows[0]["s"] == ["the quick", "quick brown", "brown fox"]

    def test_short_doc_single_shingle(self, spark):
        df = spark.createDataFrame([("hello",)], ["text"])
        rows = df.select(shingles_expr("text", 3, unit="word").alias("s")).collect()
        assert rows[0]["s"] == ["hello"]


class TestIVF:
    def test_ivf_topk_contains_self_and_matches_brute(self, spark, embeddings):
        from sat_bucket_spark.operators.similarity import ivf_topk

        emb = embeddings.limit(200).withColumn(
            "embedding",
            F.transform("embedding", lambda x: x.cast("double")),
        ).cache()
        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = ivf_topk(emb, queries, dim=64, k=3, n_clusters=8, n_probe=3)
        rows = got.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
        brute = brute_force_topk(emb, queries, k=3).collect()
        brute_top1 = {r["query_id"]: r["vec_id"] for r in brute if r["rank"] == 1}
        for qid, pairs in by_q.items():
            ids = [v for _, v in sorted(pairs)]
            assert qid in ids  # self always in its own probed cluster
            assert ids[0] == brute_top1[qid]  # rank-1 agrees with brute force


class TestPQ:
    def test_codebooks_shape_and_determinism(self, spark, embeddings):
        from sat_bucket_spark.operators.similarity import train_pq_codebooks

        b1 = train_pq_codebooks(embeddings, dim=64, m=4, ksub=8, sample_rows=100)
        b2 = train_pq_codebooks(embeddings, dim=64, m=4, ksub=8, sample_rows=100)
        assert b1.shape == (4, 8, 16)
        assert (b1 == b2).all()

    def test_encode_codes_in_range(self, spark, embeddings):
        import numpy as np

        from sat_bucket_spark.operators.similarity import _hyperplanes, pq_encode

        books = np.stack([_hyperplanes(8, 16, seed=11 + j) for j in range(4)])
        out = pq_encode(embeddings.limit(50), books).select("pq_code").collect()
        for r in out:
            assert len(r["pq_code"]) == 4
            assert all(0 <= c < 8 for c in r["pq_code"])

    def test_pq_topk_matches_numpy_adc(self, spark, embeddings):
        """Exact-semantics oracle: same codebooks, same encode argmin, same
        ADC sum and (adist, id) ranking recomputed in numpy."""
        import numpy as np

        from sat_bucket_spark.operators.similarity import _hyperplanes, pq_topk

        books = np.stack([_hyperplanes(8, 16, seed=11 + j) for j in range(4)])
        emb = embeddings.limit(200).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = pq_topk(emb, queries, dim=64, k=5, codebooks=books).collect()

        pdf = emb.select("vec_id", "embedding").toPandas()
        X = np.array(pdf["embedding"].tolist())
        ids = pdf["vec_id"].to_numpy()
        m, ksub, dsub = books.shape
        codes = np.zeros((len(X), m), dtype=int)
        for j in range(m):
            Xj = X[:, j * dsub : (j + 1) * dsub]
            scores = (books[j] ** 2).sum(axis=1)[None, :] - 2 * Xj @ books[j].T
            codes[:, j] = scores.argmin(axis=1)
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["adist"]))
        for qid, rows in by_q.items():
            qv = X[ids == qid][0]
            lut = np.stack(
                [
                    (books[j] ** 2).sum(axis=1)
                    - 2 * (qv[j * dsub : (j + 1) * dsub] @ books[j].T)
                    for j in range(m)
                ]
            )
            ad = np.round(
                [sum(lut[j][codes[i, j]] for j in range(m)) for i in range(len(X))], 6
            )
            order = sorted(range(len(X)), key=lambda i: (ad[i], ids[i]))[:5]
            expected = [(r + 1, int(ids[i]), float(ad[i])) for r, i in enumerate(order)]
            assert sorted(rows) == expected

    def test_pq_scan_side_carries_codes_not_vectors(self, spark, embeddings):
        """The ADC join must stream (id, pq_code) — the raw embedding array
        must not appear in the join output (that is the whole memory win)."""
        import numpy as np

        from sat_bucket_spark.operators.similarity import _hyperplanes, pq_topk

        books = np.stack([_hyperplanes(8, 16, seed=11 + j) for j in range(4)])
        emb = embeddings.withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries = emb.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        plan = (
            pq_topk(emb, queries, dim=64, k=3, codebooks=books)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
        assert join_lines and all("embedding" not in ln for ln in join_lines)


class TestSimHash:
    def test_identical_equal_near_differs(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "abc")],
            ["doc_id", "text"],
        )
        h = {r["doc_id"]: r["simhash"] for r in add_simhash(df).collect()}
        assert h[1] == h[2]
        assert h[1] != h[3]

    def test_near_duplicates_close_hamming(self, spark):
        a = "the quick brown fox jumps over the lazy dog and runs far away today"
        b = a + " tomorrow"
        df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
        h = {r["doc_id"]: r["simhash"] for r in add_simhash(df, n_bits=24).collect()}
        hamming = bin(h[1] ^ h[2]).count("1")
        assert hamming <= 8

    def test_banded_pairs_match_bruteforce(self, spark, documents):
        from sat_bucket_spark.operators.dedup import simhash_near_dup_pairs

        docs = documents.limit(200)
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dup_pairs(
                docs, n_bits=24, max_hamming=5, n_bands=6
            ).collect()
        }
        sigs = {r["doc_id"]: r["simhash"] for r in add_simhash(docs, n_bits=24).collect()}
        ids = sorted(sigs)
        exp = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 5
        }
        assert got == exp
        assert exp  # non-vacuous: the fixture must produce at least one pair

    def test_banded_pairs_validation(self, spark, documents):
        from sat_bucket_spark.operators.dedup import simhash_near_dup_pairs

        with pytest.raises(ValueError, match="n_bands"):
            simhash_near_dup_pairs(documents, max_hamming=4, n_bands=4)
        with pytest.raises(ValueError, match="divisible"):
            simhash_near_dup_pairs(documents, n_bits=24, max_hamming=3, n_bands=5)

    def test_banded_pairs_plan_no_cartesian(self, spark, documents):
        from sat_bucket_spark.operators.dedup import simhash_near_dup_pairs

        out = simhash_near_dup_pairs(documents.limit(50))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert "Python" not in plan


class TestSimilarity:
    def test_brute_force_topk_matches_numpy(self, spark, embeddings):
        emb = embeddings.limit(100).cache()
        queries = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = brute_force_topk(emb, queries, k=5).collect()
        # numpy oracle
        pdf = emb.toPandas()
        mat = np.array(pdf["embedding"].tolist(), dtype="float64")
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(mat, axis=1)
        for qid in {r["query_id"] for r in got}:
            qv = mat[ids == qid][0]
            sims = mat @ qv / (norms * np.linalg.norm(qv) + 1e-300)
            order = sorted(zip(-np.round(sims, 6), ids))[:5]
            expect = [int(i) for _, i in order]
            mine = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
            assert mine == expect, qid

    def test_topk_norm_folds_once_per_row_not_per_pair(self, spark, embeddings):
        """r16: brute/ivf top-k carry per-row norm columns (__vn/__qn) so
        the post-join pair projection is dot + multiply + divide — the two
        sqrt(aggregate(...)) norm folds run once per ROW below the join.
        The r15 shape inlined cosine_expr's norms in the pair projection:
        4 SQRT occurrences re-evaluated for every candidate pair."""
        from sat_bucket_spark.operators.similarity import ivf_topk

        emb = embeddings.limit(100)
        queries = emb.limit(2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        dim = len(embeddings.select("embedding").first()[0])
        brute_plan = (
            brute_force_topk(emb, queries, k=3, dim=dim)
            ._jdf.queryExecution().executedPlan().toString()
        )
        ivf_plan = (
            ivf_topk(emb, queries, k=3, n_clusters=4, n_probe=2, dim=dim)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert brute_plan.count("SQRT") == 2  # corpus-side + query-side, per row
        assert ivf_plan.count("SQRT") == 2

    def test_self_similarity_rank1(self, spark, embeddings):
        emb = embeddings.limit(50)
        queries = emb.limit(2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = brute_force_topk(emb, queries, k=1).collect()
        for r in got:
            assert r["vec_id"] == r["query_id"]  # self is most similar
            assert r["cosine"] == pytest.approx(1.0, abs=1e-5)

    def test_lsh_topk_contains_self(self, spark, embeddings):
        dim = len(embeddings.select("embedding").first()[0])
        emb = embeddings.limit(100)
        queries = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = lsh_topk(emb, queries, dim=dim, k=5, n_planes=4).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r["vec_id"])
        for qid, ids in by_q.items():
            assert qid in ids  # same bucket as itself, rank 1

    def test_pairwise_near_duplicates_threshold(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = pairwise_near_duplicates(df, threshold=0.99).collect()
        assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}

    def test_lsh_near_dup_equals_verify_over_candidates(self, spark, embeddings):
        from sat_bucket_spark.operators.similarity import (
            lsh_near_dup_pairs,
            random_hyperplane_signature,
        )

        emb = (
            embeddings.limit(300)
            .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
            .cache()
        )
        thr = 0.3
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in lsh_near_dup_pairs(
                emb, dim=64, threshold=thr, n_planes=8, n_bands=2
            ).collect()
        }
        # deterministic oracle: recompute candidates from the same seeded
        # bucketings, verify with the all-pairs result
        cands = set()
        for band in range(2):
            sig = random_hyperplane_signature(
                emb, dim=64, n_planes=8, out="b", seed=42 + band
            )
            buckets = {}
            for r in sig.select("vec_id", "b").collect():
                buckets.setdefault(r["b"], []).append(r["vec_id"])
            for ids in buckets.values():
                ids = sorted(ids)
                for i, a in enumerate(ids):
                    for b in ids[i + 1 :]:
                        cands.add((a, b))
        exact = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in pairwise_near_duplicates(emb, threshold=thr).collect()
        }
        expected = {p: c for p, c in exact.items() if p in cands}
        assert got == expected
        assert expected  # fixture must make the check non-vacuous

    def test_lsh_near_dup_plan_no_cartesian(self, spark, embeddings):
        from sat_bucket_spark.operators.similarity import lsh_near_dup_pairs

        out = lsh_near_dup_pairs(embeddings.limit(50), dim=64)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert "Python" not in plan


class TestDecontamination:
    def test_overlap_fractions(self, spark):
        train = spark.createDataFrame(
            [
                (1, "a b c d e"),          # 3-grams: abc bcd cde
                (2, "x y z w"),            # 3-grams: xyz yzw — no overlap
                (3, "a b c"),              # single 3-gram, fully contaminated
            ],
            ["doc_id", "text"],
        )
        ev = spark.createDataFrame([(100, "a b c d q")], ["doc_id", "text"])
        from sat_bucket_spark.operators.dedup import decontamination_report

        rows = {
            r["doc_id"]: r
            for r in decontamination_report(
                train, ev, ngram_size=3, threshold=0.5
            ).collect()
        }
        assert rows[1]["n_ngrams"] == 3 and rows[1]["n_contaminated"] == 2
        assert rows[1]["contamination"] == pytest.approx(2 / 3, abs=1e-6)
        assert rows[1]["is_contaminated"]
        assert rows[2]["n_contaminated"] == 0 and not rows[2]["is_contaminated"]
        assert rows[3]["contamination"] == 1.0 and rows[3]["is_contaminated"]

    def test_short_docs_survive(self, spark):
        train = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])
        ev = spark.createDataFrame([(2, "solo")], ["doc_id", "text"])
        from sat_bucket_spark.operators.dedup import decontamination_report

        row = decontamination_report(train, ev, ngram_size=3).collect()[0]
        assert row["n_ngrams"] == 1 and row["contamination"] == 1.0


class TestBloomDecontamination:
    def _corpus(self, spark):
        import random

        rng = random.Random(11)
        words = [f"w{i}" for i in range(80)]
        rows = [
            (i, " ".join(rng.choices(words, k=rng.randint(4, 30))))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return df.where("doc_id % 5 != 0"), df.where("doc_id % 5 = 0")

    def test_matches_exact_when_filter_is_large(self, spark):
        """A generously-sized filter has ~no false positives: the Bloom
        report must equal the exact report row for row."""
        from sat_bucket_spark.operators.dedup import (
            decontamination_report,
            decontamination_report_bloom,
        )

        train, ev = self._corpus(spark)
        exact = {
            r["doc_id"]: r
            for r in decontamination_report(
                train, ev, ngram_size=3, threshold=0.4
            ).collect()
        }
        bloom = {
            r["doc_id"]: r
            for r in decontamination_report_bloom(
                train, ev, ngram_size=3, threshold=0.4, n_bits=1 << 22
            ).collect()
        }
        assert set(exact) == set(bloom)
        for d in exact:
            assert bloom[d]["n_ngrams"] == exact[d]["n_ngrams"]
            assert bloom[d]["n_contaminated"] == exact[d]["n_contaminated"]
            assert bloom[d]["is_contaminated"] == exact[d]["is_contaminated"]

    def test_error_is_one_sided(self, spark):
        """An undersized filter may over-flag (false positives) but must
        NEVER report fewer contaminated n-grams than the exact set path."""
        from sat_bucket_spark.operators.dedup import (
            decontamination_report,
            decontamination_report_bloom,
        )

        train, ev = self._corpus(spark)
        exact = {
            r["doc_id"]: r["n_contaminated"]
            for r in decontamination_report(train, ev, ngram_size=3).collect()
        }
        # 256 bits for hundreds of n-grams: saturated, heavy FP rate.
        bloom = {
            r["doc_id"]: r["n_contaminated"]
            for r in decontamination_report_bloom(
                train, ev, ngram_size=3, n_bits=256
            ).collect()
        }
        assert all(bloom[d] >= exact[d] for d in exact)
        assert sum(bloom.values()) > sum(exact.values())  # genuinely saturated

    def test_bitmap_is_bounded(self, spark):
        """The built bitmap never exceeds n_bits/64 rows — the property that
        makes it broadcastable however large the reference corpus is."""
        from sat_bucket_spark.operators.dedup import build_ngram_bloom

        train, ev = self._corpus(spark)
        n_bits = 1 << 10
        bm = build_ngram_bloom(train.union(ev), n_bits=n_bits).collect()
        assert 0 < len(bm) <= n_bits // 64
        assert all(r["__word"] < n_bits // 64 for r in bm)

    def test_map_only_variant_matches_exploded_path(self, spark):
        """add_bloom_contamination (driver bitmap + pandas-UDF probe) must
        equal decontamination_report_bloom row for row — same hash family,
        same bits, different execution shape."""
        from sat_bucket_spark.operators.dedup import (
            add_bloom_contamination,
            bloom_filter_bytes,
            build_ngram_bloom,
            decontamination_report_bloom,
        )

        train, ev = self._corpus(spark)
        n_bits = 1 << 12  # small on purpose: false positives must agree too
        bloom = build_ngram_bloom(ev, ngram_size=3, n_bits=n_bits)
        bb = bloom_filter_bytes(bloom, n_bits)
        got = {
            r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["is_contaminated"])
            for r in add_bloom_contamination(
                train, bb, ngram_size=3, threshold=0.4, n_bits=n_bits
            ).collect()
        }
        want = {
            r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["is_contaminated"])
            for r in decontamination_report_bloom(
                train, ev, ngram_size=3, threshold=0.4, n_bits=n_bits
            ).collect()
        }
        assert got == want

    def test_map_only_variant_streams(self, spark, tmp_path):
        """Zero-shuffle probe composes with Structured Streaming unchanged."""
        from sat_bucket_spark.operators.dedup import (
            add_bloom_contamination,
            bloom_filter_bytes,
            build_ngram_bloom,
        )

        train, ev = self._corpus(spark)
        d = str(tmp_path / "stream_in")
        train.coalesce(1).write.mode("overwrite").parquet(d)
        n_bits = 1 << 12
        bb = bloom_filter_bytes(build_ngram_bloom(ev, n_bits=n_bits), n_bits)
        schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(schema).parquet(d)
        out = add_bloom_contamination(stream, bb, n_bits=n_bits).drop("text")
        q = (
            out.writeStream.format("memory")
            .queryName("bloom_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["n_contaminated"]
            for r in spark.sql("SELECT * FROM bloom_stream").collect()
        }
        batch = {
            r["doc_id"]: r["n_contaminated"]
            for r in add_bloom_contamination(
                spark.read.parquet(d), bb, n_bits=n_bits
            ).collect()
        }
        assert got == batch and len(got) == 48

    def test_probe_plan_is_broadcast(self, spark):
        from sat_bucket_spark.operators.dedup import decontamination_report_bloom

        train, ev = self._corpus(spark)
        out = decontamination_report_bloom(train, ev)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "Python" not in plan


class TestRepetitionSignals:
    def test_signals(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a a a a"),        # all dup words; top bigram "a a" = 3/3
                (2, "a b c d"),        # no dups; every bigram unique -> 1/3
                (3, "go go go stop"),  # 2 dup of 4; bigrams: "go go" x2 of 3
            ],
            ["doc_id", "text"],
        )
        from sat_bucket_spark.operators.text import repetition_signals

        rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        assert rows[1]["n_words"] == 4
        assert rows[1]["dup_word_frac"] == pytest.approx(0.75)
        assert rows[1]["top_bigram_frac"] == pytest.approx(1.0)
        assert rows[2]["dup_word_frac"] == pytest.approx(0.0)
        assert rows[2]["top_bigram_frac"] == pytest.approx(1 / 3, abs=1e-6)
        assert rows[3]["dup_word_frac"] == pytest.approx(0.5)
        assert rows[3]["top_bigram_frac"] == pytest.approx(2 / 3, abs=1e-6)

    def test_single_word_doc(self, spark):
        df = spark.createDataFrame([(1, "word")], ["doc_id", "text"])
        from sat_bucket_spark.operators.text import repetition_signals

        row = repetition_signals(df).collect()[0]
        assert row["n_words"] == 1
        assert row["dup_word_frac"] == 0.0
        assert row["top_bigram_frac"] == 1.0


class TestEmbeddingDecontamination:
    def test_self_contamination_is_exact(self, spark, embeddings):
        """A train vector identical to an eval vector must flag at cosine 1."""
        from sat_bucket_spark.operators.similarity import embedding_decontamination

        emb = embeddings.limit(50).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        ev = emb.where(F.col("vec_id") < 3).select("embedding")
        out = embedding_decontamination(emb, ev, dim=64, threshold=0.99)
        got = {r["vec_id"]: (r["max_cosine"], r["is_contaminated"]) for r in out.collect()}
        for vid in (0, 1, 2):
            assert got[vid][0] == 1.0 and got[vid][1]
        assert len(got) == 50  # every train row reported

    def test_matches_numpy_max_cosine(self, spark, embeddings):
        import numpy as np

        from sat_bucket_spark.operators.similarity import embedding_decontamination

        emb = embeddings.limit(80).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        ev = emb.where(F.col("vec_id") % 7 == 0).select("embedding")
        tr = emb.where(F.col("vec_id") % 7 != 0)
        got = {
            r["vec_id"]: r["max_cosine"]
            for r in embedding_decontamination(tr, ev, dim=64, threshold=0.5).collect()
        }
        pdf = emb.select("vec_id", "embedding").toPandas()
        X = np.array(pdf["embedding"].tolist())
        ids = pdf["vec_id"].to_numpy()
        E = X[ids % 7 == 0]
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
        for i, vid in enumerate(ids):
            if vid % 7 == 0:
                continue
            v = X[i] / np.linalg.norm(X[i])
            expected = np.round(En @ v, 6).max()
            assert abs(got[int(vid)] - expected) < 1e-6

    def test_plan_broadcasts_eval_no_python(self, spark, embeddings):
        from sat_bucket_spark.operators.similarity import embedding_decontamination

        emb = embeddings.withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        ev = emb.where(F.col("vec_id") < 5).select("embedding")
        plan = (
            embedding_decontamination(emb, ev, dim=64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Broadcast" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # partial max runs before the exchange: the shuffle carries no arrays
        exch = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
        assert exch and all("__tv" not in ln and "embedding" not in ln for ln in exch)


class TestIVFPQ:
    def test_matches_numpy_composition(self, spark, embeddings):
        """ivfpq == (IVF probe filter) ∘ (PQ ADC ranking), recomputed in numpy."""
        import numpy as np

        from sat_bucket_spark.operators.similarity import _hyperplanes, ivfpq_topk

        cents = _hyperplanes(8, 64, seed=7)
        books = np.stack([_hyperplanes(8, 16, seed=11 + j) for j in range(4)])
        emb = embeddings.limit(200).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = ivfpq_topk(
            emb, queries, dim=64, k=5, n_probe=2, centroids=cents, codebooks=books
        ).collect()

        pdf = emb.select("vec_id", "embedding").toPandas()
        X = np.array(pdf["embedding"].tolist())
        ids = pdf["vec_id"].to_numpy()
        cl = (
            (cents**2).sum(axis=1)[None, :] - 2 * X @ cents.T
        ).argmin(axis=1)
        m, ksub, dsub = books.shape
        codes = np.zeros((len(X), m), dtype=int)
        for j in range(m):
            Xj = X[:, j * dsub : (j + 1) * dsub]
            scores = (books[j] ** 2).sum(axis=1)[None, :] - 2 * Xj @ books[j].T
            codes[:, j] = scores.argmin(axis=1)
        d2 = ((cents[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        probes = {c: set(d2[c].argsort()[:2]) for c in range(8)}
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["adist"]))
        for qid, rows in by_q.items():
            qi = int(np.where(ids == qid)[0][0])
            qv = X[qi]
            lut = np.stack(
                [
                    (books[j] ** 2).sum(axis=1)
                    - 2 * (qv[j * dsub : (j + 1) * dsub] @ books[j].T)
                    for j in range(m)
                ]
            )
            cand = [i for i in range(len(X)) if cl[i] in probes[cl[qi]]]
            ad = {i: round(sum(lut[j][codes[i, j]] for j in range(m)), 6) for i in cand}
            order = sorted(cand, key=lambda i: (ad[i], ids[i]))[:5]
            expected = [(r + 1, int(ids[i]), float(ad[i])) for r, i in enumerate(order)]
            assert sorted(rows) == expected


class TestEmbeddingPooling:
    def test_mean_pool_matches_numpy(self, spark, embeddings):
        import numpy as np

        from sat_bucket_spark.operators.similarity import pool_embeddings

        got = {
            r["label"]: (r["pooled"], r["n_members"])
            for r in pool_embeddings(embeddings, ["label"], dim=64).collect()
        }
        pdf = embeddings.select("label", "embedding").toPandas()
        for label, grp in pdf.groupby("label"):
            X = np.array(grp["embedding"].tolist(), dtype="float64")
            expected = np.round(X.mean(axis=0), 6)
            pooled, n = got[label]
            assert n == len(X)
            assert np.allclose(pooled, expected, atol=1e-6)

    def test_no_collect_list_one_exchange(self, spark, embeddings):
        from sat_bucket_spark.operators.similarity import pool_embeddings

        plan = (
            pool_embeddings(embeddings, ["label"], dim=64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "collect_list" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "partial_avg" in plan or "partial" in plan.lower()

    def test_l2_normalize(self, spark):
        from sat_bucket_spark.operators.similarity import l2_normalize, norm_expr
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["id", "embedding"]
        )
        out = {r["id"]: r["embedding"] for r in l2_normalize(df).collect()}
        assert out[1] == [0.6, 0.8]
        assert out[2] == [0.0, 0.0]  # zero vector passes through, no NaN

    def test_l2_normalize_binds_norm_once(self, spark):
        """The O(dim) norm fold must appear ONCE in the plan (bound via the
        array-wrap lambda variable), not re-evaluated per element inside the
        division lambda — that would make normalization O(dim^2) per row."""
        from sat_bucket_spark.operators.similarity import l2_normalize

        df = spark.createDataFrame([(1, [3.0, 4.0])], ["id", "embedding"])
        plan = str(l2_normalize(df)._jdf.queryExecution().analyzed())
        assert plan.lower().count("aggregate(") == 1


class TestNaiveBayes:
    def test_separates_classes(self, spark):
        """NB trained on lang=='en' must rank en docs above others."""
        from sat_bucket_spark.operators.classify import (
            score_with_token_weights,
            train_token_classifier,
        )

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        labeled = docs.withColumn("is_en", (F.col("lang") == "en").cast("int"))
        weights, prior = train_token_classifier(labeled, "is_en")
        scored = score_with_token_weights(docs, weights, prior=prior).join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        rows = scored.collect()
        en = [r["nb_score"] for r in rows if r["lang"] == "en"]
        other = [r["nb_score"] for r in rows if r["lang"] != "en"]
        assert en and other
        # mean separation and a directional pairwise-ordering (AUC) bound;
        # the synthetic corpus shares most vocabulary across languages, so
        # measured AUC is ~0.66 — assert the signal, not a fantasy margin.
        assert sum(en) / len(en) > sum(other) / len(other)
        import random

        rng = random.Random(0)
        wins = sum(
            1
            for _ in range(2000)
            if rng.choice(en) > rng.choice(other)
        )
        assert wins / 2000 > 0.6

    def test_empty_token_docs_score_prior(self, spark):
        """A document whose token array is empty must still get an output
        row scoring exactly `prior` (explode_outer), not silently vanish."""
        from sat_bucket_spark.operators.classify import score_with_token_weights

        df = spark.createDataFrame(
            [(1, "good text here"), (2, "   "), (3, None)],
            ["doc_id", "text"],
        )
        weights = spark.createDataFrame(
            [("good", 1.5), ("text", 0.25)], ["token", "weight"]
        )
        out = {
            r["doc_id"]: r["nb_score"]
            for r in score_with_token_weights(df, weights, prior=-0.5).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[1] == 1.25  # 1.5 + 0.25 + 0 (unknown 'here') - 0.5
        assert out[2] == -0.5
        assert out[3] == -0.5

    def test_empty_corpus_raises(self, spark):
        from sat_bucket_spark.operators.classify import train_token_classifier
        import pytest

        empty = spark.createDataFrame([(1, "  ", 1)], ["doc_id", "text", "y"])
        with pytest.raises(ValueError, match="empty vocabulary"):
            train_token_classifier(empty, "y")

    def test_deterministic(self, spark):
        from sat_bucket_spark.operators.classify import train_token_classifier

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
            "y", (F.col("lang") == "en").cast("int")
        )
        w1, p1 = train_token_classifier(docs, "y")
        w2, p2 = train_token_classifier(docs, "y")
        assert p1 == p2
        assert sorted(map(tuple, w1.collect())) == sorted(map(tuple, w2.collect()))


class TestLshDedupAgainst:
    def test_drops_known_near_dups_keeps_rest(self, spark, embeddings):
        """A batch vector IDENTICAL to a corpus vector must drop (same bucket
        in every band, cosine 1); an orthogonal-ish vector must survive."""
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.similarity import lsh_dedup_against

        emb = embeddings.limit(60).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        corpus = emb.where(F.col("vec_id") >= 10)
        # batch: clones of corpus vectors 10..14 under new ids + 5 originals <10
        clones = corpus.where(F.col("vec_id") < 15).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
        )
        batch = emb.where(F.col("vec_id") < 5).unionByName(clones)
        out = lsh_dedup_against(batch, corpus, dim=64, threshold=0.99)
        kept = {r["vec_id"] for r in out.select("vec_id").collect()}
        assert not (kept & {1000, 1001, 1002, 1003, 1004})  # clones dropped
        assert {0, 1, 2, 3, 4} <= kept | {1000}  # originals judged on cosine only

    def test_candidates_never_batch_internal(self, spark, embeddings):
        """Two identical vectors INSIDE the batch must both survive when the
        corpus holds nothing similar — cross-set semantics, not self-dedup."""
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.similarity import lsh_dedup_against

        emb = embeddings.limit(30).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        one = emb.where(F.col("vec_id") == 0)
        dup = one.select((F.col("vec_id") + 7777).alias("vec_id"), "embedding", "label")
        batch = one.unionByName(dup)
        corpus = emb.where(F.col("vec_id") >= 20)
        out = lsh_dedup_against(batch, corpus, dim=64, threshold=0.999999)
        kept = {r["vec_id"] for r in out.select("vec_id").collect()}
        assert kept == {0, 7777}


class TestMinhashIndex:
    """Persisted LSH dedup index: build once, probe nightly batches, append
    survivors — without re-signaturing (or even touching) corpus text."""

    def _corpus_and_batch(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        corpus = docs.where(F.col("doc_id") % 3 != 0)
        # batch: near-dups of corpus docs (suffix edit) + genuinely new texts
        batch = docs.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100_000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 6 == 0, F.concat(F.col("text"), F.lit(" tail"))
            )
            .otherwise(F.concat(F.lit("fresh "), F.col("doc_id"), F.lit(" unseen")))
            .alias("text"),
        )
        return corpus, batch

    def test_probe_equals_direct_operator(self, spark, tmp_path):
        """Survivors from the index probe must equal minhash_dedup_against
        on the same (batch, corpus) — same seeded signatures, Jaccard over
        60-bit hashed shingles vs exact strings (collisions measure-zero
        on real data)."""
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            minhash_dedup_against,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        # the near-dup batch half must actually be near-dups under these
        # params for the test to be non-vacuous
        want = {
            r["doc_id"]
            for r in minhash_dedup_against(
                batch, corpus, n_hashes=8, n_bands=4, shingle_size=8,
                min_jaccard=0.5,
            ).collect()
        }
        n_batch = batch.count()
        assert 0 < len(want) < n_batch  # some dropped, some survive

        idx = str(tmp_path / "mh_index")
        build_minhash_index(
            corpus, idx, n_hashes=8, n_bands=4, shingle_size=8
        )
        got = {
            r["doc_id"]
            for r in minhash_dedup_against_index(
                batch, idx, min_jaccard=0.5
            ).collect()
        }
        assert got == want

    def test_direct_operator_avoids_shuffles_and_matches_ungated(
        self, spark, no_broadcast
    ):
        """r17 (§1.2/§3.1): minhash_dedup_against carries the index
        probe's measured-gate contract — with a small candidate count the
        verify sides are semi-pre-filtered and the verify/anti joins are
        broadcast-planned (no SortMergeJoin over the shingle arrays).
        Gate off (no_broadcast) must yield identical survivors."""
        from sat_bucket_spark.operators.dedup import minhash_dedup_against

        corpus, batch = self._corpus_and_batch(spark)
        out = minhash_dedup_against(
            batch, corpus, n_hashes=8, n_bands=4, shingle_size=8,
            min_jaccard=0.5,
        )
        out.collect()  # finalize THIS frame's QE through AQE
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "LeftSemi" in plan, "verify-side candidate pre-filter missing"
        got = sorted(r["doc_id"] for r in out.collect())
        with no_broadcast():
            ungated = minhash_dedup_against(
                batch, corpus, n_hashes=8, n_bands=4, shingle_size=8,
                min_jaccard=0.5,
            )
            assert sorted(r["doc_id"] for r in ungated.collect()) == got

    def test_append_makes_new_docs_visible(self, spark, tmp_path):
        """After appending a batch's survivors, an exact re-submission of
        one of them must be dropped by the next probe (the nightly loop:
        probe -> keep survivors -> append them)."""
        from sat_bucket_spark.operators.dedup import (
            append_to_minhash_index,
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_app")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        survivors = minhash_dedup_against_index(batch, idx, min_jaccard=0.5)
        n_surv = survivors.count()
        assert n_surv > 0
        append_to_minhash_index(survivors, idx)
        resubmit = survivors.select(
            (F.col("doc_id") + 500_000).alias("doc_id"), "text"
        )
        again = minhash_dedup_against_index(resubmit, idx, min_jaccard=0.5)
        assert again.count() == 0  # every resubmitted text now indexed

    def test_probe_plan_never_reads_corpus_text(self, spark, tmp_path):
        """The point of the index: the probe touches ONLY the batch file
        and the index's band/shingle tables — the corpus parquet appears
        nowhere in the probe plan (the nightly 100 TB rescan this kills)."""
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_plan")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        # stage the batch to its own file so scan provenance is unambiguous
        batch_path = str(tmp_path / "nightly_batch")
        batch.write.parquet(batch_path)
        out = minhash_dedup_against_index(
            spark.read.parquet(batch_path), idx, min_jaccard=0.5
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in plan  # corpus never scanned
        # the shingle table IS read lazily in the verify join (plan paths
        # truncate, so assert via its read schema); the band equi-join ran
        # at call time (the candidate set is eagerly stage-cached so its
        # count can gate the broadcast posture) and so feeds the plan as a
        # materialized scan, not a parquet read
        assert "shingle_set" in plan
        assert out.count() > 0

    def test_probe_broadcast_guard(self, spark, tmp_path, no_broadcast):
        """Above the broadcast threshold the candidate-id filter must
        NOT be hinted broadcast (a backfill batch could exceed the 8 GB
        broadcast ceiling) — and both postures are output-identical."""
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_guard")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        # pushdown disabled in both arms: this test pins the cand-id
        # BROADCAST guard specifically (the pushdown path collects the ids
        # instead and is pinned by test_probe_pushdown_* below)
        hinted = minhash_dedup_against_index(
            batch, idx, min_jaccard=0.5, pushdown_max_rows=0
        )
        with no_broadcast():
            guarded = minhash_dedup_against_index(
                batch, idx, min_jaccard=0.5, pushdown_max_rows=0
            )
        # the guarded plan carries no user broadcast hint (AQE may still
        # choose broadcast from runtime stats — that is the safe, bounded
        # path; the hazard is the unconditional hint)
        analyzed = guarded._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed
        hinted_analyzed = hinted._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" in hinted_analyzed  # non-vacuous
        got_h = {r["doc_id"] for r in hinted.collect()}
        got_g = {r["doc_id"] for r in guarded.collect()}
        assert got_h == got_g and 0 < len(got_h) < batch.count()

    def test_probe_avoids_batch_shuffle_and_prefilters_verify(
        self, spark, tmp_path
    ):
        """r17 (§1.2/§3.1): with a measured-small candidate set, (a) the
        final anti-join must be PLANNED as a broadcast join — without the
        hint the planner SMJ-shuffles the whole batch and AQE only
        rescues it after the batch's shuffle map side is written — and
        (b) the verify-side shingle projection runs behind a LeftSemi
        pre-filter on candidate ids, so non-candidate batch rows are
        never shingled twice. Directional pins (>= / absence), not exact
        node counts, per the ADVICE r16 version-pinning note."""
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_noshuffle")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        out = minhash_dedup_against_index(batch, idx, min_jaccard=0.5)
        out.collect()  # finalize THIS frame's QE through AQE
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, (
            "probe batch was shuffle-planned; the measured-small "
            "candidate path must broadcast the contaminated set"
        )
        assert "LeftAnti" in plan
        assert "LeftSemi" in plan, "verify-side candidate pre-filter missing"

    def test_probe_pushdown_matches_full_scan_and_pushes_filters(
        self, spark, tmp_path
    ):
        """The nightly pushdown posture (batch band rows collected,
        In(band_sig) pushed into the sig-sorted bands read, candidate ids
        pushed into the shingle read) must be bit-identical to the
        full-scan fallback, and the In filters must actually reach the
        parquet scans (PushedFilters — that is what buys row-group
        skipping against a 100 TB archive)."""
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_push")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        pushed = minhash_dedup_against_index(
            batch, idx, min_jaccard=0.5, pushdown_max_rows=200_000
        )
        full = minhash_dedup_against_index(batch, idx, min_jaccard=0.5)
        got_p = {r["doc_id"] for r in pushed.collect()}
        got_f = {r["doc_id"] for r in full.collect()}
        assert got_p == got_f and 0 < len(got_p) < batch.count()
        # the shingle-side In(content_id) is in the RESULT plan
        plan = pushed._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(content_id" in plan
        # the band-side In(band_sig) ran eagerly at call time (candidate
        # materialization); assert it on the filtered bands read the same
        # probe constructs
        import os

        from sat_bucket_spark.operators.dedup import load_minhash_index

        _, bands_c, _ = load_minhash_index(spark, idx)
        probe_sig = bands_c.where(F.col("band_sig").isin([1, 2, 3]))
        sig_plan = probe_sig._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(band_sig" in sig_plan

    def test_index_is_invariant_to_corpus_duplication(self, spark, tmp_path):
        """Content addressing: an R-fold duplicated corpus builds the
        SAME index (row for row) as the distinct corpus, and the probe
        returns the same survivors — index size and probe cost cannot
        grow with the archive's duplication factor."""
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            load_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        corpus = corpus.select("doc_id", "text")
        replicated = corpus
        for k in (1, 2):
            replicated = replicated.unionByName(
                corpus.select(
                    (F.col("doc_id") + 1_000_000 * k).alias("doc_id"), "text"
                )
            )
        idx1 = str(tmp_path / "mh_idx_distinct")
        idx3 = str(tmp_path / "mh_idx_x3")
        build_minhash_index(corpus, idx1, n_hashes=8, n_bands=4, shingle_size=8)
        build_minhash_index(replicated, idx3, n_hashes=8, n_bands=4, shingle_size=8)
        _, b1, s1 = load_minhash_index(spark, idx1)
        _, b3, s3 = load_minhash_index(spark, idx3)
        rows1 = sorted(map(tuple, b1.collect()))
        rows3 = sorted(map(tuple, b3.collect()))
        assert rows1 == rows3 and len(rows1) > 0
        assert s1.count() == s3.count()
        got1 = {
            r["doc_id"]
            for r in minhash_dedup_against_index(batch, idx1, min_jaccard=0.5).collect()
        }
        got3 = {
            r["doc_id"]
            for r in minhash_dedup_against_index(batch, idx3, min_jaccard=0.5).collect()
        }
        assert got1 == got3 and 0 < len(got1) < batch.count()

    def test_probe_stage_cache_modes_identical(self, spark, tmp_path):
        """The probe's eager candidate materialization (new r11: the
        count gates the broadcast posture) runs under the stage-cache
        policy — survivors must be identical across local_checkpoint and
        persist modes (reliable_checkpoint needs a checkpoint dir; the
        caching suite covers it)."""
        from sat_bucket_spark.caching import stage_cache_mode
        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_modes")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        results = {}
        for mode in ("local_checkpoint", "persist"):
            with stage_cache_mode(mode):
                results[mode] = {
                    r["doc_id"]
                    for r in minhash_dedup_against_index(
                        batch, idx, min_jaccard=0.5
                    ).collect()
                }
        assert results["local_checkpoint"] == results["persist"]
        assert 0 < len(results["persist"]) < batch.count()

    def test_compact_preserves_probe_and_defragments(self, spark, tmp_path):
        """build -> 2 nightly appends -> compact: probe results IDENTICAL
        across the cycle (same contract as compact_ivfpq_index's
        search-equality gate), and fragmentation actually drops — fewer
        files per band partition and fewer shingle files."""
        import glob
        import os

        from sat_bucket_spark.operators.dedup import (
            append_to_minhash_index,
            build_minhash_index,
            compact_minhash_index,
            minhash_dedup_against_index,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_cmp")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        surv = minhash_dedup_against_index(batch, idx, min_jaccard=0.5)
        append_to_minhash_index(surv, idx)
        append_to_minhash_index(
            surv.select((F.col("doc_id") + 900_000).alias("doc_id"), "text"),
            idx,
        )
        # probe: re-keyed batch (all dropped: near-dup half by the corpus,
        # fresh half by the appended survivors) + genuinely novel docs
        # (all survive) — non-vacuous both ways
        novel = spark.range(30).select(
            (F.col("id") + 5_000_000).alias("doc_id"),
            F.concat(
                F.lit("totally novel content block "),
                F.col("id"),
                F.lit(" with enough words to shingle into grams"),
            ).alias("text"),
        )
        probe = batch.select(
            (F.col("doc_id") + 700_000).alias("doc_id"), "text"
        ).unionByName(novel)
        before = {
            r["doc_id"]
            for r in minhash_dedup_against_index(
                probe, idx, min_jaccard=0.5
            ).collect()
        }
        assert 0 < len(before) < probe.count()

        def band_files():
            root = os.path.join(idx, "bands")
            return {
                d: len(glob.glob(os.path.join(root, d, "*.parquet")))
                for d in os.listdir(root)
                if d.startswith("band_idx=")
            }

        frag = band_files()
        assert max(frag.values()) >= 3  # two appends fragmented the bands
        stats = compact_minhash_index(spark, idx)
        assert stats["band_partitions"] >= 1
        n_before, n_after = stats["shingle_files"]
        assert n_after < n_before
        compacted = band_files()
        assert max(compacted.values()) < max(frag.values())
        after = {
            r["doc_id"]
            for r in minhash_dedup_against_index(
                probe, idx, min_jaccard=0.5
            ).collect()
        }
        assert after == before

    def test_rebuild_failure_leaves_no_valid_meta(self, spark, tmp_path):
        """Commit protocol: meta/ is written LAST, and a rebuild over an
        existing index invalidates the old meta FIRST — a crash mid-rebuild
        must leave load_minhash_index failing loudly, never a stale meta
        pointing at mixed-generation band/shingle data."""
        from sat_bucket_spark.operators import dedup

        corpus, _ = self._corpus_and_batch(spark)
        idx = str(tmp_path / "mh_index_crash")
        dedup.build_minhash_index(corpus, idx, n_hashes=8, n_bands=4)

        real_write = dedup._write_minhash_index_rows

        def boom(*a, **k):
            raise RuntimeError("simulated mid-rebuild failure")

        dedup._write_minhash_index_rows = boom
        try:
            with pytest.raises(RuntimeError, match="mid-rebuild"):
                dedup.build_minhash_index(corpus, idx, n_hashes=4, n_bands=2)
        finally:
            dedup._write_minhash_index_rows = real_write
        # the old meta was invalidated before any data write: loads fail
        with pytest.raises(Exception):
            dedup.load_minhash_index(spark, idx)
        # and a clean rebuild restores a loadable, probe-able index
        dedup.build_minhash_index(corpus, idx, n_hashes=8, n_bands=4)
        p, _, _ = dedup.load_minhash_index(spark, idx)
        assert p["n_hashes"] == 8


class TestBloomIndex:
    """Persisted Bloom index — the third persisted-index leg (MinHash
    bands / IVFPQ codes / Bloom bitmap): build once over the standing
    corpus, append batches with a bitmap-sized union (no corpus rescan),
    probe nightly with zero corpus access (or exactly once with verify)."""

    def _data(self, spark):
        corpus = spark.createDataFrame(
            [(i, f"doc {i % 40}") for i in range(200)], ["cid", "text"]
        )
        batch = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(30, 90)], ["bid", "text"]
        )
        return batch, corpus

    def test_verified_probe_equals_direct_operator(self, spark, tmp_path):
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom,
            dedup_exact_against_bloom_index,
        )

        batch, corpus = self._data(spark)
        want = {
            r["bid"]
            for r in dedup_exact_against_bloom(batch, corpus, ["text"]).collect()
        }
        idx = str(tmp_path / "bloom_idx")
        build_bloom_index(corpus, idx, ["text"])
        got = {
            r["bid"]
            for r in dedup_exact_against_bloom_index(
                batch, idx, verify_corpus=corpus
            ).collect()
        }
        assert got == want == set(range(40, 90))

    def test_unverified_probe_zero_corpus_access(self, spark, tmp_path):
        """Default posture: the probe's only inputs are the batch and the
        bitmap — the corpus parquet appears nowhere in the plan. At the
        default 10x bit sizing on this fixture there are no FPs, so the
        result equals the exact one; the FP trade is pinned separately by
        the saturated-filter test below."""
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom_index,
        )

        batch, corpus = self._data(spark)
        corpus_path = str(tmp_path / "bloom_corpus")
        corpus.write.parquet(corpus_path)
        idx = str(tmp_path / "bloom_idx0")
        build_bloom_index(spark.read.parquet(corpus_path), idx, ["text"])
        out = dedup_exact_against_bloom_index(batch, idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "bloom_corpus" not in plan  # corpus never scanned
        got = {r["bid"] for r in out.collect()}
        assert got == set(range(40, 90))

    def test_unverified_probe_overdrops_on_saturated_filter(self, spark, tmp_path):
        """The documented FP trade: a deliberately tiny 64-bit filter
        produces real false positives, so the unverified probe's
        survivors are a STRICT subset of the truly-clean set (it only
        ever over-drops — never lets a duplicate through), while the
        verified probe restores the false positives exactly."""
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom_index,
        )

        batch, corpus = self._data(spark)
        idx = str(tmp_path / "bloom_idx64")
        build_bloom_index(corpus, idx, ["text"], n_bits=64)
        unverified = {
            r["bid"]
            for r in dedup_exact_against_bloom_index(batch, idx).collect()
        }
        verified = {
            r["bid"]
            for r in dedup_exact_against_bloom_index(
                batch, idx, verify_corpus=corpus
            ).collect()
        }
        assert verified == set(range(40, 90))
        assert unverified < verified  # FPs over-dropped, nothing leaked

    def test_append_makes_keys_visible_without_corpus(self, spark, tmp_path):
        """The nightly loop: probe -> STAGE survivors -> append them — the
        append touches only the staged survivors and the bitmap (union
        closure), and a re-submission is then dropped with zero corpus
        access. Staging is the documented contract: the append's bitmap
        swap invalidates lazy frames built over the OLD bitmap, and in
        production survivors land in the corpus store before the index
        learns them anyway."""
        from sat_bucket_spark.operators.dedup import (
            append_to_bloom_index,
            build_bloom_index,
            dedup_exact_against_bloom_index,
        )

        batch, corpus = self._data(spark)
        idx = str(tmp_path / "bloom_idx_app")
        build_bloom_index(corpus, idx, ["text"])
        surv_path = str(tmp_path / "bloom_survivors")
        dedup_exact_against_bloom_index(batch, idx).write.parquet(surv_path)
        surv = spark.read.parquet(surv_path)
        assert surv.count() == 50
        append_to_bloom_index(surv, idx)
        resubmit = surv.select((F.col("bid") + 1000).alias("bid"), "text")
        assert dedup_exact_against_bloom_index(resubmit, idx).count() == 0
        # genuinely new keys still pass after the append
        fresh = spark.createDataFrame(
            [(i, f"doc fresh {i}") for i in range(10)], ["bid", "text"]
        )
        assert dedup_exact_against_bloom_index(fresh, idx).count() == 10

    def test_append_generations_survive_crashed_append(self, spark, tmp_path):
        """Appends are generational: the new bitmap commits as
        bitmap.v<N+1> (its _SUCCESS is the commit point) and the previous
        generation retires only after — so a crashed append leaves the
        index fully usable (load resolves the newest COMPLETE generation)
        and the next append clears the debris. The delete-then-rename
        swap this replaced had a window with NO bitmap at all, whose
        recovery was the full corpus rebuild the index exists to avoid."""
        import os

        from sat_bucket_spark.operators.dedup import (
            append_to_bloom_index,
            build_bloom_index,
            dedup_exact_against_bloom_index,
        )

        batch, corpus = self._data(spark)
        idx = str(tmp_path / "bloom_idx_gen")
        build_bloom_index(corpus, idx, ["text"])
        surv_path = str(tmp_path / "bloom_gen_surv")
        dedup_exact_against_bloom_index(batch, idx).write.parquet(surv_path)
        surv = spark.read.parquet(surv_path)
        append_to_bloom_index(surv, idx)
        # generation 1 committed, generation 0 retired
        assert os.path.exists(os.path.join(idx, "bitmap.v1", "_SUCCESS"))
        assert not os.path.exists(os.path.join(idx, "bitmap"))
        # simulate an append that crashed mid-write: v2 exists, no _SUCCESS
        debris = os.path.join(idx, "bitmap.v2")
        os.makedirs(debris)
        with open(os.path.join(debris, "part-junk.parquet"), "wb") as f:
            f.write(b"not parquet")
        # the index stays fully usable on the previous generation
        resubmit = surv.select((F.col("bid") + 1000).alias("bid"), "text")
        assert dedup_exact_against_bloom_index(resubmit, idx).count() == 0
        # re-running the crashed append clears the debris and commits v2
        extra = spark.createDataFrame(
            [(i, f"doc gen2 {i}") for i in range(5)], ["bid", "text"]
        )
        append_to_bloom_index(extra, idx)
        assert os.path.exists(os.path.join(debris, "_SUCCESS"))
        assert not os.path.exists(os.path.join(idx, "bitmap.v1"))
        assert dedup_exact_against_bloom_index(extra, idx).count() == 0
        assert dedup_exact_against_bloom_index(resubmit, idx).count() == 0

    def test_unverified_probe_passes_null_keyed_rows(self, spark, tmp_path):
        """Exact-dedup semantics say NULL-keyed rows never match — but the
        key fingerprint encodes NULL patterns, so without an explicit
        bypass an unverified probe would DETERMINISTICALLY drop a
        NULL-keyed batch row whenever the corpus had one with the same
        null pattern (not an FP-rate event). Both postures must keep it."""
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom,
            dedup_exact_against_bloom_index,
        )

        corpus = spark.createDataFrame(
            [(1, "doc a"), (2, None), (3, "doc b")], ["cid", "text"]
        )
        batch = spark.createDataFrame(
            [(10, None), (11, "doc a"), (12, "doc new")], ["bid", "text"]
        )
        idx = str(tmp_path / "bloom_idx_null")
        build_bloom_index(corpus, idx, ["text"])
        unverified = {
            r["bid"] for r in dedup_exact_against_bloom_index(batch, idx).collect()
        }
        verified = {
            r["bid"]
            for r in dedup_exact_against_bloom_index(
                batch, idx, verify_corpus=corpus
            ).collect()
        }
        direct = {
            r["bid"]
            for r in dedup_exact_against_bloom(batch, corpus, ["text"]).collect()
        }
        assert unverified == verified == direct == {10, 12}

    def test_meta_cache_invalidates_on_rebuild(self, spark, tmp_path):
        """load_* meta reads are process-cached behind the meta dir's
        mtime (the streaming gate loads each index twice per micro-batch;
        a Spark job per load is ~0.2 s of pure scheduling). A REBUILD
        rewrites meta and must invalidate the cache — stale frozen
        parameters would silently mis-hash every probe."""
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            load_bloom_index,
        )

        batch, corpus = self._data(spark)
        idx = str(tmp_path / "bloom_idx_cache")
        build_bloom_index(corpus, idx, ["text"], n_bits=1 << 20)
        p1, _ = load_bloom_index(spark, idx)
        p2, _ = load_bloom_index(spark, idx)  # cache hit
        assert p1 == p2 and p1["n_bits"] == 1 << 20
        build_bloom_index(corpus, idx, ["text"], n_bits=1 << 21)
        p3, _ = load_bloom_index(spark, idx)
        assert p3["n_bits"] == 1 << 21  # rebuild invalidated the cache

    def test_rebuild_failure_leaves_no_valid_meta(self, spark, tmp_path):
        """Same commit protocol as the MinHash index: meta/ is written
        LAST and invalidated FIRST on rebuild."""
        from sat_bucket_spark.operators import dedup

        batch, corpus = self._data(spark)
        idx = str(tmp_path / "bloom_idx_crash")
        dedup.build_bloom_index(corpus, idx, ["text"])

        real = dedup._key_bloom_bitmap

        def boom(*a, **k):
            raise RuntimeError("simulated mid-rebuild failure")

        dedup._key_bloom_bitmap = boom
        try:
            with pytest.raises(RuntimeError, match="mid-rebuild"):
                dedup.build_bloom_index(corpus, idx, ["text"], n_bits=1 << 20)
        finally:
            dedup._key_bloom_bitmap = real
        with pytest.raises(Exception):
            dedup.load_bloom_index(spark, idx)
        dedup.build_bloom_index(corpus, idx, ["text"])
        p, _ = dedup.load_bloom_index(spark, idx)
        assert p["n_bits"] == 1 << 24 and p["key_cols"] == ["text"]


class TestBloomGenerationOrphan:
    """A crash between the bitmap.v<N+1> commit and the old generation's
    retire leaves the superseded dir behind; the generation tracker must
    list it as stale (so fsck reports it) and the next append's stale
    sweep must remove it — never a permanent full-bitmap disk leak."""

    def test_orphaned_gen0_swept_by_next_append(self, spark, tmp_path):
        import shutil

        from sat_bucket_spark.operators.dedup import (
            _bloom_generations,
            append_to_bloom_index,
            build_bloom_index,
        )

        corpus = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(50)], ["cid", "text"]
        )
        idx = str(tmp_path / "bloom_orphan")
        build_bloom_index(corpus, idx, ["text"], n_bits=1 << 16)
        saved = str(tmp_path / "gen0_copy")
        shutil.copytree(os.path.join(idx, "bitmap"), saved)
        extra = corpus.select(
            (F.col("cid") + 1000).alias("cid"),
            F.concat(F.lit("x"), F.col("text")).alias("text"),
        )
        append_to_bloom_index(extra, idx)  # commits v1, retires gen 0
        # simulate the crash window: the retired gen-0 dir reappears
        shutil.copytree(saved, os.path.join(idx, "bitmap"))
        cur, stale = _bloom_generations(spark, idx)
        assert cur == 1
        assert [os.path.basename(s) for s in stale] == ["bitmap"]
        from sat_bucket_spark.maintenance import index_report

        r = index_report(spark, idx)
        assert not r["healthy"] and any("stale" in i for i in r["issues"])
        # the next append sweeps the orphan
        append_to_bloom_index(
            extra.select("cid", F.concat(F.lit("y"), F.col("text")).alias("text")),
            idx,
        )
        assert not os.path.exists(os.path.join(idx, "bitmap"))
        cur2, stale2 = _bloom_generations(spark, idx)
        assert cur2 == 2 and stale2 == []


class TestMetaCacheFingerprint:
    """The meta cache guard must key on the meta CHILD FILES' stats, not
    the directory mtime — object stores keep a constant dir mtime across
    child rewrites, which would serve a stale meta row after a rebuild."""

    def test_rebuild_with_frozen_dir_mtime_invalidates(self, spark, tmp_path):
        from sat_bucket_spark.operators.dedup import (
            _load_meta_row,
            build_bloom_index,
        )

        corpus = spark.createDataFrame([(1, "a")], ["cid", "text"])
        idx = str(tmp_path / "bloom_meta")
        build_bloom_index(corpus, idx, ["text"], n_bits=1 << 10, seed=1)
        meta_dir = os.path.join(idx, "meta")
        st = os.stat(meta_dir)
        assert _load_meta_row(spark, idx)["seed"] == 1
        build_bloom_index(corpus, idx, ["text"], n_bits=1 << 10, seed=2)
        # freeze the DIRECTORY mtime to the pre-rebuild value — the
        # S3A-style behavior a dir-mtime guard would be fooled by
        os.utime(meta_dir, (st.st_atime, st.st_mtime))
        assert _load_meta_row(spark, idx)["seed"] == 2


class TestBloomRoutedDedup:
    def _data(self, spark):
        corpus = spark.createDataFrame(
            [(i, f"doc {i % 40}") for i in range(200)], ["cid", "text"]
        )
        batch = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(30, 90)], ["bid", "text"]
        )
        return batch, corpus

    def test_equals_exact_path(self, spark):
        from sat_bucket_spark.operators.dedup import (
            dedup_exact_against,
            dedup_exact_against_bloom,
        )

        batch, corpus = self._data(spark)
        want = {r["bid"] for r in dedup_exact_against(batch, corpus, ["text"]).collect()}
        got = {
            r["bid"]
            for r in dedup_exact_against_bloom(batch, corpus, ["text"]).collect()
        }
        assert got == want
        assert want == set(range(40, 90))  # texts 'doc 30'..'doc 39' are dups

    def test_saturated_filter_still_exact(self, spark):
        """64-bit bloom: every row flags; the verify join must strip every
        false positive so the output still equals the exact operator."""
        from sat_bucket_spark.operators.dedup import (
            dedup_exact_against,
            dedup_exact_against_bloom,
        )

        batch, corpus = self._data(spark)
        want = {r["bid"] for r in dedup_exact_against(batch, corpus, ["text"]).collect()}
        got = {
            r["bid"]
            for r in dedup_exact_against_bloom(
                batch, corpus, ["text"], n_bits=64
            ).collect()
        }
        assert got == want

    def test_null_keys_pass_through(self, spark):
        from sat_bucket_spark.operators.dedup import dedup_exact_against_bloom

        batch = spark.createDataFrame([(1, None), (2, "x")], ["bid", "text"])
        corpus = spark.createDataFrame([(10, None), (11, "x")], ["cid", "text"])
        got = {r["bid"] for r in dedup_exact_against_bloom(batch, corpus, ["text"]).collect()}
        assert got == {1}  # NULL never matches (anti-join semantics); "x" is a dup

    def test_all_joins_broadcast(self, spark):
        from sat_bucket_spark.operators.dedup import dedup_exact_against_bloom

        batch, corpus = self._data(spark)
        plan = (
            dedup_exact_against_bloom(batch, corpus, ["text"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "Python" not in plan

    def test_probe_shares_one_bitmap_broadcast(self, spark):
        """r16: all n_hashes word lookups join the SAME broadcast frame, so
        the bitmap aggregation — the only corpus-wide pass in a probe — is
        materialized once and the other n_hashes-1 joins ride AQE exchange
        reuse. The r15 shape aliased a fresh copy per hash, giving each
        join its own BroadcastExchange subtree containing the full bitmap
        build (5 corpus scans per probe at the default n_hashes=5)."""
        from sat_bucket_spark.operators.dedup import (
            _bloom_route,
            _key_bloom_bitmap,
        )

        batch, corpus = self._data(spark)
        bloom = _key_bloom_bitmap(corpus, ["text"], 1 << 12, 5, 1337)
        clean, _cand = _bloom_route(batch, bloom, ["text"], 1 << 12, 5, 1337)
        clean.collect()  # AQE applies exchange reuse in the FINAL plan
        plan = clean._jdf.queryExecution().executedPlan().toString()
        # 5 hash joins: 1 materialized bitmap exchange + 4 runtime reuses
        assert plan.count("ReusedExchange") == 4


class TestMultiSetDecontamination:
    def test_equals_per_set_single_reports(self, spark):
        import random

        from sat_bucket_spark.operators.dedup import (
            decontamination_report,
            decontamination_report_multi,
        )

        rng = random.Random(21)
        words = [f"w{i}" for i in range(60)]
        docs = [
            (i, " ".join(rng.choices(words, k=rng.randint(5, 25))))
            for i in range(50)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        train = df.where("doc_id % 3 != 0")
        evs = {
            "benchA": df.where("doc_id % 3 = 0 AND doc_id % 2 = 0"),
            "benchB": df.where("doc_id % 3 = 0 AND doc_id % 2 = 1"),
        }
        multi = {
            (r["doc_id"], r["eval_set"]): (
                r["n_ngrams"], r["n_contaminated"], r["is_contaminated"]
            )
            for r in decontamination_report_multi(
                train, evs, ngram_size=3, threshold=0.3
            ).collect()
        }
        for name, ev in evs.items():
            single = {
                r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["is_contaminated"])
                for r in decontamination_report(
                    train, ev, ngram_size=3, threshold=0.3
                ).collect()
            }
            for d, v in single.items():
                assert multi[(d, name)] == v, (name, d)
        # dense: every (train doc, set) pair present
        n_train = train.count()
        assert len(multi) == n_train * len(evs)

    def test_eval_rows_broadcast(self, spark):
        from sat_bucket_spark.operators.dedup import decontamination_report_multi

        df = spark.createDataFrame([(1, "a b c d"), (2, "c d e f")], ["doc_id", "text"])
        out = decontamination_report_multi(df, {"s": df})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "Python" not in plan


class TestDuplicateSpans:
    """Substring-level (token-window) exact dedup — Lee et al. lineage."""

    K = 4

    @staticmethod
    def _brute(rows, k, min_count):
        """Reference model: flag non-canonical occurrences of any k-token
        window whose exact text occurs >= min_count times corpus-wide."""
        from collections import Counter

        occ = []
        for i, t in rows:
            ts = t.split()
            for p in range(len(ts) - k + 1):
                occ.append((i, p, " ".join(ts[p : p + k])))
        cnt = Counter(g for _, _, g in occ)
        first = {}
        for i, p, g in sorted(occ):
            first.setdefault(g, (i, p))
        return sorted(
            (i, p)
            for i, p, g in occ
            if cnt[g] >= min_count and first[g] != (i, p)
        )

    def test_flags_match_brute_force(self, spark):
        from sat_bucket_spark.operators.dedup import duplicate_spans

        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "lead in text the quick brown fox jumps over the lazy dog"),
            (3, "aa bb cc dd aa bb cc dd aa bb cc dd"),  # internal repeat
            (4, "too short"),
            (5, ""),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = sorted(
            tuple(r) for r in duplicate_spans(df, k=self.K, min_count=2).collect()
        )
        assert got == self._brute(rows, self.K, 2)

    def test_fuzz_small_alphabet(self, spark):
        """Tiny alphabet forces heavy collisions — canonical-occurrence and
        overlap-merge logic get exercised hard."""
        import random

        from sat_bucket_spark.operators.dedup import (
            duplicate_spans,
            remove_duplicate_spans,
        )

        rng = random.Random(20260814)
        rows = [
            (i, " ".join(rng.choice("ab cd ef".split()) for _ in range(rng.randint(0, 14))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = sorted(
            tuple(r) for r in duplicate_spans(df, k=3, min_count=2).collect()
        )
        flagged = self._brute(rows, 3, 2)
        assert got == flagged

        rm = {}
        for i, p in flagged:
            rm.setdefault(i, set()).update(range(p, p + 3))
        out = remove_duplicate_spans(
            df, k=3, min_count=2, out="clean", removed_count_col="n_removed"
        ).collect()
        for r in out:
            ts = dict(rows)[r["doc_id"]].split()
            drop = rm.get(r["doc_id"], set())
            assert r["clean"] == " ".join(
                t for j, t in enumerate(ts) if j not in drop
            )
            assert r["n_removed"] == len(drop)

    def test_keep_first_preserves_one_copy(self, spark):
        """The canonical (min id, pos) occurrence of a duplicated passage
        survives removal; later copies are excised."""
        from sat_bucket_spark.operators.dedup import remove_duplicate_spans

        passage = "alpha beta gamma delta"
        rows = [(1, f"{passage} tail one"), (2, f"head two {passage}")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(df, k=4, min_count=2).collect()
        }
        assert out[1] == f"{passage} tail one"
        assert out[2] == "head two"

    def test_min_count_three_ignores_pairs(self, spark):
        from sat_bucket_spark.operators.dedup import duplicate_spans

        rows = [(1, "x y z w"), (2, "x y z w"), (3, "p q r s"), (4, "p q r s"), (5, "p q r s")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = sorted(tuple(r) for r in duplicate_spans(df, k=4, min_count=3).collect())
        assert got == [(4, 0), (5, 0)]

    def test_no_python_in_plan(self, spark):
        from sat_bucket_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        out = remove_duplicate_spans(df, k=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan


class TestGopherQuality:
    def test_rule_breakdown(self, spark):
        from sat_bucket_spark.operators.text import gopher_quality_flags

        rows = [
            (1, " ".join(["the quick brown fox and that dog have fun with it"] * 6)),
            (2, "short doc"),                                   # word count
            (3, " ".join(["####"] * 60)),                       # symbols + alpha + stopwords
            (4, "\n".join(["- b line"] * 19) + "\nplain"),      # bullet lines 19/20
            (5, " ".join(["extraordinarylongwordhere"] * 60)),  # mean word length
            (6, "\n".join(["trailing off..."] * 10)),           # ellipsis lines
            (7, ""),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r.asDict()
            for r in gopher_quality_flags(df, min_words=10).collect()
        }
        assert out[1]["keep"]
        assert not out[2]["ok_word_count"]
        assert not out[3]["ok_symbol_ratio"]
        assert not out[3]["ok_alpha_words"]
        assert not out[4]["ok_bullet_lines"]
        assert not out[5]["ok_mean_word_len"]
        assert not out[6]["ok_ellipsis_lines"]
        assert not out[7]["ok_word_count"] and out[7]["n_words"] == 0
        for d in (2, 3, 4, 5, 6, 7):
            assert not out[d]["keep"]

    def test_stopword_rule_distinct_containment(self, spark):
        """>= 2 DISTINCT stopwords of the 8-list, not 2 occurrences of one."""
        from sat_bucket_spark.operators.text import gopher_quality_flags

        rows = [
            (1, " ".join(["the"] * 30)),          # one distinct stopword
            (2, " ".join(["the rest of words"] * 8)),  # the + of
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["ok_stopwords"]
            for r in gopher_quality_flags(df, min_words=1).collect()
        }
        assert out == {1: False, 2: True}

    def test_row_local_plan(self, spark):
        from sat_bucket_spark.operators.text import gopher_quality_flags

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        plan = gopher_quality_flags(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Exchange" not in plan


class TestRepetitionFull:
    def test_against_python_reference(self, spark):
        from collections import Counter

        from sat_bucket_spark.operators.text import repetition_signals_full

        rows = [
            (1, "buy now buy now buy now buy now"),
            (2, "line one\nline one\nline two"),
            (3, "all words unique here today friend"),
            (4, "a b"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r["doc_id"]: r.asDict() for r in repetition_signals_full(df).collect()}
        for i, t in rows:
            toks = t.lower().split()
            lines = t.split("\n")
            lc = sum(map(len, lines))
            dlc = sum(map(len, dict.fromkeys(lines)))
            assert got[i]["n_words"] == len(toks)
            assert got[i]["dup_line_frac"] == round(
                1 - len(set(lines)) / len(lines), 6
            )
            assert got[i]["dup_line_char_frac"] == round((lc - dlc) / max(lc, 1), 6)
            for n in (2, 3, 4):
                if len(toks) >= n:
                    grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
                else:
                    grams = [" ".join(toks)]
                cnt = Counter(grams)
                best = max(cnt.values())
                # smallest gram among ties (the documented tie-break)
                bg = min(g for g, c in cnt.items() if c == best)
                assert got[i][f"top_{n}gram_char_frac"] == round(
                    best * len(bg) / max(len(t), 1), 6
                ), (i, n)

    def test_tie_break_smallest_gram(self, spark):
        """'z z' and 'a a' both occur once... force a real tie at count 2."""
        from sat_bucket_spark.operators.text import repetition_signals_full

        # bigrams: "z q" x2 and "a b" x2 tie; smallest ("a b", len 3) wins
        t = "a b c a b c z q d z q"
        df = spark.createDataFrame([(1, t)], ["doc_id", "text"])
        r = repetition_signals_full(df).collect()[0]
        assert r["top_2gram_char_frac"] == round(2 * 3 / len(t), 6)

    def test_row_local_plan(self, spark):
        from sat_bucket_spark.operators.text import repetition_signals_full

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        plan = (
            repetition_signals_full(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Python" not in plan


class TestDuplicateSpansHashed:
    def test_hashed_grams_match_exact_on_real_docs(self, spark, documents):
        """The 60-bit-hash scale path flags the same spans as exact strings
        on the full sf0.001 documents table."""
        from sat_bucket_spark.operators.dedup import duplicate_spans

        exact = set(
            map(tuple, duplicate_spans(documents, k=4, min_count=2).collect())
        )
        hashed = set(
            map(
                tuple,
                duplicate_spans(
                    documents, k=4, min_count=2, hash_grams=True
                ).collect(),
            )
        )
        assert exact == hashed and len(exact) > 0


class TestUrlFilter:
    def test_each_rule_fires(self, spark):
        from sat_bucket_spark.operators.urls import url_quality_flags

        rows = [
            (1, "https://good.example/articles/page"),
            (2, "ftp://files.example/a"),
            (3, "http://spam.example/buy"),
            (4, "http://sub.spam.example/buy"),
            (5, "http://10.0.0.7/index"),
            (6, "http://deep.example/" + "/".join("abcdefghij")),
            (7, "http://q.example/p?" + "x" * 300),
            (8, "http://ok.example/casino-poker"),
            (9, "notaurl"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "url"])
        out = {
            r["doc_id"]: r.asDict()
            for r in url_quality_flags(
                df, blocked_domains=("spam.example",), blocked_terms=("casino",)
            ).collect()
        }
        assert out[1]["keep"]
        failed = {
            i: [k for k, v in d.items() if k.startswith("ok_") and not v]
            for i, d in out.items()
        }
        assert failed[2] == ["ok_scheme"]
        assert failed[3] == ["ok_domain"]
        assert failed[4] == ["ok_domain"]
        assert failed[5] == ["ok_not_ip"]
        assert failed[6] == ["ok_path_depth"]
        assert failed[7] == ["ok_query_len"]
        assert failed[8] == ["ok_terms"]
        assert failed[9] == ["ok_scheme"]

    def test_domain_suffix_is_label_aligned(self, spark):
        """'notspam.example' is NOT a subdomain of 'spam.example'."""
        from sat_bucket_spark.operators.urls import url_quality_flags

        df = spark.createDataFrame(
            [(1, "http://notspam.example/x")], ["doc_id", "url"]
        )
        r = url_quality_flags(df, blocked_domains=("spam.example",)).collect()[0]
        assert r["ok_domain"] and r["keep"]

    def test_row_local_plan(self, spark):
        from sat_bucket_spark.operators.urls import url_quality_flags

        df = spark.createDataFrame([(1, "http://a.example/")], ["doc_id", "url"])
        plan = (
            url_quality_flags(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan and "Exchange" not in plan


class TestSentenceSpanDedup:
    """C4's three-sentence-span rule via unit='sentence' span dedup."""

    def test_sentence_spans_match_python_reference(self, spark):
        import re
        from collections import Counter

        from sat_bucket_spark.operators.dedup import duplicate_spans

        span = "First shared. Second shared! Third shared?"
        rows = [
            (1, f"Own intro one. {span} Own tail one."),
            (2, f"{span} Own tail two. More text here."),
            (3, "No shared sentences. At all. Anywhere. Promise."),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = sorted(
            tuple(r)
            for r in duplicate_spans(df, k=3, min_count=2, unit="sentence").collect()
        )

        occ = []
        for i, t in rows:
            sents = [s for s in re.split(r"(?<=[.!?])\s+", t.strip()) if s]
            for p in range(len(sents) - 2):
                occ.append((i, p, "\x1f".join(sents[p : p + 3])))
        cnt = Counter(g for _, _, g in occ)
        first = {}
        for i, p, g in sorted(occ):
            first.setdefault(g, (i, p))
        ref = sorted(
            (i, p) for i, p, g in occ if cnt[g] >= 2 and first[g] != (i, p)
        )
        assert got == ref and len(got) > 0

    def test_sentence_removal_keeps_first(self, spark):
        from sat_bucket_spark.operators.dedup import remove_duplicate_spans

        span = "First shared. Second shared! Third shared?"
        rows = [(1, f"Intro one. {span}"), (2, f"{span} Tail two. End here. Done now.")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(
                df, k=3, min_count=2, unit="sentence"
            ).collect()
        }
        assert out[1] == f"Intro one. {span}"
        assert out[2] == "Tail two. End here. Done now."

    def test_line_unit(self, spark):
        from sat_bucket_spark.operators.dedup import remove_duplicate_spans

        footer = "nav home\nnav about"
        rows = [(1, f"real content a\n{footer}"), (2, f"real content b\n{footer}")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(
                df, k=2, min_count=2, unit="line"
            ).collect()
        }
        assert out[1] == f"real content a\n{footer}"
        assert out[2] == "real content b"

    def test_unknown_unit_raises(self, spark):
        import pytest as _pytest

        from sat_bucket_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="unknown dedup unit"):
            duplicate_spans(df, unit="paragraph")


class TestCompressionRatio:
    def test_matches_python_zlib(self, spark):
        import zlib

        from sat_bucket_spark.operators.text import add_compression_ratio

        rows = [
            (1, "spam " * 500),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, ""),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: r["compression_ratio"]
            for r in add_compression_ratio(df).collect()
        }
        for i, t in rows:
            if not t:
                assert got[i] == 0.0
            else:
                raw = t.encode()
                assert got[i] == round(len(zlib.compress(raw, 6)) / len(raw), 6)
        # repetitive text compresses far below prose
        assert got[1] < 0.05 < got[2]


class TestNewOpsEmptyInput:
    """Empty-corpus edge cases for the round-5 curation additions."""

    def test_empty_inputs(self, spark):
        from sat_bucket_spark.operators.dedup import (
            duplicate_spans,
            remove_duplicate_spans,
        )
        from sat_bucket_spark.operators.text import (
            gopher_quality_flags,
            repetition_signals_full,
        )
        from sat_bucket_spark.operators.urls import url_quality_flags

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert duplicate_spans(empty).count() == 0
        assert remove_duplicate_spans(empty).count() == 0
        assert gopher_quality_flags(empty).count() == 0
        assert repetition_signals_full(empty).count() == 0
        eurl = spark.createDataFrame([], "doc_id long, url string")
        assert url_quality_flags(eurl).count() == 0

    def test_null_text_rows_survive(self, spark):
        """NULL text must not crash or drop rows in the flag operators."""
        from sat_bucket_spark.operators.text import (
            gopher_quality_flags,
            repetition_signals_full,
        )

        df = spark.createDataFrame(
            [(1, None), (2, "real text here")], "doc_id long, text string"
        )
        assert gopher_quality_flags(df).count() == 2
        assert repetition_signals_full(df).count() == 2


class TestReviewHardening:
    """Round-5 review findings: pinned behaviors."""

    def test_untouched_docs_keep_original_whitespace(self, spark):
        from sat_bucket_spark.operators.dedup import remove_duplicate_spans

        messy = "para one\n\npara  two\ttabbed"
        rows = [(1, messy), (2, "a b c d e f"), (3, "a b c d e f")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(df, k=6, min_count=2).collect()
        }
        assert out[1] == messy  # untouched: byte-identical, not re-joined
        assert out[2] == "a b c d e f" and out[3] == ""

    def test_unicode_ellipsis_counts_in_symbol_ratio(self, spark):
        from sat_bucket_spark.operators.text import gopher_quality_flags

        ascii_junk = " ".join(["word..."] * 30)
        uni_junk = " ".join(["word…"] * 30)
        df = spark.createDataFrame(
            [(1, ascii_junk), (2, uni_junk)], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r["ok_symbol_ratio"]
            for r in gopher_quality_flags(df, min_words=1).collect()
        }
        assert out == {1: False, 2: False}  # both spellings fail alike


class TestObserveFunnel:
    def test_counts_match_direct_and_single_job(self, spark, documents):
        from pyspark.sql import functions as F

        from sat_bucket_spark.operators.metrics import observe_funnel
        from sat_bucket_spark.operators.text import add_token_count

        funnel = observe_funnel(
            documents,
            [
                ("tokens", add_token_count),
                ("min_tokens", lambda d: d.where("n_tokens >= 30")),
                ("lang_en", lambda d: d.where("lang = 'en'")),
            ],
            extra_metrics=[F.sum(F.length("text")).alias("chars")],
        )
        # count jobs inside a DEDICATED group: the shared test session may
        # have unrelated jobs in flight
        sc = spark.sparkContext
        sc.setJobGroup("funnel-gate", "funnel job-count gate")
        try:
            funnel.df.write.format("noop").mode("overwrite").save()
            counts = funnel.counts()  # must not launch another job
            ids = set(sc.statusTracker().getJobIdsForGroup("funnel-gate") or [])
        finally:
            sc.setJobGroup("", "")
        assert len(ids) == 1, f"funnel must add ZERO extra jobs, saw {len(ids)}"

        n0 = documents.count()
        n1 = add_token_count(documents).where("n_tokens >= 30").count()
        n2 = (
            add_token_count(documents)
            .where("n_tokens >= 30")
            .where("lang = 'en'")
            .count()
        )
        assert counts == {
            "input": n0, "tokens": n0, "min_tokens": n1, "lang_en": n2,
        }
        dropped = funnel.dropped()
        assert dropped == {
            "tokens": 0, "min_tokens": n0 - n1, "lang_en": n1 - n2,
        }
        assert funnel.metrics()["input"]["chars"] > 0


class TestFunnelComposition:
    def test_two_funnels_in_one_query(self, spark):
        """Unioned funnels must not collide on observation names."""
        from sat_bucket_spark.operators.metrics import observe_funnel

        df = spark.range(10).withColumnRenamed("id", "doc_id")
        f1 = observe_funnel(df, [("evens", lambda d: d.where("doc_id % 2 = 0"))])
        f2 = observe_funnel(df, [("evens", lambda d: d.where("doc_id % 2 = 0"))])
        f1.df.union(f2.df).write.format("noop").mode("overwrite").save()
        assert f1.counts()["evens"] == 5 and f2.counts()["evens"] == 5


class TestLshParamChooser:
    def test_inflection_tracks_threshold(self):
        from sat_bucket_spark.operators.dedup import lsh_params_for_threshold

        for t in (0.3, 0.5, 0.8, 0.9):
            n, b = lsh_params_for_threshold(t, max_hashes=128)
            r = n // b
            assert n == b * r <= 128
            inflection = (1 / b) ** (1 / r)
            assert abs(inflection - t) < 0.1, (t, n, b, inflection)

    def test_s_curve_separates(self):
        """At the chosen params, pairs well above the threshold are nearly
        always candidates and pairs well below nearly never."""
        from sat_bucket_spark.operators.dedup import lsh_params_for_threshold

        n, b = lsh_params_for_threshold(0.8, max_hashes=128)
        r = n // b
        p = lambda s: 1 - (1 - s**r) ** b
        assert p(0.95) > 0.99
        assert p(0.5) < 0.05

    def test_invalid_threshold(self):
        from sat_bucket_spark.operators.dedup import lsh_params_for_threshold

        with pytest.raises(ValueError, match="threshold"):
            lsh_params_for_threshold(1.5)


class TestGatePassthrough:
    """passthrough= carries input columns through the row-local gates, so a
    composed filter-then-dedup pipeline needs no re-scan self-join."""

    def test_gopher_passthrough(self, spark):
        from sat_bucket_spark.operators.text import gopher_quality_flags

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog and more words "
                 "to be sure it is long enough for the rules to apply here",
              "http://a.example/x")],
            ["doc_id", "text", "url"],
        )
        out = gopher_quality_flags(
            df, min_words=5, min_stopword_hits=1, passthrough=("url", "text")
        )
        row = out.collect()[0]
        assert row["url"] == "http://a.example/x"
        assert row["text"].startswith("the quick")
        assert "keep" in out.columns
        # default output unchanged (oracle safety)
        assert "url" not in gopher_quality_flags(df, min_words=5).columns

    def test_url_passthrough(self, spark):
        from sat_bucket_spark.operators.urls import url_quality_flags

        df = spark.createDataFrame(
            [(1, "http://ok.example/a", "body text")],
            ["doc_id", "url", "text"],
        )
        out = url_quality_flags(df, passthrough=("text",))
        assert out.collect()[0]["text"] == "body text"
        assert "text" not in url_quality_flags(df).columns


class TestSimhashDedup:
    """Keep-first SimHash dedup: verdicts == brute-force keep-min-id over
    the same signatures; the band join sees DISTINCT signatures only."""

    def test_matches_brute_force(self, spark, documents):
        from sat_bucket_spark.operators.dedup import add_simhash, simhash_dedup

        docs = documents.limit(200)
        got = {
            r["doc_id"]: (r["simhash"], r["n_copies"], r["kept"])
            for r in simhash_dedup(docs, n_bits=24, max_hamming=3).collect()
        }
        sigs = {r["doc_id"]: r["simhash"] for r in add_simhash(docs, n_bits=24).collect()}
        assert set(got) == set(sigs)
        n_dropped = 0
        for x, hx in sigs.items():
            want = not any(
                a < x and bin(hx ^ ha).count("1") <= 3
                for a, ha in sigs.items() if a != x
            )
            sig, n_copies, kept = got[x]
            assert sig == hx
            assert n_copies == sum(1 for h in sigs.values() if h == hx)
            assert kept == want, x
            n_dropped += not want
        assert n_dropped > 0  # non-vacuous: the fixture has near-dups

    def test_expansion_joins_avoid_row_shuffle_when_sigs_small(
        self, spark, documents, no_broadcast
    ):
        """r17 (§3.1): keep_first_by_signature's step-3 expansion must be
        PLANNED broadcast when the measured distinct-signature count fits
        the gate — without the hint the row-sized sigs frame was
        SortMergeJoin-re-exchanged for the groups/neighbors joins (the
        caches' LogicalRDD drops the groupBy partitioning and AQE kept
        the SMJ at runtime). Gate off must yield identical verdicts."""
        from sat_bucket_spark.operators.dedup import add_simhash, simhash_dedup

        docs = documents.limit(300)
        out = simhash_dedup(docs, n_bits=24, max_hamming=3)
        out.collect()  # finalize THIS frame's QE through AQE
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, (
            "expansion joins shuffle-planned despite a measured-small "
            "signature table"
        )
        got = sorted(map(tuple, out.collect()))
        sigs = add_simhash(docs, n_bits=24).select("doc_id", "simhash")
        from sat_bucket_spark.operators.dedup import keep_first_by_signature

        with no_broadcast():
            ungated = keep_first_by_signature(
                sigs, id_col="doc_id", sig_col="simhash", n_bits=24,
                max_hamming=3, n_bands=4,
            )
            assert sorted(map(tuple, ungated.collect())) == got

    def test_consistent_with_pair_list(self, spark, documents):
        from sat_bucket_spark.operators.dedup import (
            simhash_dedup,
            simhash_near_dup_pairs,
        )

        docs = documents.limit(200)
        kept = {
            r["doc_id"]: r["kept"]
            for r in simhash_dedup(docs, n_bits=24, max_hamming=3).collect()
        }
        dominated = {
            r["id_b"]
            for r in simhash_near_dup_pairs(docs, n_bits=24, max_hamming=3).collect()
        }
        for doc_id, k in kept.items():
            assert k == (doc_id not in dominated), doc_id

    def test_band_join_over_collapsed_signatures(self, spark, documents):
        from sat_bucket_spark.operators.dedup import simhash_dedup

        plan = (
            simhash_dedup(documents.limit(50))
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        idx = plan.find("min(__nbr_rep")
        assert idx > 0
        neighbor_subtree = plan[idx:]
        assert "doc_id" not in neighbor_subtree
        assert "__rep_id" in neighbor_subtree

    def test_validation(self, spark, documents):
        from sat_bucket_spark.operators.dedup import simhash_dedup

        with pytest.raises(ValueError, match="must exceed"):
            simhash_dedup(documents, max_hamming=4, n_bands=4)
        with pytest.raises(ValueError, match="divisible"):
            simhash_dedup(documents, n_bits=24, n_bands=5)


class TestIvfpqIndexPersistence:
    """build_ivfpq_index / ivfpq_index_topk: train-once, search-many."""

    @staticmethod
    def _fixed(spark, embeddings):
        import numpy as np

        from sat_bucket_spark.operators.similarity import _hyperplanes

        cents = _hyperplanes(8, 64, seed=7)
        books = np.stack([_hyperplanes(8, 16, seed=11 + j) for j in range(4)])
        emb = embeddings.limit(200).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries = emb.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return cents, books, emb, queries

    def test_index_search_equals_inline(self, spark, embeddings, tmp_path):
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_topk,
            ivfpq_topk,
        )

        cents, books, emb, queries = self._fixed(spark, embeddings)
        idx = str(tmp_path / "ann_index")
        build_ivfpq_index(
            emb, idx, dim=64, centroids=cents, codebooks=books
        )
        inline = sorted(
            tuple(r) for r in ivfpq_topk(
                emb, queries, dim=64, k=5, n_probe=2,
                centroids=cents, codebooks=books,
            ).collect()
        )
        from_index = sorted(
            tuple(r) for r in ivfpq_index_topk(
                spark, idx, queries, k=5, n_probe=2
            ).collect()
        )
        assert from_index == inline and len(inline) > 0

    def test_codebooks_roundtrip_exact(self, spark, embeddings, tmp_path):
        import numpy as np

        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            load_ivfpq_index,
        )

        cents, books, emb, _ = self._fixed(spark, embeddings)
        idx = str(tmp_path / "ann_exact")
        build_ivfpq_index(emb, idx, dim=64, centroids=cents, codebooks=books)
        params, lc, lb, codes = load_ivfpq_index(spark, idx)
        assert params["dim"] == 64 and params["id_col"] == "vec_id"
        assert np.array_equal(lc, np.asarray(cents, dtype="float64"))  # bit-exact
        assert np.array_equal(lb, np.asarray(books, dtype="float64"))
        assert codes.count() == emb.count()

    def test_search_prunes_partitions(self, spark, embeddings, tmp_path):
        """The probed-cluster isin filter must reach the parquet scan: a
        1-query search reads only its n_probe cluster directories."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_topk,
            load_ivfpq_index,
        )

        cents, books, emb, queries = self._fixed(spark, embeddings)
        idx = str(tmp_path / "ann_prune")
        build_ivfpq_index(emb, idx, dim=64, centroids=cents, codebooks=books)
        _, _, _, codes = load_ivfpq_index(spark, idx)
        n_all = len({f.rsplit("/", 2)[-2] for f in codes.inputFiles()})
        one_query = queries.limit(1)
        out = ivfpq_index_topk(spark, idx, one_query, k=5, n_probe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re as _re

        m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "__cluster" in m.group(1), plan[:2000]
        assert n_all > 2  # the fixture really spreads over many clusters

    def test_recall_floor_after_build_and_append(self, spark, embeddings, tmp_path):
        """recall@10 vs exact-L2 brute force must clear a fixtured floor
        after build AND after append — the plan gates cannot see a wrong
        centroid assignment or stale-codebook encode (they stay
        plan-shaped while returning near-chance neighbors; chance here is
        k/N = 0.02, measured healthy recall ~0.25 on this corpus: random
        uniform vectors are the PQ worst case, m=4/ksub=16 is 16 bits)."""
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            brute_force_topk,
            ivfpq_index_topk,
            recall_at_k,
        )

        emb = embeddings.withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries = emb.where(F.col("vec_id") % 41 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = brute_force_topk(emb, queries, k=10, metric="l2")

        idx = str(tmp_path / "ann_recall")
        build_ivfpq_index(emb, idx, dim=64, n_clusters=8, m=4, ksub=16)
        r_build = recall_at_k(
            ivfpq_index_topk(spark, idx, queries, k=10, n_probe=2), exact
        )
        assert r_build >= 0.15, r_build

        # rebuild from 80% of the corpus, append the rest: the appended
        # rows are encoded with the index's FIXED codebooks; ground truth
        # stays the full corpus, so a broken append drags recall down
        idx2 = str(tmp_path / "ann_recall_append")
        base = emb.where(F.col("vec_id") % 5 != 0)
        rest = emb.where(F.col("vec_id") % 5 == 0)
        build_ivfpq_index(base, idx2, dim=64, n_clusters=8, m=4, ksub=16)
        append_to_ivfpq_index(rest, idx2)
        r_append = recall_at_k(
            ivfpq_index_topk(spark, idx2, queries, k=10, n_probe=2), exact
        )
        assert r_append >= 0.15, r_append
        # the appended index searches the same corpus; recall must be in
        # the same band as the one-shot build, not degraded by the append
        assert r_append >= r_build - 0.1, (r_build, r_append)

    def test_dedupe_heals_replayed_append(self, spark, embeddings, tmp_path):
        """An at-least-once caller replaying an append duplicates code rows;
        the duplicated ids then occupy two row_number slots in top-k.
        dedupe_ivfpq_index must restore search results to the never-replayed
        reference, rewrite only the affected clusters, and be a no-op (0)
        on a clean index."""
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            dedupe_ivfpq_index,
            ivfpq_index_topk,
        )

        cents, books, emb, queries = self._fixed(spark, embeddings)
        # the replayed rows get the LOWEST ids: this fixture's adist ties
        # break by id asc, so low duplicated ids are guaranteed top-k hits
        base = emb.where(F.col("vec_id") >= 50)
        batch = emb.where(F.col("vec_id") < 50)

        ref_idx = str(tmp_path / "ann_ref")
        build_ivfpq_index(base, ref_idx, dim=64, centroids=cents, codebooks=books)
        append_to_ivfpq_index(batch, ref_idx)
        ref = sorted(
            tuple(r)
            for r in ivfpq_index_topk(spark, ref_idx, queries, k=5, n_probe=8).collect()
        )

        idx = str(tmp_path / "ann_replay")
        build_ivfpq_index(base, idx, dim=64, centroids=cents, codebooks=books)
        append_to_ivfpq_index(batch, idx)
        append_to_ivfpq_index(batch, idx)  # the replay
        # the distortion is real: some duplicated id occupies two slots
        distorted = sorted(
            tuple(r)
            for r in ivfpq_index_topk(spark, idx, queries, k=5, n_probe=8).collect()
        )
        assert distorted != ref
        assert dedupe_ivfpq_index(spark, idx) > 0
        healed = sorted(
            tuple(r)
            for r in ivfpq_index_topk(spark, idx, queries, k=5, n_probe=8).collect()
        )
        assert healed == ref
        # clean index: detection scan only, nothing rewritten
        assert dedupe_ivfpq_index(spark, idx) == 0
        assert dedupe_ivfpq_index(spark, ref_idx) == 0

    def test_compact_after_appends_preserves_search(self, spark, embeddings, tmp_path):
        """compact_ivfpq_index: nightly appends leave one file per cluster
        per batch; compaction must rewrite ONLY fragmented cluster
        partitions, strictly reduce their file counts, leave search results
        IDENTICAL, and be idempotent (second call rewrites nothing)."""
        import glob

        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            compact_ivfpq_index,
            ivfpq_index_topk,
        )

        cents, books, emb, queries = self._fixed(spark, embeddings)
        idx = str(tmp_path / "ann_compact")
        build_ivfpq_index(
            emb.where(F.col("vec_id") < 80), idx, dim=64,
            centroids=cents, codebooks=books,
        )
        for lo, hi in ((80, 120), (120, 160), (160, 200)):
            append_to_ivfpq_index(
                emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), idx
            )

        def files_per_cluster():
            out: dict[str, int] = {}
            for f in glob.glob(f"{idx}/codes/__cluster=*/*.parquet"):
                part = f.rsplit("/", 2)[1]
                out[part] = out.get(part, 0) + 1
            return out

        before_files = files_per_cluster()
        assert max(before_files.values()) >= 3, before_files  # really fragmented
        before = sorted(
            tuple(r)
            for r in ivfpq_index_topk(spark, idx, queries, k=5, n_probe=3).collect()
        )
        n = compact_ivfpq_index(spark, idx, target_file_size="64MB", min_files=2)
        assert n == sum(1 for v in before_files.values() if v >= 2)
        after_files = files_per_cluster()
        assert set(after_files) == set(before_files)  # no cluster lost
        for part, cnt in before_files.items():
            if cnt >= 2:
                assert after_files[part] < cnt, (part, cnt, after_files[part])
        after = sorted(
            tuple(r)
            for r in ivfpq_index_topk(spark, idx, queries, k=5, n_probe=3).collect()
        )
        assert after == before
        assert compact_ivfpq_index(spark, idx, target_file_size="64MB") == 0

    def test_l2_brute_force_matches_numpy(self, spark, embeddings):
        import numpy as np

        from sat_bucket_spark.operators.similarity import brute_force_topk

        emb = embeddings.limit(80).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        queries = emb.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = brute_force_topk(emb, queries, k=5, metric="l2").collect()
        mat = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
        for qid in {r["query_id"] for r in got}:
            q = mat[qid]
            dists = sorted(
                (round(float(((v - q) ** 2).sum()), 6), i) for i, v in mat.items()
            )
            want = [i for _, i in dists[:5]]
            have = [
                r["vec_id"]
                for r in sorted(
                    (r for r in got if r["query_id"] == qid),
                    key=lambda r: r["rank"],
                )
            ]
            assert have == want, (qid, have, want)

    def test_append_then_search_finds_new_rows(self, spark, embeddings, tmp_path):
        """Incremental-ingest path: append encodes with the EXISTING
        codebooks; an appended exact copy of a query vector must surface
        as its own nearest neighbor (ADC distance ties the original)."""
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            ivfpq_index_topk,
            ivfpq_topk,
        )

        cents, books, emb, queries = self._fixed(spark, embeddings)
        idx = str(tmp_path / "ann_append")
        first = emb.where(F.col("vec_id") < 150)
        extra = emb.where(F.col("vec_id") >= 150)
        build_ivfpq_index(first, idx, dim=64, centroids=cents, codebooks=books)
        append_to_ivfpq_index(extra, idx)
        from_index = sorted(
            tuple(r)
            for r in ivfpq_index_topk(spark, idx, queries, k=5, n_probe=2).collect()
        )
        inline = sorted(
            tuple(r)
            for r in ivfpq_topk(
                emb, queries, dim=64, k=5, n_probe=2,
                centroids=cents, codebooks=books,
            ).collect()
        )
        assert from_index == inline


class TestIvfpqRetrain:
    """retrain_ivfpq_index: codebook-drift maintenance (r14, VERDICT r13
    task #4) — the ANN analogue of BM25 posting compaction: appends keep
    the index current, retraining keeps it ACCURATE once the embedding
    distribution leaves the frozen codebooks behind."""

    @staticmethod
    def _populations(embeddings):
        emb = embeddings.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        base = emb.where(F.col("vec_id") % 4 != 0)
        # distribution-shifted nightly batch: offset far outside the base
        # unit-ball, compressed spread — lands in ONE stale coarse cluster
        # and quantizes to near-constant codes under the base codebooks
        shifted = emb.where(F.col("vec_id") % 4 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 0.5 + 2.0).alias(
                "embedding"
            ),
        )
        return base, shifted

    def test_drift_degrades_and_retrain_restores(
        self, spark, embeddings, tmp_path
    ):
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            brute_force_topk,
            build_ivfpq_index,
            ivfpq_index_topk,
            recall_at_k,
            retrain_ivfpq_index,
        )

        base, shifted = self._populations(embeddings)
        idx = str(tmp_path / "drift")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        append_to_ivfpq_index(shifted, idx)
        corpus = base.unionByName(shifted)
        queries = shifted.where(F.col("vec_id") % 16 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        exact = brute_force_topk(corpus, queries, k=10, metric="l2")
        before = recall_at_k(
            ivfpq_index_topk(spark, idx, queries, k=10, n_probe=2), exact
        )
        # stale codebooks: every shifted vector shares ~one code, so the
        # ADC ranking is tie-ordering — recall at the random-tie floor
        # (measured 0.106 on this fixture; healthy corpus level is ~0.26,
        # random unit vectors being the PQ worst case)
        assert before < 0.2, before
        stats = retrain_ivfpq_index(spark, idx)
        assert stats["resumed"] is False
        after = recall_at_k(
            ivfpq_index_topk(spark, idx, queries, k=10, n_probe=2), exact
        )
        # relative gates (the probe stage's shape — absolute recall on a
        # random-unit-vector corpus is a knife-edge: measured 0.29-0.35
        # across sampler changes): retrain must recover what a
        # from-scratch rebuild over the same mixed corpus would, and
        # be well clear of the degraded reading
        fresh = str(tmp_path / "drift_fresh")
        build_ivfpq_index(corpus, fresh, dim=64, n_clusters=8, m=4, ksub=16)
        r_fresh = recall_at_k(
            ivfpq_index_topk(spark, fresh, queries, k=10, n_probe=2), exact
        )
        assert after >= 0.8 * r_fresh, (after, r_fresh)
        assert after >= 2.5 * before, (before, after)

    def test_retrain_equals_fresh_build(self, spark, embeddings, tmp_path):
        """On an undrifted corpus, retraining over the SAME corpus frame
        (same seed, same data, same row order — training samples are
        partition-order-dependent, which is why the refine-store path is
        gated by recall, not bit-identity) must serve results identical
        to a fresh build — the swap is a generational replace, not a
        perturbation."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_topk,
            retrain_ivfpq_index,
        )

        base, _ = self._populations(embeddings)
        queries = base.where(F.col("vec_id") % 16 == 1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        idx = str(tmp_path / "rt")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        retrain_ivfpq_index(spark, idx, vectors=base)
        fresh = str(tmp_path / "fresh")
        build_ivfpq_index(
            base, fresh, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        got = sorted(
            map(tuple, ivfpq_index_topk(spark, idx, queries, k=5, n_probe=2).collect())
        )
        want = sorted(
            map(tuple, ivfpq_index_topk(spark, fresh, queries, k=5, n_probe=2).collect())
        )
        assert got == want and got

    def test_no_refine_store_requires_vectors(self, spark, embeddings, tmp_path):
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            retrain_ivfpq_index,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "novec")
        build_ivfpq_index(base, idx, dim=64, n_clusters=8, m=4, ksub=16)
        with pytest.raises(ValueError, match="retraining needs raw vectors"):
            retrain_ivfpq_index(spark, idx)
        # explicit corpus frame works without a refine store
        stats = retrain_ivfpq_index(spark, idx, vectors=base)
        assert stats["resumed"] is False

    def test_crash_mid_swap_resumes(self, spark, embeddings, tmp_path):
        """A crash after staging committed but before the swap finished
        (no standing meta, complete retrain.tmp) must be described by
        fsck with the resume hint, and a rerun must RESUME the swap
        without retraining — ending with a serving index."""
        import os
        import shutil

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_topk,
            retrain_ivfpq_index,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "crash")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        # reconstruct the exact mid-swap state: a COMPLETE staged
        # generation plus a deleted standing meta (and a deleted codes —
        # the worst point of the swap window)
        build_ivfpq_index(
            base, os.path.join(idx, "retrain.tmp"),
            dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True,
        )
        shutil.rmtree(os.path.join(idx, "meta"))
        shutil.rmtree(os.path.join(idx, "codes"))
        r = index_report(spark, idx)
        assert r["kind"] == "ivfpq" and not r["healthy"]
        assert any("rerun retrain_ivfpq_index" in i for i in r["issues"])
        stats = retrain_ivfpq_index(spark, idx)
        assert stats["resumed"] is True
        healed = index_report(spark, idx)
        assert healed["healthy"], healed["issues"]
        queries = base.where(F.col("vec_id") % 16 == 1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        assert ivfpq_index_topk(spark, idx, queries, k=5, n_probe=2).count() > 0

    def test_concurrent_append_aborts_swap(self, spark, embeddings, tmp_path):
        """An append landing between the staging snapshot and the swap
        must abort the retrain AND discard the staging (a rerun would
        otherwise resume it and install the stale pre-append snapshot —
        silently erasing the append). The standing index stays intact
        and still serves the appended rows; a rerun retrains cleanly."""
        import os

        import sat_bucket_spark.operators.dedup as dedup_mod
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            ivfpq_index_topk,
            retrain_ivfpq_index,
        )

        base, shifted = self._populations(embeddings)
        idx = str(tmp_path / "conc")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        real = dedup_mod._fs_tree_signature
        calls = {"n": 0}

        def racing(spark_, path):
            # 2nd codes-tree read is the pre-swap re-check: land a
            # real concurrent append just before it runs
            calls["n"] += 1
            if calls["n"] == 2:
                append_to_ivfpq_index(shifted.limit(20), idx)
            return real(spark_, path)

        dedup_mod._fs_tree_signature = racing
        try:
            with pytest.raises(RuntimeError, match="codes tree changed"):
                retrain_ivfpq_index(spark, idx)
        finally:
            dedup_mod._fs_tree_signature = real
        assert not os.path.exists(os.path.join(idx, "retrain.tmp"))
        # standing index intact AND the racing append's rows are in it
        # (presence in codes, not self-retrieval — drifted vectors
        # quantize to near-identical codes under the base codebooks, so
        # a top-1 search among them is tie-ambiguous by construction)
        appended_ids = {r["vec_id"] for r in shifted.limit(20).collect()}
        codes = spark.read.parquet(os.path.join(idx, "codes"))
        present = (
            codes.where(F.col("vec_id").isin(sorted(appended_ids)))
            .select("vec_id").distinct().count()
        )
        assert present == 20, present
        stats = retrain_ivfpq_index(spark, idx)
        assert stats["resumed"] is False
        # the clean rerun's generation was trained AFTER the append, so
        # the appended rows survive the swap too
        codes = spark.read.parquet(os.path.join(idx, "codes"))
        present = (
            codes.where(F.col("vec_id").isin(sorted(appended_ids)))
            .select("vec_id").distinct().count()
        )
        assert present == 20, present

    def test_check_ivfpq_recall_gates_the_retrain_decision(
        self, spark, embeddings, tmp_path
    ):
        """check_ivfpq_recall (r15 — VERDICT r14 Missing #2): the sf1
        probe's drift gate as a library op. Post-build reading = the
        baseline; after a distribution-shifted append the reading drops
        under 0.8x baseline (retrain_recommended=True); after
        retrain_ivfpq_index the reading recovers to >= 0.8x of a fresh
        post-retrain baseline (recommended=False).

        The drifted mass is 3x the base (not _populations' 1/4): the
        sampled query set is mass-proportional, so a small drifted blob
        dilutes the corpus-wide reading (measured here: 1/4 mass reads
        0.253 -> 0.22, ratio 0.87 — above the 0.8 gate; 3/4 mass reads
        0.34 -> 0.13). That is faithful to what the op measures —
        corpus-wide accuracy, which IS what a retrain decision weighs."""
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            check_ivfpq_recall,
            retrain_ivfpq_index,
        )

        emb = embeddings.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        base = emb.where(F.col("vec_id") % 4 == 1)
        shifted = emb.where(F.col("vec_id") % 4 != 1).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 0.5 + 2.0).alias(
                "embedding"
            ),
        )
        idx = str(tmp_path / "recall_watch")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        healthy = check_ivfpq_recall(
            spark, idx, n_queries=100, record_baseline=True
        )
        assert healthy["retrain_recommended"] is None  # no baseline yet
        assert healthy["baseline_source"] is None
        assert healthy["n_queries"] == 100
        assert healthy["recall"] > 0.2  # self-copy bias keeps healthy high
        baseline = healthy["recall"]

        append_to_ivfpq_index(shifted, idx)
        # baseline=None picks up the RECORDED post-build reading
        drifted = check_ivfpq_recall(spark, idx, n_queries=100)
        assert drifted["baseline_source"] == "recorded"
        assert drifted["baseline"] == baseline
        assert drifted["retrain_recommended"] is True, drifted
        assert drifted["recall"] < 0.8 * baseline
        # a baseline at different knobs is not comparable — ignored
        other_k = check_ivfpq_recall(spark, idx, n_queries=100, k=5)
        assert other_k["baseline_source"] is None
        assert other_k["retrain_recommended"] is None

        retrain_ivfpq_index(spark, idx)
        # the swap cleared the old generation's baseline: no cross-
        # generation gating
        post = check_ivfpq_recall(
            spark, idx, n_queries=100, record_baseline=True
        )
        assert post["baseline_source"] is None
        assert post["retrain_recommended"] is None
        retrained = check_ivfpq_recall(spark, idx, n_queries=100)
        assert retrained["baseline_source"] == "recorded"
        assert retrained["retrain_recommended"] is False, retrained

    def test_check_ivfpq_recall_requires_refine_store(
        self, spark, embeddings, tmp_path
    ):
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            check_ivfpq_recall,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "recall_novec")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=False
        )
        with pytest.raises(ValueError, match="no refine store"):
            check_ivfpq_recall(spark, idx)

    def test_check_ivfpq_recall_baseline_provenance(
        self, spark, embeddings, tmp_path
    ):
        """r15 advisor: the recorded baseline matches on sample size and
        query provenance, not just (k, n_probe) — a baseline recorded
        from a caller-supplied queries frame (or at a different
        n_queries) must not gate an incomparable later watch."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            check_ivfpq_recall,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "recall_prov")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        check_ivfpq_recall(spark, idx, n_queries=100, record_baseline=True)
        # same knobs, same sampled provenance: picked up
        same = check_ivfpq_recall(spark, idx, n_queries=100)
        assert same["baseline_source"] == "recorded"
        # different sample size = a different measurement: ignored
        fewer = check_ivfpq_recall(spark, idx, n_queries=50)
        assert fewer["baseline_source"] is None
        assert fewer["retrain_recommended"] is None
        # caller-supplied queries at the SAME count: provenance differs,
        # still ignored
        qs = (
            spark.read.parquet(os.path.join(idx, "vectors"))
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            .orderBy("query_id")
            .limit(100)
        )
        supplied = check_ivfpq_recall(spark, idx, queries=qs)
        assert supplied["baseline_source"] is None
        # and the reverse: a baseline RECORDED from supplied queries
        # never gates a corpus-sampled watch...
        check_ivfpq_recall(spark, idx, queries=qs, record_baseline=True)
        sampled = check_ivfpq_recall(spark, idx, n_queries=100)
        assert sampled["baseline_source"] is None
        # ...but an identically-shaped supplied call picks it up
        again = check_ivfpq_recall(spark, idx, queries=qs)
        assert again["baseline_source"] == "recorded"
        assert again["retrain_recommended"] is not None

    def test_check_ivfpq_recall_unreadable_baseline_is_loud(
        self, spark, embeddings, tmp_path
    ):
        """r15 verdict (What's wrong #2): a baseline dir that EXISTS but
        won't read (crash mid-record) must report
        baseline_source="unreadable", never impersonate the normal
        never-recorded None that silently disables the gate."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            check_ivfpq_recall,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "recall_corrupt")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        check_ivfpq_recall(spark, idx, n_queries=50, record_baseline=True)
        bdir = os.path.join(idx, "recall_baseline")
        for name in os.listdir(bdir):
            if name.endswith(".parquet"):
                with open(os.path.join(bdir, name), "wb") as fh:
                    fh.write(b"not parquet")
        out = check_ivfpq_recall(spark, idx, n_queries=50)
        assert out["baseline_source"] == "unreadable"
        assert out["baseline"] is None
        assert out["retrain_recommended"] is None

    def test_build_failure_preserves_recall_baseline(
        self, spark, embeddings, tmp_path, monkeypatch
    ):
        """r15 advisor: an in-place rebuild that fails during TRAINING
        leaves the standing index fully intact WITH its still-valid
        baseline — the delete happens after training succeeds, just
        before the first destructive write (the codes overwrite)."""
        import sat_bucket_spark.operators.similarity as sim

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "recall_trainfail")
        sim.build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        sim.check_ivfpq_recall(spark, idx, n_queries=50, record_baseline=True)

        def boom(*a, **k):
            raise RuntimeError("training failed")

        monkeypatch.setattr(sim, "train_ivf_centroids", boom)
        with pytest.raises(RuntimeError, match="training failed"):
            sim.build_ivfpq_index(
                base, idx, dim=64, n_clusters=8, m=4, ksub=16,
                store_vectors=True,
            )
        monkeypatch.undo()
        out = sim.check_ivfpq_recall(spark, idx, n_queries=50)
        assert out["baseline_source"] == "recorded"
        assert out["retrain_recommended"] is not None

    def _kill_before_swap(self, spark, idx):
        """Run retrain_ivfpq_index but die at the swap's FIRST action (the
        standing-meta delete) — reconstructing the cross-run crash state
        the persisted witness exists for: staging committed (meta + witness
        on disk), standing index fully valid and still serving."""
        import os

        import sat_bucket_spark.operators.dedup as dedup_mod
        from sat_bucket_spark.operators.similarity import retrain_ivfpq_index

        real = dedup_mod._fs_delete
        standing_meta = os.path.join(idx, "meta")

        def dying(spark_, path):
            if os.path.abspath(path) == os.path.abspath(standing_meta):
                raise RuntimeError("killed before swap")
            return real(spark_, path)

        dedup_mod._fs_delete = dying
        try:
            with pytest.raises(RuntimeError, match="killed before swap"):
                retrain_ivfpq_index(spark, idx)
        finally:
            dedup_mod._fs_delete = real

    def test_append_after_kill_survives_rerun(
        self, spark, embeddings, tmp_path
    ):
        """The cross-run race the in-process guard can't see (r14 advisor,
        medium): kill AFTER the staging commits but BEFORE the swap begins
        (standing meta intact, index serving), land an append, rerun. The
        rerun must NOT resume the stale staging — the persisted witness
        mismatches the live codes tree, so it discards the staging and
        retrains from the CURRENT corpus; the append survives."""
        import os

        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            retrain_ivfpq_index,
        )

        base, shifted = self._populations(embeddings)
        idx = str(tmp_path / "xrun")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        self._kill_before_swap(spark, idx)
        assert os.path.exists(os.path.join(idx, "retrain.tmp", "witness"))
        assert os.path.exists(os.path.join(idx, "meta"))  # swap never began
        # the standing index keeps serving appends across the crash window
        append_to_ivfpq_index(shifted.limit(20), idx)
        stats = retrain_ivfpq_index(spark, idx)
        # witness mismatch ⇒ fresh retrain, never a resume of the stale
        # pre-append snapshot
        assert stats["resumed"] is False
        assert not os.path.exists(os.path.join(idx, "retrain.tmp"))
        appended_ids = {r["vec_id"] for r in shifted.limit(20).collect()}
        codes = spark.read.parquet(os.path.join(idx, "codes"))
        present = (
            codes.where(F.col("vec_id").isin(sorted(appended_ids)))
            .select("vec_id").distinct().count()
        )
        assert present == 20, present

    def test_kill_without_append_resumes(self, spark, embeddings, tmp_path):
        """Same kill point, NO append before the rerun: the persisted
        witness matches the live codes tree, so the rerun resumes the
        committed staging (no second retrain) — the fast path the witness
        check must not break."""
        import os

        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_topk,
            retrain_ivfpq_index,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "xrun2")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        self._kill_before_swap(spark, idx)
        stats = retrain_ivfpq_index(spark, idx)
        assert stats["resumed"] is True
        assert not os.path.exists(os.path.join(idx, "retrain.tmp"))
        queries = base.where(F.col("vec_id") % 16 == 1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        assert ivfpq_index_topk(spark, idx, queries, k=5, n_probe=2).count() > 0

    def test_crash_mid_staging_is_harmless(self, spark, embeddings, tmp_path):
        """Staging debris WITHOUT a committed staging meta leaves the
        standing index fully valid: fsck flags stale staging, probes
        serve, and a rerun restages cleanly (resumed=False)."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            ivfpq_index_topk,
            retrain_ivfpq_index,
        )

        base, _ = self._populations(embeddings)
        idx = str(tmp_path / "stag")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        os.makedirs(os.path.join(idx, "retrain.tmp", "codes"))
        r = index_report(spark, idx)
        assert not r["healthy"]
        assert any("stale retrain staging" in i for i in r["issues"])
        queries = base.where(F.col("vec_id") % 16 == 1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        assert ivfpq_index_topk(spark, idx, queries, k=5, n_probe=2).count() > 0
        stats = retrain_ivfpq_index(spark, idx)
        assert stats["resumed"] is False
        assert index_report(spark, idx)["healthy"]


class TestSemanticDedupAgainstIndex:
    """semantic_dedup_against_index: the persisted-index embedding leg of
    the standing-archive dedup matrix (Bloom = exact, MinHash = shingles,
    this = embeddings)."""

    @staticmethod
    def _fixed_books(spark):
        import numpy as np

        from sat_bucket_spark.operators.similarity import _hyperplanes

        cents = _hyperplanes(8, 64, seed=7)
        books = np.stack([_hyperplanes(8, 16, seed=11 + j) for j in range(4)])
        return cents, books

    @classmethod
    def _codebook_exact_rows(cls, spark, books, first_codes, id_start):
        """Vectors that PQ encodes EXACTLY (each 64-dim vector concatenates
        one row per subspace codebook), so an exact copy's ADC distance is
        exactly 0 and any differing code tuple scores a large distance.
        ``first_codes`` disjointness keeps archive/fresh tuples apart."""
        import numpy as np

        rng = np.random.default_rng(5 + id_start)
        rows = []
        for i, c0 in enumerate(first_codes):
            tup = [c0] + [int(x) for x in rng.integers(0, 8, size=3)]
            v = np.concatenate([books[j][tup[j]] for j in range(4)])
            rows.append((id_start + i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_unverified_drops_copies_keeps_fresh(self, spark, tmp_path):
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        archive = self._codebook_exact_rows(
            spark, books, [i % 4 for i in range(40)], 0
        )
        idx = str(tmp_path / "sem_idx")
        build_ivfpq_index(archive, idx, dim=64, centroids=cents, codebooks=books)
        copies = archive.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        fresh = self._codebook_exact_rows(
            spark, books, [4 + i % 4 for i in range(10)], 2000
        )
        batch = copies.unionByName(fresh)
        out = semantic_dedup_against_index(
            batch, idx, max_adist=0.001, adc_margin=0.0
        )
        got = sorted(r["vec_id"] for r in out.collect())
        assert got == sorted(r["vec_id"] for r in fresh.collect())

    def test_unverified_anti_join_gated_on_id_width(
        self, spark, tmp_path, monkeypatch
    ):
        """The unverified posture's contaminated set is ids only, so its
        anti-join gate reads the probe frame's row count x the id width,
        not the LUT-wide probe frame's bytes: at a threshold between the
        two the probe join is not broadcast while the anti-join still is,
        and the survivors equal the default posture's."""
        from sat_bucket_spark.operators import similarity

        cents, books = self._fixed_books(spark)
        archive = self._codebook_exact_rows(
            spark, books, [i % 4 for i in range(40)], 0
        )
        idx = str(tmp_path / "sem_ids")
        similarity.build_ivfpq_index(
            archive, idx, dim=64, centroids=cents, codebooks=books
        )
        batch = archive.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        ).unionByName(
            self._codebook_exact_rows(spark, books, [4, 5, 6, 7], 2000)
        )
        measured = []
        real = similarity.measured_stage

        def spy(df, *extra, **kw):
            cached, metrics = real(df, *extra, **kw)
            measured.append(metrics)
            return cached, metrics

        monkeypatch.setattr(similarity, "measured_stage", spy)
        kw = dict(max_adist=0.001, adc_margin=0.0)
        default = sorted(
            r["vec_id"]
            for r in similarity.semantic_dedup_against_index(batch, idx, **kw).collect()
        )
        (probe,) = measured
        ids_bytes = probe["n"] * 8  # one long id per row
        assert 0 < ids_bytes < probe["bytes"]
        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
        prev = {k: spark.conf.get(k, None) for k in keys}
        spark.conf.set(keys[0], str(ids_bytes))
        spark.conf.set(keys[1], "-1")  # no runtime rescue of a missing hint
        try:
            out = similarity.semantic_dedup_against_index(batch, idx, **kw)
            got = sorted(r["vec_id"] for r in out.collect())
            joins = _executed_joins(out)
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert got == default == [2000, 2001, 2002, 2003]
        assert ("BroadcastHashJoinExec", "LeftAnti") in joins, joins
        assert not [j for j in joins if j[1] == "Inner" and "Broadcast" in j[0]], joins

    def test_probe_avoids_batch_shuffle_and_prefilters_verify(
        self, spark, tmp_path, no_broadcast
    ):
        """r17 (§1.2/§3.1): mirror of the MinHash-probe pin — with a
        measured-small candidate set the final anti-join must be PLANNED
        broadcast (no SortMergeJoin over the batch's fat vectors) and the
        verify-side norm/vector projection must sit behind a LeftSemi
        candidate pre-filter. Gate off (no_broadcast) must produce
        identical survivors."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        archive = self._codebook_exact_rows(
            spark, books, [i % 4 for i in range(40)], 0
        )
        idx = str(tmp_path / "sem_idx_noshuffle")
        build_ivfpq_index(
            archive, idx, dim=64, centroids=cents, codebooks=books,
            store_vectors=True,
        )
        copies = archive.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        fresh = self._codebook_exact_rows(
            spark, books, [4 + i % 4 for i in range(10)], 2000
        )
        batch = copies.unionByName(fresh)
        out = semantic_dedup_against_index(
            batch, idx, min_cosine=0.9, n_probe=2, adc_margin=None,
            verify_vectors="index",
        )
        out.collect()  # finalize THIS frame's QE through AQE
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, (
            "probe batch was shuffle-planned; the measured-small candidate "
            "path must broadcast the contaminated set"
        )
        assert "LeftAnti" in plan
        assert "LeftSemi" in plan, "verify-side candidate pre-filter missing"
        got = sorted(r["vec_id"] for r in out.collect())
        with no_broadcast():
            ungated = semantic_dedup_against_index(
                batch, idx, min_cosine=0.9, n_probe=2, adc_margin=None,
                verify_vectors="index",
            )
            assert sorted(r["vec_id"] for r in ungated.collect()) == got

    def test_verified_full_probe_equals_brute_force(self, spark, embeddings, tmp_path):
        """n_probe = n_clusters + an unbounded ADC margin makes the verified
        posture candidate-complete, so the result must be IDENTICAL to the
        exact brute-force gate (max cosine vs archive >= threshold)."""
        from sat_bucket_spark.operators.similarity import (
            _cosine_prenormed,
            build_ivfpq_index,
            dot_expr,
            norm_expr,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        emb = embeddings.limit(200).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        archive = emb.where(F.col("vec_id") >= 50)
        batch = emb.where(F.col("vec_id") < 40).unionByName(
            archive.where(F.col("vec_id") < 60).select(
                (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
            )
        )
        idx = str(tmp_path / "sem_full")
        build_ivfpq_index(archive, idx, dim=64, centroids=cents, codebooks=books)
        # 0.34 sits mid-distribution for this corpus (measured max-cos
        # percentiles 0.265..0.428), so both sides stay populated
        thr = 0.34
        out = semantic_dedup_against_index(
            batch, idx, min_cosine=thr, n_probe=8, adc_margin=1e12,
            verify_vectors=archive,
        )
        got = sorted(r["vec_id"] for r in out.collect())
        # adc_margin=None (explicit candidate-complete: ADC scoring skipped
        # entirely) must equal the unbounded finite margin
        got_cc = sorted(
            r["vec_id"]
            for r in semantic_dedup_against_index(
                batch, idx, min_cosine=thr, n_probe=8, adc_margin=None,
                verify_vectors=archive,
            ).collect()
        )
        assert got_cc == got

        vb = batch.select(
            F.col("vec_id").alias("__bid"),
            F.col("embedding").alias("__va"),
            norm_expr("embedding", 64).alias("__na"),
        )
        vc = archive.select(
            F.col("embedding").alias("__vb"), norm_expr("embedding", 64).alias("__nb")
        )
        cos = _cosine_prenormed(
            dot_expr("__va", "__vb", 64), F.col("__na"), F.col("__nb")
        )
        hit = (
            vb.crossJoin(vc)
            .where(F.round(cos, 6) >= F.lit(thr))
            .select("__bid")
            .distinct()
        )
        expected = sorted(
            r["vec_id"]
            for r in batch.join(
                hit, batch["vec_id"] == hit["__bid"], "left_anti"
            ).collect()
        )
        # the copies MUST be dropped (cosine 1.0), so the gate is non-trivial
        assert expected and len(expected) < batch.count()
        assert got == expected

    def test_candidate_complete_requires_verify(self, spark, tmp_path):
        import pytest

        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        archive = self._codebook_exact_rows(
            spark, books, [i % 4 for i in range(20)], 0
        )
        idx = str(tmp_path / "sem_cc")
        build_ivfpq_index(archive, idx, dim=64, centroids=cents, codebooks=books)
        with pytest.raises(ValueError, match="candidate-complete"):
            semantic_dedup_against_index(archive, idx, adc_margin=None)

    def test_malformed_vectors_bypass(self, spark, tmp_path):
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        archive = self._codebook_exact_rows(
            spark, books, [i % 4 for i in range(20)], 0
        )
        idx = str(tmp_path / "sem_null")
        build_ivfpq_index(archive, idx, dim=64, centroids=cents, codebooks=books)
        batch = spark.createDataFrame(
            [(9001, None), (9002, [1.0, 2.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
        got = sorted(
            r["vec_id"]
            for r in semantic_dedup_against_index(batch, idx).collect()
        )
        assert got == [9001, 9002]

    def test_fallback_postures_identical(
        self, spark, embeddings, tmp_path, no_broadcast
    ):
        """Forcing the shuffled-join + semi-join fallbacks (every broadcast
        gate off) must not change the survivor set."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        emb = embeddings.limit(150).select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        archive = emb.where(F.col("vec_id") >= 40)
        batch = emb.where(F.col("vec_id") < 30).unionByName(
            archive.where(F.col("vec_id") < 50).select(
                (F.col("vec_id") + 7000).alias("vec_id"), "embedding"
            )
        )
        idx = str(tmp_path / "sem_fb")
        build_ivfpq_index(archive, idx, dim=64, centroids=cents, codebooks=books)
        kw = dict(min_cosine=0.3, n_probe=8, adc_margin=1e12, verify_vectors=archive)
        default = sorted(
            r["vec_id"]
            for r in semantic_dedup_against_index(batch, idx, **kw).collect()
        )
        with no_broadcast():
            fallback = sorted(
                r["vec_id"]
                for r in semantic_dedup_against_index(batch, idx, **kw).collect()
            )
        assert default == fallback

    def test_probe_prunes_code_partitions(self, spark, embeddings, tmp_path):
        """The probed-cluster isin must reach the codes scan as a partition
        filter — the 100 TB posture: a batch reads only its probed lists."""
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        emb = embeddings.limit(200).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        idx = str(tmp_path / "sem_prune")
        build_ivfpq_index(emb, idx, dim=64, centroids=cents, codebooks=books)
        batch = emb.limit(1).select(
            (F.col("vec_id") + 8000).alias("vec_id"), "embedding"
        )
        out = semantic_dedup_against_index(batch, idx, n_probe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re as _re

        # the batch's own parquet scan has no partition filter — the codes
        # scan (some FileScan in the plan) must carry the probed-cluster IN
        pfs = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert any("__cluster" in pf and " IN " in pf for pf in pfs), plan[:2000]

    def test_refine_store_verify_equals_explicit_frame(
        self, spark, embeddings, tmp_path
    ):
        """verify_vectors='index' (the refine store) must produce the same
        survivors as handing the archive frame in explicitly, its vectors
        scan must be partition-pruned AND carry the pushed candidate-id
        In, and appends must keep the store in sync (a copy of an
        appended vector drops)."""
        import re as _re

        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        emb = embeddings.limit(200).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        archive = emb.where(F.col("vec_id") >= 50)
        batch = emb.where(F.col("vec_id") < 40).unionByName(
            archive.where(F.col("vec_id") < 60).select(
                (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
            )
        )
        idx = str(tmp_path / "sem_store")
        build_ivfpq_index(
            archive, idx, dim=64, centroids=cents, codebooks=books,
            store_vectors=True,
        )
        kw = dict(min_cosine=0.34, n_probe=8, adc_margin=None)
        explicit = sorted(
            r["vec_id"]
            for r in semantic_dedup_against_index(
                batch, idx, verify_vectors=archive, **kw
            ).collect()
        )
        # default posture: partition-pruned store scan + candidate semi-join
        got_semi = sorted(
            r["vec_id"]
            for r in semantic_dedup_against_index(
                batch, idx, verify_vectors="index", **kw
            ).collect()
        )
        assert got_semi == explicit and 0 < len(got_semi) < batch.count()
        # opt-in pushdown posture (point-lookup-small candidate ids)
        from_store = semantic_dedup_against_index(
            batch, idx, verify_vectors="index", pushdown_max_ids=100_000, **kw
        )
        got = sorted(r["vec_id"] for r in from_store.collect())
        assert got == explicit

        # plan: the store scan is partition-pruned and id-pushed. The
        # candidate cache hides it from the FINAL plan, so check the
        # verify side via a fresh un-collected frame's executed plan
        plan = from_store._jdf.queryExecution().executedPlan().toString()
        pfs = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        pushed = _re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("__cluster" in pf and " IN " in pf for pf in pfs), plan[:3000]
        assert any("In(vec_id" in pd for pd in pushed), plan[:3000]

        # append keeps the store in sync: a re-keyed copy of an appended
        # vector is caught by the index-store verify
        novel = emb.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
        )
        append_to_ivfpq_index(novel, idx)
        resubmit = novel.select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
        kept = semantic_dedup_against_index(
            resubmit, idx, min_cosine=0.95, n_probe=8, adc_margin=None,
            verify_vectors="index",
        ).count()
        assert kept == 0

    def test_refine_store_validation_and_healing(self, spark, embeddings, tmp_path):
        import pytest

        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            dedupe_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        emb = embeddings.limit(100).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        bare = str(tmp_path / "sem_bare")
        build_ivfpq_index(emb, bare, dim=64, centroids=cents, codebooks=books)
        with pytest.raises(ValueError, match="store_vectors=True"):
            semantic_dedup_against_index(
                emb.limit(1), bare, verify_vectors="index"
            )
        with pytest.raises(ValueError, match="literal 'index'"):
            semantic_dedup_against_index(
                emb.limit(1), bare, verify_vectors="bogus"
            )

        # healing covers the refine store: a replayed append duplicates
        # vector rows too; dedupe restores exact row counts
        idx = str(tmp_path / "sem_heal")
        build_ivfpq_index(
            emb.where(F.col("vec_id") >= 20), idx, dim=64,
            centroids=cents, codebooks=books, store_vectors=True,
        )
        nb = emb.where(F.col("vec_id") < 20)
        append_to_ivfpq_index(nb, idx)
        append_to_ivfpq_index(nb, idx)  # the replay
        vrows = spark.read.parquet(f"{idx}/vectors").count()
        assert vrows == 100 + 20  # duplicated
        assert dedupe_ivfpq_index(spark, idx) > 0
        assert spark.read.parquet(f"{idx}/vectors").count() == 100
        assert spark.read.parquet(f"{idx}/codes").count() == 100

    def test_stage_scope_lifetime(
        self, spark, embeddings, tmp_path, cached_rdd_ids
    ):
        """The probe frame and candidate set live while the scope is open
        and are freed on exit."""
        from sat_bucket_spark.caching import stage_scope
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            semantic_dedup_against_index,
        )

        cents, books = self._fixed_books(spark)
        emb = embeddings.limit(100).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        idx = str(tmp_path / "sem_reg")
        build_ivfpq_index(emb, idx, dim=64, centroids=cents, codebooks=books)
        before = cached_rdd_ids()
        with stage_scope():
            out = semantic_dedup_against_index(
                emb.limit(10), idx, verify_vectors=emb
            )
            out.count()
            assert len(cached_rdd_ids() - before) == 2
        assert not cached_rdd_ids() - before


class TestUrlNormalize:
    def _norm(self, spark, urls, **kw):
        from sat_bucket_spark.operators.urls import normalize_url_expr

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [r.n for r in df.select(normalize_url_expr("url", **kw).alias("n")).collect()]

    def test_spelling_variants_collapse(self, spark):
        variants = [
            "HTTP://WwW.Site.Example:80/A//b/c/?utm_source=x&b=2&a=1&fbclid=z#frag",
            "http://www.site.example/A/b/c?a=1&b=2",
            "http://www.site.example:80/A/b//c/#x",
        ]
        got = self._norm(spark, variants)
        assert got[0] == got[1] == "http://www.site.example/A/b/c?a=1&b=2"
        assert got[2] == "http://www.site.example/A/b/c"

    def test_scheme_rules(self, spark):
        got = self._norm(
            spark,
            ["https://Host.Example:443/", "https://host.example",
             "ftp://H.example:80/x/",  # non-http scheme: port kept
             "not a url", "relative/path?x=1"],
        )
        assert got[0] == got[1] == "https://host.example"
        assert got[2] == "ftp://h.example:80/x"
        assert got[3] == "not a url"       # schemeless: pass through
        assert got[4] == "relative/path?x=1"

    def test_all_params_dropped_loses_question_mark(self, spark):
        assert self._norm(spark, ["http://h.example/p?utm_a=1&utm_b=2"]) == [
            "http://h.example/p"
        ]

    def test_strip_www_knob(self, spark):
        got = self._norm(spark, ["http://www.h.example/p"], strip_www=True)
        assert got == ["http://h.example/p"]

    def test_url_dedup_keep_first(self, spark):
        from sat_bucket_spark.operators.urls import url_dedup

        rows = [
            (1, "http://h.example/p?b=2&a=1"),
            (2, "HTTP://H.EXAMPLE:80/p/?a=1&b=2&utm_x=1"),
            (3, "http://h.example/other"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r.doc_id: (r.n_copies, r.kept) for r in url_dedup(df).collect()}
        assert got == {1: (2, True), 2: (2, False), 3: (1, True)}

    def test_normalize_idempotent_and_total(self, spark):
        """A canonicalizer that is not idempotent corrupts keep-first
        dedup across re-crawls (the stored norm_url would re-normalize
        to a different key). Sweep a messy generated corpus: one pass
        must be a fixed point, and no input may produce NULL."""
        import itertools
        import random

        from sat_bucket_spark.operators.urls import normalize_url_expr

        rng = random.Random(99)
        schemes = ["http", "HTTP", "https", "ftp", ""]
        hosts = ["h.example", "H.EXAMPLE", "h.example:80", "h.example:443",
                 "www.H.example", "h.example:8080", ""]
        paths = ["", "/", "/a", "/a/", "//a///b//", "/a//b/", "/%7Euser"]
        queries = ["", "?", "?a=1", "?b=2&a=1", "?utm_source=x&a=1",
                   "?gclid=1", "?a=1&a=0", "?=v", "?a"]
        frags = ["", "#f", "#a?b=2", "##x"]
        combos = list(itertools.product(schemes, hosts, paths, queries, frags))
        urls = []
        for s, h, p, q, f in rng.sample(combos, 400):
            base = f"{s}://{h}" if s else h
            urls.append(base + p + q + f)
        urls += ["", "   ", "not a url", "a://", "://x", "http://"]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = normalize_url_expr(F.col("url"))
        out = df.select(
            "url", once.alias("n1"), normalize_url_expr(once).alias("n2")
        ).collect()
        for r in out:
            assert r.n1 is not None, r.url
            assert r.n1 == r.n2, (r.url, r.n1, r.n2)

    def test_url_dedup_content_hash_id_ties(self, spark):
        """The crawl common case: id_col is a content hash, so the same
        page under two spellings of one canonical URL carries the SAME
        id — exactly one copy must be kept (a min-id-only flag marks
        both)."""
        from sat_bucket_spark.operators.urls import url_dedup

        rows = [
            (7, "http://h.example/p"),
            (7, "http://H.EXAMPLE/p/?utm_x=1#f"),
            (7, "http://h.example/q"),  # same hash, DIFFERENT canonical url
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = url_dedup(df).collect()
        kept_by_norm = {}
        for r in out:
            kept_by_norm.setdefault(r.norm_url, []).append(r.kept)
        assert sorted(kept_by_norm["http://h.example/p"]) == [False, True]
        assert kept_by_norm["http://h.example/q"] == [True]
        # deterministic survivor: the lexicographically smaller raw url
        survivor = [r.url for r in out if r.kept and r.norm_url == "http://h.example/p"]
        assert survivor == ["http://H.EXAMPLE/p/?utm_x=1#f"]


class TestMinhashCollapseRouting:
    def test_forced_modes_identical(self, spark):
        from sat_bucket_spark.operators.dedup import minhash_lsh_dedup_pairs

        base = "the quick brown fox jumps over the lazy dog again and again"
        texts = [base, base + " extra words", "zz unrelated corpus row qq"]
        rows = [(10 * i + c, t) for i, t in enumerate(texts) for c in range(3)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        kw = dict(n_hashes=16, n_bands=8, shingle_size=8, min_jaccard=0.1)
        a = sorted(tuple(r) for r in minhash_lsh_dedup_pairs(df, collapse=True, **kw).collect())
        b = sorted(tuple(r) for r in minhash_lsh_dedup_pairs(df, collapse=False, **kw).collect())
        assert a == b and len(a) > 0


class TestSampledRoutingProbe:
    """measured_duplicate_fraction: the collapse='auto' probe must stay
    O(sample) at scale while making the same routing decision the exact
    full-column aggregate made (r8 shipped the full scan; r9 samples by
    content hash, which keeps per-text copy counts intact)."""

    def _corpus(self, spark, n_distinct, copies):
        rows = [
            (i * copies + c, f"distinct document body number {i} padded text")
            for i in range(n_distinct)
            for c in range(copies)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_sampled_matches_exact_on_duplicate_heavy(self, spark):
        from sat_bucket_spark.operators.dedup import measured_duplicate_fraction

        df = self._corpus(spark, n_distinct=800, copies=5)  # true frac 0.8
        exact = measured_duplicate_fraction(df, "text", sample_mod=1)
        sampled = measured_duplicate_fraction(df, "text", sample_mod=2)
        assert abs(exact - 0.8) < 0.05
        # same routing decision at the 0.15 threshold, and close in value
        assert (sampled >= 0.15) == (exact >= 0.15)
        assert abs(sampled - exact) < 0.1

    def test_sampled_matches_exact_on_unique(self, spark):
        from sat_bucket_spark.operators.dedup import measured_duplicate_fraction

        df = self._corpus(spark, n_distinct=4000, copies=1)  # true frac 0.0
        exact = measured_duplicate_fraction(df, "text", sample_mod=1)
        sampled = measured_duplicate_fraction(df, "text", sample_mod=2)
        assert (sampled >= 0.15) == (exact >= 0.15) == False  # noqa: E712
        assert abs(sampled - exact) < 0.1

    def test_tiny_corpus_falls_back_to_exact(self, spark):
        # under _ROUTE_SAMPLE_MIN_ROWS sampled rows the probe reruns the
        # exact aggregate, so tiny fixtures keep r8's routing decisions
        from sat_bucket_spark.operators.dedup import measured_duplicate_fraction

        df = self._corpus(spark, n_distinct=10, copies=5)
        assert abs(measured_duplicate_fraction(df, "text") - 0.8) < 1e-9

    def test_prior_skips_the_probe_job(self, spark, monkeypatch):
        import sat_bucket_spark.operators.dedup as dd

        def _boom(*a, **k):
            raise AssertionError("probe must not run when a prior is given")

        monkeypatch.setattr(dd, "measured_duplicate_fraction", _boom)
        df = self._corpus(spark, n_distinct=4, copies=3)
        out = dd.minhash_lsh_dedup_pairs(
            df, n_hashes=8, n_bands=4, dup_fraction_prior=0.9
        )
        assert out.count() > 0
        out2 = dd.edit_distance_pairs(df, max_distance=1, dup_fraction_prior=0.0)
        assert out2.count() >= 0
