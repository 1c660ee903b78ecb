"""Tests for archive maintenance: file stats and selective compaction."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from sat_bucket_spark import write_bucket
from sat_bucket_spark.maintenance import bucket_file_stats, compact_bucket
from sat_bucket_spark.partitioning import LonLatPartitioning

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def fragmented_bucket(spark, tmp_path):
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .withColumn("lon", (F.col("event_id") % 360 - 180 + 0.5).cast("double"))
        .withColumn(
            "lat",
            (F.floor(F.col("event_id") / 360) % 180 - 90 + 0.5).cast("double"),
        )
        .withColumn("time", F.current_timestamp())
    )
    b = str(tmp_path / "bucket")
    p = LonLatPartitioning(size=(90, 90))
    for i in range(3):
        write_bucket(ev.where(F.col("event_id") % 3 == i), b, p, x="lon", y="lat")
    return b, ev


class TestBucketFileStats:
    def test_matches_filesystem_truth(self, spark, fragmented_bucket):
        b, ev = fragmented_bucket
        stats = bucket_file_stats(spark, b).collect()
        fs_files = glob.glob(f"{b}/**/*.parquet", recursive=True)
        assert sum(r["n_files"] for r in stats) == len(fs_files)
        assert sum(r["total_bytes"] for r in stats) == sum(
            os.path.getsize(f) for f in fs_files
        )
        assert sum(r["n_rows"] for r in stats) == ev.count()

    def test_scan_reads_no_data_columns(self, spark, fragmented_bucket):
        b, _ = fragmented_bucket
        plan = (
            bucket_file_stats(spark, b)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scan and "ReadSchema: struct<>" in scan[0]

    def test_corrupt_bucket_info_warns_and_falls_back(self, spark, fragmented_bucket):
        """A corrupt bucket_info.yaml surfaces a warning, not a silent degrade."""
        b, ev = fragmented_bucket
        info_path = os.path.join(b, "bucket_info.yaml")
        with open(info_path, "w") as f:
            f.write("spatial_partitioning: [not, a, mapping]\n")
        with pytest.warns(UserWarning, match="could not be parsed"):
            stats = bucket_file_stats(spark, b).collect()
        # fallback grouping (time_part only) still yields correct totals
        fs_files = glob.glob(f"{b}/**/*.parquet", recursive=True)
        assert sum(r["n_files"] for r in stats) == len(fs_files)
        assert sum(r["n_rows"] for r in stats) == ev.count()

    def test_missing_bucket_info_is_silent(self, spark, fragmented_bucket, recwarn):
        """No bucket_info.yaml at all is a legitimate plain-parquet dir — no warning."""
        b, _ = fragmented_bucket
        os.remove(os.path.join(b, "bucket_info.yaml"))
        bucket_file_stats(spark, b).collect()
        assert not [w for w in recwarn if "could not be parsed" in str(w.message)]


class TestCompactBucket:
    def test_compacts_and_preserves_data(self, spark, fragmented_bucket):
        b, _ = fragmented_bucket
        rd = lambda: spark.read.option("pathGlobFilter", "*.parquet").parquet(b)
        before_rows = sorted(
            tuple(r) for r in rd().select("event_id", "lon_bin", "lat_bin").collect()
        )
        before_files = len(glob.glob(f"{b}/**/*.parquet", recursive=True))
        n = compact_bucket(spark, b, target_file_size="64MB")
        after_files = len(glob.glob(f"{b}/**/*.parquet", recursive=True))
        after_rows = sorted(
            tuple(r) for r in rd().select("event_id", "lon_bin", "lat_bin").collect()
        )
        assert n > 0
        assert after_files < before_files
        assert after_rows == before_rows

    def test_untouched_partitions_keep_their_files(self, spark, fragmented_bucket):
        """Dynamic overwrite must not rewrite partitions that don't qualify:
        pre-compact one partition to a single file; its file must survive
        compaction of the others byte-identically (same path, same mtime)."""
        b, _ = fragmented_bucket
        parts = sorted(glob.glob(f"{b}/lon_bin=*/lat_bin=*"))
        target = parts[0]
        kv = dict(
            seg.split("=") for seg in target.split(os.sep)[-2:]
        )
        # compact ONLY that partition first (restrict via partition_cols filter)
        one = (
            spark.read.option("pathGlobFilter", "*.parquet").parquet(b)
            .where(
                (F.col("lon_bin") == kv["lon_bin"]) & (F.col("lat_bin") == kv["lat_bin"])
            )
        )
        from sat_bucket_spark.writers import write_partitioned_dataset

        write_partitioned_dataset(
            one, b, partitions=["lon_bin", "lat_bin"], mode="overwrite_partitions"
        )
        files_before = {
            f: os.path.getmtime(f) for f in glob.glob(f"{target}/*.parquet")
        }
        assert len(files_before) == 1
        n = compact_bucket(spark, b, target_file_size="64MB")
        assert n > 0  # the OTHER partitions qualified
        files_after = {
            f: os.path.getmtime(f) for f in glob.glob(f"{target}/*.parquet")
        }
        assert files_after == files_before  # byte-for-byte untouched

    def test_noop_when_nothing_qualifies(self, spark, fragmented_bucket):
        b, _ = fragmented_bucket
        assert compact_bucket(spark, b, target_file_size="64MB") > 0
        # second pass: everything already at one file per partition
        assert compact_bucket(spark, b, target_file_size="64MB") == 0


class TestFlattenValidation:
    def test_stray_file_refuses_before_any_rename(self, spark, tmp_path):
        import os

        from sat_bucket_spark.maintenance import flatten_time_partitions

        b = tmp_path / "bucket" / "lon_bin=0.0" / "time_part=2021"
        b.mkdir(parents=True)
        (b / "part-0000.parquet").write_bytes(b"x")
        (b / "stray.json").write_bytes(b"{}")
        with pytest.raises(ValueError, match="refusing to flatten"):
            flatten_time_partitions(str(tmp_path / "bucket"))
        # nothing moved: the parquet file is still inside the time dir
        assert os.path.exists(b / "part-0000.parquet")

    def test_destination_collision_refuses_before_any_rename(self, spark, tmp_path):
        """ADVICE r5: a pre-existing '{label}_{i}.parquet' in the spatial dir
        (rerun after an incremental merge added a new time_part dir to an
        already-flattened bucket) must refuse, not silently overwrite."""
        import os

        from sat_bucket_spark.maintenance import flatten_time_partitions

        root = tmp_path / "bucket" / "lon_bin=0.0"
        td = root / "time_part=2021"
        td.mkdir(parents=True)
        (td / "part-0000.parquet").write_bytes(b"new")
        # destination already exists from a previous flatten
        (root / "2021_0.parquet").write_bytes(b"old")
        with pytest.raises(ValueError, match="destination files already exist"):
            flatten_time_partitions(str(tmp_path / "bucket"))
        # nothing moved, nothing clobbered
        assert (root / "2021_0.parquet").read_bytes() == b"old"
        assert (td / "part-0000.parquet").read_bytes() == b"new"


class TestIndexReport:
    """index_report: the fsck of the four persisted-index legs."""

    @pytest.fixture()
    def docs(self, spark):
        return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )

    @pytest.fixture()
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )

    def test_bloom_generations_and_bound(self, spark, docs, tmp_path):
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import (
            append_to_bloom_index,
            build_bloom_index,
        )

        idx = str(tmp_path / "bloom")
        build_bloom_index(docs, idx, ["text"], n_bits=1 << 16)
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bloom" and r["healthy"], r["issues"]
        assert r["generation"] == 0 and r["stale_generations"] == []
        assert 0 < r["components"]["bitmap"]["rows"] <= (1 << 16) // 64

        extra = docs.select(
            (F.col("doc_id") + 50_000).alias("doc_id"),
            F.concat(F.lit("x"), F.col("text")).alias("text"),
        )
        append_to_bloom_index(extra, idx)
        r2 = index_report(spark, idx)
        assert r2["kind"] == "bloom" and r2["generation"] == 1
        # appends retire the old generation, so a clean append stays healthy
        assert r2["healthy"], r2["issues"]

    def test_bm25_compact_crash_window_reports_not_crashes(
        self, spark, docs, tmp_path
    ):
        """compact_bm25_index's documented crash window (postings/
        deleted, postings.compact not yet renamed) must fsck as an
        unhealthy report carrying the rename recovery hint — not a
        ValueError from kind detection or a raw FileNotFoundException."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.relevance import build_bm25_index

        idx = str(tmp_path / "bm25_crash")
        build_bm25_index(docs, idx)
        os.rename(
            os.path.join(idx, "postings"),
            os.path.join(idx, "postings.compact"),
        )
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bm25" and not r["healthy"]
        assert any(
            "postings: no parquet files" in i and ".compact" in i
            for i in r["issues"]
        )

    def test_bm25_uncommitted_build_reports_not_crashes(
        self, spark, docs, tmp_path
    ):
        """A build/append that crashed before its stats commit leaves
        only an uncommitted generation (current resolves to gen 0, whose
        dirs do not exist) — the report must degrade to issues for the
        missing terms/stats components, never raise on listStatus."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.relevance import build_bm25_index

        idx = str(tmp_path / "bm25_uncommitted")
        build_bm25_index(docs, idx)
        os.remove(os.path.join(idx, "gen.v1", "stats", "_SUCCESS"))
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bm25" and not r["healthy"]
        assert r["generation"] == 0 and r["stale_generations"]
        assert any("terms: no parquet files" in i for i in r["issues"])
        assert any("stats: no parquet files" in i for i in r["issues"])

    def test_bloom_stale_generation_flagged(self, spark, docs, tmp_path):
        """Distorted-index row for the Bloom leg (r13 fsck gate): a
        bitmap generation that never committed (crash debris) must turn
        the report unhealthy with a stale-generation issue."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import build_bloom_index

        idx = str(tmp_path / "bloom_distort")
        build_bloom_index(docs, idx, ["text"])
        assert index_report(spark, idx)["healthy"]
        os.makedirs(os.path.join(idx, "bitmap.v7"))  # no _SUCCESS: debris
        r = index_report(spark, idx)
        assert not r["healthy"]
        assert any("stale bitmap generation" in i for i in r["issues"])
        assert r["generation"] == 0  # still serving the committed gen

    def test_minhash_missing_component_flagged(self, spark, docs, tmp_path):
        """Distorted-index row for the MinHash leg (r13 fsck gate): a
        shingles/ directory emptied of parquet (a compact swap's crash
        window) must turn the report unhealthy, not crash it."""
        import glob
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import build_minhash_index

        idx = str(tmp_path / "mh_distort")
        build_minhash_index(docs, idx, n_hashes=8, n_bands=4, shingle_size=8)
        assert index_report(spark, idx)["healthy"]
        for f in glob.glob(os.path.join(idx, "shingles", "*.parquet")):
            os.remove(f)
        r = index_report(spark, idx)
        assert not r["healthy"]
        assert any("shingles: no parquet files" in i for i in r["issues"])

    def test_minhash_fragmentation_tracks_appends(self, spark, docs, tmp_path):
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import (
            append_to_minhash_index,
            build_minhash_index,
            compact_minhash_index,
        )

        idx = str(tmp_path / "mh")
        build_minhash_index(
            docs.where(F.col("doc_id") % 2 == 0), idx,
            n_hashes=8, n_bands=4, shingle_size=8,
        )
        before = index_report(spark, idx)
        assert before["kind"] == "minhash" and before["healthy"]
        append_to_minhash_index(
            docs.where(F.col("doc_id") % 2 == 1).select(
                (F.col("doc_id") + 50_000).alias("doc_id"), "text"
            ),
            idx,
        )
        frag = index_report(spark, idx)["components"]["bands"][
            "max_files_per_partition"
        ]
        assert frag > before["components"]["bands"]["max_files_per_partition"]
        compact_minhash_index(spark, idx)
        after = index_report(spark, idx)
        assert (
            after["components"]["bands"]["max_files_per_partition"] < frag
        )

    def test_bm25_fragmentation_tracks_appends_and_compacts(
        self, spark, docs, tmp_path
    ):
        """The fourth leg's maintenance story: appends shrink the
        postings' mean file size (the fsck fragmentation row), the
        compactor restores the few-files term-range layout, and the probe
        is bit-identical across build -> appends -> compact."""
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.relevance import (
            append_to_bm25_index,
            bm25_index_topk,
            build_bm25_index,
            compact_bm25_index,
        )

        idx = str(tmp_path / "bm25")
        build_bm25_index(docs.where(F.col("doc_id") % 4 == 0), idx)
        before = index_report(spark, idx)
        assert before["kind"] == "bm25" and before["healthy"]
        for k in (1, 2, 3):
            append_to_bm25_index(
                docs.where(F.col("doc_id") % 4 == k), idx
            )
        frag_report = index_report(spark, idx)
        frag = frag_report["components"]["postings"]
        assert frag["files"] > before["components"]["postings"]["files"]
        assert (
            frag["mean_file_bytes"]
            < before["components"]["postings"]["mean_file_bytes"]
        )
        terms = ["data", "model", "the"]
        want = sorted(
            map(tuple, bm25_index_topk(spark, idx, terms, k=None).collect())
        )
        assert want
        stats = compact_bm25_index(spark, idx, target_file_size="64MB")
        n_b, n_a = stats["posting_files"]
        assert n_b == frag["files"] and n_a < n_b
        after = index_report(spark, idx, scan=True)
        assert after["healthy"], after["issues"]
        assert after["generation"] == frag_report["generation"]
        assert (
            after["components"]["postings"]["mean_file_bytes"]
            > frag["mean_file_bytes"]
        )
        got = sorted(
            map(tuple, bm25_index_topk(spark, idx, terms, k=None).collect())
        )
        assert got == want  # bit-identical probe across the compaction
        # below the fragmentation criterion: nothing rewritten
        again = compact_bm25_index(spark, idx, target_file_size="64MB")
        assert again["posting_files"] == (n_a, n_a)

    def test_ivfpq_scan_flags_replay_duplicates(self, spark, emb, tmp_path):
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            dedupe_ivfpq_index,
        )

        idx = str(tmp_path / "ivf")
        build_ivfpq_index(
            emb.where(F.col("vec_id") >= 20), idx, dim=64,
            n_clusters=8, m=4, ksub=16,
        )
        batch = emb.where(F.col("vec_id") < 20)
        append_to_ivfpq_index(batch, idx)
        append_to_ivfpq_index(batch, idx)  # the replay
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "ivfpq"
        assert r["duplicate_code_groups"] > 0 and not r["healthy"]
        assert any("dedupe_ivfpq_index" in i for i in r["issues"])
        dedupe_ivfpq_index(spark, idx)
        healed = index_report(spark, idx, scan=True)
        assert healed["duplicate_code_groups"] == 0 and healed["healthy"]

    def test_ivfpq_recall_baseline_watched(self, spark, emb, tmp_path):
        """r16 (VERDICT r15 What's wrong #2): the recorded recall
        baseline is under fsck watch — a healthy recorded baseline is
        surfaced in the report, and a corrupted one (crash mid-record)
        is an issue line instead of a silent no-op gate."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.similarity import (
            build_ivfpq_index,
            check_ivfpq_recall,
        )

        idx = str(tmp_path / "ivf_recall_watch")
        build_ivfpq_index(
            emb, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        # no baseline yet: nothing to watch, report stays healthy
        r0 = index_report(spark, idx)
        assert r0["healthy"] and "recall_baseline" not in r0
        check_ivfpq_recall(spark, idx, n_queries=50, record_baseline=True)
        r1 = index_report(spark, idx)
        assert r1["healthy"], r1["issues"]
        assert r1["recall_baseline"]["k"] == 10
        assert r1["recall_baseline"]["n_queries"] == 50
        assert r1["recall_baseline"]["query_source"] == "sampled"
        # corrupt it the way a crash mid-record would
        bdir = os.path.join(idx, "recall_baseline")
        for name in os.listdir(bdir):
            if name.endswith(".parquet"):
                with open(os.path.join(bdir, name), "wb") as fh:
                    fh.write(b"not parquet")
        r2 = index_report(spark, idx)
        assert not r2["healthy"]
        assert any("recall_baseline" in i for i in r2["issues"])

    def test_bm25_and_unknown_layout(self, spark, docs, tmp_path):
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.relevance import build_bm25_index

        idx = str(tmp_path / "bm25")
        build_bm25_index(docs, idx)
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bm25" and r["healthy"], r["issues"]
        assert r["components"]["postings"]["rows"] > 0
        assert r["components"]["stats"]["rows"] == 1

        with pytest.raises(ValueError, match="no known index layout"):
            index_report(spark, str(tmp_path))

    def test_bare_debris_names_are_not_indexes(self, spark, tmp_path):
        """r14 advisor: a directory whose children merely SHARE a crash
        marker's name (bands/ with no corroborating sibling; an empty
        retrain.tmp/ or rebuild.tmp/ with no index inside) must report
        unknown layout, not a damaged index."""
        import os

        from sat_bucket_spark.maintenance import index_report

        for name in ("bands", "retrain.tmp", "rebuild.tmp"):
            d = str(tmp_path / name.replace(".", "_"))
            os.makedirs(os.path.join(d, name))
            with pytest.raises(ValueError, match="no known index layout"):
                index_report(spark, d)

    def test_minhash_orphaned_bands_flagged_and_reappend_heals(
        self, spark, docs, tmp_path
    ):
        """A crashed append writes bands/ but not shingles/ — the probe's
        exact verify silently skips the orphaned content (under-dropping,
        r14). fsck must count the orphans; re-appending the batch heals
        (band duplicates are absorbed by the probe's DISTINCT)."""
        import glob
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import (
            append_to_minhash_index,
            build_minhash_index,
            minhash_dedup_against_index,
        )

        corpus = docs.where(F.col("doc_id") % 3 != 0)
        batch = docs.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 50_000).alias("doc_id"), "text"
        )
        idx = str(tmp_path / "mh_orphan")
        build_minhash_index(corpus, idx, n_hashes=8, n_bands=4, shingle_size=8)
        # reconstruct the crash state: the append's band rows landed, its
        # shingle rows did not — rewrite shingles/ down to the build's
        # content only
        append_to_minhash_index(batch, idx)
        sdir = os.path.join(idx, "shingles")
        # drop the shingle rows whose content came from the batch
        import pyspark.sql.functions as SF

        shingles = spark.read.parquet(sdir)
        batch_cids = shingles.join(
            SF.broadcast(
                batch.select(SF.xxhash64("text").alias("content_id")).distinct()
            ),
            "content_id",
            "left_semi",
        )
        keep = shingles.join(
            SF.broadcast(batch_cids.select("content_id").distinct()),
            "content_id",
            "left_anti",
        ).collect()
        for f in glob.glob(os.path.join(sdir, "*.parquet")):
            os.remove(f)
        spark.createDataFrame(keep, shingles.schema).coalesce(1).write.mode(
            "append"
        ).parquet(sdir)
        r = index_report(spark, idx, scan=True)
        assert not r["healthy"]
        assert r["orphaned_band_contents"] > 0
        assert any("no shingle set" in i for i in r["issues"])
        # the documented recovery: re-append the affected batch
        append_to_minhash_index(batch, idx)
        healed = index_report(spark, idx, scan=True)
        assert healed["orphaned_band_contents"] == 0
        assert healed["healthy"], healed["issues"]
        # probe drops a near-dup of the re-appended content again
        dup = batch.limit(1).select(
            (F.col("doc_id") + 1).alias("doc_id"), "text"
        )
        assert minhash_dedup_against_index(dup, idx, min_jaccard=0.9).count() == 0

    def test_bm25_posting_stats_coverage_flagged(self, spark, docs, tmp_path):
        """The documented BM25 append crash window (postings landed,
        stats generation not committed) is now DETECTED (r14): posting
        doc ids beyond the committed n_docs flag the stale-stats state;
        the documented recovery (re-run the append, dedupe the replays)
        heals to a green fsck."""
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.relevance import (
            append_to_bm25_index,
            build_bm25_index,
            dedupe_bm25_index,
        )

        idx = str(tmp_path / "bm25_cov")
        build_bm25_index(docs.where(F.col("doc_id") % 2 == 0), idx)
        assert index_report(spark, idx, scan=True)["healthy"]
        # reconstruct the crash: run a real append, then roll the stats
        # generation back to the build's (postings keep the batch rows)
        import os
        import shutil

        gen1 = os.path.join(idx, "gen.v1")
        saved = os.path.join(str(tmp_path), "gen1_saved")
        shutil.copytree(gen1, saved)
        append_to_bm25_index(docs.where(F.col("doc_id") % 2 == 1), idx)
        shutil.rmtree(os.path.join(idx, "gen.v2"))
        shutil.copytree(saved, gen1)
        r = index_report(spark, idx, scan=True)
        assert not r["healthy"]
        assert any(
            "beyond the committed stats generation" in i for i in r["issues"]
        )
        # recovery: re-run the append (posting replays), then dedupe
        append_to_bm25_index(docs.where(F.col("doc_id") % 2 == 1), idx)
        dedupe_bm25_index(spark, idx)
        healed = index_report(spark, idx, scan=True)
        assert healed["healthy"], healed["issues"]

    def test_ivfpq_missing_refine_vectors_flagged(self, spark, tmp_path):
        """A crashed append writes codes/ but not vectors/ — exact-verify
        probes silently skip those candidates (r14). fsck must count the
        uncovered code ids; re-running the append + dedupe heals."""
        from pyspark.sql import functions as SF

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.similarity import (
            append_to_ivfpq_index,
            build_ivfpq_index,
            dedupe_ivfpq_index,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id",
            SF.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        base = emb.where(SF.col("vec_id") % 4 != 0)
        batch = emb.where(SF.col("vec_id") % 4 == 0)
        idx = str(tmp_path / "ivf_cov")
        build_ivfpq_index(
            base, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        append_to_ivfpq_index(batch, idx)
        # reconstruct the crash: remove the batch's refine vectors
        import os

        vdir = os.path.join(idx, "vectors")
        kept = spark.read.parquet(vdir).join(
            SF.broadcast(batch.select("vec_id")), "vec_id", "left_anti"
        )
        rows = kept.collect()
        schema = kept.schema
        import shutil

        shutil.rmtree(vdir)
        spark.createDataFrame(rows, schema).write.partitionBy(
            "__cluster"
        ).parquet(vdir)
        r = index_report(spark, idx, scan=True)
        assert not r["healthy"]
        assert r["codes_missing_refine_vectors"] > 0
        assert any("missing refine vectors" in i for i in r["issues"])
        # recovery: re-run the append (codes replay), then dedupe
        append_to_ivfpq_index(batch, idx)
        dedupe_ivfpq_index(spark, idx)
        healed = index_report(spark, idx, scan=True)
        assert healed["codes_missing_refine_vectors"] == 0
        assert healed["healthy"], healed["issues"]

    def test_ivfpq_store_vectors_meta_without_dir_flagged(
        self, spark, tmp_path
    ):
        """Meta promising a refine store the layout lost must be an
        issue, not a silent pass (exact-verify probes would crash)."""
        import shutil

        from pyspark.sql import functions as SF

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.similarity import build_ivfpq_index

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id",
            SF.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        idx = str(tmp_path / "ivf_novec")
        build_ivfpq_index(
            emb, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True
        )
        shutil.rmtree(f"{idx}/vectors")
        r = index_report(spark, idx)
        assert not r["healthy"]
        assert any("store_vectors=true" in i for i in r["issues"])

    def test_bloom_saturation_flagged_and_rebuild_heals(
        self, spark, docs, tmp_path
    ):
        """The Bloom leg's accuracy-maintenance signal (r14): appends
        raise bitmap fill monotonically and the zero-corpus probe's FP
        rate is fill^k — silent over-dropping with no plan symptom. An
        undersized bitmap must fsck unhealthy with the rebuild hint;
        rebuild_bloom_index (r15 — the packaged remediation the hint
        names) heals it: fill back under threshold, members still
        dropped, non-members pass modulo the freshly-sized FP rate."""
        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom_index,
            rebuild_bloom_index,
        )

        idx = str(tmp_path / "bloom_sat")
        # 500 distinct keys x 5 hashes into 1024 bits: fill ~0.9
        build_bloom_index(docs, idx, ["text"], n_bits=1 << 10)
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bloom" and not r["healthy"]
        assert r["fill_factor"] > 0.5
        assert r["est_fp_rate"] > 0.03
        assert any("bitmap saturated" in i for i in r["issues"])
        # the saturated gate over-drops a NON-member batch at ~fill^k
        novel = docs.select(
            "doc_id", F.concat(F.col("text"), F.lit(" §novel")).alias("text")
        )
        n_novel = novel.count()
        kept_sat = dedup_exact_against_bloom_index(novel, idx).count()
        assert n_novel - kept_sat > 0.3 * n_novel  # fill ~0.9 ⇒ ~59% FP
        # the packaged remediation: one corpus scan at the new width
        stats = rebuild_bloom_index(spark, idx, docs, n_bits=1 << 16)
        assert stats == {"resumed": False, "n_bits": 1 << 16, "n_hashes": 5}
        healed = index_report(spark, idx, scan=True)
        assert healed["healthy"], healed["issues"]
        assert healed["fill_factor"] < 0.5
        # the reading is present (non-vacuous) on healthy indexes too
        assert healed["est_fp_rate"] == round(
            healed["fill_factor"] ** 5, 6
        )
        # probe semantics preserved: members dropped, non-members pass
        # modulo the freshly-sized FP rate (~0.04% at 2^16 bits)
        assert dedup_exact_against_bloom_index(docs, idx).count() == 0
        kept = dedup_exact_against_bloom_index(novel, idx).count()
        assert kept >= 0.99 * n_novel, (kept, n_novel)

    def _kill_bloom_rebuild_before_swap(self, spark, idx, docs, n_bits):
        """Drive rebuild_bloom_index into the kill-after-staging-commit
        state: staging (bitmap+meta+witness) on disk, standing index
        fully intact and serving."""
        import os

        import sat_bucket_spark.operators.dedup as dedup_mod
        from sat_bucket_spark.operators.dedup import rebuild_bloom_index

        real = dedup_mod._fs_delete
        standing_meta = os.path.join(idx, "meta")

        def dying(spark_, path):
            if os.path.abspath(path) == os.path.abspath(standing_meta):
                raise RuntimeError("killed before swap")
            return real(spark_, path)

        dedup_mod._fs_delete = dying
        try:
            with pytest.raises(RuntimeError, match="killed before swap"):
                rebuild_bloom_index(spark, idx, docs, n_bits=n_bits)
        finally:
            dedup_mod._fs_delete = real

    def test_bloom_rebuild_crash_states(self, spark, docs, tmp_path):
        """rebuild_bloom_index rides the retrain swap protocol: fsck
        describes the kill-after-staging-commit state, a rerun with no
        intervening append RESUMES the staged generation, and a post-kill
        append invalidates the persisted witness so the rerun rebuilds
        fresh from the caller's keys instead of installing the stale
        staging."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import (
            append_to_bloom_index,
            build_bloom_index,
            dedup_exact_against_bloom_index,
            rebuild_bloom_index,
        )

        # --- kill, no append: resume without rebuilding
        idx = str(tmp_path / "bloom_resume")
        build_bloom_index(docs, idx, ["text"], n_bits=1 << 10)
        self._kill_bloom_rebuild_before_swap(spark, idx, docs, 1 << 16)
        assert os.path.exists(os.path.join(idx, "rebuild.tmp", "witness"))
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bloom" and not r["healthy"]
        assert any("rebuild staging awaiting swap" in i for i in r["issues"])
        # fsck's recovery hint is just "rerun" — resume needs no keys
        stats = rebuild_bloom_index(spark, idx)
        assert stats["resumed"] is True and stats["n_bits"] == 1 << 16
        healed = index_report(spark, idx, scan=True)
        assert healed["healthy"], healed["issues"]
        assert dedup_exact_against_bloom_index(docs, idx).count() == 0

        # --- kill, append lands, rerun: witness mismatch ⇒ fresh rebuild
        # from the caller's keys (which, per contract, cover the append)
        idx2 = str(tmp_path / "bloom_race")
        half = docs.where(F.col("doc_id") % 2 == 0)
        other = docs.where(F.col("doc_id") % 2 == 1)
        build_bloom_index(half, idx2, ["text"], n_bits=1 << 10)
        self._kill_bloom_rebuild_before_swap(spark, idx2, half, 1 << 16)
        # the standing index keeps serving appends across the crash window
        append_to_bloom_index(other, idx2)
        stats = rebuild_bloom_index(spark, idx2, docs, n_bits=1 << 16)
        assert stats["resumed"] is False  # stale staging was discarded
        assert not os.path.exists(os.path.join(idx2, "rebuild.tmp"))
        # the appended keys survive: the whole corpus is still dropped
        assert dedup_exact_against_bloom_index(docs, idx2).count() == 0
        assert index_report(spark, idx2, scan=True)["healthy"]
        # with nothing to resume, a keys-less call is a loud error, never
        # a silent no-op
        with pytest.raises(ValueError, match="no keys frame"):
            rebuild_bloom_index(spark, idx2)

    def test_bloom_rebuild_true_mid_swap_resumes(self, spark, docs, tmp_path):
        """The worst point of the swap window (standing meta AND bitmaps
        deleted, staging complete): probes fail loudly, fsck names the
        state with the resume hint, and a keys-less rerun finishes the
        swap — the ivfpq mid-swap contract, bloom leg."""
        import shutil

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom_index,
            rebuild_bloom_index,
        )

        idx = str(tmp_path / "bloom_midswap")
        build_bloom_index(docs, idx, ["text"], n_bits=1 << 10)
        # stage a complete generation the way the op does, then
        # reconstruct the post-meta-delete crash point
        build_bloom_index(
            docs, os.path.join(idx, "rebuild.tmp"), ["text"], n_bits=1 << 16
        )
        shutil.rmtree(os.path.join(idx, "meta"))
        shutil.rmtree(os.path.join(idx, "bitmap"))
        with pytest.raises(Exception):
            dedup_exact_against_bloom_index(docs, idx).count()  # loud
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "bloom" and not r["healthy"]
        assert any("rebuild crashed mid-swap" in i for i in r["issues"])
        stats = rebuild_bloom_index(spark, idx)
        assert stats["resumed"] is True and stats["n_bits"] == 1 << 16
        assert index_report(spark, idx, scan=True)["healthy"]
        assert dedup_exact_against_bloom_index(docs, idx).count() == 0

    def test_bloom_rebuild_resume_honors_explicit_knobs(
        self, spark, docs, tmp_path
    ):
        """r15 advisor: a rerun that EXPLICITLY asks for different
        n_bits/n_hashes than a resumable staging carries must not
        silently install the staged generation's old width — the staging
        is discarded and the rebuild runs fresh at the requested knobs
        (keys required, loudly)."""
        from sat_bucket_spark.operators.dedup import (
            build_bloom_index,
            dedup_exact_against_bloom_index,
            rebuild_bloom_index,
        )

        idx = str(tmp_path / "bloom_knobs")
        build_bloom_index(docs, idx, ["text"], n_bits=1 << 10)
        self._kill_bloom_rebuild_before_swap(spark, idx, docs, 1 << 16)
        # keys-less rerun at a DIFFERENT width: the staged 2^16
        # generation must not be installed; with the staging discarded
        # and no keys, that is a loud error — never a silent resume-wins
        with pytest.raises(ValueError, match="no keys frame"):
            rebuild_bloom_index(spark, idx, n_bits=1 << 14)
        assert not os.path.exists(os.path.join(idx, "rebuild.tmp"))
        # the standing index is untouched throughout
        assert dedup_exact_against_bloom_index(docs, idx).count() == 0
        # rerun WITH keys installs the requested width, not the staged one
        stats = rebuild_bloom_index(spark, idx, docs, n_bits=1 << 14)
        assert stats == {"resumed": False, "n_bits": 1 << 14, "n_hashes": 5}
        assert dedup_exact_against_bloom_index(docs, idx).count() == 0

        # matching explicit knobs still resume — no pointless rebuild
        idx2 = str(tmp_path / "bloom_knobs_match")
        build_bloom_index(docs, idx2, ["text"], n_bits=1 << 10)
        self._kill_bloom_rebuild_before_swap(spark, idx2, docs, 1 << 16)
        stats = rebuild_bloom_index(spark, idx2, n_bits=1 << 16)
        assert stats["resumed"] is True and stats["n_bits"] == 1 << 16

    def test_bloom_rebuild_aborts_on_concurrent_append(
        self, spark, docs, tmp_path
    ):
        """The in-run guard: an append landing between the staging
        snapshot and the swap aborts the rebuild, discards the staging,
        and leaves the standing index (including the append) intact."""
        import os

        import sat_bucket_spark.operators.dedup as dedup_mod
        from sat_bucket_spark.operators.dedup import (
            append_to_bloom_index,
            build_bloom_index,
            dedup_exact_against_bloom_index,
            rebuild_bloom_index,
        )

        idx = str(tmp_path / "bloom_conc")
        half = docs.where(F.col("doc_id") % 2 == 0)
        other = docs.where(F.col("doc_id") % 2 == 1)
        build_bloom_index(half, idx, ["text"], n_bits=1 << 10)
        real = dedup_mod._bitmap_witness
        calls = {"n": 0}

        def racing(spark_, path):
            # 2nd witness read is the pre-swap re-check: land a real
            # concurrent append just before it runs
            calls["n"] += 1
            if calls["n"] == 2:
                append_to_bloom_index(other, idx)
            return real(spark_, path)

        dedup_mod._bitmap_witness = racing
        try:
            with pytest.raises(RuntimeError, match="generations changed"):
                rebuild_bloom_index(spark, idx, half, n_bits=1 << 16)
        finally:
            dedup_mod._bitmap_witness = real
        assert not os.path.exists(os.path.join(idx, "rebuild.tmp"))
        # standing index intact INCLUDING the racing append's keys
        assert dedup_exact_against_bloom_index(docs, idx).count() == 0

    def test_minhash_compact_crash_window_reports_not_crashes(
        self, spark, docs, tmp_path
    ):
        """compact_minhash_index's crash window (shingles/ deleted,
        shingles.compact not yet renamed) leaves 'bands' alone — kind
        detection must still say minhash and the report must carry the
        rename-recovery hint, mirroring the BM25 gen.v fallback (r13
        advisor finding: this exact debris used to raise ValueError)."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import build_minhash_index

        idx = str(tmp_path / "mh_crash")
        build_minhash_index(docs, idx, n_hashes=8, n_bands=4, shingle_size=8)
        os.rename(
            os.path.join(idx, "shingles"),
            os.path.join(idx, "shingles.compact"),
        )
        r = index_report(spark, idx, scan=True)
        assert r["kind"] == "minhash" and not r["healthy"]
        assert any(
            "shingles: no parquet files" in i and ".compact" in i
            for i in r["issues"]
        )
        # r15: a plain compactor rerun RESUMES the crashed swap (the
        # recovery used to be fsck's manual rename hint)
        from sat_bucket_spark.operators.dedup import compact_minhash_index

        compact_minhash_index(spark, idx)
        assert os.path.isdir(os.path.join(idx, "shingles"))
        assert not os.path.exists(os.path.join(idx, "shingles.compact"))
        healed = index_report(spark, idx, scan=True)
        assert healed["healthy"], healed["issues"]

    def test_compactor_rerun_heals_bm25_crash_window(
        self, spark, docs, tmp_path
    ):
        """Same self-resume contract for the BM25 leg: postings/ deleted,
        postings.compact complete — a rerun of compact_bm25_index finishes
        the rename and probe scores are unchanged. A tmp WITHOUT its
        _SUCCESS marker is never renamed (it cannot be the crash-window
        state — the delete only runs after a successful tmp write)."""
        import os

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.relevance import (
            bm25_index_topk,
            build_bm25_index,
            compact_bm25_index,
        )

        idx = str(tmp_path / "bm25_crash")
        build_bm25_index(docs, idx)
        before = sorted(
            tuple(r)
            for r in bm25_index_topk(spark, idx, ["the", "of"], k=5).collect()
        )
        os.rename(
            os.path.join(idx, "postings"),
            os.path.join(idx, "postings.compact"),
        )
        r = index_report(spark, idx, scan=True)
        assert not r["healthy"]
        compact_bm25_index(spark, idx)
        assert os.path.isdir(os.path.join(idx, "postings"))
        assert not os.path.exists(os.path.join(idx, "postings.compact"))
        assert index_report(spark, idx, scan=True)["healthy"]
        after = sorted(
            tuple(r)
            for r in bm25_index_topk(spark, idx, ["the", "of"], k=5).collect()
        )
        assert after == before
        # safety: an INCOMPLETE tmp (no _SUCCESS) is not swap debris and
        # must not be installed
        os.rename(
            os.path.join(idx, "postings"),
            os.path.join(idx, "postings.compact"),
        )
        os.remove(os.path.join(idx, "postings.compact", "_SUCCESS"))
        stats = compact_bm25_index(spark, idx)
        assert stats == {"posting_files": (0, 0)}  # no heal, loud fsck
        assert not os.path.isdir(os.path.join(idx, "postings"))

    def test_bm25_compact_aborts_on_concurrent_append(
        self, spark, docs, tmp_path
    ):
        """A file landing in postings/ between the tmp rewrite and the
        swap must abort the swap (r13 advisor finding: it used to be
        silently deleted while its committed stats survived). The abort
        leaves the original postings intact and removes the tmp dir."""
        import glob
        import os
        import shutil

        import sat_bucket_spark.operators.dedup as dedup_mod
        from sat_bucket_spark.operators.relevance import (
            append_to_bm25_index,
            bm25_index_topk,
            build_bm25_index,
            compact_bm25_index,
        )

        idx = str(tmp_path / "bm25_conc")
        build_bm25_index(docs.where(F.col("doc_id") % 2 == 0), idx)
        append_to_bm25_index(docs.where(F.col("doc_id") % 2 == 1), idx)
        post = os.path.join(idx, "postings")
        want = sorted(
            map(tuple, bm25_index_topk(spark, idx, ["data", "the"], k=None).collect())
        )

        real = dedup_mod._fs_parquet_names
        calls = {"n": 0}

        def racing(spark_, path):
            # 2nd listing of postings/ is the pre-swap re-check: land a
            # "concurrent append" file just before it runs
            if path == post:
                calls["n"] += 1
                if calls["n"] == 2:
                    src = glob.glob(os.path.join(post, "*.parquet"))[0]
                    shutil.copy(src, os.path.join(post, "part-race.parquet"))
            return real(spark_, path)

        dedup_mod._fs_parquet_names, orig = racing, real
        try:
            with pytest.raises(RuntimeError, match="file set changed"):
                compact_bm25_index(spark, idx, target_file_size="64MB")
        finally:
            dedup_mod._fs_parquet_names = orig
        assert not os.path.exists(post + ".compact")
        # original postings intact (plus the racing file — a real append
        # would be consistent with its stats; our copy just duplicates
        # rows, so only check the dir survived and is loadable)
        assert glob.glob(os.path.join(post, "*.parquet"))
        os.remove(os.path.join(post, "part-race.parquet"))
        got = sorted(
            map(tuple, bm25_index_topk(spark, idx, ["data", "the"], k=None).collect())
        )
        assert got == want

    def test_compactors_min_files_zero_on_missing_dirs(
        self, spark, docs, tmp_path
    ):
        """min_files=0 against a missing/empty postings or shingles dir
        must no-op with (0, 0) stats, not ZeroDivisionError (r13 advisor
        finding: _fs_parquet_stats returns (0, 0) for absent paths)."""
        import os
        import shutil

        from sat_bucket_spark.operators.dedup import (
            build_minhash_index,
            compact_minhash_index,
        )
        from sat_bucket_spark.operators.relevance import (
            build_bm25_index,
            compact_bm25_index,
        )

        idx = str(tmp_path / "bm25_empty")
        build_bm25_index(docs, idx)
        shutil.rmtree(os.path.join(idx, "postings"))
        stats = compact_bm25_index(spark, idx, min_files=0)
        assert stats["posting_files"] == (0, 0)

        mh = str(tmp_path / "mh_empty")
        build_minhash_index(docs, mh, n_hashes=8, n_bands=4, shingle_size=8)
        shutil.rmtree(os.path.join(mh, "shingles"))
        stats = compact_minhash_index(spark, mh, min_files=0)
        assert stats["shingle_files"] == (0, 0)

    def test_unloadable_meta_is_an_issue(self, spark, docs, tmp_path):
        import shutil

        from sat_bucket_spark.maintenance import index_report
        from sat_bucket_spark.operators.dedup import build_bloom_index

        idx = str(tmp_path / "bloom_broken")
        build_bloom_index(docs, idx, ["text"], n_bits=1 << 16)
        shutil.rmtree(os.path.join(idx, "meta"))
        r = index_report(spark, idx)
        assert not r["healthy"] and not r["params_ok"]
        assert any("meta unloadable" in i for i in r["issues"])
