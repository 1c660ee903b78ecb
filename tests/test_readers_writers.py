"""Bucket write -> read round-trip tests (reference: test_readers.py, test_routines.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sat_bucket_spark import (
    LonLatPartitioning,
    get_bucket_spatial_partitioning,
    read,
    write_bucket,
)


@pytest.fixture(scope="module")
def bucket_dir(spark, orbit_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bucket"))
    p = LonLatPartitioning(size=(10, 10))
    write_bucket(orbit_df, d, p, x="lon", y="lat")
    return d


def _brute_count(orbit_df, extent):
    x0, x1, y0, y1 = extent
    return orbit_df.where(
        (F.col("lon") >= x0) & (F.col("lon") <= x1) & (F.col("lat") >= y0) & (F.col("lat") <= y1)
    ).count()


class TestWriteBucket:
    def test_hive_layout(self, bucket_dir):
        # hive flavor (LonLatPartitioning default, reference partitioning.py:1128)
        subdirs = [d for d in os.listdir(bucket_dir) if os.path.isdir(os.path.join(bucket_dir, d))]
        assert subdirs and all(d.startswith("lon_bin=") for d in subdirs)

    def test_bucket_info_round_trip(self, bucket_dir):
        p = get_bucket_spatial_partitioning(bucket_dir)
        assert isinstance(p, LonLatPartitioning)
        assert p.size == (10.0, 10.0)
        assert p.levels == ["lon_bin", "lat_bin"]


class TestRead:
    def test_full_read(self, spark, bucket_dir, orbit_df):
        df = read(spark, bucket_dir)
        # all rows, original 8 cols + 2 label cols (labels are partition columns)
        assert df.count() == orbit_df.count() == 150
        assert set(orbit_df.columns) <= set(df.columns)

    def test_partition_labels_are_strings(self, spark, bucket_dir):
        df = read(spark, bucket_dir)
        types = dict(df.dtypes)
        assert types["lon_bin"] == "string"
        assert types["lat_bin"] == "string"

    def test_extent_query_matches_bruteforce(self, spark, bucket_dir, orbit_df):
        for extent in ([5, 8, 0, 20], [-10, 1, -10, 1], [-35, -15, -25, 5]):
            got = read(spark, bucket_dir, extent=extent).count()
            assert got == _brute_count(orbit_df, extent), extent

    def test_extent_prunes_partitions(self, spark, bucket_dir):
        df = read(spark, bucket_dir, extent=[5, 8, 0, 20])
        plan = df._jdf.queryExecution().executedPlan().toString()
        # hive partition pruning: scan must not read every partition
        assert "lon_bin" in plan

    def test_columns_and_n_rows(self, spark, bucket_dir):
        # reference test_readers.py:111-114: (3, 2) shape with columns+n_rows
        df = read(spark, bucket_dir, columns=["lon", "lat"], n_rows=3)
        pdf = df.toPandas()
        assert pdf.shape == (3, 2)

    def test_n_rows_caps_rows_read_not_result(self, spark, bucket_dir):
        # n_rows is a scan cap applied BEFORE row filters (reference
        # readers.py:229): an always-true filter still sees <= n_rows rows,
        # and a selective filter returns the matching subset of those rows
        # (possibly fewer than n_rows) — never n_rows matching rows gathered
        # from deeper in the scan.
        total = read(spark, bucket_dir).count()
        assert total == 150
        capped = read(spark, bucket_dir, n_rows=10, filter_expressions=["dummy_var >= 0"])
        assert capped.count() == 10
        selective = read(spark, bucket_dir, n_rows=10, filter_expressions=["dummy_var < 0.3"])
        assert selective.count() < 10

    def test_filter_expressions(self, spark, bucket_dir):
        df = read(spark, bucket_dir, filter_expressions=["gpm_granule_id = 0"])
        assert df.count() == 50
        df2 = read(spark, bucket_dir, filter_expressions=[F.col("gpm_granule_id") == 0])
        assert df2.count() == 50

    def test_point_radius_adds_distance(self, spark, bucket_dir):
        df = read(spark, bucket_dir, point=(3, 3), distance=200_000)
        assert "distance" in df.columns
        rows = df.collect()
        assert len(rows) > 0
        assert all(r["distance"] <= 200_000 for r in rows)

    def test_point_radius_haversine_close_to_geodesic(self, spark, bucket_dir):
        exact = read(spark, bucket_dir, point=(3, 3), distance=200_000).count()
        fast = read(
            spark, bucket_dir, point=(3, 3), distance=200_000, distance_type="haversine"
        ).count()
        # spherical vs ellipsoidal deviate <0.6%; on this fixture counts match
        assert abs(exact - fast) <= 1

    def test_point_size_query(self, spark, bucket_dir, orbit_df):
        got = read(spark, bucket_dir, point=(3, 3), size=20).count()
        assert got == _brute_count(orbit_df, [-7, 13, -7, 13])

    def test_country_query(self, spark, bucket_dir, orbit_df):
        from sat_bucket_spark.extents import get_country_extent

        got = read(spark, bucket_dir, country="Nigeria").count()
        assert got == _brute_count(orbit_df, get_country_extent("Nigeria"))
        assert got > 0

    def test_continent_query(self, spark, bucket_dir, orbit_df):
        from sat_bucket_spark.extents import get_continent_extent

        got = read(spark, bucket_dir, continent="Africa").count()
        assert got == _brute_count(orbit_df, get_continent_extent("Africa"))

    def test_raise_if_empty(self, spark, bucket_dir):
        with pytest.raises(ValueError, match="no data"):
            read(spark, bucket_dir, extent=[100, 110, 50, 60], raise_if_empty=True)

    def test_too_many_spatial_filters(self, spark, bucket_dir):
        with pytest.raises(ValueError, match="at most one"):
            read(spark, bucket_dir, extent=[0, 1, 0, 1], country="Nigeria")

    def test_pandas_backend(self, spark, bucket_dir):
        pdf = read(spark, bucket_dir, extent=[5, 8, 0, 20], backend="pandas")
        import pandas as pd

        assert isinstance(pdf, pd.DataFrame)


class TestPartitionOrder:
    def test_swapped_order_round_trip(self, spark, orbit_df, tmp_path_factory):
        """On-disk partition order may differ from levels (reference
        partitioning.py:195-198); reads must be unaffected."""
        d = str(tmp_path_factory.mktemp("swapped"))
        p = LonLatPartitioning(size=(10, 10), order=["lat_bin", "lon_bin"])
        write_bucket(orbit_df, d, p, x="lon", y="lat")
        subdirs = [x for x in os.listdir(d) if os.path.isdir(os.path.join(d, x))]
        assert all(s.startswith("lat_bin=") for s in subdirs)  # outer dir = lat
        df = read(spark, d, extent=[5, 8, 0, 20])
        assert df.count() == _brute_count(orbit_df, [5, 8, 0, 20])


class TestPlanQuality:
    """Scale checks: pushdown + pruning must reach the parquet scan."""

    def test_projection_pushdown(self, spark, bucket_dir):
        df = read(spark, bucket_dir, columns=["lon", "lat"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan
        # only the 2 projected data columns are read from parquet
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "lon" in read_schema and "dummy_var" not in read_schema

    def test_predicate_pushdown(self, spark, bucket_dir):
        df = read(spark, bucket_dir, filter_expressions=["dummy_var > 0.5"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan
        assert "dummy_var" in plan.split("PushedFilters:")[1].splitlines()[0]


class TestPolygonRead:
    TRI = [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)]

    def test_polygon_matches_bruteforce(self, spark, bucket_dir, orbit_df):
        from sat_bucket_spark.filters import filter_by_polygon

        got = {
            r["gpm_id"]
            for r in read(spark, bucket_dir, polygon=self.TRI).select("gpm_id").collect()
        }
        want = {
            r["gpm_id"]
            for r in filter_by_polygon(orbit_df, self.TRI).select("gpm_id").collect()
        }
        assert got == want and got

    def test_polygon_prunes_cell_exact(self, spark, bucket_dir):
        """The scan's PartitionFilters must carry the polygon's per-column
        predicate, and the unpruned variant must read more partitions."""
        df = read(spark, bucket_dir, polygon=self.TRI)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "lon_bin" in pf and "lat_bin" in pf

    def test_polygon_excludes_other_spatial_args(self, spark, bucket_dir):
        with pytest.raises(ValueError):
            read(spark, bucket_dir, polygon=self.TRI, extent=[0, 1, 0, 1])


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestQuerySizedOpen:
    """``read`` opens only the partition directories a query can touch (one
    brace glob) with the schema read from one footer: the pruned read must
    equal the unpruned one, schema included, and building it runs no job."""

    TRI = [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)]
    OFF_WORLD = [(500.0, 500.0), (501.0, 500.0), (500.5, 501.0)]  # no cell
    QUERIES = {
        "extent": {"extent": [5, 8, 0, 20]},
        "whole_world": {"extent": [-180, 180, -90, 90]},
        "no_dir_on_disk": {"extent": [100, 110, 50, 60]},
        "polygon": {"polygon": TRI},
        "empty_cell_set": {"polygon": OFF_WORLD},
        "point_distance": {"point": (5.0, 10.0), "distance": 500_000.0},
        "point_size": {"point": (5.0, 10.0), "size": 8},
    }

    @pytest.mark.parametrize("name", sorted(QUERIES))
    def test_pruned_equals_unpruned(self, spark, bucket_dir, name):
        query = self.QUERIES[name]
        pruned = read(spark, bucket_dir, **query)
        unpruned = read(spark, bucket_dir, use_pruning=False, **query)
        assert pruned.schema == unpruned.schema
        rows = _sorted_rows(pruned)
        assert rows == _sorted_rows(unpruned)
        assert bool(rows) == (name not in ("no_dir_on_disk", "empty_cell_set"))

    def test_one_level_tile_partitioning(self, spark, orbit_df, tmp_path):
        from sat_bucket_spark import TilePartitioning

        d = str(tmp_path / "tiles")
        p = TilePartitioning(size=10, extent=[-180, 180, -90, 90], n_levels=1, flavor="hive")
        write_bucket(orbit_df, d, p, x="lon", y="lat")
        for query in ({"extent": [5, 8, 0, 20]}, {"polygon": self.TRI}):
            pruned = read(spark, d, **query)
            assert _sorted_rows(pruned) == _sorted_rows(read(spark, d, use_pruning=False, **query))
            assert len(pruned.inputFiles()) < len(read(spark, d).inputFiles())

    def test_plan_construction_launches_no_job(self, spark, bucket_dir):
        sc = spark.sparkContext
        sc.setJobGroup("read-open-gate", "building read()'s plan must launch no job")
        try:
            for query in ({}, self.QUERIES["extent"], self.QUERIES["polygon"],
                          self.QUERIES["point_distance"], self.QUERIES["no_dir_on_disk"]):
                read(spark, bucket_dir, **query)
        finally:
            sc.setJobGroup("read-open-gate-done", "")
        assert len(sc.statusTracker().getJobIdsForGroup("read-open-gate")) == 0

    def test_footer_schema_equals_spark_inference(self, spark, tmp_path):
        import glob

        from sat_bucket_spark.readers import _footer_schema

        out = str(tmp_path / "types")
        spark.sql(
            "SELECT TIMESTAMP'2021-07-05 01:02:03' AS ts,"
            " TIMESTAMP_NTZ'2021-07-05 01:02:03' AS ntz,"
            " CAST(1.5 AS DECIMAL(38, 9)) AS dec,"
            " array(named_struct('a', 1, 'b', 'x')) AS arr,"
            " map('k', 2.0D) AS m,"
            " CAST('raw' AS BINARY) AS bin,"
            " 7L AS id"  # a non-nullable literal: file reads relax it
        ).coalesce(1).write.parquet(out)
        (f,) = glob.glob(f"{out}/*.parquet")
        footer = spark.read.schema(_footer_schema(f)).parquet(f).schema
        assert footer == spark.read.parquet(f).schema

    def test_pyarrow_file_opens_through_inference(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sat_bucket_spark.readers import _footer_schema, read_bucket_dataframe

        leaf = tmp_path / "bucket" / "lon_bin=5.0" / "lat_bin=5.0"
        leaf.mkdir(parents=True)
        pq.write_table(pa.table({"lon": [5.5], "lat": [4.5], "v": [1.0]}), leaf / "0.parquet")
        assert _footer_schema(str(leaf / "0.parquet")) is None
        df = read_bucket_dataframe(
            spark, str(tmp_path / "bucket"), levels=["lon_bin", "lat_bin"],
            subdirs=["lon_bin={5.0,15.0}/lat_bin=5.0"],
        )
        assert df.dtypes == [
            ("lon", "double"), ("lat", "double"), ("v", "double"),
            ("lon_bin", "string"), ("lat_bin", "string"),
        ]
        assert [tuple(r) for r in df.collect()] == [(5.5, 4.5, 1.0, "5.0", "5.0")]


class TestPartitionGlob:
    """The open's glob, built from the same label sets as the predicates."""

    def _cells(self, p, polygon):
        labels = p._labels_for_cells(*p._cells_by_polygon(polygon))
        return list(zip(*(labels[lvl].tolist() for lvl in p.order)))

    def test_forms(self):
        from sat_bucket_spark.readers import _partition_glob

        p = LonLatPartitioning(size=(10, 10))
        extent = p.get_partitions_by_extent([5, 8, 1, 19])
        assert _partition_glob(p, extent, None) == ["lon_bin=5.0/lat_bin={15.0,5.0}"]
        assert _partition_glob(p, extent, ["2021_7"]) == [
            "lon_bin=5.0/lat_bin={15.0,5.0}/time_part=2021_7"
        ]
        # a level that keeps every label does not narrow; nothing narrows -> root
        world = p.get_partitions_by_extent([-180, 180, -90, 90])
        assert _partition_glob(p, world, None) is None
        assert _partition_glob(p, None, ["2021", "2023"]) == [
            "lon_bin=*/lat_bin=*/time_part={2021,2023}"
        ]
        # a long window keeps every prefix in the glob
        many = [str(i) for i in range(1000)]
        assert _partition_glob(p, None, many) == [
            "lon_bin=*/lat_bin=*/time_part={" + ",".join(sorted(many)) + "}"
        ]
        # nothing can match
        assert _partition_glob(p, [], None) == []
        assert _partition_glob(p, None, []) == []
        # a polygon's cells: cell-exact nesting per first-level label
        assert _partition_glob(p, self._cells(p, [(1, 1), (29, 1), (1, 19)]), None) == [
            "{lon_bin=15.0/lat_bin={15.0,5.0},lon_bin=25.0/lat_bin=5.0,"
            "lon_bin=5.0/lat_bin={15.0,5.0}}"
        ]

    def test_order_and_directory_flavor(self):
        from sat_bucket_spark import XYPartitioning
        from sat_bucket_spark.readers import _partition_glob

        swapped = LonLatPartitioning(size=(10, 10), order=["lat_bin", "lon_bin"])
        assert _partition_glob(
            swapped, swapped.get_partitions_by_extent([5, 8, 1, 19]), None
        ) == ["lat_bin={15.0,5.0}/lon_bin=5.0"]
        bare = XYPartitioning(size=(10, 10), extent=[-180, 180, -90, 90])
        assert _partition_glob(bare, self._cells(bare, [(1, 1), (29, 1), (1, 19)]), None) == [
            "{15.0/{15.0,5.0},25.0/5.0,5.0/{15.0,5.0}}"
        ]


class TestJsonlShardExport:
    def test_round_trip_deterministic_shards(self, spark, tmp_path):
        from sat_bucket_spark.operators.sampling import assign_shards
        from sat_bucket_spark.writers import write_jsonl_shards

        sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = str(tmp_path / "export")
        write_jsonl_shards(docs, out, n_shards=4)

        back = (
            spark.read.option("basePath", out)
            .json(out + "/shard=*")
            .withColumn("shard", F.col("shard").cast("int"))
        )
        assert back.count() == docs.count()
        # shard assignment is exactly assign_shards' permutation
        ref = {r["doc_id"]: r["shard"] for r in assign_shards(docs, "doc_id", 4).collect()}
        got = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
        assert got == ref

        # re-export is byte-reproducible at the row level (same rows per shard,
        # same within-shard training order)
        out2 = str(tmp_path / "export2")
        write_jsonl_shards(docs, out2, n_shards=4)
        import gzip
        import glob

        def shard_lines(base, s):
            lines = []
            for f in sorted(glob.glob(f"{base}/shard={s}/part-*.json.gz")):
                with gzip.open(f, "rt") as fh:
                    lines += fh.read().splitlines()
            return lines

        for s in range(4):
            assert shard_lines(out, s) == shard_lines(out2, s)

    def test_invalid_shards(self, spark):
        from sat_bucket_spark.writers import write_jsonl_shards

        docs = spark.range(3).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError, match="n_shards"):
            write_jsonl_shards(docs, "/tmp/x", n_shards=0)

    def test_adversarial_text_survives_jsonl_framing(self, spark, tmp_path):
        """Trainer-facing contract: one JSON object per PHYSICAL line, and
        every text round-trips exactly through plain json.loads — raw
        newlines/controls in documents must be escaped by the writer, not
        break the line framing; unicode (astral, decomposed, bidi) and
        JSON metacharacters must survive byte-exact."""
        import glob
        import json

        from sat_bucket_spark.writers import write_jsonl_shards

        texts = [
            "plain",
            "embedded\nnewline and\r carriage\r\n pair",
            'quotes " and \\ backslash and / slash',
            "tab\tand controls \x00\x01\x1f\x7f",
            "astral \U0001f600 and surrogate-adjacent ퟿ ",
            "decomposed é vs composed é",
            "bidi ‮RTL‬ and zero-width​",
            "trailing newline\n",
            "",
            "long " + "x" * 5000,
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        out = str(tmp_path / "adversarial")
        write_jsonl_shards(docs, out, n_shards=2, compression=None)

        got = {}
        n_lines = 0
        for f in glob.glob(f"{out}/shard=*/part-*.json"):
            with open(f, encoding="utf-8") as fh:
                for line in fh.read().splitlines():
                    n_lines += 1
                    rec = json.loads(line)  # every line is standalone JSON
                    got[rec["doc_id"]] = rec["text"]
        assert n_lines == len(texts)
        assert got == {i: t for i, t in enumerate(texts)}

    def test_export_executes_upstream_exactly_once(self, spark, tmp_path):
        """The r8 writer's repartitionByRange learned its boundaries by
        SAMPLING the input — a second full execution of the upstream
        plan. The preimage-routed hash exchange must read the input
        exactly once: an observe() on the input counts N, not 2N."""
        from pyspark.sql import Observation

        from sat_bucket_spark.writers import write_jsonl_shards

        docs = spark.range(500).withColumnRenamed("id", "doc_id").withColumn(
            "text", F.concat(F.lit("t"), F.col("doc_id"))
        )
        obs = Observation("export_input")
        write_jsonl_shards(
            docs.observe(obs, F.count(F.lit(1)).alias("rows")),
            str(tmp_path / "once"),
            n_shards=4,
            compression=None,
        )
        assert obs.get["rows"] == 500

    def test_every_shard_own_partition(self, spark, tmp_path):
        """The preimage routing must keep the range writer's guarantee:
        n_shards exchange partitions, each holding exactly one shard
        (plain hash(shard) %% n would collide ~1/e of them)."""
        from sat_bucket_spark.writers import _shard_hash_preimages

        for n in (1, 4, 7, 16, 64):
            pre = _shard_hash_preimages(spark, n)
            assert len(pre) == n and len(set(pre)) == n
            got = (
                spark.createDataFrame([(p,) for p in pre], "p int")
                .select(F.pmod(F.hash("p"), F.lit(n)).alias("k"))
                .collect()
            )
            assert sorted(r["k"] for r in got) == list(range(n))

    def test_preimage_routing_pins_physical_placement(self, spark):
        """r9 advisor: the preimage design assumes (a) repartition(n, col)
        physically places a row at pmod(Murmur3Hash(col, seed=42), n) —
        i.e. F.hash and HashPartitioning agree — and (b) AQE never
        coalesces an explicit repartition. Neither is part of Spark's
        documented contract; if an upgrade changes either, shards silently
        collide into shared tasks (bytes stay correct, the
        one-shard-per-task claim and metrics.py's 'funnels read exact'
        note quietly stop holding). Pin END-TO-END: after
        repartition(n, preimage(shard)), spark_partition_id() == shard for
        every row and the partition count is exactly n."""
        from sat_bucket_spark.writers import _shard_hash_preimages

        for n in (5, 16, 64):
            pre = _shard_hash_preimages(spark, n)
            route = F.element_at(
                F.array(*[F.lit(p) for p in pre]), F.col("shard") + 1
            )
            routed = (
                spark.range(n * 20)
                .select((F.col("id") % n).cast("int").alias("shard"))
                .repartition(n, route)
            )
            assert routed.rdd.getNumPartitions() == n, (
                f"n={n}: AQE coalesced the explicit repartition"
            )
            strays = (
                routed.select("shard", F.spark_partition_id().alias("pid"))
                .where(F.col("shard") != F.col("pid"))
                .count()
            )
            assert strays == 0, (
                f"n={n}: HashPartitioning no longer matches pmod(F.hash, n)"
            )


class TestSchemaDrift:
    def test_merge_schema_unions_drifted_columns(self, spark, tmp_path):
        """An archive that gained a column over the years: the default read
        pins one footer's schema; merge_schema=True unions all footers and
        keeps the string-typed partition labels."""
        from sat_bucket_spark import LonLatPartitioning, read, write_bucket

        bucket = str(tmp_path / "bucket")
        p = LonLatPartitioning(size=(10, 10))
        old = spark.createDataFrame(
            [(1.0, 2.0, 10.0)], ["lon", "lat", "value"]
        )
        write_bucket(old, bucket, p, x="lon", y="lat")
        new = spark.createDataFrame(
            [(21.0, 12.0, 20.0, "calibrated")],
            ["lon", "lat", "value", "quality_flag"],
        )
        write_bucket(new, bucket, p, x="lon", y="lat", mode="append")

        drifted = read(spark, bucket, merge_schema=True)
        assert "quality_flag" in drifted.columns
        rows = {r["value"]: r["quality_flag"] for r in drifted.collect()}
        assert rows == {10.0: None, 20.0: "calibrated"}
        # partition labels stay string-typed under the merged schema
        assert dict(drifted.dtypes)["lon_bin"] == "string"
        # pruning still applies on the merged read, and its schema is still
        # the whole bucket's, whatever partitions the query touches
        pruned = read(spark, bucket, extent=[0, 10, 0, 10], merge_schema=True)
        assert pruned.schema == drifted.schema
        assert [tuple(r) for r in pruned.select("value", "quality_flag").collect()] == [
            (10.0, None)
        ]


class TestWebdatasetExport:
    def test_tar_shards_round_trip_and_determinism(self, spark, tmp_path):
        import glob
        import tarfile

        from sat_bucket_spark.writers import write_webdataset_shards

        rows = [
            (i, f"caption {i}", bytes([i % 251]) * (50 + i)) for i in range(30)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "image"])
        out = str(tmp_path / "wds")
        manifest = write_webdataset_shards(
            df, out, n_shards=4, extensions={"image": "jpg"}
        )
        assert sum(n for _, n in manifest) == 30
        assert [s for s, _ in manifest] == [0, 1, 2, 3]

        # every sample's members are present and grouped by key
        seen = {}
        for t in sorted(glob.glob(out + "/shard-*.tar")):
            with tarfile.open(t) as tar:
                for m in tar.getmembers():
                    assert m.mtime == 0 and m.uid == 0  # deterministic metadata
                    key = m.name.split(".", 1)[0]
                    seen.setdefault(int(key), set()).add(m.name.split(".", 1)[1])
                    if m.name.endswith(".jpg"):
                        data = tar.extractfile(m).read()
                        i = int(key)
                        assert data == bytes([i % 251]) * (50 + i)
        assert set(seen) == set(range(30))
        assert all("txt" in exts and "jpg" in exts for exts in seen.values())

        # byte-identical re-export
        out2 = str(tmp_path / "wds2")
        write_webdataset_shards(df, out2, n_shards=4, extensions={"image": "jpg"})
        for t1, t2 in zip(
            sorted(glob.glob(out + "/*.tar")), sorted(glob.glob(out2 + "/*.tar"))
        ):
            assert open(t1, "rb").read() == open(t2, "rb").read()

    def test_invalid_shards(self, spark):
        from sat_bucket_spark.writers import write_webdataset_shards

        df = spark.range(3).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError, match="n_shards"):
            write_webdataset_shards(df, "/tmp/x", n_shards=0)

    def test_tar_export_executes_upstream_exactly_once(self, spark, tmp_path):
        """Same contract as the JSONL writer: the preimage-grouped tar
        export must not re-execute its input (the old range exchange's
        sampling pass read it twice)."""
        from pyspark.sql import Observation

        from sat_bucket_spark.writers import write_webdataset_shards

        docs = spark.range(300).withColumnRenamed("id", "doc_id").withColumn(
            "text", F.concat(F.lit("t"), F.col("doc_id"))
        )
        obs = Observation("tar_input")
        manifest = write_webdataset_shards(
            docs.observe(obs, F.count(F.lit(1)).alias("rows")),
            str(tmp_path / "wds"),
            n_shards=4,
        )
        assert obs.get["rows"] == 300
        assert sum(n for _, n in manifest) == 300


class TestWebdatasetHardening:
    def test_multiple_string_and_binary_columns_stay_distinct(self, spark, tmp_path):
        import glob
        import tarfile

        from sat_bucket_spark.writers import write_webdataset_shards

        df = spark.createDataFrame(
            [(1, "cap", "ocr text", b"img", b"thumb", 7, None)],
            "doc_id long, caption string, ocr string, image binary, "
            "thumb binary, label long, missing double",
        )
        out = str(tmp_path / "wds")
        write_webdataset_shards(df, out, n_shards=1)
        with tarfile.open(glob.glob(out + "/*.tar")[0]) as tar:
            members = {m.name: tar.extractfile(m).read() for m in tar.getmembers()}
        # column-qualified extensions: nothing collides, nothing is lost
        assert "1.caption.txt" in members and "1.ocr.txt" in members
        assert "1.image.bin" in members and "1.thumb.bin" in members
        # numpy ints serialize as JSON numbers, not quoted strings
        assert members["1.label.json"] == b"7"
        # NULL numerics are skipped, never emitted as invalid-JSON NaN
        assert not any("missing" in n for n in members)

    def test_object_store_path_rejected(self, spark):
        from sat_bucket_spark.writers import write_webdataset_shards

        df = spark.range(2).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError, match="shared-filesystem"):
            write_webdataset_shards(df, "s3://bucket/wds")


class TestWebdatasetMode:
    def test_overwrite_removes_stale_shards(self, spark, tmp_path):
        """ADVICE r5: re-export with smaller n_shards must not leave stale
        shard-*.tar from the previous run for a trainer glob to consume."""
        import glob

        from sat_bucket_spark.writers import write_webdataset_shards

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(20)], ["doc_id", "text"]
        )
        out = str(tmp_path / "wds")
        write_webdataset_shards(df, out, n_shards=8)
        assert len(glob.glob(out + "/shard-*.tar")) == 8
        write_webdataset_shards(df, out, n_shards=2)  # default mode=overwrite
        assert len(glob.glob(out + "/shard-*.tar")) == 2

    def test_error_mode_refuses_existing(self, spark, tmp_path):
        from sat_bucket_spark.writers import write_webdataset_shards

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        out = str(tmp_path / "wds")
        write_webdataset_shards(df, out, n_shards=1)
        with pytest.raises(FileExistsError, match="mode='error'"):
            write_webdataset_shards(df, out, n_shards=1, mode="error")

    def test_bad_mode_rejected(self, spark, tmp_path):
        from sat_bucket_spark.writers import write_webdataset_shards

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="mode"):
            write_webdataset_shards(df, str(tmp_path / "w"), mode="append")
