"""Directory-flavor bucket round trips (reference layout parity).

The reference's *default* for XY/Tile partitionings is bare label directories
(reference: partitioning.py:206-207, 253-257); buckets written that way carry
no hive metadata, so the reader reconstructs labels from file paths
(reference test analogue: test_routines.py:105-185 layout).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sat_bucket_spark import (
    TilePartitioning,
    XYPartitioning,
    get_bucket_spatial_partitioning,
    read,
    write_bucket,
)


@pytest.fixture(scope="module")
def dir_bucket(spark, orbit_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dirbucket"))
    # XYPartitioning default flavor is None -> directory layout
    p = XYPartitioning(size=(10, 10), extent=[-180, 180, -90, 90])
    write_bucket(orbit_df, d, p, x="lon", y="lat")
    return d


class TestDirectoryLayout:
    def test_bare_label_dirs(self, dir_bucket):
        subdirs = [
            e for e in os.listdir(dir_bucket) if os.path.isdir(os.path.join(dir_bucket, e))
        ]
        assert subdirs
        assert all("=" not in e for e in subdirs)
        # nested level: second-order labels, also bare
        inner = os.listdir(os.path.join(dir_bucket, subdirs[0]))
        assert all("=" not in e for e in inner)

    def test_flavor_recorded(self, dir_bucket):
        p = get_bucket_spatial_partitioning(dir_bucket)
        assert p.flavor != "hive"


class TestDirectoryRead:
    def test_full_read_labels_intact(self, spark, dir_bucket, orbit_df):
        df = read(spark, dir_bucket)
        assert df.count() == orbit_df.count() == 150
        types = dict(df.dtypes)
        assert types["xbin"] == "string"
        assert types["ybin"] == "string"
        # labels reconstructed from paths == labels computed from coords
        p = get_bucket_spatial_partitioning(dir_bucket)
        expected = p.add_labels(orbit_df, x="lon", y="lat")
        got = {tuple(r) for r in df.select("xbin", "ybin", "gpm_id", "lon").collect()}
        want = {tuple(r) for r in expected.select("xbin", "ybin", "gpm_id", "lon").collect()}
        assert got == want

    @pytest.mark.parametrize("extent", [[5, 8, 0, 20], [-30, 1, -22, 1], [-35, -15, -25, 5]])
    def test_extent_read_matches_bruteforce(self, spark, dir_bucket, orbit_df, extent):
        got = read(spark, dir_bucket, extent=extent).count()
        x0, x1, y0, y1 = extent
        want = orbit_df.where(
            (F.col("lon") >= x0) & (F.col("lon") <= x1)
            & (F.col("lat") >= y0) & (F.col("lat") <= y1)
        ).count()
        assert got == want

    def test_extent_read_prunes_files(self, spark, dir_bucket):
        full = read(spark, dir_bucket)
        pruned = read(spark, dir_bucket, extent=[5, 8, 0, 20])
        assert len(pruned.inputFiles()) < len(full.inputFiles())

    def test_empty_extent_returns_schema(self, spark, dir_bucket):
        df = read(spark, dir_bucket, extent=[170, 175, 80, 85])
        assert df.count() == 0
        assert "xbin" in df.columns

    @pytest.mark.parametrize(
        "query",
        [
            {"extent": [5, 8, 0, 20]},
            {"polygon": [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)]},
            {"extent": [-180, 180, -90, 90]},
            {"polygon": [(500.0, 500.0), (501.0, 500.0), (500.5, 501.0)]},
        ],
        ids=["extent", "polygon", "whole_world", "empty_cell_set"],
    )
    def test_pruned_equals_unpruned(self, spark, dir_bucket, query):
        """The directory flavor opens the same glob as the hive flavor,
        without ``level=``: pruned rows and schema equal the unpruned read."""
        pruned = read(spark, dir_bucket, **query)
        unpruned = read(spark, dir_bucket, use_pruning=False, **query)
        assert pruned.schema == unpruned.schema
        assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, unpruned.collect()))

    def test_append_merges_into_label_dirs(self, spark, orbit_df, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("dirappend"))
        p = XYPartitioning(size=(10, 10), extent=[-180, 180, -90, 90])
        write_bucket(orbit_df, d, p, x="lon", y="lat")
        write_bucket(orbit_df, d, p, x="lon", y="lat")  # append again
        walked = [os.path.basename(r) for r, _, _ in os.walk(d)]
        assert all("=" not in b for b in walked if b)
        assert read(spark, d).count() == 300


class TestTileDirectoryRead:
    def test_single_level_roundtrip(self, spark, orbit_df, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("tilebucket"))
        p = TilePartitioning(
            size=10, extent=[-180, 180, -90, 90], n_levels=1, justify=True
        )
        write_bucket(orbit_df, d, p, x="lon", y="lat")
        subdirs = [e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e))]
        assert all("=" not in e for e in subdirs)
        df = read(spark, d)
        assert df.count() == 150
        assert dict(df.dtypes)["tile"] == "string"
        # zero-justified labels survive the path round trip (e.g. "007")
        expected = {
            r["tile"] for r in p.add_labels(orbit_df, x="lon", y="lat").select("tile").collect()
        }
        assert {r["tile"] for r in df.select("tile").collect()} == expected


class TestDirectoryMergeSchema:
    def test_merge_schema_unions_drifted_footers(self, spark, orbit_df, tmp_path_factory):
        """ADVICE r5: merge_schema=True was silently ignored for
        directory-flavor buckets (the non-hive branch returned before the
        mergeSchema branch), pinning the schema to one footer."""
        d = str(tmp_path_factory.mktemp("dirdrift"))
        p = XYPartitioning(size=(10, 10), extent=[-180, 180, -90, 90])
        write_bucket(orbit_df, d, p, x="lon", y="lat")
        # drift: append a second write that carries a NEW column
        write_bucket(
            orbit_df.withColumn("new_col", F.lit(7).cast("long")),
            d, p, x="lon", y="lat",
        )
        merged = read(spark, d, merge_schema=True)
        assert "new_col" in merged.columns
        assert merged.count() == 300
        # rows from the pre-drift write surface NULL for the new column
        assert merged.where(F.col("new_col").isNull()).count() == 150
