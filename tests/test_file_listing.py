"""File-listing filters (S11): extension/glob/regex + parallel listing.

Reference: io.py:96-128 + utils/directories.py:75-170 and readers.py
``file_extension``/``glob_pattern``/``regex_pattern`` kwargs.
"""

from __future__ import annotations

import os

import pytest

from sat_bucket_spark import LonLatPartitioning, read, write_bucket
from sat_bucket_spark.io import (
    get_filepaths_by_partition,
    get_partition_filepaths,
    match_filename_filters,
)


@pytest.fixture(scope="module")
def bucket(spark, orbit_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("listbucket"))
    write_bucket(orbit_df, d, LonLatPartitioning(size=(10, 10)), x="lon", y="lat")
    return d


class TestMatchers:
    def test_extension_endswith(self):
        assert match_filename_filters("a.parquet", file_extension=".parquet")
        assert not match_filename_filters("a.csv", file_extension=".parquet")

    def test_regex_is_start_anchored(self):
        assert match_filename_filters("part-0001.parquet", regex_pattern=r"part-\d+")
        # re.match anchors at the start: a mid-name match must NOT count
        assert not match_filename_filters("xpart-0001.parquet", regex_pattern=r"part-\d+")

    def test_glob(self):
        assert match_filename_filters("part-0001.snappy.parquet", glob_pattern="*.snappy.*")
        assert not match_filename_filters("part-0001.parquet", glob_pattern="*.snappy.*")


class TestListing:
    def test_lists_all_data_files(self, bucket):
        files = get_partition_filepaths(bucket)
        assert files and all(f.endswith(".parquet") for f in files)
        assert files == sorted(files)
        # serial and parallel listings agree
        assert files == get_partition_filepaths(bucket, parallel=False)

    def test_extent_prunes_listing(self, bucket):
        all_files = get_partition_filepaths(bucket)
        pruned = get_partition_filepaths(bucket, extent=[5, 8, 0, 20])
        assert 0 < len(pruned) < len(all_files)

    def test_regex_filter(self, bucket):
        assert get_partition_filepaths(bucket, regex_pattern=r"part-\d+") != []
        assert get_partition_filepaths(bucket, regex_pattern=r"nomatch-\d+") == []

    def test_by_partition_keys_are_relative_dirs(self, bucket):
        d = get_filepaths_by_partition(bucket)
        assert d
        for rel, files in d.items():
            assert rel.startswith("lon_bin=")
            assert os.sep in rel  # two levels
            assert all(bucket in f for f in files)


class TestReadWithFileFilters:
    def test_glob_pattern_roundtrip(self, spark, bucket, orbit_df):
        df = read(spark, bucket, glob_pattern="*.parquet")
        assert df.count() == orbit_df.count()
        assert dict(df.dtypes)["lon_bin"] == "string"  # basePath keeps labels

    def test_regex_no_match_raises(self, spark, bucket):
        with pytest.raises(ValueError, match="No files available"):
            read(spark, bucket, regex_pattern=r"nope-\d+")

    def test_extent_plus_filter_matches_plain_extent(self, spark, bucket):
        plain = read(spark, bucket, extent=[5, 8, 0, 20]).count()
        filtered = read(
            spark, bucket, extent=[5, 8, 0, 20], regex_pattern=r"part-\d+"
        ).count()
        assert plain == filtered > 0

    def test_polygon_plus_filter_matches_plain_polygon(self, spark, bucket):
        tri = [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)]
        plain = sorted(map(tuple, read(spark, bucket, polygon=tri).collect()))
        filtered = read(spark, bucket, polygon=tri, regex_pattern=r"part-\d+")
        assert plain == sorted(map(tuple, filtered.collect())) and plain

    def test_extent_without_files_raises(self, spark, bucket):
        # no on-disk cell under the extent: nothing to list, whatever the
        # filter (an empty frame would still list its one sample file)
        with pytest.raises(ValueError, match="No files available"):
            read(spark, bucket, extent=[100, 110, 50, 60], file_extension=".parquet")

    def test_filtered_plan_construction_launches_no_job(self, spark, bucket):
        tri = [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)]
        sc = spark.sparkContext
        sc.setJobGroup("filtered-open-gate", "building a filtered read must launch no job")
        try:
            read(spark, bucket, file_extension=".parquet")
            read(spark, bucket, extent=[5, 8, 0, 20], glob_pattern="*.parquet")
            read(spark, bucket, polygon=tri, regex_pattern=r"part-\d+")
        finally:
            sc.setJobGroup("filtered-open-gate-done", "")
        assert len(sc.statusTracker().getJobIdsForGroup("filtered-open-gate")) == 0

    def test_filtered_read_reads_bucket_info_once(self, spark, bucket, monkeypatch):
        """read() lists the filtered files with the partitioning it already
        holds: bucket_info.yaml is read once per call, as for a plain read."""
        from sat_bucket_spark import io

        calls = []
        real = io.read_bucket_info

        def counting(bucket_dir):
            calls.append(bucket_dir)
            return real(bucket_dir)

        monkeypatch.setattr(io, "read_bucket_info", counting)
        read(spark, bucket, extent=[5, 8, 0, 20], file_extension=".parquet")
        assert len(calls) == 1
