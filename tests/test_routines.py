"""Ingest + merge/compaction tests (reference: test_routines.py)."""

from __future__ import annotations

import datetime
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

from sat_bucket_spark import (
    LonLatPartitioning,
    get_bucket_temporal_partitioning,
    merge_granule_buckets,
    read,
    write_bucket,
    write_granules_bucket,
)
from sat_bucket_spark.functions.temporal import (
    get_partitioning_boundaries,
    get_time_prefix,
)


class TestTimePrefix:
    """Reference: routines.py:372-384 + test_routines.py:464-611."""

    def test_prefixes(self):
        t = datetime.datetime(2021, 7, 5, 1, 39)
        assert get_time_prefix(t, "year") == "2021"
        assert get_time_prefix(t, "month") == "2021_7"
        assert get_time_prefix(t, "quarter") == "2021_3"
        assert get_time_prefix(t, "day") == "2021_7_5"

    def test_prefix_expr_matches_python(self, spark):
        times = [
            datetime.datetime(2021, 1, 1),
            datetime.datetime(2021, 3, 31, 23, 59, 59),
            datetime.datetime(2021, 4, 1),
            datetime.datetime(2023, 12, 31),
        ]
        df = spark.createDataFrame([(t,) for t in times], ["time"])
        from sat_bucket_spark.functions.temporal import time_prefix_expr

        for granularity in ("year", "month", "quarter", "day"):
            got = [
                r["p"]
                for r in df.select(time_prefix_expr("time", granularity).alias("p"))
                .orderBy("p")
                .collect()
            ]
            expect = sorted(get_time_prefix(t, granularity) for t in times)
            assert got == expect, granularity

    def test_boundaries_year(self):
        b = get_partitioning_boundaries(
            datetime.datetime(2021, 7, 5), datetime.datetime(2023, 7, 5), "year"
        )
        assert b == [datetime.datetime(y, 1, 1) for y in (2021, 2022, 2023, 2024)]

    def test_boundaries_quarter(self):
        b = get_partitioning_boundaries(
            datetime.datetime(2021, 2, 15), datetime.datetime(2021, 5, 1), "quarter"
        )
        assert b == [
            datetime.datetime(2021, 1, 1),
            datetime.datetime(2021, 4, 1),
            datetime.datetime(2021, 7, 1),
        ]

    def test_boundaries_aligned_end(self):
        # end exactly on a boundary -> no extra period (reference routines.py:393-395)
        b = get_partitioning_boundaries(
            datetime.datetime(2021, 3, 1), datetime.datetime(2022, 1, 1), "year"
        )
        assert b == [datetime.datetime(2021, 1, 1), datetime.datetime(2022, 1, 1)]


class TestMerge:
    @pytest.fixture()
    def staged(self, spark, orbit_df, tmp_path):
        src = str(tmp_path / "stage")
        write_bucket(orbit_df, src, LonLatPartitioning(size=(10, 10)), x="lon", y="lat")
        return src

    def test_merge_year_partitions(self, spark, staged, tmp_path):
        dst = str(tmp_path / "merged")
        merge_granule_buckets(spark, staged, dst, temporal_partitioning="year")
        assert get_bucket_temporal_partitioning(dst) == "year"
        df = read(spark, dst)
        assert df.count() == 150
        parts = {r["time_part"] for r in df.select("time_part").distinct().collect()}
        assert parts == {"2021", "2023"}  # orbit fixture years
        # physical layout: time_part dirs nested under spatial partitions
        lon_dirs = [d for d in os.listdir(dst) if d.startswith("lon_bin=")]
        assert lon_dirs
        some = os.path.join(dst, lon_dirs[0])
        lat_dirs = [d for d in os.listdir(some) if d.startswith("lat_bin=")]
        tp_dirs = os.listdir(os.path.join(some, lat_dirs[0]))
        assert any(d.startswith("time_part=") for d in tp_dirs)

    def test_merge_time_window(self, spark, staged, tmp_path):
        dst = str(tmp_path / "merged2")
        merge_granule_buckets(
            spark,
            staged,
            dst,
            temporal_partitioning="year",
            start_time="2021-01-01",
            end_time="2022-01-01",
        )
        df = read(spark, dst)
        assert df.count() == 100  # granules 0+1 are 2021
        assert {r["time_part"] for r in df.select("time_part").distinct().collect()} == {"2021"}

    def test_merged_files_time_clustered(self, spark, staged, tmp_path):
        """Rows inside each merged parquet file are time-sorted, so row-group
        min/max stats are tight (intra-file time pruning)."""
        import glob

        import pyarrow.parquet as pq

        dst = str(tmp_path / "merged_sorted")
        merge_granule_buckets(spark, staged, dst, temporal_partitioning="year")
        files = glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)
        assert files
        for f in files:
            t = pq.read_table(f, columns=["time"])["time"].to_pylist()
            assert t == sorted(t), f

    def test_read_time_window_prunes_time_partitions(self, spark, staged, tmp_path):
        dst = str(tmp_path / "merged_t")
        merge_granule_buckets(spark, staged, dst, temporal_partitioning="year")
        df = read(spark, dst, start_time="2021-01-01", end_time="2022-01-01")
        assert df.count() == 100
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "time_part" in pf  # temporal partition pruning reached the scan

    def test_polygon_and_time_window_compose(self, spark, staged, tmp_path):
        """A polygon query over a temporally merged bucket prunes on BOTH
        axes: time_part dirs AND the polygon's cells, with the exact
        ray-cast row filter on top."""
        from sat_bucket_spark.filters import filter_by_polygon

        dst = str(tmp_path / "merged_pt")
        merge_granule_buckets(spark, staged, dst, temporal_partitioning="year")
        tri = [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)]
        df = read(spark, dst, polygon=tri, start_time="2021-01-01", end_time="2022-01-01")
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "time_part" in pf and "lon_bin" in pf
        want = (
            filter_by_polygon(read(spark, dst), tri)
            .where("time >= '2021-01-01' AND time < '2022-01-01'")
            .count()
        )
        assert df.count() == want and want > 0

    def test_update_overwrites_only_touched_partitions(self, spark, staged, tmp_path):
        dst = str(tmp_path / "merged3")
        merge_granule_buckets(spark, staged, dst, temporal_partitioning="year")
        before_2023 = read(spark, dst).where(F.col("time_part") == "2023").count()
        # Re-merge only 2021 with update=True: 2023 partitions must survive
        merge_granule_buckets(
            spark,
            staged,
            dst,
            temporal_partitioning="year",
            start_time="2021-01-01",
            end_time="2022-01-01",
            update=True,
        )
        df = read(spark, dst)
        assert df.where(F.col("time_part") == "2023").count() == before_2023
        assert df.where(F.col("time_part") == "2021").count() == 100
        assert df.count() == 150  # no duplication of 2021


def _footers(spark, bucket_dir):
    """(row-group count, columns carrying a Bloom filter) per data file,
    from parquet-mr's own footer reader."""
    import glob

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for f in sorted(glob.glob(f"{bucket_dir}/**/*.parquet", recursive=True)):
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
        )
        try:
            blocks = list(reader.getFooter().getBlocks())
            bloom = {
                c.getPath().toDotString()
                for b in blocks
                for c in b.getColumns()
                if c.getBloomFilterOffset() >= 0
            }
        finally:
            reader.close()
        out.append((len(blocks), bloom))
    return out


@pytest.fixture(scope="module")
def staged_orbit(spark, orbit_df, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stage"))
    write_bucket(orbit_df, src, LonLatPartitioning(size=(10, 10)), x="lon", y="lat")
    return src


class TestTemporalQueryOpen:
    """The time prefixes narrow the open's glob (``time_part={...}`` under
    the spatial levels): at every granularity the pruned read equals the
    unpruned one (``use_pruning=False`` opens the root)."""

    QUERIES = [
        # time only: both granules of 2021, July 5 to August 5
        {"start_time": "2021-07-05", "end_time": "2021-08-06"},
        # open-ended: ~29 000 day prefixes to 2100, in the glob and the predicate
        {"start_time": "2021-08-01"},
        {"extent": [-35, 10, -25, 25], "start_time": "2021-07-01", "end_time": "2021-08-01"},
        {"polygon": [(-30.0, -30.0), (30.0, -30.0), (0.0, 30.0)],
         "start_time": "2023-01-01", "end_time": "2024-01-01"},
        {"point": (10.0, 0.0), "size": 10, "start_time": "2021-01-01", "end_time": "2024-01-01"},
    ]

    @pytest.mark.parametrize("granularity", ["year", "month", "quarter", "day"])
    def test_pruned_equals_unpruned(self, spark, staged_orbit, tmp_path, granularity):
        dst = str(tmp_path / granularity)
        merge_granule_buckets(spark, staged_orbit, dst, temporal_partitioning=granularity)
        for query in self.QUERIES:
            pruned = read(spark, dst, **query)
            unpruned = read(spark, dst, use_pruning=False, **query)
            assert pruned.schema == unpruned.schema, query
            rows = sorted(map(tuple, pruned.collect()))
            assert rows and rows == sorted(map(tuple, unpruned.collect())), query

    def test_flattened_archive_opens_without_time_level(self, spark, staged_orbit, tmp_path):
        """Flattened to the reference's ``{prefix}_{i}.parquet`` naming, the
        archive has no ``time_part`` directories for the glob to name."""
        from sat_bucket_spark.maintenance import flatten_time_partitions

        dst = str(tmp_path / "flat")
        merge_granule_buckets(spark, staged_orbit, dst, temporal_partitioning="year")
        assert flatten_time_partitions(dst) > 0
        for query in self.QUERIES:
            pruned = read(spark, dst, **query)
            rows = sorted(map(tuple, pruned.collect()))
            unpruned = read(spark, dst, use_pruning=False, **query)
            assert rows and rows == sorted(map(tuple, unpruned.collect())), query


class TestMergeWriterOptions:
    """update=True is the same partitioned write as update=False, so it
    honours the same writer options."""

    def test_update_honours_row_group_size_and_bloom_filters(self, spark, tmp_path):
        # 20k rows, one spatial cell, one month: one output file per merge
        rows = spark.range(20_000).selectExpr(
            "5.0 + (id % 100) * 0.01 AS lon",
            "5.0 + (id % 97) * 0.01 AS lat",
            "timestamp_seconds(1609459200 + id * 60) AS time",
            "CAST(id * 2654435761 % 1000003 AS LONG) AS gid",
        )
        staged = str(tmp_path / "stage")
        write_bucket(rows, staged, LonLatPartitioning(size=(10, 10)))
        plain, tuned = str(tmp_path / "plain"), str(tmp_path / "tuned")
        merge_granule_buckets(spark, staged, plain, temporal_partitioning="year", update=True)
        merge_granule_buckets(
            spark,
            staged,
            tuned,
            temporal_partitioning="year",
            update=True,
            row_group_size="64KB",
            bloom_filter_columns=["gid"],
        )
        assert _footers(spark, plain) == [(1, set())]
        [(row_groups, bloom)] = _footers(spark, tuned)
        assert row_groups > 1 and bloom == {"gid"}
        assert read(spark, tuned).count() == 20_000


class TestCheckTime:
    def test_iso_8601_strings(self):
        from sat_bucket_spark.checks import check_time

        want = datetime.datetime(2021, 1, 1, 6, 30)
        for s in (
            "2021-01-01T06:30:00",
            "2021-01-01T06:30:00Z",
            "2021-01-01T08:30:00+02:00",
            "2021-01-01 06:30",
            "20210101063000",
        ):
            assert check_time(s) == want, s
        assert check_time("20210101") == datetime.datetime(2021, 1, 1)
        aware = datetime.datetime(2021, 1, 1, 1, 30, tzinfo=datetime.timezone(
            datetime.timedelta(hours=-5)))
        assert check_time(aware) == want
        with pytest.raises(ValueError, match="unparseable"):
            check_time("01/01/2021")

    def test_read_accepts_iso_window(self, spark, orbit_df, tmp_path):
        dst = str(tmp_path / "bucket")
        write_bucket(orbit_df, dst, LonLatPartitioning(size=(10, 10)))
        got = read(spark, dst, start_time="2021-01-01T00:00:00Z", end_time="2022-01-01T00:00:00")
        assert got.count() == 100


class TestGranuleIngest:
    def test_write_granules_bucket(self, spark, tmp_path):
        # Fake granule files: path encodes granule id; reader synthesizes rows.
        paths = [f"/fake/granule_{i}.h5" for i in range(3)] + ["/fake/broken.h5"]

        def granule_to_df_func(path):
            name = os.path.basename(path)
            if name == "broken.h5":
                raise RuntimeError("corrupt granule")
            gid = int(name.split("_")[1].split(".")[0])
            return pd.DataFrame(
                {
                    "lon": [10.0 * gid + 1.0, 200.0],  # second row out-of-extent
                    "lat": [5.0, 5.0],
                    "value": [float(gid), float(gid)],
                    "time": [datetime.datetime(2021, 7, 5)] * 2,
                }
            )

        schema = StructType(
            [
                StructField("lon", DoubleType()),
                StructField("lat", DoubleType()),
                StructField("value", DoubleType()),
                StructField("time", TimestampType()),
            ]
        )
        bucket = str(tmp_path / "granules")
        errors = write_granules_bucket(
            spark,
            paths,
            bucket,
            LonLatPartitioning(size=(10, 10)),
            granule_to_df_func,
            schema,
            x="lon",
            y="lat",
        )
        # one failed granule captured, job completed (reference routines.py:128-139)
        assert len(errors) == 1 and "broken" in errors[0][0]
        df = read(spark, bucket)
        # 3 good granules x 1 in-extent row (lon=200 dropped as invalid)
        assert df.count() == 3
        assert {r["value"] for r in df.select("value").collect()} == {0.0, 1.0, 2.0}

        # idempotent re-ingest: the manifest filters already-ingested granules
        errors2 = write_granules_bucket(
            spark,
            paths,
            bucket,
            LonLatPartitioning(size=(10, 10)),
            granule_to_df_func,
            schema,
            x="lon",
            y="lat",
        )
        assert read(spark, bucket).count() == 3  # no duplication
        # the previously failed granule is retried (not in the manifest)
        assert len(errors2) == 1 and "broken" in errors2[0][0]


class TestMergeZorder:
    def test_merge_zorder_same_data_no_key_leak(self, spark, orbit_df, tmp_path):
        """zorder_xy changes only the within-file ORDER: same rows come back,
        and the ephemeral __z3 key never lands on disk."""
        src = str(tmp_path / "stage_z")
        write_bucket(orbit_df, src, LonLatPartitioning(size=(10, 10)), x="lon", y="lat")
        plain, zed = str(tmp_path / "m_plain"), str(tmp_path / "m_z")
        merge_granule_buckets(spark, src, plain, temporal_partitioning="year")
        merge_granule_buckets(
            spark, src, zed, temporal_partitioning="year", zorder_xy=("lon", "lat")
        )
        a = read(spark, plain)
        b = read(spark, zed)
        assert "__z3" not in b.columns
        cols = sorted(set(a.columns) & set(b.columns))
        assert sorted(map(tuple, a.select(cols).collect())) == sorted(
            map(tuple, b.select(cols).collect())
        )

    def test_merge_zorder_tightens_spatial_file_stats(self, spark, tmp_path):
        """Within one spatial partition dir, z-ordered merge output files carry
        tighter lon/lat spans than time-sorted output (row-group pruning win)."""
        import datetime
        import glob

        from pyspark.sql import functions as F

        # many points inside ONE 10x10 partition cell, shuffled times
        rows = [
            (
                float(i % 40) * 0.25,           # lon in [0, 10)
                float((i * 7) % 40) * 0.25,     # lat in [0, 10)
                datetime.datetime(2021, 1, 1)
                + datetime.timedelta(minutes=(i * 13) % 1440),
                i,
            )
            for i in range(1600)
        ]
        df = spark.createDataFrame(rows, ["lon", "lat", "time", "rid"])
        src = str(tmp_path / "stage_one")
        write_bucket(df, src, LonLatPartitioning(size=(10, 10)), x="lon", y="lat")
        plain, zed = str(tmp_path / "mp"), str(tmp_path / "mz")
        merge_granule_buckets(
            spark, src, plain, temporal_partitioning="year",
            max_records_per_file=200,
        )
        merge_granule_buckets(
            spark, src, zed, temporal_partitioning="year",
            zorder_xy=("lon", "lat"), max_records_per_file=200,
        )

        def avg_spatial_span(root):
            out = (
                spark.read.parquet(*glob.glob(f"{root}/**/*.parquet", recursive=True))
                .groupBy(F.input_file_name().alias("f"))
                .agg(
                    (F.max("lon") - F.min("lon")).alias("sx"),
                    (F.max("lat") - F.min("lat")).alias("sy"),
                )
                .agg((F.avg("sx") + F.avg("sy")).alias("s"))
                .first()["s"]
            )
            return out

        span_plain = avg_spatial_span(plain)
        span_z = avg_spatial_span(zed)
        assert span_z < span_plain, (span_z, span_plain)
