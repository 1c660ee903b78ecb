"""Sessionization + swath re-indexing tests (reference: analysis.py semantics)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sat_bucket_spark.analysis import (
    add_overpass_count,
    add_overpass_id,
    add_swath_indices,
    get_list_overpass_time,
    split_by_overpass,
)


@pytest.fixture(scope="module")
def gaps_df(spark):
    """FIXTURES.md §5: clustered timesteps separated by gaps."""
    base = datetime.datetime(2021, 1, 1)
    times = (
        # session 0: 3 steps, 1s apart
        [base + datetime.timedelta(seconds=s) for s in (0, 1, 2)]
        # session 1: 5 min later, 2 steps
        + [base + datetime.timedelta(minutes=5, seconds=s) for s in (0, 30)]
        # session 2: 2 hours later, 1 step
        + [base + datetime.timedelta(hours=2)]
    )
    return spark.createDataFrame([(t,) for t in times], ["time"])


class TestOverpassId:
    def test_sessions_with_default_2min(self, spark, gaps_df):
        out = add_overpass_id(gaps_df).orderBy("time").collect()
        assert [r["overpass_id"] for r in out] == [0, 0, 0, 1, 1, 2]

    def test_gap_equal_interval_does_not_split(self, spark):
        # reference: dt <= interval keeps the session (analysis.py:272-276)
        base = datetime.datetime(2021, 1, 1)
        df = spark.createDataFrame(
            [(base,), (base + datetime.timedelta(minutes=2),)], ["time"]
        )
        out = add_overpass_id(df).orderBy("time").collect()
        assert [r["overpass_id"] for r in out] == [0, 0]

    def test_partitioned_sessionization(self, spark):
        base = datetime.datetime(2021, 1, 1)
        rows = []
        for sat in ("a", "b"):
            rows += [(sat, base), (sat, base + datetime.timedelta(hours=1))]
        df = spark.createDataFrame(rows, ["sat", "time"])
        out = add_overpass_id(df, partition_by=["sat"]).collect()
        for r in out:
            assert r["overpass_id"] in (0, 1)
        # each satellite gets its own 0-based numbering
        per_sat = {(r["sat"], r["overpass_id"]) for r in out}
        assert ("a", 0) in per_sat and ("b", 0) in per_sat

    def test_overpass_count(self, spark, gaps_df):
        out = add_overpass_count(gaps_df).orderBy("time").collect()
        assert [r["count_overpass_occurence"] for r in out] == [3, 3, 3, 2, 2, 1]


class TestAutoStrategy:
    def test_small_input_stays_global(self, spark, gaps_df):
        # small Catalyst estimate -> single-window plan (one hash exchange for
        # lag+sum, no chunk column)
        out = add_overpass_id(gaps_df, interval=600, time="time")
        assert "__chunk" not in out.columns

    def test_forced_scalable_matches_global(self, spark, gaps_df):
        g = add_overpass_id(gaps_df, interval=600, time="time", strategy="global")
        s = add_overpass_id(gaps_df, interval=600, time="time", strategy="scalable")
        assert sorted(map(tuple, g.collect())) == sorted(map(tuple, s.collect()))

    def test_invalid_strategy(self, spark, gaps_df):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="strategy"):
            add_overpass_id(gaps_df, strategy="nope")

    def test_huge_estimate_routes_to_scalable(self, spark, gaps_df, monkeypatch):
        import sat_bucket_spark.analysis as mod

        monkeypatch.setattr(mod, "estimated_size_bytes", lambda df: 10**12)
        calls = {}
        orig = mod.add_overpass_id_scalable

        def spy(*a, **k):
            calls["hit"] = True
            return orig(*a, **k)

        monkeypatch.setattr(mod, "add_overpass_id_scalable", spy)
        mod.add_overpass_id(gaps_df, interval=600, time="time")
        assert calls.get("hit")


class TestTimestampNTZ:
    """A tz-naive parquet time column reads back as TIMESTAMP_NTZ, which
    cannot be cast to a number; epoch_seconds reads its wall clock as UTC."""

    @pytest.fixture()
    def naive_df(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import TimestampNTZType

        base = datetime.datetime(2021, 1, 1)
        times = [base + datetime.timedelta(seconds=s) for s in (0, 1, 2, 300, 330, 7200)]
        path = str(tmp_path / "naive.parquet")
        pq.write_table(pa.table({"time": pa.array(times, pa.timestamp("us"))}), path)
        df = spark.read.parquet(path)
        assert isinstance(df.schema["time"].dataType, TimestampNTZType)
        return df

    @pytest.mark.parametrize("strategy", ["global", "scalable"])
    def test_add_overpass_id(self, naive_df, strategy):
        out = add_overpass_id(naive_df, strategy=strategy).orderBy("time").collect()
        assert [r["overpass_id"] for r in out] == [0, 0, 0, 1, 1, 2]

    def test_epoch_seconds_matches_the_utc_wall_clock(self, naive_df, gaps_df):
        from sat_bucket_spark.functions.temporal import epoch_seconds

        got = [r[0] for r in naive_df.select(epoch_seconds(naive_df, "time")).collect()]
        first = datetime.datetime(2021, 1, 1, tzinfo=datetime.timezone.utc).timestamp()
        assert got == [first + s for s in (0, 1, 2, 300, 330, 7200)]
        # a TIMESTAMP column keeps the plain double cast
        ts = [r[0] for r in gaps_df.select(epoch_seconds(gaps_df, "time")).collect()]
        assert ts == [r[0] for r in gaps_df.select(F.col("time").cast("double")).collect()]


class TestOverpassPeriods:
    def test_list_overpass_time_default_60min(self, spark, gaps_df):
        # 60-min interval: first two clusters merge (5 min gap), third separate
        periods = get_list_overpass_time(gaps_df)
        base = datetime.datetime(2021, 1, 1)
        assert len(periods) == 2
        assert periods[0] == (base, base + datetime.timedelta(minutes=5, seconds=30))
        assert periods[1][0] == base + datetime.timedelta(hours=2)

    def test_list_overpass_time_custom_interval(self, spark, gaps_df):
        periods = get_list_overpass_time(gaps_df, interval=datetime.timedelta(minutes=2))
        assert len(periods) == 3

    def test_single_timestep(self, spark):
        t = datetime.datetime(2021, 1, 1)
        df = spark.createDataFrame([(t,)], ["time"])
        assert get_list_overpass_time(df) == [(t, t)]

    def test_empty_raises(self, spark):
        df = spark.createDataFrame([], "time timestamp")
        with pytest.raises(ValueError, match="No timesteps"):
            get_list_overpass_time(df)

    def test_split_by_overpass(self, spark, gaps_df):
        dfs = split_by_overpass(gaps_df, interval=datetime.timedelta(minutes=2))
        assert [d.count() for d in dfs] == [3, 2, 1]
        dfs = split_by_overpass(
            gaps_df, interval=datetime.timedelta(minutes=2), max_overpass=2
        )
        assert len(dfs) == 2


class TestOverpassGrid:
    def test_dense_swath_reconstruction(self, spark, orbit_df):
        from sat_bucket_spark.analysis import overpass_to_grid

        one = orbit_df.where(F.col("gpm_granule_id") == 0)
        grids, x_idx, y_idx = overpass_to_grid(one, variables=["dummy_var"])
        assert grids["dummy_var"].shape == (5, 10)  # (cross, along)
        import numpy as np

        assert not np.isnan(grids["dummy_var"]).any()  # complete granule

    def test_duplicate_footprints_warn(self, spark):
        import numpy as np
        from sat_bucket_spark.analysis import overpass_to_grid

        rows = [("0-0", 0, 1.0), ("0-0", 0, 2.0), ("0-1", 0, 3.0)]
        df = spark.createDataFrame(rows, ["gpm_id", "gpm_cross_track_id", "v"])
        with pytest.warns(UserWarning, match="duplicated"):
            grids, _, _ = overpass_to_grid(df, variables=["v"])
        assert grids["v"].shape == (1, 2)
        assert grids["v"][0, 1] == 3.0


class TestSwathIndices:
    def test_contiguous_renumbering(self, spark, orbit_df):
        out = add_swath_indices(orbit_df)
        rows = out.select("gpm_granule_id", "gpm_along_track_id", "x_index", "y_index").collect()
        # granule g starts at offset g*10 (each granule has 10 along-track steps)
        for r in rows:
            assert r["x_index"] == r["gpm_granule_id"] * 10 + r["gpm_along_track_id"]
            assert 0 <= r["y_index"] <= 4

    def test_plan_construction_is_lazy(self, spark):
        # The y-min is folded into the spans aggregate: building the plan must
        # launch NO Spark job (the old code ran a full-scan collect here). A
        # poisoned column proves nothing executes at construction time.
        from pyspark.sql import functions as F

        @F.udf("long")
        def boom(v):
            raise RuntimeError("must not execute at plan-construction time")

        df = spark.createDataFrame([("0-1",)], ["gpm_id"]).withColumn(
            "gpm_cross_track_id", boom(F.lit(1))
        )
        add_swath_indices(df)  # no action -> no job -> no raise

    def test_offset_with_partial_granule(self, spark):
        # granule 0 tracks 3..5 (3 tracks), granule 2 tracks 10..11 (2 tracks)
        rows = [("0-3", 0), ("0-5", 0), ("2-10", 1), ("2-11", 0)]
        df = spark.createDataFrame(rows, ["gpm_id", "gpm_cross_track_id"])
        out = {
            r["gpm_id"]: r["x_index"]
            for r in add_swath_indices(df).collect()
        }
        assert out == {"0-3": 0, "0-5": 2, "2-10": 3, "2-11": 4}
