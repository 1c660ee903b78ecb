"""Shared Spark session + synthetic fixtures for the test suite.

Fixture design follows the reference test strategy (SURVEY.md §5): a
deterministic synthetic swath table (FIXTURES.md §1 shape: 3 granules x 50
rows), the xy binning edge-case table (FIXTURES.md §2), and a gap-session
timeseries (FIXTURES.md §5).
"""

from __future__ import annotations

import datetime
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from sat_bucket_spark.session import get_spark

    spark = get_spark(
        app_name="sat-bucket-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # keep saveAsTable warehouses (bucketed-table tests) out of cwd
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="sbs-warehouse-"),
        },
    )
    yield spark


@pytest.fixture
def no_broadcast(spark):
    """``with no_broadcast():`` turns every measured broadcast gate off
    (and Spark's own auto-broadcast with it): it sets
    ``spark.sql.autoBroadcastJoinThreshold=-1`` and restores the previous
    value on exit. The gate-off arm of the output-equality tests."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def off():
        prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return off


@pytest.fixture
def cached_rdd_ids(spark):
    """Callable returning the ids of every RDD holding storage blocks —
    stage caches included, which the cache manager does not track."""
    jsc = spark.sparkContext._jsc.sc()
    return lambda: {i.id() for i in jsc.getRDDStorageInfo()}


@pytest.fixture(scope="session")
def orbit_df(spark: SparkSession):
    """3 granules x (10 along x 5 cross) = 150 rows, deterministic.

    Mirrors FIXTURES.md §1 / reference fake_datasets.py:74-127, but generated
    with a plain linear lon/lat band (pyproj is unavailable); row counts for
    spatial queries are pinned against brute-force numpy, not the reference's
    geodesic constants.
    """
    import numpy as np

    rows = []
    rng = np.random.default_rng(0)
    for granule_id, (lon0, lat0, lon1, lat1, t0) in enumerate(
        [
            (0.0, 0.0, 10.0, 20.0, datetime.datetime(2021, 7, 5)),
            (-30.0, -20.0, -20.0, 0.0, datetime.datetime(2021, 8, 5)),
            (5.0, -10.0, 15.0, 10.0, datetime.datetime(2023, 7, 5)),
        ]
    ):
        n_along, n_cross = 10, 5
        for a in range(n_along):
            frac = a / (n_along - 1)
            clon = lon0 + (lon1 - lon0) * frac
            clat = lat0 + (lat1 - lat0) * frac
            for c in range(n_cross):
                # cross-track offset perpendicular-ish: +/- 2 degrees
                off = (c - n_cross // 2) * 1.0
                rows.append(
                    {
                        "lon": clon + off,
                        "lat": clat + off * 0.2,
                        "dummy_var": float(rng.random()),
                        "gpm_granule_id": granule_id,
                        "gpm_cross_track_id": c,
                        "gpm_along_track_id": a,
                        "gpm_id": f"{granule_id}-{a}",
                        "time": t0 + datetime.timedelta(seconds=a),
                    }
                )
    return spark.createDataFrame(rows).select(
        "lon",
        "lat",
        "dummy_var",
        "gpm_granule_id",
        "gpm_cross_track_id",
        "gpm_along_track_id",
        "gpm_id",
        "time",
    )


@pytest.fixture(scope="session")
def xy_points_df(spark: SparkSession):
    """Binning edge-case table (FIXTURES.md §2; reference test_partitioning.py:225-251)."""
    vals = [-0.001, -0.0, 0.0, 0.5, 1.0, 1.5, 2.0, 2.1, float("nan")]
    return spark.createDataFrame([(v, v) for v in vals], ["x", "y"])
