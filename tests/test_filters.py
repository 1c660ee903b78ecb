"""Distance-function unit tests (reference: test_filters.py analogues)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sat_bucket_spark.filters import _haversine_np, _vincenty_inverse, extent_around_point


class TestVincenty:
    def test_known_distance(self):
        # Paris (2.35, 48.85) -> New York (-74.0, 40.7): ~5853 km (WGS84
        # ellipsoid; the spherical haversine value is ~5838 km)
        d = _vincenty_inverse(np.array([-74.0]), np.array([40.7]), 2.35, 48.85)
        assert abs(d[0] / 1000.0 - 5853.5) < 5.0

    def test_identical_points_zero(self):
        d = _vincenty_inverse(np.array([5.0]), np.array([5.0]), 5.0, 5.0)
        assert d[0] == 0.0

    def test_antipodal_falls_back_to_haversine(self):
        # Near-antipodal pair: Vincenty's lambda iteration does not converge;
        # result must be the haversine value (~half circumference), not garbage.
        lon0, lat0 = 0.0, 0.0
        lons = np.array([179.5, 180.0 - 1e-6])
        lats = np.array([0.3, 1e-7])
        d = _vincenty_inverse(lons, lats, lon0, lat0)
        h = _haversine_np(lons, lats, lon0, lat0)
        # within the haversine-vs-ellipsoid band around 20000 km, and finite
        assert np.all(np.isfinite(d))
        assert np.all(d > 19_800_000.0)
        assert np.all(d < 20_100_000.0)
        # the non-converged elements must literally equal the haversine value
        assert np.allclose(d, h) or np.all(np.abs(d - h) / h < 0.006)

    def test_mixed_batch_converged_unaffected(self):
        # A batch mixing a normal pair with an antipodal one: the normal
        # element must keep its Vincenty (ellipsoidal) value.
        lons = np.array([-74.0, 179.9999])
        lats = np.array([40.7, 0.0001])
        d = _vincenty_inverse(lons, lats, 2.35, 48.85)
        d_solo = _vincenty_inverse(np.array([-74.0]), np.array([40.7]), 2.35, 48.85)
        assert abs(d[0] - d_solo[0]) < 1e-6


def _pip_ref(px, py, poly):
    """Independent even-odd ray cast (Python floats, same IEEE doubles)."""
    n = len(poly)
    inside = False
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


class TestExtentAroundPoint:
    """The pruning extent of a point-radius read holds the whole WGS84 circle:
    every node of a 0.05 x 0.1 degree (lat x lon) grid within ``distance``
    (Vincenty) of the centre lies inside it."""

    @pytest.mark.parametrize(
        "lon0, lat0, distance",
        [
            (0.0, 0.0, 400e3),  # the latitude bound needs the smallest meridional radius
            (179.9, 0.0, 100e3),  # the circle crosses +/-180
            (0.0, 85.0, 1000e3),  # the circle reaches over the pole
            (10.0, 60.0, 500e3),
        ],
    )
    def test_holds_the_circle(self, lon0, lat0, distance):
        reach = math.degrees(distance / 6.3e6) + 1.0
        rows = np.arange(math.floor((lat0 - reach) * 20), math.ceil((lat0 + reach) * 20) + 1)
        lats = np.clip(rows / 20.0, -90.0, 90.0)
        lons, lats = np.meshgrid(np.linspace(-180.0, 180.0, 3601), lats)
        lons, lats = lons.ravel(), lats.ravel()
        inside = _vincenty_inverse(lons, lats, lon0, lat0) <= distance
        assert inside.sum() > 100
        xmin, xmax, ymin, ymax = extent_around_point(lon0, lat0, distance=distance)
        assert np.all((lons[inside] >= xmin) & (lons[inside] <= xmax))
        assert np.all((lats[inside] >= ymin) & (lats[inside] <= ymax))

    def test_stays_tight_away_from_poles_and_antimeridian(self):
        # at 60N a 500 km circle spans ~+/-9 degrees of longitude, not the globe
        xmin, xmax, ymin, ymax = extent_around_point(10.0, 60.0, distance=500e3)
        assert 8.9 < 10.0 - xmin < 9.2 and 8.9 < xmax - 10.0 < 9.2
        assert 4.49 < 60.0 - ymin < 4.55 and 4.49 < ymax - 60.0 < 4.55


class TestPointInPolygon:
    DART = [(-60.0, -40.0), (0.0, 50.0), (60.0, -40.0), (0.0, -10.0)]

    def test_concave_membership(self, spark):
        from sat_bucket_spark.filters import filter_by_polygon

        pts = [
            (1, 0.0, 20.0, True),     # upper lobe
            (2, -45.0, -30.0, True),  # left wing (between edges A-B and D-A)
            (3, 45.0, -30.0, True),   # right wing
            (4, 0.0, -30.0, False),   # inside bbox, inside the NOTCH -> out
            (5, 0.0, -60.0, False),   # below bbox
            (6, 80.0, 0.0, False),    # right of bbox
        ]
        df = spark.createDataFrame(
            [(i, x, y) for i, x, y, _ in pts], ["id", "lon", "lat"]
        )
        got = {r["id"] for r in filter_by_polygon(df, self.DART).collect()}
        want = {i for i, _, _, ok in pts if ok}
        assert got == want
        # sanity: the reference ray-cast agrees on every probe
        for i, x, y, ok in pts:
            assert _pip_ref(x, y, self.DART) == ok

    def test_matches_reference_on_random_points(self, spark):
        """Spark expression == independent Python ray cast on 500 points,
        including a polygon with horizontal edges."""
        import random

        from sat_bucket_spark.filters import point_in_polygon_expr
        from pyspark.sql import functions as F

        rng = random.Random(7)
        # L-shape: has horizontal AND vertical edges (division guard path)
        poly = [(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0), (4.0, 10.0), (0.0, 10.0)]
        pts = [
            (i, rng.uniform(-2, 12) + 1e-7, rng.uniform(-2, 12) + 1e-7)
            for i in range(500)
        ]
        df = spark.createDataFrame(pts, ["id", "lon", "lat"])
        got = {
            r["id"]: r["inside"]
            for r in df.select(
                "id", point_in_polygon_expr(poly).alias("inside")
            ).collect()
        }
        for i, x, y in pts:
            assert got[i] == _pip_ref(x, y, poly), (i, x, y)

    def test_bbox_prefilter_in_plan(self, spark):
        """The envelope must reach the scan as a pushable range predicate."""
        import tempfile

        from sat_bucket_spark.filters import filter_by_polygon

        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                [(float(i), float(i)) for i in range(100)], ["lon", "lat"]
            ).write.mode("overwrite").parquet(d)
            out = filter_by_polygon(spark.read.parquet(d), self.DART)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "PushedFilters" in plan
            assert "GreaterThanOrEqual(lon,-60.0)" in plan
            assert "Python" not in plan

    def test_degenerate_polygon_raises(self, spark):
        import pytest as _pytest

        from sat_bucket_spark.filters import point_in_polygon_expr

        with _pytest.raises(ValueError):
            point_in_polygon_expr([(0.0, 0.0), (1.0, 1.0)])
