"""Property tests for the pure-numpy sphere geodesy (geodesy.py)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sat_bucket_spark.geodesy import (
    SPHERE_RADIUS,
    geodesic_fwd,
    geodesic_intermediate,
    geodesic_inv,
)

lons = st.floats(min_value=-179.9, max_value=179.9)
lats = st.floats(min_value=-89.0, max_value=89.0)


class TestGeodesyProperties:
    @settings(max_examples=200, deadline=None)
    @given(lons, lats, st.floats(min_value=-179.9, max_value=179.9),
           st.floats(min_value=0.0, max_value=1.5e7))
    def test_fwd_inv_round_trip(self, lon, lat, azi, dist):
        lon2, lat2, _ = geodesic_fwd(lon, lat, azi, dist)
        _, _, d_back = geodesic_inv(lon, lat, lon2, lat2)
        # inverse distance equals |walked| distance up to the antipode wrap
        circ = 2 * np.pi * SPHERE_RADIUS
        expect = min(dist % circ, circ - dist % circ)
        assert d_back == pytest.approx(expect, abs=1e-5)

    @settings(max_examples=100, deadline=None)
    @given(lons, lats, lons, lats)
    def test_inv_symmetry(self, lon1, lat1, lon2, lat2):
        _, _, d12 = geodesic_inv(lon1, lat1, lon2, lat2)
        _, _, d21 = geodesic_inv(lon2, lat2, lon1, lat1)
        assert d12 == pytest.approx(d21, abs=1e-6)
        assert d12 <= np.pi * SPHERE_RADIUS + 1e-6  # never exceeds half-circ

    @settings(max_examples=60, deadline=None)
    @given(lons, lats, lons, lats, st.integers(min_value=2, max_value=12))
    # a ~9 885 km segment whose midpoint sits at 89.9998 deg latitude
    @example(-178.9, 1.099609375, 1.1, 1.1, 3)
    def test_intermediate_even_spacing_and_endpoints(
        self, lon1, lat1, lon2, lat2, n
    ):
        lons_, lats_, azis = geodesic_intermediate(lon1, lat1, lon2, lat2, n)
        assert (lons_[0], lats_[0]) == (lon1, lat1)
        assert (lons_[-1], lats_[-1]) == (lon2, lat2)
        _, _, total = geodesic_inv(lon1, lat1, lon2, lat2)
        segs = [
            geodesic_inv(lons_[i], lats_[i], lons_[i + 1], lats_[i + 1])[2]
            for i in range(n - 1)
        ]
        for s in segs:
            assert s == pytest.approx(total / (n - 1), abs=1e-4)
        # Clairaut's relation holds at every point (all on one great circle)
        if total > 1.0:  # degenerate same-point path has no defined azimuth
            cl = np.sin(np.radians(azis)) * np.cos(np.radians(lats_))
            assert np.ptp(cl) == pytest.approx(0.0, abs=1e-9)

    def test_known_values(self):
        a1, a2, d = geodesic_inv(0, 0, 90, 0)
        assert (a1, a2) == (90.0, 90.0)
        assert d == pytest.approx(SPHERE_RADIUS * np.pi / 2)
        a1, _, d = geodesic_inv(10, 0, 10, 90)
        assert a1 == pytest.approx(0.0)
        assert d == pytest.approx(SPHERE_RADIUS * np.pi / 2)


class TestEllipsoidalInverse:
    """Exact WGS84 inverse (quadrature Karney formulation)."""

    def test_closed_forms(self):
        from sat_bucket_spark.geodesy import WGS84_A, geodesic_inv_ellipsoid

        # quarter meridian (WGS84 known constant) and equatorial arc
        assert geodesic_inv_ellipsoid(0, 0, 0, 90) == pytest.approx(
            10_001_965.7293, abs=1e-3
        )
        assert geodesic_inv_ellipsoid(0, 0, 90, 0) == pytest.approx(
            WGS84_A * np.pi / 2, abs=1e-6
        )
        # antipodal equator points connect over the pole: the meridian half
        assert geodesic_inv_ellipsoid(0, 0, 180, 0) == pytest.approx(
            2 * 10_001_965.7293, abs=1e-3
        )

    def test_agrees_with_vincenty_everywhere_vincenty_converges(self):
        from sat_bucket_spark.filters import _vincenty_inverse
        from sat_bucket_spark.geodesy import geodesic_inv_ellipsoid

        rng = np.random.default_rng(7)
        for _ in range(200):
            lon1, lon2 = rng.uniform(-180, 180, 2)
            lat1, lat2 = rng.uniform(-89, 89, 2)
            d_exact = geodesic_inv_ellipsoid(lon1, lat1, lon2, lat2)
            d_vin = float(
                _vincenty_inverse(np.array([lon2]), np.array([lat2]), lon1, lat1)[0]
            )
            # two INDEPENDENT exact algorithms: sub-0.1 mm agreement
            assert abs(d_exact - d_vin) < 1e-3, (lon1, lat1, lon2, lat2)

    def test_symmetry_and_swap(self):
        from sat_bucket_spark.geodesy import geodesic_inv_ellipsoid

        rng = np.random.default_rng(11)
        for _ in range(30):
            lon1, lon2 = rng.uniform(-180, 180, 2)
            lat1, lat2 = rng.uniform(-89, 89, 2)
            d12 = geodesic_inv_ellipsoid(lon1, lat1, lon2, lat2)
            d21 = geodesic_inv_ellipsoid(lon2, lat2, lon1, lat1)
            assert d12 == pytest.approx(d21, abs=1e-6)

    def test_antipodal_region_monotone_continuous(self):
        from sat_bucket_spark.geodesy import geodesic_inv_ellipsoid

        # walking the second point toward the exact antipode of (0,0) along
        # the equator: distances increase smoothly to the meridian half and
        # never exceed it
        prev = 0.0
        for lam in np.linspace(179.0, 180.0, 21):
            d = geodesic_inv_ellipsoid(0, 0, float(lam), 0)
            assert d > prev
            prev = d
        assert prev == pytest.approx(2 * 10_001_965.7293, abs=1e-3)

    def test_vincenty_nonconvergence_routes_to_exact(self):
        """The filter-side Vincenty kernel returns EXACT values (not the old
        haversine approximation) for near-antipodal rows."""
        from sat_bucket_spark.filters import _vincenty_inverse
        from sat_bucket_spark.geodesy import geodesic_inv_ellipsoid

        pairs = [(179.6, 0.3), (-179.9, 0.05), (179.99, 0.0)]
        lons = np.array([p[0] for p in pairs])
        lats = np.array([p[1] for p in pairs])
        got = _vincenty_inverse(lons, lats, 0.0, 0.0)
        for g, (lon, lat) in zip(got, pairs):
            assert g == pytest.approx(
                geodesic_inv_ellipsoid(0.0, 0.0, lon, lat), abs=1e-4
            )


class TestVectorizedEllipsoidalInverse:
    def test_matches_scalar_everywhere(self):
        from sat_bucket_spark.geodesy import (
            geodesic_inv_ellipsoid,
            geodesic_inv_ellipsoid_many,
        )

        rng = np.random.default_rng(13)
        lons = rng.uniform(-180, 180, 120)
        lats = rng.uniform(-89, 89, 120)
        many = geodesic_inv_ellipsoid_many(12.0, -35.0, lons, lats)
        for i in range(120):
            assert many[i] == pytest.approx(
                geodesic_inv_ellipsoid(12.0, -35.0, lons[i], lats[i]), abs=1e-4
            )

    def test_whole_antipodal_batch(self):
        """The scenario the vectorization exists for: every row of the batch
        near the query point's antipode."""
        from sat_bucket_spark.geodesy import (
            geodesic_inv_ellipsoid,
            geodesic_inv_ellipsoid_many,
        )

        rng = np.random.default_rng(17)
        lons = rng.uniform(167, 169, 80)
        lats = rng.uniform(34, 36, 80)
        many = geodesic_inv_ellipsoid_many(-12.0, -35.0, lons, lats)
        for i in range(0, 80, 16):
            assert many[i] == pytest.approx(
                geodesic_inv_ellipsoid(-12.0, -35.0, lons[i], lats[i]), abs=1e-4
            )

    def test_specials(self):
        from sat_bucket_spark.geodesy import WGS84_A, geodesic_inv_ellipsoid_many

        got = geodesic_inv_ellipsoid_many(
            0.0, 0.0, np.array([0.0, 90.0, 0.0]), np.array([0.0, 0.0, 90.0])
        )
        assert got[0] == 0.0
        assert got[1] == pytest.approx(WGS84_A * np.pi / 2, abs=1e-6)
        assert got[2] == pytest.approx(10_001_965.7293, abs=1e-2)
