"""Spherical geodesy (great-circle inverse / direct / intermediate points).

Pure-numpy replacement for the geodesic primitives the reference's test
fixtures draw from ``pyproj.Geod(ellps="sphere")`` (reference
satbucket/tests/utils/fake_datasets.py:17-38): on a sphere the geodesic IS
the great circle, so the closed-form spherical-trigonometry solution is
exact — no ellipsoidal series needed, and results match GeographicLib's
sphere case to floating-point rounding.

Conventions follow proj/GeographicLib: azimuths in degrees clockwise from
north, longitudes/latitudes in degrees, distances in metres on the
``sphere`` ellipsoid (R = 6370997 m, proj's "Normal Sphere").

All functions are vectorized numpy — these exist for fixture generation
and driver-side planning, not for row-at-a-time use inside Spark plans
(the Spark-side distance expressions live in filters.py).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "SPHERE_RADIUS",
    "WGS84_A",
    "WGS84_F",
    "geodesic_fwd",
    "geodesic_inv",
    "geodesic_intermediate",
    "geodesic_inv_ellipsoid",
    "geodesic_inv_ellipsoid_many",
]

# proj's ellps="sphere": a = b = 6370997 m
SPHERE_RADIUS = 6_370_997.0


def geodesic_inv(lon1, lat1, lon2, lat2, radius: float = SPHERE_RADIUS):
    """Great-circle inverse problem.

    Returns ``(fwd_azimuth_deg_at_1, fwd_azimuth_deg_at_2, distance_m)``,
    mirroring ``Geod.inv(..., return_back_azimuth=False)``: the second
    azimuth is the azimuth OF THE LINE at point 2 (its continuation
    direction), not the back azimuth toward point 1.
    """
    lam1, phi1, lam2, phi2 = map(np.radians, (lon1, lat1, lon2, lat2))
    dlam = lam2 - lam1
    cos_phi1, sin_phi1 = np.cos(phi1), np.sin(phi1)
    cos_phi2, sin_phi2 = np.cos(phi2), np.sin(phi2)

    y = cos_phi2 * np.sin(dlam)
    x = cos_phi1 * sin_phi2 - sin_phi1 * cos_phi2 * np.cos(dlam)
    azi1 = np.degrees(np.arctan2(y, x))

    sigma = np.arctan2(
        np.hypot(y, x), sin_phi1 * sin_phi2 + cos_phi1 * cos_phi2 * np.cos(dlam)
    )

    # azimuth of the line at point 2 = 180 - (azimuth from 2 toward 1)
    y2 = cos_phi1 * np.sin(-dlam)
    x2 = cos_phi2 * sin_phi1 - sin_phi2 * cos_phi1 * np.cos(-dlam)
    azi2 = np.degrees(np.arctan2(-y2, -x2))

    return azi1, azi2, sigma * radius


def geodesic_fwd(lon, lat, azimuth, distance, radius: float = SPHERE_RADIUS):
    """Great-circle direct problem (``Geod.fwd`` on the sphere).

    Returns ``(lon2, lat2, fwd_azimuth_deg_at_2)``. Negative distances walk
    backwards along the azimuth, as in proj.
    """
    lam1, phi1 = np.radians(lon), np.radians(lat)
    alpha = np.radians(azimuth)
    sigma = np.asarray(distance, dtype=float) / radius

    sin_phi1, cos_phi1 = np.sin(phi1), np.cos(phi1)
    sin_sigma, cos_sigma = np.sin(sigma), np.cos(sigma)

    # destination as (y, x) components: z = sin(phi2), and the equatorial
    # projection (east, north-of-meridian) whose hypot is cos(phi2).
    # atan2 keeps full precision near the poles, where arcsin(sin phi2)
    # loses it (a midpoint at 89.9998 deg was ~0.2 mm off).
    east = np.sin(alpha) * sin_sigma
    north = cos_phi1 * cos_sigma - sin_phi1 * sin_sigma * np.cos(alpha)
    sin_phi2 = sin_phi1 * cos_sigma + cos_phi1 * sin_sigma * np.cos(alpha)
    phi2 = np.arctan2(sin_phi2, np.hypot(east, north))
    lam2 = lam1 + np.arctan2(east, north)
    # azimuth of the line at the destination (pole-safe form: num and den
    # both scaled by cos(phi1))
    azi2 = np.degrees(
        np.arctan2(
            np.sin(alpha) * cos_phi1,
            cos_phi1 * cos_sigma * np.cos(alpha) - sin_phi1 * sin_sigma,
        )
    )
    lon2 = np.degrees(lam2)
    # wrap to [-180, 180] like proj
    lon2 = (lon2 + 180.0) % 360.0 - 180.0
    return lon2, np.degrees(phi2), azi2


def geodesic_intermediate(
    lon1: float,
    lat1: float,
    lon2: float,
    lat2: float,
    n_points: int,
    radius: float = SPHERE_RADIUS,
):
    """Evenly-spaced points along the great circle, endpoints INCLUDED.

    Mirrors ``Geod.inv_intermediate(..., npts=n, initial_idx=0,
    terminus_idx=0, return_back_azimuth=False, flags=AZIS_KEEP)``: ``n``
    points at arc fractions ``i/(n-1)`` with the forward azimuth of the
    line at each point. Returns ``(lons, lats, azis)`` numpy arrays.
    """
    if n_points < 2:
        raise ValueError(f"n_points must be >= 2, got {n_points}")
    azi1, _, dist = geodesic_inv(lon1, lat1, lon2, lat2, radius=radius)
    s = np.linspace(0.0, dist, n_points)
    lons, lats, azis = geodesic_fwd(
        np.full(n_points, float(lon1)),
        np.full(n_points, float(lat1)),
        np.full(n_points, float(azi1)),
        s,
        radius=radius,
    )
    # exact endpoints (the direct solution reproduces them to ~1e-12 anyway;
    # pinning avoids boundary flips in bin assignment)
    lons[0], lats[0] = lon1, lat1
    lons[-1], lats[-1] = lon2, lat2
    return lons, lats, azis


# ---------------------------------------------------------------------------
# Exact WGS84 (ellipsoidal) inverse — quadrature formulation
# ---------------------------------------------------------------------------

WGS84_A = 6_378_137.0
WGS84_F = 1.0 / 298.257223563

_GL_NODES, _GL_WEIGHTS = np.polynomial.legendre.leggauss(50)


def _quad(fn, x1: float, x2: float) -> float:
    """50-node Gauss-Legendre quadrature of a smooth integrand (exact to
    ~1e-15 relative for the geodesic integrands, which are analytic)."""
    half = 0.5 * (x2 - x1)
    mid = 0.5 * (x2 + x1)
    return float(half * np.sum(_GL_WEIGHTS * fn(mid + half * _GL_NODES)))


def _hybrid(beta1, beta2, alpha1, f):
    """Given azimuth ``alpha1`` at point 1, solve the geodesic to the first
    crossing of latitude ``beta2``: returns (lam12, s12_over_a).

    Exact relations on the auxiliary sphere (Karney 2013, "Algorithms for
    geodesics", eqs. 5-25 — public; series replaced by direct quadrature so
    there are no truncated-coefficient errors):

        sin(alpha0) = sin(alpha1) cos(beta1)              (Clairaut)
        sigma_i     = atan2(sin(beta_i), cos(beta_i) cos(alpha_i))
        omega_i     = atan2(sin(alpha0) sin(sigma_i), cos(sigma_i))
        s/b         = I1 = integral sqrt(1 + k^2 sin^2 t) dt
        lambda      = omega - f sin(alpha0) * I3,
        I3          = integral (2-f) / (1 + (1-f) sqrt(1 + k^2 sin^2 t)) dt
        k^2         = e'^2 cos^2(alpha0)

    Requires the canonical arrangement beta1 <= 0, |beta2| <= |beta1|.
    """
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    sin_b1, cos_b1 = np.sin(beta1), np.cos(beta1)
    sin_b2, cos_b2 = np.sin(beta2), np.cos(beta2)
    # branch pin at the equatorial degeneracy: beta1 == 0 must resolve to
    # sigma1 = -pi (not +pi) when cos(alpha1) < 0 — the departure point sits
    # at the START of the arc in the canonical beta1 <= 0 arrangement
    if sin_b1 == 0.0:
        sin_b1 = -0.0
    sin_a1, cos_a1 = np.sin(alpha1), np.cos(alpha1)

    sin_a0 = sin_a1 * cos_b1
    cos2_a0 = 1.0 - sin_a0 * sin_a0
    k2 = ep2 * cos2_a0

    sigma1 = np.arctan2(sin_b1, cos_b1 * cos_a1)
    cos_a2 = np.sqrt(max(cos2_a0 - sin_b2 * sin_b2, 0.0)) / cos_b2
    sigma2 = np.arctan2(sin_b2, cos_b2 * cos_a2)
    omega1 = np.arctan2(sin_a0 * np.sin(sigma1), np.cos(sigma1))
    omega2 = np.arctan2(sin_a0 * np.sin(sigma2), np.cos(sigma2))

    def w(t):
        return np.sqrt(1.0 + k2 * np.sin(t) ** 2)

    s_over_b = _quad(w, sigma1, sigma2)
    i3 = _quad(lambda t: (2.0 - f) / (1.0 + (1.0 - f) * w(t)), sigma1, sigma2)
    lam12 = (omega2 - omega1) - f * sin_a0 * i3
    return lam12, s_over_b * (1.0 - f)


def geodesic_inv_ellipsoid(
    lon1: float,
    lat1: float,
    lon2: float,
    lat2: float,
    a: float = WGS84_A,
    f: float = WGS84_F,
) -> float:
    """Exact shortest-geodesic distance on an ellipsoid of revolution (m).

    Karney-style inverse solved by BISECTION on the departure azimuth with
    the exact auxiliary-sphere relations evaluated by quadrature (see
    ``_hybrid``): lambda12(alpha1) is monotone on the canonical arrangement,
    so the root bracket never fails — including the near-antipodal region
    where Vincenty's lambda iteration diverges (filters.py falls back to
    haversine there, <=0.56% error; this solver is the exact oracle and the
    antipodal-safe path). ~60 bisection steps x 2 quadratures: driver-side /
    test-oracle speed, not a per-row Spark kernel.
    """
    if (lon1, lat1) == (lon2, lat2):
        return 0.0
    beta1 = np.arctan((1.0 - f) * np.tan(np.radians(lat1)))
    beta2 = np.arctan((1.0 - f) * np.tan(np.radians(lat2)))
    lam12 = np.radians(lon2 - lon1)
    lam12 = (lam12 + np.pi) % (2.0 * np.pi) - np.pi
    # canonical arrangement: point 1 is the one with larger |beta|, in the
    # southern hemisphere; lambda12 in [0, pi]
    if abs(beta1) < abs(beta2):
        beta1, beta2 = beta2, beta1
    if beta1 > 0:
        beta1, beta2 = -beta1, -beta2
    lam12 = abs(lam12)

    b = a * (1.0 - f)
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)

    # equatorial geodesic: exact while it stays shortest
    if beta1 == 0.0 and beta2 == 0.0 and lam12 <= (1.0 - f) * np.pi:
        return a * lam12
    # meridional geodesic (lam12 == 0): meridian arc by quadrature
    if lam12 == 0.0:
        return b * _quad(
            lambda t: np.sqrt(1.0 + ep2 * np.sin(t) ** 2), beta1, beta2
        )

    lo, hi = 1e-15, np.pi - 1e-15
    for _ in range(85):
        mid = 0.5 * (lo + hi)
        lam_mid, _ = _hybrid(beta1, beta2, mid, f)
        if lam_mid < lam12:
            lo = mid
        else:
            hi = mid
    alpha1 = 0.5 * (lo + hi)
    _, s_over_a = _hybrid(beta1, beta2, alpha1, f)
    return a * s_over_a


def _hybrid_vec(beta1, beta2, alpha1, f):
    """Vectorized :func:`_hybrid`: arrays of (beta1, beta2, alpha1) ->
    (lam12, s12_over_a). Same exact relations, quadrature evaluated as a
    (rows x nodes) matrix."""
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    sin_b1 = np.sin(beta1)
    # branch pin (see _hybrid): beta1 == 0 resolves to sigma1 = -pi
    sin_b1 = np.where(sin_b1 == 0.0, -0.0, sin_b1)
    cos_b1 = np.cos(beta1)
    sin_b2, cos_b2 = np.sin(beta2), np.cos(beta2)
    sin_a1, cos_a1 = np.sin(alpha1), np.cos(alpha1)

    sin_a0 = sin_a1 * cos_b1
    cos2_a0 = 1.0 - sin_a0 * sin_a0
    k2 = ep2 * cos2_a0

    sigma1 = np.arctan2(sin_b1, cos_b1 * cos_a1)
    cos_a2 = np.sqrt(np.maximum(cos2_a0 - sin_b2 * sin_b2, 0.0)) / cos_b2
    sigma2 = np.arctan2(sin_b2, cos_b2 * cos_a2)
    omega1 = np.arctan2(sin_a0 * np.sin(sigma1), np.cos(sigma1))
    omega2 = np.arctan2(sin_a0 * np.sin(sigma2), np.cos(sigma2))

    half = 0.5 * (sigma2 - sigma1)
    mid = 0.5 * (sigma2 + sigma1)
    # (rows x nodes) sample points
    t = mid[:, None] + half[:, None] * _GL_NODES[None, :]
    w = np.sqrt(1.0 + k2[:, None] * np.sin(t) ** 2)
    s_over_b = half * np.sum(_GL_WEIGHTS[None, :] * w, axis=1)
    i3 = half * np.sum(
        _GL_WEIGHTS[None, :] * (2.0 - f) / (1.0 + (1.0 - f) * w), axis=1
    )
    lam12 = (omega2 - omega1) - f * sin_a0 * i3
    return lam12, s_over_b * (1.0 - f)


def geodesic_inv_ellipsoid_many(
    lon1: float,
    lat1: float,
    lons2,
    lats2,
    a: float = WGS84_A,
    f: float = WGS84_F,
    iterations: int = 60,
):
    """Vectorized :func:`geodesic_inv_ellipsoid`: one fixed point against
    arrays of targets. Same bisection, run on ALL rows simultaneously —
    the batch cost is ``iterations`` (rows x 50)-matrix quadratures instead
    of a per-row Python loop, which keeps the exact solver usable when a
    WHOLE batch is near-antipodal (a query point against the dense region
    at its antipode), not just for stray rows.
    """
    lons2 = np.asarray(lons2, dtype="float64")
    lats2 = np.asarray(lats2, dtype="float64")
    beta_a = np.full_like(lons2, np.arctan((1.0 - f) * np.tan(np.radians(lat1))))
    beta_b = np.arctan((1.0 - f) * np.tan(np.radians(lats2)))
    lam12 = np.radians(lons2 - lon1)
    lam12 = np.abs((lam12 + np.pi) % (2.0 * np.pi) - np.pi)

    # canonical arrangement, rowwise
    swap = np.abs(beta_a) < np.abs(beta_b)
    b1 = np.where(swap, beta_b, beta_a)
    b2 = np.where(swap, beta_a, beta_b)
    flip = b1 > 0
    b1 = np.where(flip, -b1, b1)
    b2 = np.where(flip, -b2, b2)

    lo = np.full_like(lam12, 1e-15)
    hi = np.full_like(lam12, np.pi - 1e-15)
    for _ in range(iterations):
        mid = 0.5 * (lo + hi)
        lam_mid, _ = _hybrid_vec(b1, b2, mid, f)
        go_up = lam_mid < lam12
        lo = np.where(go_up, mid, lo)
        hi = np.where(go_up, hi, mid)
    _, s_over_a = _hybrid_vec(b1, b2, 0.5 * (lo + hi), f)
    dist = a * s_over_a

    # special rows the generic bisection cannot represent
    equatorial = (b1 == 0.0) & (b2 == 0.0) & (lam12 <= (1.0 - f) * np.pi)
    dist = np.where(equatorial, a * lam12, dist)
    same = (lam12 == 0.0) & (b1 == b2)
    return np.where(same, 0.0, dist)
