"""Spatial row filters and time-interval predicates as Column expressions.

Re-expresses reference satbucket/filters.py. All hot-path math is native Spark
SQL (whole-stage codegen); the exact WGS84 geodesic distance is available as an
Arrow-batched pandas UDF (pure-numpy Vincenty) for parity with the reference's
pyproj ``Geod.inv`` (filters.py:43-48) when spherical haversine is not enough.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sat_bucket_spark.checks import check_extent

__all__ = [
    "apply_spatial_filters",
    "extent_around_point",
    "filter_around_point",
    "filter_by_extent",
    "filter_by_polygon",
    "geodesic_distance_udf",
    "haversine_expr",
    "interval_overlap_expr",
    "point_in_polygon_expr",
    "point_in_polygon_sql",
    "polygon_bbox",
]

# WGS84 ellipsoid constants (public: NIMA TR8350.2)
_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_WGS84_B = _WGS84_A * (1.0 - _WGS84_F)
# a(1 - e^2), the meridional radius of curvature at the equator (its minimum)
_WGS84_MIN_MERIDIONAL_RADIUS = _WGS84_A * (1.0 - _WGS84_F * (2.0 - _WGS84_F))
_EARTH_RADIUS_M = 6371008.8  # IUGG mean radius, for haversine


def haversine_expr(
    lon: Column | str,
    lat: Column | str,
    lon0: Column | float,
    lat0: Column | float,
) -> Column:
    """Great-circle (spherical) distance in meters, as a native Column expression.

    Fast path for point-radius queries (reference: filters.py:43-63 uses exact
    WGS84 geodesic; haversine deviates <0.6%% — use :func:`geodesic_distance_udf`
    when exact parity matters). Stays inside whole-stage codegen.
    ``lon0``/``lat0`` may be Columns (point-to-point distance, e.g. to a
    per-row cell centroid) or floats (fixed query point).
    """
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    rlat = F.radians(lat)
    rlat0 = F.radians(lat0) if isinstance(lat0, Column) else F.lit(math.radians(lat0))
    rlon0 = F.radians(lon0) if isinstance(lon0, Column) else F.lit(math.radians(lon0))
    dlat = (rlat - rlat0) / 2.0
    dlon = (F.radians(lon) - rlon0) / 2.0
    a = F.sin(dlat) ** 2 + F.cos(rlat) * F.cos(rlat0) * F.sin(dlon) ** 2
    return F.lit(2.0 * _EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def _haversine_np(lons: np.ndarray, lats: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    """Numpy spherical (haversine) distance in meters — fallback for Vincenty."""
    rlat = np.radians(lats)
    rlat0 = np.radians(lat0)
    dlat = (rlat - rlat0) / 2.0
    dlon = np.radians(lons - lon0) / 2.0
    h = np.sin(dlat) ** 2 + np.cos(rlat) * np.cos(rlat0) * np.sin(dlon) ** 2
    return 2.0 * _EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def _vincenty_inverse(lons: np.ndarray, lats: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    """Vectorized Vincenty inverse distance on the WGS84 ellipsoid (meters).

    Pure-numpy replacement for pyproj ``Geod(ellps="WGS84").inv`` (reference:
    filters.py:43-48); classic published algorithm (Vincenty 1975). The lambda
    iteration does not converge for near-antipodal pairs; elements whose last
    iteration step is still >= tol after 100 iterations are re-solved by the
    EXACT bisection inverse (geodesy.geodesic_inv_ellipsoid) — no wrong
    Vincenty value, no approximate fallback.
    """
    lons = np.asarray(lons, dtype="float64")
    lats = np.asarray(lats, dtype="float64")
    a, b, f = _WGS84_A, _WGS84_B, _WGS84_F
    L = np.radians(lons - lon0)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat0)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lats)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    step = np.full_like(lam, np.inf)
    for _ in range(100):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cosU2 * sin_lam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2
        )
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma = np.arctan2(sin_sigma, cos_sigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(sin_sigma != 0, cosU1 * cosU2 * sin_lam / sin_sigma, 0.0)
            cos_sq_alpha = 1.0 - sin_alpha**2
            cos2sigma_m = np.where(
                cos_sq_alpha != 0, cos_sigma - 2.0 * sinU1 * sinU2 / cos_sq_alpha, 0.0
            )
        C = f / 16.0 * cos_sq_alpha * (4.0 + f * (4.0 - 3.0 * cos_sq_alpha))
        lam_new = L + (1.0 - C) * f * sin_alpha * (
            sigma
            + C * sin_sigma * (cos2sigma_m + C * cos_sigma * (-1.0 + 2.0 * cos2sigma_m**2))
        )
        step = np.abs(lam_new - lam)
        lam = lam_new
        if np.all(step < 1e-12):
            break

    sin_lam, cos_lam = np.sin(lam), np.cos(lam)
    sin_sigma = np.sqrt((cosU2 * sin_lam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2)
    cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
    sigma = np.arctan2(sin_sigma, cos_sigma)
    with np.errstate(divide="ignore", invalid="ignore"):
        sin_alpha = np.where(sin_sigma != 0, cosU1 * cosU2 * sin_lam / sin_sigma, 0.0)
        cos_sq_alpha = 1.0 - sin_alpha**2
        cos2sigma_m = np.where(
            cos_sq_alpha != 0, cos_sigma - 2.0 * sinU1 * sinU2 / cos_sq_alpha, 0.0
        )
    u_sq = cos_sq_alpha * (a**2 - b**2) / b**2
    A = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = (
        B
        * sin_sigma
        * (
            cos2sigma_m
            + B
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos2sigma_m**2)
                - B
                / 6.0
                * cos2sigma_m
                * (-3.0 + 4.0 * sin_sigma**2)
                * (-3.0 + 4.0 * cos2sigma_m**2)
            )
        )
    )
    dist = b * A * (sigma - delta_sigma)
    # identical points -> 0
    dist = np.where(sin_sigma == 0, 0.0, dist)
    # non-converged (near-antipodal) elements: the exact quadrature inverse
    # (geodesy — bisection never diverges), not a wrong Vincenty value. The
    # VECTORIZED solver handles the worst case where a whole batch is
    # near-antipodal (query point against the dense region at its antipode):
    # all non-converged rows bisect simultaneously as (rows x nodes)
    # quadrature matrices, not a per-row Python loop.
    nonconverged = ~(step < 1e-12) & (sin_sigma != 0)
    if np.any(nonconverged):
        from sat_bucket_spark.geodesy import geodesic_inv_ellipsoid_many

        idx = np.nonzero(nonconverged)[0]
        dist[idx] = geodesic_inv_ellipsoid_many(lon0, lat0, lons[idx], lats[idx])
    return dist


def geodesic_distance_udf(lon0: float, lat0: float):
    """Arrow-batched pandas UDF computing exact WGS84 geodesic distance (m).

    Parity path for reference filters.py:43-48 (pyproj Geod.inv). Used only
    when ``distance_type='geodesic'`` — haversine is the default hot path.
    """

    @pandas_udf("double")
    def _dist(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(_vincenty_inverse(lon.to_numpy(), lat.to_numpy(), lon0, lat0))

    return _dist


def filter_by_extent(
    df: DataFrame,
    extent,
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """Closed-bounds bbox filter (reference: filters.py:66-77)."""
    extent = check_extent(extent)
    return df.where(
        (F.col(x) >= F.lit(extent.xmin))
        & (F.col(x) <= F.lit(extent.xmax))
        & (F.col(y) >= F.lit(extent.ymin))
        & (F.col(y) <= F.lit(extent.ymax))
    )


def filter_around_point(
    df: DataFrame,
    lon: float,
    lat: float,
    distance: float,
    x: str = "lon",
    y: str = "lat",
    distance_type: str = "geodesic",
) -> DataFrame:
    """Keep rows within ``distance`` meters of a point; adds a ``distance`` column.

    Reference: filters.py:51-63 (geodesic WGS84; the added ``distance`` column is
    part of the output contract, test_readers.py:249). ``distance_type`` selects
    'geodesic' (exact, pandas UDF) or 'haversine' (native expression, faster).
    """
    if distance_type == "haversine":
        dist = haversine_expr(x, y, lon, lat)
    elif distance_type == "geodesic":
        dist = geodesic_distance_udf(lon, lat)(F.col(x), F.col(y))
    else:
        raise ValueError(f"invalid distance_type {distance_type!r}")
    return df.withColumn("distance", dist).where(F.col("distance") <= F.lit(float(distance)))


def extent_around_point(lon: float, lat: float, distance: float | None = None, size=None):
    """Bounding extent around a point, by geodesic distance or degree size.

    Reference: readers.py:34-38 + gpm-api ``get_geographic_extent_around_point``:
    with ``size`` (degrees) the extent is ``lon +/- size/2``. With ``distance``
    (meters) the extent holds the whole circle of that radius, on the WGS84
    ellipsoid and on the haversine sphere alike — it prunes partitions before
    the exact row filter, so it may be loose but never narrow:

    - latitude half-width: ``distance`` over the smallest meridional radius of
      curvature, ``a(1 - e^2)`` (the equatorial one);
    - longitude half-width: the small-circle bound ``asin(sin d / cos lat)``
      for that angular radius ``d``;
    - every longitude when the circle reaches a pole or crosses +/-180
      (extents do not wrap).

    Exactly one of ``distance`` / ``size`` must be given.
    """
    if (distance is None) == (size is None):
        raise ValueError("specify exactly one of 'distance' or 'size'")
    if size is not None:
        if isinstance(size, (int, float)):
            size = (float(size), float(size))
        half_x, half_y = size[0] / 2.0, size[1] / 2.0
    else:
        angle = distance / _WGS84_MIN_MERIDIONAL_RADIUS
        half_y = math.degrees(angle)
        if abs(lat) + half_y >= 90.0:
            half_x = 360.0  # reaches a pole
        else:
            half_x = math.degrees(math.asin(math.sin(angle) / math.cos(math.radians(lat))))
        if lon - half_x < -180.0 or lon + half_x > 180.0:
            half_x = 360.0  # crosses the antimeridian
    return [
        max(lon - half_x, -180.0),
        min(lon + half_x, 180.0),
        max(lat - half_y, -90.0),
        min(lat + half_y, 90.0),
    ]


def point_in_polygon_expr(
    polygon: list[tuple[float, float]], x: str = "lon", y: str = "lat"
) -> Column:
    """Even-odd ray-cast point-in-polygon predicate, pure Column expression.

    Extends the reference's spatial filters (extent / point-radius,
    reference filters.py:51-88) to arbitrary simple polygons. ``polygon``
    is a list of (x, y) vertices (closing edge implied); a horizontal ray
    to +inf crosses edge ((x1,y1),(x2,y2)) iff the edge straddles the
    point's y and the intersection lies right of the point. Odd crossing
    count = inside.

    Vertices fold into the plan as double literals — no data structure on
    executors, whole-stage codegen, and the same IEEE double arithmetic is
    replayable verbatim in the DuckDB oracle. The division is guarded by
    the straddle test (evaluated only when ``y2 != y1``) so engines that
    differ on double division-by-zero agree. Boundary points follow
    ray-casting convention (measure-zero; not pinned).

    Cost: O(n_vertices) comparisons per row, all codegen — for polygons
    with thousands of vertices, pre-simplify driver-side; the 100 TB plan
    is bbox partition-pruning first (see :func:`filter_by_polygon`), exact
    test only on surviving rows. The predicate is built as ONE SQL string
    parsed once (``D``-suffixed double literals), not ~20 Column calls per
    vertex, each a py4j round trip.

    Antimeridian: vertices are taken at face value on the flat lon/lat
    plane. A region crossing ±180° must be split into its east and west
    parts and queried as two polygons (union the results) — the standard
    convention for planar predicates over geographic coordinates.
    """
    if len(polygon) < 3:
        raise ValueError("polygon needs at least 3 vertices")
    if not all(math.isfinite(float(v)) for vertex in polygon for v in vertex):
        raise ValueError("polygon vertices must be finite")
    return F.expr(_ray_cast_sql(polygon, f"`{x}`", f"`{y}`", "D"))


def _ray_cast_sql(polygon: list[tuple[float, float]], x: str, y: str, suffix: str) -> str:
    """Even-odd crossing test over the polygon's edges as one SQL predicate.

    ``x``/``y`` are SQL column references; ``suffix`` types the vertex
    literals: ``D`` makes them Spark doubles, the DuckDB oracle keeps them
    plain.
    """
    n = len(polygon)
    terms = []
    for i in range(n):
        x1, y1 = (f"{float(v)!r}{suffix}" for v in polygon[i])
        x2, y2 = (f"{float(v)!r}{suffix}" for v in polygon[(i + 1) % n])
        terms.append(
            f"(CASE WHEN (({y1} > {y}) != ({y2} > {y})) AND "
            f"({x} < ({x2} - {x1}) * ({y} - {y1}) / ({y2} - {y1}) + {x1}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def polygon_bbox(polygon: list[tuple[float, float]]) -> list[float]:
    """[xmin, xmax, ymin, ymax] of the vertices — the pruning envelope."""
    xs = [float(p[0]) for p in polygon]
    ys = [float(p[1]) for p in polygon]
    return [min(xs), max(xs), min(ys), max(ys)]


def filter_by_polygon(
    df: DataFrame,
    polygon: list[tuple[float, float]],
    x: str = "lon",
    y: str = "lat",
) -> DataFrame:
    """Rows inside a simple polygon: bbox envelope first, then exact test.

    The bounding-box predicate is a plain extent filter, so on a bucket
    table it reuses the same partition/row-group pruning as
    :func:`filter_by_extent` (Catalyst prunes on the label columns /
    parquet min-max stats); the O(n_vertices) ray-cast then runs only on
    rows that survive the envelope.
    """
    bbox = polygon_bbox(polygon)
    return filter_by_extent(df, bbox, x=x, y=y).where(
        point_in_polygon_expr(polygon, x=x, y=y)
    )


def point_in_polygon_sql(
    polygon: list[tuple[float, float]], x: str = "lon", y: str = "lat"
) -> str:
    """ANSI-SQL replay of :func:`point_in_polygon_expr` (DuckDB oracle)."""
    return _ray_cast_sql(polygon, x, y, "")


def apply_spatial_filters(df: DataFrame, spatial_filters: dict | None, x="lon", y="lat") -> DataFrame:
    """Dispatch composite spatial filters (reference: filters.py:80-88).

    ``spatial_filters`` maps filter name -> args: ``{"extent": [...]}}``,
    ``{"point_radius": (lon, lat, distance)}`` or ``{"polygon": [(x, y), ...]}``.
    """
    if not spatial_filters:
        return df
    for name, args in spatial_filters.items():
        if name == "extent":
            df = filter_by_extent(df, args, x=x, y=y)
        elif name == "point_radius":
            lon, lat, distance = args
            df = filter_around_point(df, lon, lat, distance, x=x, y=y)
        elif name == "polygon":
            df = filter_by_polygon(df, args, x=x, y=y)
        else:
            raise ValueError(f"unknown spatial filter {name!r}")
    return df


def interval_overlap_expr(
    start1: Column | str,
    end1: Column | str,
    start2: Column | str,
    end2: Column | str,
) -> Column:
    """Half-open interval overlap predicate ``[s1,e1] x [s2,e2)``.

    Reference: filters.py:91-110 (``is_within_time_period``): a granule/file
    interval overlaps the query interval when ``s1 <= e2 AND e1 >= s2``.
    Used for file-time pruning and the temporal-group range join (routines.py:474-504).
    """
    s1 = F.col(start1) if isinstance(start1, str) else start1
    e1 = F.col(end1) if isinstance(end1, str) else end1
    s2 = F.col(start2) if isinstance(start2, str) else start2
    e2 = F.col(end2) if isinstance(end2, str) else end2
    return (s1 <= e2) & (e1 >= s2)
