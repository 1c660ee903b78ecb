"""Seeded GPM-like swath granules and the numpy reference answers.

Everything here runs before Spark starts and uses only numpy and pyarrow, so
the engine never sees anything but the granule files on disk, and every
expected answer is computed without the engine's code.

A granule is one orbit of a near-polar satellite: ``n_along`` scans, each of
``N_CROSS`` footprints spread across the ground track. Columns follow the GPM
convention the engine's swath functions expect: ``gpm_id`` is the string
``"{granule}-{along}"`` and ``gpm_cross_track_id`` is the footprint index.
Times are ``timestamp[us, tz=UTC]`` (satellite time is UTC).
"""

from __future__ import annotations

import datetime
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.datetime(2021, 7, 1)
EARTH_RADIUS_M = 6_371_008.8
ORBIT_PERIOD_S = 5556.0  # ~92.6 min
EARTH_ROTATION_DEG_S = 360.0 / 86164.1
INCLINATION_DEG = 86.0
N_CROSS = 49
FOOTPRINT_SPACING_M = 5_000.0
DAY_US = 86_400 * 1_000_000

SCHEMA = pa.schema(
    [
        ("lon", pa.float64()),
        ("lat", pa.float64()),
        ("time", pa.timestamp("us", tz="UTC")),
        ("gpm_id", pa.string()),
        ("gpm_cross_track_id", pa.int32()),
        ("precip", pa.float64()),
        ("quality", pa.int32()),
    ]
)


@dataclass
class Granules:
    """Generated rows (flat numpy columns) and the files that hold them."""

    lon: np.ndarray
    lat: np.ndarray
    t_us: np.ndarray  # int64 microseconds since the Unix epoch
    granule: np.ndarray
    along: np.ndarray
    cross: np.ndarray
    day: np.ndarray
    precip: np.ndarray
    paths_by_day: list[list[str]] = field(default_factory=list)
    corrupt_by_day: list[list[str]] = field(default_factory=list)
    raw_bytes_by_day: list[int] = field(default_factory=list)
    day_start_us: list[int] = field(default_factory=list)


def _ground_track(lon_node: float, n_along: int):
    """Sub-satellite lon/lat (degrees) and heading for one orbit of scans."""
    k = np.arange(n_along, dtype=np.float64)
    u = 2.0 * np.pi * k / n_along
    inc = math.radians(INCLINATION_DEG)
    lat = np.degrees(np.arcsin(np.sin(inc) * np.sin(u)))
    dt = k * (ORBIT_PERIOD_S / n_along)
    lon = lon_node + np.degrees(np.arctan2(np.cos(inc) * np.sin(u), np.cos(u)))
    lon = lon - EARTH_ROTATION_DEG_S * dt
    # heading from each scan to the next (last one reuses its predecessor's)
    lat1, lon1 = np.radians(lat), np.radians(lon)
    lat2, lon2 = np.roll(lat1, -1), np.roll(lon1, -1)
    y = np.sin(lon2 - lon1) * np.cos(lat2)
    x = np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(lon2 - lon1)
    heading = np.arctan2(y, x)
    heading[-1] = heading[-2]
    return lon, lat, heading, dt


def _destination(lon, lat, bearing, dist_m):
    """Spherical destination point (radians in for bearing, degrees out)."""
    d = dist_m / EARTH_RADIUS_M
    lat1, lon1 = np.radians(lat), np.radians(lon)
    lat2 = np.arcsin(np.sin(lat1) * np.cos(d) + np.cos(lat1) * np.sin(d) * np.cos(bearing))
    lon2 = lon1 + np.arctan2(
        np.sin(bearing) * np.sin(d) * np.cos(lat1), np.cos(d) - np.sin(lat1) * np.sin(lat2)
    )
    lon_deg = (np.degrees(lon2) + 180.0) % 360.0 - 180.0
    return lon_deg, np.degrees(lat2)


def _stamp(us: int) -> str:
    t = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(us))
    return t.strftime("%Y%m%d-S%H%M%S")


def generate(
    out_dir: str,
    seed: int,
    n_days: int,
    granules_per_day: int,
    n_along: int,
    max_corrupt: int,
) -> Granules:
    """Write ``n_days`` days of granule files under ``out_dir``.

    Sizes jitter by a few percent with the seed so that different seeds give
    different but comparable inputs. One to ``max_corrupt`` unreadable granule
    files are planted on days 0 and 1, which every workload ingests; they
    carry no rows.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    epoch_us = int((EPOCH - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    cols: dict[str, list[np.ndarray]] = {
        k: [] for k in ("lon", "lat", "t_us", "granule", "along", "cross", "day", "precip")
    }
    g = Granules(*(np.empty(0) for _ in range(8)))
    corrupt_days = rng.integers(0, min(n_days, 2), size=int(rng.integers(1, max_corrupt + 1)))
    node0 = rng.uniform(-180.0, 180.0)
    offsets = (np.arange(N_CROSS) - (N_CROSS - 1) / 2.0) * FOOTPRINT_SPACING_M
    granule_id = int(rng.integers(10_000, 20_000))
    for d in range(n_days):
        day_us = epoch_us + d * DAY_US
        # every orbit of the day ends before midnight, so a day's rows are its granules'
        start_s = rng.uniform(0.0, min(3_600.0, 86_400.0 - granules_per_day * ORBIT_PERIOD_S))
        paths, raw = [], 0
        for k in range(granules_per_day):
            n_al = int(n_along * rng.uniform(0.97, 1.03))
            t0_s = start_s + k * ORBIT_PERIOD_S
            node = node0 - EARTH_ROTATION_DEG_S * (d * 86_400.0 + t0_s) + rng.uniform(-2.0, 2.0)
            clon, clat, heading, dt = _ground_track(node, n_al)
            # rows ordered scan by scan, footprints across each scan
            lon, lat = _destination(
                np.repeat(clon, N_CROSS),
                np.repeat(clat, N_CROSS),
                np.repeat(heading, N_CROSS) + np.pi / 2.0,
                np.tile(offsets, n_al),
            )
            t_us = day_us + np.repeat(np.round((t0_s + dt) * 1e6).astype(np.int64), N_CROSS)
            along = np.repeat(np.arange(n_al, dtype=np.int64), N_CROSS)
            cross = np.tile(np.arange(N_CROSS, dtype=np.int32), n_al)
            rain = rng.random(lon.size) < 0.15
            precip = np.where(rain, rng.gamma(0.8, 4.0, lon.size), 0.0)
            quality = rng.integers(0, 4, lon.size, dtype=np.int32)
            scan_ids = np.array([f"{granule_id}-{a}" for a in range(n_al)], dtype=object)
            table = pa.Table.from_arrays(
                [
                    pa.array(lon),
                    pa.array(lat),
                    pa.array(t_us, type=pa.timestamp("us", tz="UTC")),
                    pa.array(np.repeat(scan_ids, N_CROSS), type=pa.string()),
                    pa.array(cross),
                    pa.array(precip),
                    pa.array(quality),
                ],
                schema=SCHEMA,
            )
            end_us = int(t_us[-1])
            name = f"GPM.SIM.{_stamp(int(t_us[0]))}-E{_stamp(end_us)[-6:]}.{granule_id:06d}.parquet"
            path = os.path.join(out_dir, name)
            pq.write_table(table, path)
            raw += os.path.getsize(path)
            paths.append(path)
            for key, arr in (
                ("lon", lon), ("lat", lat), ("t_us", t_us),
                ("granule", np.full(lon.size, granule_id, dtype=np.int64)),
                ("along", along), ("cross", cross),
                ("day", np.full(lon.size, d, dtype=np.int32)), ("precip", precip),
            ):
                cols[key].append(arr)
            granule_id += 1
        corrupt = []
        for j in range(int(np.sum(corrupt_days == d))):
            path = os.path.join(out_dir, f"GPM.SIM.{_stamp(day_us)}-CORRUPT{j}.{granule_id:06d}.parquet")
            with open(path, "wb") as f:
                f.write(b"PAR1" + rng.bytes(int(rng.integers(64, 4096))))
            corrupt.append(path)
            granule_id += 1
        g.paths_by_day.append(paths + corrupt)
        g.corrupt_by_day.append(corrupt)
        g.raw_bytes_by_day.append(raw)
        g.day_start_us.append(day_us)
    for key, parts in cols.items():
        setattr(g, key, np.concatenate(parts))
    return g


def read_granule(path: str):
    """The ingest callable: one granule file -> pandas DataFrame."""
    import pyarrow.parquet as _pq

    return _pq.read_table(path).to_pandas()


# --------------------------------------------------------------------------
# numpy reference answers
# --------------------------------------------------------------------------


def bin_index(v: np.ndarray, vmin: float, vmax: float, size: float) -> np.ndarray:
    """Cell index of each value on a [vmin, vmax] grid of ``size`` cells."""
    n = int(round((vmax - vmin) / size))
    return np.clip(np.floor((v - vmin) / size).astype(np.int64), 0, n - 1)


def near_cell_edge(v: np.ndarray, vmin: float, size: float, tol: float = 1e-9) -> np.ndarray:
    r = (v - vmin) / size
    return np.abs(r - np.round(r)) * size < tol


def geodesic_m(lon: np.ndarray, lat: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    """WGS84 ellipsoidal distance (Vincenty's inverse formula), in meters."""
    a, f = 6_378_137.0, 1 / 298.257223563
    b = (1 - f) * a
    u1 = np.arctan((1 - f) * np.tan(np.radians(lat0)))
    u2 = np.arctan((1 - f) * np.tan(np.radians(lat)))
    big_l = np.radians(lon - lon0)
    lam = big_l.copy()
    sin_u1, cos_u1, sin_u2, cos_u2 = np.sin(u1), np.cos(u1), np.sin(u2), np.cos(u2)
    for _ in range(200):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.hypot(cos_u2 * sin_lam, cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam)
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = np.arctan2(sin_sigma, cos_sigma)
        with np.errstate(invalid="ignore", divide="ignore"):
            sin_alpha = np.where(sin_sigma == 0, 0.0, cos_u1 * cos_u2 * sin_lam / sin_sigma)
            cos2_alpha = 1 - sin_alpha**2
            cos_2sm = np.where(cos2_alpha == 0, 0.0, cos_sigma - 2 * sin_u1 * sin_u2 / cos2_alpha)
        c = f / 16 * cos2_alpha * (4 + f * (4 - 3 * cos2_alpha))
        lam_prev = lam
        lam = big_l + (1 - c) * f * sin_alpha * (
            sigma + c * sin_sigma * (cos_2sm + c * cos_sigma * (-1 + 2 * cos_2sm**2))
        )
        if np.nanmax(np.abs(lam - lam_prev)) < 1e-12:
            break
    u_sq = cos2_alpha * (a**2 - b**2) / b**2
    big_a = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    big_b = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    d_sigma = big_b * sin_sigma * (
        cos_2sm
        + big_b / 4 * (
            cos_sigma * (-1 + 2 * cos_2sm**2)
            - big_b / 6 * cos_2sm * (-3 + 4 * sin_sigma**2) * (-3 + 4 * cos_2sm**2)
        )
    )
    return b * big_a * (sigma - d_sigma)


def haversine_m(lon: np.ndarray, lat: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    """Great-circle distance on the mean-radius sphere, in meters."""
    p, p0 = np.radians(lat), math.radians(lat0)
    a = np.sin((p - p0) / 2) ** 2 + np.cos(p) * math.cos(p0) * np.sin(np.radians(lon - lon0) / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def geodesic_within(lon, lat, lon0: float, lat0: float, max_m: float) -> np.ndarray:
    """WGS84 distances, computed only where the sphere says they may be <= ``max_m``.

    The sphere and the ellipsoid differ by under 0.6 %, so rows beyond the
    margin are certainly farther; they get ``inf``.
    """
    d = np.full(lon.shape, np.inf)
    near = haversine_m(lon, lat, lon0, lat0) <= max_m * 1.01 + 1_000.0
    d[near] = geodesic_m(lon[near], lat[near], lon0, lat0)
    return d


def in_polygon(x: np.ndarray, y: np.ndarray, poly: list[tuple[float, float]]) -> np.ndarray:
    """Even-odd ray casting in lon/lat degrees."""
    inside = np.zeros(x.shape, dtype=bool)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        straddle = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (x < xint)
    return inside


def near_polygon_edge(x, y, poly, tol_deg: float) -> np.ndarray:
    near = np.zeros(x.shape, dtype=bool)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        t = np.clip(((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
        near |= np.hypot(x - (x1 + t * dx), y - (y1 + t * dy)) < tol_deg
    return near


def count_sessions(t_us: np.ndarray, gap_s: float) -> int:
    """Overpasses: a new one starts when the gap to the previous time exceeds ``gap_s``."""
    if t_us.size == 0:
        return 0
    t = np.sort(t_us)
    return int(1 + np.sum(np.diff(t) > gap_s * 1e6))
