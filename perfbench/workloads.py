"""The benchmark's operations, their seeded sequences, and their checks.

Every operation calls the engine only through its public functions, and every
expected answer comes from the numpy reference in :mod:`perfbench.gen`. A
``run_*`` function returns the operation's outputs (with the rows it moved);
the matching ``check_*`` function returns the check failures, empty when the
outputs are correct. Checks run outside the timed operation.

Rows within 1 m of a query's radius or edge are ambiguous: a check then accepts
any count between the sure rows and the sure plus ambiguous rows, so the
engine's geodesic and edge arithmetic is not second-guessed.
"""

from __future__ import annotations

import datetime
import math
import os
from dataclasses import dataclass

import numpy as np

from perfbench import gen

PART_SIZE = 10.0
QUERY_COLUMNS = ["lon", "lat", "time", "precip", "gpm_id"]
OVERPASS_GAP_S = 120.0  # add_overpass_id's default interval
EDGE_TOL_DEG = 1e-5  # ~1 m
HOUR_US = 3_600 * 1_000_000
QUERY_KINDS = ("query_point", "query_region", "query_polygon", "query_timeslice")
TASK_KINDS = ("task_timeseries", "task_swath", "task_cube")
# rows each operation returns (the cube's box snaps to whole degrees: about)
POINT_ROWS, REGION_ROWS, POLYGON_ROWS, TIMESLICE_ROWS = 400, 800, 800, 3000
TIMESERIES_ROWS, SWATH_ROWS, CUBE_ROWS = 300, 800, 1500


def to_datetime(us: int) -> datetime.datetime:
    """Naive UTC datetime (the engine's time arguments are naive UTC)."""
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(us))


def spark_schema():
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("time", TimestampType()),
            StructField("gpm_id", StringType()),
            StructField("gpm_cross_track_id", IntegerType()),
            StructField("precip", DoubleType()),
            StructField("quality", IntegerType()),
        ]
    )


def within(name: str, value: float, lo: float, hi: float) -> list[str]:
    return [] if lo <= value <= hi else [f"{name}: got {value}, expected [{lo}, {hi}]"]


def label_counts(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Rows per archive cell, as a (lat, lon) grid of the 10-degree partitioning."""
    counts = np.zeros((int(180 / PART_SIZE), int(360 / PART_SIZE)), dtype=np.int64)
    np.add.at(counts, (gen.bin_index(lat, -90, 90, PART_SIZE),
                       gen.bin_index(lon, -180, 180, PART_SIZE)), 1)
    return counts


def label_index(labels, vmin: float, size: float) -> np.ndarray:
    return np.round((np.asarray(labels, dtype=float) - vmin) / size - 0.5).astype(np.int64)


@dataclass
class Archive:
    """The staged bucket, the merged archive and the rows it should hold."""

    root: str
    granules: gen.Granules
    days: list[int]

    @property
    def staged(self) -> str:
        return os.path.join(self.root, "staged")

    @property
    def merged(self) -> str:
        return os.path.join(self.root, "archive")

    def rows(self) -> np.ndarray:
        return np.flatnonzero(np.isin(self.granules.day, self.days))


def leaf_stats(bucket: str) -> tuple[int, int, int]:
    """(leaf directories holding data, data files, data bytes) under a bucket."""
    leaves = files = size = 0
    for dirpath, _, names in os.walk(bucket):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            leaves += 1
            files += len(data)
            size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in data)
    return leaves, files, size


# --------------------------------------------------------------------------
# ingest: stage -> merge -> freshness read
# --------------------------------------------------------------------------


def ingest_cycle(spark, tracer, archive: Archive, days: list[int]):
    """Stage the days' granules, merge their window, read the window back."""
    from sat_bucket_spark import readers, routines
    from sat_bucket_spark.partitioning import LonLatPartitioning

    g = archive.granules
    paths = [p for d in days for p in g.paths_by_day[d]]
    failures = routines.write_granules_bucket(
        spark, paths, archive.staged, LonLatPartitioning(size=PART_SIZE),
        gen.read_granule, spark_schema(),
    )
    start = to_datetime(g.day_start_us[days[0]])
    end = to_datetime(g.day_start_us[days[-1]] + gen.DAY_US)
    routines.merge_granule_buckets(
        spark, archive.staged, archive.merged, temporal_partitioning="day",
        start_time=start, end_time=end, update=True,
    )
    df = readers.read(
        spark, archive.merged, start_time=start, end_time=end,
        columns=["lon_bin", "lat_bin", "time"],
    )
    pdf = tracer.action(df)
    archive.days = sorted(set(archive.days) | set(days))
    return {"days": days, "failures": failures, "pdf": pdf, "granules": len(paths),
            "rows": int(np.isin(g.day, days).sum()),
            "raw_bytes": sum(g.raw_bytes_by_day[d] for d in days)}


def check_ingest(g: gen.Granules, out: dict) -> list[str]:
    days, failures, pdf = out["days"], out["failures"], out["pdf"]
    problems = []
    planted = {p for d in days for p in g.corrupt_by_day[d]}
    failed = {path for path, _ in failures}
    if failed != planted:
        problems.append(f"granule failures {sorted(failed)} != planted {sorted(planted)}")
    rows = np.flatnonzero(np.isin(g.day, days))
    day_us = np.asarray(g.day_start_us)
    t_us = pdf["time"].to_numpy().astype("datetime64[us]").astype(np.int64)
    got_day = np.searchsorted(day_us, t_us, side="right") - 1
    for d in days:
        want_day = int(np.sum(g.day == d))
        problems += within(f"day {d} rows", int(np.sum(got_day == d)), want_day, want_day)
    # a row exactly on a cell edge may bin to either side
    want = label_counts(g.lon[rows], g.lat[rows])
    got = np.zeros_like(want)
    np.add.at(got, (label_index(pdf["lat_bin"], -90, PART_SIZE),
                    label_index(pdf["lon_bin"], -180, PART_SIZE)), 1)
    on_edge = (gen.near_cell_edge(g.lon[rows], -180, PART_SIZE)
               | gen.near_cell_edge(g.lat[rows], -90, PART_SIZE)).sum()
    if got.sum() != want.sum() or np.abs(got - want).sum() > 2 * on_edge:
        problems.append("per-label row counts differ from numpy binning")
    return problems


# --------------------------------------------------------------------------
# seeded query and task definitions
# --------------------------------------------------------------------------


def _anchors(rng, rows: np.ndarray) -> np.ndarray:
    """Footprints to centre queries on, anywhere in the archive, shuffled."""
    return rng.permutation(rows)


def _in_world(extent: list[float]) -> list[float]:
    """A [xmin, xmax, ymin, ymax] box clipped to valid lon/lat (extents do not wrap)."""
    x0, x1, y0, y1 = extent
    return [max(x0, -180.0), min(x1, 180.0), max(y0, -90.0), min(y1, 90.0)]


def _cut(scores: np.ndarray, k: int) -> float:
    """A threshold that keeps the ``k`` smallest scores, halfway to the next one."""
    s = np.sort(scores)
    k = min(k, s.size - 1)
    return float((s[k - 1] + s[k]) / 2.0)


def _point_radius(lon, lat, lon0: float, lat0: float, k: int) -> tuple[float, bool]:
    """A geodesic radius around (lon0, lat0) holding ``k`` rows, and whether it trips a defect.

    The known engine defect: ``read(point=, distance=)`` prunes partitions
    with ``extent_around_point``'s extent, which is spherical (narrower than
    the WGS84 circle by up to ~0.6 %, more at high latitude) and clamped at
    the antimeridian instead of wrapping, so rows inside the radius in a cell
    beyond that extent are dropped. Callers skip such anchors and count them;
    the count is on the run's diagnostics line and drops to 0 once the
    extent is fixed.
    """
    kth = np.sort(gen.haversine_m(lon, lat, lon0, lat0))[min(k, lon.size - 1)]
    radius = _cut(gen.geodesic_within(lon, lat, lon0, lat0, kth), k)
    inside = gen.geodesic_within(lon, lat, lon0, lat0, radius) <= radius
    half_y = math.degrees(radius / gen.EARTH_RADIUS_M)
    half_x = half_y / max(math.cos(math.radians(lat0)), 1e-9)
    bx = gen.bin_index(np.array([lon0 - half_x, lon0 + half_x]), -180, 180, PART_SIZE)
    by = gen.bin_index(np.array([lat0 - half_y, lat0 + half_y]), -90, 90, PART_SIZE)
    cx = gen.bin_index(lon[inside], -180, 180, PART_SIZE)
    cy = gen.bin_index(lat[inside], -90, 90, PART_SIZE)
    covered = (cx >= bx[0]) & (cx <= bx[1]) & (cy >= by[0]) & (cy <= by[1])
    return radius, not covered.all()


def _star_scale(dx: np.ndarray, dy: np.ndarray, poly: list[tuple[float, float]]) -> np.ndarray:
    """Per point, the smallest scale of a star-shaped polygon (around 0) that holds it."""
    vx, vy = np.array(poly).T
    ang = np.arctan2(vy, vx) % (2 * np.pi)
    theta = np.arctan2(dy, dx) % (2 * np.pi)
    i = (np.searchsorted(ang, theta) - 1) % len(poly)  # edge (i, i+1) spans theta
    ax, ay, bx, by = vx[i], vy[i], vx[(i + 1) % len(poly)], vy[(i + 1) % len(poly)]
    ex, ey = bx - ax, by - ay
    ux, uy = np.cos(theta), np.sin(theta)
    rho = (ax * ey - ay * ex) / (ux * ey - uy * ex)  # ray-edge distance along theta
    return np.hypot(dx, dy) / rho


def make_queries(seed: int, g: gen.Granules, rows: np.ndarray,
                 per_kind: int) -> tuple[list[dict], int]:
    """Queries around seeded footprints, each sized to return a fixed number of rows.

    Returns the kind-major query list and the number of point anchors skipped
    for the known point-pruning defect (see :func:`_point_radius`).
    """
    rng = np.random.default_rng([seed, 1])
    out, skipped = [], 0
    lon, lat, t = g.lon[rows], g.lat[rows], g.t_us[rows]
    for kind in QUERY_KINDS:
        made = 0
        for j in _anchors(rng, rows):
            if made == per_kind:
                break
            lon0, lat0, t0 = float(g.lon[j]), float(g.lat[j]), int(g.t_us[j])
            q = {"kind": kind}
            if kind == "query_point":
                radius, defect = _point_radius(lon, lat, lon0, lat0, POINT_ROWS)
                if defect:
                    skipped += 1
                    continue
                q.update(point=(lon0, lat0), distance=radius)
            elif kind == "query_region":
                q["window"] = (t0 - 3 * HOUR_US, t0 + 3 * HOUR_US)
                aspect = rng.uniform(0.7, 1.4)
                score = np.maximum(np.abs(lon - lon0) / aspect, np.abs(lat - lat0))
                score[(t < q["window"][0]) | (t >= q["window"][1])] = np.inf
                h = min(_cut(score, REGION_ROWS), 20.0)
                q["extent"] = _in_world([lon0 - aspect * h, lon0 + aspect * h, lat0 - h, lat0 + h])
            elif kind == "query_polygon":
                # jittered around 6 even directions: every gap is under pi, so the
                # hexagon is star-shaped around the anchor
                angles = (np.arange(6) + rng.uniform(0.15, 0.85, 6)) * (np.pi / 3)
                unit = [(r * np.cos(a), r * np.sin(a))
                        for a, r in zip(angles, rng.uniform(0.5, 1.0, 6))]
                scale = min(_cut(_star_scale(lon - lon0, lat - lat0, unit), POLYGON_ROWS), 25.0)
                q["polygon"] = [(min(max(lon0 + scale * x, -180.0), 180.0),
                                 min(max(lat0 + scale * y, -90.0), 90.0)) for x, y in unit]
            else:
                start = t0 - 600 * 10**6
                after = np.sort(t[t >= start])
                q["window"] = (start, int(after[min(TIMESLICE_ROWS, after.size - 1)]))
            out.append(q)
            made += 1
    return out, skipped


def make_tasks(seed: int, g: gen.Granules, rows: np.ndarray,
               per_kind: int) -> tuple[list[dict], int]:
    """Analysis tasks around seeded footprints, sized and returned like :func:`make_queries`."""
    rng = np.random.default_rng([seed, 2])
    out, skipped = [], 0
    lon, lat, t = g.lon[rows], g.lat[rows], g.t_us[rows]
    for kind in TASK_KINDS:
        made = 0
        for j in _anchors(rng, rows):
            if made == per_kind:
                break
            lon0, lat0, t0 = float(g.lon[j]), float(g.lat[j]), int(g.t_us[j])
            task = {"kind": kind}
            if kind == "task_timeseries":
                radius, defect = _point_radius(lon, lat, lon0, lat0, TIMESERIES_ROWS)
                if defect:
                    skipped += 1
                    continue
                task.update(point=(lon0, lat0), distance=radius)
            elif kind == "task_swath":
                task["window"] = (t0 - HOUR_US, t0 + HOUR_US)
                score = np.maximum(np.abs(lon - lon0), np.abs(lat - lat0))
                score[(t < task["window"][0]) | (t >= task["window"][1])] = np.inf
                h = min(_cut(score, SWATH_ROWS), 20.0)
                task["extent"] = _in_world([lon0 - h, lon0 + h, lat0 - h, lat0 + h])
            else:
                # integer-aligned box (a whole 1-degree grid), its half-widths
                # (3 to 15 degrees each) picked to hold the nearest to CUBE_ROWS rows
                x0, y0 = float(np.floor(lon0)), float(np.floor(lat0))
                hist = np.zeros((17, 17), dtype=np.int64)
                np.add.at(hist, (np.minimum(np.ceil(np.abs(lat - y0)), 16).astype(np.int64),
                                 np.minimum(np.ceil(np.abs(lon - x0)), 16).astype(np.int64)), 1)
                held = hist.cumsum(0).cumsum(1)[3:16, 3:16]  # [hy - 3, hx - 3]
                hy, hx = np.unravel_index(np.argmin(np.abs(held - CUBE_ROWS)), held.shape)
                hx, hy = float(hx + 3), float(hy + 3)
                task["extent"] = _in_world([x0 - hx, x0 + hx, y0 - hy, y0 + hy])
            out.append(task)
            made += 1
    return out, skipped


def rounds(seed: int, n_kinds: int, per_kind: int):
    """Rounds of one operation per kind, in seeded order.

    Yields lists of indices into a kind-major definition list (kind ``k``'s
    ``j``-th definition is at ``k * per_kind + j``). Each kind cycles through
    a seeded permutation of its definitions, so every ``per_kind`` rounds
    repeat the same operations: the workload reuses its queries.
    """
    rng = np.random.default_rng([seed, 3])
    perms = [rng.permutation(per_kind) for _ in range(n_kinds)]
    r = 0
    while True:
        yield [int(k * per_kind + perms[k][r % per_kind]) for k in rng.permutation(n_kinds)]
        r += 1


# --------------------------------------------------------------------------
# numpy answers
# --------------------------------------------------------------------------


def _spatial_match(g: gen.Granules, rows: np.ndarray, spec: dict):
    """(sure, ambiguous) boolean masks over ``rows`` for a spatial/time filter."""
    lon, lat, t = g.lon[rows], g.lat[rows], g.t_us[rows]
    sure = np.ones(rows.size, dtype=bool)
    amb = np.zeros(rows.size, dtype=bool)
    if "window" in spec:
        sure &= (t >= spec["window"][0]) & (t < spec["window"][1])
    if "point" in spec:
        d = gen.geodesic_within(lon, lat, *spec["point"], spec["distance"] + 1.0)
        amb = sure & (np.abs(d - spec["distance"]) < 1.0)
        sure &= d <= spec["distance"]
    elif "polygon" in spec:
        poly = spec["polygon"]
        amb = sure & gen.near_polygon_edge(lon, lat, poly, EDGE_TOL_DEG)
        sure &= gen.in_polygon(lon, lat, poly)
    elif "extent" in spec:
        x0, x1, y0, y1 = spec["extent"]
        inside = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        to_edge = np.where(
            inside,
            np.minimum.reduce([lon - x0, x1 - lon, lat - y0, y1 - lat]),
            np.hypot(np.maximum.reduce([x0 - lon, lon - x1, np.zeros_like(lon)]),
                     np.maximum.reduce([y0 - lat, lat - y1, np.zeros_like(lat)])),
        )
        amb = sure & (to_edge < EDGE_TOL_DEG)
        sure &= inside
    return sure & ~amb, amb


def query_expectation(g: gen.Granules, rows: np.ndarray, q: dict) -> tuple[int, int]:
    sure, amb = _spatial_match(g, rows, q)
    return int(sure.sum()), int(sure.sum() + amb.sum())


def task_expectation(g: gen.Granules, rows: np.ndarray, task: dict) -> dict:
    sure, amb = _spatial_match(g, rows, task)
    lo_rows, hi_rows = rows[sure], rows[sure | amb]
    kind = task["kind"]
    if kind == "task_timeseries":
        a = gen.count_sessions(g.t_us[lo_rows], OVERPASS_GAP_S)
        b = gen.count_sessions(g.t_us[hi_rows], OVERPASS_GAP_S)
        return {"rows": (lo_rows.size, hi_rows.size), "overpasses": (min(a, b), max(a, b))}
    if kind == "task_swath":
        def shape(r):
            if r.size == 0:
                return (0, 0)
            n_x = 0
            for gid in np.unique(g.granule[r]):
                along = g.along[r][g.granule[r] == gid]
                n_x += int(along.max() - along.min() + 1)
            return (int(g.cross[r].max() - g.cross[r].min() + 1), n_x)

        s_lo, s_hi = shape(lo_rows), shape(hi_rows)
        return {"rows": (lo_rows.size, hi_rows.size),
                "shape": tuple(zip(s_lo, s_hi))}
    # task_cube: hourly IDW on a 1-degree grid (3x3 neighbourhood) + 10-degree label counts
    x0, x1, y0, y1 = task["extent"]
    r = hi_rows
    nx, ny = int(round(x1 - x0)), int(round(y1 - y0))
    xi = gen.bin_index(g.lon[r], x0, x1, 1.0)
    yi = gen.bin_index(g.lat[r], y0, y1, 1.0)
    hour = g.t_us[r] // HOUR_US
    hours, h_idx = np.unique(hour, return_inverse=True)
    hist = np.zeros((hours.size, ny + 2, nx + 2), dtype=np.int64)
    np.add.at(hist, (h_idx, yi + 1, xi + 1), 1)
    box = sum(hist[:, 1 + dy:1 + dy + ny, 1 + dx:1 + dx + nx]
              for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    near = (gen.near_cell_edge(g.lon[r], x0, 1.0) | gen.near_cell_edge(g.lat[r], y0, 1.0)).sum()
    on_edge = (gen.near_cell_edge(g.lon[r], -180, PART_SIZE)
               | gen.near_cell_edge(g.lat[r], -90, PART_SIZE)).sum()
    slack = 9 * int(near) + (hi_rows.size - lo_rows.size) * 9
    return {"rows": (lo_rows.size, hi_rows.size),
            "cells": (int((box > 0).sum()) - slack, int((box > 0).sum()) + slack),
            "n_obs": (int(box.sum()) - slack, int(box.sum()) + slack),
            "labels": label_counts(g.lon[r], g.lat[r]),
            "label_slack": hi_rows.size - lo_rows.size + 2 * int(on_edge)}


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------


def run_query(spark, tracer, archive: Archive, q: dict):
    from sat_bucket_spark import readers

    kw = {"columns": QUERY_COLUMNS}
    if "point" in q:
        kw.update(point=q["point"], distance=q["distance"])
    if "extent" in q:
        kw["extent"] = q["extent"]
    if "polygon" in q:
        kw["polygon"] = q["polygon"]
    if "window" in q:
        kw.update(start_time=to_datetime(q["window"][0]), end_time=to_datetime(q["window"][1]))
    pdf = tracer.action(readers.read(spark, archive.merged, **kw))
    return {"rows": len(pdf)}


def check_query(q: dict, out: dict, expect: tuple[int, int]) -> list[str]:
    return within(f"{q['kind']} rows", out["rows"], *expect)


def run_task(spark, tracer, archive: Archive, task: dict):
    from pyspark.sql import functions as F

    from sat_bucket_spark import analysis, gridding, readers
    from sat_bucket_spark.partitioning import LonLatPartitioning

    kind = task["kind"]
    if kind == "task_timeseries":
        df = readers.read(spark, archive.merged, point=task["point"], distance=task["distance"],
                          columns=["time", "precip"])
        per_pass = analysis.add_overpass_id(df).groupBy("overpass_id").agg(
            F.count(F.lit(1)).alias("n"), F.avg("precip").alias("precip"),
            F.min("time").alias("start"))
        pdf = tracer.action(per_pass)
        return {"rows": int(pdf["n"].sum()), "overpasses": len(pdf)}
    if kind == "task_swath":
        lo, hi = task["window"]
        df = readers.read(spark, archive.merged, extent=task["extent"],
                          start_time=to_datetime(lo), end_time=to_datetime(hi))
        arrays, _, _ = analysis.overpass_to_grid(df, ["precip"])
        grid = arrays["precip"]
        return {"rows": int(np.isfinite(grid).sum()), "shape": grid.shape}
    df = readers.read(spark, archive.merged, extent=task["extent"],
                      columns=["lon", "lat", "time", "precip", "lon_bin", "lat_bin"])
    grid = LonLatPartitioning(size=1.0, extent=task["extent"])
    cube = gridding.idw_to_grid(df, grid, value_col="precip", time_col="time", time_bucket="hour")
    cells = tracer.action(cube)
    per_label = df.groupBy("lon_bin", "lat_bin").agg(F.count(F.lit(1)).alias("n"))
    dense = gridding.to_grid_arrays(per_label, LonLatPartitioning(size=PART_SIZE))["n"]
    counts = np.nan_to_num(dense).astype(np.int64)
    return {"rows": int(counts.sum()), "cells": len(cells), "n_obs": int(cells["n_obs"].sum()),
            "labels": counts}


def check_task(task: dict, out: dict, expect: dict) -> list[str]:
    kind = task["kind"]
    problems = within(f"{kind} rows", out["rows"], *expect["rows"])
    if kind == "task_timeseries":
        problems += within("overpasses", out["overpasses"], *expect["overpasses"])
    elif kind == "task_swath":
        for axis, size, (lo, hi) in zip(("cross", "along"), out["shape"], expect["shape"]):
            problems += within(f"swath {axis} size", size, lo, hi)
    else:
        problems += within("cube cells", out["cells"], *expect["cells"])
        problems += within("cube n_obs", out["n_obs"], *expect["n_obs"])
        if np.abs(out["labels"] - expect["labels"]).sum() > expect["label_slack"]:
            problems.append("per-label counts differ from numpy histogram")
    return problems
