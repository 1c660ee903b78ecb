"""Overpass sessionization and swath re-indexing.

Re-expresses reference satbucket/analysis.py with Spark window functions:

- gap-based sessionization (reference: add_overpass_id analysis.py:258-280,
  get_list_overpass_time :41-94) becomes the classic ``lag`` -> gap flag ->
  running-``sum`` pattern — one shuffle, no driver loop;
- per-session counts (count_overpass_occurence :283-288) become a windowed
  count (no self-join);
- per-granule contiguous re-indexing (get_swath_indices :141-174) becomes a
  tiny per-granule aggregate + running offset joined back (broadcast).

Scale note: a session window with no partition key orders globally (single
reducer). That matches the reference's semantics (it sessionizes a regional
query result, which is small); for planet-scale sessionization pass
``partition_by`` (e.g. per satellite / per region) so Spark parallelizes.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sat_bucket_spark.functions.temporal import epoch_seconds
from sat_bucket_spark.plan_stats import estimated_size_bytes, warn_if_unpartitioned_window

__all__ = [
    "add_overpass_id",
    "add_overpass_id_scalable",
    "add_overpass_count",
    "get_list_overpass_time",
    "add_swath_indices",
    "overpass_to_grid",
    "split_by_overpass",
]

_DEFAULT_ID_INTERVAL = datetime.timedelta(minutes=2)
_DEFAULT_PERIOD_INTERVAL = datetime.timedelta(minutes=60)


def _interval_seconds(interval) -> float:
    if interval is None:
        return _DEFAULT_ID_INTERVAL.total_seconds()
    if isinstance(interval, datetime.timedelta):
        return interval.total_seconds()
    return float(interval)


# Above this Catalyst-estimated input size, an un-partitioned sessionization
# routes to the chunked scalable variant instead of a single-reducer window.
# Shared with the warn-only guard in plan_stats (same bound, same estimator).
_GLOBAL_SESSION_MAX_BYTES = 256 * 1024 * 1024

# add_swath_indices' offset window runs over ONE row per granule, so its
# guard keys off the raw input with a proportionally larger bound: ~1 TiB
# of raw swath data (≈10^5-10^6 granules) is where the spans sort stops
# being trivially single-task.
_SWATH_RAW_INPUT_MAX_BYTES = 1 << 40


def add_overpass_id(
    df: DataFrame,
    interval=None,
    time: str = "time",
    partition_by: list[str] | None = None,
    id_column: str = "overpass_id",
    strategy: str = "auto",
) -> DataFrame:
    """Assign a 0-based session id; a new session starts when the time gap
    from the previous row exceeds ``interval`` (default 2 minutes).

    Reference: analysis.py:258-280 (``dt <= interval`` keeps the session, so
    the boundary gap exactly equal to the interval does NOT split).

    ``strategy``: "global" forces the single-window formulation (one reducer
    when ``partition_by`` is empty — the reference's semantics, fine for the
    regional query results it was built for); "scalable" forces the chunked
    two-phase variant (:func:`add_overpass_id_scalable`, identical output);
    "auto" (default) picks "scalable" for un-partitioned inputs whose
    Catalyst-estimated size exceeds ~256 MB — a driver-side plan statistic,
    no job — so the reference API stays safe when pointed at a 100 TB table.
    """
    if strategy not in ("auto", "global", "scalable"):
        raise ValueError(f"invalid strategy {strategy!r}")
    if strategy == "scalable":
        return add_overpass_id_scalable(
            df, interval=interval, time=time, partition_by=partition_by, id_column=id_column
        )
    if strategy == "auto" and not partition_by:
        est = estimated_size_bytes(df)
        if est is not None and est > _GLOBAL_SESSION_MAX_BYTES:
            return add_overpass_id_scalable(
                df, interval=interval, time=time, partition_by=partition_by, id_column=id_column
            )
    if strategy == "global":
        # the caller forced the single-window formulation; still make the
        # cliff visible when the input is past the single-reducer bound
        warn_if_unpartitioned_window(
            df,
            "add_overpass_id(strategy='global')",
            partition_by,
            detail="or use strategy='scalable' (identical output)",
        )
    gap = _interval_seconds(interval)
    keys = list(partition_by) if partition_by else []
    w = Window.partitionBy(*keys).orderBy(time) if keys else Window.orderBy(time)
    t = epoch_seconds(df, time)
    prev = F.lag(t).over(w)
    new_session = F.when(
        prev.isNull() | (t - prev <= F.lit(gap)),
        F.lit(0),
    ).otherwise(F.lit(1))
    run = Window.partitionBy(*keys).orderBy(time) if keys else Window.orderBy(time)
    session = F.sum(new_session).over(run.rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(id_column, session.cast("long"))


def add_overpass_id_scalable(
    df: DataFrame,
    interval=None,
    time: str = "time",
    partition_by: list[str] | None = None,
    id_column: str = "overpass_id",
    chunk_seconds: int = 86_400,
) -> DataFrame:
    """Distributed gap sessionization — no global-order window.

    :func:`add_overpass_id` with no ``partition_by`` sorts everything in ONE
    reducer; fine for regional query results (the reference's use case), fatal
    at 100 TB. This variant:

    1. buckets rows into coarse time chunks (``chunk_seconds``);
    2. sessionizes *within* each (keys, chunk) via an ordinary window —
       parallel across chunks;
    3. collects one tiny row per chunk (first/last timestep, session count)
       to the driver, stitches chunk-boundary sessions there (a session
       continues across a boundary when the gap <= interval), and
       broadcast-joins the resulting per-chunk offset + merge decision back.

    Same output as the global version (pinned by tests over random inputs).
    The driver-side state is O(#chunks), not O(#rows).
    """
    gap = _interval_seconds(interval)
    keys = list(partition_by) if partition_by else []
    t = epoch_seconds(df, time)
    chunk = F.floor(t / F.lit(float(chunk_seconds))).cast("long")
    df2 = df.withColumn("__chunk", chunk)

    w = Window.partitionBy(*keys, "__chunk").orderBy(time)
    prev = F.lag(t).over(w)
    new_session = F.when(
        prev.isNull() | (t - prev <= F.lit(gap)),
        F.lit(0),
    ).otherwise(F.lit(1))
    local = F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0))
    df2 = df2.withColumn("__local", local.cast("long"))

    # one row per (keys, chunk): tiny
    stats = (
        df2.groupBy(*keys, "__chunk")
        .agg(
            F.min(t).alias("__first"),
            F.max(t).alias("__last"),
            F.max("__local").alias("__n_sessions"),
        )
        .collect()
    )
    # stitch on the driver: per key group, walk chunks in order
    from collections import defaultdict

    by_key = defaultdict(list)
    for r in stats:
        k = tuple(r[c] for c in keys)
        by_key[k].append(r)
    offsets: dict[tuple, tuple[int, int]] = {}  # (keys..., chunk) -> (offset, merged_with_prev)
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["__chunk"])
        offset = 0
        prev_last = None
        for r in rows:
            # A session continues across chunk boundaries (even over empty
            # chunks) when the time gap between the last timestep of the
            # previous non-empty chunk and this chunk's first is <= interval.
            merged = int(prev_last is not None and (r["__first"] - prev_last) <= gap)
            offsets[(*k, r["__chunk"])] = (offset, merged)
            # next chunk's offset: sessions so far; if this chunk's first
            # session merged into the previous, it doesn't open a new one
            offset += int(r["__n_sessions"]) + 1 - merged
            prev_last = r["__last"]

    spark = df.sparkSession
    offset_rows = [(*k_chunk, off, merged) for k_chunk, (off, merged) in offsets.items()]
    if not offset_rows:  # empty input: schema-preserving empty result
        return df.withColumn(id_column, F.lit(None).cast("long"))
    offset_df = spark.createDataFrame(
        offset_rows, [*keys, "__chunk", "__offset", "__merged"]
    )
    out = df2.join(F.broadcast(offset_df), [*keys, "__chunk"])
    # local id 0 in a merged chunk belongs to the previous chunk's last session
    session = (F.col("__local") + F.col("__offset") - F.col("__merged")).cast("long")
    return out.withColumn(id_column, session).drop(
        "__chunk", "__local", "__offset", "__merged"
    )


def add_overpass_count(
    df: DataFrame,
    interval=None,
    time: str = "time",
    partition_by: list[str] | None = None,
    id_column: str = "overpass_id",
    count_column: str = "count_overpass_occurence",
) -> DataFrame:
    """Per-session row count joined back to every row.

    Reference: analysis.py:283-288 (groupby count + join) — here a windowed
    count over the session id, avoiding the self-join shuffle entirely.
    """
    df = add_overpass_id(
        df, interval=interval, time=time, partition_by=partition_by, id_column=id_column
    )
    keys = (list(partition_by) if partition_by else []) + [id_column]
    w = Window.partitionBy(*keys)
    return df.withColumn(count_column, F.count(F.lit(1)).over(w))


def get_list_overpass_time(df: DataFrame, time: str = "time", interval=None):
    """List of (start_time, end_time) per overpass over distinct timesteps.

    Reference: analysis.py:41-94 (default interval 60 min; raises on empty).
    Computed distributed (distinct -> sessionize -> min/max per session) and
    collected — overpass lists are small by construction.
    """
    gap = interval if interval is not None else _DEFAULT_PERIOD_INTERVAL
    times = df.select(time).where(F.col(time).isNotNull()).distinct()
    sessions = add_overpass_id(times, interval=gap, time=time, id_column="__session")
    agg = (
        sessions.groupBy("__session")
        .agg(F.min(time).alias("start_time"), F.max(time).alias("end_time"))
        .orderBy("__session")
        .collect()
    )
    if not agg:
        raise ValueError("No timesteps available.")
    return [(row["start_time"], row["end_time"]) for row in agg]


def split_by_overpass(
    df: DataFrame, time: str = "time", interval=None, max_overpass: int | None = None
) -> list[DataFrame]:
    """One DataFrame per overpass, capped at ``max_overpass``.

    Reference: analysis.py:97-110. Closed time bounds per period. Prefer
    :func:`add_overpass_id` + grouped processing at scale; this exists for API
    parity.
    """
    periods = get_list_overpass_time(df, time=time, interval=interval)
    if max_overpass is not None:
        periods = periods[: min(len(periods), max_overpass)]
    return [
        df.where((F.col(time) >= F.lit(start)) & (F.col(time) <= F.lit(end)))
        for start, end in periods
    ]


def overpass_to_grid(
    df: DataFrame,
    variables: list[str],
    x_index: str = "gpm_id",
    y_index: str = "gpm_cross_track_id",
):
    """Reshape one overpass into dense 2-D (cross_track, along_track) arrays.

    Reference: ``overpass_to_dataset`` (analysis.py:185-255): swath indices ->
    duplicate (x, y) drop with warning (analysis.py:203-210) -> dense pivot
    with NaN holes. Spark computes the indices; the pivot is a driver-side
    reshape of one overpass (small by construction). Returns
    ``{var: 2-D ndarray}`` plus the index axes; xarray wrapping is left to the
    caller (xarray is optional here).
    """
    import warnings

    import numpy as np

    indexed = add_swath_indices(df, x_index=x_index, y_index=y_index)
    pdf = indexed.select("x_index", "y_index", *variables).toPandas()
    n_dup = pdf.duplicated(["x_index", "y_index"]).sum()
    if n_dup:
        warnings.warn(
            f"dropping {n_dup} duplicated (x_index, y_index) footprints",
            UserWarning,
            stacklevel=2,
        )
        pdf = pdf.drop_duplicates(["x_index", "y_index"], keep="first")
    n_x = int(pdf["x_index"].max()) + 1
    n_y = int(pdf["y_index"].max()) + 1
    out = {}
    for var in variables:
        arr = np.full((n_y, n_x), np.nan)
        arr[pdf["y_index"].to_numpy(), pdf["x_index"].to_numpy()] = pdf[var].to_numpy()
        out[var] = arr
    return out, np.arange(n_x), np.arange(n_y)


def add_swath_indices(
    df: DataFrame,
    x_index: str = "gpm_id",
    y_index: str = "gpm_cross_track_id",
    out_x: str = "x_index",
    out_y: str = "y_index",
) -> DataFrame:
    """Contiguous swath (x, y) indices across granules.

    Reference: analysis.py:141-174 — ``gpm_id`` is ``"{granule_id}-{along_track_id}"``
    (fake_datasets.py:90, split on "-" analysis.py:138); each granule's
    along-track block is renumbered to start at a running offset so granules
    concatenate contiguously. Implemented as: ONE per-granule aggregate (tiny;
    also carries the global y-min, so plan construction launches no job and a
    single scan feeds everything) -> running offset window -> broadcast join
    back. The offset window is unpartitioned by necessity (a running sum over
    granule order) but runs over the spans table — ONE row per granule, so
    it is bounded by granule count, not row count. Catalyst can't estimate
    post-aggregation sizes, so the guard keys off the RAW input with a
    proportionally larger bound (granules ≈ input files; a petabyte-scale
    input implies a spans table past comfortable single-task sorting).
    """
    warn_if_unpartitioned_window(
        df,
        "add_swath_indices",
        None,
        max_bytes=_SWATH_RAW_INPUT_MAX_BYTES,
        detail="the running-offset window sorts one row per granule in a "
        "single task; beyond ~10^7 granules split by orbit/day first",
    )
    parts = F.split(F.col(x_index), "-")
    df2 = df.withColumn("__granule", parts.getItem(0).cast("long")).withColumn(
        "__along", parts.getItem(1).cast("long")
    )
    spans = (
        df2.groupBy("__granule")
        .agg(
            F.min("__along").alias("__min_track"),
            F.max("__along").alias("__max_track"),
            F.min(F.col(y_index)).alias("__granule_y_min"),
        )
        .withColumn("__n_tracks", F.col("__max_track") - F.col("__min_track") + F.lit(1))
    )
    w = Window.orderBy("__granule").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    spans = spans.withColumn(
        "__offset", F.coalesce(F.sum("__n_tracks").over(w), F.lit(0))
    ).withColumn("__y_min", F.min("__granule_y_min").over(w_all))
    joined = df2.join(
        F.broadcast(spans.select("__granule", "__min_track", "__offset", "__y_min")),
        "__granule",
    )
    out = joined.withColumn(
        out_x, F.col("__along") - F.col("__min_track") + F.col("__offset")
    ).withColumn(out_y, F.col(y_index) - F.col("__y_min"))
    return out.drop("__granule", "__along", "__min_track", "__offset", "__y_min")
