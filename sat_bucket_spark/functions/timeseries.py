"""Time regularization and gap interpolation.

Re-expresses reference satbucket/utils/time.py:
- ``regularize_timesteps`` (:279-332): reindex a time series onto a regular
  grid -> here ``sequence()``-generated grid + left join (dense axes pattern);
- NaT/linear gap interpolation (:132-201, limit/limit_area): here window-based
  linear interpolation between the last/first non-null neighbors — one pass,
  two windows, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sat_bucket_spark.functions.temporal import epoch_seconds
from sat_bucket_spark.plan_stats import warn_if_unpartitioned_window

__all__ = ["add_rolling_features", "interpolate_linear", "regularize_timesteps"]


def add_rolling_features(
    df: DataFrame,
    time: str = "time",
    value: str = "value",
    window_seconds: float = 3600.0,
    partition_by: list[str] | None = None,
    prefix: str = "roll_",
) -> DataFrame:
    """Trailing event-time rolling features per row: count / sum / mean / min /
    max of ``value`` over ``[t - window_seconds, t]``.

    The classic feature-engineering primitive for event streams (per-user
    activity rates, rolling spend, burst detection). Implemented as ONE
    ``rangeBetween`` window over the epoch-seconds ordering — a single
    shuffle on ``partition_by``, no self-join, no UDF; with keys the windows
    parallelize per key (the keyless form is a global single-reducer window,
    same caveat as global sessionization).

    The sum accumulates in DECIMAL(28,6), not double, so the result is exact
    and independent of accumulation order — both for determinism across
    engines (the DuckDB oracle replays it) and across Spark retries.
    """
    keys = list(partition_by) if partition_by else []
    warn_if_unpartitioned_window(df, "add_rolling_features", keys)
    # Long epoch-µs ordering: rangeBetween takes integer bounds, and µs
    # resolution reproduces timestamp-INTERVAL frame membership exactly.
    t = F.unix_micros(F.col(time).cast("timestamp"))
    w_base = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w = w_base.orderBy(t).rangeBetween(-int(window_seconds * 1_000_000), 0)
    dec = F.col(value).cast("decimal(28,6)")
    out = (
        df.withColumn(f"{prefix}count", F.count(F.lit(1)).over(w))
        .withColumn(f"{prefix}sum", F.sum(dec).over(w))
        .withColumn(f"{prefix}min", F.min(F.col(value)).over(w))
        .withColumn(f"{prefix}max", F.max(F.col(value)).over(w))
    )
    return out.withColumn(
        f"{prefix}mean",
        F.round(
            F.col(f"{prefix}sum").cast("double") / F.col(f"{prefix}count"), 6
        ),
    )


def regularize_timesteps(
    df: DataFrame,
    time: str = "time",
    freq_seconds: int = 60,
    partition_by: list[str] | None = None,
    agg_exprs: dict[str, Column] | None = None,
) -> DataFrame:
    """Aggregate onto a regular time grid; empty steps appear as null rows.

    The grid spans [min, max] of the observed (bucketed) times per partition
    and is generated executor-side with ``sequence`` — no driver round-trip.
    ``agg_exprs`` maps output column -> aggregate expression (default: count).

    Reference: utils/time.py:279-332 (pandas reindex on date_range).

    Scale note: keyless use produces ONE series whose grid generation and
    left join are bounded by the observed time span, but the downstream
    consumer (typically :func:`interpolate_linear`) sorts it in one task —
    the guard below flags large keyless inputs at plan time.
    """
    keys = list(partition_by) if partition_by else []
    warn_if_unpartitioned_window(df, "regularize_timesteps", keys)
    step = F.floor(epoch_seconds(df, time) / freq_seconds).cast("long")
    bucketed = df.withColumn("__step", step)
    aggs = agg_exprs or {"n": F.count(F.lit(1))}
    agg_df = bucketed.groupBy(*keys, "__step").agg(
        *[e.alias(name) for name, e in aggs.items()]
    )
    span = bucketed.groupBy(*keys).agg(
        F.min("__step").alias("__lo"), F.max("__step").alias("__hi")
    )
    grid = span.select(
        *keys, F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__step")
    )
    out = grid.join(agg_df, [*keys, "__step"], "left")
    return out.withColumn(
        time, F.timestamp_seconds(F.col("__step") * freq_seconds)
    ).drop("__step")


def interpolate_linear(
    df: DataFrame,
    time: str = "time",
    value: str = "value",
    partition_by: list[str] | None = None,
    out: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Linearly interpolate null values between non-null neighbors.

    Window formulation: the last non-null (value, time) before the row and the
    first non-null after it bound the gap; interior nulls get the linear blend.
    Edge nulls (no neighbor on one side) stay null — matching the reference's
    ``limit_area='inside'`` default (utils/time.py:132-201). ``limit`` caps the
    gap length (in rows) that gets filled.

    Scale note: with no ``partition_by`` all three windows are global —
    designed for bounded post-aggregation series (a regularized sensor
    channel, a per-orbit profile), not raw tables; the guard flags
    Catalyst-estimated inputs past the single-reducer bound at plan time.
    """
    keys = list(partition_by) if partition_by else []
    warn_if_unpartitioned_window(df, "interpolate_linear", keys)
    out = out or value
    fwd = (
        Window.partitionBy(*keys).orderBy(time).rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy(*keys).orderBy(time).rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value).cast("double")
    t = epoch_seconds(df, time)
    t_obs = F.when(v.isNotNull(), t)
    rn = F.row_number().over(Window.partitionBy(*keys).orderBy(time))
    rn_obs = F.when(v.isNotNull(), rn)

    df2 = (
        df.withColumn("__rn", rn)
        .withColumn("__pv", F.last(v, ignorenulls=True).over(fwd))
        .withColumn("__pt", F.last(t_obs, ignorenulls=True).over(fwd))
        .withColumn("__prn", F.last(rn_obs, ignorenulls=True).over(fwd))
        .withColumn("__nv", F.first(v, ignorenulls=True).over(bwd))
        .withColumn("__nt", F.first(t_obs, ignorenulls=True).over(bwd))
        .withColumn("__nrn", F.first(rn_obs, ignorenulls=True).over(bwd))
    )
    frac = (t - F.col("__pt")) / (F.col("__nt") - F.col("__pt"))
    interp = F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac
    can_fill = (
        v.isNull()
        & F.col("__pv").isNotNull()
        & F.col("__nv").isNotNull()
        & (F.col("__nt") > F.col("__pt"))
    )
    if limit is not None:
        gap_len = F.col("__nrn") - F.col("__prn") - 1
        can_fill = can_fill & (gap_len <= F.lit(int(limit)))
    filled = F.when(v.isNotNull(), v).when(can_fill, interp)
    return df2.withColumn(out, filled).drop(
        "__rn", "__pv", "__pt", "__prn", "__nv", "__nt", "__nrn"
    )
