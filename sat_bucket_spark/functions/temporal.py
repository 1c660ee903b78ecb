"""Temporal partitioning: time-prefix labels and period boundaries.

Reference: satbucket/routines.py:372-504. The reference encodes the temporal
partition in merged *filenames* (``2021_0.parquet``); Spark cannot control
output basenames, so the prefix becomes a first-class partition column
``time_part`` (SURVEY.md §4 "file pruning by time") — temporal partition
pruning then comes for free from Catalyst.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from sat_bucket_spark.checks import check_temporal_partitioning

__all__ = [
    "epoch_seconds",
    "get_partitioning_boundaries",
    "get_time_prefix",
    "time_prefix_expr",
]


def epoch_seconds(df: DataFrame, time: str) -> Column:
    """Seconds since 1970-01-01 (double) of ``df``'s timestamp column ``time``.

    TIMESTAMP casts to double directly (an instant: exact in any session time
    zone). TIMESTAMP_NTZ — what a tz-naive parquet or pandas column reads back
    as — cannot be cast to a number; its wall-clock reading is taken as UTC,
    the convention pandas and pyarrow use for naive values, so the result
    does not depend on the session time zone either. Other types (already
    numeric epochs) keep the plain double cast.
    """
    if isinstance(df.schema[time].dataType, TimestampNTZType):
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return F.timestamp_diff("MICROSECOND", epoch, F.col(time)) / F.lit(1e6)
    return F.col(time).cast("double")


def get_time_prefix(timestep, temporal_partitioning: str) -> str:
    """Datetime -> time-prefix string (reference: routines.py:372-384).

    year -> "2021"; month -> "2021_7"; quarter -> "2021_3" (Q1=Jan-Mar);
    day -> "2021_7_5".
    """
    check_temporal_partitioning(temporal_partitioning)
    if temporal_partitioning == "year":
        return f"{timestep.year}"
    if temporal_partitioning == "month":
        return f"{timestep.year}_{timestep.month}"
    if temporal_partitioning == "quarter":
        quarter = (timestep.month - 1) // 3 + 1
        return f"{timestep.year}_{quarter}"
    return f"{timestep.year}_{timestep.month}_{timestep.day}"


def time_prefix_expr(time: Column | str, temporal_partitioning: str) -> Column:
    """Column expression computing the time prefix of a timestamp column.

    Matches :func:`get_time_prefix` exactly (non-zero-padded month/day, as the
    reference formats with bare ``{timestep.month}``, routines.py:375-383).
    """
    check_temporal_partitioning(temporal_partitioning)
    t = F.col(time) if isinstance(time, str) else time
    year = F.year(t).cast("string")
    if temporal_partitioning == "year":
        return year
    if temporal_partitioning == "month":
        return F.concat_ws("_", year, F.month(t).cast("string"))
    if temporal_partitioning == "quarter":
        return F.concat_ws("_", year, F.quarter(t).cast("string"))
    return F.concat_ws(
        "_", year, F.month(t).cast("string"), F.dayofmonth(t).cast("string")
    )


def _quarter_start_month(month: int) -> int:
    return 3 * ((month - 1) // 3) + 1


def get_partitioning_boundaries(
    start_time: datetime.datetime,
    end_time: datetime.datetime,
    temporal_partitioning: str,
) -> list[datetime.datetime]:
    """Period boundary timestamps covering [start_time, end_time].

    Mirrors reference routines.py:388-446 (pd.date_range with YS/MS/QS/D and
    end-alignment bump) without the pandas dependency on the query path.
    """
    check_temporal_partitioning(temporal_partitioning)
    boundaries: list[datetime.datetime] = []

    if temporal_partitioning == "year":
        end_year = end_time.year
        if end_time != datetime.datetime(end_time.year, 1, 1):
            end_year += 1
        return [datetime.datetime(y, 1, 1) for y in range(start_time.year, end_year + 1)]

    if temporal_partitioning == "month":
        cur = datetime.datetime(start_time.year, start_time.month, 1)
        end = datetime.datetime(end_time.year, end_time.month, 1)
        if end_time != end:
            end = _add_months(end, 1)
        while cur <= end:
            boundaries.append(cur)
            cur = _add_months(cur, 1)
        return boundaries

    if temporal_partitioning == "quarter":
        cur = datetime.datetime(start_time.year, _quarter_start_month(start_time.month), 1)
        end = datetime.datetime(end_time.year, _quarter_start_month(end_time.month), 1)
        if end_time != end:
            end = _add_months(end, 3)
        while cur <= end:
            boundaries.append(cur)
            cur = _add_months(cur, 3)
        return boundaries

    # day
    cur = datetime.datetime(start_time.year, start_time.month, start_time.day)
    end = datetime.datetime(end_time.year, end_time.month, end_time.day)
    if end_time != end:
        end = end + datetime.timedelta(days=1)
    while cur <= end:
        boundaries.append(cur)
        cur = cur + datetime.timedelta(days=1)
    return boundaries


def _add_months(dt: datetime.datetime, months: int) -> datetime.datetime:
    month0 = dt.month - 1 + months
    return datetime.datetime(dt.year + month0 // 12, month0 % 12 + 1, 1)
