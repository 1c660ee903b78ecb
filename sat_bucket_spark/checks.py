"""Argument validation helpers.

Re-expresses the validation layer of the reference engine
(reference: satbucket/checks.py:34-105, satbucket/partitioning.py:60-99)
as plain Python driver-side checks. Nothing here touches executors.
"""

from __future__ import annotations

import datetime
from collections.abc import Sequence


class Extent(tuple):
    """Immutable ``[xmin, xmax, ymin, ymax]`` extent (reference: partitioning.py:48-58)."""

    @property
    def xmin(self):  # noqa: D102
        return self[0]

    @property
    def xmax(self):  # noqa: D102
        return self[1]

    @property
    def ymin(self):  # noqa: D102
        return self[2]

    @property
    def ymax(self):  # noqa: D102
        return self[3]


def check_extent(extent) -> Extent:
    """Validate an extent sequence [xmin, xmax, ymin, ymax]."""
    if not isinstance(extent, Sequence) or isinstance(extent, str) or len(extent) != 4:
        raise ValueError("extent must be a sequence [xmin, xmax, ymin, ymax]")
    xmin, xmax, ymin, ymax = (float(v) for v in extent)
    if xmin >= xmax:
        raise ValueError(f"extent xmin ({xmin}) must be < xmax ({xmax})")
    if ymin >= ymax:
        raise ValueError(f"extent ymin ({ymin}) must be < ymax ({ymax})")
    return Extent((xmin, xmax, ymin, ymax))


def check_size(size) -> tuple[float, float]:
    """Normalize bin size to an (x_size, y_size) tuple (reference: partitioning.py:829-836)."""
    if isinstance(size, (int, float)):
        size = (size, size)
    if not isinstance(size, Sequence) or len(size) != 2:
        raise ValueError("size must be a number or a (x_size, y_size) pair")
    sx, sy = float(size[0]), float(size[1])
    if sx <= 0 or sy <= 0:
        raise ValueError("size values must be > 0")
    return (sx, sy)


def check_time(t) -> datetime.datetime:
    """Coerce str/date/datetime/numpy datetime to naive UTC ``datetime.datetime``.

    Reference: satbucket/checks.py:34-77 (accepts datetime, date, np.datetime64, str).
    Strings are ISO 8601 (``datetime.fromisoformat``: "2021-01-01",
    "2021-01-01 06:30", "2021-01-01T06:30:00Z", "...+02:00", ...) or the
    compact "%Y%m%d%H%M%S" form. Time-zone-aware values are converted to UTC.
    """
    import numpy as np

    if isinstance(t, str):
        try:
            t = datetime.datetime.fromisoformat(t)
        except ValueError:
            try:
                t = datetime.datetime.strptime(t, "%Y%m%d%H%M%S")
            except ValueError:
                raise ValueError(f"unparseable time string: {t!r}") from None
    if isinstance(t, datetime.datetime):
        if t.tzinfo is not None:
            t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return t
    if isinstance(t, datetime.date):
        return datetime.datetime(t.year, t.month, t.day)
    if isinstance(t, np.datetime64):
        us = t.astype("datetime64[us]").astype(int)
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(us))
    raise TypeError(f"unsupported time type: {type(t)}")


def check_start_end_time(start_time, end_time) -> tuple[datetime.datetime, datetime.datetime]:
    """Validate a [start, end) query window (reference: checks.py:80-105)."""
    start_time = check_time(start_time)
    end_time = check_time(end_time)
    if start_time > end_time:
        raise ValueError(f"start_time {start_time} must be <= end_time {end_time}")
    return start_time, end_time


def check_temporal_partitioning(value: str) -> str:
    """Validate temporal partitioning granularity.

    Reference: routines.py:324-332 accepts ``["year", "month", "season", "quarter"]``
    but the time-prefix builder (routines.py:372-384) implements
    year/month/quarter/day and raises for season; we support the functional set.
    """
    valid = ("year", "quarter", "month", "day")
    if not isinstance(value, str):
        raise TypeError("'temporal_partitioning' must be a string.")
    if value not in valid:
        raise ValueError(f"temporal_partitioning must be one of {valid}, got {value!r}")
    return value
