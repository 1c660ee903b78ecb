"""Ingest and compaction pipelines.

Re-expresses reference satbucket/routines.py as three Spark jobs:

- :func:`write_bucket` — one DataFrame -> labeled, hive-partitioned bucket
  (reference: routines.py:253-316).
- :func:`write_granules_bucket` — granule files -> bucket, the ingestion
  "UDTF": a filepaths DataFrame mapped through the user's
  ``granule_to_df_func`` with ``mapInPandas`` (reference: routines.py:66-139,
  143-250; the dask block/restart machinery is obsolete under Spark's
  scheduler).
- :func:`merge_granule_buckets` — compaction: read staged granules, derive a
  ``time_part`` partition column, shuffle once on (spatial, temporal) keys,
  write large files (reference: routines.py:530-852). ``update=True`` maps to
  dynamic partition overwrite, replacing delete-by-filename-prefix
  (routines.py:791-810; SURVEY.md §7 hard part 4).
"""

from __future__ import annotations

import traceback
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sat_bucket_spark.checks import check_start_end_time, check_temporal_partitioning
from sat_bucket_spark.filters import interval_overlap_expr
from sat_bucket_spark.functions.temporal import epoch_seconds, time_prefix_expr
from sat_bucket_spark.info import filename_time_exprs
from sat_bucket_spark.io import get_bucket_spatial_partitioning, write_bucket_info
from sat_bucket_spark.readers import read_bucket_dataframe
from sat_bucket_spark.writers import write_partitioned_dataset

__all__ = ["merge_granule_buckets", "write_bucket", "write_granules_bucket"]


def write_bucket(
    df: DataFrame,
    bucket_dir: str,
    partitioning,
    x: str = "lon",
    y: str = "lat",
    remove_invalid_rows: bool = True,
    mode: str = "append",
    **writer_kwargs,
) -> None:
    """Write a DataFrame as a spatially partitioned bucket archive.

    Reference: routines.py:253-316 (add labels -> partitioned write ->
    bucket_info). Partition order follows ``partitioning.order``
    (partitioning.py:195-198).
    """
    write_bucket_info(bucket_dir, partitioning)
    labeled = partitioning.add_labels(df, x=x, y=y, remove_invalid_rows=remove_invalid_rows)
    write_partitioned_dataset(
        labeled,
        bucket_dir,
        partitions=list(partitioning.order),
        mode=mode,
        flavor=partitioning.flavor,
        **writer_kwargs,
    )


def write_granules_bucket(
    spark: SparkSession,
    filepaths: list[str],
    bucket_dir: str,
    partitioning,
    granule_to_df_func: Callable[[str], "pd.DataFrame | None"],
    schema: StructType,
    x: str = "lon",
    y: str = "lat",
    mode: str = "append",
    skip_ingested: bool = True,
    **writer_kwargs,
):
    """Ingest granule files into a staged bucket archive.

    The reference schedules one dask task per file with per-file error capture
    (routines.py:107-139, 211-250). Spark shape: a filepaths DataFrame is
    repartitioned one-file-per-task and mapped through the user callable with
    ``mapInPandas`` (Arrow-batched); per-granule failures are captured into an
    ``_error`` side-channel column so one corrupt granule cannot kill a
    100k-granule job (SURVEY.md §7 hard part 7). Returns the list of
    ``(filepath, error)`` failures.

    Idempotency: the reference names stage files after the granule so re-runs
    overwrite (routines.py:100-104); Spark cannot control output basenames, so
    an ingest *manifest* (``_ingest_manifest.json`` at the bucket root) records
    successfully ingested source paths and ``skip_ingested=True`` filters them
    from re-runs — re-running the same file list is a no-op
    (SURVEY.md §7 hard part 4).

    ``schema`` declares the output columns of ``granule_to_df_func`` (Spark
    requires a static schema; the reference infers it later from a "template
    file", routines.py:351-369).
    """
    import json
    import os

    manifest_path = os.path.join(bucket_dir, "_ingest_manifest.json")
    already: set[str] = set()
    if skip_ingested and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            already = set(json.load(f))
    filepaths = [p for p in filepaths if p not in already]
    if not filepaths:
        return []

    data_cols = [f.name for f in schema.fields]
    # copy the field list: StructType.add appends in place
    out_schema = StructType(list(schema.fields)).add("_src_path", "string").add("_error", "string")

    def _ingest(batches):
        import pandas as pd  # noqa: PLC0415 (executor-side import)

        for pdf in batches:
            for path in pdf["path"]:
                try:
                    gdf = granule_to_df_func(path)
                    if gdf is None or len(gdf) == 0:
                        continue
                    gdf = gdf[data_cols].copy()
                    gdf["_src_path"] = path
                    gdf["_error"] = None
                    yield gdf
                except Exception:
                    err = pd.DataFrame({c: pd.Series(dtype="object") for c in data_cols})
                    err = err.reindex(range(1))
                    err["_src_path"] = path
                    err["_error"] = traceback.format_exc(limit=5)
                    yield err

    paths_df = spark.createDataFrame([(p,) for p in filepaths], ["path"]).repartition(
        max(len(filepaths), 1)
    )
    # Persist: the partitioned write and the error collect are two actions on
    # this plan; without materialization every granule would be parsed twice,
    # and a granule that succeeded in the write pass but failed transiently in
    # the error pass would be recorded as failed while its rows were already
    # appended — the next skip_ingested re-run would then duplicate its data.
    result = paths_df.mapInPandas(_ingest, schema=out_schema).persist()
    try:
        ok = result.where(F.col("_error").isNull()).drop("_error", "_src_path")
        write_bucket(ok, bucket_dir, partitioning, x=x, y=y, mode=mode, **writer_kwargs)
        errors = (
            result.where(F.col("_error").isNotNull()).select("_src_path", "_error").collect()
        )
    finally:
        result.unpersist()
    failed = {r["_src_path"] for r in errors}
    if skip_ingested:
        ingested = sorted(already | {p for p in filepaths if p not in failed})
        with open(manifest_path, "w") as f:
            json.dump(ingested, f)
    return [(r["_src_path"], r["_error"]) for r in errors]


def merge_granule_buckets(
    spark: SparkSession,
    src_bucket_dir: str,
    dst_bucket_dir: str,
    temporal_partitioning: str = "year",
    start_time=None,
    end_time=None,
    update: bool = False,
    time: str = "time",
    zorder_xy: "tuple[str, str] | None" = None,
    zorder_bits: int = 12,
    **writer_kwargs,
) -> None:
    """Compact a staged granule bucket into the temporally grouped archive.

    Reference: routines.py:530-852. The reference loops partitions serially and
    encodes the temporal group in output *filenames* (``2021_0.parquet``); here
    the group becomes a ``time_part`` partition column computed from the data's
    ``time`` (same prefix strings — routines.py:372-384), and ONE shuffled write
    compacts every partition in parallel. Catalyst then prunes time ranges for
    free on read.

    ``update=True`` -> the same write with ``mode="overwrite_partitions"``
    (dynamic partition overwrite of the touched (spatial x temporal)
    partitions) — the idempotent replacement for delete-files-by-prefix
    (routines.py:791-810). Every writer option applies to both modes.

    Rows are clustered by ``time`` inside each output file (a local
    per-task sort, no extra shuffle): row-group min/max time stats become
    tight, so time-window reads skip whole row groups within the large
    per-partition files — intra-file pruning under the ``time_part``
    directory pruning.

    ``zorder_xy=(x_col, y_col)`` switches the within-file clustering to a
    3-D Z-order over (fine x bin, fine y bin, day-of-epoch): row-group
    min/max stats come out tight on BOTH spatial axes AND time at once, so
    the canonical "extent + time window" archive query prunes row groups on
    all three. Fine bins subdivide the partitioning's extent into
    ``2**zorder_bits`` cells per axis (finer than the directory grid —
    directory pruning handles the coarse level). The day bucket keeps the
    low ``zorder_bits`` bits of days-since-epoch: within a ``time_part``
    group (a month spans ≤31 days) ordering is preserved except for the
    rare group straddling a ``2**zorder_bits``-day wrap, which merely
    loosens that group's stats — never correctness.
    """
    check_temporal_partitioning(temporal_partitioning)
    partitioning = get_bucket_spatial_partitioning(src_bucket_dir)
    # The merged archive adds a time_part level and is always written hive
    # (dynamic partition overwrite + Catalyst pruning need hive metadata);
    # normalize the recorded flavor so reads use the hive path.
    from sat_bucket_spark.partitioning import partitioning_from_dict

    dst_partitioning = partitioning_from_dict({**partitioning.to_dict(), "flavor": "hive"})
    write_bucket_info(dst_bucket_dir, dst_partitioning, temporal_partitioning=temporal_partitioning)

    df = read_bucket_dataframe(
        spark, src_bucket_dir, levels=partitioning.order, partitioning=partitioning
    )
    if start_time is not None or end_time is not None:
        start_time, end_time = check_start_end_time(
            start_time if start_time is not None else "1970-01-01",
            end_time if end_time is not None else "2100-01-01",
        )
        df = df.where((F.col(time) >= F.lit(start_time)) & (F.col(time) < F.lit(end_time)))

    df = df.withColumn("time_part", time_prefix_expr(time, temporal_partitioning))
    partitions = list(partitioning.order) + ["time_part"]

    sort_cols = [time]
    if zorder_xy is not None:
        from sat_bucket_spark.partitioning import bin_index_expr, zorder_index_expr

        x_col, y_col = zorder_xy
        n = 1 << zorder_bits
        ext = partitioning.extent
        xb = bin_index_expr(
            F.col(x_col), ext.xmin, ext.xmax, (ext.xmax - ext.xmin) / n, n
        )
        yb = bin_index_expr(
            F.col(y_col), ext.ymin, ext.ymax, (ext.ymax - ext.ymin) / n, n
        )
        tb = F.floor(epoch_seconds(df, time) / F.lit(86400.0)).cast(
            "long"
        ).bitwiseAND(F.lit(n - 1))
        # dunder name: write_partitioned_dataset sorts by it, then drops it
        df = df.withColumn(
            "__z3", zorder_index_expr(xb, yb, bits=zorder_bits, t_bin=tb)
        )
        sort_cols = ["__z3"]

    writer_kwargs.setdefault("max_file_size", "2GB")  # reference default, routines.py:543
    write_partitioned_dataset(
        df,
        dst_bucket_dir,
        partitions=partitions,
        mode="overwrite_partitions" if update else "append",
        sort_within_by=sort_cols,
        **writer_kwargs,
    )


def assign_files_to_temporal_groups(
    files_df: DataFrame,
    groups_df: DataFrame,
) -> DataFrame:
    """Interval-overlap join of files to temporal groups (may multi-match).

    Reference: routines.py:474-504 + filters.py:91-110 — a file belongs to every
    group its ``[start_time, end_time]`` overlaps. The groups side is tiny
    (years/months), so it is broadcast: a map-side range join, no shuffle.
    Expects ``files_df(start_time, end_time, ...)`` and
    ``groups_df(group_start, group_end, time_prefix)``.
    """
    return files_df.join(
        F.broadcast(groups_df),
        interval_overlap_expr("start_time", "end_time", "group_start", "group_end"),
        "inner",
    )


def filter_filepaths_by_time(
    files_df: DataFrame,
    filename_pattern: str,
    start_time,
    end_time,
    path: str = "path",
) -> DataFrame:
    """Keep files whose filename-encoded interval overlaps the query window.

    Reference: filters.py:174-228 (driver loop) — here a Column-expression
    filter over a files DataFrame using the compiled pattern
    (:func:`sat_bucket_spark.info.filename_time_exprs`), fully distributed.
    """
    start_time, end_time = check_start_end_time(start_time, end_time)
    exprs = filename_time_exprs(path, filename_pattern)
    df = files_df.withColumn("start_time", exprs["start_time"]).withColumn(
        "end_time", exprs["end_time"]
    )
    return df.where(
        interval_overlap_expr(
            F.col("start_time"), F.col("end_time"), F.lit(start_time), F.lit(end_time)
        )
    )
