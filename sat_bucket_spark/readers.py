"""The query entry point: ``read`` over a bucket archive.

Re-expresses reference satbucket/readers.py:162-303 as ONE declarative Spark
plan. Where the reference hand-implements plan/prune stages (partition label
enumeration -> directory listing -> per-file scan -> post-filter;
readers.py:239-279), we emit::

    spark.read.parquet(bucket_dir)
        .where(<partition-label predicate>)   # Catalyst hive partition pruning
        .limit(n_rows)                        # scan-time row cap (reference parity)
        .where(<exact bbox / point-radius>)   # row-level post filter
        .where(<user filter expressions>)     # pushed to parquet scan
        .select(columns)

and Catalyst performs partition pruning, predicate pushdown, and column pruning
(the scan shows PushedFilters/ReadSchema; verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sat_bucket_spark.extents import extend_extent, get_continent_extent, get_country_extent
from sat_bucket_spark.filters import (
    extent_around_point,
    filter_around_point,
    filter_by_extent,
)
from sat_bucket_spark.partitioning import partitioning_from_dict

__all__ = ["read", "read_bucket_dataframe"]


def read_bucket_dataframe(
    spark: SparkSession,
    bucket_dir: str,
    levels: list[str] | None = None,
    path_glob: str | None = None,
    partitioning=None,
    subdirs: list[str] | None = None,
    paths: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Open a bucket as a DataFrame with *string-typed* partition columns.

    Hive-flavor buckets (``name=label`` dirs): Spark's partition-type inference
    would parse ``lon_bin=-5.0`` as a double and ``tile=007`` as an int,
    breaking the reference's string-label contract (labels are strings;
    reference partitioning.py:899-910). We read the footer schema once, force
    every partition level to StringType, and re-read with an explicit schema
    (partition columns honor user-provided schemas).

    Directory-flavor buckets (bare label dirs — the reference *default* for
    XY/Tile partitionings, reference partitioning.py:206-207, 253-257) carry no
    hive metadata on disk, so Spark partition discovery cannot see the labels:
    pass ``partitioning`` (flavor != "hive") and the read globs depth-n data
    files and reconstructs the label columns from ``input_file_name()``,
    honoring ``partitioning.order``. ``subdirs`` optionally restricts such a
    read to specific partition directories — driver-side pruning, mirroring
    the reference's own directory enumeration (readers.py:269-279).

    The default glob skips the ``bucket_info.yaml`` metadata header sitting at
    the table root (reference: io.py:58-73).
    """
    glob = path_glob or "*.parquet"
    if partitioning is not None and getattr(partitioning, "flavor", "hive") != "hive":
        return _read_directory_bucket(
            spark, bucket_dir, partitioning, glob, subdirs, paths, merge_schema
        )
    if paths is not None:
        # Explicit file list (filename-level filtering): basePath keeps the
        # hive partition columns discoverable from the file paths.
        reader = spark.read.option("basePath", bucket_dir)
        src = paths
    else:
        reader = spark.read.option("pathGlobFilter", glob)
        src = [bucket_dir]
    if merge_schema:
        # Schema drift (columns added to the archive over the years): a
        # single-footer schema would pin the archive to ONE file and silently
        # drop every column that file predates. mergeSchema unions all
        # footers (a footer pass over the bucket — the documented price of
        # drift-aware reads).
        reader = reader.option("mergeSchema", "true")
    if not levels:
        return reader.parquet(*src)
    # String-typing the partition levels needs the schema up front. Reading
    # the bucket once to inspect df.schema and AGAIN with the corrected
    # schema lists every partition directory twice — the dominant driver
    # cost of opening a many-thousand-directory bucket (and two full
    # object-store LIST passes at scale). So unless the footers must be
    # merged, read ONE data file's footer (Spark's own inference also reads
    # a single footer when mergeSchema is off) and open the bucket exactly
    # once with the explicit schema. Non-local URIs have no cheap first file
    # and fall back to inferring the schema from a first open.
    sample = None if merge_schema else (paths[0] if paths else _first_data_file(bucket_dir, glob))
    base = spark.read.parquet(sample) if sample is not None else reader.parquet(*src)
    fields = [
        StructField(f.name, StringType(), True) if f.name in levels else f
        for f in base.schema.fields
    ]
    present = {f.name for f in fields}
    fields += [StructField(lvl, StringType(), True) for lvl in levels if lvl not in present]
    return reader.schema(StructType(fields)).parquet(*src)


def _first_data_file(bucket_dir: str, glob: str = "*.parquet", max_depth: int = 8) -> str | None:
    """First data file under a LOCAL bucket root (depth-first scandir).

    Used to read one footer for schema instead of double-listing the whole
    bucket; returns None for non-local URIs (callers fall back to Spark's
    own inference+reread)."""
    import fnmatch
    import os

    root = bucket_dir
    if root.startswith("file://"):
        root = root[len("file://"):]
    elif "://" in root:
        return None
    stack = [(root, 0)]
    while stack:
        path, depth = stack.pop()
        try:
            entries = sorted(os.scandir(path), key=lambda e: e.name)
        except OSError:
            return None
        for e in entries:
            if e.is_file() and fnmatch.fnmatch(e.name, glob):
                return e.path
        if depth < max_depth:
            stack.extend(
                (e.path, depth + 1)
                for e in entries
                if e.is_dir() and not e.name.startswith(("_", "."))
            )
    return None


def _read_directory_bucket(
    spark: SparkSession,
    bucket_dir: str,
    partitioning,
    glob: str,
    subdirs: list[str] | None,
    paths: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Directory-flavor read: depth-n glob + label reconstruction from paths.

    Labels become plain string columns (not hive partition columns), so
    Catalyst cannot directory-prune them; extent pruning happens driver-side
    via ``subdirs`` (the reference's strategy: enumerate intersecting
    partition dirs, readers.py:269-279) — the same file-skipping outcome.
    """
    import os

    order = list(partitioning.order)
    n = len(order)
    if paths is None:
        if subdirs is not None:
            paths = [os.path.join(bucket_dir, d) for d in subdirs]
            paths = [p for p in paths if os.path.isdir(p)]
            if not paths:
                # No partition dir intersects: empty frame with the full schema.
                full = _read_directory_bucket(
                    spark, bucket_dir, partitioning, glob, None,
                    merge_schema=merge_schema,
                )
                return full.where(F.lit(False))
        else:
            paths = [os.path.join(bucket_dir, *(["*"] * n))]
    reader = spark.read.option("pathGlobFilter", glob)
    if merge_schema:
        # drift-aware read: union all footers, same contract as the hive
        # branch (previously this flag was silently ignored here)
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    # .../<label_order0>/<label_order1>/part-*.parquet
    segs = F.split(F.input_file_name(), "/")
    for i, level in enumerate(order):
        df = df.withColumn(level, F.element_at(segs, F.lit(i - n - 1)))
    return df


def read(
    spark: SparkSession,
    bucket_dir: str,
    *,
    extent=None,
    country: str | None = None,
    continent: str | None = None,
    point=None,
    polygon=None,
    distance: float | None = None,
    size=None,
    padding=0,
    start_time=None,
    end_time=None,
    time: str = "time",
    columns: list[str] | None = None,
    n_rows: int | None = None,
    filter_expressions: list[Column | str] | None = None,
    path_glob: str | None = None,
    file_extension: str | None = None,
    glob_pattern: str | None = None,
    regex_pattern: str | None = None,
    x: str = "lon",
    y: str = "lat",
    distance_type: str = "geodesic",
    use_pruning: bool = True,
    raise_if_empty: bool = False,
    backend: str = "spark",
    merge_schema: bool = False,
):
    """Query a bucket archive (reference: readers.py:162-303).

    Exactly one (or none) of ``extent`` / ``country`` / ``continent`` / ``point``
    / ``polygon`` may be given (reference: readers.py:239-242; ``polygon`` is a
    beyond-reference extension — a list of (x, y) vertices pruned cell-exactly,
    then ray-cast row-filtered). ``point`` queries take either
    ``distance`` (meters; exact radius filter + ``distance`` column, reference
    filters.py:51-63) or ``size`` (degrees bbox around the point).

    ``filter_expressions`` are arbitrary Column/SQL-string predicates applied
    before the spatial post-filter (reference: readers.py:142-148 notes they
    "reduce rows much more aggressively" — Catalyst pushes them into the scan).

    ``n_rows`` caps the rows *read* (scan-time stop after partition pruning,
    before row-level filters — reference readers.py:229 semantics); a filtered
    query may therefore return fewer than ``n_rows`` rows. Use ``.limit()`` on
    the returned DataFrame to cap result rows instead.

    ``file_extension`` / ``glob_pattern`` / ``regex_pattern`` filter data
    FILES by basename before the scan (reference: readers.py:218-221 +
    utils/directories.py:75-100 — extension endswith, start-anchored
    ``re.match``, Unix glob), listed driver-side in parallel over the
    (extent-pruned) partition directories; raises when nothing matches,
    mirroring the reference's "No files available" error.

    ``backend``: "spark" (default, lazy DataFrame) or "pandas" (collect to
    pandas, the reference's default backend; readers.py:91-98).
    """
    n_spatial = sum(v is not None for v in (extent, country, continent, point, polygon))
    if n_spatial > 1:
        raise ValueError(
            "specify at most one of extent/country/continent/point/polygon"
        )

    # one metadata read per query: the spatial and temporal partitionings
    # both come from this bucket_info.yaml (imported at call time so that
    # wrappers on io.read_bucket_info, e.g. perfbench's tracer, apply)
    from sat_bucket_spark.io import read_bucket_info

    info = read_bucket_info(bucket_dir)
    partitioning = partitioning_from_dict(info["spatial_partitioning"])

    # --- resolve the spatial query to an extent (driver-side planning) -----
    query_extent = None
    point_radius = None
    query_polygon = None
    if extent is not None:
        query_extent = list(extent)
    elif polygon is not None:
        from sat_bucket_spark.filters import polygon_bbox

        query_polygon = [(float(a), float(b)) for a, b in polygon]
        # The bbox envelope drives file listing / time-prefix planning; the
        # partition predicate and row filter below are polygon-exact.
        query_extent = polygon_bbox(query_polygon)
    elif country is not None:
        query_extent = extend_extent(get_country_extent(country), padding)
    elif continent is not None:
        query_extent = extend_extent(get_continent_extent(continent), padding)
    elif point is not None:
        lon0, lat0 = float(point[0]), float(point[1])
        if (distance is None) == (size is None):
            raise ValueError("point queries require exactly one of 'distance' or 'size'")
        if distance is not None:
            point_radius = (lon0, lat0, float(distance))
            query_extent = extent_around_point(lon0, lat0, distance=distance)
        else:
            query_extent = extent_around_point(lon0, lat0, size=size)

    # Directory-flavor buckets prune driver-side: only intersecting partition
    # dirs are opened (labels are not hive partition columns there).
    subdirs = None
    if (
        query_extent is not None
        and use_pruning
        and getattr(partitioning, "flavor", "hive") != "hive"
    ):
        if query_polygon is not None:
            # cell-exact: only dirs whose rectangle meets the polygon
            subdirs = partitioning.directories_by_polygon(query_polygon)
        else:
            subdirs = partitioning.directories_by_extent(query_extent)

    paths = None
    if file_extension is not None or glob_pattern is not None or regex_pattern is not None:
        from sat_bucket_spark.io import get_partition_filepaths

        paths = get_partition_filepaths(
            bucket_dir,
            extent=query_extent if use_pruning else None,
            extension=file_extension if file_extension is not None else ".parquet",
            glob_pattern=glob_pattern,
            regex_pattern=regex_pattern,
        )
        if not paths:
            raise ValueError("No files available matching your request.")
        subdirs = None  # the explicit file list already encodes the pruning

    df = read_bucket_dataframe(
        spark,
        bucket_dir,
        levels=partitioning.order,
        path_glob=path_glob,
        partitioning=partitioning,
        subdirs=subdirs,
        paths=paths,
        merge_schema=merge_schema,
    )

    # --- partition-level pruning (before the n_rows scan cap) --------------
    if start_time is not None or end_time is not None:
        from sat_bucket_spark.checks import check_start_end_time
        from sat_bucket_spark.functions.temporal import get_time_prefix

        start_time, end_time = check_start_end_time(
            start_time if start_time is not None else "1970-01-01",
            end_time if end_time is not None else "2100-01-01",
        )
        temporal = info.get("temporal_partitioning")
        if temporal and "time_part" in df.columns:
            from sat_bucket_spark.functions.temporal import get_partitioning_boundaries

            prefixes = sorted(
                {
                    get_time_prefix(b, temporal)
                    for b in get_partitioning_boundaries(start_time, end_time, temporal)
                    if b < end_time  # a boundary at/after the exclusive end opens no needed period
                }
            )
            # partition-column predicate -> Catalyst prunes time_part dirs
            df = df.where(F.col("time_part").isin(prefixes))

    # hive pruning via Catalyst; skipped when subdirs already restricted a
    # directory-flavor read.
    if query_extent is not None and use_pruning and subdirs is None:
        if query_polygon is not None:
            # cell-exact polygon pruning (per-column y lists, not the bbox
            # cross product) — still a pure partition-column predicate
            df = df.where(partitioning.polygon_pruning_predicate(query_polygon))
        else:
            df = df.where(partitioning.pruning_predicate(query_extent))

    # --- n_rows: cap on rows READ, not on result rows -----------------------
    # Reference parity (readers.py:229): n_rows is a scan-time stop — it
    # applies after directory/partition pruning but BEFORE every row-level
    # filter, so a filtered query returns the matching subset of the first
    # n_rows read (possibly fewer than n_rows). Spark plans this as a
    # LocalLimit directly above the pruned scan (early stop, no full read).
    # For a cap on *result* rows, call .limit() on the returned DataFrame.
    if n_rows is not None:
        df = df.limit(n_rows)

    # --- row-level time filter ----------------------------------------------
    if start_time is not None or end_time is not None:
        df = df.where((F.col(time) >= F.lit(start_time)) & (F.col(time) < F.lit(end_time)))

    # --- user predicates (pushed into the parquet scan) --------------------
    if filter_expressions:
        for expr in filter_expressions:
            df = df.where(F.expr(expr) if isinstance(expr, str) else expr)

    # --- exact spatial post-filters ----------------------------------------
    if point_radius is not None:
        lon0, lat0, dist = point_radius
        df = filter_around_point(df, lon0, lat0, dist, x=x, y=y, distance_type=distance_type)
    elif query_polygon is not None:
        from sat_bucket_spark.filters import filter_by_polygon

        df = filter_by_polygon(df, query_polygon, x=x, y=y)
    elif query_extent is not None:
        df = filter_by_extent(df, query_extent, x=x, y=y)

    # --- projection ---------------------------------------------------------
    if columns is not None:
        df = df.select(*columns)

    if raise_if_empty and df.isEmpty():
        # Reference raises on empty result (readers.py:151-154); opt-in here
        # because it forces an extra action on a 100 TB table.
        raise ValueError("no data found for the specified query")

    if backend == "pandas":
        return df.toPandas()
    if backend == "arrow":
        # Arrow interchange (reference's pyarrow backend, readers.py:91-98)
        import pyarrow as pa

        return pa.Table.from_pandas(df.toPandas(), preserve_index=False)
    if backend != "spark":
        raise ValueError(f"invalid backend {backend!r} (use 'spark', 'pandas' or 'arrow')")
    return df
