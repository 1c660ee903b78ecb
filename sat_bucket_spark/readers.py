"""The query entry point: ``read`` over a bucket archive.

Re-expresses reference satbucket/readers.py:162-303 as ONE declarative Spark
plan. Where the reference hand-implements plan/prune stages (partition label
enumeration -> directory listing -> per-file scan -> post-filter;
readers.py:239-279), we emit::

    spark.read.schema(<footer schema>)        # no schema-inference job
        .parquet(bucket_dir/<partition glob>) # lists only the touched dirs
        .limit(n_rows)                        # scan-time row cap (reference parity)
        .where(<exact bbox / point-radius>)   # row-level post filter
        .where(<user filter expressions>)     # pushed to parquet scan
        .select(columns)

The query's partition label sets build one Hadoop brace glob under
``basePath``, so the open lists the partitions the query can touch, not the
bucket; that glob is the read's only partition pruning, as the reference's
directory enumeration is. The schema is read from one footer on the driver,
because Spark's own "single footer" inference is a distributed job. Building
the plan therefore launches no job and costs what the query touches.
Catalyst then performs predicate pushdown and column pruning (the scan shows
PushedFilters/ReadSchema; verified in tests/test_plans.py).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.errors import AnalysisException
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
    reference partitioning.py:899-910). The open passes an explicit schema —
    the data columns plus every partition level as StringType (partition
    columns honor user-provided schemas).

    Directory-flavor buckets (bare label dirs — the reference *default* for
    XY/Tile partitionings, reference partitioning.py:206-207, 253-257) carry no
    hive metadata on disk, so Spark partition discovery cannot see the labels:
    pass ``partitioning`` (flavor != "hive") and the read globs depth-n data
    files and reconstructs the label columns from ``input_file_name()``,
    honoring ``partitioning.order``.

    ``subdirs`` restricts the open to partition directories relative to the
    bucket root, Hadoop globs allowed (``lon_bin={-5.0,5.0}/lat_bin=15.0``) —
    driver-side pruning, mirroring the reference's own directory enumeration
    (readers.py:269-279). A list that matches nothing (``[]`` included)
    returns an empty frame with the bucket's full schema.

    The default glob skips the ``bucket_info.yaml`` metadata header sitting at
    the table root (reference: io.py:58-73).
    """
    glob = path_glob or "*.parquet"
    hive = partitioning is None or getattr(partitioning, "flavor", "hive") == "hive"
    levels = list(levels or []) if hive else []
    root = [bucket_dir] if hive else [os.path.join(bucket_dir, *(["*"] * len(partitioning.order)))]
    sample = paths[0] if paths else _first_data_file(bucket_dir, glob)

    # --- the schema: chosen apart from the files the open reads -------------
    # One footer, read on the driver. Spark's own "single footer" inference
    # is a distributed job (one per open), and with string-typed levels it
    # also lists the bucket twice (infer, then re-open with the corrected
    # schema). Spark-written files store their Spark schema under a footer
    # key, which is exactly what Spark's inference returns, so the open is
    # one listing and no job. Files without the key (pyarrow-written
    # archives) have their one sample inferred by Spark.
    #
    # Schema drift (columns added to the archive over the years): a
    # single-footer schema would pin the archive to ONE file and silently
    # drop every column that file predates. ``merge_schema`` unions every
    # footer of the bucket (a footer pass over the root, the documented
    # price of drift-aware reads), whatever partitions the query touches.
    # Non-local URIs (no cheap first file) infer over the root as well.
    schema = None
    if sample is not None and not merge_schema:
        schema = _footer_schema(sample)
        if schema is None and levels:
            schema = spark.read.parquet(sample).schema
    elif merge_schema or levels:
        root_reader = spark.read.option("mergeSchema", merge_schema).option("pathGlobFilter", glob)
        schema = root_reader.parquet(*root).schema

    # --- the files: an explicit list, the pruning glob or the root ----------
    if paths is not None:
        # filename-level filtering: the list is already pruned
        src = paths
        reader = spark.read
    else:
        src = root if subdirs is None else [os.path.join(bucket_dir, d) for d in subdirs]
        reader = spark.read.option("pathGlobFilter", glob)
    if hive:
        # basePath keeps the hive partition columns discoverable from the paths
        reader = reader.option("basePath", bucket_dir)
    if schema is not None:
        reader = reader.schema(_with_string_levels(schema, levels))
    try:
        df = reader.parquet(*src) if src else _empty_bucket_frame(reader, sample, root)
    except AnalysisException as exc:
        # a pruning glob that matches no partition directory
        if subdirs is None or exc.getCondition() != "PATH_NOT_FOUND":
            raise
        df = _empty_bucket_frame(reader, sample, root)
    if not hive:
        df = _with_directory_labels(df, partitioning.order)
    return df


def _empty_bucket_frame(reader, sample, root) -> DataFrame:
    """No partition matches: the bucket's schema over zero rows.

    Opens the one sample file under the chosen schema (the root when there
    is no local sample), not the bucket; the always-false filter plans as an
    empty local relation, so the frame scans nothing when run.
    """
    return reader.parquet(*([sample] if sample is not None else root)).where(F.lit(False))


def _with_string_levels(schema: StructType, levels: list[str]) -> StructType:
    fields = [
        StructField(f.name, StringType(), True) if f.name in levels else f
        for f in schema.fields
    ]
    present = {f.name for f in fields}
    fields += [StructField(lvl, StringType(), True) for lvl in levels if lvl not in present]
    return StructType(fields)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The schema Spark infers for a Spark-written parquet file, without a job.

    Spark's writer stores the row schema as JSON under a footer key, and its
    inference returns that value when the key is present (file-source reads
    relax it to nullable, as they do any user-specified schema). None when
    the file has no such key.
    """
    import pyarrow.parquet as pq

    raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    try:
        return StructType.fromJson(json.loads(raw))
    except (ValueError, KeyError, TypeError):
        return None  # a key this pyspark cannot parse: Spark infers it


def _first_data_file(bucket_dir: str, glob: str = "*.parquet", max_depth: int = 8) -> str | None:
    """First data file under a LOCAL bucket root (depth-first scandir).

    Used to read one footer for schema instead of double-listing the whole
    bucket; returns None for non-local URIs (callers fall back to Spark's
    own inference+reread)."""
    import fnmatch

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


def _with_directory_labels(df: DataFrame, order: list[str]) -> DataFrame:
    """Directory-flavor labels, reconstructed from each row's file path.

    Labels become plain string columns (not hive partition columns), so
    Catalyst cannot directory-prune them; extent pruning happens driver-side
    via ``subdirs`` (the reference's strategy: enumerate intersecting
    partition dirs, readers.py:269-279) — the same file-skipping outcome.
    """
    n = len(order)
    # .../<label_order0>/<label_order1>/part-*.parquet
    segs = F.split(F.input_file_name(), "/")
    for i, level in enumerate(order):
        df = df.withColumn(level, F.element_at(segs, F.lit(i - n - 1)))
    return df


def _glob_alternatives(labels) -> str:
    escaped = [re.sub(r"([\\{}\[\]*?,])", r"\\\1", str(lab)) for lab in labels]
    return escaped[0] if len(escaped) == 1 else "{" + ",".join(escaped) + "}"


def _partition_glob(partitioning, parts, time_prefixes) -> list[str] | None:
    """``subdirs`` for the partition directories a query can touch.

    ``parts`` is None (every cell), a dict of level -> kept labels (an
    extent: every combination is kept) or a list of per-cell label tuples in
    ``partitioning.order`` (a polygon's cells). ``time_prefixes`` lists the
    kept ``time_part`` labels, None for all. Returns ``[]`` when nothing can
    match, None when no level narrows (open the root), else one brace glob:
    ``lon_bin={-5.0,5.0}/lat_bin=15.0/time_part={2021_7_1,2021_7_2}``. Cells
    that are not a rectangle nest per first-level label:
    ``{lon_bin=-5.0/lat_bin={5.0,15.0},lon_bin=5.0/lat_bin=15.0}``.
    """
    hive = getattr(partitioning, "flavor", "hive") == "hive"
    order = list(partitioning.order)
    n_labels = {
        lvl: len(labels)
        for lvl, labels in partitioning.get_partitions_by_extent(list(partitioning.extent)).items()
    }

    def seg(level, labels=()):
        labels = sorted(set(labels))
        alt = _glob_alternatives(labels) if 0 < len(labels) < n_labels[level] else "*"
        return f"{level}={alt}" if hive else alt

    everything = [seg(lvl) for lvl in order]
    if isinstance(parts, list):
        groups: dict = {}
        for cell in parts:
            groups.setdefault(cell[0], set()).add(cell[1:])
        if len(set(map(frozenset, groups.values()))) <= 1:
            # empty, one level, or a rectangle of cells: one label set per level
            rest = next(iter(groups.values()), set())
            parts = {order[0]: list(groups)}
            parts.update({lvl: [t[i] for t in rest] for i, lvl in enumerate(order[1:])})
    if isinstance(parts, list):
        segs = ["{" + ",".join(
            f"{seg(order[0], [a])}/{seg(order[1], [t[0] for t in groups[a]])}"
            for a in sorted(groups)
        ) + "}"]
    elif parts is None:
        segs = list(everything)
    elif any(not parts[lvl] for lvl in order):
        return []
    else:
        segs = [seg(lvl, parts[lvl]) for lvl in order]
    if time_prefixes is not None:
        if not time_prefixes:
            return []
        segs.append(f"time_part={_glob_alternatives(sorted(time_prefixes))}")
    return None if segs == everything else ["/".join(segs)]


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
    partition directories the query touches (polygon cells cell-exactly,
    ``time_part`` directories by window); raises when nothing matches,
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
        # The partitions opened and the row filter below are polygon-exact;
        # the bbox envelope only marks the query as spatial.
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

    # --- partitions the query can touch (driver-side planning) -------------
    # The open names only these directories (one brace glob, or the filtered
    # file list under them): that is the read's whole partition pruning.
    glob_times = None
    if start_time is not None or end_time is not None:
        from sat_bucket_spark.checks import check_start_end_time

        start_time, end_time = check_start_end_time(
            start_time if start_time is not None else "1970-01-01",
            end_time if end_time is not None else "2100-01-01",
        )
        temporal = info.get("temporal_partitioning")
        # time_part directories hold a merged archive's files, not those of
        # one flattened to the reference's {prefix}_{i}.parquet naming
        sample = _first_data_file(bucket_dir, path_glob or "*.parquet") if temporal else None
        if sample is not None and os.path.basename(os.path.dirname(sample)).startswith(
            "time_part="
        ):
            from sat_bucket_spark.functions.temporal import (
                get_partitioning_boundaries,
                get_time_prefix,
            )

            glob_times = sorted(
                {
                    get_time_prefix(b, temporal)
                    for b in get_partitioning_boundaries(start_time, end_time, temporal)
                    if b < end_time  # a boundary at/after the exclusive end opens no needed period
                }
            )
    pruned = query_extent is not None and use_pruning
    paths = None
    subdirs = None
    if file_extension is not None or glob_pattern is not None or regex_pattern is not None:
        from sat_bucket_spark.io import _filepaths_by_partition

        if not pruned:
            dirs = partitioning.directories
        elif query_polygon is not None:
            dirs = partitioning.directories_by_polygon(query_polygon)
        else:
            dirs = partitioning.directories_by_extent(query_extent)
        by_partition = _filepaths_by_partition(
            bucket_dir,
            dirs,
            extension=file_extension if file_extension is not None else ".parquet",
            glob_pattern=glob_pattern,
            regex_pattern=regex_pattern,
        )
        kept_times = None if glob_times is None else {f"time_part={t}" for t in glob_times}
        paths = sorted(
            f
            for files in by_partition.values()
            for f in files
            if kept_times is None or os.path.basename(os.path.dirname(f)) in kept_times
        )
        if not paths:
            raise ValueError("No files available matching your request.")
    else:
        parts = None
        if pruned and query_polygon is not None:
            # cell-exact: only cells whose rectangle meets the polygon
            labels = partitioning._labels_for_cells(
                *partitioning._cells_by_polygon(query_polygon)
            )
            parts = list(zip(*(labels[lvl].tolist() for lvl in partitioning.order)))
        elif pruned:
            parts = partitioning.get_partitions_by_extent(query_extent)
        subdirs = _partition_glob(partitioning, parts, glob_times)

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
