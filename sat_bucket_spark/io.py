"""Bucket metadata: the self-describing ``bucket_info.yaml`` header.

Reference: satbucket/io.py:35-73 — the bucket root holds a YAML spec with the
partitioning class/parameters (+ optional ``temporal_partitioning``); readers
reconstruct the partitioning object from it (io.py:42-49).
"""

from __future__ import annotations

import fnmatch
import os
import re

import yaml

from sat_bucket_spark.partitioning import partitioning_from_dict

__all__ = [
    "get_bucket_spatial_partitioning",
    "get_bucket_temporal_partitioning",
    "get_filepaths_by_partition",
    "get_partition_filepaths",
    "match_filename_filters",
    "read_bucket_info",
    "write_bucket_info",
]

BUCKET_INFO_FILENAME = "bucket_info.yaml"


def bucket_info_path(bucket_dir: str) -> str:
    """Path of the bucket metadata file."""
    return os.path.join(bucket_dir, BUCKET_INFO_FILENAME)


def write_bucket_info(bucket_dir: str, partitioning, temporal_partitioning: str | None = None):
    """Write ``bucket_info.yaml`` at the bucket root (reference: io.py:58-73).

    The spec is the partitioning's ``to_dict()`` plus an optional
    ``temporal_partitioning`` key (reference: io.py:64).
    """
    os.makedirs(bucket_dir, exist_ok=True)
    info = {"spatial_partitioning": partitioning.to_dict()}
    if temporal_partitioning is not None:
        info["temporal_partitioning"] = temporal_partitioning
    with open(bucket_info_path(bucket_dir), "w") as f:
        yaml.safe_dump(info, f, sort_keys=False)


def read_bucket_info(bucket_dir: str) -> dict:
    """Read the raw bucket metadata dict (reference: io.py:35-41)."""
    path = bucket_info_path(bucket_dir)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no {BUCKET_INFO_FILENAME} found in {bucket_dir}")
    with open(path) as f:
        return yaml.safe_load(f)


def get_bucket_spatial_partitioning(bucket_dir: str):
    """Reconstruct the partitioning object from bucket metadata (reference: io.py:42-49)."""
    info = read_bucket_info(bucket_dir)
    return partitioning_from_dict(info["spatial_partitioning"])


def get_bucket_temporal_partitioning(bucket_dir: str) -> str | None:
    """Temporal partitioning granularity, if recorded (reference: io.py:50-55)."""
    return read_bucket_info(bucket_dir).get("temporal_partitioning")


def match_filename_filters(
    filename: str,
    file_extension: str | None = None,
    glob_pattern: str | None = None,
    regex_pattern: "str | re.Pattern | None" = None,
) -> bool:
    """Reference filename-filter semantics (utils/directories.py:75-100):
    extension is ``endswith``, regex is ``re.match`` (start-anchored) on the
    basename, glob is Unix-shell ``fnmatch`` on the basename."""
    if file_extension is not None and not filename.endswith(file_extension):
        return False
    if regex_pattern is not None and re.match(regex_pattern, filename) is None:
        return False
    if glob_pattern is not None and not fnmatch.fnmatch(filename, glob_pattern):
        return False
    return True


def _list_dir_files(
    d: str,
    file_extension: str | None,
    glob_pattern: str | None,
    regex_pattern: "str | re.Pattern | None",
) -> list[str]:
    out: list[str] = []
    for root, _, files in os.walk(d):
        out.extend(
            os.path.join(root, f)
            for f in files
            if match_filename_filters(f, file_extension, glob_pattern, regex_pattern)
        )
    return out


def get_partition_filepaths(
    bucket_dir: str,
    extent=None,
    extension: str | None = ".parquet",
    glob_pattern: str | None = None,
    regex_pattern: str | None = None,
    parallel: bool = True,
) -> list[str]:
    """List data files, with extent pruning and filename filters.

    Driver-side helper mirroring reference io.py:96-109 +
    utils/directories.py:145-170 (extension/glob/regex filename filters,
    thread-parallel per-partition listing — directory listings are I/O bound,
    so a thread pool matches the reference's ``parallel=True``). ``read``
    prunes by opening only the partition directories a query touches; it
    lists files (through :func:`_filepaths_by_partition`) only when
    filename-level filters are requested.
    """
    by_partition = get_filepaths_by_partition(
        bucket_dir, extent, extension, glob_pattern, regex_pattern, parallel
    )
    return sorted(f for files in by_partition.values() for f in files)


def get_filepaths_by_partition(
    bucket_dir: str,
    extent=None,
    extension: str | None = ".parquet",
    glob_pattern: str | None = None,
    regex_pattern: str | None = None,
    parallel: bool = True,
) -> dict[str, list[str]]:
    """Partition-relative dir -> sorted file list (reference: io.py:111-128)."""
    partitioning = get_bucket_spatial_partitioning(bucket_dir)
    dirs = (
        partitioning.directories_by_extent(extent)
        if extent is not None
        else partitioning.directories
    )
    return _filepaths_by_partition(
        bucket_dir, dirs, extension, glob_pattern, regex_pattern, parallel
    )


def _filepaths_by_partition(
    bucket_dir: str,
    directories: list[str],
    extension: str | None = ".parquet",
    glob_pattern: str | None = None,
    regex_pattern: str | None = None,
    parallel: bool = True,
) -> dict[str, list[str]]:
    """:func:`get_filepaths_by_partition` over the partition directories
    (relative to the bucket root) a caller already chose, e.g. ``readers.read``
    from the query's cells; directories absent on disk are skipped."""
    pattern = re.compile(regex_pattern) if regex_pattern is not None else None
    dirs = [os.path.join(bucket_dir, d) for d in directories]
    dirs = [d for d in dirs if os.path.isdir(d)]

    def one(d: str) -> tuple[str, list[str]]:
        return os.path.relpath(d, bucket_dir), sorted(
            _list_dir_files(d, extension, glob_pattern, pattern)
        )

    if parallel and len(dirs) > 1:
        import concurrent.futures

        with concurrent.futures.ThreadPoolExecutor() as ex:
            return dict(ex.map(one, dirs))
    return dict(one(d) for d in dirs)
