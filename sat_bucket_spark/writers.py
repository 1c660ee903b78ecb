"""Partitioned Parquet writers.

Re-expresses reference satbucket/writers.py on Spark's writer: hive-partitioned
layout via ``df.write.partitionBy``, file sizing via ``maxRecordsPerFile``
(estimated from a target byte size, mirroring writers.py:95-112), snappy
compression default (routines.py:544). Spark writes Parquet column statistics
by default, replacing the optional ``_metadata`` sidecars (writers.py:131-142) —
footers + stats give row-group skipping for free.

Scale note: a single ``partitionBy`` write at 100 TB fans out to one file per
(task x partition); we pre-``repartition`` on the partition columns so each
spatial partition is written by few tasks, producing large well-sized files
instead of thousands of small ones.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_bucket_spark.plan_stats import estimated_size_bytes

__all__ = [
    "dehive_partition_directories",
    "estimate_row_size",
    "parse_size",
    "rows_for_target_size",
    "write_colocated_table",
    "write_jsonl_shards",
    "write_webdataset_shards",
    "write_partitioned_dataset",
]

_SIZE_RE = re.compile(r"^\s*([0-9]*\.?[0-9]+)\s*([KMGT]?B?)\s*$", re.IGNORECASE)
_UNIT = {"": 1, "B": 1, "KB": 1024, "MB": 1024**2, "GB": 1024**3, "TB": 1024**4}


def parse_size(size: str | int | float) -> int:
    """Parse a '200MB'-style size string to bytes (reference: writers.py:39-66)."""
    if isinstance(size, (int, float)):
        return int(size)
    m = _SIZE_RE.match(str(size))
    if not m:
        raise ValueError(f"unparseable size {size!r}")
    value, unit = m.groups()
    unit = unit.upper()
    if unit == "K":
        unit = "KB"
    elif unit == "M":
        unit = "MB"
    elif unit == "G":
        unit = "GB"
    elif unit == "T":
        unit = "TB"
    return int(float(value) * _UNIT[unit])


def estimate_row_size(
    df: DataFrame, sample_rows: int = 10_000, compression: str = "snappy"
) -> float:
    """Estimate parquet-ENCODED bytes/row by sampling (reference: writers.py:69-92).

    Samples up to ``sample_rows`` rows and writes them to an in-memory parquet
    buffer with the target compression — measuring encoded bytes, not pandas
    in-memory bytes, which overestimate by the encoding+compression factor
    (3-10x) and would make "2GB" targets produce far smaller files.
    Falls back to the in-memory estimate if Arrow encoding fails.

    Deliberate trade-off: the bare ``limit(N)`` sample is ORDER-BIASED
    (it reads the input's leading partitions — see the r14
    train_ivf_centroids finding for where that class bites), but here it
    short-circuits the scan, and an order-free (hash-ranked) sample would
    force a FULL input scan before every partitioned write. File sizing
    tolerates a skewed bytes/row estimate (files come out smaller or
    larger, nothing is silently wrong); the write-path scan cost would be
    paid always. Callers with pathologically ordered row sizes can
    pre-shuffle or pass an explicit ``max_file_size`` calibration.
    """
    pdf = df.limit(sample_rows).toPandas()
    if len(pdf) == 0:
        return 100.0
    try:
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.Table.from_pandas(pdf, preserve_index=False)
        buf = io.BytesIO()
        pq.write_table(table, buf, compression=compression)
        return max(float(buf.tell()) / len(pdf), 1.0)
    except Exception:
        return max(float(pdf.memory_usage(index=False, deep=True).sum()) / len(pdf), 1.0)


def rows_for_target_size(target_size: str | int, bytes_per_row: float) -> int:
    """Target file size -> row count (reference: writers.py:95-112)."""
    return max(int(math.floor(parse_size(target_size) / bytes_per_row)), 1)


def dehive_partition_directories(base_dir: str, partition_names: list[str]) -> None:
    """Rename hive ``name=label`` dirs to bare ``label`` dirs ("directory" flavor).

    Local-filesystem post-pass producing the reference's default XY/Tile bucket
    layout (reference: partitioning.py:206-207, 253-257 — bare label
    directories). Merges into an existing label dir so ``mode='append'`` writes
    compose. Scale note: on object stores a rename is a copy — prefer hive
    flavor there; directory flavor exists for reference layout parity.
    """
    names = set(partition_names)
    for root, _dirs, _files in os.walk(base_dir, topdown=False):
        base = os.path.basename(root)
        if "=" not in base:
            continue
        level, label = base.split("=", 1)
        if level not in names:
            continue
        _merge_move(root, os.path.join(os.path.dirname(root), label))


def _merge_move(src: str, dst: str) -> None:
    """Move ``src`` to ``dst``, recursively merging into existing directories."""
    if not os.path.isdir(dst):
        os.rename(src, dst)
        return
    for entry in os.listdir(src):
        _merge_move(os.path.join(src, entry), os.path.join(dst, entry))
    os.rmdir(src)


def _repartition_for_write(df: DataFrame, partitions: list[str]) -> DataFrame:
    """Co-locate rows of each output partition with parallel writers.

    Two regimes:
    - Large input (>= one AQE advisory chunk per core): ``REBALANCE`` — AQE
      sizes the task count to the shuffle volume and splits skewed partitions,
      the right shape for a 100 TB write.
    - Small input: AQE would coalesce the rebalanced shuffle to ~1 task, and
      that single task then writes every partition DIRECTORY serially — with
      many dirs the per-file writer setup dominates wall clock (648 dirs ~=
      7 s serial vs <1 s across 32 writers). Hash ``repartition`` with an
      EXPLICIT partition count keeps all cores writing (AQE coalesces a
      bare ``repartition(*cols)`` just like a rebalance — a user-specified
      count is the only shape it leaves alone) while still producing one
      file per directory.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true":
        est = estimated_size_bytes(df)
        advisory = parse_size(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        )
        if est is None or est >= advisory * cores:
            return df.hint("rebalance", *partitions)
    return df.repartition(cores, *partitions)


def write_partitioned_dataset(
    df: DataFrame,
    base_dir: str,
    partitions: list[str] | None = None,
    max_file_size: str | int | None = None,
    max_records_per_file: int | None = None,
    row_group_size: str | int | None = None,
    compression: str = "snappy",
    mode: str = "append",
    repartition_by_levels: bool = True,
    flavor: str | None = "hive",
    sort_within_by: list[str] | None = None,
    bloom_filter_columns: list[str] | None = None,
    bloom_filter_ndv: int | None = None,
) -> None:
    """Write a DataFrame as a partitioned Parquet dataset (reference: writers.py:327-369).

    - ``partitions``: partition columns in on-disk order (reference order
      semantics, partitioning.py:195-198).
    - ``mode``: a Spark save mode, or ``"overwrite_partitions"`` to replace
      only the partitions present in ``df`` (dynamic partition overwrite,
      named after ``DataFrameWriterV2.overwritePartitions``). It is set as a
      per-write option, so other writes in the session keep the static
      ``"overwrite"`` semantics. This is how ``merge_granule_buckets(update=
      True)`` and ``compact_bucket`` rewrite touched partitions in place.
    - ``flavor``: "hive" (default) keeps Spark's ``name=label`` dirs;
      None/"directory" post-renames them to bare label dirs — the reference's
      default XY/Tile layout (SURVEY.md §7 hard part 5); local-FS only.
    - File sizing: ``max_file_size`` (e.g. "2GB") is converted to
      ``maxRecordsPerFile`` via a sampled parquet-encoded bytes/row estimate
      (reference: writers.py:95-112, 161-187); or pass ``max_records_per_file``
      directly.
    - ``row_group_size``: target row-group byte size (e.g. "200MB") passed to
      the parquet writer as ``parquet.block.size`` (reference: writers.py:161-187
      derives min/max rows per row group from the same byte target).
    - ``repartition_by_levels``: shuffle rows so each spatial partition is
      written by a single task — fewer, larger files (critical at scale).
      Uses the AQE ``REBALANCE`` hint so the runtime sizes the task count to
      the actual shuffle volume (a small table coalesces to a handful of
      write tasks instead of ``spark.sql.shuffle.partitions`` mostly-idle
      ones, each paying per-directory writer setup; a 100 TB table fans out
      to thousands). Falls back to a plain ``repartition`` when AQE is off.
    - ``sort_within_by``: cluster rows inside each output file by these
      columns (``sortWithinPartitions`` — a local per-task sort, NO extra
      shuffle). Sorting by event time makes parquet row-group min/max stats
      tight, so time-window reads skip whole row groups inside the big
      per-partition files — the intra-file analogue of ``time_part``
      directory pruning, and the difference between scanning a 2 GB file
      and scanning one 200 MB row group of it.
    - ``bloom_filter_columns``: write parquet Bloom filters for these
      columns (``parquet.bloom.filter.enabled#col``). Min/max stats only
      skip row groups when the column correlates with the sort order;
      a Bloom filter skips on EQUALITY lookups over unordered
      high-cardinality columns (granule id, user id inside a
      time-clustered file) at a few bits/value of file overhead.
      ``bloom_filter_ndv`` sizes them (expected distinct values per row
      group; parquet's default otherwise).
    """
    writer_df = df
    # Dunder-named sort columns are EPHEMERAL clustering keys (e.g. the 3-D
    # Z-order index): they order rows within files but are projected away
    # before writing. The drop is a Project over the Sort — ordering is
    # preserved, the key never lands on disk.
    ephemeral = [c for c in (sort_within_by or []) if c.startswith("__")]
    if partitions:
        if repartition_by_levels:
            writer_df = _repartition_for_write(df, partitions)
        if sort_within_by:
            writer_df = writer_df.sortWithinPartitions(*(partitions + sort_within_by))
            if ephemeral:
                writer_df = writer_df.drop(*ephemeral)
        writer = writer_df.write.partitionBy(*partitions)
    else:
        if sort_within_by:
            writer_df = writer_df.sortWithinPartitions(*sort_within_by)
            if ephemeral:
                writer_df = writer_df.drop(*ephemeral)
        writer = writer_df.write

    if max_records_per_file is None and max_file_size is not None:
        # Sampling for bytes/row costs a Spark job (limit+collect+encode).
        # Skip it when Catalyst's driver-side estimate says the WHOLE input is
        # far below one target file — the cap can't bind, so no cap is needed.
        # Catalyst sizes are uncompressed-leaning (>= parquet-encoded), and the
        # 4x margin covers label columns added between estimate and write;
        # being wrong only splits a file early, never violates the max.
        est = estimated_size_bytes(df)
        if est is None or est * 4 > parse_size(max_file_size):
            bytes_per_row = estimate_row_size(df, compression=compression)
            max_records_per_file = rows_for_target_size(max_file_size, bytes_per_row)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    if row_group_size is not None:
        writer = writer.option("parquet.block.size", parse_size(row_group_size))
    for c in bloom_filter_columns or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if bloom_filter_ndv is not None:
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{c}", int(bloom_filter_ndv)
            )

    if mode == "overwrite_partitions":
        writer = writer.option("partitionOverwriteMode", "dynamic")
        mode = "overwrite"

    writer.option("compression", compression).mode(mode).parquet(base_dir)
    if partitions and flavor != "hive":
        dehive_partition_directories(base_dir, partitions)


def write_colocated_table(
    df,
    name: str,
    keys: list[str],
    n_buckets: int = 256,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table hash-bucketed on ``keys``.

    Spark bucketing pre-shuffles the data ONCE at write time: every
    subsequent equi-join or aggregation keyed on ``keys`` between tables
    bucketed with the same (keys, n_buckets) runs with ZERO exchanges (and,
    with ``sort=True``, zero sorts on the sort-merge path) — the join
    co-location strategy for repeatedly-joined 100 TB fact tables where a
    broadcast is impossible and per-query shuffles dominate.

    Plan contract (asserted in tests/test_plans.py): joining two co-bucketed
    tables on the bucket keys shows no Exchange. Pick ``n_buckets`` ~ target
    parallelism at full scale (buckets are the max join parallelism).

    Requires a catalog (``saveAsTable``): bucketing metadata lives in the
    table catalog, not in parquet files — plain ``.parquet(path)`` reads do
    not see it.
    """
    writer = df.write.bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.mode(mode).saveAsTable(name)


_PREIMAGE_CACHE: dict = {}


def _shard_hash_preimages(spark, n: int) -> list:
    """For each shard k in [0, n): the smallest small int p with
    ``pmod(murmur3(p), n) == k`` under Spark's hash (int32 input, seed
    42) — the value that routes shard k to partition k under plain hash
    partitioning. One tiny job over a constant relation (n*64 ints,
    ~e^-16 chance of a miss per k), cached per process and per n."""
    got = _PREIMAGE_CACHE.get(n)
    if got is not None:
        return got
    out: list = [None] * n
    width = 64
    while True:
        rows = (
            spark.range(n * width)
            .select(
                F.col("id").cast("int").alias("p"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("k"),
            )
            .collect()
        )
        for r in rows:
            if out[r["k"]] is None or r["p"] < out[r["k"]]:
                out[r["k"]] = r["p"]
        if all(v is not None for v in out):
            break
        width *= 4  # astronomically unlikely with 64 candidates per shard
    _PREIMAGE_CACHE[n] = out
    return out


def write_jsonl_shards(
    df,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 64,
    salt: str = "shard",
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Export a documents table as deterministic JSONL training shards.

    The hand-off format most training stacks consume: ``shard=K/`` hive
    directories of (optionally gzipped) JSON-lines files, with rows
    assigned to shards by the seeded hash permutation of
    ``operators.sampling.assign_shards`` and ordered within each shard by
    its independent order hash. The export is therefore REPRODUCIBLE —
    identical bytes-modulo-file-splits across re-runs, engines, retries,
    and speculative tasks (no ``rand()``) — and globally shuffled, so a
    trainer reading shards sequentially sees no source/date drift within
    an epoch.

    Scale shape: shard assignment is map-only; the ONE exchange routes
    each shard to its own task (hash-preimage repartition — no range
    partitioning, so no boundary-sampling re-execution of the input
    plan) and sorts within it, so files per shard stay contiguous in
    training order and the write parallelism is ``n_shards``. Pick
    ``n_shards`` for the TRAINER (data-loader workers x hosts), not for
    Spark — the exchange handles any corpus size either way.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from sat_bucket_spark.operators.hashing import h31_expr

    # the same (shard, order) hash pair as operators.sampling.assign_shards,
    # but without its within-shard window — the sortWithinPartitions below
    # IS that ordering, so one exchange does both jobs
    sid = F.col(id_col).cast("string")
    shard = (h31_expr(F.concat(F.lit(salt), sid)) % n_shards).cast("int")
    order = h31_expr(F.concat(F.lit(salt + ":order"), sid))
    # One shard per task WITHOUT range partitioning: plain hash(shard) % n
    # collides distinct shard values into one task (~1/e of tasks idle),
    # but repartitionByRange learns its boundaries by SAMPLING the input —
    # a second full execution of the upstream plan (a curation funnel over
    # 100 TB would run twice; observed as doubled funnel observations).
    # The shard domain is dense and known (0..n-1), so boundaries carry no
    # information: route shard k through a hash PREIMAGE p_k with
    # pmod(murmur3(p_k), n) == k (found once per n by a driver job over a
    # constant relation, microseconds) and hash-repartition on p_k — every
    # shard lands alone in its own task, nothing is sampled, and the
    # written bytes are unchanged (same rows per shard, same in-shard
    # sort).
    route = F.element_at(
        F.array(*[F.lit(p) for p in _shard_hash_preimages(df.sparkSession, n_shards)]),
        F.col("shard") + 1,
    )
    writer = (
        df.withColumn("shard", shard)
        .repartition(n_shards, route)
        .sortWithinPartitions("shard", order, F.col(id_col))
        .write.partitionBy("shard")
        .mode(mode)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_webdataset_shards(
    df,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 16,
    extensions: "dict[str, str] | None" = None,
    salt: str = "shard",
    mode: str = "overwrite",
) -> list[tuple[int, int]]:
    """Export multimodal samples as WebDataset-style tar shards.

    The tar-of-samples layout multimodal training loaders stream
    (WebDataset — public format: members ``{key}.{ext}`` grouped by key,
    one group per sample): each row becomes members named
    ``{id}.{ext}`` — binary columns as raw bytes, strings as UTF-8
    ``.txt``, everything else JSON — inside ``shard-{K:05d}.tar`` under
    ``path``. Returns ``[(shard, n_samples), ...]``.

    Determinism: rows route to shards by the seeded hash permutation used
    across the sampling operators and are written in order-hash sequence
    with zeroed tar metadata (mtime/uid/gid), so re-exports are
    byte-identical per shard. Each shard is written by ITS task
    (``applyInPandas`` over the shard key): parallelism = ``n_shards``,
    no driver bottleneck. A shard materializes in executor memory during
    the write — size shards accordingly (more shards, smaller each; the
    knob the trainer wants anyway).

    ``mode`` mirrors ``write_jsonl_shards``: ``'overwrite'`` (default)
    removes every pre-existing ``shard-*.tar`` under ``path`` BEFORE the
    job launches — a re-export with a smaller ``n_shards`` (or a shrunk
    corpus) must not leave stale shards from the previous run for a
    trainer's ``shard-*.tar`` glob to silently consume; ``'error'``
    refuses when any exist.
    """
    import io as _io
    import json as _json
    import math as _math
    import os as _os
    import tarfile as _tarfile

    import numpy as _np
    import pandas as _pd

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if "://" in path and not path.startswith("file://"):
        # shards are written with python tarfile FROM THE EXECUTORS: the
        # output directory must be a filesystem every executor mounts
        # (local mode, NFS, fuse mounts) — an object-store URI would
        # scatter shards on executor-local disks or fail outright
        raise ValueError(
            f"write_webdataset_shards needs a shared-filesystem path, got {path!r}"
        )
    from sat_bucket_spark.operators.hashing import h31_expr

    if path.startswith("file://"):
        path = path[len("file://"):]
    if mode not in ("overwrite", "error"):
        raise ValueError(f"mode must be 'overwrite' or 'error', got {mode!r}")
    import glob as _glob

    stale = sorted(_glob.glob(_os.path.join(path, "shard-*.tar")))
    if stale:
        if mode == "error":
            raise FileExistsError(
                f"{len(stale)} existing shard-*.tar under {path!r} "
                "(mode='error'); pass mode='overwrite' to replace them"
            )
        for f in stale:  # driver-side, before any task writes
            _os.remove(f)
    sid = F.col(id_col).cast("string")
    shard = (h31_expr(F.concat(F.lit(salt), sid)) % n_shards).cast("int")
    order = h31_expr(F.concat(F.lit(salt + ":order"), sid))
    # group on the hash PREIMAGE of the shard id (bijective), not the id:
    # HashPartitioning(__route, n) then lands every shard alone in its own
    # task — the one-tar-per-task layout the old repartitionByRange gave,
    # WITHOUT range partitioning's boundary-sampling pass, which re-executed
    # the whole upstream plan (see write_jsonl_shards)
    route = F.element_at(
        F.array(*[F.lit(p) for p in _shard_hash_preimages(df.sparkSession, n_shards)]),
        shard + 1,
    )
    staged = (
        df.withColumn("__shard", shard)
        .withColumn("__ord", order)
        .withColumn("__route", route)
    )
    data_cols = list(df.columns)
    # member extensions must be unique per sample: a bare 'txt'/'bin' only
    # when one column of that Spark type exists, else column-qualified
    str_cols = [c for c, t in df.dtypes if t == "string"]
    bin_cols = [c for c, t in df.dtypes if t == "binary"]
    exts = dict(extensions or {})
    for c in str_cols:
        exts.setdefault(c, "txt" if len(str_cols) == 1 else f"{c}.txt")
    for c in bin_cols:
        exts.setdefault(c, "bin" if len(bin_cols) == 1 else f"{c}.bin")

    def _write_shard(pdf: _pd.DataFrame) -> _pd.DataFrame:
        k = int(pdf["__shard"].iloc[0])
        # id tie-break: two docs colliding on the 31-bit order hash must
        # still serialize in a run-independent order (byte-reproducibility)
        pdf = pdf.sort_values(["__ord", id_col], kind="mergesort")
        _os.makedirs(path, exist_ok=True)  # executor-side (shared FS)
        out = _os.path.join(path, f"shard-{k:05d}.tar")
        with _tarfile.open(out, "w") as tar:
            for _, row in pdf.iterrows():
                key = str(row[id_col])
                for c in data_cols:
                    v = row[c]
                    if v is None:
                        continue
                    if isinstance(v, (bytes, bytearray)):
                        payload = bytes(v)
                    elif isinstance(v, str):
                        payload = v.encode("utf-8")
                    else:
                        # pandas surfaces Spark numerics as numpy scalars
                        # (json-unserializable) and numeric NULLs as NaN
                        if isinstance(v, _np.generic):
                            v = v.item()
                        if isinstance(v, float) and _math.isnan(v):
                            continue
                        payload = _json.dumps(v, default=str).encode("utf-8")
                    info = _tarfile.TarInfo(name=f"{key}.{exts.get(c, f'{c}.json')}")
                    info.size = len(payload)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tar.addfile(info, _io.BytesIO(payload))
        return _pd.DataFrame({"shard": [k], "n_samples": [len(pdf)]})

    manifest = (
        staged.repartition(n_shards, "__route")
        .groupBy("__route")
        .applyInPandas(_write_shard, "shard int, n_samples long")
        .collect()
    )
    return sorted((r["shard"], r["n_samples"]) for r in manifest)
