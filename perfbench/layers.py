"""Per-layer metrics of a traced run, named after the engine's modules.

Times are medians per call (or per operation); counts are medians per
operation unless the name says otherwise. ``exec.<kind>.*`` are means per
operation over every Spark job launched under one operation kind's job
groups; ``action_ms`` is the jobs' wall time from submission to completion. Which end-to-end metric
each layer should move, on which workload:

- ``readers``, ``io``, ``partitioning``: ``op_p50_ms`` on archive_query;
  barely ``ops_per_s`` on swath_analysis.
- ``filters``: ``op_tail_ms`` on archive_query.
- ``routines``, ``writers``: ``rows_per_s`` and ``stored_bytes_per_input_byte``
  on granule_ingest; ``writers`` also ``op_p50_ms`` on archive_query.
- ``analysis``, ``gridding``: ``ops_per_s`` on swath_analysis.
- ``session``: ``setup_s`` everywhere.
- ``exec.<kind>``: whichever metric owns the operation kind.
"""

from __future__ import annotations

from perfbench.trace import mean, median
from perfbench.workloads import QUERY_KINDS, TASK_KINDS

OP_KINDS = ("ingest_cycle",) + QUERY_KINDS + TASK_KINDS
EXEC_FIELDS = [
    ("action_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("input_bytes", "bytes"), ("input_records", "count"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
]

# traced minus untraced rounds of the same run
OVERHEAD = [
    ("op_p50_ms", "ms", "lower"), ("op_tail_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"), ("rows_per_s", "1/s", "higher"),
]

PER_LAYER = [
    ("readers.read_ms", "ms", "lower"),
    ("readers.open_ms", "ms", "lower"),
    ("readers.construction_jobs", "count", "lower"),
    ("io.bucket_info_ms", "ms", "lower"),
    ("partitioning.pruning_predicate_ms", "ms", "lower"),
    ("partitioning.cells_selected_ratio", "ratio", "lower"),
    ("filters.rows_returned_per_row_scanned", "ratio", "higher"),
    ("routines.write_granules_bucket_ms", "ms", "lower"),
    ("routines.merge_granule_buckets_ms", "ms", "lower"),
    ("routines.jobs_per_call", "count", "lower"),
    ("routines.granules_failed_per_attempted", "ratio", "lower"),
    ("writers.write_partitioned_dataset_ms", "ms", "lower"),
    ("writers.files_written", "count", "lower"),
    ("writers.bytes_written_per_input_byte", "ratio", "lower"),
    ("analysis.add_overpass_id_ms", "ms", "lower"),
    ("analysis.overpass_to_grid_ms", "ms", "lower"),
    ("analysis.construction_jobs", "count", "lower"),
    ("gridding.idw_to_grid_ms", "ms", "lower"),
    ("gridding.to_grid_arrays_ms", "ms", "lower"),
    ("session.get_spark_ms", "ms", "lower"),
    ("session.generate_s", "s", "lower"),
    ("session.archive_build_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    *[(f"{kind}.p50_ms", "ms", "lower") for kind in QUERY_KINDS],
    *[
        (f"exec.{kind}.{field}", unit, "lower")
        for kind in OP_KINDS
        for field, unit in EXEC_FIELDS
    ],
    ("canary.python_ms", "ms", "lower"),
    ("canary.spark_ms", "ms", "lower"),
    *[(f"overhead.{name}", unit, better) for name, unit, better in OVERHEAD],
]


def per_layer(run, traced: dict, plain: dict, canary: dict, archive: dict) -> dict:
    t = run.tracer
    traced_ops = [op for op in t.ops if op["traced"]]
    queries = [op for op in traced_ops if op["kind"] in QUERY_KINDS]
    latency = {}  # kind -> latencies of timed and coverage operations
    for rec in run.records:
        if rec["phase"] in ("timed", "coverage"):
            latency.setdefault(rec["kind"], []).append(rec["latency"] * 1e3)

    values = {
        "readers.read_ms": median(t.durations_ms("readers.read")),
        "readers.open_ms": median(t.durations_ms("readers.read_bucket_dataframe")),
        "readers.construction_jobs": median(t.span_jobs("readers.read")),
        "io.bucket_info_ms": median(t.durations_ms("io.read_bucket_info")),
        "partitioning.pruning_predicate_ms": median(
            t.durations_ms("partitioning.pruning_predicate")),
        "partitioning.cells_selected_ratio": median(
            op["partitions_read"] / archive["leaves"] for op in queries),
        "filters.rows_returned_per_row_scanned": (
            sum(op.get("rows", 0) for op in queries)
            / max(sum(op["rows_scanned"] for op in queries), 1.0)),
        "routines.write_granules_bucket_ms": median(
            t.durations_ms("routines.write_granules_bucket")),
        "routines.merge_granule_buckets_ms": median(
            t.durations_ms("routines.merge_granule_buckets")),
        "routines.jobs_per_call": median(
            t.span_jobs("routines.write_granules_bucket")
            + t.span_jobs("routines.merge_granule_buckets")),
        "routines.granules_failed_per_attempted": (
            sum(len(r["out"]["failures"]) for r in run.ingest)
            / max(sum(r["out"]["granules"] for r in run.ingest), 1)),
        "writers.write_partitioned_dataset_ms": median(
            t.durations_ms("writers.write_partitioned_dataset")),
        "writers.files_written": median(r["files_written"] for r in run.ingest),
        "writers.bytes_written_per_input_byte": (
            sum(r["bytes_written"] for r in run.ingest)
            / max(sum(r["out"]["raw_bytes"] for r in run.ingest), 1)),
        "analysis.add_overpass_id_ms": median(t.durations_ms("analysis.add_overpass_id")),
        "analysis.overpass_to_grid_ms": median(t.durations_ms("analysis.overpass_to_grid")),
        "analysis.construction_jobs": median(t.span_jobs("analysis.add_overpass_id")),
        "gridding.idw_to_grid_ms": median(t.durations_ms("gridding.idw_to_grid")),
        "gridding.to_grid_arrays_ms": median(t.durations_ms("gridding.to_grid_arrays")),
        "canary.python_ms": canary["python_ms"],
        "canary.spark_ms": canary["spark_ms"],
    }
    for name, _, _ in OVERHEAD:
        values[f"overhead.{name}"] = traced.get(name, 0.0) - plain.get(name, 0.0)
    for key, value in run.session.items():
        values[f"session.{key}"] = value
    for kind in QUERY_KINDS:
        values[f"{kind}.p50_ms"] = median(latency.get(kind, []))
    for kind in OP_KINDS:
        ops = [op for op in traced_ops if op["kind"] == kind]
        for field, _ in EXEC_FIELDS:
            values[f"exec.{kind}.{field}"] = mean(op[field] for op in ops)
    return {name: {"value": float(values[name]), "unit": unit} for name, unit, _ in PER_LAYER}
