"""Spans around the engine's layers and Spark's status stores, for traced runs.

A traced run wraps the engine's public functions from the benchmark process
only: each wrapper replaces the name in the module that *calls* it (``from …
import`` binds early, so ``readers.read_bucket_dataframe`` is patched in
``readers`` and again in ``routines``). Spans carry a parent link and the id of
the benchmark operation they belong to; each operation runs under its own Spark
job group, so the status stores can be joined back to it when the run ends.
Untraced runs never construct a :class:`Tracer`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time

# (module path, attribute or "Class.method", span name)
PATCHES = [
    ("sat_bucket_spark.readers", "read", "readers.read"),
    ("sat_bucket_spark.readers", "read_bucket_dataframe", "readers.read_bucket_dataframe"),
    ("sat_bucket_spark.routines", "read_bucket_dataframe", "readers.read_bucket_dataframe"),
    ("sat_bucket_spark.io", "read_bucket_info", "io.read_bucket_info"),
    ("sat_bucket_spark.partitioning", "Base2DPartitioning.pruning_predicate",
     "partitioning.pruning_predicate"),
    ("sat_bucket_spark.partitioning", "Base2DPartitioning.polygon_pruning_predicate",
     "partitioning.pruning_predicate"),
    ("sat_bucket_spark.readers", "filter_around_point", "filters.filter_around_point"),
    ("sat_bucket_spark.readers", "filter_by_extent", "filters.filter_by_extent"),
    ("sat_bucket_spark.filters", "filter_by_polygon", "filters.filter_by_polygon"),
    ("sat_bucket_spark.routines", "write_granules_bucket", "routines.write_granules_bucket"),
    ("sat_bucket_spark.routines", "merge_granule_buckets", "routines.merge_granule_buckets"),
    ("sat_bucket_spark.routines", "write_partitioned_dataset",
     "writers.write_partitioned_dataset"),
    ("sat_bucket_spark.analysis", "add_overpass_id", "analysis.add_overpass_id"),
    ("sat_bucket_spark.analysis", "overpass_to_grid", "analysis.overpass_to_grid"),
    ("sat_bucket_spark.gridding", "idw_to_grid", "gridding.idw_to_grid"),
    ("sat_bucket_spark.gridding", "to_grid_arrays", "gridding.to_grid_arrays"),
]

STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "input_records": lambda s: s.inputRecords(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _num(text: str) -> float:
    return float(text.replace(",", "").split()[0])


class Tracer:
    """Records spans in memory; joins them with Spark's status stores at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None

    # -- wrapping ------------------------------------------------------------
    def install(self):
        import importlib

        for module_name, attr, span_name in PATCHES:
            owner = importlib.import_module(module_name)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, span_name))

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- spans ---------------------------------------------------------------
    def _jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["id"] if self._op else None,
            "name": name,
            "jobs0": self._jobs_started(),
            "t0": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["jobs"] = self._jobs_started() - rec.pop("jobs0")
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str, phase: str, traced: bool = True):
        """One benchmark operation under its own job group."""
        self.active = traced
        rec = {"id": len(self.ops), "kind": kind, "phase": phase, "traced": traced}
        rec["group"] = f"{kind}#{rec['id']}"
        self.ops.append(rec)
        self._op = rec
        if traced:
            self.sc.setJobGroup(rec["group"], kind)
        try:
            with self.span(f"op.{kind}"):
                yield rec
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            self.active = False

    def action(self, df):
        """Collect a returned plan to the client."""
        with self.span("exec.action"):
            return df.toPandas()

    # -- status stores ---------------------------------------------------------
    def harvest(self):
        """Attach job, stage and scan counters to each traced operation."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        by_group = {op["group"]: op for op in self.ops if op["traced"]}
        for op in by_group.values():
            op.update(jobs=0, tasks=0, action_ms=0.0, job_ids=set(),
                      **{k: 0.0 for k in STAGE_FIELDS})
            op.update(partitions_read=0.0, rows_scanned=0.0)
        store = jsc.statusStore()
        for job in _seq(store.jobsList(None)):
            group = job.jobGroup()
            op = by_group.get(group.get()) if group.isDefined() else None
            if op is None:
                continue
            op["jobs"] += 1
            op["job_ids"].add(job.jobId())
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                op["action_ms"] += (job.completionTime().get().getTime()
                                    - job.submissionTime().get().getTime())
            for sid in _seq(job.stageIds()):
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                op["tasks"] += stage.numTasks()
                for key, get in STAGE_FIELDS.items():
                    op[key] += get(stage)
        job_to_op = {j: op for op in by_group.values() for j in op["job_ids"]}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql.executionsList()):
            jobs = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(ex.jobs().keySet())
            op = next((job_to_op[int(j)] for j in jobs if int(j) in job_to_op), None)
            if op is None:
                continue
            values = sql.executionMetrics(ex.executionId())
            for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith("Scan parquet"):
                    continue
                for m in _seq(node.metrics()):
                    if not values.contains(m.accumulatorId()):
                        continue
                    if m.name() == "number of partitions read":
                        op["partitions_read"] += _num(values.apply(m.accumulatorId()))
                    elif m.name() == "number of output rows":
                        op["rows_scanned"] += _num(values.apply(m.accumulatorId()))
        for op in by_group.values():
            op["job_ids"] = sorted(op["job_ids"])

    def write(self, path: str):
        with open(path, "w") as f:
            for op in self.ops:
                f.write(json.dumps({"type": "op", **op}, default=str) + "\n")
            for rec in self.spans:
                f.write(json.dumps({"type": "span", **rec}) + "\n")

    # -- summaries -------------------------------------------------------------
    def durations_ms(self, name: str) -> list[float]:
        return [(s["t1"] - s["t0"]) * 1e3 for s in self.spans if s["name"] == name and "t1" in s]

    def span_jobs(self, name: str) -> list[int]:
        return [s["jobs"] for s in self.spans if s["name"] == name and "jobs" in s]


class NullTracer:
    """What untraced runs use: no wrappers, no job groups, no spans."""

    @contextlib.contextmanager
    def op(self, kind: str, phase: str, traced: bool = False):
        yield None

    @staticmethod
    def action(df):
        return df.toPandas()


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def mean(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else default
