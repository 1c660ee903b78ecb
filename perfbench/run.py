"""Benchmark of the bucket engine: ingest, archive queries and swath analysis.

Run from the root of a checkout:

    python3 perfbench/run.py --workload archive_query --seed 1 --seconds 5 --trace 0

One process is one run: it generates seeded granule files, starts a pinned
local Spark session, builds an archive through the engine, warms up, then
runs the workload's operations for ``--seconds`` (and at least
``MIN_ROUNDS`` rounds) and checks every output against numpy. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``.

Workloads (single closed-loop client, ``local[nproc]``):

- ``granule_ingest``: daily cycles of stage (``write_granules_bucket``), merge
  (``merge_granule_buckets``) and a freshness ``read`` of the day. An
  operation is one cycle.
- ``archive_query``: a seeded sequence of point-radius, region+time, polygon
  and global time-slice queries over a two-day archive, each collected to
  the client over a fixed projection. An operation is one query.
- ``swath_analysis``: a seeded sequence of point time series, overpass swath
  and hourly gridded cube tasks over the same kind of archive. An operation is
  one task.

End-to-end metrics, each measured on the workload's own timed operations:
``op_p50_ms`` (the median latency of each operation kind, averaged over the
workload's kinds) and ``op_tail_ms`` (the highest percentile of all latencies
with at least ten samples beyond it, or ``op_p50_ms`` when a run has too few),
``ops_per_s`` and ``rows_per_s`` over the summed operation time; ``setup_s``
from process start to the first timed operation; ``peak_rss_mb`` of the driver
JVM plus this process; and two exact archive properties,
``stored_bytes_per_input_byte`` and ``archive_files_per_partition``.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench", "work")
TRACES = os.path.join(ROOT, ".perfbench", "traces")
DEADLINE_S = 170

# A granule has the footprint count of a real one (~1000 scans x 49), but a day
# has 2 orbits, not ~16: at 16 the archive build alone takes ~40 s on 4 cores,
# and a run must stay well under a minute. The archive stays file-count bound
# (about 140 leaf directories a day) and read() is still about half a query.
GRANULES_PER_DAY = 2
N_ALONG = 1000
MAX_CORRUPT = 3
ARCHIVE_DAYS = 2  # archive_query and swath_analysis
QUERIES_PER_KIND = 4
TASKS_PER_KIND = 3
# a run times at least this many rounds, however long they take: two ingest
# cycles, and enough queries that op_tail_ms is a percentile above the median
MIN_ROUNDS = {"granule_ingest": 2, "archive_query": 6, "swath_analysis": 2}
# untimed rounds before the timed phase (granule_ingest warms up with the build
# cycle); query latency still falls for a few rounds after the first, cold one
WARMUP_ROUNDS = {"granule_ingest": 0, "archive_query": 2, "swath_analysis": 1}
WORKLOADS = ("granule_ingest", "archive_query", "swath_analysis")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


T0 = time.perf_counter() - process_age_s()


class Timeout(Exception):
    pass


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with 10 samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11
    if k < (n - 1) / 2:
        return statistics.median(xs), 50.0, n
    return xs[k], 100.0 * (k + 1) / n, n


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(proc) -> int | None:
    """The driver JVM: the gateway process, or its java child."""
    pids = [proc.pid]
    try:
        with open(f"/proc/{proc.pid}/task/{proc.pid}/children") as f:
            pids += [int(p) for p in f.read().split()]
    except OSError:
        pass
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def start_spark(cores: int):
    from sat_bucket_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # initial heap = maximum heap, so peak RSS does not hinge on when G1
        # decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms1g -Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


class Run:
    """One benchmark process: set-up, timed phase, checks, metrics."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.session: dict[str, float] = {}
        self.problems: list[str] = []
        self.unexpected: list[str] = []
        self.records: list[dict] = []
        self.ingest: list[dict] = []
        self.expect_cache: dict = {}
        # point anchors skipped because their radius would trip the known
        # point-pruning defect (workloads._point_radius), per operation kind
        self.defect_skips: dict[str, int] = {}

    # -- operations ------------------------------------------------------------
    def op(self, kind: str, phase: str, fn, check, traced: bool):
        """Run one operation; its latency excludes the check."""
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind, phase, traced) as traced_op:
                out = fn()
        except Timeout:
            raise
        except Exception:
            self.unexpected.append(f"{kind} ({phase}): {traceback.format_exc(limit=4)}")
            return None
        latency = time.perf_counter() - t0
        problems = check(out)
        self.problems += [f"{kind} ({phase}): {p}" for p in problems]
        if traced_op is not None:
            traced_op["rows"] = out["rows"]
        rec = {"kind": kind, "phase": phase, "latency": latency, "rows": out["rows"],
               "traced": traced, "out": out}
        self.records.append(rec)
        return rec

    def cycle_op(self, days: list[int], phase: str, traced: bool):
        from perfbench import workloads as wl

        before = (wl.leaf_stats(self.archive.staged), wl.leaf_stats(self.archive.merged)) \
            if traced else None
        rec = self.op(
            "ingest_cycle", phase,
            lambda: wl.ingest_cycle(self.spark, self.tracer, self.archive, days),
            lambda out: wl.check_ingest(self.granules, out), traced,
        )
        if rec is not None and traced:
            after = (wl.leaf_stats(self.archive.staged), wl.leaf_stats(self.archive.merged))
            rec["files_written"] = sum(a[1] - b[1] for a, b in zip(after, before))
            rec["bytes_written"] = sum(a[2] - b[2] for a, b in zip(after, before))
            self.ingest.append(rec)
        return rec

    def query_op(self, q: dict, phase: str, traced: bool):
        from perfbench import workloads as wl

        def check(out):
            key = id(q)
            if key not in self.expect_cache:
                self.expect_cache[key] = wl.query_expectation(self.granules, self.archive.rows(), q)
            return wl.check_query(q, out, self.expect_cache[key])

        return self.op(q["kind"], phase,
                       lambda: wl.run_query(self.spark, self.tracer, self.archive, q), check, traced)

    def task_op(self, task: dict, phase: str, traced: bool):
        from perfbench import workloads as wl

        def check(out):
            key = id(task)
            if key not in self.expect_cache:
                self.expect_cache[key] = wl.task_expectation(
                    self.granules, self.archive.rows(), task)
            return wl.check_task(task, out, self.expect_cache[key])

        return self.op(task["kind"], phase,
                       lambda: wl.run_task(self.spark, self.tracer, self.archive, task),
                       check, traced)

    # -- phases ------------------------------------------------------------------
    def setup(self):
        from perfbench import gen, trace
        from perfbench import workloads as wl

        t = time.perf_counter()
        n_days = ARCHIVE_DAYS
        if self.workload == "granule_ingest":
            n_days = int(math.ceil(self.args.seconds / 1.5)) + MIN_ROUNDS[self.workload] + 1
        self.granules = gen.generate(
            os.path.join(WORK, "granules"), self.seed, n_days=n_days,
            granules_per_day=GRANULES_PER_DAY, n_along=N_ALONG, max_corrupt=MAX_CORRUPT,
        )
        self.session["generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.spark = start_spark(self.cores)
        self.session["get_spark_ms"] = (time.perf_counter() - t) * 1e3
        self.tracer = trace.Tracer(self.spark) if self.trace else trace.NullTracer()
        if self.trace:
            self.tracer.install()

        t = time.perf_counter()
        self.archive = wl.Archive(os.path.join(WORK, "buckets"), self.granules, [])
        build = [0] if self.workload == "granule_ingest" else list(range(ARCHIVE_DAYS))
        self.next_day = len(build)
        self._need(self.cycle_op(build, "build", self.trace), "archive build")
        self.session["archive_build_s"] = time.perf_counter() - t

        t = time.perf_counter()
        if self.workload == "archive_query":
            self.rounds = wl.rounds(self.seed, len(wl.QUERY_KINDS), QUERIES_PER_KIND)
        elif self.workload == "swath_analysis":
            self.rounds = wl.rounds(self.seed, len(wl.TASK_KINDS), TASKS_PER_KIND)
        for _ in range(WARMUP_ROUNDS[self.workload]):
            self.run_round("warmup", self.trace)
        self.session["warmup_s"] = time.perf_counter() - t

    @functools.cached_property
    def queries(self) -> list[dict]:
        from perfbench import workloads as wl

        queries, self.defect_skips["query_point"] = wl.make_queries(
            self.seed, self.granules, self.archive.rows(), QUERIES_PER_KIND)
        return queries

    @functools.cached_property
    def tasks(self) -> list[dict]:
        from perfbench import workloads as wl

        tasks, self.defect_skips["task_timeseries"] = wl.make_tasks(
            self.seed, self.granules, self.archive.rows(), TASKS_PER_KIND)
        return tasks

    def _need(self, rec, what: str):
        if rec is None:
            raise RuntimeError(f"{what} failed:\n" + "\n".join(self.unexpected))

    def run_round(self, phase: str, traced: bool) -> int:
        """One operation of each of the workload's kinds; returns how many ran."""
        if self.workload == "granule_ingest":
            if self.next_day >= len(self.granules.paths_by_day):
                return 0
            self.cycle_op([self.next_day], phase, traced)
            self.next_day += 1
            return 1
        indices = next(self.rounds)
        for i in indices:
            if self.workload == "archive_query":
                self.query_op(self.queries[i], phase, traced)
            else:
                self.task_op(self.tasks[i], phase, traced)
        return len(indices)

    def timed_phase(self):
        """Whole rounds until ``--seconds`` have passed, so every kind weighs the same."""
        self.setup_s = time.perf_counter() - T0
        t_begin = time.perf_counter()
        self.attempted = 0
        r = 0
        # traced runs alternate traced and untraced rounds (MIN_ROUNDS gives at
        # least one of each): the difference between the two is the tracing overhead
        while time.perf_counter() - t_begin < self.args.seconds or r < MIN_ROUNDS[self.workload]:
            n = self.run_round("timed", self.trace and r % 2 == 0)
            if n == 0:
                break
            self.attempted += n
            r += 1

    def coverage(self):
        """Traced runs only: one operation of every kind this workload did not trace."""
        from perfbench import workloads as wl

        done = {op["kind"] for op in self.tracer.ops if op["traced"]}
        for k, kind in enumerate(wl.QUERY_KINDS):
            if kind not in done:
                self.query_op(self.queries[k * QUERIES_PER_KIND], "coverage", True)
        for k, kind in enumerate(wl.TASK_KINDS):
            if kind not in done:
                self.task_op(self.tasks[k * TASKS_PER_KIND], "coverage", True)

    def canary(self) -> dict:
        """Host-speed diagnostic: a fixed Python loop and a fixed Spark job."""
        py, sp = [], []
        for _ in range(3):
            t = time.perf_counter()
            sum(i * i for i in range(1_000_000))
            py.append(time.perf_counter() - t)
            t = time.perf_counter()
            self.spark.range(5_000_000).selectExpr("sum(id % 7)").collect()
            sp.append(time.perf_counter() - t)
        return {"python_ms": statistics.median(py) * 1e3, "spark_ms": statistics.median(sp) * 1e3}

    # -- metrics -------------------------------------------------------------------
    def op_stats(self, recs: list[dict]) -> dict:
        lat = [r["latency"] for r in recs]
        if not lat:
            return {}
        by_kind: dict[str, list[float]] = {}
        for r in recs:
            by_kind.setdefault(r["kind"], []).append(r["latency"])
        kind_p50 = {k: statistics.median(v) for k, v in by_kind.items()}
        # a pooled median would jump between kinds of very different cost
        p50 = statistics.fmean(kind_p50.values())
        value, pct, n = tail(lat)
        total = sum(lat)
        return {
            "op_p50_ms": p50 * 1e3,
            "op_tail_ms": (value if pct > 50.0 else p50) * 1e3,
            "tail_percentile": pct,
            "samples": n,
            "kind_p50_ms": {k: v * 1e3 for k, v in kind_p50.items()},
            "ops_per_s": len(lat) / total,
            "rows_per_s": sum(r["rows"] for r in recs) / total,
        }

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = jvm_pid(SparkContext._gateway.proc)
        self.rss_kb = {"python": vm_hwm_kb("self"), "jvm": vm_hwm_kb(pid) if pid else 0}
        return sum(self.rss_kb.values()) / 1024.0

    def archive_metrics(self) -> dict:
        from perfbench import workloads as wl

        leaves, files, size = wl.leaf_stats(self.archive.merged)
        raw = sum(self.granules.raw_bytes_by_day[d] for d in self.archive.days)
        return {"stored_bytes_per_input_byte": size / raw,
                "archive_files_per_partition": files / leaves, "leaves": leaves}

    def end_to_end(self, stats: dict, archive: dict, rss: float) -> dict:
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "op_p50_ms": (stats["op_p50_ms"], "ms"),
            "op_tail_ms": (stats["op_tail_ms"], "ms"),
            "ops_per_s": (stats["ops_per_s"], "1/s"),
            "rows_per_s": (stats["rows_per_s"], "1/s"),
            "stored_bytes_per_input_byte": (archive["stored_bytes_per_input_byte"], "ratio"),
            "archive_files_per_partition": (archive["archive_files_per_partition"], "count"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    def main(self) -> dict:
        self.setup()
        self.timed_phase()
        timed = [r for r in self.records if r["phase"] == "timed"]
        traced_stats = self.op_stats([r for r in timed if r["traced"]])
        plain_stats = self.op_stats([r for r in timed if not r["traced"]])
        canary = self.canary()
        archive = self.archive_metrics()
        rss = self.peak_rss_mb()
        if self.trace:
            self.coverage()
            self.tracer.harvest()
            from perfbench.layers import per_layer

            metrics = per_layer(self, traced_stats, plain_stats, canary, archive)
            os.makedirs(TRACES, exist_ok=True)
            trace_path = os.path.join(TRACES, f"{self.workload}-seed{self.seed}.jsonl")
            self.tracer.write(trace_path)
        else:
            metrics = self.end_to_end(plain_stats, archive, rss)
            trace_path = None
        if not timed:
            self.problems.append("no timed operation completed")
        diag = {
            "workload": self.workload, "seed": self.seed, "cores": self.cores,
            "timed_ops": len(timed), "setup_s": self.setup_s,
            "tail_percentile": plain_stats.get("tail_percentile"),
            "tail_samples": plain_stats.get("samples"),
            "kind_p50_ms": plain_stats.get("kind_p50_ms"),
            "planted_granule_failures": sum(
                len(self.granules.corrupt_by_day[d]) for d in self.archive.days),
            "point_anchors_skipped_for_defect": self.defect_skips,
            "canary": canary, "session": self.session, "rss_kb": self.rss_kb,
            "archive_leaves": archive["leaves"],
            "problems": self.problems[:20], "unexpected": self.unexpected[:5],
            "trace_file": trace_path,
        }
        print("# perfbench " + json.dumps(diag, default=str), flush=True)
        return {
            "correct": not self.problems,
            "attempted": max(self.attempted, 1),
            "failed": len(self.unexpected),
            "metrics": metrics,
        }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sat_bucket_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(sat_bucket_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: sat_bucket_spark was not loaded from this checkout", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Spark's Python workers import the benchmark's ingest callable and the
    # engine from this checkout; scratch files stay inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (spark-submit's launcher too) keeps its scratch files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"

    def on_alarm(signum, frame):
        raise Timeout(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    run = Run(args)
    code = 0
    try:
        result = run.main()
    except Exception:
        traceback.print_exc()
        result, code = None, 1
    finally:
        signal.alarm(0)
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(WORK, ignore_errors=True)
    if result is not None:
        print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
