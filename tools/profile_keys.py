#!/usr/bin/env python
"""Per-key structural profiler: wall secs + job/stage counts + plan census.

Usage: python tools/profile_keys.py KEY[,KEY...] [reps]
For each registered query: run with the bench methodology (noop sink,
benchcases.release_state between reps), then report median seconds, the number of
Spark jobs/stages the action scheduled, and a node histogram of the FINAL
adaptive physical plan (Exchange / Sort / SortAggregate / HashAggregate /
*EvalPython / join strategies) — the host-independent receipts the
optimization round keys its evidence on.
"""
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

NODE_RE = re.compile(
    r"\b(Exchange|ReusedExchange|Sort|SortAggregate|HashAggregate|"
    r"ObjectHashAggregate|BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct|BatchEvalPython|"
    r"ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas|"
    r"Window|Generate|Scan parquet|AQEShuffleRead)\b"
)


def plan_census(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    hist: dict[str, int] = {}
    for m in NODE_RE.finditer(plan):
        hist[m.group(1)] = hist.get(m.group(1), 0) + 1
    return hist


def main():
    keys = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    import benchcases as bc

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = bc.session("profile-keys")
    sc = spark.sparkContext
    queries = bc.entry_mod.queries()
    bc.materialize(queries["distinct_sort"](spark, sf_dir))
    for key in keys:
        fn = queries[key]
        secs, jobs, stages = [], None, None
        census = None
        for i in range(reps):
            group = f"prof-{key}-{i}"
            sc.setJobGroup(group, key)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            bc.materialize(df)
            secs.append(round(time.perf_counter() - t0, 3))
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            jobs = len(job_ids)
            stages = sum(
                len(tracker.getJobInfo(j).stageIds or []) for j in job_ids
                if tracker.getJobInfo(j) is not None
            )
            if census is None:
                census = plan_census(df)
            sc.setJobGroup(f"prof-{key}-done", "")
            bc.release_state(spark)
        print(
            json.dumps(
                {
                    "key": key,
                    "median_sec": round(statistics.median(secs), 3),
                    "reps": secs,
                    "jobs": jobs,
                    "stages": stages,
                    "plan": census,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
