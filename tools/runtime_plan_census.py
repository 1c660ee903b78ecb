#!/usr/bin/env python
"""Runtime-final plan census over EVERY declared query (r17 coverage).

The r16 per-key censuses used the pre-AQE `explain` print; this round
found AQE does NOT reliably demote runtime-small SortMergeJoins, so the
only trustworthy receipt is the AQE-FINAL plan of an executed frame.
For each `queries()` entry: collect() the frame (finalizes its own
QueryExecution), then record node counts that matter at scale —
SortMergeJoin, hash/range exchanges, SortAggregate, Python-eval nodes,
CartesianProduct/BroadcastNestedLoopJoin. One JSON line per query to
plans/r17/runtime_plan_census.jsonl.

Usage: python tools/runtime_plan_census.py [keys_csv]
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    import benchcases as bc

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = bc.session("runtime-plan-census")
    qs = bc.entry_mod.queries()
    keys = sys.argv[1].split(",") if len(sys.argv) > 1 else sorted(qs)
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r17", "runtime_plan_census.jsonl",
    )
    flagged = []
    with open(out_path, "w") as out:
        for name in keys:
            rec = {"key": name}
            try:
                df = qs[name](spark, sf_dir)
                n = len(df.collect())
                plan = df._jdf.queryExecution().executedPlan().toString()
                rec.update(
                    rows=n,
                    finalized="isFinalPlan=true" in plan or "AdaptiveSparkPlan" not in plan,
                    smj=plan.count("SortMergeJoin"),
                    hash_ex=plan.count("Exchange hashpartitioning"),
                    range_ex=plan.count("Exchange rangepartitioning"),
                    sort_agg=plan.count("SortAggregate"),
                    py_eval=plan.count("BatchEvalPython")
                    + plan.count("ArrowEvalPython"),
                    map_arrow=plan.count("MapInArrow") + plan.count("MapInPandas")
                    + plan.count("FlatMapGroupsInPandas"),
                    cartesian=plan.count("CartesianProduct")
                    + plan.count("BroadcastNestedLoopJoin"),
                )
                if rec["smj"] or rec["cartesian"]:
                    flagged.append((name, rec["smj"], rec["cartesian"]))
            except Exception as e:
                rec["error"] = str(e)[:200]
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(json.dumps(rec))
            bc.release_state(spark)
    print("FLAGGED (smj/cartesian):", flagged)


if __name__ == "__main__":
    main()
