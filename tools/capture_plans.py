#!/usr/bin/env python
"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]
With no query names, captures every registered query. Queries whose
construction is EAGER (pagerank family: route gates fire jobs at call
time) still produce a plan — the final-round truncated plan — which is
what the executed query actually runs.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    tag = sys.argv[1]
    names = sys.argv[2:]
    import benchcases as bc

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = bc.session("plan-capture")
    queries = bc.entry_mod.queries()
    if not names:
        names = list(queries)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {e!r}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(name, flush=True)


if __name__ == "__main__":
    main()
