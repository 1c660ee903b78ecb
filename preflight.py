#!/usr/bin/env python
"""End-of-round pre-flight: fail LOUDLY before the driver's gates can.

Round 2 lost its entire correctness+bench signal to one un-smoke-tested
loader line (a timestamp decode that assumed the previous round's physical
parquet type). This script is the guard: it exercises the exact surfaces
the driver grades, against the ACTUAL shipped parquet files, and exits
non-zero on the first problem.

Checks, in order:

1. `entry(spark)` runs at sf0.001 and yields rows with a stable schema
   (the driver's smoke check).
2. Every `queries()` entry has an `oracle_sql()` mirror.
3. The full dtype-strict parity suite (tests/test_entry_parity.py) —
   every registered query vs its DuckDB oracle — at
   `$SPARK_GRAFT_TEST_SF_DIR` (default sf0.001). This reads the shipped
   parquet footers, so a physical-type drift in the testdata breaks HERE,
   not in the driver's CORRECTNESS run.
4. `bench.py` at `$PREFLIGHT_BENCH_SF_DIR` (default sf0.001 for speed):
   rc == 0 and the output tail parses as the one-line JSON contract with
   a timing for every key a full run records (benchcases.bench_keys():
   the registry keys and the composed cases alike).

Usage:  python preflight.py            # full pre-flight (~4 min)
        python preflight.py --no-bench # parity only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
PARITY_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
BENCH_SF = os.environ.get("PREFLIGHT_BENCH_SF_DIR", "/root/testdata/sf0.001")


def fail(msg: str) -> None:
    print(f"PREFLIGHT FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def check_registry() -> None:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    missing = sorted(set(q) - set(o))
    if missing:
        fail(f"queries() entries without oracle_sql(): {missing}")
    print(f"preflight: registry ok — {len(q)} queries, all with oracles; "
          f"driver window = first 50")


def run_parity() -> None:
    env = dict(os.environ, SPARK_GRAFT_TEST_SF_DIR=PARITY_SF)
    print(f"preflight: parity suite vs {PARITY_SF} (dtype-strict, all queries)")
    rc = subprocess.call(
        [sys.executable, "-m", "pytest", "tests/test_entry_parity.py", "-x", "-q"],
        cwd=REPO,
        env=env,
    )
    if rc != 0:
        fail(f"parity suite failed (rc={rc}) against {PARITY_SF}")


def run_bench() -> None:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=BENCH_SF)
    print(f"preflight: bench.py at {BENCH_SF}")
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        fail(f"bench.py rc={proc.returncode}")
    line = next(
        (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
        None,
    )
    if line is None:
        fail("bench.py printed no JSON line")
    try:
        parsed = json.loads(line)
    except json.JSONDecodeError as e:
        fail(f"bench JSON unparseable: {e}")
    for key in ("metric", "value", "unit", "queries", "sf"):
        if key not in parsed:
            fail(f"bench JSON missing key {key!r}")
    import benchcases

    missing = [q for q in benchcases.bench_keys() if q not in parsed["queries"]]
    if missing:
        fail(f"bench JSON missing per-query timings: {missing}")
    print(f"preflight: bench ok — {len(parsed['queries'])} queries, "
          f"total {parsed['value']}s at sf={parsed['sf']}")


def main() -> None:
    check_registry()
    run_parity()
    if "--no-bench" not in sys.argv:
        run_bench()
    print("PREFLIGHT OK")


if __name__ == "__main__":
    main()
