#!/usr/bin/env python
"""Executed-plan receipt for the PageRank round fusion (VERDICT r16 #3).

Runs the bench's own fixtures (q_pagerank: 10 undirected rounds at
fuse_rounds=8; q_pagerank_update's warm refresh: 4 rounds over the full
graph seeded from the 6-round standing map) with the loop's round-boundary
materializations instrumented, and writes each fused block's EXECUTED plan
(AQE finalized — the only plan in which exchange reuse is visible; the
pre-AQE print legitimately shows none) to plans/r17/:

  pagerank_fused_block_executed.txt          (cold run, blocks 1..2)
  pagerank_update_fused_block_executed.txt   (warm refresh, seeded block)

plus a one-line ReusedExchange census per block on stdout.

Usage: python tools/pagerank_receipt.py   (from the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import __spark_entry__ as entry_mod
    import benchcases as bc
    import sat_bucket_spark.operators.graph as graph_mod
    from sat_bucket_spark.operators.graph import pagerank, update_pagerank

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = bc.session("pagerank-receipt")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17"
    )
    os.makedirs(out_dir, exist_ok=True)

    real = graph_mod.round_cache

    def run_captured(label, fn):
        captured = []

        def capturing(frame):
            out = real(frame)
            captured.append(frame._jdf.queryExecution().executedPlan().toString())
            return out

        graph_mod.round_cache = capturing
        try:
            fn()
        finally:
            graph_mod.round_cache = real
        return captured

    # --- q_pagerank: 10 rounds, fuse 8 -> blocks at rounds 8 and 10 ----
    edges = entry_mod._pagerank_fixture_edges(spark, sf_dir)
    caps = run_captured(
        "pagerank",
        lambda: pagerank(
            edges, damping=0.85, iterations=10, directed=False,
            driver_threshold=0, fuse_rounds=8,
        ),
    )
    # captures: edge cache, base cache, block(rounds 1-8), block(rounds 9-10)
    with open(os.path.join(out_dir, "pagerank_fused_block_executed.txt"), "w") as fh:
        for i, p in enumerate(caps):
            kind = ["edge-invariant cache", "base-invariant cache"][i] if i < 2 else (
                f"fused block {i - 1}"
            )
            fh.write(f"=== capture {i}: {kind} "
                     f"(ReusedExchange={p.count('ReusedExchange')}, "
                     f"finalized={'isFinalPlan=true' in p}) ===\n{p}\n")
            print(f"pagerank capture {i} [{kind}]: "
                  f"ReusedExchange={p.count('ReusedExchange')} "
                  f"finalized={'isFinalPlan=true' in p}")

    # --- q_pagerank_update: warm 4-round refresh over old ∪ batch ------
    old = entry_mod._pagerank_fixture_edges(spark, sf_dir)
    full = old.unionByName(entry_mod._pagerank_update_new_edges(spark, sf_dir))
    standing = pagerank(
        old, damping=0.85, iterations=6, directed=False, driver_threshold=0,
    )
    caps = run_captured(
        "pagerank_update",
        lambda: update_pagerank(
            standing, full, damping=0.85, iterations=4, directed=False,
            driver_threshold=0,
        ),
    )
    with open(
        os.path.join(out_dir, "pagerank_update_fused_block_executed.txt"), "w"
    ) as fh:
        for i, p in enumerate(caps):
            fh.write(f"=== capture {i} "
                     f"(ReusedExchange={p.count('ReusedExchange')}, "
                     f"finalized={'isFinalPlan=true' in p}) ===\n{p}\n")
            print(f"pagerank_update capture {i}: "
                  f"ReusedExchange={p.count('ReusedExchange')} "
                  f"finalized={'isFinalPlan=true' in p} "
                  f"lines={len(p.splitlines())}")


if __name__ == "__main__":
    main()
