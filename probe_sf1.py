#!/usr/bin/env python
"""sf1 scaling probe: catch super-linear behavior the sf0.1 bench can't see.

The driver ships testdata up to sf0.1 only, so this probe synthesizes an
sf1-EQUIVALENT corpus by replicating the sf0.1 tables ``--replicas`` times
(default 10) with id remapping (copy i shifts ids by i * stride), then runs
the flagship COMPOSED keys; registry and video keys run once cold and once
warm, reporting the warm reading. One JSON line, mirroring bench.py's
contract:

  {"metric": "probe_total_sec", "value": N, "unit": "sec",
   "queries": {...}, "recall": {"ann_recall_build": ..,
   "ann_recall_append": ..}, "replicas": R, "base_sf": 0.1,
   "canary": {...}}

The recall block is UNTIMED gate values (floor-asserted in-run); the
canary block is the host-factor reading shared with bench.py. Neither is
part of "value". The cases and their gates live in benchcases.py; the
probe runs them with ``ctx.probe`` set.

Caveats, by design (record them with the readings in BASELINE.md):

- Replication makes every document an exact R-copy duplicate, so dedup
  keys measure their WORST-CASE posture (every span duplicated, every
  image cluster R x bigger) — that is the point: quadratic pair growth or
  a skew-fragile flag join shows up here, not at sf0.1.
- ``image_near_dup`` pair volume grows ~R^2 on the planted clusters
  (semantics are "all pairs"); ``image_dedup`` on the same data is the
  scale path and should grow ~R. The probe runs both so BASELINE.md can
  show the divergence.
- The graph, routing and growth caveats sit with the probe-only rows in
  benchcases.py.

Usage: python probe_sf1.py [--replicas 10] [--keys k1,k2,...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

import benchcases as bc  # noqa: E402

DEFAULT_KEYS = [
    "minhash_lsh_dedup",
    "edit_dedup",
    "dup_spans_hashed",
    "image_near_dup",
    "image_dedup",
    "video_hash",
    "video_dedup",
    "wet_curate",
    "warc_html_curate",
    "media_curate",
    "pagerank",
    "pagerank_directed",
    "host_rank",
    "dup_clusters",
    "ann_index_search",
    "minhash_index_probe",
    "bucket_write",
    "bucket_merge",
    "bucket_stream_ingest",
    "stream_sessionize",
    "bloom_index_probe",
    "stream_archive_gate",
    "bm25_index_probe",
    "semantic_index_probe",
    "ivfpq_drift_retrain",
    "cc_update",
    "pagerank_update",
    "stream_vector_gate",
]

# (table, id column shifted per copy) — None: copies stay exact duplicates
SCALED_TABLES = [
    ("documents", "doc_id"),
    ("events", None),
    ("orders", "o_orderkey"),
    ("embeddings", "vec_id"),
]
CANARY_KINDS = ("host", "write")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--keys", type=str, default=",".join(DEFAULT_KEYS))
    args = ap.parse_args()
    keys = [k for k in args.keys.split(",") if k]

    base = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = bc.session("sat-bucket-spark-probe-sf1")
    # host-factor canaries shared with bench.py (same frozen workloads, same
    # pinned references) — probe readings carry the same co-tenant noise as
    # bench readings, so they get the same self-normalization
    work = tempfile.mkdtemp(prefix="probe_sf1_")
    pre = {k: bc.canary_median(spark, work, k) for k in CANARY_KINDS}
    try:
        scaled = os.path.join(work, "scaled")
        for table, id_col in SCALED_TABLES:
            bc.replicate_table(spark, base, scaled, table, id_col, args.replicas)
        ctx = bc.Ctx(spark, scaled, probe=True, replicas=args.replicas)
        for case in bc.resolve(keys, probe=True):
            ctx.run_case(case)
        post = {k: bc.canary_median(spark, work, k) for k in CANARY_KINDS}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "probe_total_sec",
                "value": round(sum(ctx.timings.values()), 3),
                "unit": "sec",
                "queries": ctx.timings,
                "recall": ctx.recall,
                "replicas": args.replicas,
                "base_sf": 0.1,
                "canary": bc.canary_fields(pre, post),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
