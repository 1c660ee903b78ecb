"""Timed bench cases: the one registry that bench.py and probe_sf1.py run.

A case names the key(s) it records and has three parts:

- ``setup(ctx) -> state``: untimed fixture building;
- ``run(ctx, state)``: the timed part; it times each recorded key with
  ``ctx.time(key, fn, ...)``, which returns what ``fn`` returns;
- ``check(ctx, state)``: the untimed integrity gates.

Tags:

- ``file_count_bound``: the keys commit or open hundreds of small files, so
  bench.py records them as the median of STRESS_REPS reps under storage
  stress (see the storage-state note below);
- ``registry``: a plain ``queries()`` key timed through the noop sink;
- ``probe_only``: runs only under probe_sf1.py;
- ``warm``: probe_sf1.py runs it twice and records the second (warm) run;
  every registry case carries it.

``ctx.probe`` is True under probe_sf1.py, whose corpus is the shipped sf
replicated ``ctx.replicas`` times. A case the two runners share keeps one
timed run and one set of gates: the probe scales the fixture and adds its
maintenance gates, and only bench.py applies the sf0.1-sized job-count
bounds. ``keys`` lists what a case records under bench.py (under the probe
for a probe_only case) and ``probe_keys`` what it records under the probe
when that differs; ``ctx.time`` refuses an undeclared key.

The module also holds, once each, what both runners and tools/ share:
``session``, ``materialize``, ``release_state``, ``video_corpus``,
``replicate_table`` and the three frozen canaries behind one
median-of-reps helper.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass
from functools import partial, reduce
from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from sat_bucket_spark import LonLatPartitioning, merge_granule_buckets, read, write_bucket
from sat_bucket_spark.maintenance import index_report
from sat_bucket_spark.operators import dedup
from sat_bucket_spark.operators import similarity as sim
from sat_bucket_spark.operators.audio import audio_quality_features
from sat_bucket_spark.operators.graph import (
    connected_components,
    pagerank,
    update_connected_components,
    update_pagerank,
)
from sat_bucket_spark.operators.imagehash import (
    image_profile_table,
    video_dedup,
    video_hash_table,
)
from sat_bucket_spark.operators.jpeg import encode_jpeg_baseline
from sat_bucket_spark.operators.metrics import observe_funnel
from sat_bucket_spark.operators.multimodal import build_avi_bytes
from sat_bucket_spark.operators.relevance import (
    append_to_bm25_index,
    bm25_index_topk,
    build_bm25_index,
    compact_bm25_index,
)
from sat_bucket_spark.operators.sampling import leakage_safe_splits
from sat_bucket_spark.operators.text import gopher_quality_flags
from sat_bucket_spark.operators.urls import (
    host_link_edges,
    url_dedup,
    url_host_expr,
    url_quality_flags,
)
from sat_bucket_spark.session import get_spark
from sat_bucket_spark.streaming.curation import stream_dedup_against_indexes
from sat_bucket_spark.streaming.ingest import stream_write_bucket
from sat_bucket_spark.streaming.sessions import streaming_sessionize_stateful
from sat_bucket_spark.warc import build_warc_bytes, read_warc_html, read_wet
from sat_bucket_spark.writers import write_jsonl_shards

FILE_COUNT_BOUND = "file_count_bound"
REGISTRY = "registry"
PROBE_ONLY = "probe_only"
WARM = "warm"

# --- storage-state robustness (VERDICT r13 task #1) --------------------------
# file_count_bound keys commit or open hundreds of small files (hive
# partition dirs, index posting/band/code files), so their single-shot
# timing tracks the host's metadata-storage state, not repo code —
# BENCH_r13.json recorded 5 band breaches (2.2-3.1x) on keys whose code had
# not changed, in a window its own smallfiles canary read 1.80. When the
# in-run smallfiles_factor exceeds STRESS_THRESHOLD, each of these keys is
# recorded as the MEDIAN of STRESS_REPS in-run reps with the per-rep
# readings kept in the artifact ("reps" field) — one metadata stall can no
# longer enter the permanent record as the key's number, and a reader of
# the JSON alone can see the spread that justified the median.
STRESS_THRESHOLD = 1.4
STRESS_REPS = 3

# Recall@10 floor for the persisted-ANN rows (bench: after build; probe:
# after build AND after append). Pinned from the measured healthy index on
# this corpus (uniform random vectors, the PQ worst case); chance level is
# k/N ~ 0.005 at sf0.1 and ~2e-4 at 10 replicas.
ANN_RECALL_FLOOR = 0.10


# --- shared harness helpers ---------------------------------------------------


def session(app_name: str):
    """The harness session: local[$SPARK_GRAFT_CPUS], as many shuffle partitions."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(df) -> None:
    """Full execution through the noop sink: no driver collect is timed."""
    df.write.format("noop").mode("overwrite").save()


def release_state(spark) -> None:
    """Benchmark hygiene: measure every query from a clean executor state.

    Operators that break lineage (localCheckpoint in the LSH/SimHash paths,
    persist in the ingest routine) pin executor memory until the caller
    releases them; across 35+ sequential queries that accumulation degrades
    later queries 2-4x (GC pressure), which would charge query N for query
    N-1's retained state."""
    spark.catalog.clearCache()
    for _id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist()


def replicate_table(spark, src_dir, out_dir, table, id_col, replicas):
    """Write ``table`` replicated ``replicas`` times; copy i shifts ``id_col`` by i * stride."""
    df = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
    if id_col is None:
        parts = [df] * replicas
    else:
        stride = df.agg(F.max(id_col)).collect()[0][0] + 1
        parts = [
            df.withColumn(id_col, (F.col(id_col) + F.lit(i * stride)).cast("long"))
            for i in range(replicas)
        ]
    scaled = reduce(DataFrame.unionByName, parts)
    scaled.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))


def video_corpus(docs, n_clips: int = 24, subset_mod: int = 3):
    """Deterministic MJPEG-AVI corpus over the documents table.

    ``n_clips`` distinct 3-frame 16x16 clips are encoded ONCE driver-side
    and attached as binary literals via element_at(doc_id % n_clips) —
    every clip a planted duplicate cluster, the worst case for dedup.
    ``subset_mod`` thins the corpus (every Nth doc) to keep the bench's
    real-decode budget at ~60k frame decodes at sf0.1. The bench and the
    scaling probe measure this one fixture.
    """
    rng = np.random.default_rng(8)
    avis = []
    for _ in range(n_clips):
        frames = [
            encode_jpeg_baseline(
                rng.integers(0, 255, (16, 16)).astype(np.uint8),
                np.ones((8, 8)),
                np.ones((8, 8)),
            )
            for _f in range(3)
        ]
        avis.append(build_avi_bytes(frames, 16, 16))
    # index by the post-thinning ordinal (doc_id / subset_mod), not doc_id
    # itself: surviving ids are multiples of subset_mod, and any common
    # factor with n_clips would silently drop clips from the corpus
    payload = F.element_at(
        F.array(*[F.lit(a) for a in avis]),
        (F.floor(F.col("doc_id") / subset_mod) % n_clips + 1).cast("int"),
    )
    return (
        docs.where(F.col("doc_id") % subset_mod == 0)
        .select("doc_id")
        .withColumn("payload", payload)
    )


# --- frozen canaries ----------------------------------------------------------
# Three FROZEN pure-Spark workloads whose plans cannot drift with repo code:
# their timings move only when the HOST does. Every run carries its own
# host reading and closing comparisons self-normalize (factor = mean of the
# pre and post medians / pinned ref). DO NOT change a workload, its rep
# count, or its *_REF_SEC without re-pinning the reference and noting it in
# BASELINE.md — a factor is only meaningful against a fixed definition. The
# factors are comparable ONLY at the standard session shape (local[32], the
# driver default): fewer cores slow a canary exactly like they slow the
# queries, which is correct for within-run normalization but not against
# the 32-core reference pins.
#
# CPU canary (VERDICT r9 task #1): r9 burned four full bench runs on a
# uniform ~1.28x co-tenant shift that took a manual worktree re-bench of the
# r8 commit to attribute. Workload: 32-partition hash aggregate over 20M
# synthetic rows (shuffle + whole-stage codegen arithmetic) + an
# 8-partition 2M-row parquet write (task scheduling + local I/O) — the two
# cost classes the query set pays. r11: reps raised 3 -> 5 per the r10
# calibration finding (medians-of-3 of ±25% reps carry ~±15% factor noise —
# enough to overcorrect a same-day comparison; medians-of-5 tighten to
# ~±10% for +2 canary runs/bench). The WORKLOAD and reference are
# unchanged: the median estimates the same population quantity, so
# CANARY_REF_SEC stays comparable (noted in BASELINE.md "Bench notes").
CANARY_REPS = 5
# Pinned 2026-08-15 (r10 session): median of 6 warm reps on this host at
# 5/15-min load 2.6/2.4 (quiet by the r9 protocol's uptime check); reps
# spanned 1.75-2.80 s — single-rep jitter is ±25%, which is why the factor
# uses pre+post medians of CANARY_REPS each, not one shot.
CANARY_REF_SEC = 2.36


def _cpu_canary(spark, out_dir: str) -> None:
    row = (
        spark.range(0, 20_000_000, 1, 32)
        .select(
            ((F.col("id") * 2654435761) % 1_000_003).alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("s").alias("sv"),
            F.sum("c").alias("sc"),
            F.count(F.lit(1)).alias("nk"),
        )
        .collect()[0]
    )
    # fixed-output integrity pin: a changed result means the workload
    # definition drifted and the factor is no longer comparable
    assert (row["sc"], row["nk"]) == (20_000_000, 1_000_003), row
    (
        spark.range(0, 2_000_000, 1, 8)
        .selectExpr("id", "id * 3 as y")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "canary_write"))
    )


# Write canary (VERDICT r11 task #6): the CPU canary is BLIND to heavy-write
# disk contention — an r11 final run carried a 39.7 s bucket_write I/O
# stall (band 2.3-4.6) at a benign CPU factor of 0.726 and the discard
# needed a manual 5-rep re-measure. This workload writes ~100 MB of
# incompressible parquet (md5-hex strings defeat snappy) across 8 tasks.
# Kept apart from the CPU canary so the established CPU factor stays
# comparable with every r9+ record; a wild bucket/ingest key with a benign
# CPU factor but an elevated write_factor is a storage-stall discard,
# receipted same-session — re-measure, don't adjust.
WRITE_CANARY_REPS = 3
# Pinned 2026-08-15 (r12 session): median of 5 warm reps 1.31-1.60 s on
# this host at 5/15-min load 4.6/4.0 (~208 MB written per rep; cold first
# rep 5.64 s excluded — the median-of-3 absorbs one cold shot). See
# BASELINE.md "Bench notes" for the pin protocol and the load caveat.
WRITE_CANARY_REF_SEC = 1.50


def _write_canary(spark, out_dir: str) -> None:
    (
        spark.range(0, 3_000_000, 1, 8)
        .select(
            "id",
            F.md5(F.col("id").cast("string")).alias("a"),
            F.md5((F.col("id") + 7).cast("string")).alias("b"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "canary_write_io"))
    )


# Small-files canary (VERDICT r12 task #2): the bulk write canary streams
# ~200 MB into 8 files — blind to FILE-COUNT-bound storage pressure, which
# is what the bucket family actually pays: bucket_write/merge/stream_ingest
# commit ~648 hive directories of small files each. The r12 verdict
# reproduced a 1.7-1.9x bucket-family drift across two independent full
# runs on bit-identical code with BOTH other canaries benign. This workload
# writes 648 partition directories x 1 small (~25 KB) file from 8 tasks (the
# same repartition(8, col) + partitionBy shape as write_bucket), so a wild
# bucket key with benign CPU and bulk-write factors but an elevated
# smallfiles_factor is a storage-metadata-stall discard.
SMALLFILES_CANARY_REPS = 3
# Pinned 2026-08-16 (r13 session): median of 5 warm reps on this host —
# see BASELINE.md "Bench notes" for the reps and load reading.
SMALLFILES_CANARY_REF_SEC = 1.65


def _smallfiles_canary(spark, out_dir: str) -> None:
    (
        spark.range(0, 648_000, 1, 8)
        .select(
            (F.col("id") % 648).alias("p"),
            "id",
            F.md5(F.col("id").cast("string")).alias("a"),
        )
        .repartition(8, "p")
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(os.path.join(out_dir, "canary_smallfiles"))
    )


# kind -> (workload, reps, pinned reference); the JSON field prefix is
# "<kind>_" except for the CPU canary's historical unprefixed fields
CANARIES = {
    "host": (_cpu_canary, CANARY_REPS, CANARY_REF_SEC),
    "write": (_write_canary, WRITE_CANARY_REPS, WRITE_CANARY_REF_SEC),
    "smallfiles": (_smallfiles_canary, SMALLFILES_CANARY_REPS, SMALLFILES_CANARY_REF_SEC),
}


def canary_sec(spark, out_dir: str, kind: str) -> float:
    """One rep of a frozen canary, in seconds."""
    t0 = time.perf_counter()
    CANARIES[kind][0](spark, out_dir)
    return time.perf_counter() - t0


def canary_median(spark, out_dir: str, kind: str) -> float:
    """Median of the canary's pinned rep count."""
    reps = CANARIES[kind][1]
    return round(
        statistics.median(canary_sec(spark, out_dir, kind) for _ in range(reps)), 3
    )


def canary_fields(pre: dict, post: dict) -> dict:
    """The JSON canary block for the kinds in ``pre``: pre/post medians, pin,
    and the factor (>1: the host ran SLOWER than the pinned reference;
    divide recorded timings by it to compare rounds)."""
    out = {}
    for kind in pre:
        prefix = "" if kind == "host" else f"{kind}_"
        ref = CANARIES[kind][2]
        out[f"{prefix}pre_sec"] = pre[kind]
        out[f"{prefix}post_sec"] = post[kind]
        out[f"{prefix}ref_sec"] = ref
        out[f"{kind}_factor"] = round(round((pre[kind] + post[kind]) / 2, 3) / ref, 3)
    return out


# --- the case model -----------------------------------------------------------


@dataclass(frozen=True)
class Case:
    name: str
    keys: tuple[str, ...]
    run: Callable[[Ctx, dict], None]
    setup: Callable[[Ctx], dict] | None = None
    check: Callable[[Ctx, dict], None] | None = None
    tags: tuple[str, ...] = ()
    probe_keys: tuple[str, ...] | None = None

    def keys_for(self, probe: bool) -> tuple[str, ...]:
        return self.probe_keys if probe and self.probe_keys is not None else self.keys


class Ctx:
    """What a case sees: the session, the data, its scratch dir, the
    runner's rep policy, and the readings the runner prints."""

    def __init__(self, spark, sf_dir, *, probe=False, replicas=1, reps=None, only=None):
        self.spark, self.sf_dir = spark, sf_dir
        self.probe, self.replicas = probe, replicas
        self.reps = reps  # fixed rep count for every recorded key (bench --reps)
        self.only = only  # recorded keys; a selected case's others run once, unrecorded
        self.stressed = False
        self.timings: dict[str, float] = {}
        self.recall: dict[str, Any] = {}
        self.rep_secs: dict[str, list[float]] = {}
        self.case: Case | None = None
        self.work = ""
        self.cold = False
        self._timed = False
        self._n = 0

    def unique(self, name: str) -> str:
        self._n += 1
        return f"{name}{self._n}"

    def fresh(self, name: str) -> str:
        """A new path under the case's work dir: a rep never writes into an
        earlier rep's output (that would time append semantics)."""
        return os.path.join(self.work, self.unique(name))

    def _recording(self, key: str) -> bool:
        if key not in self.case.keys_for(self.probe):
            raise KeyError(f"case {self.case.name!r} does not declare {key!r}")
        return not self.cold and (self.only is None or key in self.only)

    def record(self, key: str, sec: float) -> None:
        """Record a reading the case derives itself (e.g. a sum of stream segments)."""
        if self._recording(key):
            self.timings[key] = sec

    def time(self, key: str, fn: Callable, *args, **kwargs):
        """Time ``fn(*args, **kwargs)`` as ``key``; return its (last) result.

        bench.py repeats it ``--reps`` times, or STRESS_REPS times for a
        file_count_bound case under storage stress, records the median and
        keeps the per-rep readings; every rep after a case's first starts
        from a released executor state. The probe times it once."""
        record = self._recording(key)
        n = 1
        if record and not self.probe:
            stress = self.stressed and FILE_COUNT_BOUND in self.case.tags
            n = self.reps or (STRESS_REPS if stress else 1)
        secs = []
        for _ in range(n):
            if self._timed and not self.probe:
                release_state(self.spark)
            self._timed = True
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            secs.append(round(time.perf_counter() - t0, 3))
        if record:
            if n > 1:
                self.rep_secs[key] = secs
            self.timings[key] = round(statistics.median(secs), 3)
        return out

    def run_case(self, case: Case) -> None:
        """setup, then run + check (cold then warm for the probe's warm
        cases), releasing executor state after each check."""
        warm = self.probe and WARM in case.tags
        self.case, self._timed = case, False
        self.work = tempfile.mkdtemp(prefix=f"bench_{case.name}_")
        try:
            state = case.setup(self) if case.setup else {}
            for cold in ((True, False) if warm else (False,)):
                self.cold = cold
                case.run(self, state)
                if case.check:
                    case.check(self, state)
                release_state(self.spark)
            # readings appear in the case's declared key order
            for key in case.keys_for(self.probe):
                if key in self.timings:
                    self.timings[key] = self.timings.pop(key)
        finally:
            self.cold = False
            shutil.rmtree(self.work, ignore_errors=True)


# --- small shared pieces ------------------------------------------------------


def _docs(ctx):
    return ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "documents.parquet"))


def _vectors(ctx):
    return ctx.spark.read.parquet(os.path.join(ctx.sf_dir, "embeddings.parquet")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def _bucket_events(ctx):
    return entry_mod._with_coords(
        entry_mod._events(ctx.spark, ctx.sf_dir)
    ).withColumnRenamed("ts", "time")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _counted(df):
    return df, df.count()


def _job_bound(ctx, st, key: str, bound: int) -> None:
    """bench.py's sf0.1-sized job-count bound on the case's job group; the
    probe's replicated corpus is not held to it."""
    n_jobs = len(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(st["group"]))
    if not ctx.probe and n_jobs > bound:
        raise AssertionError(f"{key} launched {n_jobs} jobs (> {bound})")


def _max_files_per_partition(root: str, prefix: str) -> int:
    return max(
        len(glob.glob(os.path.join(root, d, "*.parquet")))
        for d in os.listdir(root)
        if d.startswith(prefix)
    )


def _fsck_gate(spark, *index_dirs):
    """Standing fsck gate (r13): every persisted-index leg the probe
    builds must report healthy at the end of its stage — replay
    duplication, missing components, or stale generations fail the run
    loudly, giving the healers a regression surface outside unit tests."""
    for d in index_dirs:
        r = index_report(spark, d, scan=True)
        if not r["healthy"]:
            raise AssertionError(f"index fsck failed for {d}: {r['issues']}")


def registry_case(name: str, *tags: str) -> Case:
    """A plain ``queries()`` key timed through the noop sink."""

    def run(ctx, state):
        fn = entry_mod.queries()[name]
        ctx.time(name, lambda: materialize(fn(ctx.spark, ctx.sf_dir)))

    return Case(name, (name,), run, tags=(REGISTRY, WARM, *tags))


# --- headline registry keys ---------------------------------------------------
# one per operator family that matters at scale
HEADLINE = [
    "scan_project",        # pushdown scan
    "pricing_summary",     # shuffle aggregation
    "revenue_by_nation",   # multi-join (broadcast dim)
    "lonlat_labels",       # binning expression throughput
    "zorder",              # Morton bit-interleave clustering index (added r3)
    "partition_pruning",   # label pruning + agg
    "point_radius",        # haversine filter
    "sessionize",          # window sessionization
    "session_count",       # windowed count
    "swath_offsets",       # agg + window + join
    "rolling_stats",       # rangeBetween event-time rolling features (added r2)
    "dense_grid",          # cross join + left join
    "interval_join",       # range join (broadcast small side)
    "asof_join",           # as-of join: union + single window pass (added r2)
    "interval_binned",     # large-large overlap join via grid binning (added r2)
    "token_count",         # text ops
    "quality_score",
    "repetition",          # Gopher repetition signals, row-local fold (added r2)
    "decontaminate",       # broadcast eval n-gram semi-probe (added r2)
    "pii_scan",            # regex detect + redact chain (added r2)
    "normalize",           # control/punct/whitespace normalization pass (added r2)
    "doc_chunks",          # 1->N chunk fan-out, map-only (added r2)
    "cdc_chunks",          # content-defined boundaries, edit-robust (added r3)
    "heavy_hitters",       # (group,value) count + bounded rank (added r2)
    "tf_idf",              # query-filtered token explode + keyed agg (added r2)
    "inverted_index",      # df-bounded posting lists (added r2)
    "cluster_sizes",       # literal-codebook assignment + count (added r2)
    "semantic_dedup",      # within-cluster cosine pruning, SemDeDup (added r2)
    "classifier_score",    # hashed linear model scoring, map-only (added r2)
    "nb_classifier",       # one-pass NB fit + broadcast-weight scoring (added r3)
    "mix_sources",         # target-mixture downsampling, map-only (added r2)
    "cap_per_source",      # domain cap: group-keyed bounded rank (added r3)
    "quality_filter",      # per-group percent_rank threshold (added r3)
    "embedding_decontaminate",  # broadcast eval set, map-side max cosine (added r3)
    "line_filter",         # C4 line rules, row-local rebuild (added r2)
    "paragraph_dedup",     # corpus-level boilerplate spans (added r2)
    "shard_assign",        # deterministic training-shard shuffle (added r2)
    "minhash",             # explode + groupBy min
    "simhash",             # row-local aggregate exprs
    "minhash_lsh_dedup",   # LSH candidates + exact verify (scale path)
    "dup_clusters",        # iterative star-round connected components (added r2)
    "seq_pack",            # applyInPandas greedy packing recurrence (added r2)
    "simhash_near_dup",    # banded hamming join, exact-recall scale path (added r2)
    "simhash_dedup",       # keep-first over collapsed distinct signatures (added r7)
    "embedding_topk",      # broadcast cross + window topk (exactness baseline)
    "ivf_topk",            # IVF ANN (scale path; added r2)
    "pq_topk",             # PQ ADC ANN: codes-only scan, LUT ranking (added r3)
    "ivfpq_topk",          # IVFADC: coarse pruning + ADC over codes (added r3)
    "lsh_near_dup",        # bucketed embedding near-dup + exact verify (added r2)
    "lsh_buckets",         # vector expression throughput
    "polygon_filter",      # unrolled ray-cast row filter (added r4)
    "points_in_polygons",  # cell-pruned broadcast spatial join (added r4)
    "idw_grid",            # 3x3 fan-out + one-shuffle weighted resample (added r4)
    "nearest_grid",        # min_by over the same fan-out (added r4)
    "decontaminate_bloom", # bounded-bitmap broadcast probe (added r4)
    "dedup_against_bloom", # bloom-routed incremental dedup (added r4)
    "dedup_against_bloom_index",  # persisted-index probe, VERIFIED posture (added r12)
    "bm25_index_topk",     # persisted BM25 retrieval index: build + term point-lookup (added r12)
    "mix_sources_tokens",  # token-mass mixture (added r4)
    "lm_score",            # bigram-LM perplexity-style scoring (added r4)
    "knn_join",            # large-large shuffled kNN join, no broadcast side (added r5)
    "edit_dedup",          # PassJoin signatures + exact Levenshtein verify (added r5)
    "profile_table",       # one-pass multi-column profiling agg (added r5)
    "mad_outliers",        # median/MAD robust z-score, one exchange (added r5)
    "key_skew",            # skew diagnosis: counts + broadcast total + top-N (added r5)
    "dup_spans",           # substring (token-window) dedup: groupBy + flag join + row-local rebuild (added r5)
    "gopher_quality",      # Gopher document-quality rules, row-local folds (added r5)
    "repetition_full",     # full Gopher repetition suite, row-local sorted folds (added r5)
    "url_filter",          # URL-level crawl rules, row-local regex flags (added r5)
    "image_dhash",         # in-plan BMP decode + perceptual hash, map-only (added r6)
    "image_near_dup",      # banded perceptual-hash join, ids-only shuffle (added r6)
    "image_dedup",         # keep-first: distinct-signature banding, cluster-size-proof (added r7)
    "audio_quality",       # real-PCM quality gate incl. FFT spectral shape (added r6)
    "exif_meta",           # JPEG APP1/TIFF walk, both byte orders, map-only (added r6)
    "html_extract",        # real HTML parse + boilerplate heuristic, map-only (added r7)
    "url_normalize",       # canonical-URL dedup: map-only normalize + one window (added r9)
    "cc_update",           # incremental cluster-map maintenance: contracted solve + one broadcast pass (added r12)
    "pagerank_update",     # warm-start rank refresh: seeded distributed rounds, mean-seeded new nodes (added r13)
    "host_rank",           # crawl host authority: link derivation + routed PageRank (added r9)
    "pagerank",            # order-graph PageRank: 298k edges -> distributed rounds (added r9)
    "image_profile",       # fused decode: features + perceptual hash in ONE pass (added r9)
    # dup_spans production posture: hashed grams. NOT comparable to the
    # `dup_spans` key row-for-row in bytes shuffled: same operator, same
    # output shape, but grams exchange as 60-bit longs instead of exact
    # strings (~k-fold fewer shuffle bytes — the 100 TB posture;
    # equality-modulo-collisions is asserted in tests/test_operators.py).
    "dup_spans_hashed",
]
_HEADLINE_FILE_COUNT_BOUND = {"bm25_index_topk", "dedup_against_bloom_index"}


# --- video: perceptual hashing + keep-first dedup over REAL MJPEG-AVI decodes
# The only operator family with neither a bench key nor a probe row until
# r8. The fixture corpus is built OUTSIDE the timed window (video_corpus),
# so the timed work is the production path: AVI container walk -> 3 real
# JPEG frame decodes -> per-frame dhash -> majority-vote bit pooling (and
# for video_dedup, the distinct-signature keep-first collapse on top). On
# the probe's replicated corpus every planted clip cluster is replicas x
# bigger — the keep-first collapse must stay signature-bounded.


def _video_setup(ctx):
    return {"corpus": video_corpus(_docs(ctx))}


def _video_hash_run(ctx, st):
    ctx.time(
        "video_hash",
        lambda: materialize(video_hash_table(st["corpus"], every_n=1, n_frames=3)),
    )


def _video_dedup_run(ctx, st):
    def dedup():
        vd = video_dedup(st["corpus"], every_n=1, n_frames=3, max_hamming=6, n_bands=8)
        materialize(vd)
        return vd

    st["vd"] = ctx.time("video_dedup", dedup)


def _video_dedup_check(ctx, st):
    # every clip decoded and pooled (no NULL-vhash drops), and the
    # keep-first collapse actually collapsed — survivors are bounded by
    # the 24 planted distinct clips
    corpus = st["corpus"]
    n_corpus = corpus.count()
    n_distinct = corpus.select("payload").distinct().count()
    vd_rows = st["vd"].groupBy("kept").count().collect()
    n_rows = sum(r["count"] for r in vd_rows)
    n_kept = sum(r["count"] for r in vd_rows if r["kept"])
    if n_rows != n_corpus:
        raise AssertionError(f"video_dedup dropped clips: {n_rows} != {n_corpus}")
    if n_kept != n_distinct:  # planted clips are >=21 hamming bits apart
        raise AssertionError(
            f"keep-first survivors {n_kept} != {n_distinct} distinct clips"
        )


# --- pagerank_update_refresh: warm-start PageRank refresh, NIGHTLY posture
# (r13 verdict task #5): the registry `pagerank_update` key builds its
# 6-round standing map in-entry (required for the DuckDB oracle to replay
# the whole derivation), so ~3/4 of that recorded number is standing-build
# cost the nightly refresh never pays. This key times the refresh ALONE
# against a PRE-MATERIALIZED standing map read back from parquet — the cost
# update_pagerank exists to minimize, and the number the operator's scale
# story should be judged on.


def _refresh_setup(ctx):
    old = entry_mod._pagerank_fixture_edges(ctx.spark, ctx.sf_dir)
    full = old.unionByName(entry_mod._pagerank_update_new_edges(ctx.spark, ctx.sf_dir))
    path = os.path.join(ctx.work, "standing")
    pagerank(
        old, damping=0.85, iterations=6, directed=False, driver_threshold=0,
    ).write.parquet(path)
    return {"standing": ctx.spark.read.parquet(path), "full": full}


def _refresh_run(ctx, st):
    ctx.time(
        "pagerank_update_refresh",
        lambda: materialize(
            update_pagerank(
                st["standing"], st["full"], damping=0.85, iterations=4,
                directed=False, driver_threshold=0,
            )
        ),
    )


# --- ann_index_search: the train-once/search-many production posture -------
# bench: the index build (train + corpus encode + partitioned write) happens
# OUTSIDE the timed window — it is paid once per corpus, not per query
# batch; the timed number is what serving pays: LUT build + probed-partition
# scan + ADC ranking. The probe also times the build (ann_index_build) over
# the replicated vectors. The query modulus scales with replicas so the
# query count stays fixed and the search row isolates corpus growth (10x
# vectors per probed cluster), not query-batch growth. Gate: the search
# must read only the probed cluster partitions, never the whole codes table.


def _ann_build(emb, index_dir):
    sim.build_ivfpq_index(emb, index_dir, dim=64, n_clusters=16, m=4, ksub=16)


def _ann_setup(ctx):
    emb = _vectors(ctx)
    st = {
        "emb": emb,
        "index": os.path.join(ctx.work, "index"),
        "queries": emb.where(F.col("vec_id") % (97 * ctx.replicas) == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ),
    }
    if not ctx.probe:
        _ann_build(emb, st["index"])
    return st


def _ann_run(ctx, st):
    if ctx.probe:
        ctx.time("ann_index_build", _ann_build, st["emb"], st["index"])

    def search():
        res = sim.ivfpq_index_topk(ctx.spark, st["index"], st["queries"], k=10, n_probe=2)
        materialize(res)
        return res

    st["res"] = ctx.time("ann_index_search", search)


def _ann_check(ctx, st):
    res, queries = st["res"], st["queries"]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", _plan(res))
    if not pf or "__cluster" not in pf.group(1):
        raise AssertionError("index search scan is not partition-pruned")
    n_q = queries.count()
    n_res = res.groupBy("query_id").count().count()
    if n_res != n_q:
        raise AssertionError(f"search lost queries: {n_res} != {n_q}")
    # recall gate (untimed): plan gates can't see a wrong centroid
    # assignment or stale-codebook encode — those stay partition-pruned
    # while returning near-chance neighbors
    exact = sim.brute_force_topk(st["emb"], queries, k=10, metric="l2")
    recall = {"ann_recall_build": sim.recall_at_k(res, exact)}
    if ctx.probe:
        recall["ann_recall_append"] = _ann_append_gates(ctx, st, exact, n_q)
    for label, rec in recall.items():
        if not rec >= ANN_RECALL_FLOOR:
            raise AssertionError(
                f"{label} recall@10 degraded at {ctx.replicas}x: "
                f"{rec:.4f} < {ANN_RECALL_FLOOR}"
            )
    if ctx.probe:
        ctx.recall.update({k: round(v, 4) for k, v in recall.items()})


def _ann_append_gates(ctx, st, exact, n_q) -> float:
    """Probe recall-after-append (VERDICT r9 task #6) and compaction gates.

    Tie structure, measured before pinning the gates (queries are corpus
    MEMBERS and replication makes every vector an exact R-copy): at R >= k
    each query's ground-truth top-k is its own k copies and a healthy index
    returns exactly those (identical codes, id-asc tiebreak), so recall
    saturates at 1.0 — a naive recall-after-append gate is VACUOUS (a broken
    append only drops one copy: 1.0 -> 0.9, and with the appended slice
    id-shifted ABOVE the originals it loses every tie and recall stays 1.0
    no matter what the append wrote). The sharp append gate is therefore
    PRESENCE: the index is built on copies 2..R, copy 1 — the tie-WINNING
    smallest ids — arrives as the append batch, and EVERY query's appended
    first-copy id must appear in its post-append top-k (healthy: rank 1 by
    the id-asc tiebreak; wrong cluster or stale codebook: absent).
    recall_append is still reported for the drift record; the hit-rate
    assertion is the teeth. Returns recall_append."""
    spark, emb, queries = ctx.spark, st["emb"], st["queries"]
    if ctx.replicas < 2:
        raise ValueError("the ANN append/compaction gates need --replicas >= 2")
    stride = (emb.agg(F.max("vec_id")).collect()[0][0] + 1) // ctx.replicas
    aidx2 = os.path.join(ctx.work, "index_append")
    sim.build_ivfpq_index(
        emb.where(F.col("vec_id") >= stride), aidx2, dim=64,
        n_clusters=16, m=4, ksub=16,
    )
    sim.append_to_ivfpq_index(emb.where(F.col("vec_id") < stride), aidx2)
    res2 = sim.ivfpq_index_topk(spark, aidx2, queries, k=10, n_probe=2)
    recall_append = sim.recall_at_k(res2, exact)
    expected = queries.select("query_id", (F.col("query_id") % stride).alias("vec_id"))
    n_hits = res2.join(expected, ["query_id", "vec_id"], "left_semi").count()
    if n_hits != n_q:
        raise AssertionError(
            f"appended copies missing from post-append search: "
            f"{n_hits}/{n_q} queries surfaced their appended id"
        )
    # maintenance gate: compacting the append-fragmented cluster partitions
    # must rewrite at least one partition and leave search results IDENTICAL
    before = sorted(tuple(r) for r in res2.collect())
    if sim.compact_ivfpq_index(spark, aidx2) < 1:
        raise AssertionError("append left no fragmented cluster to compact")
    after = sorted(
        tuple(r)
        for r in sim.ivfpq_index_topk(spark, aidx2, queries, k=10, n_probe=2).collect()
    )
    if after != before:
        raise AssertionError("compaction changed search results")
    return recall_append


# --- minhash_index: persisted MinHash dedup index (added r10) --------------
# The text analog of the ANN index rows — build the standing corpus's band
# rows + 60-bit shingle sets once, then probe a nightly batch WITHOUT
# touching corpus text. Gates: the probe drops some but not all of the batch
# (half are planted near-dups), and its plan never scans the corpus parquet.
# On the probe's replicated corpus EVERY text is an R-copy cluster (the
# band-collision worst case), and the maintenance gates run too.


def _minhash_setup(ctx):
    docs = _docs(ctx)
    # batch: every batch_mod-th doc re-keyed; every tail_mod-th of those a
    # near-dup (" tail" suffix), the rest fresh text
    if ctx.probe:
        corpus, batch_mod, offset, tail_mod = docs, 101, 10_000_000, 2
        fresh = F.concat(F.lit("fresh "), F.col("doc_id"))
    else:
        corpus = docs.where(F.col("doc_id") % 3 != 0)
        batch_mod, offset, tail_mod = 3, 1_000_000, 6
        fresh = F.concat(F.lit("fresh "), F.col("doc_id"), F.lit(" unseen"))
    path = os.path.join(ctx.work, "batch")
    docs.where(F.col("doc_id") % batch_mod == 0).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.when(F.col("doc_id") % tail_mod == 0, F.concat(F.col("text"), F.lit(" tail")))
        .otherwise(fresh)
        .alias("text"),
    ).write.parquet(path)
    return {"corpus": corpus, "batch": ctx.spark.read.parquet(path)}


def _minhash_run(ctx, st):
    def build():
        idx = ctx.fresh("index")
        dedup.build_minhash_index(st["corpus"], idx, n_hashes=8, n_bands=4, shingle_size=8)
        return idx

    st["index"] = ctx.time("minhash_index_build", build)
    st["surv"], st["n_surv"] = ctx.time(
        "minhash_index_probe",
        lambda: _counted(
            dedup.minhash_dedup_against_index(st["batch"], st["index"], min_jaccard=0.5)
        ),
    )


def _minhash_check(ctx, st):
    n_surv, n_batch = st["n_surv"], st["batch"].count()
    if not 0 < n_surv < n_batch:
        raise AssertionError(f"index probe vacuous: {n_surv}/{n_batch} survivors")
    if "documents.parquet" in _plan(st["surv"]):
        raise AssertionError("index probe scanned the corpus parquet")
    if ctx.probe:
        _minhash_maintenance(ctx, st)


def _minhash_maintenance(ctx, st):
    """Maintenance gate (r11): two nightly appends fragment bands/ and
    shingles/; compaction must fold the files back WITHOUT changing any
    probe result — the same contract as the IVFPQ append+compact
    search-equality gate. The gate probe mixes re-keyed known texts (all
    dropped: corpus + appended survivors) with novel docs (all survive), so
    equality is non-vacuous in both directions."""
    spark, idx, surv = ctx.spark, st["index"], st["surv"]
    bands = os.path.join(idx, "bands")
    dedup.append_to_minhash_index(surv, idx)
    dedup.append_to_minhash_index(
        surv.select((F.col("doc_id") + 20_000_000).alias("doc_id"), "text"), idx,
    )
    novel = spark.range(200).select(
        (F.col("id") + 40_000_000).alias("doc_id"),
        F.concat(
            F.lit("novel probe content block "), F.col("id"),
            F.lit(" with enough running words to shingle"),
        ).alias("text"),
    )
    gate_probe = st["batch"].select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"), "text"
    ).unionByName(novel)

    def survivors():
        return sorted(
            r["doc_id"]
            for r in dedup.minhash_dedup_against_index(gate_probe, idx, min_jaccard=0.5).collect()
        )

    before = survivors()
    if not before:
        raise AssertionError("maintenance-gate probe vacuous (no survivors)")
    frag_before = _max_files_per_partition(bands, "band_idx=")
    stats = ctx.time("minhash_index_compact", dedup.compact_minhash_index, spark, idx)
    frag_after = _max_files_per_partition(bands, "band_idx=")
    if stats["band_partitions"] < 1:
        raise AssertionError("appends left no fragmented band to compact")
    if not frag_after < frag_before:
        raise AssertionError(
            f"band fragmentation did not drop: {frag_before} -> {frag_after}"
        )
    sh_before, sh_after = stats["shingle_files"]
    if not sh_after < sh_before:
        raise AssertionError(
            f"shingle fragmentation did not drop: {sh_before} -> {sh_after}"
        )
    if survivors() != before:
        raise AssertionError("compaction changed probe results")
    _fsck_gate(spark, idx)
    # fragmentation receipt rides the recall dict (gate values, not
    # timings): max files per band partition before/after
    ctx.recall["minhash_frag_before"] = frag_before
    ctx.recall["minhash_frag_after"] = frag_after


# --- bloom_index: persisted Bloom exact-dedup index (added r11) -------------
# The third persisted-index leg (MinHash bands / IVFPQ codes / Bloom bitmap).
# Build the standing corpus's bitmap once; the nightly probe's only inputs
# are the batch and the few-MB bitmap — ZERO corpus access, gated on the
# plan. Batch: a dup part (corpus rows re-keyed: exact text duplicates by
# construction at any SF) and a novel part (marked texts). The bitmap is
# bounded at n_bits/64 rows REGARDLESS of corpus size, so on the probe's
# replicated corpus the questions are the one-time build scan at 10x, the
# probe staying batch-bounded, and the append staying bitmap-sized.


def _bloom_setup(ctx):
    docs = _docs(ctx)
    if ctx.probe:
        corpus_path = os.path.join(ctx.sf_dir, "documents.parquet")
        dups = docs.where(F.col("doc_id") % 101 == 0)
        novel, offsets = docs.where(F.col("doc_id") % 103 == 0), (10_000_000, 20_000_000)
    else:
        corpus_path = os.path.join(ctx.work, "corpus")
        docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text").write.parquet(
            corpus_path
        )
        dups = docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 0))
        novel, offsets = docs.where(F.col("doc_id") % 3 == 0), (1_000_000, 2_000_000)
    dups = dups.select((F.col("doc_id") + offsets[0]).alias("doc_id"), "text")
    novel = novel.select(
        (F.col("doc_id") + offsets[1]).alias("doc_id"),
        F.concat(F.lit("novel "), F.col("doc_id"), F.col("text")).alias("text"),
    )
    batch_path = os.path.join(ctx.work, "batch")
    dups.unionByName(novel).write.parquet(batch_path)
    return {
        "corpus_path": corpus_path,
        # the plan gate's corpus marker: the corpus path as the plan prints it
        "corpus_marker": "documents.parquet" if ctx.probe else "/corpus",
        "dups": dups,
        "novel": novel,
        "batch": ctx.spark.read.parquet(batch_path),
    }


def _bloom_run(ctx, st):
    def build():
        idx = ctx.fresh("index")
        dedup.build_bloom_index(ctx.spark.read.parquet(st["corpus_path"]), idx, ["text"])
        return idx

    st["index"] = ctx.time("bloom_index_build", build)
    st["surv"], st["n_surv"] = ctx.time(
        "bloom_index_probe",
        lambda: _counted(dedup.dedup_exact_against_bloom_index(st["batch"], st["index"])),
    )


def _novel_survivors_gate(st, label: str) -> None:
    """The probe drops the planted dup part and keeps exactly the novel part."""
    n_surv, n_batch, n_novel = st["n_surv"], st["batch"].count(), st["novel"].count()
    if n_surv != n_novel or not 0 < n_surv < n_batch:
        raise AssertionError(
            f"{label} probe wrong: {n_surv} survivors, expected {n_novel} of {n_batch}"
        )


def _learn_closure_gate(ctx, st, key, append, probe, cols) -> None:
    """Probe: appending the staged survivors (timed as ``key``) makes a
    re-keyed resubmission of the same content drop to ZERO, and the index
    stays fsck-green."""
    id_col, payload_col = cols
    surv_path = os.path.join(ctx.work, "survivors")
    st["surv"].write.parquet(surv_path)  # staged, per the append contract
    ctx.time(key, append, ctx.spark.read.parquet(surv_path), st["index"])
    resubmit = ctx.spark.read.parquet(surv_path).select(
        (F.col(id_col) + 30_000_000).alias(id_col), payload_col
    )
    n_re = probe(resubmit, st["index"]).count()
    if n_re != 0:
        raise AssertionError(f"appended keys not visible to the next probe ({n_re} kept)")
    _fsck_gate(ctx.spark, st["index"])


def _bloom_check(ctx, st):
    _novel_survivors_gate(st, "bloom")
    if st["corpus_marker"] in _plan(st["surv"]):
        raise AssertionError("bloom index probe scanned the corpus parquet")
    # exactness anchor: the unverified probe must agree with the
    # corpus-verified one at this bit sizing
    n_verified = dedup.dedup_exact_against_bloom_index(
        st["batch"], st["index"],
        verify_corpus=ctx.spark.read.parquet(st["corpus_path"]),
    ).count()
    if st["n_surv"] != n_verified:
        raise AssertionError(
            f"unverified probe over-dropped: {st['n_surv']} != {n_verified} (resize n_bits)"
        )
    if ctx.probe:
        _bloom_maintenance(ctx, st)


def _bloom_maintenance(ctx, st):
    """Probe: the append stays visible to the next probe; then the
    saturation -> rebuild receipt (r15, VERDICT r14 Missing #1): an
    UNDERSIZED bitmap over the replicated corpus must trip the fsck fill
    watch, and rebuild_bloom_index at a larger width must heal it (fill back
    under threshold, members still dropped, non-members passing again) —
    the same detect->remediate->re-gate shape as the IVFPQ drift row."""
    spark, novel = ctx.spark, st["novel"]
    _learn_closure_gate(
        ctx, st, "bloom_index_append", dedup.append_to_bloom_index,
        dedup.dedup_exact_against_bloom_index, ("doc_id", "text"),
    )
    corpus = spark.read.parquet(st["corpus_path"])
    sat_idx = os.path.join(ctx.work, "bloom_sat")
    n_keys = corpus.select("text").distinct().count()
    # ~1.44 bits/key -> fill ~0.97: decisively saturated
    under_bits = 1 << max(10, int(n_keys * 1.44).bit_length())
    dedup.build_bloom_index(corpus, sat_idx, ["text"], n_bits=under_bits)
    r = index_report(spark, sat_idx, scan=True)
    if not any("bitmap saturated" in i for i in r["issues"]):
        raise AssertionError(f"undersized bitmap not flagged: fill {r.get('fill_factor')}")
    kept_sat = dedup.dedup_exact_against_bloom_index(novel, sat_idx).count()
    ctx.time(
        "bloom_rebuild", dedup.rebuild_bloom_index, spark, sat_idx, corpus, n_bits=under_bits * 16
    )
    healed = index_report(spark, sat_idx, scan=True)
    if not healed["healthy"] or healed["fill_factor"] > 0.5:
        raise AssertionError(
            f"rebuild did not heal saturation: {healed['issues']} "
            f"fill {healed.get('fill_factor')}"
        )
    if dedup.dedup_exact_against_bloom_index(st["dups"], sat_idx).count() != 0:
        raise AssertionError("rebuilt bitmap lost member keys")
    kept, n_novel = dedup.dedup_exact_against_bloom_index(novel, sat_idx).count(), novel.count()
    if not (kept >= 0.99 * n_novel and kept > kept_sat):
        raise AssertionError(
            f"rebuild did not restore the non-member pass rate: "
            f"{kept_sat} -> {kept} of {n_novel}"
        )


# --- semantic_index: persisted IVFPQ semantic-dedup gate (added r12) -------
# The embedding leg of the standing-archive matrix. bench: the index is
# built OUTSIDE the timed window (ann_index_build already prices the
# encode); the probe times it too. The timed probe is cluster-assign +
# probed-partition codes join + exact-cosine verify over candidate pairs.
# Candidate-complete margin because the test corpus (random unit vectors)
# is the PQ worst case — production corpora with trained codebooks set a
# finite margin and the verify is candidate-bounded. Batch: archive rows
# re-keyed (exact embedding copies with a guaranteed-probed twin — dropped)
# + negated vectors (cosine -1, far below the 0.9 threshold — kept), so
# survivors == the novel part exactly. The probe also gates learn closure:
# appending the survivors makes a re-keyed resubmission drop to ZERO.


def _semantic_build(archive, idx):
    sim.build_ivfpq_index(archive, idx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True)


def _semantic_setup(ctx):
    emb = _vectors(ctx)
    if ctx.probe:
        archive = emb
        dups, novel = emb.where(F.col("vec_id") % 101 == 0), emb.where(F.col("vec_id") % 103 == 0)
        offsets = (10_000_000, 20_000_000)
    else:
        arch_path = os.path.join(ctx.work, "archive")
        emb.where(F.col("vec_id") % 3 != 0).write.parquet(arch_path)
        archive = ctx.spark.read.parquet(arch_path)
        dups, novel = archive.where(F.col("vec_id") % 5 == 0), emb.where(F.col("vec_id") % 3 == 0)
        offsets = (1_000_000, 2_000_000)
    dups = dups.select((F.col("vec_id") + offsets[0]).alias("vec_id"), "embedding")
    novel = novel.select(
        (F.col("vec_id") + offsets[1]).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    batch_path = os.path.join(ctx.work, "batch")
    dups.unionByName(novel).write.parquet(batch_path)
    st = {
        "archive": archive,
        "novel": novel,
        "batch": ctx.spark.read.parquet(batch_path),
        "index": os.path.join(ctx.work, "index"),
    }
    if not ctx.probe:
        _semantic_build(archive, st["index"])
    return st


def _semantic_probe(batch, idx):
    return sim.semantic_dedup_against_index(
        batch, idx, min_cosine=0.9, n_probe=2, adc_margin=None, verify_vectors="index",
    )


def _semantic_run(ctx, st):
    if ctx.probe:
        ctx.time("semantic_index_build", _semantic_build, st["archive"], st["index"])
    st["surv"], st["n_surv"] = ctx.time(
        "semantic_index_probe", lambda: _counted(_semantic_probe(st["batch"], st["index"]))
    )


def _semantic_check(ctx, st):
    _novel_survivors_gate(st, "semantic")
    # plan gate on the UNVERIFIED posture: the verified path eagerly
    # materializes its candidate cache at call time, so the codes scan
    # (where the pruning lives) is behind the cache in the final plan
    plan = _plan(
        sim.semantic_dedup_against_index(st["batch"], st["index"], min_cosine=0.9, n_probe=2)
    )
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    if not any("__cluster" in pf and " IN " in pf for pf in pfs):
        raise AssertionError("semantic probe lost its partition pruning")
    if ctx.probe:
        # verify_vectors="index": the appended store carries the survivors
        _learn_closure_gate(
            ctx, st, "semantic_index_append", sim.append_to_ivfpq_index,
            _semantic_probe, ("vec_id", "embedding"),
        )


# --- wet_curate: WET end-to-end curation stage -------------------------------
# The flagship LLM-pipeline story as ONE measured number — WET ingest ->
# parquet staging -> (gopher quality + URL gate + substring-span dedup)
# funnel -> JSONL shard export. NOT comparable to per-operator keys (format
# ingest + two writes on the ends); fixture archives are built OUTSIDE the
# timed window from the documents table. Staging the ingest to parquet
# before the multi-pass curation is the production posture: dup_spans
# self-joins its input, and re-running a WARC parse per branch would charge
# ingest twice.


def _fresh_stage(ctx, st, group: str) -> str:
    """Start one rep of a curation stage: its jobs run under a fresh job
    group (``st["group"]``, read by the job-count bound) and it writes to
    fresh dirs; returns the staging dir, the export dir is ``st["export"]``."""
    st["export"], st["group"] = ctx.fresh("export"), ctx.unique(group)
    ctx.spark.sparkContext.setJobGroup(st["group"], group)
    return ctx.fresh("staged")


def _write_crawl(ctx, segments) -> str:
    """One gzip WARC file per list of records."""
    crawl = os.path.join(ctx.work, "crawl")
    os.makedirs(crawl)
    for s, records in enumerate(segments):
        with open(os.path.join(crawl, f"seg-{s}.warc.gz"), "wb") as fh:
            fh.write(build_warc_bytes(records, gzip_members=True))
    return crawl


def _crawl_segments(ctx) -> int:
    # the probe's sf1-scale crawl: more segments, same per-file size class
    return 32 if ctx.probe else 8


def _wet_setup(ctx):
    fixture = _docs(ctx).select(
        "doc_id",
        # serial marker keeps every WET text unique (h64 content ids must
        # not collide on literal duplicate source docs)
        F.concat("text", F.lit(" wetdoc"), F.col("doc_id")).alias("text"),
        F.concat(
            F.lit("http://"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("spam.example"))
            .otherwise(F.concat(F.lit("host"), F.col("doc_id") % 13, F.lit(".example"))),
            F.lit("/d"), "doc_id",
        ).alias("url"),
    ).collect()
    records = [
        {
            "type": "conversion",
            "payload": r["text"].encode(),
            "WARC-Target-URI": r["url"],
            "WARC-Date": "2026-08-01T00:00:00Z",
        }
        for r in fixture
    ]
    n_seg = _crawl_segments(ctx)
    segments = [records[s::n_seg] for s in range(n_seg)]
    return {"crawl": _write_crawl(ctx, segments), "n_fixture": len(fixture)}


def _wet_pipeline(ctx, st):
    spark, sc = ctx.spark, ctx.spark.sparkContext
    staging = _fresh_stage(ctx, st, "wet-curate")
    read_wet(spark, st["crawl"]).write.parquet(staging)
    funnel = observe_funnel(
        spark.read.parquet(staging),
        [
            (
                "quality",
                lambda d: gopher_quality_flags(
                    d, min_words=20, min_stopword_hits=1,
                    passthrough=("url", "text"),
                ).where("keep").select("doc_id", "url", "text"),
            ),
            (
                "url",
                lambda d: url_quality_flags(
                    d, blocked_domains=("spam.example",),
                    passthrough=("text",),
                ).where("keep").select("doc_id", "url", "text"),
            ),
            (
                "dup_spans",
                lambda d: dedup.remove_duplicate_spans(
                    d, k=4, min_count=2, removed_count_col="n_removed"
                ),
            ),
        ],
    )
    write_jsonl_shards(funnel.df, st["export"], n_shards=8, compression=None)
    sc.setJobGroup("wet-curate-done", "")
    return funnel


def _wet_run(ctx, st):
    st["funnel"] = ctx.time("wet_curate", _wet_pipeline, ctx, st)


def _wet_check(ctx, st):
    # every fixture row ingested; the funnel only narrows; the URL gate
    # actually fired (1/7 spam hosts); the export holds exactly the
    # surviving rows
    counts = st["funnel"].counts()
    if counts["input"] != st["n_fixture"]:
        raise AssertionError(f"wet ingest lost rows: {counts} != {st['n_fixture']}")
    if not (counts["input"] >= counts["quality"] >= counts["url"]):
        raise AssertionError(f"funnel not monotone: {counts}")
    if counts["url"] >= counts["quality"]:
        raise AssertionError(f"URL gate vacuous: {counts}")
    # since the r9 writer fix (preimage-routed hash exchange, no
    # range-sampling pass) the dup_spans observation reads exactly 1x; the
    # >= comparison tolerates the historical 2x shape, and the export
    # read-back below stays the ground truth that span dedup rebuilt rather
    # than dropped rows
    if counts["dup_spans"] < counts["url"]:
        raise AssertionError(f"span dedup dropped rows (must rebuild): {counts}")
    n_exported = ctx.spark.read.json(os.path.join(st["export"], "shard=*")).count()
    if n_exported != counts["url"]:
        raise AssertionError(f"export mismatch: {n_exported} != {counts['url']}")
    # the funnel itself adds zero jobs: the group holds the two writes plus
    # AQE's per-exchange jobs for the span-dedup DAG (measured 14 at
    # sf0.01) — a per-STAGE count() funnel would roughly double this; the
    # bound catches that regression class
    _job_bound(ctx, st, "wet_curate", 18)


# --- curate_and_split: dedup -> leakage-safe-split contract as ONE stage (r11)
# The near-dup pairs the curation funnel produces anyway feed
# leakage_safe_splits, so duplicate clusters can never straddle train/eval —
# the eval-set contamination dedup exists to prevent, closed at split time.
# Timed: pair engine + connected components + split assignment +
# materialize. Gates: pairs exist (straddle check non-vacuous), ZERO pairs
# straddle split labels, every split non-empty with train the majority.


def _split_run(ctx, st):
    def curate_and_split():
        docs = _docs(ctx)
        pairs = dedup.minhash_lsh_dedup_pairs(
            docs, n_hashes=16, n_bands=4, shingle_size=8, min_jaccard=0.1
        ).select("id_a", "id_b")
        split_df = leakage_safe_splits(
            docs, pairs, weights={"train": 0.8, "val": 0.1, "test": 0.1}
        ).select("doc_id", "split_group", "split")
        materialize(split_df)
        return pairs, split_df

    st["pairs"], st["split_df"] = ctx.time("curate_and_split", curate_and_split)


def _split_check(ctx, st):
    pairs, split_df = st["pairs"], st["split_df"]
    lab = split_df.select("doc_id", "split")
    straddle = (
        pairs.join(lab.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("split", "split_a")
        .join(lab.withColumnRenamed("doc_id", "id_b"), "id_b")
        .where(F.col("split_a") != F.col("split"))
        .count()
    )
    n_pairs = pairs.count()
    if n_pairs < 1:
        raise AssertionError("curate_and_split vacuous: no near-dup pairs")
    if straddle != 0:
        raise AssertionError(f"{straddle}/{n_pairs} near-dup pairs straddle split labels")
    split_counts = {
        r["split"]: r["n"]
        for r in split_df.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    if set(split_counts) != {"train", "val", "test"} or (
        split_counts["train"] <= max(split_counts["val"], split_counts["test"])
    ):
        raise AssertionError(f"degenerate split assignment: {split_counts}")


# --- warc_html_curate: raw-archive HTML curation stage -----------------------
# The crawls-without-a-WET-sidecar counterpart of wet_curate — response
# records with HTML bodies (1 in 13 pages windows-1252 with an HTTP-header
# charset and curly-quote bytes that are INVALID UTF-8) -> read_warc_html
# (HTTP head split, charset-honoring decode, boilerplate removal, link
# extraction in the SAME decode pass) -> canonical-URL keep-first dedup (1
# in 9 pages has a planted mirror: tracking params + case + trailing-slash
# spelling of the same URL) -> quality gate -> host-authority gate (host
# link graph -> directed PageRank; host h12 gets no inlinks by
# construction, so its teleport-floor rank is the drop) -> span dedup ->
# export. Gates: ingest completeness, non-UTF-8 survival (the curly quotes
# must reach the export intact), funnel monotone, URL + authority stages
# each actually fire, export read-back, job bound.


def _html_response(doc_id, text):
    # cross-host nav link: target (doc_id*7+1) % 12 covers hosts h0..h11
    # uniformly, so h12 never receives an inlink — the authority gate's
    # deterministic drop
    ref = f"http://h{(doc_id * 7 + 1) % 12}.example/x".encode()
    nav = (
        b"<div class='nav'><a href='/'>Home</a> <a href='/a'>A</a>"
        b" <a href='" + ref + b"'>Ref</a></div>"
    )
    if doc_id % 13 == 0:
        body = b"<p>\x93legacy\x94 " + text.encode("cp1252", errors="replace") + b"</p>"
        ctype = "text/html; charset=windows-1252"
    else:
        body = b"<p>" + text.encode() + b"</p>"
        ctype = "text/html; charset=utf-8"
    head = f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode()
    return {
        "type": "response",
        "WARC-Target-URI": f"http://h{doc_id % 13}.example/d{doc_id}",
        "Content-Type": "application/http; msgtype=response",
        "payload": head + nav + body,
    }


def _html_mirror(rec, doc_id):
    # the same page crawled under another spelling: upper-cased host,
    # trailing slash, tracking params, fragment — all of which
    # normalize_url_expr strips back to rec's URL; the body differs (a
    # mirror banner) so the content hash can't collapse it — only the
    # canonical-URL keep-first can
    out = dict(rec)
    out["WARC-Target-URI"] = (
        f"http://H{doc_id % 13}.EXAMPLE/d{doc_id}/?utm_source=probe&gclid=x#m"
    )
    out["payload"] = rec["payload"] + b"<p>mirror of this page</p>"
    return out


def _html_setup(ctx):
    fixture = _docs(ctx).select(
        "doc_id",
        F.concat("text", F.lit(" htmldoc"), F.col("doc_id")).alias("text"),
    ).collect()
    n_seg = _crawl_segments(ctx)
    segments = [[] for _ in range(n_seg)]
    for i, r in enumerate(fixture):
        rec = _html_response(r["doc_id"], r["text"])
        segments[i % n_seg].append(rec)
        if r["doc_id"] % 9 == 0:
            segments[i % n_seg].append(_html_mirror(rec, r["doc_id"]))
    return {
        "crawl": _write_crawl(ctx, segments),
        "n_fix": len(fixture),
        "n_mirror": sum(1 for r in fixture if r["doc_id"] % 9 == 0),
    }


def _html_pipeline(ctx, st):
    spark, sc = ctx.spark, ctx.spark.sparkContext
    staging = _fresh_stage(ctx, st, "html-curate")
    read_warc_html(spark, st["crawl"], links=True).write.parquet(staging)
    staged = spark.read.parquet(staging)
    # crawl authority: host link graph (explode + DISTINCT, bounded by
    # host-pair cardinality) -> directed PageRank over 13 hosts; h12 never
    # receives an inlink, so its rank is the teleport floor (0.15/13 ~
    # 0.0115) while every linked host sits near 1/12
    hedges = host_link_edges(staged, url_col="url", links_col="links")
    hranks = pagerank(
        hedges, src="src_host", dst="dst_host",
        damping=0.85, iterations=4, directed=True,
    )
    keep_hosts = hranks.where(F.col("rank") >= 0.02).select(
        F.col("node").alias("__keep_host")
    )
    funnel = observe_funnel(
        staged.select("doc_id", "url", "text"),
        [
            (
                # cheapest filter first: collapse crawl spellings of the
                # same canonical URL before any text is scored
                "url_dedup",
                lambda d: url_dedup(d, url_col="url", id_col="doc_id")
                .where("kept")
                .select("doc_id", "url", "text"),
            ),
            (
                "quality",
                lambda d: gopher_quality_flags(
                    d, min_words=20, min_stopword_hits=1,
                    passthrough=("url", "text"),
                ).where("keep").select("doc_id", "url", "text"),
            ),
            (
                "authority",
                lambda d: d.join(
                    F.broadcast(keep_hosts),
                    url_host_expr(F.col("url")) == F.col("__keep_host"),
                    "left_semi",
                ),
            ),
            (
                "dup_spans",
                lambda d: dedup.remove_duplicate_spans(
                    d, k=4, min_count=2, removed_count_col="n_removed"
                ),
            ),
        ],
    )
    write_jsonl_shards(funnel.df, st["export"], n_shards=8, compression=None)
    sc.setJobGroup("html-curate-done", "")
    return funnel


def _html_run(ctx, st):
    st["funnel"] = ctx.time("warc_html_curate", _html_pipeline, ctx, st)


def _html_check(ctx, st):
    counts, n_fix, n_mirror = st["funnel"].counts(), st["n_fix"], st["n_mirror"]
    if counts["input"] != n_fix + n_mirror:
        raise AssertionError(f"html ingest lost pages: {counts} != {n_fix}+{n_mirror}")
    # keep-first collapses each planted mirror pair to one survivor
    if counts["url_dedup"] != n_fix:
        raise AssertionError(f"URL dedup vacuous/lossy: {counts} != {n_fix}")
    if not (counts["url_dedup"] >= counts["quality"] >= counts["authority"]):
        raise AssertionError(f"html funnel not monotone: {counts}")
    if not 0 < counts["authority"] < counts["quality"]:
        raise AssertionError(f"authority gate vacuous: {counts}")
    back = ctx.spark.read.json(os.path.join(st["export"], "shard=*"))
    n_exp = back.count()
    if n_exp != counts["authority"]:
        raise AssertionError(f"html export mismatch: {n_exp} != {counts}")
    if back.where(F.col("text").contains("“legacy”")).count() == 0:
        raise AssertionError("no windows-1252 page survived with intact quotes")
    # the authority stage adds 3 jobs (edge-frame localCheckpoint,
    # route-gate count, driver-route collect — 13 hosts is far below
    # pagerank's driver_threshold) plus the URL window's AQE exchanges:
    # measured 20 at sf0.01; the bound catches per-row/per-stage job
    # growth, and a distributed-PageRank routing regression (the eager
    # rounds alone would add 7+)
    _job_bound(ctx, st, "warc_html_curate", 26)


# --- media_curate: multimodal end-to-end curation stage ----------------------
# The media flagship as ONE measured number, mirroring wet_curate's shape —
# payload staging -> per-modality REAL-decode quality gates (pixel mean/std
# for images, PCM silence for audio) -> keep-first perceptual dedup (images,
# videos) -> survivor export. NOT comparable to the per-operator keys (it
# pays the staging write, the decode passes, and the export; the image
# decode runs ONCE — image_profile_table emits the gate features and the
# dedup hash from the same pass). Payload fixtures are the entry file's
# in-plan BMP/WAV derivations plus the shared AVI corpus; thresholds are
# non-vacuous by construction (pixel mean <104 passes ~half the brightness
# shifts, std >=57.5 passes 30/50 pattern classes, silence v<=32 is ~1/8 of
# clips) and the gates assert they actually fired. Replication shifts
# doc_ids, but every payload derivation is doc_id%50 / md5(text) /
# doc_id-ordinal bounded, so on the probe's corpus the planted duplicate
# CLUSTERS grow replicas x while the distinct-signature cardinality stays
# fixed.


def _media_setup(ctx):
    docs = _docs(ctx)
    vcorpus = video_corpus(docs)
    return {
        "docs": docs,
        "vcorpus": vcorpus,
        "payloads": docs.select(
            "doc_id", F.lit("image").alias("kind"),
            entry_mod._bmp_payload_expr().alias("payload"),
        )
        .unionByName(
            docs.select(
                "doc_id", F.lit("audio").alias("kind"),
                entry_mod._wav_payload_expr().alias("payload"),
            )
        )
        .unionByName(vcorpus.select("doc_id", F.lit("video").alias("kind"), "payload")),
    }


def _media_pipeline(ctx, st):
    spark, sc = ctx.spark, ctx.spark.sparkContext
    mstage = _fresh_stage(ctx, st, "media-curate")
    st["payloads"].write.parquet(mstage)
    staged = st["staged"] = spark.read.parquet(mstage)
    # ONE decode pass emits both the quality features and the dedup
    # signature (image_profile_table) — the r8 shape paid a second full
    # decode (featurize for the gate, hash for the dedup)
    prof = image_profile_table(staged.where(F.col("kind") == "image"))
    # features are [mean, std, min, max] scaled by 1/255
    img_pass = st["img_pass"] = prof.where(
        (F.element_at("feature", 1) < 104.0 / 255)
        & (F.element_at("feature", 2) >= 57.5 / 255)
    ).select("doc_id", "phash")
    img_kept = (
        dedup.keep_first_by_signature(
            img_pass.where(F.col("phash").isNotNull()),
            id_col="doc_id", sig_col="phash",
            n_bits=64, max_hamming=6, n_bands=8,
        )
        .where("kept")
        .select("doc_id", F.lit("image").alias("kind"))
    )
    aud_kept = st["aud_kept"] = (
        audio_quality_features(staged.where(F.col("kind") == "audio"))
        .where((F.col("silence_frac") < 0.5) & (F.col("duration_s") >= 0.08))
        .select("doc_id", F.lit("audio").alias("kind"))
    )
    vid_kept = (
        video_dedup(
            staged.where(F.col("kind") == "video"),
            every_n=1, n_frames=3, max_hamming=6, n_bands=8,
        )
        .where("kept")
        .select("doc_id", F.lit("video").alias("kind"))
    )
    img_kept.unionByName(aud_kept).unionByName(vid_kept).write.partitionBy(
        "kind"
    ).parquet(st["export"])
    sc.setJobGroup("media-curate-done", "")


def _media_run(ctx, st):
    ctx.time("media_curate", _media_pipeline, ctx, st)


def _media_check(ctx, st):
    n_docs = st["docs"].count()
    if st["staged"].count() != 2 * n_docs + st["vcorpus"].count():
        raise AssertionError("media staging lost rows")
    n_img_pass = st["img_pass"].count()
    if not 0 < n_img_pass < n_docs:
        raise AssertionError(f"image quality gate vacuous: {n_img_pass}/{n_docs}")
    n_aud = st["aud_kept"].count()
    if not 0 < n_aud < n_docs:
        raise AssertionError(f"audio silence gate vacuous: {n_aud}/{n_docs}")
    back = ctx.spark.read.parquet(st["export"]).groupBy("kind").count().collect()
    by_kind = {r["kind"]: r["count"] for r in back}
    if by_kind.get("image", 0) > 30:  # <=30 surviving dhash classes
        raise AssertionError(f"image keep-first did not collapse: {by_kind}")
    if not 1 <= by_kind.get("video", 0) <= 24:
        raise AssertionError(f"video keep-first did not collapse: {by_kind}")
    if by_kind.get("audio") != n_aud:
        raise AssertionError(f"export mismatch: {by_kind} vs audio {n_aud}")
    # 2 writes + 4 eager stage-cache materializations (sigs + distinct sigs
    # in each keep-first dedup) + AQE per-exchange jobs: measured 19 at
    # sf0.01; the bound catches a per-row/per-stage job regression class,
    # not AQE jitter
    _job_bound(ctx, st, "media_curate", 24)


# --- bucket: the reference's core workload (ingest -> query -> merge) --------


def _bucket_setup(ctx):
    return {"ev": _bucket_events(ctx), "p": LonLatPartitioning(size=(10, 10))}


def _bucket_run(ctx, st):
    spark = ctx.spark

    def write():
        bucket = ctx.fresh("bucket")
        write_bucket(st["ev"], bucket, st["p"], x="lon", y="lat")
        return bucket

    bucket = st["bucket"] = ctx.time("bucket_write", write)
    if not ctx.probe:
        ctx.time(
            "bucket_read_extent",
            lambda: read(spark, bucket, extent=[-20, 40, 0, 30]).count(),
        )
        # polygon query: cell-exact pruning keeps ~the diagonal band's
        # cells, not its bbox cross product (non-vacuous at every SF: the
        # dart sits in the events table's southern latitude band)
        poly = [(-120.0, -88.0), (0.0, -64.0), (120.0, -88.0), (0.0, -76.0)]
        ctx.time("bucket_read_polygon", lambda: read(spark, bucket, polygon=poly).count())
    ctx.time(
        "bucket_merge",
        lambda: merge_granule_buckets(
            spark, bucket, ctx.fresh("merged"), temporal_partitioning="month"
        ),
    )


def _bucket_check(ctx, st):
    # the batch write keeps every event (the stream-ingest case gates its
    # own round trip against the same events)
    batch = ctx.spark.read.option("pathGlobFilter", "*.parquet").parquet(st["bucket"])
    n_batch, n_src = batch.count(), st["ev"].count()
    if n_batch != n_src:
        raise AssertionError(f"bucket write diverged: src={n_src} batch={n_batch}")


# --- bucket_stream_ingest: streaming ingest -> compaction round trip ---------
# N micro-batches through the exactly-once file sink, then the batch merge.
# NOT comparable to bucket_write (per-micro-batch commit + sink-log overhead
# is the price of exactly-once; see BASELINE.md bench notes) — benched so a
# regression in the stream-then-compact path is visible. The SOURCE FILE
# COUNT scales with replicas (4 per replica, one file per trigger): the
# scale-faithful model of a stream is 10x data arriving as 10x micro-batches
# of the same size, so the probe row resolves the fixed-vs-linear split of
# per-batch commit + sink-log overhead (seconds/batch flat = linear; growing
# = sink-log scan cost rising with batch count). The probe runs it cold and
# warm (measured cold/warm at 1x: 13.9 / 8.6 s — the cold shot charges
# streaming-machinery init to the row). Reference semantics: incremental
# bucket update, routines.py:580-587 of the reference.


def _stream_setup(ctx):
    src = os.path.join(ctx.work, "stream_src")
    _bucket_events(ctx).repartition(4 * ctx.replicas).write.parquet(src)
    return {
        "src": src,
        "n_src": ctx.spark.read.parquet(src).count(),
        "p": LonLatPartitioning(size=(10, 10)),
    }


def _stream_round_trip(ctx, st):
    spark = ctx.spark
    # fresh sink/checkpoint/merge dirs per rep: the exactly-once sink log
    # would otherwise no-op a replayed source
    sbucket = st["sbucket"] = ctx.fresh("stream_bucket")
    smerged = st["smerged"] = ctx.fresh("stream_merged")
    stream = (
        spark.readStream.schema(spark.read.parquet(st["src"]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(st["src"])
    )
    # repartition=8: micro-batches here are small (one source file), so a
    # handful of label-keyed tasks beats both the single-task write
    # (sequential directory creation) and a full-width shuffle (per-task
    # dispatch for near-empty tasks). Measured 27s -> 5s at sf0.1.
    q = stream_write_bucket(
        stream, sbucket, st["p"], checkpoint_dir=ctx.fresh("ckpt"),
        x="lon", y="lat", trigger={"availableNow": True}, repartition=8,
    )
    q.awaitTermination()
    merge_granule_buckets(spark, sbucket, smerged, temporal_partitioning="month")


def _stream_run(ctx, st):
    ctx.time("bucket_stream_ingest", _stream_round_trip, ctx, st)


def _stream_check(ctx, st):
    # streamed + compacted must equal the source
    spark, smerged, n_src = ctx.spark, st["smerged"], st["n_src"]
    n_stream = spark.read.parquet(st["sbucket"]).count()
    n_merged = spark.read.option("pathGlobFilter", "*.parquet").parquet(smerged).count()
    if not (n_stream == n_merged == n_src):
        raise AssertionError(
            f"stream-ingest round trip diverged: src={n_src} stream={n_stream} "
            f"merged={n_merged}"
        )
    if not glob.glob(f"{smerged}/**/*.parquet", recursive=True):
        raise AssertionError("stream merge produced no files")


# --- probe-only rows ------------------------------------------------------------
# Graph keys: the registry ``pagerank`` runs 10x the edge volume over a
# bounded node set (custkeys + 800 order buckets), so it measures per-round
# shuffle growth; ``pagerank_directed`` does the same for the DIRECTED loop
# with real per-round dangling-mass broadcasts (800 strictly-dangling
# nodes); ``host_rank``'s host set is fixed by the derivation moduli, so it
# measures the explode+DISTINCT edge extraction at 10x pages; the
# replicated documents make every text a 10-copy cluster, which pushes
# ``dup_clusters``' pair volume past the 200k driver union-find threshold
# onto the distributed star rounds — the routing flip the probe exists to
# observe.


def _sess_setup(ctx):
    """Source: the scaled events table keyed by user, written as
    ``4 * replicas`` TIME-ORDERED files (range-sliced on event time, mtimes
    staggered) so with ``maxFilesPerTrigger=1`` the BATCH COUNT scales with
    replicas — the stream-ingest convention; ordered slices keep a 0-second
    watermark exact (nothing late), so correctness gates stay sharp."""
    spark, n_files = ctx.spark, 4 * ctx.replicas
    ev = entry_mod._events(spark, ctx.sf_dir).select("user_id", F.col("ts").alias("time"))
    src = os.path.join(ctx.work, "sess_src")
    staged = os.path.join(ctx.work, "sess_sliced")
    # exact range bucketing on the event time (min/max from one aggregate),
    # one file per slice via a slice-keyed repartition
    lo, hi = ev.agg(
        F.min(F.col("time").cast("double")), F.max(F.col("time").cast("double"))
    ).collect()[0]
    span = max(hi - lo, 1e-9)
    sliced = ev.withColumn(
        "slice",
        F.least(
            F.lit(n_files - 1),
            F.floor((F.col("time").cast("double") - F.lit(lo)) / F.lit(span)
                    * F.lit(n_files)).cast("int"),
        ),
    )
    sliced.repartition(n_files, "slice").write.partitionBy("slice").parquet(staged)
    os.makedirs(src)
    for d in sorted(os.listdir(staged)):
        if not d.startswith("slice="):
            continue
        i = int(d.split("=")[1])
        parts = sorted(f for f in os.listdir(os.path.join(staged, d)) if f.endswith(".parquet"))
        for j, f in enumerate(parts):
            dst = os.path.join(src, f"{i:04d}_{j}.parquet")
            os.rename(os.path.join(staged, d, f), dst)
            os.utime(dst, (1e9 + i * 100, 1e9 + i * 100))
    return {
        "src": src,
        "schema": spark.read.parquet(src).schema,
        "n_src": spark.read.parquet(src).count(),
        "n_ev": ev.count(),
        "gap_s": 600.0,
    }


def _sess_run(ctx, st):
    def sessionize():
        stream = (
            ctx.spark.readStream.schema(st["schema"])
            .option("maxFilesPerTrigger", 1)
            .parquet(st["src"])
        )
        out = streaming_sessionize_stateful(
            stream, ["user_id"], time="time", gap=st["gap_s"], watermark="0 seconds"
        )
        q = (
            out.writeStream.format("memory")
            .queryName(st["table"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    st["table"] = f"sess_probe_{'cold' if ctx.cold else 'warm'}"
    st["query"] = ctx.time("stream_sessionize", sessionize)


def _sess_check(ctx, st):
    """Emitted sessions are a SUBSET of the batch lag-window
    sessionization of the same rows (same gap rule: > gap splits), and a
    SUPERSET of the sessions the watermark provably closed (end + gap
    strictly before the global max event time) — the emit-on-close contract
    from both directions, plus non-vacuity. Reports per-batch cost and PEAK
    STATE ROWS (from stateOperators progress) — the fixed-vs-linear split:
    per-batch cost flat/falling with batch count = linear; growing =
    state-store overhead rising with batches. Reference semantics: W1 gap
    sessionization, analysis.py:258-288 of the reference."""
    spark, gap_s = ctx.spark, st["gap_s"]
    emitted = spark.sql(f"SELECT * FROM {st['table']}")
    n_emitted = emitted.count()
    if not 0 < n_emitted:
        raise AssertionError("stream sessionize emitted nothing")
    # staging-completeness compares against the ORIGINAL events frame (src
    # vs src would be vacuous)
    if st["n_src"] != st["n_ev"]:
        raise AssertionError(f"slice staging lost rows: {st['n_src']} != {st['n_ev']}")
    rows = spark.read.parquet(st["src"])
    w = Window.partitionBy("user_id").orderBy("time")
    t_us = F.col("time").cast("double")
    batch_sessions = (
        rows.withColumn(
            "sid",
            F.sum(
                F.when(t_us - F.lag(t_us).over(w) > F.lit(gap_s), 1).otherwise(0)
            ).over(w),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("time").alias("session_start"),
            F.max("time").alias("session_end"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .drop("sid")
    )
    cols = ["user_id", "session_start", "session_end", "n_rows"]
    phantom = emitted.select(cols).join(batch_sessions.select(cols), cols, "left_anti").count()
    if phantom:
        raise AssertionError(f"{phantom}/{n_emitted} emitted sessions not in the batch oracle")
    global_max = rows.agg(F.max(t_us)).collect()[0][0]
    must_close = batch_sessions.where(
        F.col("session_end").cast("double") + F.lit(gap_s) < F.lit(global_max)
    )
    n_must = must_close.count()
    missing = must_close.select(cols).join(emitted.select(cols), cols, "left_anti").count()
    if missing:
        raise AssertionError(f"{missing}/{n_must} watermark-closed sessions never emitted")
    if not 0 < n_must <= n_emitted:
        raise AssertionError(f"closure gate vacuous: must={n_must}")
    if ctx.cold:
        return
    progress = st["query"].recentProgress
    n_batches = sum(1 for p in progress if p["numInputRows"] > 0) or len(progress)
    # growth receipts ride the recall dict (gate values, not timings)
    ctx.recall["sessionize_batches"] = n_batches
    ctx.recall["sessionize_per_batch_sec"] = round(
        ctx.timings["stream_sessionize"] / max(n_batches, 1), 3
    )
    ctx.recall["sessionize_peak_state_rows"] = max(
        (p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")),
        default=0,
    )


# stream_archive_gate / stream_vector_gate: the streaming archive gate
# (stream_dedup_against_indexes(learn=True)) appends to its indexes at
# TRIGGER frequency, so fragmentation grows much faster than the nightly
# posture the compaction receipts assume. Each row runs learn micro-batches
# (one file per trigger) against indexes built over the replicated corpus
# and resolves three questions:
#
# - per-batch cost trend (first vs last trigger durations from the query's
#   own progress records — flat = the per-batch probe cost is fixed;
#   growing = index fragmentation or state is leaking into the hot path);
# - partition file-count growth across the learn appends (the fragmentation
#   the in-stream compaction cadence must reclaim);
# - an IN-STREAM compaction receipt: the stream is split into two
#   availableNow segments sharing one checkpoint; between them the index is
#   compacted and a fixed gate probe must return BIT-IDENTICAL survivors,
#   then segment B resumes learning from the same checkpoint (mid-stream
#   maintenance is exactly how a production gate would run it — triggers
#   pause, compaction folds the fragments, the query restarts from offsets).
#   Segment A runs WITHOUT maintenance (the raw fragmentation-driven growth
#   term — r12 first reading: per-batch 3.76 -> 5.18 s over 20 uncompacted
#   learn batches), segment B WITH the gate's own compact_every cadence.
#
# Correctness gates (non-vacuous both ways): duplicates of the archive drop,
# copies of an EARLIER batch's survivors drop only via learn, and every
# novel row survives — pinned by exact id-set equality over the whole run.


def _stage_gate_batches(ctx, st, batches) -> None:
    """One parquet file per micro-batch in st["src"] (mtimes staggered so
    maxFilesPerTrigger=1 replays them in order); the second half waits in
    st["hidden"] until segment B."""
    spark, src, hidden = ctx.spark, st["src"], st["hidden"]
    os.makedirs(src)
    os.makedirs(hidden)
    for i, rows in enumerate(batches):
        sub = os.path.join(ctx.work, f"b{i}")
        spark.createDataFrame(rows, st["schema"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.rename(os.path.join(sub, part), dst)
        os.utime(dst, (1e9 + i * 100, 1e9 + i * 100))
    for i in range(len(batches) // 2, len(batches)):
        os.rename(os.path.join(src, f"{i:04d}.parquet"), os.path.join(hidden, f"{i:04d}.parquet"))


def _release_hidden_batches(st) -> None:
    for f in sorted(os.listdir(st["hidden"])):
        os.rename(os.path.join(st["hidden"], f), os.path.join(st["src"], f))


def _gate_segment(ctx, st, tag, compact_every=None) -> float:
    """One availableNow segment of the archive gate; its trigger durations
    land in st["durations"][tag]. Returns the segment's wall seconds."""
    t0 = time.perf_counter()
    stream = (
        ctx.spark.readStream.schema(st["schema"])
        .option("maxFilesPerTrigger", 1)
        .parquet(st["src"])
    )
    q = stream_dedup_against_indexes(
        stream, st["sink"], st["ckpt"], learn=True, trigger={"availableNow": True},
        compact_every=compact_every, **st["gate_kwargs"],
    )
    q.awaitTermination()
    durations = st["durations"].setdefault(tag, [])
    for prog in q.recentProgress:
        d = (prog.get("durationMs") or {}).get("triggerExecution")
        if d is not None and prog.get("numInputRows", 0) > 0:
            durations.append(d / 1000.0)
    return time.perf_counter() - t0


def _gate_state(ctx, schema, index, frag, **gate_kwargs) -> dict:
    w = ctx.work
    return {
        "schema": schema, "index": index, "frag": frag, "gate_kwargs": gate_kwargs,
        "durations": {}, "src": os.path.join(w, "src"), "hidden": os.path.join(w, "hidden"),
        "sink": os.path.join(w, "sink"), "ckpt": os.path.join(w, "ckpt"),
    }


def _gate_run(ctx, st, compact_key, compact):
    """Segment A without maintenance; the in-stream compaction between two
    readings of the fixed gate probe; segment B under the gate's own
    compact_every cadence. Returns the segments' wall seconds."""
    frag = partial(_max_files_per_partition, *st["frag"])
    sec_a = _gate_segment(ctx, st, "a")
    st["frag_mid"], st["before"] = frag(), st["probe_ids"]()
    st["n_compacted"] = ctx.time(compact_key, compact, ctx.spark, st["index"])
    st["frag_compacted"], st["after"] = frag(), st["probe_ids"]()
    _release_hidden_batches(st)
    sec_b = _gate_segment(ctx, st, "b", compact_every=max(st["n_batches"] // 2 // 4, 2))
    st["frag_end"] = frag()
    return sec_a, sec_b


def _gate_check(ctx, st, id_col, label) -> None:
    """The compaction kept the fixed probe's survivors and folded the learn
    appends' fragments; the sink kept exactly the novel rows."""
    if st["after"] != st["before"] or not st["before"]:
        raise AssertionError(f"in-stream compaction changed {label} probe results")
    if st["n_compacted"] < 1 or not st["frag_compacted"] < st["frag_mid"]:
        raise AssertionError(
            f"learn appends did not fragment / compaction did not fold: "
            f"{st['frag_mid']} -> {st['frag_compacted']}"
        )
    sink = st["sink"]
    kept = {
        r[id_col]
        for r in ctx.spark.read.option("basePath", sink).parquet(f"{sink}/batch=*").collect()
    }
    expected = st["expected_kept"]
    if kept != expected:
        raise AssertionError(
            f"{label} diverged: {len(kept)} kept vs {len(expected)} expected "
            f"(extra={sorted(kept - expected)[:5]} missing={sorted(expected - kept)[:5]})"
        )


def _text_gate_setup(ctx):
    corpus = _docs(ctx).select("doc_id", "text")
    bidx, midx = os.path.join(ctx.work, "bloom_idx"), os.path.join(ctx.work, "mh_idx")
    dedup.build_bloom_index(corpus, bidx, ["text"])
    dedup.build_minhash_index(corpus, midx, n_hashes=8, n_bands=4, shingle_size=8)
    st = _gate_state(
        ctx, "doc_id long, text string", midx, (os.path.join(midx, "bands"), "band_idx="),
        bloom_index_dir=bidx, minhash_index_dir=midx, min_jaccard=0.5,
    )
    st["n_batches"] = 4 * ctx.replicas
    # near-dup seeds must be long enough that a suffix edit stays >= 0.5
    # Jaccard — one short doc would break the drop gate
    n_batches = st["n_batches"]
    seeds = (
        corpus.where(F.length("text") >= 200).orderBy("doc_id").limit(2 * n_batches + 2).collect()
    )
    if len(seeds) < 2 * n_batches + 2:
        raise AssertionError("not enough long docs to seed the gate batches")

    def novel_text(i: int, j: int) -> str:
        return f"novelgate b{i} d{j} " + " ".join(f"tok{i}x{j}y{w}" for w in range(18))

    # batch i: 2 exact corpus dups (Bloom leg drops), 2 near-dups of corpus
    # (MinHash leg drops), 2 copies of batch i-1's novels (LEARN drops), 6
    # novel docs (survive and get learned)
    batches, st["expected_kept"] = [], set()
    for i in range(n_batches):
        rows = [(1_000_000 + 100 * i + j, seeds[2 * i + j]["text"]) for j in range(2)]
        rows += [(2_000_000 + 100 * i + j, seeds[2 * i + j]["text"] + " tailtok") for j in range(2)]
        if i > 0:
            rows += [(3_000_000 + 100 * i + j, novel_text(i - 1, j)) for j in range(2)]
        for j in range(6):
            rows.append((4_000_000 + 100 * i + j, novel_text(i, j)))
            st["expected_kept"].add(4_000_000 + 100 * i + j)
        batches.append(rows)
    _stage_gate_batches(ctx, st, batches)
    st["gate_probe"] = ctx.spark.createDataFrame(
        [(9_000_000 + j, novel_text(0, j)) for j in range(4)]  # learned in seg A
        + [(9_100_000 + j, seeds[j]["text"] + " tailtok") for j in range(4)]
        + [
            (9_200_000 + j, f"gateprobe fresh {j} " + " ".join(f"g{j}w{w}" for w in range(18)))
            for j in range(4)
        ],
        st["schema"],
    )
    st["probe_ids"] = lambda: sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup_against_index(
            st["gate_probe"], midx, min_jaccard=0.5
        ).collect()
    )
    return st


def _text_gate_run(ctx, st):
    sec_a, sec_b = _gate_run(
        ctx, st, "stream_archive_compact",
        lambda spark, idx: dedup.compact_minhash_index(spark, idx)["band_partitions"],
    )
    ctx.record(
        "stream_archive_gate",
        round(sec_a + ctx.timings["stream_archive_compact"] + sec_b, 3),
    )


def _text_gate_check(ctx, st):
    _gate_check(ctx, st, "doc_id", "archive gate")
    dur_a, dur_b = st["durations"].get("a", []), st["durations"].get("b", [])
    k = max(1, min(5, len(dur_a) // 2))
    kb = max(1, min(5, len(dur_b) // 2))
    last, b_last = round(sum(dur_a[-k:]) / k, 3), round(sum(dur_b[-kb:]) / kb, 3)
    # the cadence must keep segment B's tail from re-ratcheting past segment
    # A's uncompacted tail (generous 1.25x: host noise, and the cadence
    # compactions themselves ride inside B's trigger durations)
    if b_last > 1.25 * max(last, 0.001):
        raise AssertionError(
            f"compact_every did not bound per-batch growth: segment B tail "
            f"{b_last} vs segment A tail {last}"
        )
    ctx.recall.update(
        gate_batches=st["n_batches"],
        gate_per_batch_first=round(sum(dur_a[:k]) / k, 3),
        gate_per_batch_last=last,
        gate_per_batch_cadenced=b_last,
        gate_frag_mid=st["frag_mid"],
        gate_frag_compacted=st["frag_compacted"],
        gate_frag_end=st["frag_end"],
    )


def _vector_gate_setup(ctx):
    emb = _vectors(ctx)
    vidx = os.path.join(ctx.work, "ivfpq_idx")
    sim.build_ivfpq_index(emb, vidx, dim=64, n_clusters=8, m=4, ksub=16, store_vectors=True)
    st = _gate_state(
        ctx, "vec_id long, embedding array<double>", vidx,
        (os.path.join(vidx, "codes"), "__cluster="),
        ivfpq_index_dir=vidx, min_cosine=0.9, n_probe=2, ivfpq_verify="index",
        adc_margin=None,
    )
    n_batches = st["n_batches"] = 2 * ctx.replicas
    seeds = emb.orderBy("vec_id").limit(2 * n_batches + 8).collect()

    def novel(i: int, j: int) -> list[float]:
        # a deterministic sign-flip pattern unique to (i, j): flips of
        # disjoint coordinate blocks keep mutual cosines far from 1.0 while
        # staying unit-norm
        v = list(seeds[(2 * i + j) % (2 * n_batches)]["embedding"])
        start = (7 * i + 13 * j) % 48
        for w in range(start, start + 16):
            v[w] = -v[w]
        return [-x for x in v]

    # batch i: 2 exact archive copies (drop), 2 copies of batch i-1's
    # novels (drop via learn), 2 novel vectors (survive + learn)
    batches, st["expected_kept"] = [], set()
    for i in range(n_batches):
        rows = [(1_000_000 + 100 * i + j, seeds[2 * i + j]["embedding"]) for j in range(2)]
        if i > 0:
            rows += [(3_000_000 + 100 * i + j, novel(i - 1, j)) for j in range(2)]
        for j in range(2):
            rows.append((4_000_000 + 100 * i + j, novel(i, j)))
            st["expected_kept"].add(4_000_000 + 100 * i + j)
        batches.append(rows)
    _stage_gate_batches(ctx, st, batches)
    # a fixed semantic probe: learned seg-A novels, archive copies, fresh
    st["gate_probe"] = ctx.spark.createDataFrame(
        [(9_000_000 + j, novel(0, j)) for j in range(2)]
        + [(9_100_000 + j, seeds[j]["embedding"]) for j in range(2)]
        + [(9_200_000 + j, novel(n_batches + 1 + j, 0)) for j in range(2)],
        st["schema"],
    )
    st["probe_ids"] = lambda: sorted(
        r["vec_id"] for r in _semantic_probe(st["gate_probe"], vidx).collect()
    )
    return st


def _vector_gate_run(ctx, st):
    _gate_run(ctx, st, "stream_vector_compact", sim.compact_ivfpq_index)
    ctx.record(
        "stream_vector_gate", round(sum(sum(v) for v in st["durations"].values()), 3)
    )


def _vector_gate_check(ctx, st):
    # non-vacuous: learned seg-A novels AND archive copies drop, fresh keep
    if st["before"] != [9_200_000, 9_200_001]:
        raise AssertionError(f"gate probe not discriminating: {st['before']}")
    _gate_check(ctx, st, "vec_id", "vector gate")
    d_all = st["durations"].get("a", []) + st["durations"].get("b", [])
    ctx.recall.update(
        vgate_batches=st["n_batches"],
        vgate_per_batch_first=round(sum(d_all[:3]) / max(len(d_all[:3]), 1), 3),
        vgate_per_batch_last=round(sum(d_all[-3:]) / max(len(d_all[-3:]), 1), 3),
        vgate_frag_mid=st["frag_mid"],
        vgate_frag_compacted=st["frag_compacted"],
        vgate_frag_end=st["frag_end"],
    )


def _bm25_setup(ctx):
    return {
        "corpus": _docs(ctx).select("doc_id", "text"),
        "terms": ["data", "model", "the"],
        "full_idx": os.path.join(ctx.work, "bm25_full"),
        "inc_idx": os.path.join(ctx.work, "bm25_inc"),
        "frag_idx": os.path.join(ctx.work, "bm25_frag"),
        "splits": 10,
    }


def _bm25_run(ctx, st):
    """Persisted BM25 index at the replicated corpus (r12 — the fourth
    leg's 10x row). Scale question: the probe's cost must track MATCHED
    POSTING rows (query-term df), never corpus size — its inputs are the
    pushed In(term) slice of the postings table plus a query-terms-sized
    read of terms/."""
    spark, corpus, terms, splits = ctx.spark, st["corpus"], st["terms"], st["splits"]

    def scores(idx):
        return sorted(map(tuple, bm25_index_topk(spark, idx, terms, k=None).collect()))

    ctx.time("bm25_index_build", build_bm25_index, corpus, st["full_idx"])
    st["full"] = ctx.time("bm25_index_probe", scores, st["full_idx"])
    # append-equals-rebuild at scale: split one replica out by id range
    split = corpus.agg(F.expr("percentile_approx(doc_id, 0.9)")).collect()[0][0]
    build_bm25_index(corpus.where(F.col("doc_id") <= split), st["inc_idx"])
    ctx.time(
        "bm25_index_append", append_to_bm25_index,
        corpus.where(F.col("doc_id") > split), st["inc_idx"],
    )
    st["inc_scores"] = scores(st["inc_idx"])
    # append-heavy fragmentation row (r13): many nightly appends shrink
    # posting files until the pushed In(term) point-lookup pays a footer
    # open per file; compact_bm25_index must restore the few-files
    # term-range layout with scores bit-identical to the fragmented index
    # AND to the single build (exact-sum non-vacuity)
    frag = st["frag_idx"]
    build_bm25_index(corpus.where(F.col("doc_id") % splits == 0), frag)
    for part in range(1, splits):
        append_to_bm25_index(corpus.where(F.col("doc_id") % splits == part), frag)
    st["frag_row"] = index_report(spark, frag)["components"]["postings"]
    st["frag_scores"] = ctx.time("bm25_probe_fragmented", scores, frag)
    st["cstats"] = ctx.time("bm25_index_compact", compact_bm25_index, spark, frag)
    st["cmp_scores"] = ctx.time("bm25_probe_compacted", scores, frag)


def _bm25_check(ctx, st):
    """(a) the probe plan scans no corpus parquet and carries the pushed
    In(term); (b) append-equals-rebuild holds at scale (build on 9 replicas
    + append 1 == scores from the full build — df/stats are exact sums);
    (c) results non-empty; (d) compaction folds files, scores unchanged."""
    spark, full = ctx.spark, st["full"]
    if not full:
        raise AssertionError("bm25 index probe vacuous: no matches")
    plan = _plan(bm25_index_topk(spark, st["full_idx"], st["terms"], k=None))
    if "documents.parquet" in plan:
        raise AssertionError("bm25 probe scanned the corpus parquet")
    if "PushedFilters: [In(term" not in plan:
        raise AssertionError("bm25 probe lost the pushed In(term) filter")
    if st["inc_scores"] != full:
        raise AssertionError("bm25 append-equals-rebuild diverged at scale")
    if st["frag_row"]["files"] < st["splits"]:
        raise AssertionError(f"append-heavy index unexpectedly unfragmented: {st['frag_row']}")
    if st["cmp_scores"] != st["frag_scores"] or st["cmp_scores"] != full:
        raise AssertionError("bm25 compaction changed probe scores")
    files = st["cstats"]["posting_files"]
    if not files[1] < files[0]:
        raise AssertionError(f"bm25 compaction did not reduce files: {files}")
    _fsck_gate(spark, st["full_idx"], st["inc_idx"], st["frag_idx"])
    ctx.recall["bm25_posting_files"] = list(files)


def _ivfpq_recall(spark, index_dir, queries, exact) -> float:
    return sim.recall_at_k(sim.ivfpq_index_topk(spark, index_dir, queries, k=10, n_probe=2), exact)


def _drift_setup(ctx):
    """Codebook-drift maintenance row (r14 — VERDICT r13 task #4): the ANN
    analogue of the BM25 compaction row. Appends keep an IVFPQ index
    CURRENT; this row watches what appends do to ACCURACY once the
    embedding distribution leaves the frozen codebooks behind: build on the
    base distribution, append a distribution-SHIFTED batch (offset outside
    the base ball — it lands in one stale coarse cluster and quantizes to
    near-constant codes), measure recall@10 vs brute force DEGRADED (the
    drift signal a plan gate cannot see) before the timed retrain. Shifted
    rows carry a vec_id-derived jitter so their values are DISTINCT across
    replica copies — the ground truth is tie-free, and the replicated
    base's exact copies never enter a shifted query's true top-k."""
    spark, emb = ctx.spark, _vectors(ctx)
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    idx = os.path.join(ctx.work, "drift_index")
    sim.build_ivfpq_index(emb, idx, dim=64, n_clusters=16, m=4, ksub=16, store_vectors=True)
    # the nightly watch (r15, VERDICT r14 Missing #2): the retrain DECISION
    # is made by the library op, not harness arithmetic — record the
    # post-build reading as the baseline, re-check after the drifted append
    # and require the op to recommend the retrain
    watch_baseline = sim.check_ivfpq_recall(spark, idx, n_queries=200)["recall"]
    # ~1/3 of the corpus shifts: drift maintenance is a rebuild DECISION —
    # it fires when the new distribution carries real mass (PQ capacity
    # allocation is population-proportional, so a 2% blob can't claim
    # codebook range at any engine's retrain). The per-row jitter
    # (vec_id-derived, ~1e-4) keeps values DISTINCT across replica copies,
    # so the brute-force ground truth is tie-free while the neighbor
    # structure stays dominated by the 0.5-scaled base spread.
    jit = (F.col("vec_id") % 997).cast("double") * 1e-4
    shifted_path = os.path.join(ctx.work, "shifted")
    emb.where(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + max_id + 1).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.5 + 2.0 + jit).alias("embedding"),
    ).write.parquet(shifted_path)
    shifted = spark.read.parquet(shifted_path)
    sim.append_to_ivfpq_index(shifted, idx)
    corpus = emb.unionByName(shifted)
    # query modulus scales with replicas (the ann-stage convention): the
    # query count stays fixed so the row isolates corpus growth
    queries = shifted.where(F.col("vec_id") % (16 * ctx.replicas) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sim.brute_force_topk(corpus, queries, k=10, metric="l2")
    return {
        "index": idx, "corpus": corpus, "queries": queries, "exact": exact,
        "watch_baseline": watch_baseline,
        "r_before": _ivfpq_recall(spark, idx, queries, exact),
        "watch": sim.check_ivfpq_recall(spark, idx, n_queries=200, baseline=watch_baseline),
    }


def _drift_run(ctx, st):
    ctx.time("ivfpq_retrain", sim.retrain_ivfpq_index, ctx.spark, st["index"])


def _drift_check(ctx, st):
    """Gates pinned from measurement (two drafts measured before pinning):
    a ~8%-mass shifted blob read retrain recall 0.074 -> 0.090 — PQ
    capacity allocation is population-proportional, so the fixture gives
    the drifted distribution real mass (~1/3); and ABSOLUTE recall shrinks
    with corpus size at fixed PQ capacity (0.353 restored at 500 vectors,
    0.174 at 20k — the bench's healthy floor is 0.10 at sf0.1), so the
    restore gate is RELATIVE: degraded < 0.2 (the random-tie floor),
    restored >= 2.5x degraded AND >= 0.8x a FRESH rebuild over the same
    mixed corpus (the gold standard any retrain could at best achieve,
    measured in-stage on the same queries) — "restored" means retraining
    recovered what a from-scratch rebuild would."""
    spark, idx, queries, exact = ctx.spark, st["index"], st["queries"], st["exact"]
    r_before, watch = st["r_before"], st["watch"]

    if not r_before < 0.2:
        raise AssertionError(
            f"drift fixture vacuous: degraded recall reads {r_before:.3f} "
            "(expected the random-tie floor < 0.2)"
        )
    # the op-level gate must agree with the stage's measured degradation:
    # ~1/3 of the corpus drifted, so the corpus-wide sampled reading drops
    # to ~2/3 of baseline — under the 0.8x default
    if watch["retrain_recommended"] is not True:
        raise AssertionError(
            f"check_ivfpq_recall did not recommend the retrain: baseline "
            f"{st['watch_baseline']:.3f}, drifted {watch['recall']:.3f}"
        )
    r_after = _ivfpq_recall(spark, idx, queries, exact)
    # gold-standard reference: a FRESH build over the same mixed corpus,
    # same queries, same ground truth. NOT base-distribution queries —
    # replication makes every base vector an exact R-copy, so base queries'
    # top-k is their own copies and recall saturates at 1.0 (the ann row's
    # documented tie trap), which would gate the shifted queries against a
    # vacuous 1.0.
    fresh = os.path.join(ctx.work, "fresh_index")
    sim.build_ivfpq_index(st["corpus"], fresh, dim=64, n_clusters=16, m=4, ksub=16)
    r_fresh = _ivfpq_recall(spark, fresh, queries, exact)
    if not (r_after >= 2.5 * r_before and r_after >= 0.8 * r_fresh):
        raise AssertionError(
            f"retrain did not restore recall: {r_before:.3f} -> "
            f"{r_after:.3f} (fresh-rebuild reference {r_fresh:.3f})"
        )
    # capacity lever (untimed receipt): at 10x the capacity-matched restore
    # equals the gold standard but BOTH are PQ-capacity-bound (fixed m*ksub
    # resolution over a 10x corpus). Drift response at scale is retrain +
    # re-spec, and retrain owns the knobs — show the same operator lifting
    # recall by raising ksub, gated strictly above the capacity-matched
    # reading.
    sim.retrain_ivfpq_index(spark, idx, ksub=64)
    r_cap = _ivfpq_recall(spark, idx, queries, exact)
    if not r_cap > r_after:
        raise AssertionError(
            f"ksub=64 retrain did not lift capacity-bound recall: {r_after:.3f} -> {r_cap:.3f}"
        )
    _fsck_gate(spark, idx)
    # drift receipt rides the recall dict (gate values, not timings):
    # degraded, restored, fresh-rebuild reference, capacity-lever reading
    ctx.recall.update(
        ivfpq_drift_recall_before=round(r_before, 4),
        ivfpq_drift_recall_after=round(r_after, 4),
        ivfpq_drift_recall_fresh=round(r_fresh, 4),
        ivfpq_drift_recall_ksub64=round(r_cap, 4),
    )


def _cc_setup(ctx):
    """Incremental cluster-map maintenance at the replicated corpus (r12).
    Scale question: a nightly batch's merge into a CORPUS-SIZED standing
    map must not recompute components over the corpus's accumulated edge
    history. The update contracts standing components to their
    representatives (batch-sized solve — legitimately driver-routed) and
    applies the merges with ONE broadcast pass over the standing map; the
    comparison number is the full recompute over (old ∪ new) on the
    DISTRIBUTED route — the only route a corpus-scale edge history has
    (forced driver_threshold=0, same framing as the pagerank probe)."""
    docs = _docs(ctx).select("doc_id")
    old = docs.select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") - F.col("doc_id") % 4).alias("dst"),
    )
    standing_path = os.path.join(ctx.work, "standing")
    connected_components(old).write.parquet(standing_path)
    # the nightly batch: FIXED size regardless of replicas (base-id window)
    base = docs.where(F.col("doc_id") < 4000)
    new = base.where(F.col("doc_id") % 8 == 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 4).alias("dst")
    ).unionByName(
        base.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("src"),
            (F.col("doc_id") - F.col("doc_id") % 4).alias("dst"),
        )
    )
    return {"standing": ctx.spark.read.parquet(standing_path), "old": old, "new": new}


def _cc_run(ctx, st):
    def components(df):
        return {r["node"]: r["component"] for r in df.collect()}

    st["got"] = ctx.time(
        "cc_update", lambda: components(update_connected_components(st["standing"], st["new"]))
    )
    st["expected"] = ctx.time(
        "cc_update_full",
        lambda: components(
            connected_components(st["old"].unionByName(st["new"]), driver_threshold=0)
        ),
    )


def _cc_check(ctx, st):
    got, expected = st["got"], st["expected"]
    if got != expected:
        diff = {k for k in expected if got.get(k) != expected[k]}
        raise AssertionError(
            f"incremental map diverged from full recompute on {len(diff)} "
            f"nodes (e.g. {sorted(diff)[:5]})"
        )


def _pr_update_setup(ctx):
    """Warm-start rank refresh at the replicated corpus (r13). Scale
    question: rank mass is global, so the refresh cannot skip the corpus —
    what it buys is ROUNDS, and at 10x graph size each round is a
    corpus-sized shuffle."""
    docs = _docs(ctx).select("doc_id")
    # heavy-tailed degrees (hub nodes with ~corpus/4093 spokes) — the
    # crawl/dup-graph shape warm starting exists for. On a near-regular
    # graph the fixpoint IS the uniform vector, i.e. the cold start already
    # sits at the answer and the receipt would be vacuous.
    old = docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") % 4093).alias("dst"),
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + 1) % 50_000).alias("dst"),
        )
    )
    # the nightly batch: fixed base-id window wiring 211 brand-new hubs
    new = docs.where(F.col("doc_id") < 2000).select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 13 + 5) % 211 + 10_000_000).alias("dst"),
    )
    # the standing map is CONVERGED state (last night's run ended many
    # rounds deep): 16 rounds leaves a 0.85^16 ~ 7% residual, so the warm
    # seed's distance to the new fixpoint is dominated by the batch's
    # perturbation, not by standing-map sloppiness
    return {
        "full": old.unionByName(new),
        "standing": pagerank(old, iterations=16, driver_threshold=0),
    }


def _pr_update_run(ctx, st):
    def ranks(df):
        return {r["node"]: r["rank"] for r in df.collect()}

    full = st["full"]
    st["warm"] = ctx.time(
        "pagerank_update_warm",
        lambda: ranks(update_pagerank(st["standing"], full, iterations=4, driver_threshold=0)),
    )
    st["cold"] = ctx.time(
        "pagerank_update_cold",
        lambda: ranks(pagerank(full, iterations=4, driver_threshold=0)),
    )


def _pr_update_check(ctx, st):
    """(a) accuracy — warm-4-rounds lands at least 2x closer (L1) to a
    24-round reference than cold-4-rounds, so the standing seed genuinely
    replaces rounds at scale; (b) mass — warm ranks sum to 1 (the seed fold
    renormalized exactly); the warm and cold readings show the seed join
    staying a one-time cost, not a per-round term."""
    warm, cold = st["warm"], st["cold"]
    truth = {
        r["node"]: r["rank"]
        for r in pagerank(st["full"], iterations=24, driver_threshold=0).collect()
    }
    l1_warm = sum(abs(warm[k] - truth[k]) for k in truth)
    l1_cold = sum(abs(cold[k] - truth[k]) for k in truth)
    if not l1_warm < 0.5 * l1_cold:
        raise AssertionError(
            f"warm start did not buy rounds at scale: L1 warm {l1_warm:.6f} "
            f"vs cold {l1_cold:.6f}"
        )
    mass = sum(warm.values())
    if abs(mass - 1.0) > 1e-6:
        raise AssertionError(f"warm ranks mass {mass} != 1")
    ctx.recall["pagerank_update_l1_ratio"] = round(l1_warm / l1_cold, 4)


# --- the registry -------------------------------------------------------------
_FCB, _PROBE = (FILE_COUNT_BOUND,), (PROBE_ONLY,)

CASES: list[Case] = [
    *(registry_case(k, *(_FCB if k in _HEADLINE_FILE_COUNT_BOUND else ())) for k in HEADLINE),
    Case("video_hash", ("video_hash",), _video_hash_run, _video_setup, tags=(WARM,)),
    Case(
        "video_dedup", ("video_dedup",), _video_dedup_run, _video_setup,
        _video_dedup_check, (WARM,),
    ),
    Case("pagerank_update_refresh", ("pagerank_update_refresh",), _refresh_run, _refresh_setup),
    Case(
        "ann_index_search", ("ann_index_search",), _ann_run, _ann_setup, _ann_check,
        _FCB, probe_keys=("ann_index_build", "ann_index_search"),
    ),
    Case(
        "minhash_index", ("minhash_index_build", "minhash_index_probe"),
        _minhash_run, _minhash_setup, _minhash_check, _FCB,
        probe_keys=("minhash_index_build", "minhash_index_probe", "minhash_index_compact"),
    ),
    Case(
        "bloom_index", ("bloom_index_build", "bloom_index_probe"),
        _bloom_run, _bloom_setup, _bloom_check, _FCB,
        probe_keys=(
            "bloom_index_build", "bloom_index_probe", "bloom_index_append", "bloom_rebuild",
        ),
    ),
    Case(
        "semantic_index_probe", ("semantic_index_probe",),
        _semantic_run, _semantic_setup, _semantic_check, _FCB,
        probe_keys=("semantic_index_build", "semantic_index_probe", "semantic_index_append"),
    ),
    Case("wet_curate", ("wet_curate",), _wet_run, _wet_setup, _wet_check),
    Case("curate_and_split", ("curate_and_split",), _split_run, check=_split_check),
    Case("warc_html_curate", ("warc_html_curate",), _html_run, _html_setup, _html_check),
    Case("media_curate", ("media_curate",), _media_run, _media_setup, _media_check),
    Case(
        "bucket",
        ("bucket_write", "bucket_read_extent", "bucket_read_polygon", "bucket_merge"),
        _bucket_run, _bucket_setup, _bucket_check, _FCB,
        probe_keys=("bucket_write", "bucket_merge"),
    ),
    Case(
        "bucket_stream_ingest", ("bucket_stream_ingest",), _stream_run, _stream_setup,
        _stream_check, (FILE_COUNT_BOUND, WARM),
    ),
    # probe-only rows
    registry_case("pagerank_directed", PROBE_ONLY),
    Case(
        "stream_sessionize", ("stream_sessionize",), _sess_run, _sess_setup, _sess_check,
        (PROBE_ONLY, WARM),
    ),
    Case(
        "stream_archive_gate", ("stream_archive_gate", "stream_archive_compact"),
        _text_gate_run, _text_gate_setup, _text_gate_check, _PROBE,
    ),
    Case(
        "bm25_index_probe",
        (
            "bm25_index_build", "bm25_index_probe", "bm25_index_append",
            "bm25_probe_fragmented", "bm25_probe_compacted", "bm25_index_compact",
        ),
        _bm25_run, _bm25_setup, _bm25_check, _PROBE,
    ),
    Case(
        "ivfpq_drift_retrain", ("ivfpq_retrain",), _drift_run, _drift_setup,
        _drift_check, _PROBE,
    ),
    Case("cc_update", ("cc_update", "cc_update_full"), _cc_run, _cc_setup, _cc_check, _PROBE),
    Case(
        "pagerank_update", ("pagerank_update_warm", "pagerank_update_cold"),
        _pr_update_run, _pr_update_setup, _pr_update_check, _PROBE,
    ),
    Case(
        "stream_vector_gate", ("stream_vector_gate", "stream_vector_compact"),
        _vector_gate_run, _vector_gate_setup, _vector_gate_check, _PROBE,
    ),
]


def bench_cases() -> list[Case]:
    return [c for c in CASES if PROBE_ONLY not in c.tags]


def bench_keys() -> list[str]:
    """Every key a full bench.py run records, in record order."""
    return [k for c in bench_cases() for k in c.keys]


def resolve(names, probe: bool = False) -> list[Case]:
    """The cases that record ``names`` (a case name or one of its keys),
    each once, in first-mention order. Under the probe, probe_only cases
    shadow bench cases of the same name (the probe's cc_update and
    pagerank_update rows); any other ``queries()`` key becomes an ad-hoc
    registry case."""
    pool = [c for c in CASES if PROBE_ONLY in c.tags] if probe else []
    pool += bench_cases()
    out: list[Case] = []
    for name in names:
        case = next((c for c in pool if name == c.name or name in c.keys_for(probe)), None)
        if case is None:
            if name not in entry_mod.queries():
                raise KeyError(f"no bench case or query records {name!r}")
            case = registry_case(name)
        if case not in out:
            out.append(case)
    return out
