"""Stage materialization policy: localCheckpoint vs persist vs checkpoint.

Several multi-branch operators (LSH dedup, image hashing, connected
components) materialize a small intermediate once so that the branches
referencing it do not recompute the expensive upstream (decode, hashing).
The default mechanism is ``DataFrame.localCheckpoint`` — fastest, because
the blocks live on executor LOCAL disk/memory with no replication. The
trade: on a real cluster with dynamic allocation or preemption, losing an
executor loses its blocks AND the truncated lineage, killing the query
instead of recomputing it.

This module makes the policy a knob so cluster deployments can choose a
fault-tolerant posture without touching operator code:

- ``"local_checkpoint"`` (default): fastest; not safe under executor loss.
- ``"persist"``: ``MEMORY_AND_DISK`` cache, lineage KEPT — executor loss
  recomputes the lost partitions. Iterative loops (connected components,
  PageRank) never use plain persist for round boundaries — kept lineage
  grows the plan exponentially per round (see :func:`round_cache`); they
  upgrade to checkpoint (if a dir is set) or localCheckpoint + warning.
- ``"reliable_checkpoint"``: ``DataFrame.checkpoint`` to the Spark
  checkpoint directory (HDFS/object store on a cluster) — survives any
  executor loss and truncates lineage; pays a write to reliable storage.
  Requires ``spark.sparkContext.setCheckpointDir(...)`` first.

Use :func:`set_stage_cache_mode` (process-global) or the
:func:`stage_cache_mode` context manager. All modes produce identical
results; tests pin that (tests/test_caching.py).

Measured stages. An operator that joins a derived frame back onto a
corpus-sized one materializes that frame once with
:func:`measured_stage` and hints the join with :func:`broadcast_if_fits`:

- ``measured_stage(df, *extra_metrics)`` runs ONE eager materialization
  with an ``Observation`` riding it (row count ``n`` plus any extra
  aggregate expressions), then adds ``bytes``, the size of the cache
  itself: the block storage of a ``localCheckpoint``'s ``LogicalRDD``, or
  the materialized ``InMemoryRelation`` stats of a ``persist``. A mode
  that reports no size (a reliable checkpoint) falls back to rows x the
  schema's default row size. Block storage holds deserialized rows, so
  it reads larger than what a broadcast ships (about 84 bytes per row of
  two longs, whose binary rows are 24 bytes): the gate errs toward the
  shuffled join.
- ``broadcast_if_fits(df, metrics)`` hints ``F.broadcast`` only while
  ``bytes`` is at most Spark's ``spark.sql.autoBroadcastJoinThreshold``;
  a threshold <= 0 turns every gate off, as it does for Spark's planner.
  Both postures are the same logical plan minus the hint, so outputs are
  identical.

Retry caveat: observation accumulators can double-apply when a stage is
retried after executor loss, so ``n`` (and the extras) may over-count on
a faulty cluster. For a gate that is fail-safe: an over-count can only
push a frame onto the shuffled posture. Callers that fold a count into
their results (pagerank's N) or rely on an exact fingerprint re-check it
with an aggregate action.

Scopes. Stage caches under ``localCheckpoint`` or a reliable checkpoint
are invisible to the cache manager: they are freed only when the driver
GCs the RDD reference, so a long-running caller accumulates executor
storage per call. ``with stage_scope():`` owns every :func:`stage_cache`
and :func:`round_cache` frame created inside it and frees them on exit
with ``release_stage_cache(..., destructive=True)``. Results built on
those frames must be materialized (written, collected) inside the scope.
With no active scope, frames live until GC, as before.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

__all__ = [
    "STAGE_CACHE_MODES",
    "broadcast_fits",
    "broadcast_if_fits",
    "get_stage_cache_mode",
    "measured_stage",
    "release_stage_cache",
    "round_cache",
    "set_stage_cache_mode",
    "stage_cache",
    "stage_cache_mode",
    "stage_scope",
]

STAGE_CACHE_MODES = ("local_checkpoint", "persist", "reliable_checkpoint")

_mode: str = "local_checkpoint"


def get_stage_cache_mode() -> str:
    return _mode


def set_stage_cache_mode(mode: str) -> None:
    global _mode
    if mode not in STAGE_CACHE_MODES:
        raise ValueError(
            f"stage-cache mode must be one of {STAGE_CACHE_MODES}, got {mode!r}"
        )
    _mode = mode


@contextmanager
def stage_cache_mode(mode: str):
    """Temporarily switch the stage-cache policy (restores on exit)."""
    prev = get_stage_cache_mode()
    set_stage_cache_mode(mode)
    try:
        yield
    finally:
        set_stage_cache_mode(prev)


def stage_cache(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a reused intermediate under the configured policy.

    ``eager=True`` forces materialization NOW (iterative loops need it so
    each round's work is bounded); ``eager=False`` materializes at first
    action. See the module docstring for the executor-loss trade of each
    mode.
    """
    if _mode == "local_checkpoint":
        return _own(df.localCheckpoint(eager=eager))
    if _mode == "persist":
        from pyspark import StorageLevel

        out = _own(df.persist(StorageLevel.MEMORY_AND_DISK))
        if eager:
            out.count()
        return out
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        _raise_no_checkpoint_dir()
    return _own(df.checkpoint(eager=eager))


_warned_persist_rounds = False


def round_cache(df: DataFrame) -> DataFrame:
    """Round-boundary materialization for ITERATIVE loops (connected
    components, PageRank) — always eager and always lineage-truncating.

    Iterative rounds cannot use plain ``persist``: round k's analyzed plan
    embeds round k-1's plan — usually more than once (PageRank's rank
    frame feeds both the contribution join and the dangling-mass
    aggregate; the star rounds read the edge frame several times) — so
    with lineage kept the logical tree grows EXPONENTIALLY in the round
    count, and planning itself OOMs the JVM long before any data pressure
    (observed: 10-round PageRank at sf0.01 on a 1 GiB driver). Under
    ``persist`` mode this therefore upgrades to a reliable ``checkpoint``
    when a checkpoint directory is configured (fault-tolerant AND
    plan-bounded, the posture a persist-mode user asked for) and otherwise
    falls back to ``localCheckpoint`` with a one-time warning about the
    executor-loss trade. Branch-reuse (DAG-shaped) intermediates should
    keep using :func:`stage_cache`, where persist's kept lineage is the
    feature, not the bug.
    """
    if _mode == "persist":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is not None:
            return _own(df.checkpoint(eager=True))
        global _warned_persist_rounds
        if not _warned_persist_rounds:
            import warnings

            warnings.warn(
                "stage-cache mode 'persist' cannot bound an iterative "
                "loop's plan (kept lineage grows exponentially per round); "
                "falling back to localCheckpoint for round boundaries. Set "
                "a checkpoint dir (spark.sparkContext.setCheckpointDir) to "
                "get fault-tolerant, plan-bounded rounds instead.",
                RuntimeWarning,
                stacklevel=2,
            )
            _warned_persist_rounds = True
        return _own(df.localCheckpoint(eager=True))
    return stage_cache(df, eager=True)


def measured_stage(df: DataFrame, *extra_metrics, cache=None):
    """Materialize ``df`` eagerly and measure it in the same job.

    Returns ``(cached, metrics)``: ``metrics`` holds the observed row
    count ``n``, each of ``extra_metrics`` (aliased aggregate expressions)
    by its alias, and ``bytes``, the stored size of the cache (module
    docstring). ``cache`` must materialize eagerly; the default is
    ``stage_cache(df, eager=True)``, iterative loops pass
    :func:`round_cache`.
    """
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"), *extra_metrics)
    cached = stage_cache(observed, eager=True) if cache is None else cache(observed)
    metrics = dict(obs.get)
    stored = _stored_bytes(cached)
    if stored is None:
        stored = metrics["n"] * cached._jdf.schema().defaultSize()
    metrics["bytes"] = stored
    return cached, metrics


def _stored_bytes(df: DataFrame) -> int | None:
    """Bytes held by a materialized stage cache, or None where the mode
    reports no size (a reliable checkpoint, an empty local checkpoint)."""
    qe = df._jdf.queryExecution()
    plan = qe.analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        rdd_id = plan.rdd().id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            if info.id() == rdd_id:
                return info.memSize() + info.diskSize()
        return None
    optimized = qe.optimizedPlan()
    if optimized.getClass().getSimpleName() == "InMemoryRelation":
        return int(optimized.stats().sizeInBytes())
    return None


def broadcast_fits(spark, metrics: dict) -> bool:
    """True while a measured frame fits ``autoBroadcastJoinThreshold``
    (never when the threshold is <= 0)."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 < limit and metrics["bytes"] <= limit


def broadcast_if_fits(df: DataFrame, metrics: dict) -> DataFrame:
    """``F.broadcast(df)`` while the measured ``metrics`` fit, else ``df``."""
    return F.broadcast(df) if broadcast_fits(df.sparkSession, metrics) else df


_scope: ContextVar[list | None] = ContextVar("stage_scope", default=None)


@contextmanager
def stage_scope():
    """Own every stage/round cache created inside; free them on exit."""
    owned: list = []
    token = _scope.set(owned)
    try:
        yield
    finally:
        _scope.reset(token)
        for df in reversed(owned):
            release_stage_cache(df, destructive=True)


def _own(df: DataFrame) -> DataFrame:
    owned = _scope.get()
    if owned is not None:
        owned.append(df)
    return df


def release_stage_cache(df: DataFrame, destructive: bool = False) -> None:
    """Release the storage held by a :func:`stage_cache` or
    :func:`round_cache` frame once an iterative loop no longer needs it.

    Three storage shapes:

    - ``persist`` stage frames are registered in the cache manager and
      released with a non-blocking ``unpersist`` (lineage kept, so the
      frame stays usable — always safe, the default handles it).
    - ``localCheckpoint`` round frames hold executor blocks that the cache
      manager does NOT track (``df.storageLevel`` reads as NONE); without
      an explicit release they are reclaimed only when the driver GCs the
      RDD reference — on a long loop with an idle driver heap that means
      every round's blocks accumulate. With ``destructive=True`` the
      blocks are freed directly through the plan's ``LogicalRDD``.
    - ``checkpoint`` (reliable) round frames write one directory per round
      under the checkpoint dir that Spark never deletes; with
      ``destructive=True`` the files are removed through the Hadoop
      filesystem API.

    The last two shapes have NO recompute fallback — lineage was truncated
    at materialization, so a released frame raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` on next access. They therefore
    run only under ``destructive=True``; the default call is a safe hint
    that releases persisted (lineage-kept) frames and leaves checkpointed
    frames untouched, matching this function's original contract.
    Destructive callers must release round k only AFTER round k+1 is
    eagerly materialized and must not reference round k again; the graph
    loops satisfy both by construction. If Spark's internals move and the
    ``LogicalRDD`` probe fails, this degrades to the GC-driven cleanup,
    never an error.
    """
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        df.unpersist(blocking=False)
        return
    if not destructive:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return
        rdd = plan.rdd()
        level = rdd.getStorageLevel()
        if level.useMemory() or level.useDisk():
            rdd.unpersist(False)
        if rdd.isCheckpointed() and rdd.getCheckpointFile().isDefined():
            path_str = rdd.getCheckpointFile().get()
            jvm = df.sparkSession._jvm
            path = jvm.org.apache.hadoop.fs.Path(path_str)
            fs = path.getFileSystem(
                df.sparkSession._jsc.hadoopConfiguration()
            )
            fs.delete(path, True)
    except Exception:
        return


def _raise_no_checkpoint_dir() -> None:
    raise RuntimeError(
        "stage-cache mode 'reliable_checkpoint' needs a checkpoint "
        "directory: call spark.sparkContext.setCheckpointDir(...) with "
        "a cluster-visible path (HDFS/object store) first"
    )
