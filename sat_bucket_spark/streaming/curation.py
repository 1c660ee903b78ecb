"""Continuous corpus curation over Structured Streaming.

The batch curation operators (normalize, PII redaction, quality/token
stats, fingerprinting) are pure Column expressions, so they lift to
``readStream`` sources unchanged — this module packages the standard
continuous-ingest pipeline:

    raw documents -> normalize -> redact PII -> quality + token stats
        -> fingerprint -> watermark-bounded exact dedup

State: ONLY the dedup step keeps state (fingerprints within the watermark
window); everything upstream is stateless map work, so the pipeline
backpressures on scan/regex throughput and restarts from the checkpoint
with no recomputation. This is the shape of a crawl-ingest feed at scale:
late-arriving duplicates inside the watermark are dropped exactly, older
re-crawls are handled by the periodic batch dedup over the archive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sat_bucket_spark.operators.pii import redact_pii
from sat_bucket_spark.operators.text import (
    add_fingerprint,
    add_quality_score,
    add_token_count,
    normalize_text,
)
from sat_bucket_spark.streaming.sessions import streaming_dedup_exact

__all__ = ["stream_dedup_against_indexes", "streaming_curate"]


def streaming_curate(
    stream: DataFrame,
    text: str = "text",
    time: str = "time",
    watermark: str = "1 hour",
    min_quality: float | None = None,
    redact: bool = True,
) -> DataFrame:
    """Continuous curation: normalize -> redact -> score -> dedup.

    Returns the curated stream with ``text`` rewritten (normalized,
    PII-redacted), plus ``n_tokens``, ``quality_score``, ``fingerprint``
    columns; duplicate fingerprints within the watermark are dropped
    (first-seen wins). ``min_quality`` optionally filters low-quality rows
    before they reach dedup state — cheaper than filtering downstream.
    """
    out = normalize_text(stream, text=text)
    if redact:
        out = redact_pii(out, text=text)
    out = add_token_count(out, text=text)
    out = add_quality_score(out, text=text)
    if min_quality is not None:
        out = out.where(F.col("quality_score") >= F.lit(float(min_quality)))
    out = add_fingerprint(out, text=text)
    return streaming_dedup_exact(out, ["fingerprint"], time=time, watermark=watermark)


def _committed(spark, path: str) -> bool:
    """True when ``path`` holds a COMPLETE batch write (its ``_SUCCESS``
    marker exists) — the archive gate's per-batch idempotence token."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(p)


def stream_dedup_against_indexes(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    bloom_index_dir: str | None = None,
    minhash_index_dir: str | None = None,
    min_jaccard: float = 0.1,
    learn: bool = False,
    trigger: dict | None = None,
    compact_every: int | None = None,
    ivfpq_index_dir: str | None = None,
    min_cosine: float = 0.95,
    n_probe: int = 2,
    vec_col: str = "embedding",
    ivfpq_verify=None,
    adc_margin: float | None = 0.2,
):
    """Continuous dedup against the STANDING ARCHIVE via the persisted
    indexes — the piece :func:`streaming_curate` explicitly defers
    ("older re-crawls are handled by the periodic batch dedup"): its
    watermark-bounded state catches duplicates within the window; this
    gate catches duplicates of the whole 100 TB corpus, because the
    probe's inputs are the micro-batch plus a few-MB Bloom bitmap and
    the batch-bounded MinHash index candidates — never the corpus.

    Per micro-batch (``foreachBatch``):

    1. exact gate: :func:`~sat_bucket_spark.operators.dedup.
       dedup_exact_against_bloom_index` on the text (zero corpus access;
       the filter's sized FP rate over-drops, the safe direction);
    2. near-dup gate: :func:`~sat_bucket_spark.operators.dedup.
       minhash_dedup_against_index` on what survives;
    2b. semantic gate (``ivfpq_index_dir``): :func:`~sat_bucket_spark.
       operators.similarity.semantic_dedup_against_index` on what
       survives THAT — the third dedup axis (embeddings), completing the
       three-index posture in-stream. The stream must carry ``vec_col``
       (L2-normalized for the cosine threshold to be exact in ADC
       space); its per-batch inputs are the micro-batch plus the probed
       clusters' code rows, never the corpus. Default posture is
       unverified (two-sided ADC error, biased to over-drop by the
       operator's default margin). Pass ``ivfpq_verify`` for the EXACT
       posture: a DataFrame of archive ``(id, vector)`` rows — or, with
       ``learn=True``, a CALLABLE ``spark -> DataFrame`` re-resolved per
       batch so it can union in the sink's learned survivors (their raw
       vectors live in the sink partitions; the index stores only
       codes). The verify scan stays candidate-bounded (semi-joined on
       candidate ids), and ``adc_margin=None`` selects the
       candidate-complete prefilter for corpora the codebooks can't
       separate;
    3. survivors land in ``sink_dir/batch=<id>`` — and the batch's
       ``_SUCCESS`` marker is the gate's IDEMPOTENCE token: a REPLAYED
       batch (foreachBatch is at-least-once) whose partition already
       committed SKIPS the probe-and-write entirely. The skip is what
       makes ``learn=True`` replay-safe end-to-end: a replay that
       re-probed would see its OWN survivors in the just-appended
       indexes, drop every row, and overwrite the committed partition
       with an empty one — silent data loss. With the skip, the sink is
       exactly-once by construction whichever side of the checkpoint
       commit the crash fell on;
    4. with ``learn=True``, the STAGED survivors (re-read from the sink —
       the index-append lazy-reader contract) are appended to every
       configured index. The appends run on the replay path too (the
       crash may have landed between the sink commit and the appends),
       which is correctness-safe: Bloom appends are idempotent (OR),
       duplicate MinHash band/shingle rows only add redundant candidates
       — candidate sets are DISTINCT and survivors come from a left-anti
       join, so probe results are unchanged (only fragmentation grows;
       :func:`compact_minhash_index` reclaims it) — and duplicate IVFPQ
       code rows likewise only repeat a flagged pair (the semantic gate's
       contaminated set is DISTINCT ids; :func:`compact_ivfpq_index`
       folds the file growth, and if the index is ALSO served to ranked
       search, :func:`~sat_bucket_spark.operators.similarity.
       dedupe_ivfpq_index` heals the replay-duplicated rows that would
       otherwise occupy two top-k slots per duplicated id).

    Within-batch duplicates are NOT this gate's job — compose
    :func:`streaming_curate` (fingerprint dedup) upstream. Returns the
    started StreamingQuery; at least one index dir is required.

    ``compact_every=N`` runs :func:`compact_minhash_index` inside the
    gate after every N batches that LEARNED (appended survivors) — the
    measured growth term this bounds: learn appends fragment the band
    partitions at trigger frequency, and the r12 growth row read
    per-batch probe cost rising 3.76 -> 5.18 s across 20 uncompacted
    learn batches while a compaction cost 1.25 s and reset it. The
    compaction point is safe by the gate's own structure: survivors are
    already materialized to the sink (no lazy readers of the files being
    rewritten), batch boundaries hold no open index scans, and a crash
    mid-compaction leaves partitions either old or new — content-
    identical either way (probe equality across compaction is pinned by
    test and by the probe's in-stream receipt). The cadence counter is
    in-memory (resets on query restart): compaction is idempotent
    maintenance, so a missed or doubled cycle affects cost, never
    results.

    Trigger-frequency economics: the Bloom gate's per-batch cost is
    corpus-size-INDEPENDENT (fixed-size bitmap); the MinHash gate scans
    the index's bands table once per probe — since r12 the index is
    CONTENT-ADDRESSED (one entry per distinct text), so that scan and
    the verify are invariant to the archive's duplication factor and
    grow only with distinct content (measured flat 2.3 -> 1.9 s at
    1x -> 30x duplication). Still: size the trigger so batches amortize
    the per-probe fixed cost (availableNow / minutes-level micro-batches,
    not per-second triggers), because ``learn=True`` appends fragment the
    index at TRIGGER frequency — run :func:`compact_minhash_index`
    between segments on a maintenance cadence (the probe_sf1
    ``stream_archive_gate`` row receipts the mid-stream compaction:
    gate-probe results bit-identical across it, fragmentation folded,
    stream resumes from the same checkpoint). The Bloom-first ordering
    keeps exact dups out of the MinHash gate's input for free.
    """
    if bloom_index_dir is None and minhash_index_dir is None and ivfpq_index_dir is None:
        raise ValueError(
            "at least one of bloom/minhash/ivfpq index dirs is required"
        )
    if compact_every is not None and (
        (minhash_index_dir is None and ivfpq_index_dir is None)
        or not learn
        or compact_every < 1
    ):
        raise ValueError(
            "compact_every requires learn=True and a minhash or ivfpq "
            "index dir, and must be >= 1"
        )
    if adc_margin is None and ivfpq_verify is None and ivfpq_index_dir is not None:
        raise ValueError(
            "adc_margin=None (candidate-complete) requires ivfpq_verify"
        )
    # the _SUCCESS idempotence skip couples batch ids to sink partitions
    # THROUGH the checkpoint: with a FRESH checkpoint batch ids restart at
    # 0, so a sink left over from a previous checkpoint lifecycle would
    # make every new batch look already-committed — the probe-and-write
    # would be skipped for ALL new data (silent loss) and learn=True would
    # re-append the stale rows. Refuse loudly; reprocessing means a fresh
    # sink (or pointing at the old checkpoint).
    spark = stream.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    ckpt_p = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    sink_p = jvm.org.apache.hadoop.fs.Path(sink_dir)
    ckpt_exists = ckpt_p.getFileSystem(conf).exists(ckpt_p)
    sink_fs = sink_p.getFileSystem(conf)
    if not ckpt_exists and sink_fs.exists(sink_p):
        has_batches = any(
            st.getPath().getName().startswith("batch=")
            for st in sink_fs.listStatus(sink_p)
        )
        if has_batches:
            raise ValueError(
                f"fresh checkpoint {checkpoint_dir} but sink {sink_dir} "
                "already holds batch=* partitions from a previous run: the "
                "per-batch idempotence skip would silently drop every new "
                "batch. Use a fresh sink dir (or resume the old checkpoint)."
            )
    _gate = _make_gate(
        sink_dir, bloom_index_dir, minhash_index_dir, min_jaccard, learn,
        compact_every, ivfpq_index_dir, min_cosine, n_probe, vec_col,
        ivfpq_verify, adc_margin,
    )
    writer = stream.writeStream.foreachBatch(_gate).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _make_gate(
    sink_dir: str,
    bloom_index_dir: str | None,
    minhash_index_dir: str | None,
    min_jaccard: float,
    learn: bool,
    compact_every: int | None = None,
    ivfpq_index_dir: str | None = None,
    min_cosine: float = 0.95,
    n_probe: int = 2,
    vec_col: str = "embedding",
    ivfpq_verify=None,
    adc_margin: float | None = 0.2,
):
    """The archive gate's per-batch body as a standalone callable, so the
    replay contract (same batch_id twice == once) is testable without a
    running stream."""
    from sat_bucket_spark.operators.dedup import (
        append_to_bloom_index,
        append_to_minhash_index,
        compact_minhash_index,
        dedup_exact_against_bloom_index,
        minhash_dedup_against_index,
    )
    from sat_bucket_spark.operators.similarity import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        semantic_dedup_against_index,
    )

    learned_batches = {"n": 0}

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        from sat_bucket_spark.caching import stage_scope

        spark = batch_df.sparkSession
        batch_sink = f"{sink_dir}/batch={batch_id}"
        n_surv: int | None = None
        if not _committed(spark, batch_sink):
            # the probes' stage caches die with the scope, after the write
            # materialized the result: a long-running query must not
            # accumulate untracked executor blocks per batch
            with stage_scope():
                surv = batch_df
                if bloom_index_dir is not None:
                    surv = dedup_exact_against_bloom_index(surv, bloom_index_dir)
                if minhash_index_dir is not None:
                    surv = minhash_dedup_against_index(
                        surv, minhash_index_dir, min_jaccard=min_jaccard,
                    )
                if ivfpq_index_dir is not None:
                    verify = (
                        ivfpq_verify(spark) if callable(ivfpq_verify)
                        else ivfpq_verify
                    )
                    surv = semantic_dedup_against_index(
                        surv, ivfpq_index_dir, min_cosine=min_cosine,
                        n_probe=n_probe, vec_col=vec_col,
                        verify_vectors=verify, adc_margin=adc_margin,
                    )
                # the survivor count rides the sink write as an observed
                # metric — no separate isEmpty job per batch
                obs = Observation()
                surv = surv.observe(obs, F.count(F.lit(1)).alias("n"))
                surv.write.mode("overwrite").parquet(batch_sink)
                n_surv = int(obs.get["n"])
        if learn:
            staged = spark.read.parquet(batch_sink)
            if n_surv == 0 or (n_surv is None and staged.isEmpty()):
                return
            if bloom_index_dir is not None:
                append_to_bloom_index(staged, bloom_index_dir)
            if ivfpq_index_dir is not None:
                append_to_ivfpq_index(staged, ivfpq_index_dir, vec_col=vec_col)
            if minhash_index_dir is not None:
                append_to_minhash_index(staged, minhash_index_dir)
            if minhash_index_dir is not None or ivfpq_index_dir is not None:
                learned_batches["n"] += 1
                if compact_every and learned_batches["n"] % compact_every == 0:
                    if minhash_index_dir is not None:
                        compact_minhash_index(spark, minhash_index_dir)
                    if ivfpq_index_dir is not None:
                        compact_ivfpq_index(spark, ivfpq_index_dir)

    return _gate
