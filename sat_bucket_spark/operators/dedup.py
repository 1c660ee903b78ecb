"""Deduplication operators: exact, near-exact, MinHash-LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB regime:

- exact/fingerprint dedup is a hash ``groupBy`` (one shuffle on a short key);
- MinHash signatures are computed with *portable* universal hashes
  (operators/hashing.py) via explode -> min-aggregate, so the heavy shuffle
  carries (doc_id, 31-bit ints), not text;
- LSH banding turns all-pairs comparison into an equi-join on (band, band
  signature) — candidate generation is linear in data size, never quadratic;
- n-gram Jaccard verification runs only on LSH candidates (or directly on
  small tables).

Everything is Column expressions — no Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sat_bucket_spark.caching import (
    broadcast_fits,
    broadcast_if_fits,
    measured_stage,
    stage_cache,
)
from sat_bucket_spark.operators.parallel import ensure_parallelism
from sat_bucket_spark.operators.hashing import (
    MERSENNE_P,
    h31_expr,
    h64_expr,
    minhash_params,
    perm_hash_expr,
)

__all__ = [
    "add_bloom_contamination",
    "add_simhash",
    "edit_distance_pairs",
    "bloom_filter_bytes",
    "bloom_positions_expr",
    "build_ngram_bloom",
    "decontamination_report",
    "decontamination_report_bloom",
    "decontamination_report_multi",
    "dedup_exact",
    "dedup_exact_against",
    "dedup_exact_against_bloom",
    "dedup_exact_against_bloom_index",
    "duplicate_spans",
    "exact_duplicate_groups",
    "append_to_bloom_index",
    "append_to_minhash_index",
    "build_bloom_index",
    "build_minhash_index",
    "compact_minhash_index",
    "load_bloom_index",
    "load_minhash_index",
    "lsh_candidate_pairs",
    "lsh_params_for_threshold",
    "measured_duplicate_fraction",
    "minhash_dedup_against",
    "minhash_dedup_against_index",
    "minhash_lsh_dedup_pairs",
    "minhash_signatures",
    "near_dup_pairs_by_signature",
    "ngram_jaccard_pairs",
    "remove_duplicate_spans",
    "remove_repeated_paragraphs",
    "resolve_duplicates",
    "shingles_expr",
    "keep_first_by_signature",
    "simhash_dedup",
    "simhash_near_dup_pairs",
    "token_windows_expr",
    "unit_windows_expr",
]


def exact_duplicate_groups(
    df: DataFrame, key_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates: key -> (n_docs, representative min id, ids).

    The representative is the minimum id — deterministic, unlike
    ``dropDuplicates`` (which keeps an arbitrary row per key).
    """
    return (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per key — the one with the minimum id.

    Window-free formulation would need a self-join; the window over the key
    shuffle-partitions by key, so it scales (no global ordering).
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# Shared with text/similarity operators; kept importable from here for
# backward compatibility.
_ensure_parallelism = ensure_parallelism


def shingles_expr(text: Column | str, k: int = 5, unit: str = "char") -> Column:
    """Distinct k-shingles of a lowercased document, as an array.

    ``unit='char'``: character k-grams (reference MinHash style); documents
    shorter than k yield one shingle (the whole text), so no row is lost.
    ``unit='word'``: word n-grams joined with a space. Generated with
    ``sequence`` + ``transform`` — JVM-side, no UDF.
    """
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    # A subexpression referenced inside a transform lambda is re-evaluated
    # PER ELEMENT (higher-order functions don't share subtrees with the
    # enclosing row scope) — so `transform(sequence(1, n), i -> f(t, i))`
    # recomputes lower(text)/the token split at every shingle position:
    # O(positions * doc_len) per row, measured 11x slower at sf0.1.
    # Binding the value as the element of a one-row array makes it a lambda
    # variable, evaluated once per row.
    if unit == "char":
        gen = F.transform(
            F.array(t),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
                ),
                lambda i: s.substr(i, F.lit(k)),
            ),
        )
        return F.array_distinct(F.element_at(gen, 1))
    if unit != "word":
        raise ValueError(f"invalid shingle unit {unit!r}")
    from sat_bucket_spark.operators.text import tokens_expr

    toks = F.transform(tokens_expr(t), lambda x: F.lower(x))
    gen = F.transform(
        F.array(toks),
        lambda ts: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ts) - F.lit(k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ts, i, F.lit(k))),
        ),
    )
    return F.array_distinct(F.element_at(gen, 1))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_size: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature array over character shingles.

    Pipeline: explode distinct shingles -> portable 31-bit hash -> n universal
    re-hashes -> min per document. The shuffle carries only
    (id, n_hashes x int) — independent of document length, which is what makes
    this viable at 100 TB.
    """
    params = minhash_params(n_hashes, seed=seed)
    df = _ensure_parallelism(df)
    # Project the shingle to its 31-bit hash BEFORE aggregating: one md5 per
    # shingle total (not per hash function), and the map-side partial min
    # shuffles only (id, int) pairs.
    exploded = df.select(
        F.col(id_col), F.explode(shingles_expr(text_col, k=shingle_size)).alias("__shingle")
    ).select(F.col(id_col), h31_expr(F.col("__shingle")).alias("__h"))
    aggs = [
        F.min(perm_hash_expr(F.col("__h"), a, b)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col, F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("signature")
    )


def _band_rows(
    sigs: DataFrame,
    id_col: str,
    n_bands: int,
    n_hashes: int | None,
    signature_col: str = "signature",
) -> DataFrame:
    """(id, band_idx, band_sig) rows — the LSH banding equi-join key.

    When ``n_hashes`` is unknown the band width is derived IN-PLAN from
    ``size(signature)`` (slice start/length accept Columns) — no probe job.
    """
    if n_hashes is not None:
        starts = [F.lit(i * max(n_hashes // n_bands, 1) + 1) for i in range(n_bands)]
        length = F.lit(max(n_hashes // n_bands, 1))
    else:
        rpb = F.greatest(
            F.floor(F.size(F.col(signature_col)) / F.lit(n_bands)), F.lit(1)
        ).cast("int")
        starts = [(F.lit(i) * rpb + F.lit(1)).cast("int") for i in range(n_bands)]
        length = rpb
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.slice(F.col(signature_col), starts[i], length).alias(
                            "band_sig"
                        ),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_sig")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    signature_col: str = "signature",
    n_hashes: int | None = None,
    with_estimate: bool = True,
) -> DataFrame:
    """LSH banding: docs sharing any band of their signature become candidates.

    Bands are equi-join keys, so candidate generation is a shuffle join on
    (band_idx, band values) — never an all-pairs product. Returns distinct
    (id_a < id_b) pairs, with the fraction of matching signature positions
    (the MinHash Jaccard estimate) when ``with_estimate``.

    Shuffle discipline: the band rows and the dedup exchange carry ONLY ids
    and the joined band — never the full signature arrays (at 100 TB the
    candidate volume times a signature payload is real shuffle weight). The
    estimate is computed afterwards by re-joining the per-doc signature table
    (one short row per doc, broadcastable / AQE-planned).

    ``n_hashes`` is optional either way: when omitted, both the band width
    and the estimate denominator derive from ``size(signature)`` inside the
    plan — zero extra jobs (an extra probe job per operator call is noise
    locally, real at scale).
    """
    bands = _band_rows(sigs, id_col, n_bands, n_hashes, signature_col)

    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if not with_estimate:
        return pairs
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col(signature_col).alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col(signature_col).alias("sig_b"))
    denom = (
        F.lit(float(n_hashes))
        if n_hashes is not None
        else F.size(F.col("sig_a")).cast("double")
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / denom
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard similarity over character n-gram sets for all pairs
    sharing at least one n-gram.

    Shape: explode distinct shingles -> self-equi-join on shingle -> count
    intersections -> join per-doc set sizes -> |A∩B| / (|A|+|B|-|A∩B|).
    Pairs sharing nothing never materialize. At scale, run on LSH candidates
    instead of the full corpus.
    """
    df = _ensure_parallelism(df)
    sh = df.select(
        F.col(id_col), F.explode(shingles_expr(text_col, k=shingle_size)).alias("shingle")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    out = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= F.lit(min_jaccard))
    return out


def lsh_params_for_threshold(
    threshold: float,
    max_hashes: int = 256,
) -> tuple[int, int]:
    """(n_hashes, n_bands) whose LSH S-curve balances FP/FN at ``threshold``.

    The banding scheme's candidate probability for Jaccard ``s`` is
    ``1 - (1 - s^r)^b`` with ``r`` rows per band and ``b`` bands
    (Mining of Massive Datasets §3.4 — public); its inflection sits near
    ``(1/b)^(1/r)``. This picks, over all (b, r) with ``b*r <=
    max_hashes``, the configuration minimizing the sum of the false-positive
    mass below the threshold and false-negative mass above it (uniform-s
    integral, evaluated numerically) — the standard way to turn "I care
    about jaccard >= 0.8" into banding parameters instead of hand-tuning.

    Returns ``(n_hashes, n_bands)`` ready for :func:`minhash_lsh_dedup_pairs`
    (which uses ``r = n_hashes // n_bands`` rows per band). Driver-side
    arithmetic over at most a few thousand (b, r) pairs — planning cost.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    import numpy as _np

    s = _np.linspace(0.0, 1.0, 201)
    below = s < threshold
    # np.trapz was removed in NumPy 2.0 (renamed trapezoid)
    _trapezoid = getattr(_np, "trapezoid", None) or _np.trapz
    best = None
    for r in range(1, max_hashes + 1):
        for b in range(1, max_hashes // r + 1):
            p = 1.0 - (1.0 - s**r) ** b
            # FP mass below the threshold + FN mass above it
            err = float(_trapezoid(_np.where(below, p, 1.0 - p), s))
            # prefer fewer hashes on ties (cheaper signatures)
            key = (err, b * r)
            if best is None or key < best[0]:
                best = (key, (b * r, b))
    return best[1]


_ROUTE_SAMPLE_MIN_ROWS = 1000


def measured_duplicate_fraction(
    df: DataFrame,
    text_col: str,
    sample_mod: int = 64,
) -> float:
    """Estimated fraction of rows that are byte-identical copies of some
    other row — the routing probe behind the ``collapse='auto'`` pair
    engines.

    Samples by CONTENT hash (``pmod(xxhash64(text), sample_mod) = 0``) so
    every copy of a sampled text lands in the sample together: per-text
    copy counts survive intact and the ``1 - distinct/count`` ratio stays
    an unbiased duplicate-fraction estimator. Row-level Bernoulli sampling
    would instead dilute each text's copies and systematically undercount
    duplication. At 100 TB this turns the probe from a full corpus scan
    into a ``1/sample_mod`` scan whose aggregate is still map-side
    combined (filter + approx_count_distinct, no shuffle of data rows).

    Samples smaller than ``_ROUTE_SAMPLE_MIN_ROWS`` rows rerun the exact
    full-column aggregate: tiny corpora make the sampled estimator pure
    noise, and their full pass is as cheap as the sample was. Pass
    ``sample_mod <= 1`` to force the exact full scan.
    """
    if sample_mod > 1:
        sampled = df.where(
            F.pmod(F.xxhash64(F.col(text_col)), F.lit(int(sample_mod))) == 0
        )
        row = sampled.agg(
            F.count(text_col).alias("n"),
            F.approx_count_distinct(text_col).alias("d"),
        ).collect()[0]
        n = row["n"] or 0
        if n >= _ROUTE_SAMPLE_MIN_ROWS:
            # approx_count_distinct can overshoot slightly; clamp at 0
            return max(0.0, 1.0 - (row["d"] / n))
    row = df.agg(
        F.count(text_col).alias("n"),
        F.approx_count_distinct(text_col).alias("d"),
    ).collect()[0]
    n = row["n"] or 0
    return max(0.0, 1.0 - (row["d"] / n)) if n else 0.0


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_size: int = 8,
    min_jaccard: float = 0.1,
    seed: int = 42,
    collapse: "str | bool" = "auto",
    collapse_threshold: float = 0.15,
    dup_fraction_prior: "float | None" = None,
) -> DataFrame:
    """The production near-dup pipeline: MinHash -> LSH banding -> exact verify.

    Candidate pairs come from band collisions (equi-join, linear cost);
    the *exact* n-gram Jaccard is then computed only for candidates via
    array-intersection of the two shingle sets (JVM-side ``array_intersect``,
    no shingle-level self-join). This is the shape that survives 100 TB —
    all-pairs verification (``ngram_jaccard_pairs``) is the small-scale oracle.

    TWO physical strategies, identical output (pinned by tests + the
    driver oracle), routed by corpus redundancy:

    - ``collapse=True``: the distinct-text engine. Pairs split into
      WITHIN a text (identical bytes — md5-key equi-self-join, jaccard
      exactly 1.0, no banding, no verify; sub-shingle texts still carry
      their one whole-text shingle, matching the signature path) and
      ACROSS texts (signatures, banding, candidate DISTINCT, and the
      exact-jaccard verify over the distinct-text table — bounded by
      distinct-text cardinality — expanded to id pairs by two hash
      joins). The r8 sf1 probe caught the row-level pipeline at ~30x for
      10x data on a 10-copy corpus; this engine reads 20x faster there.
    - ``collapse=False``: the row-level pipeline. On a mostly-UNIQUE
      corpus the collapse engine's extra joins/exchanges are pure
      overhead (~3x warm at sf0.1, measured) — when there is nothing to
      collapse, banding rows directly is strictly cheaper.
    - ``collapse='auto'`` (default): the duplicate fraction is measured
      by :func:`measured_duplicate_fraction` — a content-hash-sampled
      ``approx_count_distinct`` probe (1/64 of the corpus; exact rerun
      under 1000 sampled rows) — and the engine picked at
      ``collapse_threshold`` (default: collapse when >15% of rows are
      byte-identical copies). A caller who already knows the corpus
      redundancy passes ``dup_fraction_prior`` to skip the probe job
      entirely (at 100 TB even the sampled scan is a job worth saving
      when the answer is known).

    Returns (id_a, id_b, jaccard) for candidates with jaccard >=
    min_jaccard. PRECONDITION: ``id_col`` unique, as everywhere in this
    module's pair engines.
    """
    if collapse == "auto":
        dup_frac = (
            dup_fraction_prior
            if dup_fraction_prior is not None
            else measured_duplicate_fraction(df, text_col)
        )
        collapse = dup_frac >= collapse_threshold
    if not collapse:
        sigs = minhash_signatures(
            df, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
            shingle_size=shingle_size, seed=seed,
        ).transform(stage_cache)
        cands = lsh_candidate_pairs(
            sigs, id_col=id_col, n_bands=n_bands, n_hashes=n_hashes,
            with_estimate=False,
        )
        sets = _ensure_parallelism(df).select(
            F.col(id_col), shingles_expr(text_col, k=shingle_size).alias("sh_set")
        )
        a = sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
        b = sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
        inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
        union = F.size(F.col("set_a")) + F.size(F.col("set_b")) - inter
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("jaccard", F.round(inter / union.cast("double"), 6))
            .where(F.col("jaccard") >= F.lit(min_jaccard))
            .select("id_a", "id_b", "jaccard")
        )

    tid = F.md5(F.col(text_col))
    ids = stage_cache(
        df.select(F.col(id_col), tid.alias("__tid")).where(tid.isNotNull())
    )
    # dtex is NOT stage-cached on purpose: a localCheckpoint would write
    # the full distinct-text payload to executor disk, which costs more
    # than recomputing the (map-combined) distinct in each branch
    # (measured ~2s of a 7s warm run at sf0.1)
    dtex = (
        _ensure_parallelism(df)
        .select(F.col(text_col))
        .where(F.col(text_col).isNotNull())
        .distinct()
        .select(F.md5(F.col(text_col)).alias("__tid"), F.col(text_col))
    )
    sigs = minhash_signatures(
        dtex, id_col="__tid", text_col=text_col, n_hashes=n_hashes,
        shingle_size=shingle_size, seed=seed,
    ).transform(stage_cache)  # signatures are tiny; never recompute them
    cands = lsh_candidate_pairs(
        sigs, id_col="__tid", n_bands=n_bands, n_hashes=n_hashes, with_estimate=False
    ).toDF("__tid_a", "__tid_b")
    # re-widen the post-distinct stage before the shingle projection: AQE's
    # bytes-based coalesce under-parallelizes the per-row-expensive expr
    # (same trap as the index build; round-robin N is the AQE-exempt form)
    sets = dtex.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select("__tid", shingles_expr(text_col, k=shingle_size).alias("sh_set"))
    a = sets.select(F.col("__tid").alias("__tid_a"), F.col("sh_set").alias("set_a"))
    b = sets.select(F.col("__tid").alias("__tid_b"), F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size(F.col("set_a")) + F.size(F.col("set_b")) - inter
    verified = (
        cands.join(a, "__tid_a")
        .join(b, "__tid_b")
        .withColumn("jaccard", F.round(inter / union.cast("double"), 6))
        .where(F.col("jaccard") >= F.lit(min_jaccard))
        .select("__tid_a", "__tid_b", "jaccard")
    )
    across = (
        verified.join(
            ids.select(F.col(id_col).alias("__ia"), F.col("__tid").alias("__tid_a")),
            "__tid_a",
        )
        .join(
            ids.select(F.col(id_col).alias("__ib"), F.col("__tid").alias("__tid_b")),
            "__tid_b",
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "jaccard",
        )
    )
    if min_jaccard > 1.0:  # degenerate threshold: even exact copies fail it
        return across
    shingled = ids.join(sigs.select("__tid"), "__tid", "left_semi")
    within = (
        shingled.select(F.col(id_col).alias("id_a"), "__tid")
        .join(shingled.select(F.col(id_col).alias("id_b"), "__tid"), "__tid")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return within.unionByName(across)


def dedup_exact_against(
    batch: DataFrame,
    corpus: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Drop batch rows whose exact key already exists in the corpus.

    The incremental form of :func:`dedup_exact`: a production pipeline
    ingests batch N against the N-1 corpus, it does not re-deduplicate the
    whole archive. The corpus side reduces to DISTINCT keys before the
    left-anti join — at 100 TB the corpus rows never move, only its
    (far smaller, often broadcastable) key set does.
    """
    keys = corpus.select(*key_cols).distinct()
    return batch.join(keys, key_cols, "left_anti")


def _key_fingerprint_expr(key_cols: list[str]) -> Column:
    """One h31 fingerprint per composite key. NULLs are encoded distinctly
    (concat_ws would silently DROP null parts, folding ('a', NULL) and
    (NULL, 'a') onto one fingerprint and inflating the flagged set past
    the Bloom's sized FP rate)."""
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
            F.concat(F.lit("\x01"), F.col(c).cast("string"))
        )
        for c in key_cols
    ]
    return h31_expr(F.concat_ws("\x1f", *parts))


def _key_bloom_bitmap(
    df: DataFrame, key_cols: list[str], n_bits: int, n_hashes: int, seed: int
) -> DataFrame:
    """Sparse Bloom bitmap (__word, __bits) over composite-key
    fingerprints — the same bit_or shape as :func:`build_ngram_bloom`:
    bounded at ``n_bits / 64`` rows regardless of input size, partials
    combine map-side, the input never shuffles."""
    params = minhash_params(n_hashes, seed=seed)
    return (
        df.select(_key_fingerprint_expr(key_cols).alias("__fp"))
        .select(
            F.explode(
                F.array(
                    *[
                        perm_hash_expr(F.col("__fp"), a, b) % F.lit(n_bits)
                        for a, b in params
                    ]
                )
            ).alias("__pos")
        )
        .select(
            F.shiftright("__pos", 6).alias("__word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
                "__mask"
            ),
        )
        .groupBy("__word")
        .agg(F.bit_or("__mask").alias("__bits"))
    )


def _bloom_route(
    batch: DataFrame,
    bloom: DataFrame,
    key_cols: list[str],
    n_bits: int,
    n_hashes: int,
    seed: int,
) -> tuple[DataFrame, DataFrame]:
    """Split ``batch`` into (provably-new, flagged) against a broadcast
    Bloom bitmap: ``n_hashes`` map-side joins; a row missing ANY bit is
    provably absent from the filtered set and routes to the clean side
    untouched — the common case for an ingest batch. The flagged side
    holds true duplicates plus the filter's sized FP rate.

    The ``n_hashes`` word lookups all join the SAME broadcast frame
    (r16): per-hash ``select(alias)`` copies gave each join its own
    BroadcastExchange subtree, so the bitmap aggregation — a full scan
    of whatever feeds ``bloom`` — was planned (and absent exchange
    reuse, executed) once PER HASH; joining ``bloom`` itself and
    renaming after the join leaves one exchange the planner reuses
    (guide §2.4). Interleaved A/B on the n-gram probe shape: 2.63 s →
    2.02 s median, output bit-identical."""
    params = minhash_params(n_hashes, seed=seed)
    probed = batch.withColumn("__fp", _key_fingerprint_expr(key_cols))
    flagged = F.lit(True)
    drop_cols = ["__fp"]
    for i, (a, b) in enumerate(params):
        p, w, m, bits = f"__p{i}", f"__w{i}", f"__m{i}", f"__b{i}"
        probed = (
            probed.withColumn(p, perm_hash_expr(F.col("__fp"), a, b) % F.lit(n_bits))
            .withColumn(w, F.shiftright(F.col(p), 6))
            .withColumn(
                m,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))"),
            )
            .join(F.broadcast(bloom), F.col(w) == bloom["__word"], "left")
            .withColumnRenamed("__bits", bits)
            .drop("__word")
        )
        flagged = flagged & F.coalesce(
            F.col(bits).bitwiseAND(F.col(m)) == F.col(m), F.lit(False)
        )
        drop_cols += [p, w, m, bits]
    probed = probed.withColumn("__flagged", flagged)
    drop_cols.append("__flagged")
    clean = probed.where(~F.col("__flagged")).drop(*drop_cols)
    cand = probed.where(F.col("__flagged")).drop(*drop_cols)
    return clean, cand


def dedup_exact_against_bloom(
    batch: DataFrame,
    corpus: DataFrame,
    key_cols: list[str],
    n_bits: int = 1 << 24,
    n_hashes: int = 5,
    seed: int = 1337,
) -> DataFrame:
    """:func:`dedup_exact_against` with Bloom routing — IDENTICAL output,
    but the corpus never shuffles.

    The exact path reduces the corpus to distinct keys and anti-joins —
    at 100 TB that distinct is itself a corpus-wide shuffle every ingest
    batch. Here the corpus is read map-side twice and shuffled never:

    1. its key fingerprints feed a Bloom bitmap (``bit_or`` partials,
       bounded at ``n_bits / 64`` rows regardless of corpus size);
    2. the batch probes the broadcast bitmap with ``n_hashes`` map-side
       joins — rows missing ANY bit are provably new and pass through
       untouched (the common case for an ingest batch);
    3. only flagged rows (true dups + the FP rate) are verified: their
       (small, distinct) key set broadcasts TO the corpus for a map-side
       semi-join, and the confirmed keys broadcast back for the final
       anti-join. False positives are removed here, so the result equals
       the exact operator bit for bit — the filter only routes.

    Assumes the flagged fraction is broadcastable (dup-rate ≪ batch size,
    the normal incremental-ingest regime). NULL-keyed rows never match, as
    in the exact path. Size ``n_bits ≈ 10×`` distinct corpus keys.

    Nightly posture: the bitmap build (step 1) still scans the corpus
    every call — :func:`build_bloom_index` persists it once (appends are
    bitmap-sized unions, no corpus rescan) and
    :func:`dedup_exact_against_bloom_index` probes it, optionally with
    ZERO corpus access.
    """
    bloom = _key_bloom_bitmap(corpus, key_cols, n_bits, n_hashes, seed)
    clean, cand = _bloom_route(batch, bloom, key_cols, n_bits, n_hashes, seed)
    flagged_keys = cand.select(*key_cols).distinct()
    confirmed = (
        corpus.join(F.broadcast(flagged_keys), key_cols, "left_semi")
        .select(*key_cols)
        .distinct()
    )
    return clean.unionByName(cand.join(F.broadcast(confirmed), key_cols, "left_anti"))


def build_bloom_index(
    corpus: DataFrame,
    index_dir: str,
    key_cols: list[str],
    n_bits: int = 1 << 24,
    n_hashes: int = 5,
    seed: int = 1337,
) -> None:
    """Persist the corpus's exact-dedup Bloom bitmap ONCE — the third leg
    of the persisted-index trilogy (MinHash bands for near-dup, IVFPQ
    codes for ANN, Bloom bitmap for exact keys). The standing state is
    ``bitmap/`` (at most ``n_bits / 64`` rows — a few MB at the default
    2^24 bits, REGARDLESS of corpus size) plus ``meta/`` with the frozen
    hash parameters, committed LAST as the validity marker (same crash
    protocol as :func:`build_minhash_index`).

    What this buys at 100 TB: :func:`dedup_exact_against_bloom` scans the
    corpus twice per batch (bitmap build + verify); with the index, the
    nightly probe scans it at most ONCE (verify only) — or NEVER with
    ``verify_corpus=None`` — and :func:`append_to_bloom_index` folds a
    batch in with a bitmap-sized union, no corpus rescan. Blooms are
    closed under union, so appends are exact, not approximations.

    Size ``n_bits ≈ 10×`` the EVENTUAL distinct key count (appends
    included): a Bloom cannot be resized in place — growing it means one
    rebuild scan.
    """
    import json as _json
    import os

    spark = corpus.sparkSession
    meta_path = os.path.join(index_dir, "meta")
    _fs_delete(spark, meta_path)
    if _fs_is_dir(spark, index_dir):
        gen, stale = _bloom_generations(spark, index_dir)
        for old in stale:
            _fs_delete(spark, old)
        if gen:
            _fs_delete(spark, os.path.join(index_dir, f"bitmap.v{gen}"))
    _key_bloom_bitmap(corpus, key_cols, n_bits, n_hashes, seed).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "bitmap"))
    spark.createDataFrame(
        [(_json.dumps(list(key_cols)), n_bits, n_hashes, seed)],
        "key_cols string, n_bits long, n_hashes int, seed int",
    ).write.mode("overwrite").parquet(meta_path)


def load_bloom_index(spark, index_dir: str):
    """(params dict, bitmap DataFrame) for an index written by
    :func:`build_bloom_index` — the bitmap read from the highest COMPLETE
    generation (the build's ``bitmap/`` or an append's ``bitmap.v<N>/``;
    see :func:`append_to_bloom_index` for the crash protocol)."""
    import json as _json
    import os

    row = _load_meta_row(spark, index_dir)
    params = {
        "key_cols": _json.loads(row["key_cols"]),
        "n_bits": int(row["n_bits"]),
        "n_hashes": int(row["n_hashes"]),
        "seed": int(row["seed"]),
    }
    gen, _stale = _bloom_generations(spark, index_dir)
    sub = "bitmap" if gen == 0 else f"bitmap.v{gen}"
    return params, spark.read.parquet(os.path.join(index_dir, sub))


def append_to_bloom_index(docs: DataFrame, index_dir: str) -> None:
    """Fold new (already-accepted) docs into the standing bitmap with the
    build's frozen parameters. Bloom bitmaps are closed under bitwise OR,
    so the merge is a bitmap-sized union + ``bit_or`` — the corpus is
    never rescanned and the rewrite is bounded by ``n_bits / 64`` rows.
    The merged bitmap stages into a temp sibling and swaps in through the
    Hadoop FS API (no self-overwrite read hazard); ``meta/`` is untouched,
    so a crash mid-swap leaves a loudly-missing bitmap, never silently
    mixed parameters.

    Crash safety: appends are GENERATIONAL. The merged bitmap is written
    to a fresh ``bitmap.v<N+1>/`` sibling and becomes current the moment
    its ``_SUCCESS`` marker lands (the write's own atomic commit);
    :func:`load_bloom_index` resolves the HIGHEST complete generation, so
    a crash mid-append leaves the previous generation intact and the
    append simply re-runs — never a window where the index has no bitmap
    (the delete-then-rename swap this replaces could crash into exactly
    that, and recovery was the full corpus rebuild the index exists to
    avoid). Superseded generations are cleaned up AFTER the new one
    commits; a crash mid-cleanup leaves stale dirs the next append
    removes.

    CONTRACT: cleanup removes the superseded bitmap files, so LAZY frames
    built over the index before the append (an unmaterialized probe
    result, e.g. the survivors you are about to append) reference deleted
    files afterwards. Materialize survivors BEFORE appending — in the
    nightly posture they are written to the corpus store first anyway,
    and appending from that staged copy is the supported shape (pinned by
    test). The same live-reader caveat applies to every index swap/
    overwrite in this engine (``compact_minhash_index``,
    ``compact_ivfpq_index``): maintenance assumes no concurrent lazy
    readers of the files it rewrites."""
    import os

    spark = docs.sparkSession
    p, bitmap = load_bloom_index(spark, index_dir)
    delta = _key_bloom_bitmap(
        docs, p["key_cols"], p["n_bits"], p["n_hashes"], p["seed"]
    )
    merged = (
        bitmap.unionByName(delta)
        .groupBy("__word")
        .agg(F.bit_or("__bits").alias("__bits"))
    )
    gen, stale = _bloom_generations(spark, index_dir)
    # stale = crashed-append debris / missed cleanup, never the current
    # generation — safe to clear anytime (and one may occupy gen+1)
    for old in stale:
        _fs_delete(spark, old)
    nxt = os.path.join(index_dir, f"bitmap.v{gen + 1}")
    merged.write.mode("overwrite").parquet(nxt)
    # the _SUCCESS marker written above IS the commit point; the
    # superseded generation retires only after it (crash-tolerant: a
    # crash here leaves both, and load resolves the newest complete one)
    if gen == 0:
        _fs_delete(spark, os.path.join(index_dir, "bitmap"))
    else:
        _fs_delete(spark, os.path.join(index_dir, f"bitmap.v{gen}"))


def _bloom_generations(spark, index_dir: str) -> tuple[int, list[str]]:
    """(current generation number, stale generation paths) for a Bloom
    index. Generation 0 is the build's plain ``bitmap/``; appends write
    ``bitmap.v<N>/``. Current = the highest generation with a complete
    (``_SUCCESS``-marked) write; anything newer without a marker is a
    crashed append's debris and anything older was superseded — both are
    returned for cleanup. The plain ``bitmap/`` dir is tracked as
    generation 0 here so an append that crashed between the v1 commit and
    the gen-0 retire leaves an orphan a LATER append's stale sweep (or a
    rebuild) removes — not a permanent full-bitmap disk leak."""
    import os
    import re

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    gens: dict[int, str] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name == "bitmap" and st.isDirectory():
            gens[0] = os.path.join(index_dir, name)
            continue
        m = re.fullmatch(r"bitmap\.v(\d+)", name)
        if m and st.isDirectory():
            gens[int(m.group(1))] = os.path.join(index_dir, name)
    current = 0
    for n in sorted(gens, reverse=True):
        ok = jvm.org.apache.hadoop.fs.Path(os.path.join(gens[n], "_SUCCESS"))
        if fs.exists(ok):
            current = n
            break
    stale = [p for n, p in gens.items() if n != current]
    return current, stale


def _write_witness(spark, witness_path: str, pairs: frozenset) -> None:
    """Persist a maintenance concurrency witness (a frozenset of string
    pairs) as a one-row parquet under the staging root — written BEFORE
    the staged generation builds, so any staging a rerun can see as
    complete (meta commits last) carries the witness its resume decision
    needs. Shared by retrain_ivfpq_index and rebuild_bloom_index; the
    encoding must stay identical on both paths or their resume decisions
    diverge."""
    import json as _json

    spark.createDataFrame(
        [(_json.dumps(sorted(list(t) for t in pairs)),)], "witness string"
    ).write.mode("overwrite").parquet(witness_path)


def _read_witness(spark, witness_path: str) -> frozenset | None:
    """Counterpart of :func:`_write_witness`. None = unreadable/absent
    (pre-witness staging or corrupt write): the resume decision is then
    unprovable and callers discard the staging."""
    import json as _json

    try:
        raw = spark.read.parquet(witness_path).collect()[0]["witness"]
        return frozenset(tuple(x) for x in _json.loads(raw))
    except Exception:
        return None


def _bitmap_witness(spark, index_dir: str) -> frozenset:
    """(generation dir name, parquet file name) pairs across ALL bitmap
    generations — rebuild_bloom_index's concurrency witness. Every
    :func:`append_to_bloom_index` commits a new ``bitmap.v<N>`` and
    retires the old one, so any append between a rebuild's corpus
    snapshot and its swap changes this set."""
    import re

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return frozenset()
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory():
            continue
        if name != "bitmap" and not re.fullmatch(r"bitmap\.v\d+", name):
            continue
        for child in fs.listStatus(st.getPath()):
            cn = child.getPath().getName()
            if child.isFile() and cn.endswith(".parquet"):
                out.append((name, cn))
    return frozenset(out)


def rebuild_bloom_index(
    spark,
    index_dir: str,
    keys: DataFrame | None = None,
    n_bits: int | None = None,
    n_hashes: int | None = None,
    seed: int | None = None,
) -> dict:
    """Re-size a SATURATED Bloom index — the remediation for the fill
    watch :func:`sat_bucket_spark.maintenance.index_report` runs
    (``fill_factor > 0.5``): a bitmap cannot grow in place (bit positions
    are ``mod n_bits``), so the only accuracy recovery is one corpus scan
    at the new width. This packages that scan with the crash-resumable
    generational swap :func:`~sat_bucket_spark.operators.similarity.
    retrain_ivfpq_index` established, completing the four-leg
    accuracy-maintenance matrix (IVFPQ drift -> retrain; BM25/MinHash
    fragmentation -> compaction; Bloom fill -> this).

    ``keys`` must cover the FULL corpus (every row whose key the index
    should remember — typically the corpus table itself): unlike IVFPQ's
    refine store, a Bloom index stores no keys, only bits, so the caller
    owns corpus access. It may be omitted ONLY to resume a crashed swap
    (fsck's "rerun rebuild_bloom_index" recovery — the staged generation
    already holds the data); reaching the rebuild path without it
    raises. Parameters default to the standing meta's; ``n_bits`` is the
    one you came to change (size ~10x the eventual distinct key count).
    A resumable staging whose parameters differ from EXPLICITLY-passed
    ``n_bits``/``n_hashes``/``seed`` is discarded and the rebuild runs
    fresh at the requested knobs (``keys`` required) — a rerun that asks
    for a different width never silently installs the staged generation's
    old one (r15 advisor). The one exception is the true mid-swap state
    (standing meta already gone): the staged generation is the only
    complete one left, so the resume installs it regardless and a knob
    change takes another run.

    Swap protocol (retrain_ivfpq_index's, verbatim): the new generation
    stages under ``<index_dir>/rebuild.tmp`` via :func:`build_bloom_index`
    (its meta commits LAST, so a loadable staging meta == staging
    complete) while the standing index serves unchanged; then standing
    ``meta/`` is deleted (probes AND appends fail loudly in the swap
    window), all standing bitmap generations are removed, and the staged
    bitmap + meta rename into place, meta last. A crash mid-staging
    leaves the old index valid plus debris a rerun clears; a crash
    mid-swap leaves a complete staging a rerun resumes without
    rebuilding (``index_report`` describes both states).

    Concurrency: the bitmap generation set is fingerprinted before the
    corpus snapshot is read, persisted under ``rebuild.tmp/witness``, and
    re-checked before the swap — an :func:`append_to_bloom_index` landing
    mid-rebuild (its keys are NOT in ``keys``) aborts the swap in-run,
    and a post-kill append invalidates the persisted witness so a rerun
    discards the stale staging and rebuilds fresh instead of erasing the
    append. As with every maintenance swap here the guard narrows the
    check-then-act window but cannot close it: concurrent appends require
    external mutual exclusion.

    Returns ``{"resumed": bool, "n_bits": int, "n_hashes": int}``.
    """
    import json as _json
    import os

    staging = os.path.join(index_dir, "rebuild.tmp")
    witness_path = os.path.join(staging, "witness")

    def _staging_complete() -> bool:
        try:
            _load_meta_row(spark, staging)
            return True
        except Exception:
            return False

    def _swap() -> dict:
        srow = _load_meta_row(spark, staging).asDict()
        _fs_delete(spark, os.path.join(index_dir, "meta"))
        staged_bm = os.path.join(staging, "bitmap")
        if _fs_is_dir(spark, staged_bm):
            # remove EVERY standing generation (current + stale debris) —
            # guarded so a resume after the rename crashed doesn't delete
            # the already-installed new bitmap
            gen, stale = _bloom_generations(spark, index_dir)
            for p in stale:
                _fs_delete(spark, p)
            cur = "bitmap" if gen == 0 else f"bitmap.v{gen}"
            _fs_delete(spark, os.path.join(index_dir, cur))
            _fs_rename(spark, staged_bm, os.path.join(index_dir, "bitmap"))
        _fs_rename(
            spark, os.path.join(staging, "meta"), os.path.join(index_dir, "meta")
        )
        _fs_delete(spark, staging)
        return {
            "resumed": True,
            "n_bits": int(srow["n_bits"]),
            "n_hashes": int(srow["n_hashes"]),
        }

    if _staging_complete():
        standing_ok = True
        try:
            _load_meta_row(spark, index_dir)
        except Exception:
            standing_ok = False
        if not standing_ok:
            # true mid-swap: standing meta gone, probes/appends fail
            # loudly — finish the swap. Explicit knobs are ignored HERE
            # by necessity (the staged generation is the only complete
            # one left); a caller wanting a different width reruns with
            # it after the resume completes
            return _swap()
        srow = _load_meta_row(spark, staging).asDict()
        knobs_differ = any(
            want is not None and int(want) != int(srow[name])
            for name, want in (
                ("n_bits", n_bits), ("n_hashes", n_hashes), ("seed", seed)
            )
        )
        if not knobs_differ:
            w = _read_witness(spark, witness_path)
            if w is not None and w == _bitmap_witness(spark, index_dir):
                return _swap()
        # discard the staging and rebuild fresh below, for either reason:
        # (a) the caller EXPLICITLY asked for different knobs than the
        #     staged generation carries (r15 advisor: resume-wins would
        #     silently install the old width, observable only via the
        #     return dict), or
        # (b) the standing index kept serving after the kill and its
        #     bitmap generations moved (an append landed): the staged
        #     bitmap was built without those keys
    # the discard precedes the keys check: a keys-less rerun against an
    # append-invalidated staging must clear the debris (so fsck stops
    # prescribing a resume that can never happen) before raising
    _fs_delete(spark, staging)
    if keys is None:
        raise ValueError(
            f"{index_dir}: nothing safely resumable and no keys frame "
            "given (any stale staging was discarded) — a bitmap rebuild "
            "needs the full corpus keys; rerun with `keys`"
        )

    row = _load_meta_row(spark, index_dir).asDict()
    key_cols = _json.loads(row["key_cols"])
    n_bits = int(row["n_bits"] if n_bits is None else n_bits)
    n_hashes = int(row["n_hashes"] if n_hashes is None else n_hashes)
    seed = int(row["seed"] if seed is None else seed)
    seen = _bitmap_witness(spark, index_dir)
    _write_witness(spark, witness_path, seen)
    build_bloom_index(
        keys, staging, key_cols, n_bits=n_bits, n_hashes=n_hashes, seed=seed
    )
    if _bitmap_witness(spark, index_dir) != seen:
        _fs_delete(spark, staging)
        raise RuntimeError(
            f"{index_dir}: bitmap generations changed during the rebuild "
            "(concurrent append?) — swap aborted and staging discarded, "
            "standing index left intact; rerun rebuild_bloom_index with "
            "a keys frame that covers the appended rows"
        )
    out = _swap()
    out["resumed"] = False
    return out


def dedup_exact_against_bloom_index(
    batch: DataFrame,
    index_dir: str,
    verify_corpus: DataFrame | None = None,
) -> DataFrame:
    """Drop batch rows whose keys the standing index has seen — without
    rebuilding the bitmap (and, in the default mode, without touching the
    corpus AT ALL).

    Two verification postures:

    - ``verify_corpus=None`` (default): rows the broadcast bitmap flags
      are dropped outright. Zero corpus access — the probe's only inputs
      are the batch and the few-MB bitmap — at the cost of also dropping
      the filter's sized false-positive rate: ~1% of UNIQUE rows when the
      filter is loaded to its design point (k=5 hashes at 10 bits/key
      gives (1-e^(-1/2))^5 ≈ 0.9%), vanishingly less while the key count
      is far below n_bits/10. That trade is the standard one for
      decontamination/dedup at ingest: over-dropping a hair of clean data
      is safe; letting duplicates through is not. Rows with ANY NULL key
      column bypass the bitmap entirely and pass through: the exact
      semantics say NULL-keyed rows never match, but the fingerprint
      encodes NULL patterns, so without the bypass a NULL-keyed batch row
      whose pattern matched a NULL-keyed corpus row would be dropped
      DETERMINISTICALLY — not as part of the sized FP rate. (The verify
      posture restores such rows anyway: NULL keys never survive the
      equi-semi-join into ``confirmed``.)
    - ``verify_corpus=<frame>``: flagged keys are verified against the
      given corpus exactly as :func:`dedup_exact_against_bloom` does
      (broadcast semi-join, FPs restored) — bit-identical to the
      non-indexed operator, with the corpus scanned ONCE instead of
      twice. The caller owns handing over the same corpus the index was
      built+appended from.

    Parameters come from the index's meta, so a probe can never drift
    from the build."""
    spark = batch.sparkSession
    p, bitmap = load_bloom_index(spark, index_dir)
    key_cols = p["key_cols"]
    if verify_corpus is None:
        # NULL-keyed rows route straight to the clean side (see docstring)
        null_key = F.lit(False)
        for c in key_cols:
            null_key = null_key | F.col(c).isNull()
        clean, _cand = _bloom_route(
            batch.where(~null_key), bitmap, key_cols,
            p["n_bits"], p["n_hashes"], p["seed"],
        )
        return clean.unionByName(batch.where(null_key))
    clean, cand = _bloom_route(
        batch, bitmap, key_cols, p["n_bits"], p["n_hashes"], p["seed"]
    )
    flagged_keys = cand.select(*key_cols).distinct()
    confirmed = (
        verify_corpus.join(F.broadcast(flagged_keys), key_cols, "left_semi")
        .select(*key_cols)
        .distinct()
    )
    return clean.unionByName(
        cand.join(F.broadcast(confirmed), key_cols, "left_anti")
    )


def minhash_dedup_against(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_size: int = 8,
    min_jaccard: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """Drop batch docs that near-duplicate ANY corpus doc (cross-batch LSH).

    The incremental form of :func:`minhash_lsh_dedup_pairs`: both sides get
    the SAME seeded signature pipeline, candidates come from a band equi-join
    of batch bands against corpus bands (cross product never materializes,
    and batch-internal / corpus-internal collisions are never generated),
    the exact n-gram Jaccard verify runs only on candidates, and survivors
    come from one left-anti join on the batch id.

    Verify-join shape (r17, guide §1.2/§3.1 — the
    :func:`minhash_dedup_against_index` contract, applied here): the
    candidate pairs are a measured stage cache (caching.measured_stage),
    and while they fit the broadcast threshold (a) BOTH verify sides are
    pre-filtered with broadcast semi-joins on the candidate ids BEFORE
    the shingle projection — so corpus text is shingled on the verify
    side only for candidate rows, never corpus-wide — and (b) the
    candidate and contaminated frames are broadcast into their joins, so
    neither the batch nor the corpus is ever shuffle-planned (measured:
    without the gates the verify and anti joins executed as
    SortMergeJoins shuffling full shingle arrays). Above the bound the
    shuffled shapes are unchanged; both postures are output-identical.
    Eager at call time (the probe-operator convention); long-running
    callers free the cache with ``caching.stage_scope()``.
    """
    sig_kwargs = dict(
        id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        shingle_size=shingle_size, seed=seed,
    )
    bands_b = _band_rows(
        minhash_signatures(batch, **sig_kwargs), id_col, n_bands, n_hashes
    ).select(F.col(id_col).alias("__bid"), "band_idx", "band_sig")
    bands_c = _band_rows(
        minhash_signatures(corpus, **sig_kwargs), id_col, n_bands, n_hashes
    ).select(F.col(id_col).alias("__cid"), "band_idx", "band_sig")
    cands, cand_metrics = measured_stage(
        bands_b.join(bands_c, ["band_idx", "band_sig"])
        .select("__bid", "__cid")
        .distinct()  # ids only through the dedup exchange
    )
    set_b_src = _ensure_parallelism(batch)
    set_c_src = _ensure_parallelism(corpus)
    if broadcast_fits(batch.sparkSession, cand_metrics):
        set_b_src = set_b_src.join(
            F.broadcast(cands.select(F.col("__bid").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        set_c_src = set_c_src.join(
            F.broadcast(cands.select(F.col("__cid").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
    set_b = set_b_src.select(
        F.col(id_col).alias("__bid"), shingles_expr(text_col, k=shingle_size).alias("__set_b")
    )
    set_c = set_c_src.select(
        F.col(id_col).alias("__cid"), shingles_expr(text_col, k=shingle_size).alias("__set_c")
    )
    inter = F.size(F.array_intersect(F.col("__set_b"), F.col("__set_c")))
    union = F.size(F.col("__set_b")) + F.size(F.col("__set_c")) - inter
    contaminated = (
        broadcast_if_fits(cands, cand_metrics)
        .join(set_b, "__bid")
        .join(set_c, "__cid")
        .where(F.round(inter / union.cast("double"), 6) >= F.lit(min_jaccard))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    return batch.join(
        broadcast_if_fits(contaminated, cand_metrics), id_col, "left_anti"
    )


def _hashed_shingles_expr(text_col, k: int):
    """Distinct shingles as 60-bit md5-prefix longs (the dup_spans_hashed
    idiom, WITHOUT the 31-bit modulus — at corpus-scale shingle counts a
    31-bit space would inflate Jaccard intersections with real collision
    mass; 60 bits keeps them measure-zero)."""
    return F.transform(
        shingles_expr(text_col, k=k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def build_minhash_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_size: int = 8,
    seed: int = 42,
) -> None:
    """Persist the standing corpus's dedup state ONCE — the nightly-ingest
    posture :func:`minhash_dedup_against` can't reach: that operator
    re-signatures (and re-shingles) the WHOLE corpus on every batch, which
    at 100 TB is the dominant cost repeated nightly. The index stores

    - ``bands/``: one row per (DISTINCT text, band) with the banded
      MinHash signature, keyed by a 64-bit ``content_id`` text hash,
      parquet partitioned by ``band_idx`` and sig-sorted within files —
      what candidate generation equi-joins against (content addressing:
      see :func:`_write_minhash_index_rows` — index size and probe cost
      are invariant to the corpus's duplication factor);
    - ``shingles/``: each distinct text's shingle set as 60-bit hashes,
      keyed by ``content_id`` — what the exact-Jaccard verify gathers
      CANDIDATE rows from (the scan is pruned by the batch-bounded
      candidate-id set, so the nightly probe never rescans corpus text
      at all);
    - ``meta/``: the signature parameters, so appends and probes can never
      drift from the build (mixed-seed bands would be unsearchable — the
      same frozen-codebook reasoning as ``append_to_ivfpq_index``).

    Verify semantics vs :func:`minhash_dedup_against`: Jaccard over hashed
    shingles — equality modulo 60-bit collisions (equivalence pinned by
    test on real data). Incremental growth via
    :func:`append_to_minhash_index`; probe via
    :func:`minhash_dedup_against_index`.

    Commit protocol: ``meta/`` presence is the index validity marker. A
    rebuild over an existing index first INVALIDATES it (delete meta),
    then writes ``bands/`` and ``shingles/``, and commits ``meta/`` LAST —
    so a failure mid-rebuild leaves no meta and probes/appends fail loudly
    at :func:`load_minhash_index` instead of silently mixing signature
    parameters across index generations.
    """
    import os

    spark = corpus.sparkSession
    meta_path = os.path.join(index_dir, "meta")
    _fs_delete(spark, meta_path)
    _write_minhash_index_rows(corpus, index_dir, {
        "id_col": id_col, "text_col": text_col, "n_hashes": n_hashes,
        "n_bands": n_bands, "shingle_size": shingle_size, "seed": seed,
    }, mode="overwrite")
    spark.createDataFrame(
        [(id_col, text_col, n_hashes, n_bands, shingle_size, seed, "content-v2")],
        "id_col string, text_col string, n_hashes int, n_bands int, "
        "shingle_size int, seed int, fmt string",
    ).write.mode("overwrite").parquet(meta_path)


def _fs_delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop filesystem API — works on the
    local FS, HDFS, and object stores alike; a missing path is a no-op."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


_META_CACHE: dict = {}


def _load_meta_row(spark, index_dir: str):
    """The index's single meta row, with a fingerprint-guarded process
    cache.

    Meta is immutable after build (appends/compactions never touch it;
    only a REBUILD rewrites it, which invalidates the entry) — but
    reading it through a Spark job costs ~0.15-0.2 s of scheduling
    latency PER CALL, and the streaming archive gate loads each index
    twice per micro-batch (probe + append): ~0.7 s/batch of pure meta
    re-reads at trigger frequency. The cache trades one driver-side FS
    listing for that job.

    The guard fingerprints the meta directory's CHILD FILES (name, size,
    mtime) rather than the directory's own mtime: object stores
    (S3A-style) synthesize directory entries whose modification time
    never changes when children are rewritten, so a dir-mtime guard would
    serve a STALE meta row forever after a rebuild — e.g. a Bloom probe
    hashing with the old seed against the new bitmap, silently passing
    every true duplicate. File-level stats change on every rewrite on
    every store (new objects). Any failure in the listing path falls back
    to the uncached read so a missing/invalid meta still fails with the
    loud canonical error."""
    import os

    meta_path = os.path.join(index_dir, "meta")
    key = os.path.abspath(meta_path)
    fingerprint = None
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(meta_path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fingerprint = tuple(
            sorted(
                (st.getPath().getName(), st.getLen(), st.getModificationTime())
                for st in fs.listStatus(p)
                if st.isFile()
            )
        )
        hit = _META_CACHE.get(key)
        if hit is not None and hit[0] == fingerprint:
            return hit[1]
    except Exception:
        fingerprint = None
    row = spark.read.parquet(meta_path).collect()[0]
    if fingerprint is not None:
        _META_CACHE[key] = (fingerprint, row)
    return row


def _fs_is_dir(spark, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(p) and fs.getFileStatus(p).isDirectory()


def _fs_exists(spark, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _resume_crashed_compact_swap(
    spark, live_dir: str, suffix: str = ".compact"
) -> bool:
    """Finish a crashed delete+rename swap, if that is what the layout
    shows: the live component has NO parquet files while a COMPLETE
    ``<live><suffix>`` sibling (its write's own ``_SUCCESS`` marker
    present) sits next to it — the state a kill between the delete and
    the rename leaves, and the only state that produces this layout (an
    abort deletes the tmp; a crash before the delete leaves the live
    files in place). Returns True when a rename was performed.

    Before r15 the recovery was fsck's manual rename hint; the
    compactors now call this first (and, r16, ``dedupe_bm25_index``
    with ``suffix=".healed"``), so a plain rerun heals their own crash
    window — the same self-resume contract retrain_ivfpq_index and
    rebuild_bloom_index carry."""
    import os

    tmp = live_dir + suffix
    n_live, _ = _fs_parquet_stats(spark, live_dir)
    if n_live > 0:
        return False
    n_tmp, _ = _fs_parquet_stats(spark, tmp)
    if n_tmp == 0 or not _fs_exists(spark, os.path.join(tmp, "_SUCCESS")):
        return False
    _fs_delete(spark, live_dir)  # an empty husk dir would break the rename
    _fs_rename(spark, tmp, live_dir)
    return True


def _write_minhash_index_rows(docs, index_dir, p, mode: str) -> None:
    """CONTENT-ADDRESSED index rows: bands/ and shingles/ are keyed by a
    64-bit text hash (``content_id``), NOT by doc id, and exact-duplicate
    texts collapse to ONE entry before anything expensive runs.

    Why: the probe's output is "which BATCH docs near-match ANYTHING
    indexed" — it never needs to know WHICH corpus doc matched, so
    storing one row set per corpus COPY is pure waste that compounds: on
    an R-fold duplicated corpus a doc-keyed index is R× larger, and every
    near-dup batch doc generates R× the candidate pairs, each paying the
    exact-Jaccard verify (profiled r12: the verify dominated the probe at
    6.1 s of 6.9 s at 30× duplication; bands+shingles scans were ~1.5 s).
    Content addressing makes index size AND probe cost invariant to the
    corpus's duplication factor — only DISTINCT content costs anything.

    64-bit collisions (two different texts sharing a content_id) drop one
    text's rows — the same measure-zero accept already documented for the
    60-bit hashed shingles. Appends dedupe within their own batch; a
    re-append of standing content adds redundant rows that the probe's
    candidate DISTINCT absorbs and compaction folds away.

    Band files are written sorted by ``band_sig`` within each band_idx
    partition, so the probe's pushed In-filter (see
    :func:`minhash_dedup_against_index`) can skip row groups via parquet
    min/max stats; shingle files are sorted by ``content_id`` for the
    same reason on the verify side.
    """
    import os

    from sat_bucket_spark.writers import write_partitioned_dataset

    keyed = _ensure_parallelism(docs).select(
        F.xxhash64(F.col(p["text_col"])).alias("__content_id"),
        F.col(p["text_col"]),
    )
    # the bands path needs NO pre-dedup: minhash_signatures ends in a
    # groupBy(content_id), so duplicate texts collapse there for free
    # (identical shingle hashes, map-side partial min) — one row per
    # distinct content with zero extra shuffles
    sigs = minhash_signatures(
        keyed, id_col="__content_id", text_col=p["text_col"],
        n_hashes=p["n_hashes"], shingle_size=p["shingle_size"], seed=p["seed"],
    )
    # band_sig (an int-array signature slice) is stored as a single
    # xxhash64 long: sortable, parquet-stat-prunable, and a cheaper join
    # key. Hash collisions can only ADD candidates (identical slices
    # always agree), and the exact-Jaccard verify removes them — the
    # probe's output is unchanged.
    bands = _band_rows(sigs, "__content_id", p["n_bands"], p["n_hashes"]).select(
        F.col("__content_id").alias("content_id"),
        "band_idx",
        F.xxhash64(F.col("band_sig")).alias("band_sig"),
    )
    # repartition_by_levels=False: the sort contract is PER FILE (row-group
    # min/max stats), which sortWithinPartitions satisfies on the scan
    # partitioning — the REBALANCE shuffle would buy fewer files per band,
    # but compaction already owns file-count hygiene and the shuffle costs
    # more than it saves (r12 closing bench: build 4.94 s with it)
    write_partitioned_dataset(
        bands,
        os.path.join(index_dir, "bands"),
        partitions=["band_idx"],
        mode=mode,
        sort_within_by=["band_sig"],
        repartition_by_levels=False,
    )
    # the sets path DOES need one dedup (R duplicate shingle rows would
    # re-multiply verify candidates R-fold) — dedup the TEXT first so the
    # shuffle carries text, not the fatter shingle arrays, and the shingle
    # expression runs once per distinct content
    # the sets path needs one dedup shuffle — and then an EXPLICIT
    # re-widen: AQE coalesces the tiny post-dedup shuffle output (rows,
    # not cost, drive the advisory size), which would serialize the
    # expensive shingle projection onto one task (measured 0.6 -> 3.6 s
    # at sf0.1 — a 6x hit from lost parallelism, and the same trap at any
    # scale where rows are few but per-row work is heavy). The explicit
    # repartition(n) is AQE-exempt; the shingle arrays are projected
    # AFTER the sort so files stay content_id-sorted (Project over Sort
    # preserves order) without buffering arrays through the sorter.
    n_tasks = docs.sparkSession.sparkContext.defaultParallelism
    sets = (
        keyed.dropDuplicates(["__content_id"])
        # ROUND-ROBIN repartition(n), not repartition(n, col): under AQE,
        # hash-repartition-with-N is a coalescible shuffle (measured: 32
        # requested -> 1 non-empty partition on a 5k-row input, Spark
        # 4.1), while round-robin with explicit N is exempt — the whole
        # point here is pinning the parallelism
        .repartition(n_tasks)
        .sortWithinPartitions("__content_id")
        .select(
            F.col("__content_id").alias("content_id"),
            _hashed_shingles_expr(p["text_col"], p["shingle_size"]).alias(
                "shingle_set"
            ),
        )
    )
    sets.write.mode(mode).parquet(os.path.join(index_dir, "shingles"))


def load_minhash_index(spark, index_dir: str):
    """(params dict, bands DataFrame, shingle-set DataFrame) for an index
    written by :func:`build_minhash_index`. Bands and shingles are keyed
    by ``content_id`` (content-addressed layout, format ``content-v2``);
    an index built by an older engine fails loudly here with a rebuild
    instruction instead of silently joining on the wrong key."""
    import os

    row = _load_meta_row(spark, index_dir)
    fmt = row.asDict().get("fmt", "doc-v1")
    if fmt != "content-v2":
        raise ValueError(
            f"MinHash index at {index_dir} has format {fmt!r}; this engine "
            "reads 'content-v2' — rebuild it with build_minhash_index"
        )
    params = {
        k: row[k]
        for k in ("id_col", "text_col", "n_hashes", "n_bands", "shingle_size", "seed")
    }
    return (
        params,
        spark.read.parquet(os.path.join(index_dir, "bands")),
        spark.read.parquet(os.path.join(index_dir, "shingles")),
    )


def append_to_minhash_index(docs: DataFrame, index_dir: str) -> None:
    """Add new (already-accepted) docs to the standing index with the
    BUILD's frozen signature parameters — the step after a probe keeps a
    batch's survivors. Every append writes at least one new file into
    each band partition it touches (and one more shingle file), so after
    a year of nightly appends a probe pays ~365 file opens per band
    partition; run :func:`compact_minhash_index` on a maintenance cadence
    to fold them back — probe results are pinned identical across an
    append + compact cycle."""
    params, _bands, _sets = load_minhash_index(docs.sparkSession, index_dir)
    _write_minhash_index_rows(docs, index_dir, params, mode="append")


def compact_minhash_index(
    spark,
    index_dir: str,
    target_file_size: str | int = "64MB",
    min_files: int = 2,
) -> dict:
    """Defragment a MinHash index after nightly appends — the maintenance
    half of the incremental-dedup story, mirroring
    :func:`sat_bucket_spark.operators.similarity.compact_ivfpq_index`.

    - ``bands/`` is hive-partitioned by ``band_idx``, so it delegates to
      :func:`sat_bucket_spark.maintenance.compact_bucket`: fragmentation
      is measured from parquet file metadata only, and ONLY partitions
      with >= ``min_files`` files averaging under ``target_file_size``
      are rewritten via dynamic partition overwrite (untouched partitions'
      files are never opened; a failed job leaves them intact).
    - ``shingles/`` is unpartitioned, so selective overwrite can't apply:
      when fragmented by the same criterion it is rewritten whole into a
      temp sibling directory sized to the target, then swapped in through
      the Hadoop FS API. The temp-dir staging avoids the self-overwrite
      hazard (a lazy read plan consuming files the write is deleting);
      the swap's crash window leaves a missing/partial ``shingles/`` that
      probes fail loudly on — never silently mixed generations (meta/ is
      untouched throughout, and index CONTENT is unchanged, so validity
      semantics are preserved).

    Returns ``{"band_partitions": rewritten, "shingle_files": (before,
    after)}``. Probe equality across build -> appends -> compact is pinned
    by test and by the sf1 probe's maintenance gate.

    Concurrency contract: the pre-swap file-set re-check NARROWS the
    append/compaction race but cannot close it (check-then-act over a
    shared filesystem — an append landing between the re-check and the
    delete+rename is still silently deleted). Running maintenance
    concurrently with appends requires external mutual exclusion; the
    guard exists to make violations loud, not licensed. The same contract
    applies to :func:`~sat_bucket_spark.operators.relevance.
    compact_bm25_index` and :func:`~sat_bucket_spark.operators.similarity.
    retrain_ivfpq_index`.
    """
    import math
    import os

    from sat_bucket_spark.maintenance import compact_bucket
    from sat_bucket_spark.writers import parse_size

    n_bands = compact_bucket(
        spark,
        os.path.join(index_dir, "bands"),
        target_file_size=target_file_size,
        min_files=min_files,
        partition_cols=["band_idx"],
        # compacted files must stay band_sig-sorted — the probe's pushed
        # In-filter prunes row groups via min/max stats (build contract)
        sort_within_by=["band_sig"],
    )

    target = parse_size(target_file_size)
    shingle_dir = os.path.join(index_dir, "shingles")
    # a prior run killed between its delete and rename left shingles
    # missing with a complete shingles.compact: finish that swap first,
    # so a plain rerun heals the crash window fsck describes
    _resume_crashed_compact_swap(spark, shingle_dir)
    n_before, total_bytes = _fs_parquet_stats(spark, shingle_dir)
    n_after = n_before
    # n_before > 0 short-circuits before the mean-size division
    # (min_files=0 on a missing/empty shingles dir)
    if n_before > 0 and n_before >= min_files and total_bytes / n_before < target:
        seen = _fs_parquet_names(spark, shingle_dir)
        df = spark.read.parquet(shingle_dir)
        tmp = shingle_dir + ".compact"
        n_out = max(1, math.ceil(total_bytes / target))
        # re-sort after coalesce (concatenated sorted runs are not sorted):
        # probe pushdown prunes shingle row groups by content_id stats
        df.coalesce(n_out).sortWithinPartitions("content_id").write.mode(
            "overwrite"
        ).parquet(tmp)
        # concurrency guard (mirrors compact_bm25_index): an append landing
        # after the tmp rewrite would be deleted by the swap while its
        # bands/ rows survive — abort, leave the original intact
        if _fs_parquet_names(spark, shingle_dir) != seen:
            _fs_delete(spark, tmp)
            raise RuntimeError(
                f"{shingle_dir}: file set changed during compaction "
                "(concurrent append?) — swap aborted, original shingles "
                "left intact; rerun compact_minhash_index"
            )
        _fs_delete(spark, shingle_dir)
        _fs_rename(spark, tmp, shingle_dir)
        n_after, _ = _fs_parquet_stats(spark, shingle_dir)
    return {"band_partitions": n_bands, "shingle_files": (n_before, n_after)}


def _fs_parquet_stats(spark, path: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet data files directly under
    ``path`` — Hadoop FS metadata only, no data pages read. A missing
    directory reads as ``(0, 0)``: callers treat that as "no files"
    (compactors no-op below min_files; ``index_report`` turns it into a
    no-parquet-files issue instead of a raw FileNotFoundException — the
    fsck must DESCRIBE crash debris, not crash on it)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0, 0
    n = total = 0
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            n += 1
            total += st.getLen()
    return n, total


def _fs_parquet_names(spark, path: str) -> frozenset:
    """Names of the parquet data files directly under ``path`` — the
    compactors' concurrency witness: captured when fragmentation is
    measured and re-checked immediately before the delete+rename swap, so
    an append landing mid-compaction aborts the swap instead of being
    silently deleted (its committed stats would otherwise survive while
    its posting/shingle rows vanish — a healthy-looking index scoring
    over missing rows)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return frozenset()
    return frozenset(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    )


def _fs_tree_signature(spark, path: str) -> frozenset:
    """(relative-dir, file-name) pairs of all parquet data files under
    ``path``, recursively — the concurrency witness for maintenance that
    swaps a PARTITIONED component wholesale (retrain_ivfpq_index):
    captured before the staged generation's source snapshot is read and
    re-checked immediately before the swap, so an append landing
    mid-retrain aborts the swap instead of being silently erased (the
    staged generation was built from a pre-append snapshot)."""
    import posixpath

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return frozenset()
    out = []
    stack = [(root, "")]
    while stack:
        p, rel = stack.pop()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory():
                stack.append((st.getPath(), posixpath.join(rel, name)))
            elif st.isFile() and name.endswith(".parquet"):
                out.append((rel, name))
    return frozenset(out)


def _fs_rename(spark, src: str, dst: str) -> None:
    jvm = spark._jvm
    sp = jvm.org.apache.hadoop.fs.Path(src)
    fs = sp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(sp, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename {src} -> {dst} failed")


def minhash_dedup_against_index(
    batch: DataFrame,
    index_dir: str,
    min_jaccard: float = 0.1,
    pushdown_max_rows: int = 0,
) -> DataFrame:
    """Drop batch docs near-duplicating ANY indexed doc — without touching
    the corpus: candidates from a band equi-join against the persisted
    band rows, exact Jaccard verify against the persisted 60-bit shingle
    sets. The index is CONTENT-ADDRESSED (one entry per distinct text —
    see :func:`_write_minhash_index_rows`), so candidates pair each batch
    doc with distinct matching CONTENT, never with every corpus copy of
    it. Shuffle shape: batch-sized band rows + candidates; nothing
    corpus-sized moves. Signature parameters come from the index's meta,
    so a probe can never drift from the build.

    Scan pruning (``pushdown_max_rows``, OPT-IN): when set > 0 and the
    batch's band rows fit under it, they are collected once (one
    batch-bounded driver job) and (a) the batch's distinct band sigs are
    pushed into the bands read as an ``In(band_sig, ...)`` parquet
    filter, (b) the collected rows re-enter the join as a
    broadcast-hinted local relation — no second signature computation;
    the same mechanism pushes the measured candidate-id set into the
    shingle-set read. Band files are sig-sorted (and shingle files
    id-sorted) at build/append/compact time, so the pushed In prunes ROW
    GROUPS via min/max stats — but only when the batch's distinct sig
    count is BELOW the archive's row-group count (each sorted row group
    covers a narrow slice of uniform-hash sig space, so S sigs touch at
    most S row groups). That is the small-continuous-batch vs
    huge-standing-archive regime. DEFAULT OFF after measurement: at test
    scale the two driver collects plus two ~2k-literal In predicates cost
    a fixed ~3.3 s per probe and prune nothing (r12 interleaved A/B at
    30x duplication: fallback 1.88 s flat vs pushdown 5.19 s; the
    content-addressed layout is what flattened the probe — 20.3 s -> 1.9
    s — not the pushdown). Both postures are output-identical, pinned by
    test; enable for point-lookup-shaped probes where batch sigs ≪
    archive row groups.

    The candidate-id filter is BROADCAST into the shingle-set scan only
    while the candidate pairs — a measured stage cache
    (caching.measured_stage) — fit the broadcast threshold; a
    backfill-sized batch hitting hot bands (boilerplate-heavy corpora can
    match one band_sig to millions of corpus docs) falls back to a
    shuffled left-semi join instead of building an unbounded id set on
    the driver. Both postures are the same logical plan minus the hint —
    output-identical, pinned by test.

    Eager at call time: the candidate set materializes when called (it is
    consumed by both the verify join and the id filter, and its size
    gates the broadcast posture), so Spark jobs fire during construction —
    same caveat as ``graph.pagerank``. A long-running caller invoking this
    per micro-batch (the streaming archive gate) wraps the call and the
    result's write in ``caching.stage_scope()``, which frees the candidate
    cache; otherwise it lingers until driver GC."""
    spark = batch.sparkSession
    p, bands_c, sets_c = load_minhash_index(spark, index_dir)
    id_col = p["id_col"]
    bands_b = _band_rows(
        minhash_signatures(
            batch, id_col=id_col, text_col=p["text_col"], n_hashes=p["n_hashes"],
            shingle_size=p["shingle_size"], seed=p["seed"],
        ),
        id_col, p["n_bands"], p["n_hashes"],
    ).select(
        F.col(id_col).alias("__bid"),
        "band_idx",
        # same scalar banding key as the index write (see
        # _write_minhash_index_rows — hash collisions only add candidates)
        F.xxhash64(F.col("band_sig")).alias("band_sig"),
    )
    if pushdown_max_rows > 0:
        # nightly posture: the batch's band rows are driver-tiny — collect
        # them once, push the distinct sigs into the sig-sorted bands read
        # (parquet row-group skipping), and re-enter the join with the
        # SAME collected rows broadcast-hinted (a local relation carries
        # unknown stats, so without the hint the filtered corpus side
        # would be SMJ-shuffled)
        local = bands_b.limit(pushdown_max_rows + 1).collect()
        if 0 < len(local) <= pushdown_max_rows:
            sigs = sorted({r["band_sig"] for r in local})
            bands_b = F.broadcast(spark.createDataFrame(local, bands_b.schema))
            bands_c = bands_c.where(F.col("band_sig").isin(sigs))
    cands = (
        bands_b.join(
            bands_c.select(
                F.col("content_id").alias("__cid"), "band_idx", "band_sig"
            ),
            ["band_idx", "band_sig"],
        )
        .select("__bid", "__cid")
        .distinct()
    )
    # cands feeds TWO consumers (the verify join and the candidate-id
    # filter) and its size gates the broadcast posture: one measured
    # materialization — no second band join, no separate aggregate action.
    cands, cand_metrics = measured_stage(cands)
    small_cands = broadcast_fits(spark, cand_metrics)
    set_b_src = _ensure_parallelism(batch)
    if small_cands:
        # r17 (§1.2): the verify join keeps only rows with candidates, so
        # shingling the REST of the batch is thrown-away work — pre-filter
        # with a broadcast semi-join on the (already materialized, counted)
        # candidate ids before the shingle projection. Map-side only, no
        # new shuffle; gated on the same measurement as every other
        # candidate broadcast. Output-identical: the verify's inner join
        # on __bid drops exactly those rows anyway.
        set_b_src = set_b_src.join(
            F.broadcast(cands.select(F.col("__bid").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
    set_b = set_b_src.select(
        F.col(id_col).alias("__bid"),
        _hashed_shingles_expr(p["text_col"], p["shingle_size"]).alias("__set_b"),
    )
    # candidate ids filter the corpus-set scan: only candidate rows survive
    # the map side, nothing corpus-sized shuffles. With a nightly-sized
    # measured candidate count the id set is collected off the (already
    # materialized) candidate cache and PUSHED into the content_id-sorted
    # shingle read — parquet prunes row groups before the fat array column
    # decodes; otherwise broadcast/shuffle semi-join fallbacks (docstring).
    set_c = sets_c.select(
        F.col("content_id").alias("__cid"), F.col("shingle_set").alias("__set_c")
    )
    if small_cands and 0 < cand_metrics["n"] <= pushdown_max_rows:
        cids = sorted(
            r["__cid"] for r in cands.select("__cid").distinct().collect()
        )
        set_c = set_c.where(F.col("__cid").isin(cids))
    else:
        cand_ids = broadcast_if_fits(cands.select("__cid").distinct(), cand_metrics)
        set_c = set_c.join(cand_ids, "__cid", "left_semi")
    inter = F.size(F.array_intersect(F.col("__set_b"), F.col("__set_c")))
    union = F.size(F.col("__set_b")) + F.size(F.col("__set_c")) - inter
    # the candidate pairs are the measured-bounded side of the verify
    # joins — broadcast them under the same gate so neither shingle side
    # is ever shuffle-planned for the verify (ids-only frame)
    contaminated = (
        broadcast_if_fits(cands, cand_metrics)
        .join(set_b, "__bid")
        .join(set_c, "__cid")
        .where(F.round(inter / union.cast("double"), 6) >= F.lit(min_jaccard))
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    # r17 (§3.1): contaminated is bounded by the measured candidates, but
    # its aggregate-over-checkpoint subtree carries unknown stats, so the
    # planner SMJ-shuffles the whole batch for the final anti-join; AQE
    # demotes it to a broadcast join at runtime but only AFTER the batch's
    # shuffle map side is written (executed plan: AQEShuffleRead local over
    # a materialized Exchange). The hint removes that batch-sized shuffle
    # write from the plan.
    return batch.join(
        broadcast_if_fits(contaminated, cand_metrics), id_col, "left_anti"
    )


def add_simhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "simhash",
    n_bits: int = 24,
) -> DataFrame:
    """Per-document SimHash over whitespace tokens (default 24 bits).

    Bit j of the signature is 1 when the sum over tokens of
    ``(bit_j(h31(token)) * 2 - 1)`` is positive. Near-duplicates have small
    Hamming distance. Pure expressions: one ``aggregate`` over the token
    array per bit contribution — no shuffle at all (fully row-local), so this
    scales linearly.
    """
    from sat_bucket_spark.operators.text import tokens_expr

    df = _ensure_parallelism(df)
    # Hash each token ONCE into a materialized int-array column; the per-bit
    # folds then operate on ints. The intermediate column keeps Catalyst from
    # inlining (and re-evaluating) the md5 transform into all n_bits folds.
    df2 = df.withColumn(
        "__tok_h", F.transform(tokens_expr(text_col), lambda x: h31_expr(x))
    )

    def _bit_merge(j: int):
        # NB: a plain 2-arg lambda — extra default args would break PySpark's
        # higher-order-function arity detection.
        return lambda acc, h: acc + (F.shiftright(h, j) % 2) * 2 - 1

    bit_sums = [
        F.aggregate(F.col("__tok_h"), F.lit(0).cast("long"), _bit_merge(j))
        for j in range(n_bits)
    ]
    sim = None
    for j, s in enumerate(bit_sums):
        term = F.when(s > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = term if sim is None else (sim + term)
    return df2.withColumn(out, sim.cast("long")).drop("__tok_h")


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 24,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= ``max_hamming`` — scale path.

    EXACT result (same rows as the quadratic all-pairs scan) without the
    quadratic join, by the pigeonhole banding argument: split the ``n_bits``
    signature into ``n_bands`` contiguous bit bands; a pair differing in at
    most ``max_hamming`` bits has all its differing bits in at most
    ``max_hamming`` bands, so with ``n_bands > max_hamming`` at least one band
    is bit-identical and the pair surfaces in that band's equi-join. The
    verify step (``bit_count(a XOR b) <= k`` on the rejoined signatures)
    removes band-collision false positives, restoring exact precision.

    Shuffle shape at 100 TB: candidates come from an equi-join on
    ``(band_idx, band_bits)`` — never an all-pairs product; the candidate
    distinct carries only ``(id_a, id_b)``; the verify joins move one long
    per id. Band width (``n_bits / n_bands``) sets bucket selectivity: wider
    bands = fewer false candidates but a hard recall floor at
    ``n_bands - 1`` Hamming; size n_bits so that width >= ~16 bits at
    billion-doc scale to keep per-bucket fan-in bounded.
    """
    sigs = add_simhash(df, text_col=text_col, n_bits=n_bits).select(
        id_col, "simhash"
    )
    return near_dup_pairs_by_signature(
        sigs, id_col=id_col, sig_col="simhash",
        n_bits=n_bits, max_hamming=max_hamming, n_bands=n_bands,
    )


def decontamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-training-document n-gram overlap against an evaluation corpus.

    Train-test decontamination for LLM data pipelines: a training document
    whose word n-grams largely appear in the eval/benchmark corpus leaks the
    benchmark and must be dropped. Returns one row per training document:
    ``(id, n_ngrams, n_contaminated, contamination, is_contaminated)`` where
    ``contamination`` is the fraction of the document's DISTINCT word
    n-grams found anywhere in the eval corpus.

    Shape (the one that survives 100 TB of training data): the eval n-gram
    set is aggregated to DISTINCT n-grams and **broadcast** — eval corpora
    are a few MB where training corpora are TB — so the per-doc overlap is
    a map-side broadcast-hash semi-probe plus one groupBy on the training
    document id. No shuffle ever carries eval-side rows, and training text
    is reduced to exploded n-grams before the join.

    The flag derives from the ROUNDED fraction so engines computing the
    division in double agree at the threshold boundary.
    """
    ng = F.explode(shingles_expr(text_col, k=ngram_size, unit="word")).alias("__ng")
    ev = (
        eval_df.select(F.explode(shingles_expr(text_col, k=ngram_size, unit="word")).alias("__ng"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr = _ensure_parallelism(train).select(F.col(id_col), ng)
    joined = tr.join(F.broadcast(ev), "__ng", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("__hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated").cast("double") / F.col("n_ngrams"), 6),
        )
        .withColumn("is_contaminated", F.col("contamination") >= F.lit(threshold))
    )


def decontamination_report_multi(
    train: DataFrame,
    eval_sets: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Decontaminate against SEVERAL eval benchmarks in ONE training scan.

    A production pipeline checks leakage against every benchmark it
    reports on; running :func:`decontamination_report` per set costs one
    full pass over the training corpus each. Here the tagged distinct
    n-grams of all sets union into a single broadcast side, the corpus's
    n-grams are exploded once, and one groupBy yields a row per
    (document, eval_set): ``(id, eval_set, n_ngrams, n_contaminated,
    contamination, is_contaminated)`` — including zero rows for sets a
    document does not touch (the report is dense over sets, so downstream
    per-benchmark joins never lose documents).

    Scale shape: identical to the single-set path — eval rows never
    shuffle, training text reduces to exploded n-grams before the
    broadcast probe — with the S-fold scan cost collapsed to one.
    """
    if not eval_sets:
        raise ValueError("eval_sets must be non-empty")
    ng = F.explode(shingles_expr(text_col, k=ngram_size, unit="word")).alias("__ng")
    tagged = None
    for name, ev in eval_sets.items():
        t = (
            ev.select(ng)
            .distinct()
            .withColumn("__set", F.lit(name))
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    spark = train.sparkSession
    sets_df = spark.createDataFrame(
        [(n,) for n in eval_sets], ["__set"]
    )
    tr = _ensure_parallelism(train).select(F.col(id_col), ng)
    # per-doc distinct n-gram count (denominator, identical across sets)
    denom = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = (
        tr.join(F.broadcast(tagged), "__ng")
        .groupBy(id_col, "__set")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    dense = denom.crossJoin(F.broadcast(sets_df))
    return (
        dense.join(hits, [id_col, "__set"], "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated").cast("double") / F.col("n_ngrams"), 6),
        )
        .withColumn("is_contaminated", F.col("contamination") >= F.lit(threshold))
        .withColumnRenamed("__set", "eval_set")
    )


def bloom_positions_expr(
    ngram: Column | str, n_bits: int, n_hashes: int, seed: int = 1337
) -> Column:
    """Array of ``n_hashes`` Bloom bit positions for one n-gram string.

    Positions come from the same portable universal-hash family the MinHash
    path uses (``(a * h31(s) + b) mod p``, operators/hashing.py) reduced mod
    ``n_bits`` — bit-for-bit replayable in ANSI SQL, so the DuckDB oracle can
    reproduce the filter's exact contents including its false positives.
    """
    h = h31_expr(ngram)
    params = minhash_params(n_hashes, seed=seed)
    return F.array(
        *[perm_hash_expr(h, a, b) % F.lit(n_bits) for a, b in params]
    )


def build_ngram_bloom(
    eval_df: DataFrame,
    text_col: str = "text",
    ngram_size: int = 3,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 1337,
) -> DataFrame:
    """Distributed Bloom-filter build over a corpus's word n-grams.

    Returns a sparse bitmap as ``(__word, __bits)`` rows — bit position
    ``p`` lives in word ``p div 64`` at mask ``1 << (p mod 64)`` — built
    with one ``explode`` → ``bit_or`` aggregation. The output is bounded by
    ``n_bits / 64`` rows REGARDLESS of corpus size: this is what makes the
    Bloom path the 100 TB shape — a billion-n-gram contamination reference
    compresses to a broadcastable few-MB bitmap, where the exact
    distinct-n-gram set (:func:`decontamination_report`) would not fit.

    The bit_or aggregation partial-combines map-side, so the shuffle carries
    at most ``n_bits / 64`` rows per input partition.
    """
    ng = F.explode(
        shingles_expr(text_col, k=ngram_size, unit="word")
    ).alias("__ng")
    pos = F.explode(
        bloom_positions_expr("__ng", n_bits, n_hashes, seed)
    ).alias("__pos")
    return (
        eval_df.select(ng)
        .select(pos)
        .select(
            F.shiftright("__pos", 6).alias("__word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
                "__mask"
            ),
        )
        .groupBy("__word")
        .agg(F.bit_or("__mask").alias("__bits"))
    )


def decontamination_report_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_size: int = 3,
    threshold: float = 0.5,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 1337,
) -> DataFrame:
    """Bloom-filter decontamination: the scale path of
    :func:`decontamination_report`.

    Same output schema ``(id, n_ngrams, n_contaminated, contamination,
    is_contaminated)``, but membership of each training n-gram in the eval
    corpus is tested against a Bloom bitmap instead of the exact distinct
    n-gram set. One-sided error: contamination is OVERESTIMATED by the
    filter's false-positive rate (≈ ``(1 - e^{-kn/m})^k``), never missed —
    the safe direction for benchmark decontamination. Size the filter with
    ``n_bits ≈ 10×`` the distinct eval n-gram count for ≲1% FP.

    Execution shape at 100 TB:

    - the bitmap build (:func:`build_ngram_bloom`) is bounded at
      ``n_bits / 64`` rows however large the eval/reference corpus is;
    - the probe is ``n_hashes`` sequential **broadcast** joins on the
      bitmap word index, so the per-n-gram verdict is ROW-LOCAL (no
      per-(id, hash) regroup shuffle, and no merging of distinct n-grams
      that collide in the 31-bit hash — counts are n-gram-string exact,
      matching :func:`add_bloom_contamination` row for row); the only
      shuffle is the final per-document aggregation of (id, two ints);
    - contrast with the exact path, which must broadcast every distinct
      eval n-gram STRING.

    Determinism: probe positions reuse the portable hash family, so the
    DuckDB oracle replays the exact filter contents — false positives
    included — making this hash-verifiable, not just rows-checkable.
    """
    bloom = build_ngram_bloom(
        eval_df,
        text_col=text_col,
        ngram_size=ngram_size,
        n_bits=n_bits,
        n_hashes=n_hashes,
        seed=seed,
    )
    params = minhash_params(n_hashes, seed=seed)
    tr = _ensure_parallelism(train).select(
        F.col(id_col),
        F.explode(shingles_expr(text_col, k=ngram_size, unit="word")).alias("__ng"),
    )
    # Keep the n-gram as its 31-bit hash from here on — but the hit verdict
    # stays per-ROW (one row per distinct n-gram string of the doc), so two
    # strings colliding in h31 still count separately.
    probed = tr.select(id_col, h31_expr("__ng").alias("__h"))
    contam = F.lit(True)
    drop_cols = ["__h"]
    # one shared broadcast frame for all n_hashes lookups (see
    # _bloom_route): per-hash aliased selects would plan the bitmap
    # build once per hash
    for i, (a, b) in enumerate(params):
        p, w, m, bits = f"__p{i}", f"__w{i}", f"__m{i}", f"__b{i}"
        probed = (
            probed.withColumn(p, perm_hash_expr(F.col("__h"), a, b) % F.lit(n_bits))
            .withColumn(w, F.shiftright(F.col(p), 6))
            .withColumn(
                m,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))"),
            )
            .join(F.broadcast(bloom), F.col(w) == bloom["__word"], "left")
            .withColumnRenamed("__bits", bits)
            .drop("__word")
        )
        contam = contam & F.coalesce(
            F.col(bits).bitwiseAND(F.col(m)) == F.col(m), F.lit(False)
        )
        drop_cols += [p, w, m, bits]
    return (
        probed.withColumn("__contam", contam.cast("int"))
        .drop(*drop_cols)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum("__contam").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated").cast("double") / F.col("n_ngrams"), 6),
        )
        .withColumn("is_contaminated", F.col("contamination") >= F.lit(threshold))
    )


def bloom_filter_bytes(bloom: DataFrame, n_bits: int) -> bytes:
    """Materialize a :func:`build_ngram_bloom` bitmap as driver-side bytes.

    At most ``n_bits / 8`` bytes (e.g. 2 MB for 2^24 bits) regardless of the
    corpus that built it — small enough to ship to every task as a plain
    broadcast value for the map-only probe path.
    """
    n_words = (n_bits + 63) // 64
    words = np.zeros(n_words, dtype=np.uint64)
    for r in bloom.collect():
        words[r["__word"]] = np.uint64(r["__bits"] & 0xFFFFFFFFFFFFFFFF)
    return words.tobytes()


def add_bloom_contamination(
    df: DataFrame,
    bloom_bytes: bytes,
    text_col: str = "text",
    ngram_size: int = 3,
    threshold: float = 0.5,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 1337,
) -> DataFrame:
    """Map-only Bloom contamination scoring — the streaming/ingest variant.

    Appends the same ``(n_ngrams, n_contaminated, contamination,
    is_contaminated)`` columns as :func:`decontamination_report_bloom` but
    with ZERO shuffles: the n-gram set is computed JVM-side
    (:func:`shingles_expr`), then a single Arrow-batched pandas UDF hashes
    each n-gram with the identical md5 universal-hash family and tests the
    driver-materialized bitmap (:func:`bloom_filter_bytes`) with numpy bit
    ops. Identical output to the exploded path, row for row.

    Because every stage is row-local, this composes unchanged with
    Structured Streaming (stream in → scored stream out, append mode) and
    slots into ingest pipelines as one more pass. The exploded/broadcast-join
    path stays the batch hot path (no Python); this one trades an
    Arrow-batched Python stage for shuffle-freedom and stream-ability.
    ``mapInPandas`` (not a scalar UDF) keeps the heavy JVM shingle
    expression in its own projection below the Python stage — embedding a
    Python UDF and the shingle HOF chain in one projection can trip
    Spark's codegen fallback, which cannot interpret PythonUDF nodes.
    """
    from typing import Iterator

    from pyspark.sql.types import LongType, StructField, StructType

    params = minhash_params(n_hashes, seed=seed)
    n_words = (n_bits + 63) // 64
    if len(bloom_bytes) != n_words * 8:
        raise ValueError(
            f"bloom_bytes has {len(bloom_bytes)} bytes, expected {n_words * 8} "
            f"for n_bits={n_bits}"
        )

    ngs_col = "__sbs_ngs"
    staged = df.withColumn(ngs_col, shingles_expr(text_col, k=ngram_size, unit="word"))
    out_schema = StructType(
        [f for f in staged.schema.fields if f.name != ngs_col]
        + [StructField("n_ngrams", LongType()), StructField("n_contaminated", LongType())]
    )

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        words = np.frombuffer(bloom_bytes, dtype=np.uint64)
        for pdf in batches:
            shingle_lists = pdf.pop(ngs_col)
            n_out, c_out = [], []
            for ngs in shingle_lists:
                c = 0
                for ng in ngs:
                    # identical to h31_expr: md5 hex prefix → 60-bit → mod p
                    h = (
                        int(_hashlib.md5(ng.encode("utf-8")).hexdigest()[:15], 16)
                        % MERSENNE_P
                    )
                    hit = True
                    for a, b in params:
                        pos = ((a * h + b) % MERSENNE_P) % n_bits
                        if not (int(words[pos >> 6]) >> (pos & 63)) & 1:
                            hit = False
                            break
                    c += hit
                n_out.append(len(ngs))
                c_out.append(c)
            pdf["n_ngrams"] = n_out
            pdf["n_contaminated"] = c_out
            yield pdf

    return (
        staged.mapInPandas(_probe, out_schema)
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated").cast("double") / F.col("n_ngrams"), 6),
        )
        .withColumn("is_contaminated", F.col("contamination") >= F.lit(threshold))
    )


def resolve_duplicates(
    df: DataFrame,
    clusters: DataFrame,
    priority: list[str],
    id_col: str = "doc_id",
    source_col: str = "source",
    cluster_id_col: str = "cluster_id",
) -> DataFrame:
    """Keep one representative per duplicate cluster, by source preference.

    Min-id dedup treats every copy of a duplicated document as equal; real
    corpora are not — when the same article appears in a curated dump and a
    noisy crawl, the curated copy should win. ``priority`` lists sources in
    preference order (earlier wins); unlisted sources rank after all listed
    ones, and ties fall back to the minimum id, so the choice is total and
    deterministic.

    ``clusters`` is ``(id, cluster_id)`` — e.g. the near-dup components from
    :func:`~sat_bucket_spark.operators.graph.near_duplicate_clusters`.
    Documents in no cluster are singletons: their cluster id coalesces to
    their own id, so one window pass (shuffle keyed on cluster — clusters are
    tiny relative to the corpus, no skew concentration) ranks everything.
    The cluster table carries ids only; full rows move once.
    """
    rank = F.lit(len(priority))
    for i in reversed(range(len(priority))):
        rank = F.when(F.col(source_col) == F.lit(priority[i]), F.lit(i)).otherwise(rank)
    joined = df.join(
        clusters.select(
            F.col(id_col), F.col(cluster_id_col).alias("__cluster")
        ),
        id_col,
        "left",
    ).withColumn("__cluster", F.coalesce(F.col("__cluster"), F.col(id_col)))
    w = Window.partitionBy("__cluster").orderBy(rank.asc(), F.col(id_col).asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__cluster")
    )


def remove_repeated_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str | None = None,
    sep: str = "\n",
    max_occurrences: int = 1,
) -> DataFrame:
    """Corpus-level repeated-paragraph removal (C4/Dolma-style span dedup).

    A paragraph occurring in more than ``max_occurrences`` documents is
    boilerplate (nav text, license headers, SEO spam) and is removed from
    EVERY document; each document is rebuilt from its surviving paragraphs
    in original order (fully-emptied documents keep an empty string).

    Scale shape: paragraphs are reduced to 60-bit hashes *before* any
    shuffle — the occurrence count aggregates (hash, doc) pairs with
    map-side combine, and the boilerplate set (counts above the cap —
    small by construction: only genuinely repeated spans survive the
    filter) broadcasts back as a hash-only anti-join probe. The rebuild
    re-aggregates (doc, position, paragraph) — the one unavoidable
    shuffle, keyed on the document id, so it scales with corpus size and
    never concentrates. Dedup counts are per-document (a paragraph
    repeated inside ONE document counts once), matching the
    cross-document boilerplate semantics.
    """
    out = out or text_col
    pars = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__par"),
    )
    h = h64_expr(F.col("__par"))
    # per-document distinct: a span repeated within one doc is not boilerplate
    occurrences = (
        pars.select(h.alias("__h"), F.col(id_col))
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > F.lit(max_occurrences))
        .select("__h")
    )
    kept = pars.join(
        F.broadcast(occurrences), h == F.col("__h"), "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__par"))),
                lambda s: s["__par"],
            ),
            sep,
        ).alias("__rebuilt")
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(out, F.coalesce(F.col("__rebuilt"), F.lit("")))
        .drop("__rebuilt")
    )


# dedup unit -> (how a document splits into units, how survivors rejoin)
_UNIT_SEPS = {"token": " ", "line": "\n", "sentence": " "}


def _units_expr(text: Column | str, unit: str) -> Column:
    """A document as an array of dedup units (tokens, lines, or sentences)."""
    from sat_bucket_spark.operators.text import tokens_expr

    t = F.col(text) if isinstance(text, str) else text
    if unit == "token":
        return tokens_expr(t)
    if unit == "line":
        return F.filter(F.split(t, "\n"), lambda x: F.trim(x) != F.lit(""))
    if unit == "sentence":
        # terminal-punctuation lookbehind split (Java regex; the SQL oracle
        # cannot mirror this — RE2 lacks lookbehind — hence token-unit entry)
        return F.filter(
            F.split(F.trim(t), r"(?<=[.!?])\s+"), lambda x: x != F.lit("")
        )
    raise ValueError(f"unknown dedup unit {unit!r}; use one of {sorted(_UNIT_SEPS)}")


def unit_windows_expr(units: Column, k: int, joiner: str = " ") -> Column:
    """Overlapping ``k``-unit windows of an array, with 0-based positions.

    Returns ``array<struct<pos int, gram string>>`` — one entry per window
    start ``p`` in ``[0, n_units - k]``; arrays shorter than ``k`` yield an
    empty array. All JVM-side: the unit array is bound as a lambda variable
    (see ``shingles_expr`` for why) so upstream splits run once per row,
    not once per window.
    """
    struct_t = "array<struct<pos:int,gram:string>>"
    return F.transform(
        F.array(units),
        lambda ts: F.when(
            F.size(ts) >= F.lit(k),
            F.transform(
                F.sequence(F.lit(0), F.size(ts) - F.lit(k)),
                lambda p: F.struct(
                    p.alias("pos"),
                    F.array_join(
                        F.slice(ts, p + F.lit(1), F.lit(k)), joiner
                    ).alias("gram"),
                ),
            ),
        ).otherwise(F.from_json(F.lit("[]"), struct_t)),
    )[0]


def token_windows_expr(text: Column | str, k: int = 8) -> Column:
    """Overlapping ``k``-token windows of a document (raw-case whitespace
    tokens — substring dedup operates on the text as written)."""
    return unit_windows_expr(_units_expr(text, "token"), k)


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    hash_grams: bool = False,
    unit: str = "token",
) -> DataFrame:
    """Non-canonical occurrences of corpus-duplicated ``k``-token substrings.

    Exact substring deduplication at sub-paragraph granularity (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL 2022 —
    public): a run of ``k`` consecutive tokens whose exact text occurs
    ``min_count``-or-more times ANYWHERE in the corpus (across documents or
    repeated within one) is a duplicated span. Paragraph dedup
    (``remove_repeated_paragraphs``) only catches spans aligned to paragraph
    boundaries; this catches a copied passage embedded mid-document. The
    suffix-array machinery of the paper is replaced by overlapping fixed-width
    token windows — a duplicated substring of length >= ``k`` tokens is
    covered exactly by its duplicated ``k``-windows, so flagging windows
    recovers the duplicated region (quantized to ``k``-token resolution).

    Keep-first semantics: for each duplicated window text, the occurrence
    with the smallest ``(id, pos)`` is canonical and NOT flagged — removal
    built on this report keeps one copy of every passage. Requires an
    orderable (e.g. integer) ``id_col``.

    Returns ``(id, pos)`` — one row per flagged window occurrence.

    100 TB shape: occurrences explode to ``(id, pos, gram)`` rows; the
    per-gram count and canonical-occurrence min aggregate in ONE ``groupBy``
    whose partial (map-side) aggregation absorbs hot grams — a boilerplate
    sentence with 10^8 occurrences arrives at its reducer as one partial row
    per map task, not 10^8 rows. The flag join back to occurrences is the
    only other gram-keyed exchange; AQE skew-split handles residual hot keys,
    and only duplicated grams (count filter pushed below the join) flow
    through it. The source is scanned twice (once per side of the flag
    join) — the single-scan alternative, a window over the gram partition,
    concentrates every occurrence of a hot gram in one task, which is the
    wrong trade at corpus scale. ``hash_grams=True`` shuffles 60-bit gram
    hashes instead of k-token strings (roughly k-fold fewer exchange
    bytes); flag collisions are ~n^2/2^60 corpus-wide — the production
    posture, off by default so the oracle compares exact strings.

    ``unit`` picks the window granularity: ``"token"`` (substring dedup),
    ``"line"``, or ``"sentence"`` — ``unit="sentence", k=3`` is C4's
    "three-sentence span occurring more than once" rule.
    """
    joiner = "\x1f" if unit != "token" else " "
    gram = F.col("__w.gram")
    occ = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.explode(
                unit_windows_expr(_units_expr(text_col, unit), k, joiner)
            ).alias("__w"),
        )
        .select(
            id_col,
            F.col("__w.pos").alias("__pos"),
            (h64_expr(gram) if hash_grams else gram).alias("__gram"),
        )
    )
    dup = (
        occ.groupBy("__gram")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first"),
        )
        .where(F.col("__cnt") >= F.lit(min_count))
        .select("__gram", "__first")
    )
    return (
        occ.join(dup, "__gram")
        .where(
            ~(
                (F.col(id_col) == F.col(f"__first.{id_col}"))
                & (F.col("__pos") == F.col("__first.__pos"))
            )
        )
        .select(id_col, F.col("__pos").alias("pos"))
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    out: str | None = None,
    removed_count_col: str | None = None,
    hash_grams: bool = False,
    unit: str = "token",
) -> DataFrame:
    """Rebuild documents with corpus-duplicated spans removed.

    Every unit (token by default; line or sentence via ``unit``) covered by
    a flagged window from :func:`duplicate_spans` (keep-first semantics —
    the canonical occurrence survives) is dropped; the document is rebuilt
    from the surviving units in order, joined by the unit separator
    (space / newline / space — whitespace between surviving units is
    normalized: span dedup operates on the unit stream). Documents with
    NOTHING to remove keep their ORIGINAL text byte-for-byte — only
    touched documents are rebuilt. Overlapping flagged windows merge
    naturally via the removed-position set. Fully-emptied documents keep an
    empty string. ``removed_count_col`` optionally records how many units
    were dropped per document. ``unit="sentence", k=3, min_count=2`` is
    C4's three-sentence-span rule as a removal.

    Scale: flagged spans aggregate to one ``array<int>`` per affected
    document (keyed on the id — scales with corpus, never concentrates), and
    the rebuild is row-local: positions expand with ``sequence``/``flatten``
    and tokens filter by an index-lambda membership test
    (O(tokens x removed) per row, both bounded by document length).
    """
    out = out or text_col
    spans = (
        duplicate_spans(
            df,
            id_col=id_col,
            text_col=text_col,
            k=k,
            min_count=min_count,
            hash_grams=hash_grams,
            unit=unit,
        )
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__spans"))
    )
    removed = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(F.col("__spans"), lambda p: F.sequence(p, p + F.lit(k - 1)))
            )
        ),
        F.from_json(F.lit("[]"), "array<int>"),
    )
    joined = (
        df.join(spans, id_col, "left")
        .withColumn("__removed", removed)
        .withColumn("__toks", _units_expr(text_col, unit))
        .drop("__spans")
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.array_contains(F.col("__removed"), i.cast("int")),
    )
    result = joined.withColumn("__kept", kept).withColumn(
        out,
        F.when(
            F.size("__removed") > 0,
            F.array_join(F.col("__kept"), _UNIT_SEPS[unit]),
        ).otherwise(F.col(text_col)),
    )
    if removed_count_col is not None:
        result = result.withColumn(
            removed_count_col, F.size("__removed").cast("long")
        )
    return result.drop("__removed", "__toks", "__kept")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 2,
    max_len: int = 256,
    collapse: "str | bool" = "auto",
    collapse_threshold: float = 0.15,
    dup_fraction_prior: "float | None" = None,
) -> DataFrame:
    """Typo-level near-duplicate pairs: edit distance <= ``max_distance``
    via PassJoin-style partition signatures + exact Levenshtein verify.

    MinHash/SimHash see token/feature overlap; they miss the "same string,
    three keystrokes apart" duplicates (OCR noise, mirrored pages with
    byte-level mangling). The string-similarity-join answer (Li, Deng &
    Feng, "PassJoin", PVLDB 5(3), 2011 — public) uses the pigeonhole over
    edit operations: split a string into ``d+1`` chunks and at most ``d``
    edits can damage at most ``d`` of them, so two strings within distance
    ``d`` share at least one chunk verbatim — at the same chunk index, at a
    position shifted by at most ``d``, between strings whose lengths differ
    by at most ``d``.

    Like :func:`near_dup_pairs_by_signature`, the pairs split into two
    disjoint classes, both computed over DISTINCT normalized keys (the r8
    sf1 probe caught the row-level version at ~170x for 10x data on a
    duplicate-heavy corpus — every 10-copy cluster paid a 10x10 candidate
    join and 45 Levenshtein verifies for pairs that are distance 0 by
    construction):

    - WITHIN a key (identical normalized text, distance 0 — the bulk of
      a crawl's near-dup mass): a direct equi-self-join on the md5 key
      id. No chunking, no candidate distinct, no verify.
    - ACROSS keys: the PassJoin pipeline over the DISTINCT-key table —
      1. normalize: ``lower(trim(text))`` capped at ``max_len`` chars;
      2. index side: each distinct key emits its ``d+1`` even-partition
         chunks as ``(len, chunk_idx, chunk)`` rows;
      3. probe side: each distinct key emits, for every candidate indexed
         length ``la`` in ``[len-d, len]``, chunk index, and shift in
         ``[-d, d]``, the same-length substring at the shifted position —
         a constant ``(d+1)^2 (2d+1)``-ish fan-out (45 rows at d=2);
      4. candidates: equi-join on ``(la, chunk_idx, chunk)`` — shorter
         side indexed, equal lengths tie-broken by key id — DISTINCT;
      5. verify: ``levenshtein(key_a, key_b) <= d`` exactly, once per
         DISTINCT key pair;
      6. expand the surviving key pairs back to id pairs by two hash
         joins on the md5 key id.

    100 TB design: chunking, candidate join, DISTINCT, and verification
    are all bounded by DISTINCT-key cardinality, not row count; the only
    row-count-sized work is the md5 projection, the within equi-join,
    and the final expansion (whose size is the output's own pair
    semantics). Key ids are md5 (128-bit) so collisions are not a
    realistic failure mode at any corpus size. Chunks shorter than
    ~``log_sigma(n)`` chars go hot — keep ``max_len`` well above
    ``(d+1) *`` a few chars and rely on AQE skew splitting.

    Routing mirrors :func:`minhash_lsh_dedup_pairs`: ``collapse=True``
    forces the distinct-key engine above, ``collapse=False`` runs
    PassJoin directly over rows (cheaper on mostly-unique corpora, where
    the distinct/expansion joins are pure overhead), and ``'auto'``
    (default) measures the duplicate fraction with one aggregate and
    picks at ``collapse_threshold``. Output is identical either way.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``. PRECONDITION:
    ``id_col`` unique (one row per document), as everywhere in this
    module's pair engines.

    Reference scope: beyond sat-bucket (no string-similarity join there);
    candidate recall is exact per the pigeonhole argument above (shifts
    cover insertions/deletions), verification is exact.
    """
    from sat_bucket_spark.caching import stage_cache

    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    d = int(max_distance)
    n_chunks = d + 1

    key = F.substring(F.lower(F.trim(F.col(text_col))), 1, max_len)
    if collapse == "auto":
        # raw text as the proxy for the normalized key: byte-identical
        # rows are key-identical, which is the duplication this routes on
        dup_frac = (
            dup_fraction_prior
            if dup_fraction_prior is not None
            else measured_duplicate_fraction(df, text_col)
        )
        collapse = dup_frac >= collapse_threshold
    if collapse:
        ids = stage_cache(
            df.select(F.col(id_col).alias("__id"), key.alias("__key"))
            .where(F.length("__key") > 0)
            .select("__id", F.md5("__key").alias("__kid"))
        )
        within = (
            ids.select(F.col("__id").alias("id_a"), "__kid")
            .join(ids.select(F.col("__id").alias("id_b"), "__kid"), "__kid")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.lit(0).cast("long").alias("dist"))
        )
        base = stage_cache(
            df.select(key.alias("__key"))
            .where(F.length("__key") > 0)
            .distinct()
            .select(
                F.md5("__key").alias("__id"),  # key id stands in for the row id
                "__key",
                F.length("__key").alias("__len"),
            )
        )
    else:
        # mostly-unique corpus: PassJoin directly over rows — the
        # collapse engine's distinct/expansion joins would be overhead
        base = df.select(
            F.col(id_col).alias("__id"),
            key.alias("__key"),
            F.length(key).alias("__len"),
        ).where(F.col("__len") > 0)

    # Even partition of a length-L string into d+1 chunks:
    #   floor = L div (d+1), rem = L mod (d+1)
    #   len_i = floor + (i < rem), start_i(0-based) = i*floor + min(i, rem)
    def _chunk_len(length: Column, idx: Column) -> Column:
        return (length / n_chunks).cast("long") + F.when(
            idx < length % n_chunks, F.lit(1)
        ).otherwise(F.lit(0))

    def _chunk_start(length: Column, idx: Column) -> Column:
        return idx * (length / n_chunks).cast("long") + F.least(
            idx, length % n_chunks
        )

    idx_seq = F.explode(F.sequence(F.lit(0), F.lit(d))).alias("__idx")
    indexed = base.select(
        F.col("__id").alias("__id_a"), F.col("__key"), F.col("__len"), idx_seq
    ).select(
        "__id_a",
        F.col("__len").alias("__la"),
        "__idx",
        F.substring(
            F.col("__key"),
            (_chunk_start(F.col("__len"), F.col("__idx")) + 1).cast("int"),
            _chunk_len(F.col("__len"), F.col("__idx")).cast("int"),
        ).alias("__part"),
    )

    probe = (
        base.select(
            F.col("__id").alias("__id_b"),
            F.col("__key"),
            F.col("__len").alias("__lb"),
            F.explode(
                F.sequence(F.greatest(F.col("__len") - d, F.lit(1)), F.col("__len"))
            ).alias("__la"),
        )
        .select(
            "__id_b",
            "__key",
            "__lb",
            "__la",
            F.explode(F.sequence(F.lit(0), F.lit(d))).alias("__idx"),
        )
        .select(
            "__id_b",
            "__key",
            "__lb",
            "__la",
            "__idx",
            F.explode(F.sequence(F.lit(-d), F.lit(d))).alias("__s"),
        )
        .withColumn(
            "__pos", _chunk_start(F.col("__la"), F.col("__idx")) + F.col("__s") + 1
        )
        .where(F.col("__pos") >= 1)
        .select(
            "__id_b",
            "__lb",
            "__la",
            "__idx",
            F.substring(
                F.col("__key"),
                F.col("__pos").cast("int"),
                _chunk_len(F.col("__la"), F.col("__idx")).cast("int"),
            ).alias("__part"),
        )
    )

    cand = (
        indexed.join(probe, ["__la", "__idx", "__part"])
        # shorter side indexed; equal lengths appear in both directions and
        # self-pairs only there — keep one canonical direction.
        .where(~((F.col("__la") == F.col("__lb")) & (F.col("__id_a") >= F.col("__id_b"))))
        .select(
            F.least("__id_a", "__id_b").alias("id_a"),
            F.greatest("__id_a", "__id_b").alias("id_b"),
        )
        .distinct()
    )

    keys = base.select("__id", "__key")
    verified = (
        cand.join(keys.withColumnRenamed("__id", "id_a"), "id_a")
        .withColumnRenamed("__key", "__key_a")
        .join(keys.withColumnRenamed("__id", "id_b"), "id_b")
        .withColumnRenamed("__key", "__key_b")
        .withColumn("dist", F.levenshtein("__key_a", "__key_b").cast("long"))
        .where(F.col("dist") <= d)
        .select("id_a", "id_b", "dist")
    )
    if not collapse:
        return verified
    # expand the surviving DISTINCT-key pairs to row-id pairs; each row has
    # exactly one key, so no further dedup is needed, and the two classes
    # are disjoint (within: same key; across: different keys)
    across = (
        verified.join(
            ids.select(F.col("__id").alias("__ia"), F.col("__kid").alias("id_a")),
            "id_a",
        )
        .join(
            ids.select(F.col("__id").alias("__ib"), F.col("__kid").alias("id_b")),
            "id_b",
        )
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "dist",
        )
    )
    return within.unionByName(across)


def keep_first_by_signature(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    n_bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Keep-first verdicts over any integer bit-signature column — the
    shared engine behind :func:`simhash_dedup` and
    ``imagehash.image_dedup``.

    The pair list (:func:`simhash_near_dup_pairs` shape) is quadratic in
    duplicate-cluster size; the keep-first verdict never needs pairs:

    1. identical signatures collapse to (representative = min id, count)
       — the ONLY row-count-sized shuffle;
    2. the exact banded neighbor search (pigeonhole: ``n_bands >
       max_hamming``) runs over DISTINCT signatures only, both hash and
       representative riding the band explode (verify inline, no rejoin);
    3. verdicts expand back to rows by a signature equi-join.

    A row is ``kept`` iff no row with a smaller id is within
    ``max_hamming`` bits — because "exists a smaller-id row with
    signature s'" is exactly "min_id(s') < id", the verdict is computable
    on the collapsed table. Returns ``(id, sig, n_copies, kept)``; NULL
    signatures must be filtered by the caller.

    Expansion-join shape (r17, guide §3.1): the collapsed table is a
    measured stage cache (caching.measured_stage), and while it fits the
    broadcast threshold both the groups and the neighbor-verdict frames
    are broadcast into the step-3 expansion joins — the row-count-sized
    ``sigs`` side is never shuffle-planned for them (measured: without the hint the expansion executed as a
    SortMergeJoin re-exchanging the full sigs frame, because the caches'
    ``LogicalRDD`` drops the groupBy's partitioning and AQE did not
    demote the join at runtime). Above the bound — distinct-signature
    cardinality approaching row count — the shuffled shape is unchanged.
    Both postures are output-identical. The groups materialization this
    measurement rides is eager, so jobs fire at call time (the
    probe-operator convention); long-running callers free the caches with
    ``caching.stage_scope()``.
    """
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands ({n_bands}) must exceed max_hamming ({max_hamming}) "
            "for the banding recall guarantee"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bits ({n_bits}) must be divisible by n_bands ({n_bands})")
    width = n_bits // n_bands
    mask = (1 << width) - 1

    sigs = stage_cache(sigs.select(id_col, sig_col))
    groups, group_metrics = measured_stage(
        sigs.groupBy(sig_col).agg(
            F.min(id_col).alias("__rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    bands = groups.select(
        sig_col,
        "__rep_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            F.shiftright(F.col(sig_col), b * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(sig_col, "__rep_id", "band.band_idx", "band.band_bits")
    a = bands.select("band_idx", "band_bits", sig_col)
    b = bands.select(
        "band_idx", "band_bits",
        F.col(sig_col).alias("__nbr_sig"), F.col("__rep_id").alias("__nbr_rep"),
    )
    neighbors = (
        a.join(b, on=["band_idx", "band_bits"])
        .where(F.col(sig_col) != F.col("__nbr_sig"))
        .where(
            F.bit_count(F.col(sig_col).bitwiseXOR(F.col("__nbr_sig")))
            <= F.lit(max_hamming)
        )
        .groupBy(sig_col)
        .agg(F.min("__nbr_rep").alias("__min_nbr_rep"))
    )
    # neighbors is bounded by the collapsed table (one narrower row per
    # distinct signature that HAS a neighbor), so the same gate covers it
    return (
        sigs.join(broadcast_if_fits(groups, group_metrics), sig_col)
        .join(broadcast_if_fits(neighbors, group_metrics), sig_col, "left")
        .select(
            id_col,
            sig_col,
            "n_copies",
            (
                (F.col(id_col) == F.col("__rep_id"))
                & (
                    F.col("__min_nbr_rep").isNull()
                    | (F.col("__min_nbr_rep") > F.col(id_col))
                )
            ).alias("kept"),
        )
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 24,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Keep-first SimHash dedup: one survivor per near-duplicate set.

    The scale-safe counterpart of :func:`simhash_near_dup_pairs` (whose
    pair list is quadratic in cluster size — boilerplate repeated 10^6
    times means ~5x10^11 pairs); see :func:`keep_first_by_signature` for
    the collapse argument. Keep-min-id semantics; returns
    ``(id, simhash, n_copies, kept)``.
    """
    sigs = add_simhash(df, text_col=text_col, n_bits=n_bits).select(
        id_col, "simhash"
    )
    return keep_first_by_signature(
        sigs, id_col=id_col, sig_col="simhash",
        n_bits=n_bits, max_hamming=max_hamming, n_bands=n_bands,
    )


def near_dup_pairs_by_signature(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    n_bits: int = 64,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """All id pairs within ``max_hamming`` signature bits — EXACT, over
    DISTINCT signatures. The shared engine behind
    :func:`simhash_near_dup_pairs` and ``imagehash.image_near_dup_pairs``.

    Two disjoint pair classes, both cheaper than a row-level band join:

    - WITHIN a signature (hamming 0, the bulk of a duplicate-heavy
      corpus): a direct equi-self-join on the signature — each pair
      emitted once, no banding, no candidate distinct, no verify rejoins
      (a row-level band join emits these through ALL ``n_bands`` bands
      and pays an ``n_bands``-fold distinct to undo it); AQE skew-split
      spreads hot signatures.
    - ACROSS signatures: the pigeonhole band join (``n_bands >
      max_hamming`` keeps recall exact) over the DISTINCT-signature
      table — bounded by signature cardinality, not row count — with
      the signature riding the explode (verify inline); surviving
      signature pairs expand to id pairs by two hash joins.

    The OUTPUT stays quadratic in cluster size (all-pairs semantics);
    :func:`keep_first_by_signature` is the posture that avoids it.
    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``; NULL
    signatures must be filtered by the caller.

    PRECONDITION: ``id_col`` must be unique in ``sigs`` (like the NULL
    rule above, enforced by the caller — every in-package caller derives
    one signature per document). A duplicated ``(id, sig)`` row would make
    the within-signature self-join emit the same pair multiple times; a
    candidate-level ``.distinct()`` here would re-introduce the exact
    pair-count-sized shuffle this engine exists to avoid, so the contract
    lives with the id, where uniqueness is a row-count-bounded property.
    """
    from sat_bucket_spark.caching import stage_cache

    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands ({n_bands}) must exceed max_hamming ({max_hamming}) "
            "for the banding recall guarantee"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bits ({n_bits}) must be divisible by n_bands ({n_bands})")
    width = n_bits // n_bands
    mask = (1 << width) - 1

    sigs = stage_cache(sigs.select(id_col, sig_col))
    wa = sigs.select(F.col(id_col).alias("id_a"), sig_col)
    wb = sigs.select(F.col(id_col).alias("id_b"), sig_col)
    within = (
        wa.join(wb, sig_col)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    )

    distinct_sigs = stage_cache(sigs.select(sig_col).distinct())
    bands = distinct_sigs.select(
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            F.shiftright(F.col(sig_col), b * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(sig_col, "band.band_idx", "band.band_bits")
    ba = bands.select("band_idx", "band_bits", F.col(sig_col).alias("__ha"))
    bb = bands.select("band_idx", "band_bits", F.col(sig_col).alias("__hb"))
    sig_pairs = (
        ba.join(bb, on=["band_idx", "band_bits"])
        .where(F.col("__ha") < F.col("__hb"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("__ha", "__hb", "hamming")
        .distinct()  # multi-band collisions of the same signature pair
    )
    ea = sigs.select(F.col(id_col).alias("__ida"), F.col(sig_col).alias("__ha"))
    eb = sigs.select(F.col(id_col).alias("__idb"), F.col(sig_col).alias("__hb"))
    across = (
        sig_pairs.join(ea, "__ha")
        .join(eb, "__hb")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(across)
