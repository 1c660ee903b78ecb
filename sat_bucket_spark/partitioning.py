"""Spatial partitioning as Spark Column-expression compilers.

This module re-expresses the reference engine's spatial partitioning classes
(reference: satbucket/partitioning.py — Base2DPartitioning :366, XYPartitioning
:825, LonLatPartitioning :1089, TilePartitioning :960) as lightweight driver-side
config objects whose query methods *compile to Spark Column expressions*.

Design notes (Spark-first, 100 TB scale):

- The reference materializes bounds/centroid/label numpy arrays and runs
  vectorized kernels per backend (partitioning.py:237-250, dataframe.py:37-58).
  In Spark, the binning math becomes closed-form Column expressions
  (``ceil((v - vmin)/size) - 1`` with edge corrections) that run inside
  whole-stage codegen on executors — no data structure is shipped, bounds are
  folded into the plan as literals.
- Partition *labels* are the physical partition columns of the bucket table, so
  an extent query compiles to an ``isin(labels)`` predicate on partition columns
  and Catalyst performs hive partition pruning — the Spark-native equivalent of
  the reference's directory enumeration (partitioning.py:599-635).
- Bin semantics are right-closed ``(lo, hi]`` with include_lowest, so
  ``x == vmin`` falls in bin 0 and ``x == vmax`` in the last bin
  (reference: partitioning.py:237-250; pinned by tests/test_partitioning.py:74-132
  in the reference suite). The last bin may be narrower than ``size`` because
  bounds are built with ``np.arange(vmin, vmax, size)`` + appended ``vmax``
  (reference: partitioning.py:291-296).
"""

from __future__ import annotations

import itertools
import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from sat_bucket_spark.checks import check_extent, check_size

__all__ = [
    "Base2DPartitioning",
    "LonLatPartitioning",
    "TilePartitioning",
    "XYPartitioning",
    "get_bounds",
    "get_centroids_from_bounds",
    "get_n_decimals",
    "get_partitioning_class",
    "zorder_index_expr",
]


# ---------------------------------------------------------------------------
# Driver-side binning math (tiny arrays; mirrors reference semantics exactly)
# ---------------------------------------------------------------------------


def get_n_decimals(number: float) -> int:
    """Number of decimal digits of ``number`` (reference: partitioning.py:279-288)."""
    s = str(number)
    i = s.find(".")
    return 0 if i == -1 else len(s) - i - 1


def get_bounds(size: float, vmin: float, vmax: float) -> np.ndarray:
    """Partition edges: ``np.arange`` + appended vmax (reference: partitioning.py:291-296)."""
    bounds = np.arange(vmin, vmax, size)
    if bounds[-1] != vmax:
        bounds = np.append(bounds, np.array([vmax]))
    return bounds


def get_centroids_from_bounds(bounds: np.ndarray) -> np.ndarray:
    """Bin centroids ``(bounds[:-1] + bounds[1:]) / 2`` (reference: partitioning.py:231-234)."""
    return (bounds[:-1] + bounds[1:]) / 2.0


def _np_labels(centroids: np.ndarray, indices: np.ndarray, decimals: int) -> np.ndarray:
    """Driver-side label strings for given bin indices (reference: partitioning.py:886-910)."""
    values = np.round(centroids[indices], decimals)
    if decimals == 0:
        values = values.astype(int)
    return values.astype(str)


# ---------------------------------------------------------------------------
# Column-expression kernels (executor side, whole-stage-codegen friendly)
# ---------------------------------------------------------------------------


# Embed true np.arange edges as a literal array (for ulp-edge correction) up
# to this many bins per axis; covers 0.02-degree global grids (18000 bins).
# Beyond it, values lying bit-exactly on a drifted edge may shift one bin —
# a <1e-13-relative sliver, documented deviation.
_MAX_EDGE_CORRECTION_BINS = 20_000


def needs_edge_correction(bounds: np.ndarray, vmin: float, size: float, n_bins: int) -> bool:
    """True when the closed-form ceil index misplaces any actual bin edge.

    NOTE: a False result is NOT sufficient to skip the correction — the edges
    mapping correctly does not cover values within one ulp of an edge
    (catastrophic cancellation in ``(v - vmin)/size`` can collapse
    ``edge + tiny`` onto the edge itself; hypothesis counterexample:
    extent [-1, 1], size 1, v = 1.4e-45 must bin right of edge 0 but the
    quotient rounds to exactly 1.0). Kept for diagnostics; the hot path now
    always applies the O(1) correction when bounds are embeddable.
    """
    idx = np.ceil((bounds - vmin) / size) - 1
    idx = np.clip(idx, 0, n_bins - 1).astype(int)
    expected = np.clip(np.arange(len(bounds)) - 1, 0, n_bins - 1)
    return not np.array_equal(idx, expected)


def bin_index_expr(
    col: Column,
    vmin: float,
    vmax: float,
    size: float,
    n_bins: int,
    bounds: "np.ndarray | None" = None,
) -> Column:
    """Compile the 1-D bin index to a Column expression.

    Right-closed ``(lo, hi]`` + include_lowest semantics of the reference's
    ``query_indices`` (reference: partitioning.py:237-250, dataframe.py:37-58):
    null / NaN / out-of-extent values map to null. Stays entirely inside
    whole-stage codegen — no UDF.

    Edge-drift correction: the reference's edges come from ``np.arange``
    (partitioning.py:291-296), which deviates from the ideal ``vmin + i*size``
    by ulps, so the closed-form ``ceil`` can misplace values lying *exactly on*
    a drifted edge. When ``bounds`` is given (and small enough to embed as a
    literal array), a one-step O(1) correction against the true edges restores
    bit-exact ``pd.cut`` parity; the drift is < 1 bin so one step suffices.
    """
    v = col.cast("double")
    valid = v.isNotNull() & ~F.isnan(v) & (v >= F.lit(vmin)) & (v <= F.lit(vmax))
    raw = F.ceil((v - F.lit(vmin)) / F.lit(size)) - F.lit(1)
    idx = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    # The correction is ALWAYS needed when bounds are known: even with
    # bit-exact edges, a value within one ulp above an edge collapses onto it
    # in (v - vmin)/size (catastrophic cancellation) and would bin LEFT of a
    # right-closed edge. When the arange edges equal the ideal vmin + i*size
    # (exact-multiple grids), the true edge is recomputed in-expression — two
    # fused multiply-adds, no literal arrays; drifted grids embed the true
    # edges as a literal array (bounded by _MAX_EDGE_CORRECTION_BINS).
    arr_bounds = np.asarray(bounds, dtype=float) if bounds is not None else None
    if arr_bounds is not None:
        ideal = vmin + np.arange(len(arr_bounds)) * size
        exact_edges = np.array_equal(arr_bounds[:-1], ideal[:-1])
        if exact_edges:
            b_lo = F.lit(vmin) + idx.cast("double") * F.lit(size)
            b_hi = F.lit(vmin) + (idx + F.lit(1)).cast("double") * F.lit(size)
        elif len(arr_bounds) <= _MAX_EDGE_CORRECTION_BINS + 1:
            arr = F.array(*[F.lit(float(b)) for b in arr_bounds])
            b_lo = F.element_at(arr, (idx + F.lit(1)).cast("int"))
            b_hi = F.element_at(arr, (idx + F.lit(2)).cast("int"))
        else:
            b_lo = b_hi = None
        if b_lo is not None:
            idx = (
                F.when((idx > 0) & (v <= b_lo), idx - 1)
                .when((idx < n_bins - 1) & (v > b_hi), idx + 1)
                .otherwise(idx)
            )
    return F.when(valid, idx).otherwise(F.lit(None).cast("long"))


def centroid_expr(idx: Column, vmin: float, vmax: float, size: float, n_bins: int) -> Column:
    """Bin index -> centroid coordinate (reference: partitioning.py:447-462).

    The last bin may be partial (bounds built by np.arange + appended vmax),
    so its centroid is ``(vmin + (n-1)*size + vmax) / 2``.
    """
    regular = F.lit(vmin) + (idx.cast("double") + F.lit(0.5)) * F.lit(size)
    last = F.lit((vmin + (n_bins - 1) * size + vmax) / 2.0)
    return F.when(idx.isNull(), F.lit(None).cast("double")).when(
        idx == F.lit(n_bins - 1),
        last,
    ).otherwise(regular)


def fast_label_path_ok(labels: np.ndarray) -> bool:
    """True when a plain double->string cast reproduces every label exactly.

    For label-magnitude decimals (|v| in [1e-3, 1e7) or 0), JVM, DuckDB and
    Python all print the same shortest round-trip repr, so the 4-regex
    formatting pipeline can be skipped in the per-row hot path. This is the
    driver-side (Python repr) precheck; the executed path is a JVM
    double->string cast, which :func:`jvm_fast_label_ok` verifies against the
    running JVM (pre-JDK19 ``Double.toString`` can emit non-shortest digits —
    a silent mismatch would desync written labels from driver-side pruning
    labels and make extent reads drop partitions).
    """
    for lab in labels:
        try:
            v = float(lab)
        except ValueError:
            return False
        if not (v == 0.0 or 1e-3 <= abs(v) < 1e7):
            return False
        if repr(v) != lab:
            return False
    return True


# Verdict cache per distinct (label grid, decimals) per process.
_JVM_FAST_LABEL_CACHE: dict[tuple, bool] = {}


def _jvm_format_labels(spark, centroids: np.ndarray, decimals: int) -> list[str]:
    """Format centroids exactly as the executed fast path does, in the running
    JVM, without launching a job.

    The fast path is ``round(c, decimals).cast("string")``: Spark's Round is
    ``BigDecimal.valueOf(x).setScale(d, HALF_UP)`` and the double->string cast
    prints ``java.lang.Double.toString``. The JVM-specific step —
    ``Double.toString``, which pre-JDK19 can emit non-shortest digits — is
    invoked directly over py4j against the running JVM; the BigDecimal
    rounding is replicated with Python's exact decimal arithmetic
    (``BigDecimal.valueOf`` parses ``Double.toString(x)``, so seeding
    ``Decimal`` from that same string is bit-identical).
    """
    from decimal import ROUND_HALF_UP, Decimal

    to_string = spark.sparkContext._jvm.java.lang.Double.toString
    quantum = Decimal(1).scaleb(-decimals)
    out = []
    for c in np.asarray(centroids, dtype=float):
        rounded = Decimal(to_string(float(c))).quantize(quantum, rounding=ROUND_HALF_UP)
        out.append(to_string(float(rounded)))
    return out


def _jvm_format_labels_job(spark, centroids: np.ndarray, decimals: int) -> list[str]:
    """Job-based equivalent of :func:`_jvm_format_labels` (fallback + test
    cross-check): evaluates the actual Column expression on one row per
    centroid."""
    import pandas as pd

    pdf = pd.DataFrame({"c": np.asarray(centroids, dtype=float)})
    return [
        r[0]
        for r in spark.createDataFrame(pdf)
        .select(F.round(F.col("c"), decimals).cast("string"))
        .collect()
    ]


def jvm_fast_label_ok(labels: np.ndarray, centroids: np.ndarray, decimals: int) -> bool:
    """Authoritative fast-path check against the running JVM's formatting.

    Returns False (exact formatting path) when no session is active or any
    label differs; the verdict is cached per grid. Uses direct py4j calls into
    the JVM's BigDecimal/Double.toString (no Spark job); falls back to a
    one-row-per-centroid job if the gateway calls fail.
    """
    key = (decimals, tuple(str(lab) for lab in labels))
    if key in _JVM_FAST_LABEL_CACHE:
        return _JVM_FAST_LABEL_CACHE[key]
    spark = SparkSession.getActiveSession()
    if spark is None:
        return False  # cannot verify this JVM — do not cache, use exact path
    try:
        got = _jvm_format_labels(spark, centroids, decimals)
    except Exception:
        got = _jvm_format_labels_job(spark, centroids, decimals)
    ok = got == [str(lab) for lab in labels]
    _JVM_FAST_LABEL_CACHE[key] = ok
    return ok


def format_label_expr(centroid: Column, decimals: int) -> Column:
    """Format a centroid double into the reference's label string.

    Mirrors Python ``str(np.round(centroid, decimals))`` with int cast at 0
    decimals (reference: partitioning.py:886-910): ``"5.0"``, ``"-0.25"``,
    ``"0.125"``, ``"1"``. Implemented with a decimal cast + trailing-zero strip
    so the output matches Python float repr for label-magnitude values.
    """
    if decimals == 0:
        return F.when(
            centroid.isNotNull(),
            F.round(centroid, 0).cast("long").cast("string"),
        )
    s = F.round(centroid, decimals).cast(DecimalType(38, decimals)).cast("string")
    s = F.regexp_replace(s, r"(\.\d*?)0+$", r"$1")
    s = F.regexp_replace(s, r"\.$", r".0")
    return F.when(centroid.isNotNull(), s)


def tile_label_expr(idx: Column, justify: bool, width: int) -> Column:
    """Tile index -> string label with optional zero-justify (reference: partitioning.py:303-324)."""
    s = idx.cast("string")
    if justify:
        s = F.lpad(s, width, "0")
    return F.when(idx.isNotNull(), s)


# ---------------------------------------------------------------------------
# Partitioning classes
# ---------------------------------------------------------------------------


class Base2DPartitioning:
    """2-D rectangular binning of an extent (reference: partitioning.py:366-823).

    Subclasses provide the label compilation. All state is a handful of floats —
    it lives on the driver and folds into Column expressions as literals.

    Parameters mirror the reference: ``levels`` (partition column names),
    ``flavor`` ("hive" -> ``name=label`` directories, None/"directory" -> bare
    label directories; reference: partitioning.py:253-257), ``order`` (on-disk
    partition order, may differ from levels; reference: partitioning.py:195-198).
    """

    def __init__(self, size, extent, levels, order=None, flavor=None):
        self.extent = check_extent(extent)
        self.size = check_size(size)
        self.levels = list(levels)
        if order is None:
            order = list(self.levels)
        if set(order) != set(self.levels):
            raise ValueError(f"order {order} must be a permutation of levels {self.levels}")
        self.order = list(order)
        if flavor not in (None, "hive", "directory"):
            raise ValueError(f"invalid flavor {flavor!r}")
        self.flavor = flavor
        # Bounds / centroids (tiny driver-side arrays; reference: partitioning.py:395-398)
        self.x_bounds = get_bounds(self.size[0], self.extent.xmin, self.extent.xmax)
        self.y_bounds = get_bounds(self.size[1], self.extent.ymin, self.extent.ymax)
        self.x_centroids = get_centroids_from_bounds(self.x_bounds)
        self.y_centroids = get_centroids_from_bounds(self.y_bounds)

    # -- shape ---------------------------------------------------------------
    @property
    def n_x(self) -> int:
        """Number of x bins (reference: partitioning.py:411-415)."""
        return len(self.x_bounds) - 1

    @property
    def n_y(self) -> int:
        """Number of y bins."""
        return len(self.y_bounds) - 1

    @property
    def shape(self) -> tuple[int, int]:
        """(n_y, n_x) grid shape."""
        return (self.n_y, self.n_x)

    @property
    def n_partitions(self) -> int:
        """Total number of partitions."""
        return self.n_x * self.n_y

    @property
    def n_levels(self) -> int:
        """Number of partition levels."""
        return len(self.levels)

    # -- index / centroid expressions ---------------------------------------
    def x_index_expr(self, x: Column | str) -> Column:
        """x bin index Column (reference: partitioning.py:423-428)."""
        x = F.col(x) if isinstance(x, str) else x
        return bin_index_expr(
            x, self.extent.xmin, self.extent.xmax, self.size[0], self.n_x,
            bounds=self.x_bounds,
        )

    def y_index_expr(self, y: Column | str) -> Column:
        """y bin index Column."""
        y = F.col(y) if isinstance(y, str) else y
        return bin_index_expr(
            y, self.extent.ymin, self.extent.ymax, self.size[1], self.n_y,
            bounds=self.y_bounds,
        )

    def x_centroid_expr(self, x: Column | str) -> Column:
        """x centroid Column (reference: partitioning.py:447-462)."""
        return centroid_expr(
            self.x_index_expr(x), self.extent.xmin, self.extent.xmax, self.size[0], self.n_x
        )

    def y_centroid_expr(self, y: Column | str) -> Column:
        """y centroid Column."""
        return centroid_expr(
            self.y_index_expr(y), self.extent.ymin, self.extent.ymax, self.size[1], self.n_y
        )

    # -- label expressions (subclass responsibility) ------------------------
    def label_exprs_from_indices(self, xi: Column, yi: Column) -> dict[str, Column]:
        """Mapping level name -> label Column, given bin-INDEX Columns.

        Subclasses implement labels in terms of the indices so callers can
        materialize the (expensive, multiply-referenced) index expression
        once — see :meth:`add_labels`.
        """
        raise NotImplementedError

    def label_exprs(self, x: Column | str, y: Column | str) -> dict[str, Column]:
        """Mapping level name -> label Column from raw coordinates (inline
        form — each label re-derives its bin index; prefer add_labels)."""
        return self.label_exprs_from_indices(self.x_index_expr(x), self.y_index_expr(y))

    # -- dataframe ops -------------------------------------------------------
    def add_labels(
        self,
        df: DataFrame,
        x: str = "x",
        y: str = "y",
        remove_invalid_rows: bool = True,
    ) -> DataFrame:
        """Append partition label column(s) (reference: partitioning.py:637-679).

        Invalid coordinates (null/NaN/out-of-extent) yield null labels; with
        ``remove_invalid_rows=True`` those rows are dropped (the reference's
        default policy, partitioning.py:671-679).

        The bin indices are materialized as intermediate columns so each is
        computed ONCE per row: the index expression (ceil + clamp + two
        near-edge correction branches) is referenced several times by the
        centroid/label layers, and inlining it multiplies per-row work ~6x
        (Catalyst's CollapseProject keeps the staging projection because
        collapsing would duplicate a non-cheap expression).
        """
        xi_col, yi_col = "__sbs_x_idx", "__sbs_y_idx"
        df = df.withColumn(xi_col, self.x_index_expr(x)).withColumn(
            yi_col, self.y_index_expr(y)
        )
        exprs = self.label_exprs_from_indices(F.col(xi_col), F.col(yi_col))
        for name, expr in exprs.items():
            df = df.withColumn(name, expr)
        df = df.drop(xi_col, yi_col)
        if remove_invalid_rows:
            # Filter on the raw coordinate validity, NOT on label IS NOT NULL:
            # Catalyst pushes the predicate below the projection, re-deriving
            # the whole label expression tree inside the filter — a 4-5x
            # slowdown of the labeling stage. Labels are null exactly when a
            # coordinate is invalid (bin_index_expr), so this is equivalent.
            df = df.where(self.coordinate_validity_expr(x, y))
        return df

    def coordinate_validity_expr(self, x: Column | str, y: Column | str) -> Column:
        """True where both coordinates yield labels: non-null, non-NaN, inside
        the extent (the exact ``valid`` condition of :func:`bin_index_expr`) —
        cheap comparisons that stay cheap when pushed into the scan."""
        cond = None
        for col, vmin, vmax in (
            (x, self.extent.xmin, self.extent.xmax),
            (y, self.extent.ymin, self.extent.ymax),
        ):
            v = (F.col(col) if isinstance(col, str) else col).cast("double")
            c = v.isNotNull() & ~F.isnan(v) & (v >= F.lit(vmin)) & (v <= F.lit(vmax))
            cond = c if cond is None else (cond & c)
        return cond

    def add_centroids(
        self,
        df: DataFrame,
        x: str = "x",
        y: str = "y",
        x_coord: str | None = None,
        y_coord: str | None = None,
        remove_invalid_rows: bool = False,
    ) -> DataFrame:
        """Append centroid columns (reference: partitioning.py:681-732).

        Default output names are ``{x}_c`` / ``{y}_c`` (reference:
        partitioning.py:420-421, 1141-1142).
        """
        x_coord = x_coord or f"{x}_c"
        y_coord = y_coord or f"{y}_c"
        df = df.withColumn(x_coord, self.x_centroid_expr(x))
        df = df.withColumn(y_coord, self.y_centroid_expr(y))
        if remove_invalid_rows:
            df = df.where(F.col(x_coord).isNotNull() & F.col(y_coord).isNotNull())
        return df

    # -- partition pruning ---------------------------------------------------
    def _index_ranges_by_extent(self, extent) -> tuple[np.ndarray, np.ndarray]:
        """x/y index arrays of partitions intersecting ``extent`` (clamped).

        Mirrors the centroid range scan of the reference
        (partitioning.py:599-620): the query extent is clamped to the
        partitioning extent, then every bin whose interval intersects it is kept.
        """
        extent = check_extent(extent)
        xmin = max(extent.xmin, self.extent.xmin)
        xmax = min(extent.xmax, self.extent.xmax)
        ymin = max(extent.ymin, self.extent.ymin)
        ymax = min(extent.ymax, self.extent.ymax)
        if xmin > xmax or ymin > ymax:
            return np.array([], dtype=int), np.array([], dtype=int)
        x_idx = np.unique(
            np.clip(
                np.searchsorted(self.x_bounds, [xmin, xmax], side="left") - 1, 0, self.n_x - 1
            )
        )
        x_idx = np.arange(x_idx[0], x_idx[-1] + 1)
        y_idx = np.unique(
            np.clip(
                np.searchsorted(self.y_bounds, [ymin, ymax], side="left") - 1, 0, self.n_y - 1
            )
        )
        y_idx = np.arange(y_idx[0], y_idx[-1] + 1)
        return x_idx, y_idx

    def get_partitions_by_extent(self, extent) -> dict[str, list[str]]:
        """Level name -> sorted label list of partitions intersecting extent.

        The reference's directory enumeration (partitioning.py:599-635) as
        label sets: ``readers.read`` builds its partition glob from them, and
        :meth:`pruning_predicate` turns them into a partition-column predicate
        for a frame a caller already holds.
        """
        raise NotImplementedError

    def pruning_predicate(self, extent) -> Column:
        """Partition-pruning Column predicate for an extent query.

        Compiles to ``level.isin(labels) AND ...`` over partition columns —
        Catalyst's PartitionPruning turns this into directory pruning, the exact
        analogue of reference readers.py:246-271.
        """
        parts = self.get_partitions_by_extent(extent)
        pred = None
        for level, labels in parts.items():
            c = F.col(level).isin(labels) if labels else F.lit(False)
            pred = c if pred is None else (pred & c)
        return pred if pred is not None else F.lit(False)

    def filter_by_extent_partitions(
        self, df: DataFrame, extent, x: str = "x", y: str = "y"
    ) -> DataFrame:
        """Row-level partition filter for frames WITHOUT materialized labels.

        Appends the partition label columns restricted to the partitions
        intersecting ``extent`` — same result as ``add_labels`` +
        ``where(pruning_predicate(extent))``, but ordered for cost: the
        filter runs on the staged (cheap) bin-index expressions via an
        integer ``isin``, and the (expensive: round + format + cast) label
        strings are derived only for the surviving rows. The naive order
        computes the full label tree for every row because Catalyst pushes
        the label predicate below the label projection, re-deriving it
        row-wide inside the filter.

        On a real bucket the labels are hive partition columns and
        :meth:`pruning_predicate` prunes at the file index; this method is
        the analogue for label-less frames (e.g. pre-write classification).
        """
        x_idx, y_idx = self._index_ranges_by_extent(extent)
        xi_col, yi_col = "__sbs_x_idx", "__sbs_y_idx"
        staged = df.withColumn(xi_col, self.x_index_expr(x)).withColumn(
            yi_col, self.y_index_expr(y)
        )
        cond = F.col(xi_col).isin([int(i) for i in x_idx]) & F.col(yi_col).isin(
            [int(i) for i in y_idx]
        )
        staged = staged.where(cond)
        for name, expr in self.label_exprs_from_indices(
            F.col(xi_col), F.col(yi_col)
        ).items():
            staged = staged.withColumn(name, expr)
        return staged.drop(xi_col, yi_col)

    # -- polygon pruning (cell-intersection; finer than the bbox envelope) ---
    def _cells_by_polygon(self, polygon) -> tuple[np.ndarray, np.ndarray]:
        """(x_idx, y_idx) PAIRS of grid cells intersecting a simple polygon.

        Unlike :meth:`_index_ranges_by_extent` (which returns independent
        axis ranges — a rectangle), this keeps only cells whose rectangle
        actually meets the polygon: for a diagonal or L-shaped query region
        the bbox envelope keeps O(n²) cells where the shape itself covers
        O(n). On a 1°-partitioned bucket (64 800 dirs) that is the
        difference between opening a continent's rectangle and just the
        cells under the polygon.

        A cell intersects iff any polygon vertex lies in the cell, OR the
        cell center lies in the polygon (covers cell ⊂ polygon), OR any
        polygon edge crosses the cell rectangle (Liang–Barsky clip; covers
        every partial overlap). All three tests vectorize over the
        candidate cells of the polygon's bbox.
        """
        poly = [(float(a), float(b)) for a, b in polygon]
        if len(poly) < 3:
            raise ValueError("polygon needs at least 3 vertices")
        pxs = [p[0] for p in poly]
        pys = [p[1] for p in poly]
        bbox = [min(pxs), max(pxs), min(pys), max(pys)]
        x_rng, y_rng = self._index_ranges_by_extent(bbox)
        empty = (np.array([], dtype=int), np.array([], dtype=int))
        if len(x_rng) == 0 or len(y_rng) == 0:
            return empty
        xi, yi = np.meshgrid(x_rng, y_rng, indexing="ij")
        xi, yi = xi.ravel(), yi.ravel()
        xmin = self.x_bounds[xi]
        xmax = self.x_bounds[xi + 1]
        ymin = self.y_bounds[yi]
        ymax = self.y_bounds[yi + 1]

        keep = np.zeros(len(xi), dtype=bool)
        for vx, vy in poly:  # (a) polygon vertex inside cell
            keep |= (xmin <= vx) & (vx <= xmax) & (ymin <= vy) & (vy <= ymax)

        # (b) cell center inside polygon (even-odd ray cast, vectorized)
        cx = (xmin + xmax) / 2.0
        cy = (ymin + ymax) / 2.0
        inside = np.zeros(len(xi), dtype=bool)
        n = len(poly)
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            if y1 == y2:
                continue
            straddles = (y1 > cy) != (y2 > cy)
            x_at = (x2 - x1) * (cy - y1) / (y2 - y1) + x1
            inside ^= straddles & (cx < x_at)
        keep |= inside

        # (c) polygon edge crosses the cell rectangle (Liang–Barsky)
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            dx, dy = x2 - x1, y2 - y1
            t0 = np.zeros(len(xi))
            t1 = np.ones(len(xi))
            ok = np.ones(len(xi), dtype=bool)
            for p, q in (
                (-dx, x1 - xmin),
                (dx, xmax - x1),
                (-dy, y1 - ymin),
                (dy, ymax - y1),
            ):
                if p == 0:
                    ok &= q >= 0
                elif p < 0:
                    t0 = np.maximum(t0, q / p)
                else:
                    t1 = np.minimum(t1, q / p)
            keep |= ok & (t0 <= t1)
        return xi[keep], yi[keep]

    def _labels_for_cells(self, xi: np.ndarray, yi: np.ndarray) -> dict:
        """Level name -> per-cell label array (parallel to ``xi``/``yi``)."""
        raise NotImplementedError

    def get_partitions_by_polygon(self, polygon) -> dict[str, list[str]]:
        """Level -> sorted labels of partitions intersecting a polygon."""
        xi, yi = self._cells_by_polygon(polygon)
        return {
            lvl: sorted(set(arr.tolist()))
            for lvl, arr in self._labels_for_cells(xi, yi).items()
        }

    def polygon_pruning_predicate(self, polygon) -> Column:
        """Partition-pruning predicate keeping only cells under the polygon.

        One-level partitionings (tile ids) compile to a single ``isin``;
        two-level ones group the kept cells by first-level label and emit
        ``OR_x (x_lev = lx AND y_lev IN ys(lx))`` — still a pure
        partition-column predicate Catalyst turns into directory pruning,
        but per-COLUMN y lists instead of the bbox cross product.
        """
        xi, yi = self._cells_by_polygon(polygon)
        if len(xi) == 0:
            return F.lit(False)
        labels = self._labels_for_cells(xi, yi)
        lvls = list(labels)
        if len(lvls) == 1:
            return F.col(lvls[0]).isin(sorted(set(labels[lvls[0]].tolist())))
        groups: dict = {}
        for a, b in zip(labels[lvls[0]].tolist(), labels[lvls[1]].tolist()):
            groups.setdefault(a, set()).add(b)
        pred = None
        for a in sorted(groups):
            term = (F.col(lvls[0]) == a) & F.col(lvls[1]).isin(sorted(groups[a]))
            pred = term if pred is None else (pred | term)
        return pred

    def directories_by_polygon(self, polygon) -> list[str]:
        """Partition directory paths intersecting a polygon (cell-exact)."""
        xi, yi = self._cells_by_polygon(polygon)
        labels = self._labels_for_cells(xi, yi)
        lvls = list(labels)
        seen: dict = {}
        for k in range(len(xi)):
            combo = tuple(labels[lvl][k] for lvl in lvls)
            if combo not in seen:
                seen[combo] = self.partition_directory(
                    {lvl: str(v) for lvl, v in zip(lvls, combo)}
                )
        return sorted(seen.values())

    # -- directories (driver-side; used by tests and non-hive reads) ---------
    def partition_directory(self, labels: dict[str, str]) -> str:
        """Relative directory path for one partition, honoring order + flavor.

        Reference: partitioning.py:253-272 (hive: ``name=label``; directory:
        bare label), order applied per partitioning.py:195-198.
        """
        segs = []
        for level in self.order:
            lab = labels[level]
            segs.append(f"{level}={lab}" if self.flavor == "hive" else f"{lab}")
        return os.path.join(*segs)

    @property
    def directories(self) -> list[str]:
        """All partition directory paths in write order (reference: partitioning.py:586-597)."""
        out = []
        for combo in self._iter_label_combos():
            out.append(self.partition_directory(combo))
        return out

    def directories_by_extent(self, extent) -> list[str]:
        """Partition directory paths intersecting an extent (reference: partitioning.py:627-635)."""
        parts = self.get_partitions_by_extent(extent)
        keys = list(parts.keys())
        out = []
        for combo_vals in itertools.product(*(parts[k] for k in keys)):
            out.append(self.partition_directory(dict(zip(keys, combo_vals))))
        return out

    def _iter_label_combos(self):
        raise NotImplementedError

    # -- geometry (viz helpers; no shapely dependency) -----------------------
    def quadmesh_corners(self) -> tuple[np.ndarray, np.ndarray]:
        """(x_corners, y_corners) meshgrids of partition corners.

        Reference: partitioning.py:494-570 — viz-only; kept dependency-free.
        """
        return np.meshgrid(self.x_bounds, self.y_bounds)

    def vertices(self) -> np.ndarray:
        """(n_partitions, 4, 2) counterclockwise corner vertices per partition.

        Reference: partitioning.py:520-545 (quadmesh -> per-cell vertices).
        """
        xc, yc = self.quadmesh_corners()
        cells = []
        for j in range(self.n_y):
            for i in range(self.n_x):
                cells.append(
                    [
                        [xc[j, i], yc[j, i]],
                        [xc[j, i + 1], yc[j, i + 1]],
                        [xc[j + 1, i + 1], yc[j + 1, i + 1]],
                        [xc[j + 1, i], yc[j + 1, i]],
                    ]
                )
        return np.asarray(cells)

    def to_shapely(self):
        """Partition cell polygons (requires shapely; reference: partitioning.py:547-570)."""
        try:
            import shapely.geometry as geom  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover - shapely absent here
            raise ImportError("shapely is required for to_shapely(); use vertices()") from e
        return [geom.Polygon(v) for v in self.vertices()]

    # -- serialization -------------------------------------------------------
    def to_dict(self) -> dict:
        """Partitioning spec dict (reference: partitioning.py:912-923)."""
        raise NotImplementedError


class XYPartitioning(Base2DPartitioning):
    """Regular x/y binning with centroid-string labels (reference: partitioning.py:825-957).

    Default levels ``["xbin", "ybin"]``; labels are centroids rounded to
    ``labels_decimals`` (default ``n_decimals(size) + 1`` per axis,
    reference: partitioning.py:870-872), int-cast when 0 decimals, stringified.
    """

    default_levels = ["xbin", "ybin"]
    default_flavor = None  # "directory" flavor (reference: partitioning.py:206-207)

    def __init__(self, size, extent, levels=None, order=None, flavor=None, labels_decimals=None):
        size = check_size(size)
        levels = list(levels) if levels is not None else list(self.default_levels)
        if len(levels) != 2:
            raise ValueError("XYPartitioning requires exactly 2 levels")
        if flavor is None:
            flavor = self.default_flavor
        super().__init__(size=size, extent=extent, levels=levels, order=order, flavor=flavor)
        if labels_decimals is None:
            labels_decimals = (get_n_decimals(self.size[0]) + 1, get_n_decimals(self.size[1]) + 1)
        elif isinstance(labels_decimals, int):
            labels_decimals = (labels_decimals, labels_decimals)
        self.labels_decimals = (int(labels_decimals[0]), int(labels_decimals[1]))
        # Hot-path choice: plain double->string cast when provably exact
        # (validated against the full driver-side label grid).
        self._fast_label = (
            self.labels_decimals[0] > 0 and fast_label_path_ok(self.x_labels),
            self.labels_decimals[1] > 0 and fast_label_path_ok(self.y_labels),
        )

    # -- labels --------------------------------------------------------------
    def _label_expr(self, centroid: Column, axis: int) -> Column:
        decimals = self.labels_decimals[axis]
        if self._fast_label[axis]:
            labels = self.x_labels if axis == 0 else self.y_labels
            cents = self.x_centroids if axis == 0 else self.y_centroids
            if jvm_fast_label_ok(labels, cents, decimals):
                return F.when(centroid.isNotNull(), F.round(centroid, decimals).cast("string"))
        return format_label_expr(centroid, decimals)

    def x_label_expr(self, x: Column | str) -> Column:
        """x partition label Column (reference: partitioning.py:886-910)."""
        return self._label_expr(self.x_centroid_expr(x), 0)

    def y_label_expr(self, y: Column | str) -> Column:
        """y partition label Column."""
        return self._label_expr(self.y_centroid_expr(y), 1)

    def label_exprs_from_indices(self, xi: Column, yi: Column) -> dict[str, Column]:
        """Level -> label Column mapping from materialized bin indices."""
        xc = centroid_expr(xi, self.extent.xmin, self.extent.xmax, self.size[0], self.n_x)
        yc = centroid_expr(yi, self.extent.ymin, self.extent.ymax, self.size[1], self.n_y)
        return {
            self.levels[0]: self._label_expr(xc, 0),
            self.levels[1]: self._label_expr(yc, 1),
        }

    # -- driver-side label grids (reference: partitioning.py:464-487) --------
    @property
    def x_labels(self) -> np.ndarray:
        """All x labels in bin order."""
        return _np_labels(self.x_centroids, np.arange(self.n_x), self.labels_decimals[0])

    @property
    def y_labels(self) -> np.ndarray:
        """All y labels in bin order."""
        return _np_labels(self.y_centroids, np.arange(self.n_y), self.labels_decimals[1])

    def get_partitions_by_extent(self, extent) -> dict[str, list[str]]:
        """Level -> labels of partitions intersecting extent (reference: partitioning.py:599-620)."""
        x_idx, y_idx = self._index_ranges_by_extent(extent)
        return {
            self.levels[0]: _np_labels(self.x_centroids, x_idx, self.labels_decimals[0]).tolist(),
            self.levels[1]: _np_labels(self.y_centroids, y_idx, self.labels_decimals[1]).tolist(),
        }

    def _labels_for_cells(self, xi: np.ndarray, yi: np.ndarray) -> dict:
        return {
            self.levels[0]: _np_labels(self.x_centroids, xi, self.labels_decimals[0]),
            self.levels[1]: _np_labels(self.y_centroids, yi, self.labels_decimals[1]),
        }

    def get_partitions_around_point(self, x: float, y: float, distance=None, size=None):
        """Partitions intersecting a point neighborhood (reference: partitioning.py:622-625)."""
        from sat_bucket_spark.filters import extent_around_point

        extent = extent_around_point(x, y, distance=distance, size=size)
        return self.get_partitions_by_extent(extent)

    def _iter_label_combos(self):
        for ylab in self.y_labels:
            for xlab in self.x_labels:
                yield {self.levels[0]: str(xlab), self.levels[1]: str(ylab)}

    def to_dict(self) -> dict:
        """Spec dict (reference: partitioning.py:912-923)."""
        return {
            "class": type(self).__name__,
            "extent": list(self.extent),
            "size": list(self.size),
            "levels": list(self.levels),
            "order": list(self.order),
            "flavor": self.flavor,
            "labels_decimals": list(self.labels_decimals),
        }


class LonLatPartitioning(XYPartitioning):
    """Geographic partitioning over [-180,180,-90,90] by default.

    Reference: partitioning.py:1089-1190 — default levels ``["lon_bin",
    "lat_bin"]`` (:1106), default flavor "hive" (:1128), plus extent helpers for
    country/continent/point queries (:1144-1177).
    """

    default_levels = ["lon_bin", "lat_bin"]
    default_flavor = "hive"

    def __init__(
        self,
        size,
        extent=(-180.0, 180.0, -90.0, 90.0),
        levels=None,
        order=None,
        flavor=None,
        labels_decimals=None,
    ):
        super().__init__(
            size=size,
            extent=extent,
            levels=levels,
            order=order,
            flavor=flavor,
            labels_decimals=labels_decimals,
        )

    def get_partitions_by_country(self, name: str) -> dict[str, list[str]]:
        """Partitions intersecting a country's bbox (reference: partitioning.py:1144-1152)."""
        from sat_bucket_spark.extents import get_country_extent

        return self.get_partitions_by_extent(get_country_extent(name))

    def get_partitions_by_continent(self, name: str) -> dict[str, list[str]]:
        """Partitions intersecting a continent's bbox (reference: partitioning.py:1154-1162)."""
        from sat_bucket_spark.extents import get_continent_extent

        return self.get_partitions_by_extent(get_continent_extent(name))


class TilePartitioning(Base2DPartitioning):
    """Tile partitioning with integer x/y or flat tile-id labels.

    Reference: partitioning.py:960-1086 — ``n_levels=2`` gives (x, y) labels
    (default level names ``["x", "y"]``), ``n_levels=1`` a single raveled id
    (default ``["tile"]``). ``origin`` flips the y axis ("bottom" default,
    Google-Maps style; "top" = TMS), ``direction`` picks row-major ("x") or
    column-major ("y") raveling, ``justify`` zero-pads labels
    (partitioning.py:310-348).
    """

    def __init__(
        self,
        size,
        extent,
        n_levels=2,
        levels=None,
        origin="bottom",
        direction="x",
        justify=False,
        order=None,
        flavor=None,
    ):
        if n_levels not in (1, 2):
            raise ValueError("n_levels must be 1 or 2")
        if origin not in ("top", "bottom"):
            raise ValueError("origin must be 'top' or 'bottom'")
        if direction not in ("x", "y"):
            raise ValueError("direction must be 'x' or 'y'")
        if levels is None:
            levels = ["tile"] if n_levels == 1 else ["x", "y"]
        levels = list(levels)
        if len(levels) != n_levels:
            raise ValueError(f"levels {levels} must have length n_levels={n_levels}")
        super().__init__(size=size, extent=extent, levels=levels, order=order, flavor=flavor)
        self.n_levels_tiles = n_levels
        self.origin = origin
        self.direction = direction
        self.justify = justify

    # -- label expressions ---------------------------------------------------
    def _y_flip(self, y_idx: Column) -> Column:
        """Origin flip over a y bin-index Column (reference: partitioning.py:314-318)."""
        if self.origin == "top":
            return y_idx
        return F.when(y_idx.isNotNull(), F.lit(self.n_y - 1) - y_idx)

    def _y_out_expr(self, y) -> Column:
        """y index with origin flip, from the raw coordinate."""
        return self._y_flip(self.y_index_expr(y))

    def _tile_id_from_indices(self, x_idx: Column, y_out: Column) -> Column:
        if self.direction == "x":
            flat = y_out * F.lit(self.n_x) + x_idx
        else:
            flat = x_idx * F.lit(self.n_y) + y_out
        return F.when(x_idx.isNotNull() & y_out.isNotNull(), flat)

    def tile_id_expr(self, x, y) -> Column:
        """Flat tile id: row-major ('x') or column-major ('y') ravel.

        Reference: partitioning.py:327-348 (np.ravel_multi_index order C/F over
        (y, x) with optional bottom-origin flip).
        """
        return self._tile_id_from_indices(self.x_index_expr(x), self._y_out_expr(y))

    def label_exprs_from_indices(self, xi: Column, yi: Column) -> dict[str, Column]:
        """Level -> label Column mapping from materialized bin indices
        (reference: partitioning.py:310-348)."""
        y_out = self._y_flip(yi)
        if self.n_levels_tiles == 1:
            width = len(str(self.n_x * self.n_y))
            return {
                self.levels[0]: tile_label_expr(
                    self._tile_id_from_indices(xi, y_out), self.justify, width
                )
            }
        # Labels must be jointly null when either coordinate is invalid
        # (reference: partitioning.py:101-158 mask decorator).
        both = xi.isNotNull() & y_out.isNotNull()
        x_lab = tile_label_expr(F.when(both, xi), self.justify, len(str(self.n_x)))
        y_lab = tile_label_expr(F.when(both, y_out), self.justify, len(str(self.n_y)))
        return {self.levels[0]: x_lab, self.levels[1]: y_lab}

    # -- driver-side labels --------------------------------------------------
    def _fmt(self, values: np.ndarray, width: int) -> np.ndarray:
        labels = values.astype(str)
        if self.justify:
            labels = np.char.rjust(labels, width, "0")
        return labels

    def get_partitions_by_extent(self, extent) -> dict[str, list[str]]:
        """Level -> labels of tiles intersecting extent."""
        x_idx, y_idx = self._index_ranges_by_extent(extent)
        if self.origin == "bottom":
            y_out = self.n_y - 1 - y_idx
        else:
            y_out = y_idx
        if self.n_levels_tiles == 2:
            return {
                self.levels[0]: self._fmt(x_idx, len(str(self.n_x))).tolist(),
                self.levels[1]: self._fmt(np.sort(y_out), len(str(self.n_y))).tolist(),
            }
        xx, yy = np.meshgrid(x_idx, y_out)
        if self.direction == "x":
            flat = yy.ravel() * self.n_x + xx.ravel()
        else:
            flat = xx.ravel() * self.n_y + yy.ravel()
        width = len(str(self.n_x * self.n_y))
        return {self.levels[0]: sorted(self._fmt(np.unique(flat), width).tolist())}

    def _labels_for_cells(self, xi: np.ndarray, yi: np.ndarray) -> dict:
        y_out = self.n_y - 1 - yi if self.origin == "bottom" else yi
        if self.n_levels_tiles == 2:
            return {
                self.levels[0]: self._fmt(xi, len(str(self.n_x))),
                self.levels[1]: self._fmt(y_out, len(str(self.n_y))),
            }
        if self.direction == "x":
            flat = y_out * self.n_x + xi
        else:
            flat = xi * self.n_y + y_out
        return {self.levels[0]: self._fmt(flat, len(str(self.n_x * self.n_y)))}

    def _iter_label_combos(self):
        parts = self.get_partitions_by_extent(list(self.extent))
        keys = list(parts.keys())
        for combo_vals in itertools.product(*(parts[k] for k in keys)):
            yield dict(zip(keys, combo_vals))

    def to_dict(self) -> dict:
        """Spec dict (reference: partitioning.py:1072-1086)."""
        return {
            "class": type(self).__name__,
            "extent": list(self.extent),
            "size": list(self.size),
            "n_levels": self.n_levels_tiles,
            "levels": list(self.levels),
            "origin": self.origin,
            "direction": self.direction,
            "justify": self.justify,
            "order": list(self.order),
            "flavor": self.flavor,
        }


_CLASSES = {
    "XYPartitioning": XYPartitioning,
    "LonLatPartitioning": LonLatPartitioning,
    "TilePartitioning": TilePartitioning,
}


def get_partitioning_class(name: str):
    """Resolve a partitioning class by name (reference: io.py:42-49)."""
    try:
        return _CLASSES[name]
    except KeyError:
        raise ValueError(f"unknown partitioning class {name!r}; valid: {sorted(_CLASSES)}") from None


def partitioning_from_dict(spec: dict):
    """Instantiate a partitioning from its spec dict (reference: io.py:42-49)."""
    spec = dict(spec)
    cls = get_partitioning_class(spec.pop("class"))
    return cls(**spec)


def zorder_index_expr(
    x_bin: "Column | str",
    y_bin: "Column | str",
    bits: int = 16,
    t_bin: "Column | str | None" = None,
) -> Column:
    """Morton (Z-order) index of two or three non-negative bin indices.

    Interleaves the low ``bits`` bits of ``x_bin`` (even positions) and
    ``y_bin`` (odd positions) into one long. Sorting or range-partitioning a
    write by this value clusters rows that are close in BOTH spatial
    dimensions into the same files and row groups — so a 2-D extent query
    prunes on parquet min/max stats in both axes at once, where a
    lexicographic (x, y) sort clusters only x. This is the single-column
    clustering complement to directory-level spatial partitioning: partition
    pruning skips directories, Z-ordering skips row groups *inside* each
    directory's files. Pass the result to
    ``write_partitioned_dataset(sort_within_by=[...])`` or
    ``DataFrame.sortWithinPartitions``.

    With ``t_bin`` the interleave is 3-D (stride 3: x at ``3b``, y at
    ``3b+1``, t at ``3b+2``) — rows cluster by space AND a time bucket, so
    the common "extent + time window" query prunes row groups on all three
    min/max stats at once. ``3 * bits`` must fit a signed long: bits <= 21.

    Pure bit arithmetic (shift/and/or) — whole-stage codegen, engine-portable
    (DuckDB: the same ``>> & <<`` expression). Null bin indices propagate to
    a null index. ``bits`` must cover the larger bin count (default 16 =
    grids up to 65536 x 65536).
    """
    stride = 2 if t_bin is None else 3
    if bits * stride > 63:
        raise ValueError(
            f"bits={bits} with {stride} dimensions overflows a signed long "
            f"(max {63 // stride})"
        )
    x = (F.col(x_bin) if isinstance(x_bin, str) else x_bin).cast("long")
    y = (F.col(y_bin) if isinstance(y_bin, str) else y_bin).cast("long")
    t = None
    if t_bin is not None:
        t = (F.col(t_bin) if isinstance(t_bin, str) else t_bin).cast("long")
    out: Column | None = None
    for b in range(bits):
        xb = F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), stride * b)
        yb = F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), stride * b + 1)
        term = xb + yb
        if t is not None:
            term = term + F.shiftleft(
                F.shiftright(t, b).bitwiseAND(F.lit(1)), stride * b + 2
            )
        out = term if out is None else out + term
    return out
