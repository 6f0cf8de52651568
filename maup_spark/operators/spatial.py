"""Shared spatial-join plumbing: cell-cover explode + candidate joins.

The pattern everywhere: explode geometry bbox covers into a ``cell_id``
column, hash equi-join on it (broadcast when the polygon side is small),
then refine with an exact vectorized kernel.

Physical notes (these made a 3-5× difference, verified by
``.explain("formatted")``):

- The cell cover is generated **JVM-side** with
  ``explode(sequence(ix0, ix1)) × explode(sequence(iy0, iy1))`` from
  bbox bounds columns, staying inside whole-stage codegen.  When a
  layer doesn't carry bounds columns, a single Arrow-batch UDF extracts
  them; it is marked ``asNondeterministic`` so CollapseProject cannot
  clone the Python call per referencing expression (otherwise each
  struct-field access re-runs the UDF — observed in plans).
- Candidate-pair *dedup* (a pair meets in many cells — the reference
  dedups with ``set(...ravel())``, /root/reference/maup/indexed_geometries.py:26-27)
  uses the **reference-point rule**, not a shuffle: a pair is kept only
  in the cell containing the lower-left corner of its bbox overlap.
  That corner lies in both covers whenever the bboxes intersect, so
  exactly one copy survives — a codegen'd filter on the join output,
  no ``dropDuplicates`` exchange of geometry payloads.
"""

from __future__ import annotations

from typing import NamedTuple

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    StructField,
    StructType,
)

from ..geom import vector as V
from ..index.cells import CellGrid

DEFAULT_GRID = CellGrid(res=7)  # 128×128 world cells (2.8125° × 1.40625°)

BOUNDS = ("xmin", "ymin", "xmax", "ymax")


def adaptive_grid_for(
    df: DataFrame,
    geom_col: str = "geometry",
    x_col: str | None = None,
    y_col: str | None = None,
    target_rows_per_cell: int = 256,
    min_res: int = 3,
    max_res: int = 14,
) -> CellGrid:
    """Grid whose resolution follows the LAYER (bbox + row count), not a
    world constant: res = ⌈½·log2(rows / target_rows_per_cell)⌉ over the
    layer bbox, clamped to [min_res, max_res].

    Why: the fixed 128×128 world default means a 2.8° cell over a dense
    city pins the salting cap at 100 TB no matter how hot it gets.  With
    res derived from the row count, a 10× bigger layer gets ~10× more
    cells, so per-cell candidate counts stay bounded wherever density is
    areal (a fixture-verified invariant, tests/test_salting.py); true
    point masses remain the salting/AQE machinery's job.  One extra
    count+min/max aggregation job per layer — noise next to the join it
    tunes.  Pass the result as the ``grid=`` argument of assign /
    intersections / adjacencies / candidate_pairs.
    """
    import math

    if x_col is not None and y_col is not None:
        row = df.agg(
            F.count("*").alias("n"),
            F.min(x_col).alias("x0"),
            F.min(y_col).alias("y0"),
            F.max(x_col).alias("x1"),
            F.max(y_col).alias("y1"),
        ).collect()[0]
    else:
        row = (
            with_bounds(df.select(geom_col), geom_col)
            .agg(
                F.count("*").alias("n"),
                F.min("__b_xmin").alias("x0"),
                F.min("__b_ymin").alias("y0"),
                F.max("__b_xmax").alias("x1"),
                F.max("__b_ymax").alias("y1"),
            )
            .collect()[0]
        )
    n = row["n"] or 0
    if not n or row["x0"] is None:
        return DEFAULT_GRID
    x0, y0 = float(row["x0"]), float(row["y0"])
    x1, y1 = float(row["x1"]), float(row["y1"])
    cells_needed = max(1.0, n / float(target_rows_per_cell))
    res = int(math.ceil(0.5 * math.log2(cells_needed)))
    res = max(min_res, min(max_res, res))
    pad = max(x1 - x0, y1 - y0, 1.0) * 1e-6
    return CellGrid(x0=x0 - pad, y0=y0 - pad, x1=x1 + pad, y1=y1 + pad, res=res)


def point_cell_col(grid: CellGrid, x: str = "lon", y: str = "lat") -> Column:
    """Cell id of a point as a built-in (codegen'd) expression — no UDF."""
    return _cell_of(grid, F.col(x), F.col(y)).alias("cell_id")


def _cell_of(grid: CellGrid, x: Column, y: Column) -> Column:
    return _iy_of(grid, y) * F.lit(grid.n) + _ix_of(grid, x)


def _ix_of(grid: CellGrid, x: Column) -> Column:
    ix = F.floor((x - F.lit(grid.x0)) / F.lit(grid.wx)).cast("long")
    return F.greatest(F.lit(0), F.least(ix, F.lit(grid.n - 1)))


def _iy_of(grid: CellGrid, y: Column) -> Column:
    iy = F.floor((y - F.lit(grid.y0)) / F.lit(grid.wy)).cast("long")
    return F.greatest(F.lit(0), F.least(iy, F.lit(grid.n - 1)))


def _bounds_udf():
    def batch(wkbs):
        return V.batch_bounds(wkbs)

    return F.pandas_udf(
        batch, "xmin double, ymin double, xmax double, ymax double"
    ).asNondeterministic()


def with_bounds(
    df: DataFrame, geom_col: str = "geometry", prefix: str = "__b_"
) -> DataFrame:
    """Attach bbox columns {prefix}xmin…ymax (one UDF evaluation)."""
    out = df.withColumn("__bstruct", _bounds_udf()(F.col(geom_col)))
    keep = [F.col(c) for c in df.columns] + [
        F.col(f"__bstruct.{b}").alias(f"{prefix}{b}") for b in BOUNDS
    ]
    return out.select(*keep)


def _attach_bounds(
    df: DataFrame,
    geom_col: str,
    prefix: str,
    bounds_cols: tuple[str, str, str, str] | None,
) -> DataFrame:
    """Ensure ``{prefix}xmin…ymax`` exist: rename caller-supplied bounds
    columns, run the (single) bounds UDF, or no-op if already attached."""
    if f"{prefix}xmin" in df.columns:
        return df
    if bounds_cols is not None:
        for b, c in zip(BOUNDS, bounds_cols):
            df = df.withColumn(f"{prefix}{b}", F.col(c))
        return df
    return with_bounds(df, geom_col, prefix)


def _cover_span_cells(grid: CellGrid, prefix: str) -> Column:
    """Number of grid cells a row's bbox cover would explode to."""
    nx = _ix_of(grid, F.col(f"{prefix}xmax")) - _ix_of(grid, F.col(f"{prefix}xmin")) + 1
    ny = _iy_of(grid, F.col(f"{prefix}ymax")) - _iy_of(grid, F.col(f"{prefix}ymin")) + 1
    return nx * ny


def with_cell_cover(
    df: DataFrame,
    grid: CellGrid,
    geom_col: str = "geometry",
    dilate: int = 0,
    bounds_prefix: str = "__b_",
    bounds_cols: tuple[str, str, str, str] | None = None,
) -> DataFrame:
    """Explode each geometry to the cells its bbox touches (+``dilate``
    cells each side).  Adds ``cell_id`` plus bbox columns
    ``{bounds_prefix}xmin…ymax``.

    The explode itself is pure JVM ``sequence``; Python only runs (once)
    if the layer has no bounds columns.  A frame that already carries
    ``{bounds_prefix}xmin…ymax`` (pre-attached by the caller, e.g. for a
    cover-size split) is used as-is.
    """
    df = _attach_bounds(df, geom_col, bounds_prefix, bounds_cols)
    xmin, ymin, xmax, ymax = (F.col(f"{bounds_prefix}{b}") for b in BOUNDS)
    d = F.lit(float(dilate))
    ix0 = _ix_of(grid, xmin - d * F.lit(grid.wx))
    ix1 = _ix_of(grid, xmax + d * F.lit(grid.wx))
    iy0 = _iy_of(grid, ymin - d * F.lit(grid.wy))
    iy1 = _iy_of(grid, ymax + d * F.lit(grid.wy))
    return (
        df.withColumn("__cix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("__ciy", F.explode(F.sequence(iy0, iy1)))
        .withColumn("cell_id", F.col("__ciy") * F.lit(grid.n) + F.col("__cix"))
        .drop("__cix", "__ciy")
    )


# ---------------------------------------------------------------------------
# exact refine: the one place this engine runs per-pair Python
#
# Every candidate-pair refine (PIP, covers + area, intersection,
# point->boundary distance) is one ``refine(op, ...)`` call: the op
# table names the ``geom.vector`` batch kernel and its Spark output type,
# and the driver builds the Arrow-batched pandas UDF around it.
#
# A geometry argument is either a WKB column or ``ById(id_col, bc)``.
# Shipping polygon WKB through a multi-million-row candidate join repeats
# the same few thousand geometries millions of times over Arrow — measured
# as THE scaling bottleneck (Python workers starved at ~50% while the JVM
# serialized binaries).  So a small layer is collected once into a
# SparkContext broadcast {id: wkb} (``geom_broadcast``); the candidate
# join carries only its id column, and the driver resolves ids to WKB
# per batch before the kernel runs.  The kernels parse each distinct
# geometry once per batch.
# ---------------------------------------------------------------------------


def geom_broadcast(df: DataFrame, id_col: str, geom_col: str = "geometry"):
    """Collect a (small) geometry layer into a broadcast {id: wkb}."""
    rows = df.select(id_col, geom_col).collect()
    sc = df.sparkSession.sparkContext
    return sc.broadcast({r[0]: bytes(r[1]) for r in rows})


class ById(NamedTuple):
    """A ``refine`` geometry argument given as an id column whose WKB is
    looked up in a ``geom_broadcast`` dict."""

    col: Column
    bc: Broadcast


def _intersection_type(convex_fast: bool = True, with_wkb: bool = True) -> StructType:
    # convex_fast picks a kernel tier; only with_wkb changes the output
    fields = [
        StructField("area", DoubleType()),
        StructField("length", DoubleType()),
        StructField("is_empty", BooleanType()),
    ]
    if with_wkb:
        fields.insert(0, StructField("wkb", BinaryType()))
    return StructType(fields)


# op -> (batch kernel, Spark output type given the kernel's keyword args)
_REFINE_OPS = {
    # (x, y, polygon) -> point in polygon
    "pip": (V.batch_points_in_polygon, lambda: BooleanType()),
    # (target, source) -> struct(target covers source, overlap area)
    "covers_area": (
        V.batch_covers_area,
        lambda: StructType(
            [StructField("covers", BooleanType()), StructField("area", DoubleType())]
        ),
    ),
    # (a, b; convex_fast, with_wkb) -> struct([wkb,] area, length, is_empty)
    "intersection": (V.batch_intersection, _intersection_type),
    # (x, y, polygon) -> exact point -> boundary distance
    "distance": (V.batch_point_boundary_distance, lambda: DoubleType()),
}


def _wkbs_of(ids: pd.Series, geoms: dict) -> pd.Series:
    # a NULL id (an unmatched left-join row) is a NULL geometry
    return pd.Series(
        [None if n else geoms[i] for i, n in zip(ids, ids.isna())], dtype=object
    )


def refine(op: str, *args, **kernel_kw) -> Column:
    """Exact refine ``op`` over candidate-pair columns ``args`` (plain
    columns, WKB columns or ``ById`` geometries), as ONE Arrow-batched
    pandas UDF.  ``kernel_kw`` passes through to the kernel.

    Struct outputs are ``asNondeterministic`` so CollapseProject cannot
    clone the Python call once per struct-field reference (verified via
    ``.explain``)."""
    kernel, out_type = _REFINE_OPS[op]
    rtype = out_type(**kernel_kw)
    bcs = [a.bc if isinstance(a, ById) else None for a in args]

    def batch(*cols):
        cols = [c if bc is None else _wkbs_of(c, bc.value) for c, bc in zip(cols, bcs)]
        return kernel(*cols, **kernel_kw)

    udf = F.pandas_udf(batch, rtype)
    if isinstance(rtype, StructType):
        udf = udf.asNondeterministic()
    return udf(*[a.col if isinstance(a, ById) else a for a in args])


def hot_cells(
    df: DataFrame, threshold_ratio: float = 4.0, cell_col: str = "cell_id"
) -> dict[int, int]:
    """Cell histogram → {hot cell_id: salt_factor}.

    A cell is *hot* when its row count exceeds ``threshold_ratio`` ×
    mean; its salt factor is ceil(count / mean) capped at 32.  This is
    the dense-urban-tile detector the north_star calls for — an
    aggregation pass over the indexed side, cheap relative to the join.

    Only the HOT rows are collected (the mean rides a broadcast scalar
    join): the driver sees O(#hot cells), never the full histogram —
    at an adaptive-grid res over a dense layer the histogram itself
    is millions of rows.
    """
    counts = df.groupBy(cell_col).count()
    mean_df = counts.agg(F.avg("count").alias("__mean"))
    hot = (
        counts.join(F.broadcast(mean_df), F.lit(True))
        .filter(F.col("count") > threshold_ratio * F.col("__mean"))
        .select(
            cell_col,
            F.least(
                F.lit(32), (F.col("count") / F.col("__mean")).cast("int") + 1
            ).alias("__salt_k"),
        )
    )
    return {r[cell_col]: r["__salt_k"] for r in hot.collect()}


def salted_join(
    big: DataFrame,
    small: DataFrame,
    salts: dict[int, int],
    cell_col: str = "cell_id",
) -> DataFrame:
    """Two-level salted equi-join on ``cell_col`` for the non-broadcast
    path (polygon side too large to broadcast).

    Hot cells on the big side get a deterministic salt in [0, k); the
    small side replicates those cells k×.  Cold cells join with salt 0.
    AQE's skew-join splitting remains enabled as the backstop — this
    handles the skew Catalyst cannot see coming (pre-aggregated
    geometry fan-out).

    The join carries a ``shuffle_hash`` hint: the caller chose the
    non-broadcast path because the "small" side is too big to broadcast
    at production scale — Catalyst's size estimate on test-scale data
    would silently pick BroadcastHashJoin and the plan under test would
    not be the plan that ships.
    """
    if not salts:
        return big.join(small.hint("shuffle_hash"), cell_col)
    salt_map = F.create_map(
        *[F.lit(v) for kv in salts.items() for v in kv]
    )
    bigk = big.withColumn("__k", F.coalesce(salt_map[F.col(cell_col)], F.lit(1)))
    # deterministic pseudo-random salt from a stable row hash
    bigk = bigk.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.col("__k"))
    ).drop("__k")
    smallk = small.withColumn(
        "__k", F.coalesce(salt_map[F.col(cell_col)], F.lit(1))
    ).withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.col("__k") - 1))
    ).drop("__k")
    return bigk.join(smallk.hint("shuffle_hash"), [cell_col, "__salt"]).drop(
        "__salt"
    )


# sentinel cell ids for the bounded-fan-out protocol (real cells are >= 0)
BIG_SRC_CELL = -1  # oversized sources meet small targets here
BIG_TGT_CELL = -2  # every source meets oversized targets here

# big-target probe verdicts, keyed by (applicationId, analyzed-plan
# semanticHash, grid res, max_cells) — bounded: one entry per distinct
# indexed layer per session
_BIG_TARGET_PROBE_CACHE: dict[tuple, bool] = {}


def _cover_for_join(
    df: DataFrame,
    grid: CellGrid,
    prefix: str,
    max_cells: int | None,
    collapse_to: int,
    extra_cell: int | None,
    extra_on_small_only: bool = False,
) -> DataFrame:
    """Single-scan cell cover with bounded fan-out: rows whose fine
    cover exceeds ``max_cells`` collapse to one ``collapse_to`` sentinel
    row; ``extra_cell`` (if set) appends one sentinel row per geometry
    (per *small* geometry when ``extra_on_small_only``) so the other
    side's collapsed rows have a meeting key.  One explode, no second
    scan, no per-row resolution switch."""
    xmin, ymin, xmax, ymax = (F.col(f"{prefix}{b}") for b in BOUNDS)
    ix0, ix1 = _ix_of(grid, xmin), _ix_of(grid, xmax)
    iy0, iy1 = _iy_of(grid, ymin), _iy_of(grid, ymax)
    n = F.lit(grid.n)
    # TWO chained explode(sequence(...)) Generates, NEVER a
    # flatten(transform(...)) array build: higher-order functions carry
    # interpreted lambdas that whole-stage codegen cannot compile, and
    # the per-row allocation measured 15x slower on the 2*10^8-row
    # cover of the scaling workload (60 s -> 4 s at local[2]).  The
    # sentinel protocol rides the same two Generates through CASE
    # arithmetic on the sequence bounds (all codegen'd):
    # - oversized rows clamp both sequences to one element and emit
    #   ``collapse_to`` as their only cell;
    # - the per-geometry extra row (``extra_cell``) is one marker
    #   element concat'd onto the OUTER sequence, clamped to one row in
    #   the inner explode.
    if max_cells is None:
        return (
            df.withColumn("__cov_x0", ix0)
            .withColumn("__cov_x1", ix1)
            .withColumn("__cov_iy", F.explode(F.sequence(iy0, iy1)))
            .withColumn(
                "__cov_ix",
                F.explode(F.sequence(F.col("__cov_x0"), F.col("__cov_x1"))),
            )
            .withColumn("cell_id", F.col("__cov_iy") * n + F.col("__cov_ix"))
            .drop("__cov_iy", "__cov_ix", "__cov_x0", "__cov_x1")
        )
    marker = F.lit(-9).cast("long")  # outside any valid iy in [0, n)
    # materialize the box indices + is_big ONCE per input row: the
    # floor arithmetic would otherwise re-evaluate per EMITTED row
    # inside the inner sequence bound and the cell CASE
    out = (
        df.withColumn("__cov_x0", ix0)
        .withColumn("__cov_x1", ix1)
        .withColumn("__cov_y0", iy0)
        .withColumn("__cov_y1", iy1)
    )
    cx0, cx1 = F.col("__cov_x0"), F.col("__cov_x1")
    cy0, cy1 = F.col("__cov_y0"), F.col("__cov_y1")
    out = out.withColumn(
        "__cov_big",
        (cx1 - cx0 + 1) * (cy1 - cy0 + 1) > F.lit(max_cells),
    )
    is_big = F.col("__cov_big")
    iy_seq = F.sequence(cy0, F.when(is_big, cy0).otherwise(cy1))
    if extra_cell is not None:
        marker_arr = F.array(marker)
        if extra_on_small_only:
            marker_arr = F.when(
                is_big, F.array().cast("array<bigint>")
            ).otherwise(marker_arr)
        iy_seq = F.concat(iy_seq, marker_arr)
    out = out.withColumn("__cov_iy", F.explode(iy_seq))
    is_marker = F.col("__cov_iy") == marker
    out = out.withColumn(
        "__cov_ix",
        F.explode(
            F.sequence(cx0, F.when(is_big | is_marker, cx0).otherwise(cx1))
        ),
    )
    cell = (
        F.when(is_marker, F.lit(extra_cell if extra_cell is not None else 0).cast("long"))
        .when(is_big, F.lit(collapse_to).cast("long"))
        .otherwise(F.col("__cov_iy") * n + F.col("__cov_ix"))
    )
    return out.withColumn("cell_id", cell).drop(
        "__cov_iy", "__cov_ix", "__cov_big",
        "__cov_x0", "__cov_x1", "__cov_y0", "__cov_y1",
    )


def candidate_pairs(
    sources: DataFrame,
    targets: DataFrame,
    grid: CellGrid,
    source_geom: str = "geometry",
    target_geom: str = "geometry",
    broadcast_targets: bool = True,
    source_bounds: tuple[str, str, str, str] | None = None,
    target_bounds: tuple[str, str, str, str] | None = None,
    drop_source_geom: bool = False,
    drop_target_geom: bool = False,
    salt_skew: bool = True,
    max_cells: int = 4096,
) -> DataFrame:
    """Cell-join candidate (source, target) pairs — exactly one row per
    pair via the reference-point rule (module docstring), no shuffle.

    ``drop_*_geom`` removes the geometry column right after its bbox is
    computed, so WKB never rides the join (use with broadcast-geometry
    refine UDFs).  Column name collisions between the two sides must be
    resolved by the caller (alias geometry columns before calling).

    **Bounded fan-out** (``max_cells``): a row whose bbox cover would
    explode past ``max_cells`` grid cells (a continent in a layer of
    city blocks — the adaptive grid tunes res to the TYPICAL geometry,
    so a 100×-outlier would fan out 10^4+ cover rows) never enters the
    explode.  Oversized rows collapse to *sentinel cells* inside the
    same single-scan cover and ride the same equi-join:

    - a big SOURCE row emits one ``BIG_SRC_CELL`` row instead of its
      fine cover; every small target adds one ``BIG_SRC_CELL`` row to
      its cover (+1 row on the indexed side — negligible), so the pair
      meets exactly once and a post-join bbox filter replaces the cell
      co-location guarantee;
    - big TARGET rows emit one ``BIG_TGT_CELL`` row, and every source
      adds one ``BIG_TGT_CELL`` row — but only after a cheap driver
      probe of the (indexed, small) target side confirms oversized
      targets exist, so the 10^12-row source side never pays +1 row
      per row for a protection it doesn't need.  When they do exist,
      the honest candidate set IS every-source × each-continent; the
      sentinel join produces exactly that, bbox-filtered, without a
      second source scan.

    The sentinel pairs are disjoint from the fine-cell pairs (a row is
    either collapsed or exploded, never both), so no dedup is needed.
    ``max_cells=None`` disables the protection.
    """
    s0 = _attach_bounds(sources, source_geom, "__s_", source_bounds)
    if drop_source_geom and source_geom:
        s0 = s0.drop(source_geom)
    t0 = _attach_bounds(targets, target_geom, "__t_", target_bounds)
    if drop_target_geom and target_geom:
        t0 = t0.drop(target_geom)
    big_targets_exist = False
    if max_cells is not None:
        # driver probe on the indexed side only (one small codegen'd
        # aggregation; the source side is never scanned for this).
        # The verdict is CACHED per (session, target plan, grid, cap):
        # the probe job costs ~1 s of scheduling even on a 556-row
        # local relation, and without the cache every call — every
        # bench repeat, every query over the same district layer —
        # pays it again (measured: the whole spatial family regressed
        # 1.5-7x when the probe first landed uncached).  semanticHash
        # keys the *plan*, so re-registering the same layer hits.
        app_id = t0.sparkSession.sparkContext.applicationId
        # evict verdicts from stopped applications: entries keyed by a
        # dead appId can never hit again and would grow without bound
        # across sessions in one Python process
        for k in [k for k in _BIG_TARGET_PROBE_CACHE if k[0] != app_id]:
            del _BIG_TARGET_PROBE_CACHE[k]
        key = (
            app_id,
            t0._jdf.queryExecution().analyzed().semanticHash(),
            grid.res,
            max_cells,
        )
        if key not in _BIG_TARGET_PROBE_CACHE:
            _BIG_TARGET_PROBE_CACHE[key] = (
                t0.filter(
                    _cover_span_cells(grid, "__t_") > max_cells
                ).limit(1).count()
                > 0
            )
        big_targets_exist = _BIG_TARGET_PROBE_CACHE[key]
    s = _cover_for_join(
        s0, grid, "__s_", max_cells,
        collapse_to=BIG_SRC_CELL,
        extra_cell=BIG_TGT_CELL if big_targets_exist else None,
    )
    # Target-side collapse is CONDITIONAL on the probe verdict: when the
    # probe said "no big targets", an (impossibly stale) oversized row
    # must fan out through the fine cover rather than collapse to
    # BIG_TGT_CELL — sources only carry the BIG_TGT_CELL meeting key
    # when the probe fired, so an unconditional collapse would silently
    # DROP those pairs while the conditional one merely runs slower.
    # The huge cap keeps the extra BIG_SRC_CELL row (needed whenever the
    # source side is capped) without ever collapsing a target.
    t_cap = max_cells if big_targets_exist else (
        (1 << 62) if max_cells is not None else None
    )
    t = _cover_for_join(
        t0, grid, "__t_", t_cap,
        collapse_to=BIG_TGT_CELL,
        extra_cell=BIG_SRC_CELL if max_cells is not None else None,
        extra_on_small_only=True,
    )
    if broadcast_targets:
        joined = s.join(F.broadcast(t), "cell_id")
    else:
        # shuffle-join path (polygon side too big to broadcast): explicit
        # two-level salting of hot cells + AQE skew-join as backstop
        joined = salted_join(s, t, hot_cells(s) if salt_skew else {})
        # AQE coalesces the post-join partitions by BYTES; candidate
        # rows are small but each costs ~ms in the exact-geometry refine
        # downstream, so a 10 MB candidate set would collapse to 1-2
        # tasks and run the Python stage nearly serial (measured 9.8 s
        # vs 2.7 s on 53k triangle×cell pairs).  Pin the refine's
        # parallelism with an explicit round-robin repartition — AQE
        # does not coalesce user-specified repartitions.
        joined = joined.repartition(
            joined.sparkSession.sparkContext.defaultParallelism
        )
    ref_cell = _cell_of(
        grid,
        F.greatest("__s_xmin", "__t_xmin"),
        F.greatest("__s_ymin", "__t_ymin"),
    )
    # fine cells: reference-point dedup; sentinel cells: the pair met
    # exactly once by construction, but needs the explicit bbox-overlap
    # check the cell co-location no longer provides
    overlap = (
        (F.col("__s_xmin") <= F.col("__t_xmax"))
        & (F.col("__s_xmax") >= F.col("__t_xmin"))
        & (F.col("__s_ymin") <= F.col("__t_ymax"))
        & (F.col("__s_ymax") >= F.col("__t_ymin"))
    )
    keep = F.when(F.col("cell_id") < 0, overlap).otherwise(
        ref_cell == F.col("cell_id")
    )
    joined = joined.filter(keep)
    drop = ["cell_id"] + [f"{p}{b}" for p in ("__s_", "__t_") for b in BOUNDS]
    return joined.drop(*drop)


def within_distance(
    points: DataFrame,
    targets: DataFrame,
    distance: float,
    point_id: str = "entity_id",
    target_id: str = "target_id",
    x: str = "lon",
    y: str = "lat",
    grid: CellGrid | None = None,
    target_bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    max_cells: int | None = 4096,
) -> DataFrame:
    """Range spatial join (ST_DWithin): every (point, target) pair whose
    exact point-to-bbox distance is ≤ ``distance``, with the distance.

    Plan: the target bounds are DILATED by ``distance`` before the cell
    cover, so the ordinary ``candidate_pairs`` equi-join (a point is a
    degenerate rect — one cover cell, one join row) surfaces exactly
    the point-in-dilated-bbox superset; the exact distance
    (LEAST/GREATEST clamp + sqrt, whole-stage codegen) refines it.
    Pair uniqueness needs no dedup: a point inside the dilated bbox
    shares its own cell as the reference point, and a point outside it
    is farther than ``distance`` by construction.  Oversized targets
    ride the same sentinel bounded-fan-out protocol as every other
    spatial join (``max_cells``).

    Scale: one broadcast (or salted-shuffle) equi-join, zero Python,
    zero windows; the 10^12-row point side emits exactly one row per
    point into the join."""
    if grid is None:
        grid = DEFAULT_GRID
    d = float(distance)
    tx0, ty0, tx1, ty1 = (F.col(c) for c in target_bounds)
    tgt = targets.select(
        F.col(target_id).alias("__wd_tid"),
        tx0.alias("__wd_x0"),
        ty0.alias("__wd_y0"),
        tx1.alias("__wd_x1"),
        ty1.alias("__wd_y1"),
        (tx0 - F.lit(d)).alias("__wd_dx0"),
        (ty0 - F.lit(d)).alias("__wd_dy0"),
        (tx1 + F.lit(d)).alias("__wd_dx1"),
        (ty1 + F.lit(d)).alias("__wd_dy1"),
    )
    pts = points.select(F.col(point_id).alias("__wd_pid"), x, y)
    cand = candidate_pairs(
        pts,
        tgt,
        grid,
        source_geom=None,
        target_geom=None,
        broadcast_targets=True,
        source_bounds=(x, y, x, y),
        target_bounds=("__wd_dx0", "__wd_dy0", "__wd_dx1", "__wd_dy1"),
        max_cells=max_cells,
    )
    px, py = F.col(x), F.col(y)
    ddx = F.greatest(F.col("__wd_x0") - px, px - F.col("__wd_x1"), F.lit(0.0))
    ddy = F.greatest(F.col("__wd_y0") - py, py - F.col("__wd_y1"), F.lit(0.0))
    dist = F.sqrt(ddx * ddx + ddy * ddy)
    return (
        cand.withColumn("__wd_dist", dist)
        .filter(F.col("__wd_dist") <= F.lit(d))
        .select(
            F.col("__wd_pid").alias(point_id),
            F.col("__wd_tid").alias(target_id),
            F.col("__wd_dist").alias("dist"),
        )
    )
