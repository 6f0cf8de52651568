"""Distributed ``assign``: the flagship operator.

Semantics mirror /root/reference/maup/assign.py:13-54 exactly:

1. *assign by covering* — a source fully covered by a target gets that
   target; sources covered by more than one target (overlapping targets)
   are dropped back to phase 2 (/root/reference/maup/indexed_geometries.py:58-71);
2. *assign by area* — remaining sources go to the target with the
   largest positive intersection area; ties break to the smallest target
   id (pandas ``idxmax`` takes the first occurrence of the (source,
   target)-sorted pieces, /root/reference/maup/assign.py:49-50 +
   /root/reference/maup/intersections.py:43-46);
3. anything still unmatched stays ``NULL`` (the reference's NaN +
   ``AssigmentWarning``).

Physical plan: exploded-cell broadcast hash join → vectorized exact
refine (``spatial.refine``: PIP for points, fused covers + area for
polygons) → ONE map-side-combinable ``min(struct)`` hash aggregation
per source that picks the covering target or the top-1 by area.  The
shuffles are that aggregation and the left re-join that keeps
candidate-less sources (skipped by ``only_assigned``); the candidate
join is broadcast (polygon layers are the small side).  A kNN fallback
for points outside every target joins the unmatched minority against
targets on a *coarsened* cell grid (one ring at 2^coarsen cell
granularity) and picks the winner by exact vectorized point→boundary
distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from ..index.cells import CellGrid
from .spatial import (
    DEFAULT_GRID,
    ById,
    candidate_pairs,
    geom_broadcast,
    point_cell_col,
    refine,
    with_cell_cover,
)


def assign_points(
    points: DataFrame,
    targets: DataFrame,
    point_id: str = "entity_id",
    target_id: str = "district_id",
    x: str = "lon",
    y: str = "lat",
    grid: CellGrid = DEFAULT_GRID,
    target_bounds: tuple | None = None,
    targets_are_rects: bool = False,
    knn_fallback: bool = False,
    knn_coarsen: int = 3,
    broadcast_targets: bool = True,
) -> DataFrame:
    """Point-in-polygon assignment of points to a polygon layer.

    Returns ``DataFrame[point_id, target_id, method]`` with one row per
    input point; ``target_id`` NULL = unassigned (maup's NaN).  The
    point side never leaves the JVM until the PIP refine; its cell id is
    a codegen'd expression.  ``broadcast_targets=False`` (10^6+ polygon
    layers): target WKB shards across the cluster through a shuffle
    cell join instead of a driver dict; the kNN fallback still
    broadcasts (it touches only the unmatched minority).
    """
    pts = points.select(point_id, x, y).withColumn(
        "cell_id", point_cell_col(grid, x, y)
    )
    tgt_small = targets.select(
        F.col(target_id).alias("__tid"),
        F.col("geometry").alias("__tgeom"),
        *(target_bounds or ()),
    )
    keep_geom = not (targets_are_rects and target_bounds) and not broadcast_targets
    # rect targets never need the driver-side geometry dict: PIP and the
    # fused kNN distance are both codegen'd bounds arithmetic
    bc = geom_broadcast(tgt_small, "__tid", "__tgeom") if (
        (broadcast_targets or knn_fallback)
        and not (targets_are_rects and target_bounds)
    ) else None
    # Bounded fan-out for the broadcast-geometry path (bc already holds
    # every target WKB on the driver, so the oversized check is FREE —
    # no extra Spark job): a continent-sized target would explode its
    # bbox cover into up to 2^(2·res) broadcast rows; instead it leaves
    # the cover and meets the points through a gated bbox nested-loop
    # branch (only present when outliers actually exist).
    big_tids: list = []
    if bc is not None and broadcast_targets:
        from ..geom import vector as V

        items = list(bc.value.items())
        bnds = V.batch_bounds([w for _, w in items])
        for (tid, _), bxmin, bymin, bxmax, bymax in zip(
            items, bnds["xmin"], bnds["ymin"], bnds["xmax"], bnds["ymax"]
        ):
            nx = int((bxmax - bxmin) // grid.wx) + 1
            ny = int((bymax - bymin) // grid.wy) + 1
            if min(nx, grid.n) * min(ny, grid.n) > 4096:
                big_tids.append(tid)
    cover_src = tgt_small
    if big_tids:
        cover_src = tgt_small.filter(~F.col("__tid").isin(big_tids))
    tgt = with_cell_cover(
        cover_src,
        grid,
        geom_col="__tgeom",
        bounds_cols=target_bounds,
    )
    if not keep_geom:
        tgt = tgt.drop("__tgeom")
    # LEFT join keeps every point (NULL __tid when no target covers its
    # cell), so a single groupBy produces the full one-row-per-point
    # result — the only shuffle in the operator.  A point interior to 2+
    # overlapping targets falls through to NULL (the reference drops
    # multi-covered sources, /root/reference/maup/indexed_geometries.py:58-71).
    cand = pts.join(
        F.broadcast(tgt) if broadcast_targets else tgt, "cell_id", "left"
    )
    if big_tids:
        from .spatial import with_bounds

        big_df = with_bounds(
            tgt_small.filter(F.col("__tid").isin(big_tids)).select(
                "__tid", "__tgeom"
            ),
            "__tgeom",
        ).drop("__tgeom")
        in_bbox = (
            (F.col(x) >= F.col("__b_xmin"))
            & (F.col(x) <= F.col("__b_xmax"))
            & (F.col(y) >= F.col("__b_ymin"))
            & (F.col(y) <= F.col("__b_ymax"))
        )
        big_cand = pts.join(F.broadcast(big_df), in_bbox, "inner")
        cand = cand.unionByName(big_cand, allowMissingColumns=True)
    if targets_are_rects and target_bounds:
        # rect targets: PIP is codegen'd bounds arithmetic — the whole
        # operator is JVM-only.  Closed bounds reproduce the reference's
        # covers semantics exactly: a boundary point is covered by BOTH
        # adjacent rects, so the multi-cover drop nulls it
        # (/root/reference/maup/indexed_geometries.py:58-71)
        bx0, by0, bx1, by1 = (F.col(c) for c in target_bounds)
        inside = (
            (F.col(x) >= bx0)
            & (F.col(x) <= bx1)
            & (F.col(y) >= by0)
            & (F.col(y) <= by1)
        )
    else:
        tgeom = ById(F.col("__tid"), bc) if broadcast_targets else F.col("__tgeom")
        inside = refine("pip", F.col(x), F.col(y), tgeom)
    hit_tid = F.when(F.col("__tid").isNotNull() & inside, F.col("__tid"))
    # NOTE (round 6, measured): a fully FUSED layout — union the
    # coarse-ring kNN candidates of EVERY point with the PIP candidates
    # and aggregate once — was implemented and benchmarked at sf0.1:
    # 2.47 s best-of-5 vs 1.83 s for this two-phase shape, because the
    # ring join emits ~15 candidate rows per point for 100% of points
    # while only the unmatched minority (14% here, less on real layers)
    # ever needs them.  The minority-only second pass is also the scale
    # winner: map-side ring work is proportional to the unmatched
    # fraction, and the phase-1 persist is one result-sized cache, not
    # a 9-15× candidate blow-up of the full corpus.
    out = (
        cand.withColumn("__hit", hit_tid)
        .groupBy(point_id)
        .agg(
            F.min("__hit").alias("__tid"),
            # a point occupies exactly ONE cell, so each target appears at
            # most once per point: plain count == count distinct, without
            # the expand+exchange a count_distinct would add to the plan
            F.count("__hit").alias("__n"),
            F.first(x).alias(x),
            F.first(y).alias(y),
        )
        .select(
            point_id,
            x,
            y,
            F.when(F.col("__n") == 1, F.col("__tid")).alias(target_id),
        )
        .withColumn(
            "method", F.when(F.col(target_id).isNotNull(), F.lit("covering"))
        )
    )

    if knn_fallback:
        # phase-1 is persisted (both branches below filter it), and the
        # kNN result joins ONLY the unmatched minority — the matched
        # majority flows through as a bare union, never re-shuffled
        # (previously the full phase-1 output left-joined the kNN rows:
        # a result-sized exchange to patch a minority)
        out = out.persist()
        matched = out.filter(F.col(target_id).isNotNull()).select(
            point_id, target_id, "method"
        )
        unmatched = out.filter(F.col(target_id).isNull()).select(point_id, x, y)
        near = _knn_points(
            unmatched, targets, point_id, target_id, x, y, grid,
            target_bounds, knn_coarsen, bc, targets_are_rects,
        ).withColumnRenamed(target_id, "__knn_tid")
        fallback = unmatched.join(near, point_id, "left").select(
            point_id,
            F.col("__knn_tid").alias(target_id),
            F.when(F.col("__knn_tid").isNotNull(), F.lit("knn")).alias(
                "method"
            ),
        )
        return matched.unionByName(fallback)
    return out.select(point_id, target_id, "method")


def _knn_candidates(
    points: DataFrame,
    targets: DataFrame,
    target_id: str,
    x: str,
    y: str,
    grid: CellGrid,
    target_bounds: tuple,
    coarsen: int,
) -> DataFrame:
    """Coarse-ring kNN candidate rows for RECT targets (codegen dist):
    (point_id..., __dist, __ktid), one row per (point, nearby target)
    pair, deduped by the caller's min-aggregation.  The fused
    assign_points path unions these with the PIP candidates.

    The ±1-cell ring is dilated on the TARGET side (the broadcast
    build: each clamped cover cell explodes to its ≤9 neighbors,
    UNCLIPPED, deduped per target), so the point side — 10^12 rows at
    design scale — emits exactly ONE row per point into the join and
    each (point, target) pair surfaces once, where a point-side ring
    explode multiplies the big side 9× and duplicates pairs up to 9×
    before the agg.  The join is on the raw unclamped (ix, iy) index
    pair, which reproduces the original ring semantics bit-for-bit
    (point index unclamped-then-ring-filtered, target cover clamped:
    candidate iff tix0 <= ix+1 AND tix1 >= ix-1 ... ) — the driver
    oracle encodes exactly that rule."""
    coarse = CellGrid(grid.x0, grid.y0, grid.x1, grid.y1, max(0, grid.res - coarsen))
    n = F.lit(coarse.n)
    ix = F.floor((F.col(x) - F.lit(coarse.x0)) / F.lit(coarse.wx)).cast("long")
    iy = F.floor((F.col(y) - F.lit(coarse.y0)) / F.lit(coarse.wy)).cast("long")
    pts = points.withColumn("__ix", ix).withColumn("__iy", iy)
    tgt = with_cell_cover(
        targets.select(
            F.col(target_id).alias("__ktid"),
            F.col("geometry").alias("__tgeom"),
            *target_bounds,
        ),
        coarse,
        geom_col="__tgeom",
        bounds_cols=target_bounds,
    ).drop("__tgeom")
    cx = F.col("cell_id") % n
    cy = F.floor(F.col("cell_id") / n)
    dilated = (
        tgt.withColumn("__dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("__dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            (cx + F.col("__dx")).alias("__ix"),
            (cy + F.col("__dy")).alias("__iy"),
            "__ktid",
            *target_bounds,
        )
        .distinct()
    )
    cand = pts.join(F.broadcast(dilated), ["__ix", "__iy"]).drop(
        "__ix", "__iy"
    )
    bx0, by0, bx1, by1 = (F.col(c) for c in target_bounds)
    ddx = F.greatest(bx0 - F.col(x), F.col(x) - bx1, F.lit(0.0))
    ddy = F.greatest(by0 - F.col(y), F.col(y) - by1, F.lit(0.0))
    return cand.withColumn("__dist", F.sqrt(ddx * ddx + ddy * ddy)).drop(
        *target_bounds
    )


def _knn_points(
    unmatched: DataFrame,
    targets: DataFrame,
    point_id: str,
    target_id: str,
    x: str,
    y: str,
    grid: CellGrid,
    target_bounds: tuple | None,
    coarsen: int,
    bc=None,
    targets_are_rects: bool = False,
) -> DataFrame:
    """Nearest-target fallback for the unmatched minority.

    Join on a grid coarsened by ``coarsen`` levels with a ±1-cell ring;
    search radius is one coarse cell (2^coarsen fine cells).  Rect
    targets route through ``_knn_candidates`` (target-side ring
    dilation: one join row per point, each pair surfacing once);
    general polygons explode the point side to ≤9 coarse cells and pay
    the exact point→boundary distance UDF (vectorized per distinct
    target) on the plain coarse cover.
    """
    if targets_are_rects and target_bounds:
        cand = _knn_candidates(
            unmatched.select(point_id, x, y), targets, target_id, x, y,
            grid, target_bounds, coarsen,
        )
        return (
            cand.withColumnRenamed("__ktid", "__tid")
            .groupBy(point_id)
            .agg(F.min(F.struct("__dist", "__tid")).alias("__m"))
            .select(point_id, F.col("__m.__tid").alias(target_id))
        )
    coarse = CellGrid(grid.x0, grid.y0, grid.x1, grid.y1, max(0, grid.res - coarsen))
    if bc is None:
        bc = geom_broadcast(
            targets.select(
                F.col(target_id).alias("__tid"), F.col("geometry").alias("__tgeom")
            ),
            "__tid",
            "__tgeom",
        )

    n = F.lit(coarse.n)
    ix = F.floor((F.col(x) - F.lit(coarse.x0)) / F.lit(coarse.wx)).cast("long")
    iy = F.floor((F.col(y) - F.lit(coarse.y0)) / F.lit(coarse.wy)).cast("long")
    pts = (
        unmatched.withColumn("__ix", ix)
        .withColumn("__iy", iy)
        .withColumn("__jx", F.explode(F.sequence(F.col("__ix") - 1, F.col("__ix") + 1)))
        .withColumn("__jy", F.explode(F.sequence(F.col("__iy") - 1, F.col("__iy") + 1)))
        .filter(
            (F.col("__jx") >= 0)
            & (F.col("__jx") < n)
            & (F.col("__jy") >= 0)
            & (F.col("__jy") < n)
        )
        .withColumn("cell_id", F.col("__jy") * n + F.col("__jx"))
        .select(point_id, x, y, "cell_id")
    )
    tgt = with_cell_cover(
        targets.select(
            F.col(target_id).alias("__tid"),
            F.col("geometry").alias("__tgeom"),
            *(target_bounds or ()),
        ),
        coarse,
        geom_col="__tgeom",
        bounds_cols=target_bounds,
    ).drop("__tgeom")
    cand = pts.join(F.broadcast(tgt), "cell_id")
    dist = refine("distance", F.col(x), F.col(y), ById(F.col("__tid"), bc))
    # one partial-aggregating shuffle: min over (dist, tid) pairs is the
    # argmin with the deterministic smallest-id tie-break; duplicated
    # candidate rows (pair seen in several cells) are harmless under min
    return (
        cand.withColumn("__dist", dist)
        .groupBy(point_id)
        .agg(F.min(F.struct("__dist", "__tid")).alias("__m"))
        .select(point_id, F.col("__m.__tid").alias(target_id))
    )


def assign(
    sources: DataFrame,
    targets: DataFrame,
    source_id: str = "source_id",
    target_id: str = "target_id",
    grid: CellGrid = DEFAULT_GRID,
    source_bounds: tuple | None = None,
    target_bounds: tuple | None = None,
    warn_unassigned: bool = False,
    broadcast_targets: bool = True,
    layers_are_rects: bool = False,
    carry_source_cols: tuple = (),
    only_assigned: bool = False,
) -> DataFrame:
    """Polygon→polygon assignment (reference semantics above).

    Returns ``DataFrame[source_id, target_id, method]``, one row per
    source; NULL target = unassigned.  ``warn_unassigned=True`` emits
    the reference's AssignmentWarning with the NULL count
    (/root/reference/maup/assign.py:29-35) — opt-in because the count
    is an extra Spark job on the hot path.  ``broadcast_targets=False``
    ships target WKB through the salted shuffle join (no driver dict).

    ``layers_are_rects=True`` (both bounds tuples required) replaces
    the Arrow covers+area refine with codegen'd bounds arithmetic —
    covering = closed-bounds subset, area = LEAST/GREATEST overlap —
    the zero-Python plan for raster-tile-shaped layers (same IEEE ops
    as the SQL oracle, so results are bit-identical by construction).
    """
    if layers_are_rects:
        if not (source_bounds and target_bounds):
            raise ValueError("layers_are_rects requires both bounds tuples")
        # bounds-only projection: the geometry column (often itself a
        # synthesized/parsed expression) never enters the plan at all
        src = sources.select(
            F.col(source_id).alias("__sid"), *source_bounds, *carry_source_cols
        )
        tgt = targets.select(F.col(target_id).alias("__tid"), *target_bounds)
        cand = candidate_pairs(
            src, tgt, grid, None, None,
            source_bounds=source_bounds, target_bounds=target_bounds,
            broadcast_targets=broadcast_targets,
        )
    else:
        src = sources.select(
            F.col(source_id).alias("__sid"),
            F.col("geometry").alias("__sgeom"),
            *(source_bounds or ()),
            *carry_source_cols,
        )
        tgt = targets.select(
            F.col(target_id).alias("__tid"),
            F.col("geometry").alias("__tgeom"),
            *(target_bounds or ()),
        )
        cand = candidate_pairs(
            src, tgt, grid, "__sgeom", "__tgeom",
            source_bounds=source_bounds, target_bounds=target_bounds,
            broadcast_targets=broadcast_targets,
            drop_target_geom=broadcast_targets,
        )
    # FUSED refine: one Arrow pass computes (covers, area) per candidate
    # pair — the two-phase covering-then-area formulation ran two
    # candidate joins and shipped every batch to Python twice.
    # Semantics preserved exactly: a source covered by EXACTLY ONE
    # target takes it (method 'covering'); otherwise the max-positive-
    # area target wins, smallest target id on ties (method 'area').
    if layers_are_rects:
        sx0, sy0, sx1, sy1 = (F.col(c) for c in source_bounds)
        tx0, ty0, tx1, ty1 = (F.col(c) for c in target_bounds)
        ww = F.least(sx1, tx1) - F.greatest(sx0, tx0)
        hh = F.least(sy1, ty1) - F.greatest(sy0, ty0)
        pairs = cand.select(
            "__sid",
            "__tid",
            ((tx0 <= sx0) & (sx1 <= tx1) & (ty0 <= sy0) & (sy1 <= ty1))
            .alias("__cov"),
            F.when((ww > 0) & (hh > 0), ww * hh).otherwise(F.lit(0.0))
            .alias("__area"),
            *carry_source_cols,
        )
    else:
        tgeom = (
            ById(F.col("__tid"), geom_broadcast(tgt, "__tid", "__tgeom"))
            if broadcast_targets
            else F.col("__tgeom")
        )
        ca = refine("covers_area", tgeom, F.col("__sgeom"))
        pairs = cand.withColumn("__ca", ca).select(
            "__sid",
            "__tid",
            F.col("__ca.covers").alias("__cov"),
            F.col("__ca.area").alias("__area"),
            *carry_source_cols,
        )
    # ONE map-side-combinable hash aggregation replaces the former
    # two-window formulation (count-of-covers window + row_number
    # window): min(struct(-area, tid)) IS the (area DESC, tid ASC)
    # top-1 — identical rows, ties and all — while the windows paid an
    # exchange + per-partition sort of every candidate pair and, at
    # scale, serialized a hot source into one sort task where the agg
    # combines map-side.  Covering pick: with exactly one covering
    # target, min(when(cov, tid)) is that target.
    agg = pairs.groupBy("__sid").agg(
        F.sum(F.col("__cov").cast("int")).alias("__ncov"),
        F.min(F.when(F.col("__cov"), F.col("__tid"))).alias("__ctid"),
        F.min(
            F.when(
                F.col("__area") > 0,
                F.struct(
                    (-F.col("__area")).alias("na"),
                    F.col("__tid").alias("t"),
                ),
            )
        ).alias("__ab"),
        *[F.first(c).alias(c) for c in carry_source_cols],
    )
    best = agg.select(
        F.col("__sid").alias(source_id),
        F.when(F.col("__ncov") == 1, F.col("__ctid"))
        .otherwise(F.col("__ab.t"))
        .alias(target_id),
        F.when(F.col("__ncov") == 1, F.lit("covering"))
        .when(F.col("__ab").isNotNull(), F.lit("area"))
        .alias("method"),
        *carry_source_cols,
    )
    if only_assigned:
        # candidate-less sources are absent and NULL-target rows keep
        # their NULL: callers that drop unassigned rows anyway (the
        # aggregate idiom) skip the per-source re-join entirely
        out = best
    else:
        out = (
            sources.select(source_id)
            .join(best, source_id, "left")
            .select(source_id, target_id, "method", *carry_source_cols)
        )
    if warn_unassigned:
        import warnings as _w

        from ..warnings_ import AssignmentWarning

        out = out.persist()
        n_null = out.filter(F.col(target_id).isNull()).count()
        if n_null:
            _w.warn(
                f"Warning: {n_null} units in the source geometry were "
                "unassigned.",
                AssignmentWarning,
            )
    return out


def assign_to_max(
    weights: DataFrame,
    source_id: str = "source_id",
    target_id: str = "target_id",
    weight: str = "weight",
) -> DataFrame:
    """Per-source argmax over a (source, target, weight) relationship —
    the reference's groupby-idxmax (/root/reference/maup/assign.py:49-54).
    Tie-break: smallest target id (pandas idxmax first-occurrence over
    (source,target)-sorted input).

    ONE hash aggregation: ``min(struct(-weight, target))`` is the
    (weight DESC, target ASC) top-1, map-side-combinable, so a hot
    source reduces per partition instead of serializing into one
    window-sort task.  NULL weights never win (``min`` would sort a NULL
    struct field first, so those rows are masked out); a source whose
    weights are all NULL keeps its row with a NULL target."""
    w = F.col(weight)
    best = weights.groupBy(source_id).agg(
        F.min(
            F.when(
                w.isNotNull(),
                F.struct((-w).alias("nw"), F.col(target_id).alias("t")),
            )
        ).alias("__b")
    )
    return best.select(source_id, F.col("__b.t").alias(target_id))
