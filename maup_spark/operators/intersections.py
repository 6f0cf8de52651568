"""``intersections`` and ``prorate`` — the area-weighting workhorses.

Reference semantics (/root/reference/maup/intersections.py:9-99):

- ``intersections(sources, targets)`` → every nonempty pairwise
  intersection geometry, keyed (source, target); optional strict
  ``area > area_cutoff`` filter.
- ``prorate(relationship, data, weights)`` → disaggregate source data
  over relationship rows by weight, then sum (or other agg) per target.

Physical plans (geometry bytes never ride the candidate join):

- **rect layers** (``rect_layers=True``, both sides carry bbox
  columns): the whole refine is codegen'd LEAST/GREATEST arithmetic —
  zero Python, zero geometry transfer.
- **general polygons, small target layer** (``broadcast_targets=True``):
  targets are collected into a SparkContext broadcast {id: wkb};
  candidates carry only ids + source WKB; the exact overlay
  (``spatial.refine("intersection", ...)``) resolves targets from the
  broadcast.
- **general polygons, BIG target layer** (``broadcast_targets=False``):
  no collect anywhere — target WKB shards across the cluster inside the
  salted cell shuffle join (hot cells get two-level salting, AQE skew
  join is the backstop) and the same refine reads both WKB columns.

``prorate`` is two equi-joins plus a hash aggregation — fully
codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geom import vector as V
from ..index.cells import CellGrid
from .spatial import DEFAULT_GRID, ById, candidate_pairs, geom_broadcast, refine


def intersections(
    sources: DataFrame,
    targets: DataFrame,
    source_id: str = "source_id",
    target_id: str = "target_id",
    area_cutoff: float | None = None,
    grid: CellGrid = DEFAULT_GRID,
    broadcast_targets: bool = True,
    source_bounds: tuple | None = None,
    target_bounds: tuple | None = None,
    rect_layers: bool = False,
    keep_geometry: bool = True,
    carry_source_cols: tuple = (),
    exact_kernel: str = "auto",
    max_cells: int | None = 4096,
) -> DataFrame:
    """All nonempty pairwise intersections.

    ``carry_source_cols`` rides extra source columns through to the
    output (e.g. the data column being prorated) — avoids a second
    full-size join downstream.  ``exact_kernel="auto"`` (default) lets
    convex single-ring pairs with interior overlap clip via the
    Sutherland–Hodgman fast path (~50× the arrangement's throughput on
    polygon×lattice overlays); ``"arrangement"`` pins every non-rect
    pair to the general planar-arrangement kernel.

    Returns ``DataFrame[source_id, target_id, geometry, area, length]``.
    Mixed-dimension results (shared edges → lines, corner touches →
    points) are kept, as the reference keeps every nonempty geometry
    (/root/reference/maup/indexed_geometries.py:31-34); ``area_cutoff``
    applies the strict ``area > cutoff`` filter of
    /root/reference/maup/intersections.py:48-51.  The reference's
    ``output_type`` switch (MultiIndex GeoSeries vs range-indexed
    GeoDataFrame, :9-53) is a pandas-index artifact — both are this
    same (source, target, geometry) relation, which is the only shape a
    DataFrame engine has.
    """
    if rect_layers:
        if not (source_bounds and target_bounds):
            raise ValueError("rect_layers requires bounds columns on both sides")
        return _rect_intersections(
            sources,
            targets,
            source_id,
            target_id,
            area_cutoff,
            grid,
            broadcast_targets,
            source_bounds,
            target_bounds,
            keep_geometry,
            carry_source_cols,
            max_cells,
        )

    src = sources.select(
        F.col(source_id).alias("__sid"),
        F.col("geometry").alias("__sgeom"),
        *(source_bounds or ()),
        *carry_source_cols,
    )
    tgt_small = targets.select(
        F.col(target_id).alias("__tid"),
        F.col("geometry").alias("__tgeom"),
        *(target_bounds or ()),
    )
    # small target layer: geometry rides a SparkContext broadcast
    # {id: wkb} and the candidate join carries ids only.  Target layer
    # too big for one driver dict: NO collect anywhere — target WKB
    # shards across the cluster by cell region inside the salted shuffle
    # join (candidate_pairs salts hot cells, AQE skew join is the
    # backstop) and the refine reads both WKB columns
    cand = candidate_pairs(
        src,
        tgt_small,
        grid,
        "__sgeom",
        "__tgeom",
        broadcast_targets=broadcast_targets,
        source_bounds=source_bounds,
        target_bounds=target_bounds,
        drop_target_geom=broadcast_targets,
        max_cells=max_cells,
    )
    tgeom = (
        ById(F.col("__tid"), geom_broadcast(tgt_small, "__tid", "__tgeom"))
        if broadcast_targets
        else F.col("__tgeom")
    )
    ix_col = refine(
        "intersection",
        F.col("__sgeom"),
        tgeom,
        convex_fast=exact_kernel != "arrangement",
        with_wkb=keep_geometry,
    )
    geom_col = (
        F.col("__ix.wkb")
        if keep_geometry
        else F.lit(None).cast("binary")
    )
    out = (
        cand.withColumn("__ix", ix_col)
        .filter(~F.col("__ix.is_empty"))
        .select(
            F.col("__sid").alias(source_id),
            F.col("__tid").alias(target_id),
            geom_col.alias("geometry"),
            F.col("__ix.area").alias("area"),
            F.col("__ix.length").alias("length"),
            *carry_source_cols,
        )
    )
    if area_cutoff is not None:
        out = out.filter(F.col("area") > F.lit(float(area_cutoff)))
    return out


def _rect_intersections(
    sources,
    targets,
    source_id,
    target_id,
    area_cutoff,
    grid,
    broadcast_targets,
    source_bounds,
    target_bounds,
    keep_geometry,
    carry_source_cols=(),
    max_cells: int | None = 4096,
) -> DataFrame:
    """Pure-JVM rect×rect overlay: LEAST/GREATEST arithmetic inside
    whole-stage codegen; degenerate (edge/corner touch) intersections
    keep reference semantics (nonempty, zero area)."""
    src = sources.select(
        F.col(source_id).alias("__sid"), *source_bounds, *carry_source_cols
    )
    tgt = targets.select(F.col(target_id).alias("__tid"), *target_bounds)
    cand = candidate_pairs(
        src,
        tgt,
        grid,
        source_geom=None,
        target_geom=None,
        broadcast_targets=broadcast_targets,
        source_bounds=source_bounds,
        target_bounds=target_bounds,
        max_cells=max_cells,
    )
    sx0, sy0, sx1, sy1 = (F.col(c) for c in source_bounds)
    tx0, ty0, tx1, ty1 = (F.col(c) for c in target_bounds)
    x0 = F.greatest(sx0, tx0)
    y0 = F.greatest(sy0, ty0)
    x1 = F.least(sx1, tx1)
    y1 = F.least(sy1, ty1)
    w = x1 - x0
    h = y1 - y0
    out = (
        cand.withColumn("__w", w)
        .withColumn("__h", h)
        .filter((F.col("__w") >= 0) & (F.col("__h") >= 0))
        .withColumn(
            "area",
            F.when(
                (F.col("__w") > 0) & (F.col("__h") > 0), F.col("__w") * F.col("__h")
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "length",
            F.when(
                (F.col("__w") > 0) & (F.col("__h") > 0),
                2.0 * (F.col("__w") + F.col("__h")),
            ).otherwise(F.col("__w") + F.col("__h")),
        )
    )
    if keep_geometry:

        def rect_geom(bx0, by0, bx1, by1):
            return V.batch_rect_wkb(
                bx0.to_numpy(), by0.to_numpy(), bx1.to_numpy(), by1.to_numpy()
            )

        geom_udf = F.pandas_udf(rect_geom, "binary").asNondeterministic()
        out = out.withColumn("geometry", geom_udf(x0, y0, x1, y1))
    else:
        out = out.withColumn("geometry", F.lit(None).cast("binary"))
    out = out.select(
        F.col("__sid").alias(source_id),
        F.col("__tid").alias(target_id),
        "geometry",
        "area",
        "length",
        *carry_source_cols,
    )
    if area_cutoff is not None:
        out = out.filter(F.col("area") > F.lit(float(area_cutoff)))
    return out


def prorate(
    relationship: DataFrame,
    data: DataFrame,
    weights_col: str = "weight",
    columns: list[str] | None = None,
    source_id: str = "source_id",
    target_id: str = "target_id",
    aggregate_by: str = "sum",
) -> DataFrame:
    """Move ``columns`` of ``data`` (keyed by source) onto targets using
    per-(source,target) weights in ``relationship``.

    relationship: DataFrame[source_id, target_id, weights_col]
    data:         DataFrame[source_id, columns...]
    Returns       DataFrame[target_id, columns...] aggregated.
    """
    columns = columns or [c for c in data.columns if c != source_id]
    joined = relationship.join(data, source_id)
    disagg = joined.select(
        target_id,
        *[(F.col(c) * F.col(weights_col)).alias(c) for c in columns],
    )
    agg_fn = getattr(F, aggregate_by)
    return disagg.groupBy(target_id).agg(*[agg_fn(c).alias(c) for c in columns])
