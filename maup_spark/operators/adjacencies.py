"""``adjacencies`` — pairwise boundary relationships of one layer.

Reference semantics (/root/reference/maup/adjacencies.py:18-97): all
nonempty pairwise intersections with ``i < j``; ``rook`` keeps only
pairs sharing positive boundary length, ``queen`` keeps corner touches
too; positive-area pairs indicate overlaps (a data-quality signal),
ids missing from every pair are islands.

Spark plan: a cell self-join carrying ONLY ids and bbox columns
(geometry stays in a SparkContext broadcast; the pairwise exact overlay
resolves both sides from it — zero geometry bytes over the join),
``i < j`` pushed as a codegen'd filter before the UDF, reference-point
dedup.  For layers too large to broadcast, pass ``broadcast=False,
broadcast_geoms=False``: WKB ships through a two-level SALTED cell
self-join (geometry sharded by cell region across the cluster — the
100 TB shape) with AQE skew join as the backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.cells import CellGrid
from .spatial import (
    DEFAULT_GRID,
    ById,
    _cell_of,
    geom_broadcast,
    refine,
    with_cell_cover,
)


def adjacencies(
    geoms: DataFrame,
    id_col: str = "id",
    geom_col: str = "geometry",
    adjacency_type: str = "rook",
    grid: CellGrid = DEFAULT_GRID,
    broadcast: bool = True,
    broadcast_geoms: bool = True,
    bounds_cols: tuple | None = None,
) -> DataFrame:
    """Returns ``DataFrame[id_i, id_j, geometry, area, length]``.

    ``rook`` filters to ``length > 0``
    (/root/reference/maup/adjacencies.py:68-69); ``queen`` keeps every
    nonempty intersection including corner points.
    """
    if adjacency_type not in ("rook", "queen"):
        raise ValueError('adjacency_type must be "rook" or "queen"')

    base = geoms.select(
        F.col(id_col).alias("__gid"),
        F.col(geom_col).alias("__g"),
        *(bounds_cols or ()),
    )
    bc = geom_broadcast(base, "__gid", "__g") if broadcast_geoms else None

    left = with_cell_cover(
        base.select(
            F.col("__gid").alias("id_i"),
            F.col("__g").alias("__gi"),
            *(bounds_cols or ()),
        ),
        grid,
        geom_col="__gi",
        bounds_prefix="__i_",
        bounds_cols=bounds_cols,
    )
    right = with_cell_cover(
        base.select(
            F.col("__gid").alias("id_j"),
            F.col("__g").alias("__gj"),
            *(bounds_cols or ()),
        ),
        grid,
        geom_col="__gj",
        bounds_prefix="__j_",
        bounds_cols=bounds_cols,
    )
    if bounds_cols:
        left = left.drop(*bounds_cols)
        right = right.drop(*bounds_cols)
    if broadcast_geoms:
        left = left.drop("__gi")
        right = right.drop("__gj")
    if broadcast:
        right = F.broadcast(right)
        joined = left.join(right, "cell_id")
    else:
        # big-layer self-join: explicit two-level salting of hot cells
        # (dense urban tiles), AQE skew-join as backstop
        from .spatial import hot_cells, salted_join

        joined = salted_join(left, right, hot_cells(left))
    joined = joined.filter(F.col("id_i") < F.col("id_j"))
    ref_cell = _cell_of(
        grid,
        F.greatest("__i_xmin", "__j_xmin"),
        F.greatest("__i_ymin", "__j_ymin"),
    )
    joined = joined.filter(ref_cell == F.col("cell_id"))

    if broadcast_geoms:
        gi, gj = ById(F.col("id_i"), bc), ById(F.col("id_j"), bc)
    else:
        gi, gj = F.col("__gi"), F.col("__gj")
    joined = joined.withColumn("__ix", refine("intersection", gi, gj))
    out = joined.filter(~F.col("__ix.is_empty")).select(
        "id_i",
        "id_j",
        F.col("__ix.wkb").alias("geometry"),
        F.col("__ix.area").alias("area"),
        F.col("__ix.length").alias("length"),
    )
    if adjacency_type == "rook":
        out = out.filter(F.col("length") > 0)
    return out


def adjacency_stats(
    geoms: DataFrame,
    id_col: str = "id",
    warn_for_overlaps: bool = True,
    warn_for_islands: bool = True,
    **kw,
) -> dict:
    """Diag counters surfaced like doctor's dict, with the reference's
    warning contract (/root/reference/maup/adjacencies.py:71-97):
    OverlapWarning when positive-area pairs exist, IslandWarning when
    some geometry touches nothing.  Returns {n_pairs, n_overlaps,
    n_islands, pairs: DataFrame}."""
    import warnings as _w

    from ..warnings_ import IslandWarning, OverlapWarning

    adjs = adjacencies(geoms, id_col=id_col, adjacency_type="queen", **kw)
    adjs = adjs.persist()
    n_pairs = adjs.count()
    n_overlaps = adjs.filter(F.col("area") > 0).count()
    n_islands = islands(geoms, adjs, id_col).count()
    if warn_for_overlaps and n_overlaps:
        _w.warn(
            f"Warning: {n_overlaps} adjacent geometry pairs overlap with "
            "positive area. This can lead to unexpected results; consider "
            "resolve_overlaps()/smart_repair().",
            OverlapWarning,
        )
    if warn_for_islands and n_islands:
        _w.warn(
            f"Warning: {n_islands} geometries touch no other geometry "
            "(islands). This can lead to unexpected results; check the "
            "layer or use smart_repair().",
            IslandWarning,
        )
    return {
        "n_pairs": n_pairs,
        "n_overlaps": n_overlaps,
        "n_islands": n_islands,
        "pairs": adjs,
    }


def islands(geoms: DataFrame, adjs: DataFrame, id_col: str = "id") -> DataFrame:
    """Ids that appear in no adjacency pair
    (/root/reference/maup/adjacencies.py:81-89)."""
    touched = (
        adjs.select(F.col("id_i").alias(id_col))
        .unionByName(adjs.select(F.col("id_j").alias(id_col)))
        .distinct()
    )
    return geoms.select(id_col).distinct().join(touched, id_col, "left_anti")


def count_overlaps(geoms: DataFrame, id_col: str = "id", **kw) -> int:
    """Positive-area adjacency count (/root/reference/maup/repair.py:368-375)."""
    return (
        adjacencies(geoms, id_col=id_col, adjacency_type="queen", **kw)
        .filter(F.col("area") > 0)
        .count()
    )
