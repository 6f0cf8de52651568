"""maup_spark — a from-scratch PySpark-native spatial-join + tiling
engine with the operator semantics of mggg/maup (reference at
/root/reference, studied not ported).

Public API mirrors /root/reference/maup/__init__.py:28-45, re-expressed
over Spark DataFrames with WKB geometry columns:

- assign / assign_points / assign_to_max
- intersections / prorate / normalize
- adjacencies, doctor, close_gaps, resolve_overlaps, quick_repair,
  snap_to_grid, crop_to, expand_to  (operators.repair / adjacency)
- CellGrid spatial index, Geometry kernel (geom)
"""

from .index.cells import CellGrid
from .geom.base import Geometry
from .operators.adjacencies import (
    adjacencies,
    adjacency_stats,
    count_overlaps,
    islands,
)
from .operators.components import connected_components
from .operators.assign import (
    assign,
    assign_points,
    assign_to_max,
)
from .operators.aggregate import (
    aggregate_by_assignment,
    disaggregate_by_weight,
    progress,
)
from .operators.intersections import intersections, prorate
from .operators.normalize import normalize
from .operators.repair import (
    absorb_by_shared_perimeter,
    autorepair,
    close_gaps,
    count_holes,
    crop_to,
    doctor,
    expand_to,
    holes,
    holes_of_union,
    make_valid_df,
    quick_repair,
    remove_repeated_vertices,
    resolve_overlaps,
    snap_to_grid,
)
from .operators.smart_repair import smart_repair
from .operators.smart_repair_tiled import smart_repair_tiled
from .operators.spatial import adaptive_grid_for
from .operators.tiling import (
    count_holes_tiled,
    hole_components_tiled,
    holes_of_union_tiled,
    overlay_areas_tiled,
    union_area_tiled,
)
from .io.geo import read_geojson, wkb_to_wkt_col, wkt_to_wkb_col
from .session import get_spark
from .warnings_ import (
    AreaCroppingWarning,
    AssignmentWarning,
    IslandWarning,
    OverlapWarning,
)

__version__ = "0.1.0"

__all__ = [
    "AreaCroppingWarning",
    "AssignmentWarning",
    "CellGrid",
    "Geometry",
    "IslandWarning",
    "OverlapWarning",
    "aggregate_by_assignment",
    "disaggregate_by_weight",
    "progress",
    "read_geojson",
    "wkb_to_wkt_col",
    "wkt_to_wkb_col",
    "absorb_by_shared_perimeter",
    "adaptive_grid_for",
    "adjacencies",
    "adjacency_stats",
    "connected_components",
    "count_holes_tiled",
    "hole_components_tiled",
    "holes",
    "overlay_areas_tiled",
    "union_area_tiled",
    "assign",
    "autorepair",
    "assign_points",
    "assign_to_max",
    "close_gaps",
    "count_holes",
    "count_overlaps",
    "crop_to",
    "doctor",
    "expand_to",
    "get_spark",
    "holes_of_union",
    "holes_of_union_tiled",
    "intersections",
    "islands",
    "make_valid_df",
    "normalize",
    "prorate",
    "quick_repair",
    "remove_repeated_vertices",
    "resolve_overlaps",
    "smart_repair",
    "smart_repair_tiled",
    "snap_to_grid",
]
