from .assign import assign, assign_points, assign_to_max
from .intersections import intersections, prorate
from .normalize import normalize

__all__ = [
    "assign",
    "assign_points",
    "assign_to_max",
    "intersections",
    "prorate",
    "normalize",
]
