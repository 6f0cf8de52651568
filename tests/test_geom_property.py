"""Property-based tests for the geometry kernel (hypothesis).

Invariants that hold for ANY pair of valid polygons:
  area(A∪B) = area(A) + area(B) − area(A∩B)   (inclusion–exclusion)
  area(A−B) = area(A) − area(A∩B)
  A covers A∩B pieces; WKB round-trips exactly.
"""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from maup_spark.geom import (
    Geometry,
    difference,
    intersection,
    intersection_area,
    union_all,
)

# coordinates on a modest grid to exercise collinear/degenerate cases hard
coord = st.integers(min_value=0, max_value=12).map(float)


@st.composite
def rects(draw):
    x0, x1 = sorted((draw(coord), draw(coord)))
    y0, y1 = sorted((draw(coord), draw(coord)))
    if x0 == x1:
        x1 += 1
    if y0 == y1:
        y1 += 1
    return Geometry.polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


@st.composite
def convex_polys(draw):
    pts = draw(
        st.lists(st.tuples(coord, coord), min_size=3, max_size=8, unique=True)
    )
    arr = np.array(pts, dtype=float)
    # convex hull via numpy (gift wrapping on few points)
    hull = _hull(arr)
    if len(hull) < 3:
        return Geometry.polygon([(0, 0), (4, 0), (0, 4)])
    g = Geometry.polygon(hull)
    if g.area <= 0:
        return Geometry.polygon([(0, 0), (4, 0), (0, 4)])
    return g


def _hull(points: np.ndarray):
    pts = sorted(map(tuple, points))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


@settings(max_examples=60, deadline=None)
@given(rects(), rects())
def test_rect_pair_inclusion_exclusion(a, b):
    inter = intersection_area(a, b)
    u = union_all([a, b])
    assert abs(u.area - (a.area + b.area - inter)) < 1e-7
    d = difference(a, b)
    assert abs(d.area - (a.area - inter)) < 1e-7


@settings(max_examples=40, deadline=None)
@given(convex_polys(), convex_polys())
def test_convex_pair_inclusion_exclusion(a, b):
    inter = intersection_area(a, b)
    assert -1e-7 <= inter <= min(a.area, b.area) + 1e-7
    u = union_all([a, b])
    assert abs(u.area - (a.area + b.area - inter)) < 1e-7
    d = difference(a, b)
    assert abs(d.area - (a.area - inter)) < 1e-7


@settings(max_examples=40, deadline=None)
@given(convex_polys(), convex_polys())
def test_intersection_geometry_consistent(a, b):
    g = intersection(a, b)
    assert abs(g.area - intersection_area(a, b)) < 1e-7
    if g.area > 1e-6:
        # convex∩convex is convex: the vertex mean is strictly interior
        for rings in g.polygons():
            if abs(Geometry("Polygon", rings).area) < 1e-6:
                continue
            x = float(rings[0][:-1, 0].mean())
            y = float(rings[0][:-1, 1].mean())
            assert a.contains_point(x, y) and b.contains_point(x, y)


@settings(max_examples=40, deadline=None)
@given(convex_polys())
def test_wkb_roundtrip_property(g):
    g2 = Geometry.from_wkb(g.wkb)
    assert abs(g2.area - g.area) < 1e-12
    assert g2.bounds == g.bounds


@settings(max_examples=25, deadline=None)
@given(st.lists(rects(), min_size=1, max_size=5))
def test_union_monotone(polys):
    u = union_all(polys)
    total = sum(p.area for p in polys)
    assert u.area <= total + 1e-7
    assert u.area >= max(p.area for p in polys) - 1e-7


# ---- auto tier vs the pinned arrangement ---------------------------------
#
# Lattice shapes shifted by small integer offsets, so edge touches, corner
# touches, exact separations and multi-piece clips (a U's two arms across
# one rect) all occur.  Rings may start at any vertex and run either way.

_SHAPES = {
    "rect": [(0, 0), (4, 0), (4, 3), (0, 3)],
    "square": [(0, 0), (2, 0), (2, 2), (0, 2)],
    # convex, collinear vertices on two edges
    "hexagon": [(0, 0), (2, 0), (4, 0), (4, 2), (2, 4), (0, 2), (0, 1)],
    "triangle": [(0, 0), (4, 0), (0, 4)],
    "L": [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)],
    "U": [(0, 0), (6, 0), (6, 4), (4, 4), (4, 2), (2, 2), (2, 4), (0, 4)],
    "chevron": [(0, 0), (2, 2), (4, 0), (4, 4), (2, 6), (0, 4)],
}


@st.composite
def lattice_shapes(draw):
    pts = _SHAPES[draw(st.sampled_from(sorted(_SHAPES)))]
    k = draw(st.integers(0, len(pts) - 1))
    pts = pts[k:] + pts[:k]
    if draw(st.booleans()):
        pts = pts[::-1]
    dx, dy = draw(st.integers(0, 6)), draw(st.integers(0, 6))
    return Geometry.polygon([(x + dx, y + dy) for x, y in pts]).wkb


def _auto_vs_arrangement(pairs, with_wkb):
    import pandas as pd

    from maup_spark.geom import vector as V

    a = pd.Series([p[0] for p in pairs], dtype=object)
    b = pd.Series([p[1] for p in pairs], dtype=object)
    auto = V.batch_intersection(a, b, with_wkb=with_wkb)
    pinned = V.batch_intersection_arrangement(a, b, with_wkb=with_wkb)
    assert list(auto["is_empty"]) == list(pinned["is_empty"])
    assert np.allclose(auto["area"], pinned["area"], rtol=0.0, atol=1e-9)
    assert np.allclose(auto["length"], pinned["length"], rtol=0.0, atol=1e-9)
    if with_wkb:
        for i in range(len(pairs)):
            fa, fp = auto["wkb"][i], pinned["wkb"][i]
            if fa is None or fp is None:
                assert fa is fp
                continue
            assert Geometry.from_wkb(fa).gtype == Geometry.from_wkb(fp).gtype
            if auto["area"][i] == 0.0:
                assert fa == fp  # touch rows carry the arrangement's bytes


_POINT_TOUCH = (
    # convex side with a collinear vertex: the contact (3, 0) lies beyond
    # its first edge's span but inside its extent on that line
    Geometry.polygon([(0, 0), (2, 0), (4, 0), (4, 4), (0, 4)]).wkb,
    Geometry.polygon([(3, 0), (4, -2), (2, -2)]).wkb,
)


_NEAR_MISS = (
    # the L's inner edge x = 2 lies 1e-12 outside the rect: the clip
    # drops it, the arrangement snaps it onto the rect's edge
    Geometry.polygon([(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]).wkb,
    Geometry.polygon([(2 + 1e-12, 1), (5, 1), (5, 5), (2 + 1e-12, 5)]).wkb,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(lattice_shapes(), lattice_shapes()), min_size=1, max_size=12))
@example([_POINT_TOUCH, _NEAR_MISS])
def test_auto_tier_matches_arrangement_no_wkb(pairs):
    _auto_vs_arrangement(pairs, with_wkb=False)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(lattice_shapes(), lattice_shapes()), min_size=1, max_size=12))
@example([_POINT_TOUCH, _NEAR_MISS])
def test_auto_tier_matches_arrangement_wkb(pairs):
    _auto_vs_arrangement(pairs, with_wkb=True)


def _ngon(cx, cy, r, n):
    t = 2.0 * np.pi * np.arange(n) / n
    return Geometry.polygon(list(zip(cx + r * np.cos(t), cy + r * np.sin(t)))).wkb


_ELL = Geometry.polygon(
    [(-20, -20), (20, -20), (20, -5), (-5, -5), (-5, 20), (-20, 20)]
).wkb


def test_auto_tier_handles_rings_beyond_the_batch_budget():
    """Pairs whose padded product exceeds the pre-pass budget (two
    1,100-gons), and a clip whose result keeps ~2,000 of a 4,000-gon's
    vertices, skip the quadratic batch passes instead of failing.  The
    circles' crossing points are not on the lattice, so area and length
    are compared relative to their size (the arrangement snaps them)."""
    import pandas as pd

    from maup_spark.geom import vector as V

    pairs = [
        (_ngon(0, 0, 10, 1100), _ngon(5, 0, 10, 1100)),  # overlap
        (_ngon(0, 0, 10, 1100), _ngon(30, 0, 10, 1100)),  # apart
        (_ngon(0, 0, 10, 1100), _ngon(20, 0, 10, 1100)),  # point touch
        (_ELL, _ngon(0, 0, 10, 4000)),
        (_ngon(0, 0, 10, 4000), _ELL),
    ]
    # one row larger than the budget still makes one (non-empty) chunk
    assert [len(p) for p in V._chunks(np.array([1 << 17, 5]))] == [1, 1]
    a = pd.Series([p[0] for p in pairs], dtype=object)
    b = pd.Series([p[1] for p in pairs], dtype=object)
    for with_wkb in (False, True):
        auto = V.batch_intersection(a, b, with_wkb=with_wkb)
        pinned = V.batch_intersection_arrangement(a, b, with_wkb=with_wkb)
        assert list(auto["is_empty"]) == list(pinned["is_empty"])
        assert list(auto["is_empty"]) == [False, True, False, False, False]
        assert np.allclose(auto["area"], pinned["area"], rtol=1e-10, atol=1e-9)
        assert np.allclose(auto["length"], pinned["length"], rtol=1e-10, atol=1e-9)
        if with_wkb:
            for fa, fp in zip(auto["wkb"], pinned["wkb"]):
                if fa is None or fp is None:
                    assert fa is fp
                else:
                    ga, gp = Geometry.from_wkb(fa), Geometry.from_wkb(fp)
                    assert ga.gtype == gp.gtype
