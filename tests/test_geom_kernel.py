"""Unit tests for the from-scratch geometry kernel.

Fixture coordinates mirror the reference's conftest grids
(/root/reference/tests/conftest.py:14-103) so downstream operator tests
can assert exact parity.
"""

import numpy as np
import pytest

from maup_spark.geom import (
    Geometry,
    difference,
    holes_of_union_geom,
    intersection,
    intersection_area,
    union_all,
)


def sq(x0, y0, x1, y1):
    return Geometry.polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


@pytest.fixture
def four_square_grid():
    # same layout as reference four_square_grid (tests/conftest.py:14-30)
    return {
        "a": sq(0, 0, 1, 1),
        "b": sq(0, 1, 1, 2),
        "c": sq(1, 0, 2, 1),
        "d": sq(1, 1, 2, 2),
    }


def test_wkb_roundtrip():
    g = Geometry.polygon([(0, 0), (2, 0), (2, 2), (0, 2)], holes=[[(0.5, 0.5), (1, 0.5), (1, 1), (0.5, 1)]])
    g2 = Geometry.from_wkb(g.wkb)
    assert g2.gtype == "Polygon"
    assert abs(g2.area - (4 - 0.25)) < 1e-12
    assert abs(g2.length - (8 + 2)) < 1e-12

    p = Geometry.point(1.5, -2.5)
    assert Geometry.from_wkb(p.wkb).data.tolist() == [1.5, -2.5]

    mp = Geometry.multipolygon([[[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]],
                                [[(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]]])
    assert abs(Geometry.from_wkb(mp.wkb).area - 2.0) < 1e-12


def test_area_length_pip():
    g = sq(0, 0, 2, 2)
    assert g.area == 4.0
    assert g.length == 8.0
    assert g.contains_point(1, 1)
    assert not g.contains_point(3, 1)
    tri = Geometry.polygon([(0, 0), (4, 0), (0, 4)])
    assert tri.area == 8.0
    assert tri.contains_point(1, 1)
    assert not tri.contains_point(3, 3)


def test_intersection_area_rect_fastpath():
    assert intersection_area(sq(0, 0, 2, 2), sq(1, 1, 3, 3)) == 1.0
    assert intersection_area(sq(0, 0, 1, 1), sq(2, 2, 3, 3)) == 0.0
    assert intersection_area(sq(0, 0, 1, 1), sq(1, 0, 2, 1)) == 0.0  # edge touch


def test_intersection_area_general():
    tri = Geometry.polygon([(0, 0), (2, 0), (0, 2)])
    assert abs(intersection_area(tri, sq(0, 0, 1, 1)) - 1.0) < 1e-9
    # triangle clipped by half-overlapping square
    assert abs(intersection_area(tri, sq(0, 0, 2, 2)) - 2.0) < 1e-9
    assert abs(intersection_area(tri, sq(1, 1, 3, 3)) - 0.0) < 1e-12


def test_intersection_geometry_polygonal():
    g = intersection(sq(0, 0, 2, 2), sq(1, 1, 3, 3))
    assert abs(g.area - 1.0) < 1e-12
    b = g.bounds
    assert b == (1.0, 1.0, 2.0, 2.0)


def test_intersection_shared_edge_is_line(four_square_grid):
    a, c = four_square_grid["a"], four_square_grid["c"]
    g = intersection(a, c)
    assert g.area == 0.0
    assert abs(g.length - 1.0) < 1e-12  # shared edge x=1, y in [0,1]


def test_intersection_corner_touch_is_point(four_square_grid):
    a, d = four_square_grid["a"], four_square_grid["d"]
    g = intersection(a, d)
    assert g.area == 0.0
    assert g.length == 0.0
    pts = list(g.points())
    assert len(pts) == 1 and tuple(pts[0]) == (1.0, 1.0)


def test_union_two_overlapping():
    u = union_all([sq(0, 0, 2, 2), sq(1, 1, 3, 3)])
    assert abs(u.area - 7.0) < 1e-9
    assert u.gtype == "Polygon"


def test_union_disjoint_multipolygon():
    u = union_all([sq(0, 0, 1, 1), sq(5, 5, 6, 6)])
    assert u.gtype == "MultiPolygon"
    assert abs(u.area - 2.0) < 1e-12


def test_union_grid_dissolves(four_square_grid):
    u = union_all(list(four_square_grid.values()))
    assert abs(u.area - 4.0) < 1e-9
    assert u.gtype == "Polygon"
    assert abs(u.length - 8.0) < 1e-9  # internal edges dissolved


def test_difference():
    d = difference(sq(0, 0, 2, 2), sq(1, 1, 3, 3))
    assert abs(d.area - 3.0) < 1e-9
    # subtracting an interior square makes a hole
    d2 = difference(sq(0, 0, 3, 3), sq(1, 1, 2, 2))
    assert abs(d2.area - 8.0) < 1e-9
    assert d2.num_interior_rings == 1


def test_holes_of_union_pacman():
    # pacman + bar fixture (/root/reference/tests/test_holes.py:110-119)
    pacman = Geometry.polygon(
        [(0, 0), (0, 3), (2, 3), (2, 2), (1, 2), (1, 1), (2, 1), (2, 0)]
    )
    bar = sq(2, 0, 3, 3)
    gaps = holes_of_union_geom([pacman, bar])
    assert len(gaps) == 1
    assert abs(gaps[0].area - 1.0) < 1e-9
    assert gaps[0].bounds == (1.0, 1.0, 2.0, 2.0)


def test_nested_hole_island():
    # big square with hole, island inside the hole: union keeps all three rings
    big = Geometry.polygon(
        [(0, 0), (6, 0), (6, 6), (0, 6)], holes=[[(1, 1), (1, 5), (5, 5), (5, 1)]]
    )
    island = sq(2, 2, 4, 4)
    u = union_all([big, island])
    assert abs(u.area - (36 - 16 + 4)) < 1e-9
    gaps = holes_of_union_geom([big, island])
    # the gap is the annulus ring (its polygon spans the full hole ring)
    assert len(gaps) == 1
    assert abs(gaps[0].area - 16.0) < 1e-9


def test_covers(four_square_grid):
    b = four_square_grid["b"]
    inner = sq(0.25, 1.25, 0.75, 1.75)
    assert b.covers(inner)
    assert b.covers(b)  # exact self-cover
    assert not b.covers(sq(0.5, 0.5, 1.5, 1.5))


def test_make_valid_bowtie():
    bowtie = Geometry("Polygon", [np.array(
        [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]
    )])
    mv = bowtie.buffer0()
    assert abs(mv.area - 2.0) < 1e-9  # two triangles of area 1 each
    assert mv.gtype == "MultiPolygon"


def test_media_decode_is_stubbed():
    """The decode step must fail loudly (no codec libs in this env) while
    the surrounding plumbing stays real (see functions/multimodal.py)."""
    import pytest

    from maup_spark.functions.multimodal import decode_media

    with pytest.raises(NotImplementedError, match="stubbed"):
        decode_media(b"\x00\x01", "image")


def test_convex_fast_clip_matches_arrangement():
    """Sutherland–Hodgman fast path vs the general arrangement on
    convex pairs: identical areas (1e-9), identical emptiness; touch
    cases (zero-area) must produce the arrangement's line/point
    geometry, not a degenerate polygon."""
    import numpy as np
    import pandas as pd

    from maup_spark.geom import vector as V
    from maup_spark.geom.base import Geometry

    rng = np.random.RandomState(7)
    pairs = []
    for k in range(60):
        # random convex polygon: hull of random points, as a triangle fan
        pts = rng.rand(8, 2) * 4
        c = pts.mean(axis=0)
        ang = np.arctan2(pts[:, 1] - c[1], pts[:, 0] - c[0])
        hull = pts[np.argsort(ang)]
        poly = Geometry.polygon(np.vstack([hull, hull[:1]]))
        # clip rect overlapping, disjoint, or touching depending on k
        if k % 3 == 0:
            r = (1.0, 1.0, 3.0, 3.0)
        elif k % 3 == 1:
            r = (10.0, 10.0, 12.0, 12.0)
        else:
            x1 = float(hull[:, 0].max())
            r = (x1, 0.0, x1 + 2, 4.0)  # shares at most a boundary
        rect = Geometry.polygon(
            np.array([[r[0], r[1]], [r[2], r[1]], [r[2], r[3]],
                      [r[0], r[3]], [r[0], r[1]]])
        )
        pairs.append((poly.wkb, rect.wkb))
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    fast = V.batch_intersection(a, b)
    slow = V.batch_intersection_arrangement(a, b)
    assert list(fast["is_empty"]) == list(slow["is_empty"])
    assert np.allclose(fast["area"], slow["area"], atol=1e-9)
    assert np.allclose(fast["length"], slow["length"], atol=1e-9)
    # touch rows carry the arrangement's exact geometry either way
    for i in range(len(pairs)):
        if not fast["is_empty"][i] and fast["area"][i] == 0.0:
            assert fast["wkb"][i] == slow["wkb"][i]


def test_pentagram_not_classified_convex():
    """A pentagram ring turns consistently (every cross product the same
    sign) but winds twice and self-intersects — sign-consistency alone
    would send it down the Sutherland–Hodgman fast path and silently
    produce a different area than the arrangement kernel.  The total
    turning must be one revolution for the convex classification."""
    import numpy as np
    import pandas as pd

    from maup_spark.geom import vector as V
    from maup_spark.geom.base import Geometry

    ang = np.pi / 2 + 2.0 * np.pi * (2.0 / 5.0) * np.arange(5)
    star = np.column_stack([2 + 2 * np.cos(ang), 2 + 2 * np.sin(ang)])
    ring = np.vstack([star, star[:1]])
    penta = Geometry("Polygon", [ring])
    assert V._convex_ring(penta) is None
    square = Geometry.polygon(
        np.array([[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]])
    )
    assert V._convex_ring(square) is not None  # sanity: turning check keeps real convex rings
    a = pd.Series([penta.wkb, square.wkb])
    b = pd.Series([square.wkb, square.wkb])
    fast = V.batch_intersection(a, b)
    slow = V.batch_intersection_arrangement(a, b)
    assert np.allclose(fast["area"], slow["area"], atol=1e-9)
    assert np.allclose(fast["length"], slow["length"], atol=1e-9)


def test_point_boundary_distance_matches_brute_force():
    """The kNN fallback's distance kernel against a scalar per-segment
    minimum over every ring of every part: holes and multipolygons
    count, boundary points are exactly 0.0, a NULL polygon is +inf."""
    import math

    import pandas as pd

    from maup_spark.geom import vector as V

    holed = Geometry.polygon(
        [(0, 0), (4, 0), (4, 4), (0, 4)], holes=[[(1, 1), (3, 1), (3, 3), (1, 3)]]
    )
    multi = Geometry.multipolygon(
        [
            [[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]],
            [[(5, 5), (7, 5), (6, 7), (5, 5)]],
        ]
    )
    tri = Geometry.polygon([(-2, -2), (2, -3), (0, 1)])

    def brute(x, y, g):
        best = math.inf
        for rings in g.polygons():
            for r in rings:
                for (x1, y1), (x2, y2) in zip(r[:-1].tolist(), r[1:].tolist()):
                    dx, dy = x2 - x1, y2 - y1
                    t = ((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy)
                    t = min(1.0, max(0.0, t))
                    best = min(best, math.hypot(x1 + t * dx - x, y1 + t * dy - y))
        return best

    rng = np.random.default_rng(3)
    rows = [(float(x), float(y), g) for g in (holed, multi, tri)
            for x, y in rng.uniform(-4, 9, size=(40, 2))]
    on_boundary = [
        (2.0, 0.0, holed), (2.0, 1.0, holed), (3.0, 3.0, holed),  # outer, hole edge, hole vertex
        (0.5, 1.0, multi), (6.0, 5.0, multi), (7.0, 5.0, multi),
        (0.0, 1.0, tri), (-2.0, -2.0, tri),
    ]
    rows += on_boundary
    xs = pd.Series([r[0] for r in rows] + [0.0])
    ys = pd.Series([r[1] for r in rows] + [0.0])
    wkbs = pd.Series([r[2].wkb for r in rows] + [None])
    got = V.batch_point_boundary_distance(xs, ys, wkbs).to_numpy()
    want = [brute(x, y, g) for x, y, g in rows]
    assert np.allclose(got[: len(rows)], want, rtol=0, atol=1e-12)
    assert (got[len(rows) - len(on_boundary) : len(rows)] == 0.0).all()
    assert got[-1] == math.inf
