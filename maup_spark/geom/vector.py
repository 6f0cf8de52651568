"""Arrow-batch geometry kernels for pandas UDFs.

All per-geometry Python in this engine is confined to these batch
functions, which a pandas UDF applies to whole Arrow record batches —
the vectorized replacement for the reference's per-row ``.apply`` /
``prep(...).covers`` loops (/root/reference/maup/indexed_geometries.py:43,
/root/reference/maup/repair.py:166-168).  Geometries repeated within a
batch (a district WKB replicated across candidate pairs) are parsed once
via an interning cache keyed on the raw bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .base import Geometry, points_in_rings
from .arrangement import intersection, intersection_area


def _parse_cache(wkbs: pd.Series) -> dict:
    cache: dict[bytes, Geometry] = {}
    for b in wkbs:
        if b is not None and b not in cache:
            cache[b] = Geometry.from_wkb(b)
    return cache


_RECT_WKB_LEN = 1 + 4 + 4 + 4 + 5 * 16  # LE polygon, 1 ring, 5 points


def batch_area(wkbs: pd.Series) -> pd.Series:
    cache = _parse_cache(wkbs)
    return pd.Series([cache[b].area if b is not None else np.nan for b in wkbs])


def batch_bounds(wkbs: pd.Series) -> pd.DataFrame:
    arr = batch_rect_bounds_arr(wkbs)
    slow = np.nonzero(np.isnan(arr[:, 0]))[0]
    if len(slow):
        cache: dict = {}
        get = wkbs.iloc if hasattr(wkbs, "iloc") else wkbs
        for i in slow:
            b = get[i]
            if b is None:
                continue
            r = cache.get(b)
            if r is None:
                r = cache[b] = Geometry.from_wkb(b).bounds
            arr[i] = r
    return pd.DataFrame(arr, columns=["xmin", "ymin", "xmax", "ymax"])


def _rows_by_polygon(wkbs: pd.Series):
    """(parsed polygon, row indices) per distinct non-null WKB in the
    batch — each geometry is parsed once, however many rows repeat it."""
    df = pd.DataFrame({"i": np.arange(len(wkbs))})
    for b, grp in df.groupby(wkbs.to_numpy(), sort=False):
        yield Geometry.from_wkb(b), grp["i"].to_numpy()


def batch_points_in_polygon(
    xs: pd.Series, ys: pd.Series, wkbs: pd.Series
) -> pd.Series:
    """Vectorized PIP: groups rows by identical polygon WKB and runs one
    numpy even-odd test per distinct polygon (the distributed analog of
    the reference's prepared-geometry reuse,
    /root/reference/maup/indexed_geometries.py:38-43).  NULL polygon ->
    False."""
    x = xs.to_numpy(dtype=np.float64)
    y = ys.to_numpy(dtype=np.float64)
    result = np.zeros(len(x), dtype=bool)
    for geom, idx in _rows_by_polygon(wkbs):
        inside = np.zeros(len(idx), dtype=bool)
        for rings in geom.polygons():
            inside ^= points_in_rings(x[idx], y[idx], rings)
        result[idx] = inside
    return pd.Series(result)


def batch_point_boundary_distance(
    xs: pd.Series, ys: pd.Series, wkbs: pd.Series
) -> pd.Series:
    """Exact point -> polygon-boundary distance (every ring of every
    part, holes included): one (points × segments) numpy sweep per
    distinct polygon.  A point on the boundary gets exactly 0.0; a NULL
    or ring-less polygon gets +inf."""
    px = xs.to_numpy(dtype=np.float64)
    py = ys.to_numpy(dtype=np.float64)
    out = np.full(len(px), np.inf)
    for geom, idx in _rows_by_polygon(wkbs):
        segs = [
            np.column_stack([r[:-1], r[1:]])
            for rings in geom.polygons()
            for r in rings
        ]
        if not segs:
            continue
        sg = np.vstack(segs)
        x1, y1, x2, y2 = sg[:, 0], sg[:, 1], sg[:, 2], sg[:, 3]
        dx, dy = x2 - x1, y2 - y1
        ll = np.where(dx * dx + dy * dy == 0, 1.0, dx * dx + dy * dy)
        t = ((px[idx, None] - x1) * dx + (py[idx, None] - y1) * dy) / ll
        t = np.clip(t, 0.0, 1.0)
        d = np.hypot(x1 + t * dx - px[idx, None], y1 + t * dy - py[idx, None])
        out[idx] = d.min(axis=1)
    return pd.Series(out)


_RECT_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"
_RECT_HDR_ARR = np.frombuffer(_RECT_HDR, dtype=np.uint8)


def batch_rect_bounds_arr(wkbs) -> np.ndarray:
    """(N, 4) [x0 y0 x1 y1] with NaN rows for non-rect geometries.

    All candidate rows are parsed in ONE numpy view over the
    concatenated 93-byte buffers — no per-row object churn.  A rect is a
    single-ring 5-point axis-aligned little-endian polygon with positive
    width and height.
    """
    n = len(wkbs)
    out = np.full((n, 4), np.nan)
    idx = [i for i, b in enumerate(wkbs) if b is not None and len(b) == _RECT_WKB_LEN]
    if not idx:
        return out
    buf = b"".join(wkbs.iloc[i] if hasattr(wkbs, "iloc") else wkbs[i] for i in idx)
    raw = np.frombuffer(buf, dtype=np.uint8).reshape(len(idx), _RECT_WKB_LEN)
    hdr_ok = (raw[:, :13] == _RECT_HDR_ARR).all(axis=1)
    coords = raw[:, 13:].copy().view("<f8").reshape(len(idx), 10)
    xs, ys = coords[:, 0::2], coords[:, 1::2]
    closed = (xs[:, 0] == xs[:, 4]) & (ys[:, 0] == ys[:, 4])
    axis = np.ones(len(idx), dtype=bool)
    for i in range(4):
        axis &= (xs[:, i + 1] == xs[:, i]) | (ys[:, i + 1] == ys[:, i])
    x0, x1 = xs.min(axis=1), xs.max(axis=1)
    y0, y1 = ys.min(axis=1), ys.max(axis=1)
    on_corners = (
        ((xs == x0[:, None]) | (xs == x1[:, None])).all(axis=1)
        & ((ys == y0[:, None]) | (ys == y1[:, None])).all(axis=1)
        & (x0 < x1)
        & (y0 < y1)
    )
    ok = hdr_ok & closed & axis & on_corners
    rows = np.asarray(idx)[ok]
    out[rows, 0] = x0[ok]
    out[rows, 1] = y0[ok]
    out[rows, 2] = x1[ok]
    out[rows, 3] = y1[ok]
    return out


def batch_rect_wkb(x0, y0, x1, y1) -> pd.Series:
    """Bulk-build axis-aligned rect WKBs: one (N, 93) uint8 buffer."""
    n = len(x0)
    raw = np.empty((n, _RECT_WKB_LEN), dtype=np.uint8)
    raw[:, :13] = _RECT_HDR_ARR
    coords = np.empty((n, 10))
    coords[:, 0], coords[:, 1] = x0, y0
    coords[:, 2], coords[:, 3] = x1, y0
    coords[:, 4], coords[:, 5] = x1, y1
    coords[:, 6], coords[:, 7] = x0, y1
    coords[:, 8], coords[:, 9] = x0, y0
    raw[:, 13:] = coords.astype("<f8").view(np.uint8).reshape(n, 80)
    flat = raw.tobytes()
    L = _RECT_WKB_LEN
    return pd.Series([flat[i * L : (i + 1) * L] for i in range(n)])


_TRI_WKB_LEN = 1 + 4 + 4 + 4 + 4 * 16  # LE polygon, 1 ring, 4 points
_TRI_HDR_ARR = np.frombuffer(
    b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x04\x00\x00\x00", dtype=np.uint8
)


def batch_tri_wkb(ax, ay, s: float) -> pd.Series:
    """Bulk-build lower-left right triangles (legs ``s`` along the axes,
    hypotenuse slope -1): ring (ax,ay) (ax+s,ay) (ax,ay+s) (ax,ay).
    One (N, 77) uint8 buffer, CCW — the non-rect probe layer for
    arrangement-kernel oracle queries."""
    n = len(ax)
    raw = np.empty((n, _TRI_WKB_LEN), dtype=np.uint8)
    raw[:, :13] = _TRI_HDR_ARR
    coords = np.empty((n, 8))
    coords[:, 0], coords[:, 1] = ax, ay
    coords[:, 2], coords[:, 3] = ax + s, ay
    coords[:, 4], coords[:, 5] = ax, ay + s
    coords[:, 6], coords[:, 7] = ax, ay
    raw[:, 13:] = coords.astype("<f8").view(np.uint8).reshape(n, 64)
    flat = raw.tobytes()
    L = _TRI_WKB_LEN
    return pd.Series([flat[i * L : (i + 1) * L] for i in range(n)])


def batch_covers(a_wkbs: pd.Series, b_wkbs: pd.Series) -> pd.Series:
    """a covers b, per row.  Rect pairs reduce to bbox containment."""
    ra = batch_rect_bounds_arr(a_wkbs)
    rb = batch_rect_bounds_arr(b_wkbs)
    both = ~np.isnan(ra[:, 0]) & ~np.isnan(rb[:, 0])
    out = np.zeros(len(a_wkbs), dtype=bool)
    out[both] = (
        (ra[both, 0] <= rb[both, 0])
        & (ra[both, 1] <= rb[both, 1])
        & (ra[both, 2] >= rb[both, 2])
        & (ra[both, 3] >= rb[both, 3])
    )
    ca: dict = {}
    cb: dict = {}
    for i in np.nonzero(~both)[0]:
        a = a_wkbs.iloc[i]
        b = b_wkbs.iloc[i]
        if a is None or b is None:
            continue
        ga = ca.get(a)
        if ga is None:
            ga = ca[a] = Geometry.from_wkb(a)
        gb = cb.get(b)
        if gb is None:
            gb = cb[b] = Geometry.from_wkb(b)
        out[i] = ga.covers(gb)
    return pd.Series(out)


def batch_covers_area(t_wkbs: pd.Series, s_wkbs: pd.Series) -> pd.DataFrame:
    """(t covers s, area of s ∩ t) per row in one pass — ``assign``'s
    fused covering + area refine."""
    return pd.DataFrame(
        {
            "covers": batch_covers(t_wkbs, s_wkbs),
            "area": batch_intersection_area(s_wkbs, t_wkbs),
        }
    )


def batch_intersection_area(a_wkbs: pd.Series, b_wkbs: pd.Series) -> pd.Series:
    ra = batch_rect_bounds_arr(a_wkbs)
    rb = batch_rect_bounds_arr(b_wkbs)
    both = ~np.isnan(ra[:, 0]) & ~np.isnan(rb[:, 0])
    w = np.minimum(ra[:, 2], rb[:, 2]) - np.maximum(ra[:, 0], rb[:, 0])
    h = np.minimum(ra[:, 3], rb[:, 3]) - np.maximum(ra[:, 1], rb[:, 1])
    out = np.zeros(len(a_wkbs), dtype=np.float64)
    pos = both & (w > 0) & (h > 0)
    out[pos] = w[pos] * h[pos]
    ca: dict = {}
    cb: dict = {}
    for i in np.nonzero(~both)[0]:
        a = a_wkbs.iloc[i]
        b = b_wkbs.iloc[i]
        if a is None or b is None:
            continue
        ga = ca.get(a)
        if ga is None:
            ga = ca[a] = Geometry.from_wkb(a)
        gb = cb.get(b)
        if gb is None:
            gb = cb[b] = Geometry.from_wkb(b)
        out[i] = intersection_area(ga, gb)
    return pd.Series(out)


def _convex_ring(g):
    """Single-ring polygon with a convex boundary (collinear vertices
    allowed) -> its closed ring array, else None.

    Consistent cross-product sign alone also accepts SELF-INTERSECTING
    rings with consistent turning (a pentagram winds twice, every turn
    the same sign) — those must fall through to the arrangement kernel,
    not the Sutherland–Hodgman fast path.  A simple convex ring turns
    through exactly one revolution, so additionally require the total
    exterior-angle sum ≈ ±2π."""
    if g.gtype != "Polygon" or len(g.data) != 1:
        return None
    ring = g.data[0]
    if len(ring) < 4:
        return None
    v = np.diff(ring, axis=0)
    cross = v[:-1, 0] * v[1:, 1] - v[:-1, 1] * v[1:, 0]
    wrap = v[-1, 0] * v[0, 1] - v[-1, 1] * v[0, 0]
    crosses = np.append(cross, wrap)
    if (crosses > 0).any() and (crosses < 0).any():
        return None
    dots = np.append(
        v[:-1, 0] * v[1:, 0] + v[:-1, 1] * v[1:, 1],
        v[-1, 0] * v[0, 0] + v[-1, 1] * v[0, 1],
    )
    turning = float(np.sum(np.arctan2(crosses, dots)))
    if abs(abs(turning) - 2.0 * np.pi) > 1e-6:
        return None
    return ring


def _sh_clip(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip a (closed-ring) subject polygon against a
    CONVEX closed clip ring.  Returns the OPEN vertex array of the
    clipped polygon (possibly < 3 vertices = empty/degenerate).

    The per-edge pass is fully vectorized (the round-7 change): kept
    vertices and crossing points interleave via an even/odd row mask
    instead of a per-vertex Python loop — same emission order, same
    ``t = side_i / (side_i - side_j)`` arithmetic on the same doubles,
    so output is bit-identical to the loop formulation."""
    from .base import signed_area

    if signed_area(clip) < 0:
        clip = clip[::-1]
    if len(subject) <= 13 and len(clip) <= 17:
        # tiny rings (triangles, lattice cells — the overlay staple):
        # scalar Python floats beat numpy's per-call overhead ~20x at
        # this size, and every expression is the same IEEE-double op
        # sequence as the array formulation, so output is bit-identical
        out = [(float(p[0]), float(p[1])) for p in subject[:-1]]
        nc = len(clip) - 1
        for e in range(nc):
            if not out:
                break
            cx0 = float(clip[e, 0])
            cy0 = float(clip[e, 1])
            ex = float(clip[e + 1, 0]) - cx0
            ey = float(clip[e + 1, 1]) - cy0
            side = [ex * (y - cy0) - ey * (x - cx0) for x, y in out]
            res = []
            m = len(out)
            for i in range(m):
                j = (i + 1) % m
                si, sj = side[i], side[j]
                if si >= 0:
                    res.append(out[i])
                if (si >= 0) != (sj >= 0):
                    t = si / (si - sj)
                    xi, yi = out[i]
                    xj, yj = out[j]
                    res.append((xi + t * (xj - xi), yi + t * (yj - yi)))
            out = res
        return np.asarray(out) if out else np.empty((0, 2))
    out = subject[:-1]
    for e in range(len(clip) - 1):
        if len(out) == 0:
            break
        cx0, cy0 = clip[e]
        ex, ey = clip[e + 1, 0] - cx0, clip[e + 1, 1] - cy0
        side = ex * (out[:, 1] - cy0) - ey * (out[:, 0] - cx0)
        m = len(out)
        keep = side >= 0
        nxt = np.roll(out, -1, axis=0)
        side_n = np.roll(side, -1)
        cross = keep != (side_n >= 0)
        # crossing param only where signs differ (denominator nonzero
        # there by construction); dummy 1.0 elsewhere keeps the divide
        # warning-free without changing any emitted value
        denom = np.where(cross, side - side_n, 1.0)
        t = side / denom
        pts = out + t[:, None] * (nxt - out)
        allv = np.empty((2 * m, 2))
        allv[0::2] = out
        allv[1::2] = pts
        mask = np.empty(2 * m, dtype=bool)
        mask[0::2] = keep
        mask[1::2] = cross
        out = allv[mask]
    return out


def batch_intersection(
    a_wkbs: pd.Series,
    b_wkbs: pd.Series,
    convex_fast: bool = True,
    with_wkb: bool = True,
) -> pd.DataFrame:
    """Exact pairwise intersection -> (wkb, area, length, is_empty).

    Axis-aligned rectangle pairs (the overwhelming case for grid-tiled
    layers) short-circuit to closed-form min/max arithmetic — the same
    IEEE ops an ANSI-SQL oracle (least/greatest) performs, so results
    are bit-identical to SQL, and no arrangement is built.

    ``convex_fast`` adds a second tier: pairs of single-ring CONVEX
    polygons with interior overlap clip via Sutherland–Hodgman (~30 µs
    per pair, pure numpy) instead of the general planar arrangement
    (~1.6 ms per pair) — the polygon×lattice overlay shape.  Pairs that
    only TOUCH (clip area 0) fall through to the arrangement so the
    mixed-dimension semantics (shared edges → lines) are preserved
    exactly; so does every non-convex or multi-part pair.  Set
    ``convex_fast=False`` (batch_intersection_arrangement) to pin the
    general kernel — the intersections_triangles_shuffle driver query
    does, keeping the arrangement oracle-gated.

    ``with_wkb=False`` skips building/serializing the intersection
    geometry (the ``wkb`` column is all-None): area/length/is_empty
    come from the same ring arithmetic, so overlay consumers that
    discard geometry (``intersections(keep_geometry=False)``) avoid a
    per-pair Geometry construction + WKB encode + Arrow transfer.
    """
    n = len(a_wkbs)
    ra = batch_rect_bounds_arr(a_wkbs)
    rb = batch_rect_bounds_arr(b_wkbs)
    both = ~np.isnan(ra[:, 0]) & ~np.isnan(rb[:, 0])
    x0 = np.maximum(ra[:, 0], rb[:, 0])
    y0 = np.maximum(ra[:, 1], rb[:, 1])
    x1 = np.minimum(ra[:, 2], rb[:, 2])
    y1 = np.minimum(ra[:, 3], rb[:, 3])
    w, h = x1 - x0, y1 - y0
    pos = both & (w > 0) & (h > 0)
    disjoint = both & ((w < 0) | (h < 0))
    # touching rects (w==0 or h==0, >=0) fall to the exact kernel for the
    # shared edge / corner geometry
    slow = ~both | (both & ~pos & ~disjoint)

    area = np.zeros(n)
    length = np.zeros(n)
    empty = np.ones(n, dtype=bool)
    wkb_out: list = [None] * n

    area[pos] = w[pos] * h[pos]
    length[pos] = 2.0 * (w[pos] + h[pos])
    empty[pos] = False
    pos_idx = np.nonzero(pos)[0]
    if len(pos_idx) and with_wkb:
        rect_wkbs = batch_rect_wkb(x0[pos_idx], y0[pos_idx], x1[pos_idx], y1[pos_idx])
        rw = rect_wkbs.to_numpy()
        for k, i in enumerate(pos_idx):
            wkb_out[i] = rw[k]

    ca: dict = {}
    cb: dict = {}
    conv_a: dict = {}
    conv_b: dict = {}
    from .base import ring_length as _rl
    from .base import signed_area as _sa

    a_np = a_wkbs.to_numpy()
    b_np = b_wkbs.to_numpy()
    for i in np.nonzero(slow)[0]:
        a = a_np[i]
        b = b_np[i]
        if a is None or b is None:
            continue
        ga = ca.get(a)
        if ga is None:
            ga = ca[a] = Geometry.from_wkb(a)
        gb = cb.get(b)
        if gb is None:
            gb = cb[b] = Geometry.from_wkb(b)
        if convex_fast:
            if a not in conv_a:
                conv_a[a] = _convex_ring(ga)
            if b not in conv_b:
                conv_b[b] = _convex_ring(gb)
            rga, rgb = conv_a[a], conv_b[b]
            if rga is not None and rgb is not None:
                clipped = _sh_clip(rga, rgb)
                if len(clipped) >= 3:
                    closed = np.vstack([clipped, clipped[:1]])
                    ar = abs(_sa(closed))
                    if ar > 0.0:
                        if with_wkb:
                            wkb_out[i] = Geometry("Polygon", [closed]).wkb
                        area[i] = ar
                        length[i] = _rl(closed)
                        empty[i] = False
                        continue
                else:
                    # clip produced nothing: genuinely disjoint interiors,
                    # but a boundary touch still yields a line/point in
                    # reference semantics — only skip the arrangement when
                    # the bboxes are strictly disjoint
                    ax0, ay0, ax1, ay1 = rga[:, 0].min(), rga[:, 1].min(), rga[:, 0].max(), rga[:, 1].max()
                    bx0, by0, bx1, by1 = rgb[:, 0].min(), rgb[:, 1].min(), rgb[:, 0].max(), rgb[:, 1].max()
                    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
                        continue
                # zero-area clip or possible touch: exact kernel decides
        g = intersection(ga, gb)
        if not g.is_empty:
            if with_wkb:
                wkb_out[i] = g.wkb
            area[i] = g.area
            length[i] = g.length
            empty[i] = False
    if not with_wkb:
        return pd.DataFrame(
            {"area": area, "length": length, "is_empty": empty}
        )
    return pd.DataFrame(
        {"wkb": wkb_out, "area": area, "length": length, "is_empty": empty}
    )


def batch_intersection_arrangement(
    a_wkbs: pd.Series, b_wkbs: pd.Series, with_wkb: bool = True
) -> pd.DataFrame:
    """batch_intersection pinned to the general planar-arrangement
    kernel for every non-rect pair (no convex clipping)."""
    return batch_intersection(
        a_wkbs, b_wkbs, convex_fast=False, with_wkb=with_wkb
    )
