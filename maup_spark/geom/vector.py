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

import math

import numpy as np
import pandas as pd

from .arrangement import SNAP_DECIMALS, intersection, intersection_area
from .base import Geometry, points_in_rings, ring_length, signed_area


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


def _sh_clip(
    subject: np.ndarray, clip: np.ndarray, tol: float | None = None
) -> np.ndarray | None:
    """Sutherland–Hodgman: clip a (closed-ring) subject polygon against a
    CONVEX closed clip ring.  Returns the OPEN vertex array of the
    clipped polygon (possibly < 3 vertices = empty/degenerate).

    With ``tol``, returns None instead when a dropped vertex lies within
    ``tol`` outside a clip line: such a vertex may be a contact the
    arrangement's snapping would keep.

    The per-edge pass is fully vectorized (the round-7 change): kept
    vertices and crossing points interleave via an even/odd row mask
    instead of a per-vertex Python loop — same emission order, same
    ``t = side_i / (side_i - side_j)`` arithmetic on the same doubles,
    so output is bit-identical to the loop formulation."""
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
            if tol is not None:
                lim = -tol * math.hypot(ex, ey)
                if any(lim < s < 0.0 for s in side):
                    return None
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
        if tol is not None and (
            (side < 0.0) & (side > -tol * math.hypot(ex, ey))
        ).any():
            return None
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


# ---------------------------------------------------------------------------
# the clip tier: one side a convex ring, the other a simple single ring
#
# The arrangement snaps every coordinate to 10**-SNAP_DECIMALS and welds
# vertices closer than 2e-9, so two features further apart than _GAP stay
# apart there too.  A contact this tier decides must be exact
# (``side == 0.0``); anything nearer than _GAP but not exact falls back.
#
# Every test below runs over padded ring arrays for a whole batch at once
# (``_Rings.gather``), bucketed by size so padding stays within 2x.
# ---------------------------------------------------------------------------

_GAP = 4.0 * 10.0 ** -SNAP_DECIMALS
# Padded matrix entries per numpy pass, and the tier's only size limit
# (``_fits``): a non-convex ring gets the O(n^2) ``_clear`` up to 256
# vertices, where that check still costs less than one arrangement.
_CHUNK_CELLS = 1 << 16


class _Rings:
    """Open vertex arrays (no closing repeat) stored flat."""

    def __init__(self, rings):
        self.m = np.array([len(r) for r in rings], dtype=np.int64)
        self.off = np.cumsum(self.m) - self.m
        self.flat = np.concatenate(rings) if rings else np.empty((0, 2))

    def gather(self, rows, width):
        """(vertices, next vertices, valid) of ``rows`` padded to ``width``:
        vertex j's successor wraps at each ring's own length, and padded
        slots repeat the last vertex."""
        j = np.arange(width)
        m, base = self.m[rows, None], self.off[rows, None]
        return (
            self.flat[base + np.minimum(j, m - 1)],
            self.flat[base + (j + 1) % m],
            j < m,
        )


def _bucket(s):
    """Power-of-two size bucket exponent: ``_chunks`` pads to 2**bucket."""
    return np.ceil(np.log2(np.maximum(s, 1)))


def _fits(*sizes):
    """Per row: the padded product of ``sizes`` stays within _CHUNK_CELLS.
    This is the only size limit of the clip tier: a ring or pair that
    does not fit skips the quadratic passes (``_clear``,
    ``_separations``, ``_contacts``), as chunking cannot split one row."""
    return sum(_bucket(s) for s in sizes) <= math.log2(_CHUNK_CELLS)


def _chunks(*sizes):
    """Row groups whose sizes share a power-of-two bucket on every axis,
    split so the padded product stays near _CHUNK_CELLS (one row per
    group at least)."""
    key = sum(_bucket(s) * 64**k for k, s in enumerate(sizes))
    for b in np.unique(key):
        sel = np.nonzero(key == b)[0]
        cells = int(np.prod([s[sel].max() for s in sizes]))
        yield from np.array_split(
            sel, min(len(sel), -(-len(sel) * cells // _CHUNK_CELLS))
        )


def _side(c0, e, p):
    """Cross product of edge vector ``e`` (from ``c0``) with ``p - c0``:
    positive left of the edge line.  The same IEEE ops as ``_sh_clip``."""
    return e[..., 0] * (p[..., 1] - c0[..., 1]) - e[..., 1] * (p[..., 0] - c0[..., 0])


def _shapes(R: _Rings, rows):
    """(convex, orientation ±1/0) per ring.  Consistent cross-product
    sign alone also accepts SELF-INTERSECTING rings with consistent
    turning (a pentagram winds twice, every turn the same sign), so a
    convex ring must also turn through exactly one revolution."""
    convex = np.zeros(len(rows), dtype=bool)
    orient = np.zeros(len(rows))
    for part in _chunks(R.m[rows]):
        w = int(R.m[rows[part]].max())
        p, q, ok = R.gather(rows[part], w)
        v = q - p
        vn = np.take_along_axis(v, ((np.arange(w) + 1) % R.m[rows[part], None])[..., None], 1)
        cross = np.where(ok, v[..., 0] * vn[..., 1] - v[..., 1] * vn[..., 0], 0.0)
        dot = np.where(ok, (v * vn).sum(axis=2), 0.0)
        turning = np.arctan2(cross, dot).sum(axis=1)
        convex[part] = (
            ~((cross > 0).any(axis=1) & (cross < 0).any(axis=1))
            & (np.abs(np.abs(turning) - 2.0 * np.pi) <= 1e-6)
            & (R.m[rows[part]] >= 3)
        )
        twice = np.where(ok, p[..., 0] * q[..., 1] - q[..., 0] * p[..., 1], 0.0)
        orient[part] = np.sign(twice.sum(axis=1))
    return convex, orient


def _clear(R: _Rings, rows):
    """Per ring: simple with margin — every vertex lies more than _GAP
    from each edge not incident to it, and no two edges cross.  A
    multi-piece clip fails here (its pieces are joined by doubled bridge
    edges along a clip line), and so does a contact outside the areal
    part (a spike).  Repeated consecutive vertices must be dropped
    first."""
    clear = np.zeros(len(rows), dtype=bool)
    m = R.m[rows]
    for part in _chunks(m, m):
        w = int(m[part].max())
        p, q, ok = R.gather(rows[part], w)
        d = (q - p)[:, :, None]  # edge j, broadcast over vertices i
        rel = p[:, None, :] - p[:, :, None]  # [j, i]: vertex i - start of edge j
        ll = (d * d).sum(axis=3)
        t = np.clip((rel * d).sum(axis=3) / np.where(ll > 0, ll, 1.0), 0.0, 1.0)
        gap = np.hypot(*np.moveaxis(rel - t[..., None] * d, 3, 0))
        nxt = (np.arange(w) + 1) % m[part, None]  # [ring, j]
        j, i = np.arange(w)[:, None], np.arange(w)[None, :]
        pair = ok[:, :, None] & ok[:, None, :]
        near = pair & (i != j) & (i != nxt[:, :, None]) & (gap <= _GAP)
        o = np.sign(_side(p[:, :, None], d, p[:, None, :]))  # [j, i]
        ob = np.take_along_axis(o, np.broadcast_to(nxt[:, None, :], o.shape), 2)
        # edges j, k cross when each one's ends lie strictly either side
        # of the other's line
        straddle = o * ob < 0
        cross = pair & straddle & np.swapaxes(straddle, 1, 2)
        clear[part] = ~(near | cross).any(axis=(1, 2)) & (m[part] >= 3)
    return clear


def _convex_ring(g):
    """Single-ring polygon with a convex boundary (collinear vertices
    allowed) -> its closed ring array, else None."""
    if g.gtype != "Polygon" or len(g.data) != 1 or len(g.data[0]) < 4:
        return None
    ring = g.data[0]
    return ring if _shapes(_Rings([ring[:-1]]), np.zeros(1, dtype=np.int64))[0][0] else None


def _separations(R: _Rings, orient, xg, yg):
    """Every edge line of convex ring ``xg[t]`` against every vertex of
    ring ``yg[t]``, for all tests ``t`` at once.

    Returns ``(apart, edge)``: ``apart[t]`` when some edge line has
    every Y vertex more than _GAP outside it (the pair is empty);
    ``edge[t]`` is the first edge with every Y vertex either that far
    outside or exactly on its line (the pair can only touch), else -1."""
    apart = np.zeros(len(xg), dtype=bool)
    edge = np.full(len(xg), -1)
    for part in _chunks(R.m[xg], R.m[yg]):
        c0, c1, real = R.gather(xg[part], int(R.m[xg[part]].max()))
        y, _, _ = R.gather(yg[part], int(R.m[yg[part]].max()))
        e = c1 - c0
        side = _side(c0[:, :, None], e[:, :, None], y[:, None]) * orient[xg[part], None, None]
        out = side < -_GAP * np.hypot(e[..., 0], e[..., 1])[..., None]
        real &= (e != 0).any(axis=2)
        apart[part] = (out.all(axis=2) & real).any(axis=1)
        weak = (out | (side == 0.0)).all(axis=2) & real
        edge[part] = np.where(weak.any(axis=1), weak.argmax(axis=1), -1)
    return apart, edge


def _contacts(R: _Rings, orient, xg, yg, k):
    """X ∩ Y for pairs weakly separated by edge ``k[t]`` of the convex
    ring ``xg[t]``: Y's boundary on that line (its on-line vertices and
    edges) within X's extent on it — taken over ALL of X's on-line
    vertices, since collinear vertices are allowed.

    Returns ``(decided, is_empty, length)``: decided when the contact is
    nothing, one point or one interval, with every on-line decision
    exact or further than _GAP from the other outcome."""
    decided = np.zeros(len(xg), dtype=bool)
    empty = np.zeros(len(xg), dtype=bool)
    length = np.zeros(len(xg))
    for part in _chunks(R.m[xg], R.m[yg]):
        x, _, xok = R.gather(xg[part], int(R.m[xg[part]].max()))
        y, yn, yok = R.gather(yg[part], int(R.m[yg[part]].max()))
        c0 = R.flat[R.off[xg[part]] + k[part]]
        e = R.flat[R.off[xg[part]] + (k[part] + 1) % R.m[xg[part]]] - c0
        ln = np.hypot(e[:, 0], e[:, 1])[:, None]
        c0, e, sgn = c0[:, None], e[:, None], orient[xg[part], None]
        sx = sgn * _side(c0, e, x)
        onx = xok & (sx == 0.0)
        doubt = (xok & (sx != 0.0) & (sx <= _GAP * ln)).any(axis=1)
        tx = ((x - c0) * e).sum(axis=2) / ln
        lo = np.where(onx, tx, np.inf).min(axis=1)[:, None]
        hi = np.where(onx, tx, -np.inf).max(axis=1)[:, None]
        on = yok & (sgn * _side(c0, e, y) == 0.0)
        on_next = np.take_along_axis(on, (np.arange(on.shape[1]) + 1) % R.m[yg[part], None], 1)
        ty = ((y - c0) * e).sum(axis=2) / ln
        tyn = ((yn - c0) * e).sum(axis=2) / ln
        seg = on & on_next  # edge j lies on the line
        a = np.maximum(np.where(seg, np.minimum(ty, tyn), ty), lo)
        b = np.minimum(np.where(seg, np.maximum(ty, tyn), ty), hi)
        hit = on & (b >= a)
        doubt |= (on & (b < a) & (a - b <= _GAP)).any(axis=1)
        a = np.where(hit, a, np.inf)
        b = np.where(hit, b, -np.inf)
        order = np.argsort(a, axis=1)
        a_s = np.take_along_axis(a, order, 1)
        reach = np.maximum.accumulate(np.take_along_axis(b, order, 1), axis=1)
        split = (a_s[:, 1:] > reach[:, :-1]) & np.isfinite(a_s[:, 1:])
        span = b.max(axis=1) - a.min(axis=1)
        none = ~hit.any(axis=1)
        decided[part] = ~doubt & ~split.any(axis=1) & (none | (span == 0.0) | (span > _GAP))
        empty[part] = none
        length[part] = np.where(none, 0.0, span)
    return decided, empty, length


def _clip_tier(a_np, b_np, ra, rb, rows, parse, with_wkb: bool) -> dict:
    """{row: (geometry, area, length, is_empty)} for the candidate
    ``rows`` the clip tier decides; the rest belong to the arrangement.

    A rect side's ring comes from its ``batch_rect_bounds_arr`` row (no
    parse); other sides must be single-ring polygons, convex, or simple
    (checked only for rings that ``_fits``).  At least one side of a pair
    must be convex.  A pair too large for the pre-pass goes straight to
    the clip, and a clip result too large for ``_clear`` falls back."""
    slot_of: dict = {}
    rings: list = []
    is_rect: list = []

    def slot(wkb, rect):
        s = slot_of.get(wkb)
        if s is None:
            s = slot_of[wkb] = len(rings)
            if not np.isnan(rect[0]):
                x0, y0, x1, y1 = rect
                rings.append(
                    np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
                )
                is_rect.append(True)
            else:
                g = parse(wkb)
                one = g.gtype == "Polygon" and len(g.data) == 1
                rings.append(g.data[0] if one else np.empty((1, 2)))
                is_rect.append(False)
        return s

    if not rows:
        return {}
    sa = np.array([slot(a_np[i], ra[i]) for i in rows], dtype=np.int64)
    sb = np.array([slot(b_np[i], rb[i]) for i in rows], dtype=np.int64)
    R = _Rings([r[:-1] for r in rings])
    convex = np.array(is_rect, dtype=bool)
    orient = np.where(convex, 1.0, 0.0)
    cand = np.nonzero(~convex & (R.m >= 3))[0]
    convex[cand], orient[cand] = _shapes(R, cand)
    simple = convex & (orient != 0)
    bent = cand[~convex[cand] & (orient[cand] != 0) & _fits(R.m[cand], R.m[cand])]
    simple[bent] = _clear(R, bent)
    convex &= simple

    covered = simple[sa] & simple[sb] & (convex[sa] | convex[sb])
    pre = covered & _fits(R.m[sa], R.m[sb])
    ta, tb = pre & convex[sa], pre & convex[sb]
    xg = np.concatenate([sa[ta], sb[tb]])
    yg = np.concatenate([sb[ta], sa[tb]])
    pair = np.concatenate([np.nonzero(ta)[0], np.nonzero(tb)[0]])
    apart_t, edge_t = _separations(R, orient, xg, yg)
    apart = np.zeros(len(rows), dtype=bool)
    apart[pair[apart_t]] = True
    touch = np.zeros(len(rows), dtype=bool)
    touch[pair[edge_t >= 0]] = True
    out: dict = {}
    for r in np.nonzero(apart)[0].tolist():
        out[rows[r]] = (None, 0.0, 0.0, True)
    if not with_wkb:
        # a touch row's first weakly separating test decides it
        first = (edge_t >= 0) & ~apart[pair]
        _, pick = np.unique(pair[first], return_index=True)
        t = np.nonzero(first)[0][pick]
        done, empty, length = _contacts(R, orient, xg[t], yg[t], edge_t[t])
        for r, e, ln in zip(pair[t][done].tolist(), empty[done].tolist(), length[done].tolist()):
            out[rows[r]] = (None, 0.0, ln, e)

    # overlap rows: the convex side clips (with two convex sides, b
    # clips a); a non-convex subject's result must pass ``_clear``,
    # checked in one batch afterwards
    clipped, checks = [], []
    for r in np.nonzero(covered & ~apart & ~touch)[0].tolist():
        subject, clip = (sa[r], sb[r]) if convex[sb[r]] else (sb[r], sa[r])
        loose = not convex[subject]
        res = _sh_clip(rings[subject], rings[clip], _GAP if loose else None)
        if res is None or len(res) < 3:
            continue
        closed = np.vstack([res, res[:1]])
        ar = abs(signed_area(closed))
        if ar > 0.0:
            clipped.append((r, closed, ar))
            if loose:
                checks.append(len(clipped) - 1)
    bad = set()
    if checks:
        opens = [clipped[c][1][:-1] for c in checks]
        opens = [o[(o != np.roll(o, 1, axis=0)).any(axis=1)] for o in opens]
        W = _Rings(opens)
        ok = _fits(W.m, W.m)
        ok[ok] = _clear(W, np.nonzero(ok)[0])
        bad = {checks[c] for c in np.nonzero(~ok)[0].tolist()}
    for c, (r, closed, ar) in enumerate(clipped):
        if c not in bad:
            g = Geometry("Polygon", [closed]) if with_wkb else None
            out[rows[r]] = (g, ar, ring_length(closed), False)
    return out


def batch_intersection(
    a_wkbs: pd.Series,
    b_wkbs: pd.Series,
    convex_fast: bool = True,
    with_wkb: bool = True,
) -> pd.DataFrame:
    """Exact pairwise intersection -> (wkb, area, length, is_empty).

    Tiers, first match wins:

    1. **Rect × rect** (the overwhelming case for grid-tiled layers):
       closed-form min/max arithmetic — the same IEEE ops an ANSI-SQL
       oracle (least/greatest) performs, so results are bit-identical to
       SQL.  Touching rects go on to the next tiers.
    2. **Clip tier** (``convex_fast``): one side a convex ring, the other
       a simple single ring.  A numpy pre-pass over the whole batch
       tests the convex side's edge lines against the other side's
       vertices and sorts every such pair before any per-pair Python
       runs:
       - *separated* (an edge line with a gap above the arrangement's
         snap): empty;
       - *touch* (weakly separated, every contact vertex exactly on the
         line): with ``with_wkb=False`` the contact — one point or one
         interval — gives (area 0, length, not empty); with
         ``with_wkb=True`` the row goes to the arrangement, whose merged,
         snapped lines are the geometry of record;
       - *overlap*: Sutherland–Hodgman clips the simple ring by the
         convex one (tens of µs per pair against the arrangement's
         hundreds) and the result is kept when it is one simple ring
         with positive area (a Polygon under ``with_wkb``).
       A ring or pair too large for the batch passes (``_fits``) skips
       them: a pair goes straight to the clip, a non-convex ring or
       clip result to the arrangement.  Anything the tier cannot decide
       falls through.
    3. **Planar arrangement**: every other pair (holes, multi-part,
       two non-convex sides), mixed-dimension semantics (shared edges
       → lines, corners → points).  ``convex_fast=False``
       (``batch_intersection_arrangement``) pins every non-rect pair
       here — the intersections_triangles_shuffle driver query does,
       keeping the arrangement oracle-gated.

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

    a_np = a_wkbs.to_numpy()
    b_np = b_wkbs.to_numpy()
    rows = [
        i
        for i in np.nonzero(~pos & ~disjoint)[0].tolist()
        if a_np[i] is not None and b_np[i] is not None
    ]
    parsed: dict = {}

    def parse(wkb):
        g = parsed.get(wkb)
        if g is None:
            g = parsed[wkb] = Geometry.from_wkb(wkb)
        return g

    decided = (
        _clip_tier(a_np, b_np, ra, rb, rows, parse, with_wkb) if convex_fast else {}
    )
    for i in rows:
        res = decided.get(i)
        if res is None:
            g = intersection(parse(a_np[i]), parse(b_np[i]))
            res = g, g.area, g.length, g.is_empty
        g, area[i], length[i], empty[i] = res
        if with_wkb and not empty[i]:
            wkb_out[i] = g.wkb
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
