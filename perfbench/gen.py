"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size: it writes the
workload's tables as parquet under ``out_dir`` and returns the facts its
output check needs (closed-form areas, planted families, expected
counts).  Geometry is written as 2-D little-endian WKB by this module's
own encoder, so the program under test sees only plain tables.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def polygon_wkb(ring: np.ndarray) -> bytes:
    """WKB Polygon with one closed exterior ring."""
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<bIII", 1, 3, 1, len(ring)) + ring.tobytes()


def shoelace(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))) / 2.0


def _write(out_dir: str, name: str, cols: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _rect_ring(x0, y0, x1, y1) -> np.ndarray:
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


# ------------------------------------------------------------ points_assign

DISTRICT_DEG = 10.0
RECT_HW, RECT_HH = 1.5, 1.0  # half-extent of each point's source rect


def points_assign(out_dir: str, seed: int, n_points: int) -> dict:
    """Uniform points plus five Gaussian hot spots over a 36x18 grid of
    10-degree districts with one in seven districts knocked out.
    Every point's source rect stays inside the world box, and no point
    lies on a district edge (closed-bounds ties would be a coin flip)."""
    rng = np.random.default_rng(seed)
    nx, ny = 36, 18
    alive = np.ones(nx * ny, dtype=bool)
    alive[rng.permutation(nx * ny)[: nx * ny // 7]] = False
    iy, ix = np.divmod(np.nonzero(alive)[0], nx)
    x0 = ix * DISTRICT_DEG - 180.0
    y0 = iy * DISTRICT_DEG - 90.0
    dpath = _write(out_dir, "districts", {
        "district_id": (iy * nx + ix).astype(np.int64),
        "dxmin": x0, "dymin": y0,
        "dxmax": x0 + DISTRICT_DEG, "dymax": y0 + DISTRICT_DEG,
        "geometry": [polygon_wkb(_rect_ring(a, b, a + DISTRICT_DEG, b + DISTRICT_DEG))
                     for a, b in zip(x0, y0)],
    })
    lo_x, hi_x = -180.0 + RECT_HW, 180.0 - RECT_HW
    lo_y, hi_y = -90.0 + RECT_HH, 90.0 - RECT_HH
    n_hot = n_points // 5
    lon = rng.uniform(lo_x, hi_x, n_points)
    lat = rng.uniform(lo_y, hi_y, n_points)
    centres = np.column_stack([rng.uniform(-150, 150, 5), rng.uniform(-60, 60, 5)])
    which = rng.integers(0, 5, n_hot)
    lon[:n_hot] = np.clip(centres[which, 0] + rng.normal(0, 0.7, n_hot), lo_x, hi_x)
    lat[:n_hot] = np.clip(centres[which, 1] + rng.normal(0, 0.7, n_hot), lo_y, hi_y)
    for a in (lon, lat):
        edge = np.mod(a, DISTRICT_DEG) == 0.0
        a[edge] = np.nextafter(a[edge], np.inf)
    ppath = _write(out_dir, "points", {
        "entity_id": np.arange(n_points, dtype=np.int64),
        "lon": lon, "lat": lat,
        "value": rng.uniform(0.0, 100.0, n_points),
    })
    return {"points": ppath, "districts": dpath, "rows": n_points}


# ---------------------------------------------------------- polygon_overlay

CELL_DEG = 2.0


def _shape(kind: int, rng, ax: float, ay: float) -> np.ndarray:
    """A closed ring anchored at (ax, ay) on the quarter-degree lattice:
    0 right triangle, 1 general triangle, 2 parallelogram, 3 L-shape
    (non-convex), 4 chevron (non-convex)."""
    q = 0.25
    a, b = q * rng.integers(4, 13, 2)  # 1.0 .. 3.0 degrees
    if kind == 0:
        pts = [(0, 0), (a, 0), (0, b)]
    elif kind == 1:
        pts = [(0, 0), (a, q * rng.integers(0, 4)), (q * rng.integers(1, 4), b)]
    elif kind == 2:
        s = q * rng.integers(1, 5)
        pts = [(0, 0), (a, 0), (a + s, b), (s, b)]
    elif kind == 3:
        pts = [(0, 0), (a, 0), (a, b / 2), (a / 2, b / 2), (a / 2, b), (0, b)]
    else:
        pts = [(0, 0), (a / 2, b / 2), (a, 0), (a, b), (a / 2, b + b / 2), (0, b)]
    return np.array(pts + [pts[0]], dtype=np.float64) + (ax, ay)


def polygon_overlay(out_dir: str, seed: int, n_polys: int) -> dict:
    """Triangles, parallelograms and non-convex L/chevron shapes with
    vertices on the quarter-degree lattice, anchored in a 120 x 60 degree
    window of the world's 2-degree cell lattice (dense enough that no
    cell turns hot and salting never switches on).  The shape mix is
    exact, and exactly one anchor coordinate in eight lies on a cell
    edge, so a fixed share of candidate pairs only touch."""
    rng = np.random.default_rng(seed)
    mix = np.repeat(np.arange(5), np.round(n_polys * np.array([0.35, 0.2, 0.2, 0.15, 0.1])).astype(int))
    kinds = rng.permutation(np.resize(mix, n_polys))

    def anchors(lo: int, n_cells: int) -> np.ndarray:
        # offset within the cell in quarter degrees: 0 (on the edge) for
        # exactly one anchor in eight
        offs = rng.permutation(np.resize(np.arange(8), n_polys))
        return lo + CELL_DEG * rng.integers(0, n_cells, n_polys) + 0.25 * offs

    ax, ay = anchors(-60, 60), anchors(-30, 30)
    rings = [_shape(k, rng, x, y) for k, x, y in zip(kinds, ax, ay)]
    areas = np.array([shoelace(r) for r in rings])
    ppath = _write(out_dir, "polygons", {
        "source_id": np.arange(n_polys, dtype=np.int64),
        "geometry": [polygon_wkb(r) for r in rings],
        "sx0": [r[:, 0].min() for r in rings], "sy0": [r[:, 1].min() for r in rings],
        "sx1": [r[:, 0].max() for r in rings], "sy1": [r[:, 1].max() for r in rings],
        "parea": areas,
        "value": rng.uniform(1.0, 1000.0, n_polys),
    })
    ids = np.arange(180 * 90)
    cx0 = (ids % 180) * CELL_DEG - 180.0
    cy0 = (ids // 180) * CELL_DEG - 90.0
    cpath = _write(out_dir, "cells", {
        "cell_id": ids.astype(np.int64),
        "geometry": [polygon_wkb(_rect_ring(a, b, a + CELL_DEG, b + CELL_DEG))
                     for a, b in zip(cx0, cy0)],
        "cx0": cx0, "cy0": cy0, "cx1": cx0 + CELL_DEG, "cy1": cy0 + CELL_DEG,
    })
    return {"polygons": ppath, "cells": cpath, "rows": n_polys, "areas": areas}


# ----------------------------------------------------------- tile_adjacency


def tile_adjacency(out_dir: str, seed: int, k: int, k_dirty: int) -> dict:
    """A k x k tessellation of the box [0, k]^2: interior lattice vertices
    jitter by up to 1/8, and one interior edge in four carries a midpoint
    bump of 3/16 that both neighbours share, so one of them is
    non-convex.  Also a k_dirty x k_dirty copy of unit squares with
    planted overlaps (a cell grows into its right neighbour) and gaps (a
    cell shrinks from its top edge) for smart_repair."""
    rng = np.random.default_rng(seed)
    j = 0.125 * rng.integers(-1, 2, (k + 1, k + 1, 2))
    j[[0, k]] = j[:, [0, k]] = 0.0  # the outer boundary stays the box
    gx, gy = np.meshgrid(np.arange(k + 1.0), np.arange(k + 1.0), indexing="ij")
    vx, vy = gx + j[..., 0], gy + j[..., 1]

    def bump(p, q, normal):
        if rng.random() >= 0.25:
            return None
        s = 0.1875 * (1 if rng.random() < 0.5 else -1)
        return ((p[0] + q[0]) / 2 + s * normal[0], (p[1] + q[1]) / 2 + s * normal[1])

    # interior edges: horizontal-ish (i, jj)->(i+1, jj), vertical-ish (ii, j)->(ii, j+1)
    hb, vb = {}, {}
    edge_len = 0.0
    for i in range(k):
        for jj in range(1, k):
            p, q = (vx[i, jj], vy[i, jj]), (vx[i + 1, jj], vy[i + 1, jj])
            hb[i, jj] = m = bump(p, q, (0.0, 1.0))
            edge_len += _polyline_len([p, m, q] if m else [p, q])
    for ii in range(1, k):
        for jj in range(k):
            p, q = (vx[ii, jj], vy[ii, jj]), (vx[ii, jj + 1], vy[ii, jj + 1])
            vb[ii, jj] = m = bump(p, q, (1.0, 0.0))
            edge_len += _polyline_len([p, m, q] if m else [p, q])

    def v(a, b):
        return vx[a, b], vy[a, b]

    ids, geoms, bnds = [], [], []
    for i in range(k):
        for jj in range(k):
            ring = [v(i, jj)]
            if hb.get((i, jj)):
                ring.append(hb[i, jj])
            ring.append(v(i + 1, jj))
            if vb.get((i + 1, jj)):
                ring.append(vb[i + 1, jj])
            ring.append(v(i + 1, jj + 1))
            if hb.get((i, jj + 1)):
                ring.append(hb[i, jj + 1])
            ring.append(v(i, jj + 1))
            if vb.get((i, jj)):
                ring.append(vb[i, jj])
            ring.append(ring[0])
            r = np.array(ring)
            ids.append(i * k + jj)
            geoms.append(polygon_wkb(r))
            bnds.append((r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()))
    b = np.array(bnds)
    tpath = _write(out_dir, "tiles", {
        "tile_id": np.array(ids, dtype=np.int64), "geometry": geoms,
        "txmin": b[:, 0], "tymin": b[:, 1], "txmax": b[:, 2], "tymax": b[:, 3],
    })

    dirty = []
    for i in range(k_dirty):
        for jj in range(k_dirty):
            x0, y0, x1, y1 = float(i), float(jj), i + 1.0, jj + 1.0
            roll = rng.random()
            if roll < 0.2 and i < k_dirty - 1:
                x1 += 0.25  # overlap into the right neighbour
            elif roll < 0.4 and 0 < i < k_dirty - 1 and jj < k_dirty - 1 and (i + jj) % 2:
                # a gap below the upper neighbour, enclosed on all sides and
                # under the 0.1 fill threshold; the parity rule keeps two
                # gaps from merging into one larger hole
                y1 -= 0.0625
            dirty.append((i * k_dirty + jj, polygon_wkb(_rect_ring(x0, y0, x1, y1))))
    dpath = _write(out_dir, "dirty", {
        "tile_id": np.array([d[0] for d in dirty], dtype=np.int64),
        "geometry": [d[1] for d in dirty],
    })
    return {"tiles": tpath, "dirty": dpath, "rows": k * k, "k": k,
            "k_dirty": k_dirty, "interior_edge_length": edge_len}


def _polyline_len(pts) -> float:
    a = np.asarray(pts, dtype=np.float64)
    return float(np.sum(np.hypot(*np.diff(a, axis=0).T)))


# --------------------------------------------------------------- text_dedup

_STOP = ("the", "and", "data", "table", "query")


def text_dedup(out_dir: str, seed: int, n_docs: int) -> dict:
    """Random-word documents with planted families of 2-4 members.  A
    member is an exact copy of the family's base or a near-duplicate
    whose last word differs (Jaccard ~0.99 on 3-shingles, so every band
    of the LSH catches it with near certainty); unrelated documents
    share no 3-shingle in practice."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:05x}" for i in range(50000)])
    punct = np.array(["", "", "", "", "", ".", ",", "?", "!"])
    stop = np.array(_STOP)
    texts = []
    for n in rng.integers(80, 200, n_docs):
        words = np.char.add(vocab[rng.integers(0, len(vocab), n)],
                            punct[rng.integers(0, len(punct), n)]).astype(object)
        # every tenth token is a stopword: at most one per 3-shingle, so
        # unrelated documents practically never share a shingle
        words[::10] = stop[rng.integers(0, len(stop), len(words[::10]))]
        texts.append(" ".join(words))
    families = []
    i = 0
    while i < n_docs - 4:
        if rng.random() < 0.25:
            size = int(rng.integers(2, 5))
            base = texts[i]
            for m in range(1, size):
                if rng.random() < 0.5:
                    texts[i + m] = base
                else:
                    words = base.split(" ")
                    words[-1] = f"x{seed % 1000:03d}{i:07d}{m}"
                    texts[i + m] = " ".join(words)
            families.append(list(range(i, i + size)))
            i += size
        else:
            i += 1
    # shuffle ids so families are not contiguous doc-id runs
    perm = rng.permutation(n_docs)
    doc_id = perm.astype(np.int64) + 1
    path = _write(out_dir, "docs", {"doc_id": doc_id, "text": texts})
    fams = [sorted(int(doc_id[m]) for m in f) for f in families]
    return {"docs": path, "rows": n_docs, "families": fams}
