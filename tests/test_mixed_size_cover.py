"""Bounded cell fan-out: a layer mixing continent-sized and block-sized
polygons must not explode the big ones into the fine cell grid.

Oversized rows (bbox cover > max_cells) divert to a broadcast bbox-theta
join; the parity contract is that the diverted plan yields EXACTLY the
candidate set / operator output of the pure fine-grid plan.  This is the
distributed analog of the reference STRtree handling mixed-size
geometries natively (/root/reference/maup/indexed_geometries.py:19-29).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from maup_spark import CellGrid
from maup_spark.operators.intersections import intersections
from maup_spark.operators.spatial import candidate_pairs, with_cell_cover
from tests.conftest import sq_wkb

# fine grid: 256×256 over [-10,10)² — a full-extent polygon would cover
# all 65536 cells
GRID = CellGrid(x0=-10, y0=-10, x1=10, y1=10, res=8)


def _mixed_layers(spark):
    # 40 block-sized sources scattered on a diagonal + one continent
    src_rows = [
        (i, sq_wkb(-9 + i * 0.45, -9 + i * 0.45, -8.8 + i * 0.45, -8.8 + i * 0.45))
        for i in range(40)
    ]
    # targets: small tiles + one near-full-extent "continent" + one
    # medium outlier (big in one axis only)
    tgt_rows = [
        (100 + i, sq_wkb(-9.1 + i * 0.9, -9.1 + i * 0.9, -8.0 + i * 0.9, -8.0 + i * 0.9))
        for i in range(20)
    ] + [
        (900, sq_wkb(-9.8, -9.8, 9.8, 9.8)),  # continent: ~65k fine cells
        (901, sq_wkb(-9.5, -0.1, 9.5, 0.1)),  # transcontinental sliver
    ]
    src = spark.createDataFrame(src_rows, "sid bigint, geometry binary")
    tgt = spark.createDataFrame(tgt_rows, "tid bigint, tgeom binary")
    return src, tgt


def _pairs(spark, max_cells):
    src, tgt = _mixed_layers(spark)
    cand = candidate_pairs(
        src, tgt, GRID, target_geom="tgeom", max_cells=max_cells
    )
    return sorted((r["sid"], r["tid"]) for r in cand.select("sid", "tid").collect())


def test_capped_cover_candidate_parity(spark):
    expected = _pairs(spark, max_cells=None)
    # cap 512 = genuinely mixed (tiles fine, continent+sliver collapsed);
    # cap 64 = everything collapsed (pure sentinel path)
    assert _pairs(spark, max_cells=512) == expected
    assert _pairs(spark, max_cells=64) == expected


def test_capped_cover_bounds_fanout(spark):
    """Row-count probe: oversized rows collapse to ONE sentinel cover row
    instead of exploding; small rows gain at most one sentinel row."""
    from maup_spark.operators.spatial import (
        BIG_SRC_CELL,
        BIG_TGT_CELL,
        _attach_bounds,
        _cover_for_join,
    )

    src, tgt = _mixed_layers(spark)
    t0 = _attach_bounds(
        tgt.withColumnRenamed("tgeom", "geometry"), "geometry", "__t_", None
    )
    # uncapped: the continent alone fans out ~65k cover rows
    assert with_cell_cover(t0, GRID, bounds_prefix="__t_").count() > 60_000
    # cap 512: the 1.1-unit tiles cover ~225-256 fine cells (under the
    # cap); the continent (~65k) and the sliver (~750) collapse
    capped = _cover_for_join(
        t0, GRID, "__t_", 512, collapse_to=BIG_TGT_CELL,
        extra_cell=BIG_SRC_CELL, extra_on_small_only=True,
    )
    assert capped.count() < 20 * 300 + 2  # fine tiles + sentinels, no 65k
    per_tier = {
        r["cell_id"]: r["n"]
        for r in capped.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
        if r["cell_id"] < 0
    }
    assert per_tier[BIG_TGT_CELL] == 2  # both oversized rows collapsed
    assert per_tier[BIG_SRC_CELL] == 20  # one meeting key per small row
    # end-to-end: candidate count stays candidates-sized
    cand = candidate_pairs(src, tgt, GRID, target_geom="tgeom", max_cells=512)
    assert cand.count() < 200


def test_capped_cover_operator_parity_intersections(spark):
    """End-to-end operator parity through the capped path: intersection
    areas identical with and without the cap."""
    src, tgt = _mixed_layers(spark)
    tgt = tgt.withColumnRenamed("tgeom", "geometry")
    kw = dict(source_id="sid", target_id="tid", grid=GRID)
    capped = intersections(src, tgt, max_cells=64, **kw)
    plain = intersections(src, tgt, max_cells=None, **kw)
    key = lambda r: (r["sid"], r["tid"], round(r["area"], 9))
    assert sorted(map(key, capped.collect())) == sorted(map(key, plain.collect()))


def test_capped_cover_both_sides_big(spark):
    """Oversized rows on BOTH sides: (big, big) pairs must appear exactly
    once (first theta branch), (big source, small target) exactly once
    (second branch)."""
    src = spark.createDataFrame(
        [(1, sq_wkb(-9.7, -9.7, 9.7, 9.7)), (2, sq_wkb(0, 0, 0.2, 0.2))],
        "sid bigint, geometry binary",
    )
    tgt = spark.createDataFrame(
        [(10, sq_wkb(-9.8, -9.8, 9.8, 9.8)), (11, sq_wkb(5, 5, 5.2, 5.2))],
        "tid bigint, tgeom binary",
    )
    cand = candidate_pairs(src, tgt, GRID, target_geom="tgeom", max_cells=64)
    got = sorted((r["sid"], r["tid"]) for r in cand.select("sid", "tid").collect())
    assert got == [(1, 10), (1, 11), (2, 10)]


def test_assign_points_big_target_branch(spark):
    """Point-assign broadcast path: a continent-sized polygon target is
    detected driver-side (free — bounds from the already-collected
    geometry broadcast) and meets the points through the gated bbox
    branch instead of a 65k-row cover explode.  Results must be
    identical to a coarse grid where nothing is oversized."""
    from maup_spark.operators.assign import assign_points

    # 200 points on a diagonal; targets: a continent + two small tiles
    pts = spark.createDataFrame(
        [(i, -9.9 + i * 0.0999, -9.9 + i * 0.0999) for i in range(200)],
        "pid bigint, lon double, lat double",
    )
    tgt = spark.createDataFrame(
        [
            (1, sq_wkb(-9.75, -9.75, 9.75, 9.75)),   # continent (big at res 8)
            (2, sq_wkb(-9.0, -9.0, -8.5, -8.5)),     # tile inside continent
            (3, sq_wkb(9.76, 9.76, 9.9, 9.9)),       # tile outside continent
        ],
        "tid bigint, geometry binary",
    )
    kw = dict(point_id="pid", target_id="tid")
    fine = assign_points(pts, tgt, grid=GRID, **kw)  # continent oversized
    coarse_grid = CellGrid(x0=-10, y0=-10, x1=10, y1=10, res=2)
    coarse = assign_points(pts, tgt, grid=coarse_grid, **kw)  # nothing big
    key = lambda r: (r["pid"], r["tid"], r["method"])
    got, want = sorted(map(key, fine.collect())), sorted(map(key, coarse.collect()))
    assert got == want
    # sanity on semantics: points inside ONLY the continent are assigned
    # to it; points also inside tile 2 multi-cover to NULL
    by_pid = {p: t for p, t, _ in got}
    assert by_pid[100] == 1          # centre of the continent only
    assert by_pid[12] is None        # inside continent AND tile 2
    assert by_pid[197] == 3          # outside continent, inside tile 3


@pytest.mark.parametrize("broadcast_targets", [True, False])
def test_candidate_pairs_are_exactly_the_bbox_meeting_pairs(spark, broadcast_targets):
    """Every pair whose closed bboxes meet (edge and corner contact
    included), each exactly once, and no other pair — against a numpy
    brute force.  On 2.5-unit cells many disjoint boxes share a cell;
    quarter-unit coordinates make exact edge contacts common; a pile of
    tiny sources in one cell turns it hot, so the shuffle path salts it;
    8-unit boxes exceed ``max_cells`` and ride the sentinel cells on
    both sides."""
    from maup_spark.operators.spatial import hot_cells

    grid = CellGrid(x0=-10, y0=-10, x1=10, y1=10, res=3)

    rng = np.random.default_rng(5)

    def boxes(n, lo, hi, size):
        x0 = 0.25 * rng.integers(4 * lo, 4 * hi, n)
        y0 = 0.25 * rng.integers(4 * lo, 4 * hi, n)
        w = 0.25 * rng.integers(0, 4 * size + 1, n)
        h = 0.25 * rng.integers(0, 4 * size + 1, n)
        return np.column_stack([x0, y0, x0 + w, y0 + h])

    pile = 5.01 + 0.0001 * rng.integers(0, 50, (120, 2))
    src = np.vstack([
        boxes(150, -3, 3, 1),
        np.column_stack([pile, pile + 0.001]),
        boxes(3, -8, 0, 8),
    ])
    tgt = np.vstack([boxes(100, -3, 3, 1), [[4.75, 4.75, 5.25, 5.25]], boxes(2, -8, 0, 8)])
    sdf = spark.createDataFrame(
        [(i, *map(float, b)) for i, b in enumerate(src)],
        "sid bigint, x0 double, y0 double, x1 double, y1 double",
    )
    tdf = spark.createDataFrame(
        [(j, *map(float, b)) for j, b in enumerate(tgt)],
        "tid bigint, tx0 double, ty0 double, tx1 double, ty1 double",
    )
    assert hot_cells(with_cell_cover(sdf, grid, bounds_cols=("x0", "y0", "x1", "y1")))
    cand = candidate_pairs(
        sdf, tdf, grid, source_geom=None, target_geom=None,
        source_bounds=("x0", "y0", "x1", "y1"),
        target_bounds=("tx0", "ty0", "tx1", "ty1"),
        broadcast_targets=broadcast_targets, max_cells=8,
    )
    got = sorted((r["sid"], r["tid"]) for r in cand.select("sid", "tid").collect())
    meet = (
        (src[:, None, 0] <= tgt[None, :, 2]) & (src[:, None, 2] >= tgt[None, :, 0])
        & (src[:, None, 1] <= tgt[None, :, 3]) & (src[:, None, 3] >= tgt[None, :, 1])
    )
    want = sorted(zip(*map(np.ndarray.tolist, np.nonzero(meet))))
    assert got == want
