"""Operator parity tests vs the reference's assign fixtures
(/root/reference/tests/test_assign.py)."""

import pytest
from pyspark.sql import functions as F

from maup_spark import CellGrid, assign, assign_points, assign_to_max
from maup_spark.datagen import districts, points

GRID = CellGrid(x0=-10, y0=-10, x1=10, y1=10, res=4)


def test_assign_inner_squares_to_grid(spark, four_square_grid_df, inner_squares_df):
    """Exact expected set {(0,a),(1,a),(2,b),(3,d)}
    (/root/reference/tests/test_assign.py:33-42)."""
    got = assign(
        inner_squares_df.select("id", "geometry"),
        four_square_grid_df.selectExpr("ID as tid", "geometry"),
        source_id="id",
        target_id="tid",
        grid=GRID,
    )
    result = {(r["id"], r["tid"]) for r in got.collect()}
    assert result == {(0, "a"), (1, "a"), (2, "b"), (3, "d")}


def test_assign_unassigned_is_null(spark, four_square_grid_df, inner_squares_df):
    """A distant source gets NULL (reference NaN,
    /root/reference/tests/test_assign.py:45-54)."""
    from tests.conftest import sq_wkb

    far = spark.createDataFrame([(99, sq_wkb(8, 8, 9, 9))], "id bigint, geometry binary")
    src = inner_squares_df.select("id", "geometry").unionByName(far)
    got = assign(
        src,
        four_square_grid_df.selectExpr("ID as tid", "geometry"),
        source_id="id",
        target_id="tid",
        grid=GRID,
    )
    rows = {r["id"]: r["tid"] for r in got.collect()}
    assert rows[99] is None
    assert rows[0] == "a" and rows[2] == "b"


def test_assign_overlapping_source_by_area(spark, four_square_grid_df):
    """square_mostly_in_top_left is assigned to b by max overlap area
    (/root/reference/tests/test_assign.py:130-141)."""
    from maup_spark.geom.base import Geometry

    poly = Geometry.polygon([(1.5, 0.5), (1.5, 2), (0, 2), (0, 0.5)]).wkb
    src = spark.createDataFrame([(0, poly)], "id bigint, geometry binary")
    got = assign(
        src,
        four_square_grid_df.selectExpr("ID as tid", "geometry"),
        source_id="id",
        target_id="tid",
        grid=GRID,
    )
    rows = got.collect()
    assert len(rows) == 1
    assert rows[0]["tid"] == "b"
    assert rows[0]["method"] == "area"


def test_assign_to_max_tiebreak(spark):
    """pandas idxmax takes the first (lowest target) among equal weights
    and skips NULL weights; an all-NULL source keeps a NULL target."""
    rel = spark.createDataFrame(
        [
            (1, 10, 5.0), (1, 3, 5.0), (2, 7, 1.0), (2, 4, 2.0),
            (2, 1, None), (3, 5, None), (3, 6, None),
        ],
        "source_id bigint, target_id bigint, weight double",
    )
    got = {r["source_id"]: r["target_id"] for r in assign_to_max(rel).collect()}
    assert got == {1: 3, 2: 4, 3: None}


@pytest.mark.parametrize("knn", [False, True])
def test_assign_points_districts(spark, sf_dir, knn):
    pts = points(spark, sf_dir)
    dst = districts(spark)
    got = assign_points(pts, dst, point_id="entity_id", knn_fallback=knn)
    n_points = pts.count()
    assert got.count() == n_points
    rows = got.collect()
    # arithmetic truth: district = floor-grid cell unless knocked out
    import math

    pts_rows = {r["entity_id"]: (r["lon"], r["lat"]) for r in pts.collect()}
    n_null = 0
    for r in rows:
        lon, lat = pts_rows[r["entity_id"]]
        di = math.floor((lon + 180) / 10)
        dj = math.floor((lat + 90) / 10)
        expected = dj * 36 + di if (di + dj) % 7 != 0 else None
        if expected is not None:
            assert r["district_id"] == expected, (r, lon, lat)
        elif not knn:
            assert r["district_id"] is None
            n_null += 1
        else:
            assert r["district_id"] is not None  # knn fallback fills it
    if not knn:
        assert n_null > 0  # knockout cells must exercise the NaN path
