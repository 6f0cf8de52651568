"""The workloads: input size, the timed job, the independent answer it
is checked against, and the traced run that materialises each layer
boundary on its own (``tr.save`` writes a layer's output to parquet and
the next layer reads it back).  ``tile_adjacency`` and ``text_dedup``
are not in BENCHMARK.json (a run costs 30-40 s, more than the time
budget leaves); their traced runs ride on the two benchmarked
workloads' traced runs (run.py PROBES), and both can be run by hand.

A job takes ``(spark, facts)`` (``facts`` is what the generator
returned) and returns plain Python values collected from Spark.
``expected(facts)`` computes the independent answer once per process,
without Spark; ``check(result, expected)`` returns a list of failure
messages (empty when the output is right).
"""

from __future__ import annotations

import struct

import numpy as np

from perfbench import gen

# Sizes are fixed per workload (the seed varies the content, never the
# size) and chosen so a warm job takes three to five seconds on a
# 4-core box: per-job Spark overhead is about two of those seconds.
SIZES = {
    "points_assign": {"n_points": 1_000_000},
    "polygon_overlay": {"n_polys": 2_000},
    "tile_adjacency": {"k": 30, "k_dirty": 6},
    "text_dedup": {"n_docs": 1_000},
}

DISTRICT_BOUNDS = ("dxmin", "dymin", "dxmax", "dymax")
RECT_BOUNDS = ("x0", "y0", "x1", "y1")
POLY_BOUNDS = ("sx0", "sy0", "sx1", "sy1")
CELL_BOUNDS = ("cx0", "cy0", "cx1", "cy1")
TILE_BOUNDS = ("txmin", "tymin", "txmax", "tymax")


def _close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


# ------------------------------------------------------------ points_assign


def _rect_grid():
    from maup_spark.index.cells import CellGrid

    # a cell larger than one point rect: the cover emits <= 4 rows each
    return CellGrid(res=5)


def _pa_frames(spark, facts):
    from pyspark.sql import functions as F

    pts = spark.read.parquet(facts["points"])
    districts = spark.read.parquet(facts["districts"])
    rects = pts.select(
        "entity_id",
        (F.col("lon") - gen.RECT_HW).alias("x0"),
        (F.col("lat") - gen.RECT_HH).alias("y0"),
        (F.col("lon") + gen.RECT_HW).alias("x1"),
        (F.col("lat") + gen.RECT_HH).alias("y1"),
    )
    return pts, districts, rects


def _pa_assign(pts, districts):
    from maup_spark.operators.assign import assign_points

    return assign_points(
        pts, districts, point_id="entity_id", target_id="district_id",
        target_bounds=DISTRICT_BOUNDS, targets_are_rects=True,
    )


def _pa_pieces(rects, districts):
    from maup_spark.operators.intersections import intersections

    return intersections(
        rects, districts, source_id="entity_id", target_id="district_id",
        source_bounds=RECT_BOUNDS, target_bounds=DISTRICT_BOUNDS,
        rect_layers=True, keep_geometry=False, grid=_rect_grid(),
    )


def _pa_prorate(pieces, pts):
    from pyspark.sql import functions as F

    from maup_spark.operators.intersections import prorate

    rect_area = (2 * gen.RECT_HW) * (2 * gen.RECT_HH)
    rel = pieces.select(
        "entity_id", "district_id", (F.col("area") / rect_area).alias("weight")
    )
    return prorate(
        rel, pts.select("entity_id", "value"),
        source_id="entity_id", target_id="district_id",
    )


def _pa_collect(counts_df, mass_df) -> dict:
    return {
        "counts": {r[0]: r[1] for r in counts_df.collect()},
        "mass": {r[0]: r[1] for r in mass_df.collect()},
    }


def points_assign_job(spark, facts) -> dict:
    pts, districts, rects = _pa_frames(spark, facts)
    counts = _pa_assign(pts, districts).groupBy("district_id").count()
    return _pa_collect(counts, _pa_prorate(_pa_pieces(rects, districts), pts))


def points_assign_expected(facts) -> dict:
    """Per-district counts and prorated mass in DuckDB SQL over the same
    parquet: the district of a point is closed-form floor arithmetic, and
    a point rect overlaps at most the 3x3 districts around it."""
    import duckdb

    d = gen.DISTRICT_DEG
    hw, hh = gen.RECT_HW, gen.RECT_HH
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    pts = f"read_parquet('{facts['points']}')"
    dis = f"read_parquet('{facts['districts']}')"
    counts = con.execute(f"""
        WITH p AS (
          SELECT CAST(FLOOR((lat + 90) / {d}) AS BIGINT) * 36
               + CAST(FLOOR((lon + 180) / {d}) AS BIGINT) AS did FROM {pts})
        SELECT dd.district_id, COUNT(*) FROM p
        LEFT JOIN {dis} dd ON dd.district_id = p.did
        GROUP BY 1""").fetchall()
    mass = con.execute(f"""
        WITH p AS (
          SELECT value, lon - {hw} AS x0, lat - {hh} AS y0,
                 lon + {hw} AS x1, lat + {hh} AS y1,
                 CAST(FLOOR((lon + 180) / {d}) AS BIGINT) AS ix,
                 CAST(FLOOR((lat + 90) / {d}) AS BIGINT) AS iy FROM {pts}),
        c AS (
          SELECT value, x0, y0, x1, y1, (iy + oy) * 36 + (ix + ox) AS did
          FROM p, (VALUES (-1), (0), (1)) a(ox), (VALUES (-1), (0), (1)) b(oy)
          WHERE ix + ox BETWEEN 0 AND 35 AND iy + oy BETWEEN 0 AND 17)
        SELECT dd.district_id,
               SUM(value * (LEAST(c.x1, dd.dxmax) - GREATEST(c.x0, dd.dxmin))
                         * (LEAST(c.y1, dd.dymax) - GREATEST(c.y0, dd.dymin))
                   / {4 * hw * hh})
        FROM c JOIN {dis} dd ON dd.district_id = c.did
        WHERE LEAST(c.x1, dd.dxmax) > GREATEST(c.x0, dd.dxmin)
          AND LEAST(c.y1, dd.dymax) > GREATEST(c.y0, dd.dymin)
        GROUP BY 1""").fetchall()
    con.close()
    return {"counts": dict(counts), "mass": dict(mass)}


def points_assign_check(result, expected) -> list[str]:
    errs = []
    if result["counts"] != expected["counts"]:
        diff = {k for k in set(result["counts"]) | set(expected["counts"])
                if result["counts"].get(k) != expected["counts"].get(k)}
        errs.append(f"per-district counts differ for {len(diff)} districts")
    if set(result["mass"]) != set(expected["mass"]):
        errs.append("prorated mass covers a different district set")
    else:
        bad = [k for k, v in expected["mass"].items()
               if not _close(result["mass"][k], v)]
        if bad:
            errs.append(f"prorated mass differs for {len(bad)} districts")
    return errs


def points_assign_trace(spark, facts, tr) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from maup_spark.operators.spatial import (
        DEFAULT_GRID, candidate_pairs, with_cell_cover)

    pts, districts, rects = _pa_frames(spark, facts)
    m = {}
    with tr.span("index.cover"):
        m["index.cover_rows"] = (
            with_cell_cover(districts, DEFAULT_GRID, bounds_cols=DISTRICT_BOUNDS).count()
            + with_cell_cover(rects, _rect_grid(), bounds_cols=RECT_BOUNDS).count()
            + with_cell_cover(districts, _rect_grid(), bounds_cols=DISTRICT_BOUNDS).count()
        )
    with tr.span("spatial.candidate_pairs") as s:
        cand = candidate_pairs(
            rects.withColumnRenamed("entity_id", "__sid"),
            districts.select(F.col("district_id").alias("__tid"), *DISTRICT_BOUNDS),
            _rect_grid(), source_geom=None, target_geom=None,
            source_bounds=RECT_BOUNDS, target_bounds=DISTRICT_BOUNDS,
        ).count()
    m["spatial.candidate_s"], m["spatial.candidates"] = s.seconds, cand
    with tr.span("op.assign_points") as s:
        m["op.assign_points_rows"], a = tr.save(_pa_assign(pts, districts), "assign")
    m["op.assign_points_s"] = s.seconds
    with tr.span("consumer.assign_counts"):
        counts_rows = a.groupBy("district_id").count().collect()
    with tr.span("op.intersections") as s:
        m["op.intersections_rows"], pieces = tr.save(_pa_pieces(rects, districts), "pieces")
    m["op.intersections_s"] = s.seconds
    m["spatial.useful_ratio"] = pieces.filter(F.col("area") > 0).count() / max(cand, 1)
    with tr.span("op.prorate") as s:
        mass_rows = _pa_prorate(pieces, pts).collect()
    m["op.prorate_s"], m["op.prorate_rows"] = s.seconds, len(mass_rows)
    result = {"counts": {r[0]: r[1] for r in counts_rows},
              "mass": {r[0]: r[1] for r in mass_rows}}
    return m, result


# ---------------------------------------------------------- polygon_overlay


def _po_frames(spark, facts):
    polys = spark.read.parquet(facts["polygons"])
    cells = spark.read.parquet(facts["cells"])
    return polys, cells


def _po_pieces(polys, cells):
    from maup_spark.operators.intersections import intersections

    return intersections(
        polys, cells, source_id="source_id", target_id="cell_id",
        source_bounds=POLY_BOUNDS, target_bounds=CELL_BOUNDS,
        broadcast_targets=False, keep_geometry=False,
        carry_source_cols=("parea",),
    )


def _po_outputs(pieces, polys):
    from pyspark.sql import functions as F

    from maup_spark.operators.intersections import prorate

    rel = pieces.select(
        "source_id", "cell_id", (F.col("area") / F.col("parea")).alias("weight")
    )
    prorated = prorate(
        rel, polys.select("source_id", "value"),
        source_id="source_id", target_id="cell_id",
    )
    per_poly = pieces.groupBy("source_id").agg(F.sum("area").alias("area"))
    return prorated, per_poly


def polygon_overlay_job(spark, facts) -> dict:
    """Overlay, area-prorate onto cells, and audit each polygon's summed
    piece area; the pieces are persisted for the two consumers and
    released before returning."""
    polys, cells = _po_frames(spark, facts)
    pieces = _po_pieces(polys, cells).persist()
    try:
        prorated, per_poly = _po_outputs(pieces, polys)
        return {"prorated": dict(prorated.collect()),
                "poly_area": dict(per_poly.collect())}
    finally:
        pieces.unpersist()


def polygon_overlay_expected(facts) -> dict:
    import pyarrow.parquet as pq

    values = pq.read_table(facts["polygons"], columns=["value"]).column(0).to_numpy()
    return {"areas": facts["areas"], "total_value": float(values.sum())}


def polygon_overlay_check(result, expected) -> list[str]:
    errs = []
    areas = expected["areas"]
    got = result["poly_area"]
    if len(got) != len(areas):
        errs.append(f"{len(areas) - len(got)} polygons produced no pieces")
    bad = [i for i, a in got.items() if not _close(a, float(areas[i]), 1e-9, 1e-9)]
    if bad:
        errs.append(f"{len(bad)} polygons' piece areas differ from the shoelace area")
    total = sum(result["prorated"].values())
    if not _close(total, expected["total_value"]):
        errs.append(f"prorated total {total!r} != {expected['total_value']!r}")
    return errs


def polygon_overlay_trace(spark, facts, tr) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from maup_spark.operators.spatial import (
        DEFAULT_GRID, candidate_pairs, with_cell_cover)

    polys, cells = _po_frames(spark, facts)
    m = {}
    with tr.span("index.cover"):
        m["index.cover_rows"] = (
            with_cell_cover(polys, DEFAULT_GRID, bounds_cols=POLY_BOUNDS).count()
            + with_cell_cover(cells, DEFAULT_GRID, bounds_cols=CELL_BOUNDS).count()
        )
    with tr.span("spatial.candidate_pairs") as s:
        cand = candidate_pairs(
            polys.select(F.col("source_id").alias("__sid"),
                         F.col("geometry").alias("__sgeom"), *POLY_BOUNDS),
            cells.select(F.col("cell_id").alias("__tid"),
                         F.col("geometry").alias("__tgeom"), *CELL_BOUNDS),
            DEFAULT_GRID, "__sgeom", "__tgeom", broadcast_targets=False,
            source_bounds=POLY_BOUNDS, target_bounds=CELL_BOUNDS,
        ).count()
    m["spatial.candidate_s"], m["spatial.candidates"] = s.seconds, cand
    with tr.span("op.intersections") as s:
        m["op.intersections_rows"], pieces = tr.save(_po_pieces(polys, cells), "pieces")
    m["op.intersections_s"] = s.seconds
    m["spatial.useful_ratio"] = pieces.filter(F.col("area") > 0).count() / max(cand, 1)
    with tr.span("op.prorate") as s:
        prorated, per_poly = _po_outputs(pieces, polys)
        pro_rows = prorated.collect()
    m["op.prorate_s"], m["op.prorate_rows"] = s.seconds, len(pro_rows)
    with tr.span("consumer.poly_area"):
        area_rows = per_poly.collect()
    return m, {"prorated": dict(pro_rows), "poly_area": dict(area_rows)}


# ----------------------------------------------------------- tile_adjacency


def _ta_frames(spark, facts):
    return spark.read.parquet(facts["tiles"]), spark.read.parquet(facts["dirty"])


def _ta_rook(tiles):
    from maup_spark.operators.adjacencies import adjacencies

    return adjacencies(tiles, id_col="tile_id", adjacency_type="rook",
                       bounds_cols=TILE_BOUNDS)


def _ta_repair(dirty):
    from maup_spark.operators.smart_repair import smart_repair

    return smart_repair(dirty, id_col="tile_id")


def _ta_summary(rook_df):
    from pyspark.sql import functions as F

    row = rook_df.agg(F.count("*"), F.sum("length")).collect()[0]
    return int(row[0]), float(row[1] or 0.0)


def tile_adjacency_job(spark, facts) -> dict:
    """Rook adjacencies only: smart_repair of the dirty copy costs about
    six seconds warm even at 36 squares, so it runs in the traced run."""
    tiles, _ = _ta_frames(spark, facts)
    pairs, length = _ta_summary(_ta_rook(tiles))
    return {"pairs": pairs, "length": length}


def tile_adjacency_expected(facts) -> dict:
    k, kd = facts["k"], facts["k_dirty"]
    return {"pairs": 2 * k * (k - 1), "length": facts["interior_edge_length"],
            "n_dirty": kd * kd, "dirty_area": float(kd * kd)}


def wkb_area(buf: bytes) -> float:
    """Area of a little-endian WKB Polygon or MultiPolygon (holes
    subtract), read without the program's own geometry code."""
    def polygon(off):
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        total = 0.0
        for r in range(nrings):
            (n,) = struct.unpack_from("<I", buf, off)
            ring = np.frombuffer(buf, "<f8", 2 * n, off + 4).reshape(n, 2)
            a = gen.shoelace(ring)
            total += a if r == 0 else -a
            off += 4 + 16 * n
        return total, off

    if buf[0] != 1:
        raise ValueError("big-endian WKB")
    (gtype,) = struct.unpack_from("<I", buf, 1)
    if gtype == 3:
        return polygon(5)[0]
    if gtype == 6:
        (n,) = struct.unpack_from("<I", buf, 5)
        off, total = 9, 0.0
        for _ in range(n):
            a, off = polygon(off + 5)
            total += a
        return total
    raise ValueError(f"unexpected WKB type {gtype}")


def tile_adjacency_check(result, expected) -> list[str]:
    errs = []
    if result["pairs"] != expected["pairs"]:
        errs.append(f"rook pairs {result['pairs']} != 2k(k-1) = {expected['pairs']}")
    if not _close(result["length"], expected["length"]):
        errs.append(f"shared edge length {result['length']!r} != {expected['length']!r}")
    return errs


def tile_adjacency_trace(spark, facts, tr) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from maup_spark.operators.spatial import (
        DEFAULT_GRID, candidate_pairs, with_cell_cover)

    tiles, _ = _ta_frames(spark, facts)
    m = {}
    with tr.span("index.cover"):
        # the self-join explodes the layer's cover on both sides
        m["index.cover_rows"] = 2 * with_cell_cover(
            tiles, DEFAULT_GRID, bounds_cols=TILE_BOUNDS).count()
    with tr.span("spatial.candidate_pairs") as s:
        cand = candidate_pairs(
            tiles.select(F.col("tile_id").alias("id_i"), *TILE_BOUNDS),
            tiles.select(F.col("tile_id").alias("id_j"),
                         *[F.col(c).alias(f"j_{c}") for c in TILE_BOUNDS]),
            DEFAULT_GRID, source_geom=None, target_geom=None,
            source_bounds=TILE_BOUNDS,
            target_bounds=tuple(f"j_{c}" for c in TILE_BOUNDS),
        ).filter(F.col("id_i") < F.col("id_j")).count()
    m["spatial.candidate_s"], m["spatial.candidates"] = s.seconds, cand
    with tr.span("op.adjacencies") as s:
        m["op.adjacencies_rows"], rook = tr.save(_ta_rook(tiles), "rook")
    m["op.adjacencies_s"] = s.seconds
    m["spatial.useful_ratio"] = m["op.adjacencies_rows"] / max(cand, 1)
    with tr.span("consumer.rook_summary"):
        pairs, length = _ta_summary(rook)
    return m, {"pairs": pairs, "length": length}


def repair_probe(spark, facts, tr) -> tuple[dict, dict]:
    """smart_repair over the dirty copy of the tessellation; too slow for
    the timed job (about six seconds warm at 36 squares), so the traced
    run times it on its own."""
    _, dirty = _ta_frames(spark, facts)
    with tr.span("op.smart_repair") as s:
        rows = _ta_repair(dirty).collect()
    m = {"op.smart_repair_s": s.seconds, "op.smart_repair_rows": len(rows)}
    return m, {"repaired": [bytes(r[1]) if r[1] is not None else None for r in rows]}


def repair_check(result, expected) -> list[str]:
    rep = result["repaired"]
    if len(rep) != expected["n_dirty"] or any(g is None for g in rep):
        return ["smart_repair dropped geometries"]
    area = sum(wkb_area(g) for g in rep)
    if not _close(area, expected["dirty_area"]):
        return [f"repaired areas sum to {area!r}, not the box area "
                f"{expected['dirty_area']!r}: overlaps or gaps remain"]
    return []


# --------------------------------------------------------------- text_dedup


def _td_pairs(docs):
    from maup_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(docs)


def _td_components(docs, pairs):
    from pyspark.sql import functions as F

    from maup_spark.operators.components import connected_components

    return connected_components(
        docs.select(F.col("doc_id").alias("node")), pairs,
        src_col="doc_a", dst_col="doc_b",
    )


def _td_scored(docs):
    from maup_spark.functions.text import quality_score

    return quality_score(docs).select("doc_id", "score_e6")


def _td_best(comp, scored):
    from maup_spark.functions.dedup import keep_best

    clustered = comp.join(scored, comp["node"] == scored["doc_id"]).select(
        "comp", "doc_id", "score_e6")
    return keep_best(clustered, "comp", "score_e6", min_members=2)


def _td_rows(best_df) -> dict:
    return {"clusters": sorted((int(r["comp"]), int(r["doc_id"]), int(r["n_members"]))
                               for r in best_df.collect())}


def text_dedup_job(spark, facts) -> dict:
    docs = spark.read.parquet(facts["docs"])
    comp = _td_components(docs, _td_pairs(docs))
    return _td_rows(_td_best(comp, _td_scored(docs)))


def text_dedup_expected(facts) -> dict:
    return {"families": facts["families"]}


def text_dedup_check(result, expected) -> list[str]:
    fams = {f[0]: f for f in expected["families"]}
    got = result["clusters"]
    errs = []
    if len(got) != len(fams):
        errs.append(f"{len(got)} duplicate clusters for {len(fams)} planted families")
    bad = [c for c in got if c[0] not in fams or c[2] != len(fams[c[0]])
           or c[1] not in fams[c[0]]]
    if bad:
        errs.append(f"{len(bad)} clusters do not match a planted family exactly")
    return errs


def text_dedup_trace(spark, facts, tr) -> tuple[dict, dict]:
    docs = spark.read.parquet(facts["docs"])
    fam_of = {d: i for i, f in enumerate(facts["families"]) for d in f}
    m = {}
    with tr.span("fn.minhash_lsh_pairs") as s:
        n_pairs, pairs = tr.save(_td_pairs(docs), "pairs")
    m["fn.minhash_lsh_pairs_s"], m["fn.lsh_candidates"] = s.seconds, n_pairs
    pair_rows = pairs.collect()
    planted = sum(1 for a, b in pair_rows
                  if a in fam_of and fam_of[a] == fam_of.get(b))
    m["fn.lsh_useful_ratio"] = planted / max(len(pair_rows), 1)
    with tr.span("op.connected_components") as s:
        m["op.connected_components_rows"], comp = tr.save(_td_components(docs, pairs), "comp")
    m["op.connected_components_s"] = s.seconds
    with tr.span("fn.quality_score") as s:
        _, scored = tr.save(_td_scored(docs), "scored")
    m["fn.quality_score_s"] = s.seconds
    with tr.span("fn.keep_best") as s:
        result = _td_rows(_td_best(comp, scored))
    m["fn.keep_best_s"] = s.seconds
    return m, result


# ----------------------------------------------------------------- registry


def _gen(name):
    fn = getattr(gen, name)
    return lambda out_dir, seed: fn(out_dir, seed, **SIZES[name])


WORKLOADS = {
    name: {
        "gen": _gen(name),
        "job": globals()[f"{name}_job"],
        "expected": globals()[f"{name}_expected"],
        "check": globals()[f"{name}_check"],
        "trace": globals()[f"{name}_trace"],
    }
    for name in SIZES
}
