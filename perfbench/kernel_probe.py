"""Spark-free probe of the ``geom`` batch kernels.

Takes a fixed, seeded sample of a workload's own candidate pairs (every
bounding-box-overlapping pair of the generated layers, found here with
numpy), runs it through ``vector.batch_intersection`` (the default auto
tier) and ``vector.batch_intersection_arrangement`` (pinned to the
planar arrangement) as one batch each, and reports microseconds per pair
per tier plus the auto tier's outcome mix: positive area, touch only
(non-empty, zero area), or empty.

    python3 perfbench/kernel_probe.py --workload polygon_overlay --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

SAMPLE = 2000


def overlay_pairs(facts) -> tuple[list, list]:
    """(polygon WKB, cell WKB) of every polygon x 2-degree cell pair whose
    closed bounding boxes meet."""
    import pyarrow.parquet as pq

    from perfbench import gen

    polys = pq.read_table(facts["polygons"]).to_pydict()
    cells = pq.read_table(facts["cells"], columns=["geometry"]).column(0).to_pylist()
    a, b = [], []
    d = gen.CELL_DEG
    for g, x0, y0, x1, y1 in zip(polys["geometry"], polys["sx0"], polys["sy0"],
                                 polys["sx1"], polys["sy1"]):
        for iy in range(max(0, int(np.ceil((y0 + 90) / d)) - 1),
                        min(89, int(np.floor((y1 + 90) / d))) + 1):
            for ix in range(max(0, int(np.ceil((x0 + 180) / d)) - 1),
                            min(179, int(np.floor((x1 + 180) / d))) + 1):
                a.append(g)
                b.append(cells[iy * 180 + ix])
    return a, b


def tile_pairs(facts) -> tuple[list, list]:
    """(tile WKB, tile WKB) of every i < j pair whose boxes meet."""
    import pyarrow.parquet as pq

    t = pq.read_table(facts["tiles"]).to_pydict()
    x0, y0, x1, y1 = (np.asarray(t[c]) for c in ("txmin", "tymin", "txmax", "tymax"))
    meet = ((x0[:, None] <= x1[None, :]) & (x1[:, None] >= x0[None, :])
            & (y0[:, None] <= y1[None, :]) & (y1[:, None] >= y0[None, :]))
    i, j = np.nonzero(np.triu(meet, 1))
    g = t["geometry"]
    return [g[k] for k in i], [g[k] for k in j]


PAIRS = {"polygon_overlay": overlay_pairs, "tile_adjacency": tile_pairs}


def probe(facts, workload: str, seed: int, sample: int = SAMPLE) -> dict:
    from maup_spark.geom import vector as V

    a, b = PAIRS[workload](facts)
    pick = np.random.default_rng(seed).choice(len(a), min(sample, len(a)), replace=False)
    sa = pd.Series([a[k] for k in pick], dtype=object)
    sb = pd.Series([b[k] for k in pick], dtype=object)
    out = {}
    for tier, fn in (("auto", V.batch_intersection),
                     ("arrangement", V.batch_intersection_arrangement)):
        t0 = time.perf_counter()
        res = fn(sa, sb, with_wkb=False)
        out[f"geom.{tier}_us_per_pair"] = (time.perf_counter() - t0) * 1e6 / len(pick)
        if tier == "auto":
            empty = res["is_empty"].to_numpy()
            pos = res["area"].to_numpy() > 0
            out["geom.pairs_positive"] = int(pos.sum())
            out["geom.pairs_touch"] = int((~empty & ~pos).sum())
            out["geom.pairs_empty"] = int(empty.sum())
    out["geom.candidate_pairs"] = len(a)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PAIRS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    from perfbench.workloads import WORKLOADS

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        facts = WORKLOADS[args.workload]["gen"](tmp, args.seed)
        print(json.dumps(probe(facts, args.workload, args.seed)))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
