"""Make one run's input and expected outputs, in a process of its own
so the oracle's memory and threads are gone before the engine starts.

    python3 perfbench/prepare.py --workload flagship --seed 1 --out DIR

writes ``DIR/input/lineitem.parquet``, ``DIR/expected.npz`` and
``DIR/stats.json`` (seed, row counts, boundary-row share, cover zoom).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def boundary_share(lat: np.ndarray, lon: np.ndarray) -> tuple[int, float]:
    """(cover zoom, share of geocoded points in a cover cell that is not
    fully inside its zone) at the engine's default cover: the rows the
    join must refine exactly. A property of the input, recorded beside
    each result; it checks nothing."""
    from gdal_spark.geo import mercator as M
    from gdal_spark.operators import spatial_join as sj

    zoom, cover = sj.zone_cell_cover()
    cells = cover["tx"].to_numpy() * (1 << zoom) + cover["ty"].to_numpy()
    partial = cells[~cover["full"].to_numpy()]
    ok = ~np.isnan(lat)
    tx, ty = M.latlon_to_tile_np(lat[ok], lon[ok], zoom)
    pt_cells = np.asarray(tx, np.int64) * (1 << zoom) + np.asarray(ty, np.int64)
    share = float(np.isin(pt_cells, partial).mean()) if ok.any() else 0.0
    return zoom, share


def prepare(workload: str, seed: int, out_dir: str,
            pages: int | None = None) -> None:
    from perfbench import inputs, oracle
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[workload]
    lineitem = inputs.write_inputs(os.path.join(out_dir, "input"), seed,
                                   pages or w.pages)
    tmp = os.path.join(out_dir, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    exp = oracle.expected(lineitem, w.min_zoom, w.zones, tmp)
    zoom, share = boundary_share(exp.pop("lat"), exp.pop("lon"))
    np.savez(os.path.join(out_dir, "expected.npz"), **exp)
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump({"seed": seed, "pages": int(exp["pages"]),
                   "geocoded_pages": int(exp["geocoded"]),
                   "boundary_share": round(share, 6),
                   "cover_zoom": zoom}, fh)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pages", type=int, default=None)
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    prepare(a.workload, a.seed, a.out, a.pages)
