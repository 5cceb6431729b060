"""fillnodata vs a direct per-pixel transliteration of the reference
search (alg/rasterfill.cpp): per quadrant the Euclidean-closest valid
pixel (top quads include the current row, left quads the own column;
scan-order tie-break = min (dist^2, |dx|)), IDW with weight 1/dist,
accepted while dist <= maxdist. The brute force scans ALL valid pixels
per quadrant — independent of both the operator's window/join shape
and the DuckDB oracle's formulation.

Two reference quirks replayed here (both pinned against the autotest
goldens in test_autotest_parity.py): on the LAST column the
iRightX = min(nXSize-1, iX+iStep) clamp (rasterfill.cpp:814) makes
TR/BR see the own-column candidates too (the same pixel contributes
two quadrants of weight), and the smoothing passes never filter the
first/last raster row (GDALMultiFilter's explicit skip,
rasterfill.cpp:258-263)."""

import math

import numpy as np
import pytest

from gdal_spark.operators.dem import DEM_H, DEM_W

SF = "/root/testdata/sf0.001"
D = 6


def _fixture():
    px, py = np.meshgrid(np.arange(DEM_W), np.arange(DEM_H))
    elev = ((px * 31 + py * 17) % 101 + ((px * py) % 7) * 3).astype(float)
    holes = ((px * 13 + py * 7) % 11 < 2) | (
        (px >= 20) & (px <= 27) & (py >= 30) & (py <= 36))
    return elev, ~holes


def _brute(elev, valid):
    vy, vx = np.nonzero(valid)
    out = {}
    for py in range(DEM_H):
        for px in range(DEM_W):
            if valid[py, px]:
                continue
            best = {}  # quad -> (dist2, absdx, value)
            for y, x in zip(vy, vx):
                dx, dy = int(x) - px, int(y) - py
                quads = [(0 if dy <= 0 else 1) + (0 if dx <= 0 else 2)]
                # last-column clamp: own-column candidates also feed
                # the right quadrants (rasterfill.cpp:814)
                if px == DEM_W - 1 and dx == 0:
                    quads.append(quads[0] + 2)
                key = (dx * dx + dy * dy, abs(dx))
                for quad in quads:
                    if quad not in best or key < best[quad][:2]:
                        best[quad] = (*key, elev[y, x])
            ws = vs = 0.0
            nq = 0
            for quad in (0, 1, 2, 3):
                if quad in best and best[quad][0] <= D * D:
                    w = 1.0 / math.sqrt(best[quad][0])
                    ws += w
                    vs += best[quad][2] * w
                    nq += 1
            if nq:
                out[(py, px)] = (round(vs / ws, 6), nq)
    return out


def test_fill_matches_reference_brute_force(spark):
    from gdal_spark.queries import q_fillnodata

    elev, valid = _fixture()
    expect = _brute(elev, valid)
    got = {(r.py, r.px): (r.fill, r.nq)
           for r in q_fillnodata(spark, SF).collect()}
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][1] == expect[k][1], k
        assert got[k][0] == pytest.approx(expect[k][0], abs=1e-9), k


def test_smooth_matches_reference_filter(spark):
    """2 iterations of GDALFilterLine semantics, replayed in numpy:
    interpolated pixels -> 3x3 average over valid-or-interpolated
    neighbors (incl. self); valid pixels never change."""
    from gdal_spark.queries import (FILL_SMOOTH_ITERS, q_fillnodata,
                                    q_fillnodata_smooth)

    elev, valid = _fixture()
    val = np.where(valid, elev, np.nan)
    fmask = np.zeros_like(valid)
    for r in q_fillnodata(spark, SF).collect():
        val[r.py, r.px] = r.fill
        fmask[r.py, r.px] = True
    tmask = valid | fmask
    for _ in range(FILL_SMOOTH_ITERS):
        out = val.copy()
        for py, px in zip(*np.nonzero(fmask)):
            if py == 0 or py == DEM_H - 1:  # first/last-row skip
                continue
            s = c = 0.0
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    y, x = py + dy, px + dx
                    if 0 <= y < DEM_H and 0 <= x < DEM_W and tmask[y, x]:
                        s += val[y, x]
                        c += 1
            out[py, px] = s / c
        val = out
    got = {(r.py, r.px): r.sval
           for r in q_fillnodata_smooth(spark, SF).collect()}
    assert set(got) == set(map(tuple, np.argwhere(fmask)))
    for (py, px), sval in got.items():
        assert sval == pytest.approx(val[py, px], abs=1e-6), (py, px)


def test_block_interior_filled_from_all_quadrants(spark):
    from gdal_spark.queries import q_fillnodata

    rows = {(r.py, r.px): r for r in q_fillnodata(spark, SF).collect()}
    center = rows[(33, 23)]
    assert center.nq == 4
    elev, _ = _fixture()
    lo, hi = elev.min(), elev.max()
    assert lo <= center.fill <= hi


def test_smooth_plan_grows_linearly_with_passes(spark):
    """Each smoothing pass reads the previous one once: the logical
    plan's leaf count of ``smooth3x3(t, k)`` grows at most linearly in
    k (a pass that joined ``t`` back onto an aggregate of ``t`` doubled
    it: 16 leaves at 4 passes, over the bound of 4 × 2)."""
    from gdal_spark.operators.fillnodata import smooth3x3

    t = spark.createDataFrame(
        [(0, 0, 1.0, True, False), (0, 1, 2.0, True, True)],
        "py long, px long, val double, tmask boolean, fmask boolean")
    leaves = {k: smooth3x3(t, k)._jdf.queryExecution().logical()
              .collectLeaves().size() for k in (1, 4)}
    assert all(leaves[k] <= k * leaves[1] for k in leaves), leaves
