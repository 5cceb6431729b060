"""Differential test bed for the point-in-polygon join on generated zone
layers. Three answers must agree on every (point, zone) pair:

- ``spatial_join.pip_join`` (the broadcast cover join);
- ``geom.point_in_polygon`` (numpy crossing number);
- a DuckDB half-plane query over edge ``VALUES`` built here from each
  zone's convex parts and holes. It imports nothing from the engine.

Each seeded layer holds a concave ring, a ring with holes, a multipart
zone, two zones sharing an edge, zero-width spikes, a triangle with its
vertices on tile corners, a comb that puts more than ``EDGE_SLOTS``
local edges into one z12 cell, and two squares meeting at one vertex.
Most coordinates lie on z12 tile boundaries. Points: uniform, a lattice
along every edge with its 8 one-ulp neighbours, and the corners of every
cover cell with theirs. The cover is checked on its own too: every
point in a ``full`` cell must be inside by the oracle, every edge a
boundary row carries must meet that row's part of its cell, and every
boundary row must be able to accept a point.

A star layer adds many zones: ``make_star_layer``'s stars, each a fan of
convex triangles around its centre for the half-plane oracle.

``PIP_BED_SEEDS=3,4,5`` runs more seeds.
"""

import hashlib
import os
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest

from gdal_spark.fixtures import ZONES
from gdal_spark.geo import geom as G
from gdal_spark.geo import mercator as M
from gdal_spark.operators import spatial_join as sj

Z = 12
SEEDS = [int(s) for s in os.environ.get("PIP_BED_SEEDS", "1,2").split(",")]


def _lon(k):
    """Longitude of the z12 tile column boundary k (exact in float)."""
    return k * (360.0 / 4096) - 180.0


def _lat(j):
    """Latitude of the z12 tile row boundary j, as the cover computes it."""
    return float(M.tile_bounds_latlon_np(np.array([0]), np.array([j]), Z)[2][0])


def _rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def _zone(fid, rings, parts, holes=(), segments=()):
    """A zone: ``rings`` for the engine; CCW convex ``parts``, CCW
    ``holes`` and degenerate ``segments`` (each a list of half-plane
    edges) for the half-plane oracle."""
    return {"zone_fid": fid, "rings": rings, "parts": parts,
            "holes": list(holes), "segments": list(segments)}


def _hseg(xa, xb, y):
    """Half-planes of the horizontal segment xa..xb (xa < xb) at y."""
    return [((xa, y), (xb, y)), ((xb, y), (xa, y)),
            ((xb, y - 1.0), (xb, y + 1.0)), ((xa, y + 1.0), (xa, y - 1.0))]


def _vseg(x, ya, yb):
    """Half-planes of the vertical segment ya..yb (ya < yb) at x."""
    return [((x, yb), (x, ya)), ((x, ya), (x, yb)),
            ((x - 1.0, ya), (x + 1.0, ya)), ((x + 1.0, yb), (x - 1.0, yb))]


def make_layer(seed):
    """Generated zones, each with ``rings`` (for the engine) and CCW
    convex ``parts`` / ``holes`` (for the half-plane oracle)."""
    rng = np.random.RandomState(seed)
    k0 = 2161 + rng.randint(0, 8)          # ~10° E
    j0 = 1448 + rng.randint(0, 8)          # ~46° N
    off = lambda: float(rng.choice([0.25, 0.5, 0.3125, 0.6171875]))

    def X(k, f=0.0):
        return _lon(k0 + k) + f * (360.0 / 4096)

    def Y(j):
        return _lat(j0 - j)

    zones = []
    # concave U, on tile boundaries except the inner notch floor
    a, b = 0, 4 + rng.randint(0, 2)
    yf = (Y(1) + Y(2)) / 2 + off() * 1e-3
    ring = [(X(a), Y(0)), (X(b), Y(0)), (X(b), Y(4)), (X(b - 1), Y(4)),
            (X(b - 1), yf), (X(a + 1), yf), (X(a + 1), Y(4)), (X(a), Y(4))]
    zones.append(_zone(0, [ring], [
        _rect(X(a), Y(0), X(b), yf), _rect(X(a), yf, X(a + 1), Y(4)),
        _rect(X(b - 1), yf, X(b), Y(4))]))
    # rectangle with two holes, one on tile boundaries, one off them
    outer = _rect(X(6), Y(0), X(11), Y(5))
    h1 = _rect(X(7), Y(1), X(8), Y(2))
    h2 = _rect(X(9, off()), Y(3), X(10, off()), (Y(3) + Y(4)) / 2)
    zones.append(_zone(1, [outer, h1, h2], [outer], [h1, h2]))
    # multipart: the second part lies outside the first part's bbox
    p1, p2 = _rect(X(0), Y(6), X(2), Y(8)), _rect(X(4, off()), Y(9),
                                                  X(6), Y(11))
    zones.append(_zone(2, [p1, p2], [p1, p2]))
    # two zones sharing part of the edge x = X(9)
    left, right = _rect(X(7), Y(6), X(9), Y(8)), _rect(X(9), Y(7), X(11), Y(9))
    zones.append(_zone(3, [left], [left]))
    zones.append(_zone(4, [right], [right]))
    # zero-width spikes: horizontal out of the right side (off the
    # grid), vertical out of the top (on a tile boundary)
    x0, x1, x2, y0, y1 = X(0), X(2), X(3, off()), Y(12), Y(14)
    ys, xs, ytop = (Y(12) + Y(13)) / 2 + off() * 1e-4, X(1), Y(15)
    ring = [(x0, y0), (x1, y0), (x1, ys), (x2, ys), (x1, ys), (x1, y1),
            (xs, y1), (xs, ytop), (xs, y1), (x0, y1)]
    zones.append(_zone(5, [ring], [_rect(x0, y0, x1, y1)],
                       segments=[_hseg(x1, x2, ys), _vseg(xs, y1, ytop)]))
    # triangle with its vertices on tile corners (diagonal edges)
    tri = [(X(5), Y(12)), (X(9), Y(13)), (X(6), Y(16))]
    zones.append(_zone(6, [tri], [tri]))
    # comb: 6 teeth inside one z12 cell
    w = (360.0 / 4096) / 13
    base = _rect(X(12), Y(0), X(13), Y(1))
    teeth = [_rect(X(12) + (2 * t + 1) * w, Y(1), X(12) + (2 * t + 2) * w,
                   Y(2) - off() * 1e-3) for t in range(6)]
    ring = [(X(12), Y(0)), (X(13), Y(0)), (X(13), Y(1))]
    for t in reversed(teeth):
        (tx0, _), (tx1, _), (_, ty1), _ = t
        ring += [(tx1, Y(1)), (tx1, ty1), (tx0, ty1), (tx0, Y(1))]
    ring += [(X(12), Y(1))]
    zones.append(_zone(7, [ring], [base] + teeth))
    # two squares meeting at the tile corner (X(14), Y(4))
    sa, sb = _rect(X(13), Y(3), X(14), Y(4)), _rect(X(14), Y(4), X(15), Y(5))
    zones.append(_zone(8, [sa, sb], [sa, sb]))
    return zones


def make_star_layer(n=25, v=12, lon0=10.0, lat0=46.0, size=2.0):
    """``n`` stars on a ⌈√n⌉ grid over a ``size``° box: star i has
    ``v`` vertices at angles 2πj/v + 0.1, at radii alternating 0.49 and
    0.30 of the grid step. Its oracle parts are the triangles of the fan
    around its centre."""
    g = int(np.ceil(np.sqrt(n)))
    step = size / g
    a = 2 * np.pi * np.arange(v) / v + 0.1
    rad = np.where(np.arange(v) % 2 == 0, 0.49, 0.30) * step
    zones = []
    for i in range(n):
        cx, cy = lon0 + (i % g + 0.5) * step, lat0 + (i // g + 0.5) * step
        ring = list(zip((cx + rad * np.cos(a)).tolist(),
                        (cy + rad * np.sin(a)).tolist()))
        zones.append(_zone(i, [ring], [[(cx, cy), ring[j], ring[(j + 1) % v]]
                                       for j in range(v)]))
    return zones


def make_ten_copies():
    """The fixture zones and nine copies shifted east, as in the
    plan-shape test."""
    return [dict(z, zone_fid=10 * i + z["zone_fid"],
                 rings=[[(x + 1.5 * i, y) for x, y in r]
                        for r in z["rings"]])
            for i in range(10) for z in ZONES]


def _layer(layer):
    """A bed seed's layer, or "stars", "10x" or "fixture"."""
    if layer == "stars":
        return make_star_layer()
    if layer == "10x":
        return make_ten_copies()
    return ZONES if layer == "fixture" else make_layer(layer)


# ------------------------------------------------------------- points

def _neighbours(px, py):
    """Each point with its 8 one-ulp neighbours."""
    xs = [np.nextafter(px, -np.inf), px, np.nextafter(px, np.inf)]
    ys = [np.nextafter(py, -np.inf), py, np.nextafter(py, np.inf)]
    return (np.concatenate([x for x in xs for _ in ys]),
            np.concatenate([y for _ in xs for y in ys]))


def make_points(zones, cover, seed, per_edge=12):
    rng = np.random.RandomState(1000 + seed)
    allv = np.concatenate([np.asarray(r) for z in zones for r in z["rings"]])
    (xmin, ymin), (xmax, ymax) = allv.min(axis=0), allv.max(axis=0)
    ux = rng.uniform(xmin - 0.01, xmax + 0.01, 4000)
    uy = rng.uniform(ymin - 0.01, ymax + 0.01, 4000)
    lx, ly = [], []
    t = np.linspace(0.0, 1.0, per_edge)[:, None]
    for z in zones:
        for r in z["rings"]:
            a = np.asarray(r, dtype=np.float64)
            b = np.roll(a, -1, axis=0)
            p = (a[None] + t[..., None] * (b - a)[None]).reshape(-1, 2)
            lx.append(p[:, 0])
            ly.append(p[:, 1])
    lx, ly = _neighbours(np.concatenate(lx), np.concatenate(ly))
    minlat, minlon, maxlat, maxlon = M.tile_bounds_latlon_np(
        cover["tx"].to_numpy(), cover["ty"].to_numpy(), Z)
    cx, cy = _neighbours(np.concatenate([minlon, maxlon, minlon, maxlon]),
                         np.concatenate([minlat, minlat, maxlat, maxlat]))
    px = np.concatenate([ux, lx, cx])
    py = np.concatenate([uy, ly, cy])
    pts = np.unique(np.stack([px, py], axis=1), axis=0)
    return pts[:, 0], pts[:, 1]


# ------------------------------------------------------------- oracles

def _lit(x):
    s = repr(float(x))
    return s if "e" in s else s + "e0"


def _closed_edges(ring):
    r = list(ring)
    return list(zip(r, r[1:] + r[:1]))


def duckdb_pairs(zones, px, py):
    """(point, zone) pairs by the half-plane rule: inside some convex
    part (every edge's cross product >= 0), or on a spike (a degenerate
    part bounded by half-planes), and not strictly inside any hole."""
    import duckdb

    rows = []
    for z in zones:
        groups = ([(0, _closed_edges(p)) for p in z["parts"]]
                  + [(0, seg) for seg in z["segments"]]
                  + [(1, _closed_edges(h)) for h in z["holes"]])
        for pid, (is_hole, edges) in enumerate(groups):
            for (x1, y1), (x2, y2) in edges:
                rows.append(f"({z['zone_fid']}, {pid}, {is_hole}, {_lit(x1)},"
                            f" {_lit(y1)}, {_lit(x2)}, {_lit(y2)})")
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"pid": np.arange(len(px)),
                                      "lat": py, "lon": px}))
    cross = "(e.x2 - e.x1) * (p.lat - e.y1) - (e.y2 - e.y1) * (p.lon - e.x1)"
    got = con.execute(f"""
        WITH e AS (SELECT * FROM (VALUES {', '.join(rows)})
                   AS t(zone_fid, part_id, is_hole, x1, y1, x2, y2)),
        s AS (
          SELECT p.pid, e.zone_fid, e.part_id, e.is_hole,
                 MIN(CASE WHEN {cross} >= 0 THEN 1 ELSE 0 END) AS inc,
                 MIN(CASE WHEN {cross} > 0 THEN 1 ELSE 0 END) AS strict
          FROM pts p, e GROUP BY ALL)
        SELECT pid, zone_fid FROM s GROUP BY pid, zone_fid
        HAVING MAX(CASE WHEN is_hole = 0 AND inc = 1 THEN 1 ELSE 0 END) = 1
           AND MAX(CASE WHEN is_hole = 1 AND strict = 1 THEN 1 ELSE 0 END) = 0
    """).fetchall()
    return set(got)


def numpy_pairs(zones, px, py):
    return {(int(i), z["zone_fid"]) for z in zones
            for i in np.nonzero(G.point_in_polygon(
                px, py, [np.asarray(r, dtype=np.float64)
                         for r in z["rings"]]))[0]}


def join_pairs(spark, zones, px, py, zoom):
    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(len(px)), "lat": py, "lon": px}))
    got = (sj.pip_join(pts, spark, zones=zones, zoom=zoom)
           .select("pid", "zone_fid").toPandas())
    return set(map(tuple, got.to_numpy().tolist()))


# --------------------------------------------------------------- tests

def _diff(a, b):
    return sorted(a - b)[:5], sorted(b - a)[:5]


@pytest.mark.parametrize("layer", [*SEEDS, "stars"])
def test_join_numpy_and_duckdb_agree(spark, layer):
    zones = _layer(layer)
    _, cover = sj.zone_cell_cover(zones, Z)
    px, py = make_points(zones, cover, 0 if layer == "stars" else layer)
    want = numpy_pairs(zones, px, py)
    oracle = duckdb_pairs(zones, px, py)
    assert oracle == want, _diff(oracle, want)
    for zoom in (Z, Z + 2, None):
        got = join_pairs(spark, zones, px, py, zoom)
        assert got == want, (zoom, _diff(got, want))


@pytest.mark.parametrize("seed", SEEDS)
def test_full_cells_hold_only_inside_points(seed):
    zones = make_layer(seed)
    _, cover = sj.zone_cell_cover(zones, Z)
    px, py = make_points(zones, cover, seed)
    tx, ty = M.latlon_to_tile_np(py, px, Z)
    cell = np.asarray(tx) * (1 << Z) + np.asarray(ty)
    full = cover[cover["full"]]
    for z in zones:
        f = full[full["zone_fid"] == z["zone_fid"]]
        sel = np.isin(cell, f["tx"].to_numpy() * (1 << Z) + f["ty"].to_numpy())
        rings = [np.asarray(r, dtype=np.float64) for r in z["rings"]]
        assert G.point_in_polygon(px[sel], py[sel], rings).all(), z["zone_fid"]


@pytest.mark.parametrize("layer", [*SEEDS, "10x", "fixture", "stars"])
def test_auto_cover_stays_within_budget(layer):
    """The auto zoom is the first level where four times the cover's
    cells exceed ``COVER_CELLS`` (z18 at most), so the cover holds at
    most ``COVER_CELLS`` cells. The fixture zones get z12, and their
    auto cover is their z12 cover."""
    zones = _layer(layer)
    zoom, cover = sj.zone_cell_cover(zones)
    cells = len(cover.drop_duplicates(["tx", "ty", "zone_fid"]))
    assert cells <= sj.COVER_CELLS, (zoom, cells)
    assert zoom == 18 or 4 * cells > sj.COVER_CELLS, (zoom, cells)
    if layer == "fixture":
        z12 = sj.zone_cell_cover(zones, 12)[1]
        assert zoom == 12
        pd.testing.assert_frame_equal(cover.drop(columns="edges"),
                                      z12.drop(columns="edges"))
        assert all(map(np.array_equal, cover["edges"].dropna(),
                       z12["edges"].dropna()))


def test_layer_exercises_splits_and_wide_rows():
    """The comb needs more than EDGE_SLOTS local edges in one z12 cell,
    so its rows are split into parts; the squares' shared vertex keeps
    four edges in every part around it."""
    _, cover = sj.zone_cell_cover(make_layer(SEEDS[0]), Z)
    bnd = cover[~cover["full"]]
    comb = bnd[bnd["zone_fid"] == 7]
    assert np.isfinite(comb["lon0"]).any()
    assert (bnd["edges"].map(len) > sj.EDGE_SLOTS).any()


def _meets(edge, rect):
    """Whether segment (x1, y1, x2, y2) meets the closed rectangle (x0,
    x9, y0, y9), in exact rational arithmetic: clip the segment's
    parameter range [0, 1] to each axis's slab."""
    x1, y1, x2, y2 = map(Fraction, edge)
    t0, t1 = Fraction(0), Fraction(1)
    for p, d, lo, hi in ((x1, x2 - x1, *rect[:2]), (y1, y2 - y1, *rect[2:])):
        lo, hi = Fraction(lo), Fraction(hi)
        if d == 0:
            if not lo <= p <= hi:
                return False
        else:
            a, b = sorted(((lo - p) / d, (hi - p) / d))
            t0, t1 = max(t0, a), min(t1, b)
    return t0 <= t1


@pytest.mark.parametrize("layer", [*SEEDS, "fixture", "stars"])
def test_boundary_rows_carry_only_edges_meeting_their_part(layer):
    """Every edge on a boundary row, stand-ins excepted, meets the row's
    part of its cell widened by ``COVER_MARGIN``: an edge that misses it
    is wholly left or right of every point there, so it belongs in the
    parity or nowhere."""
    zones = _layer(layer)
    _, cover = sj.zone_cell_cover(zones, Z)
    bnd = cover[~cover["full"]]
    minlat, minlon, maxlat, maxlon = M.tile_bounds_latlon_np(
        bnd["tx"].to_numpy(), bnd["ty"].to_numpy(), Z)
    m = sj.COVER_MARGIN
    rects = np.stack([
        np.maximum(minlon, bnd["lon0"].to_numpy(float)) - m,
        np.minimum(maxlon, bnd["lon1"].to_numpy(float)) + m,
        np.maximum(np.minimum(minlat, maxlat), bnd["lat0"].to_numpy(float)) - m,
        np.minimum(np.maximum(minlat, maxlat), bnd["lat1"].to_numpy(float)) + m,
    ], axis=1)
    assert len(bnd)
    stray = [(i, e) for i, (rect, edges) in enumerate(zip(rects, bnd["edges"]))
             for e in edges.tolist() if e[0] != sj._EAST and not _meets(e, rect)]
    assert not stray, (len(stray), stray[:3])


@pytest.mark.parametrize("layer", [*SEEDS, "fixture", "stars"])
def test_boundary_rows_can_accept(layer):
    """A boundary row with no edges must have odd parity: with even
    parity the predicate rejects every point, so the row is dead."""
    zones = _layer(layer)
    _, cover = sj.zone_cell_cover(zones, Z)
    bnd = cover[~cover["full"]]
    dead = (bnd["edges"].map(len) == 0) & ~bnd["parity"].astype(bool)
    assert not dead.any(), bnd[dead].head(3)


def _canonical(row):
    """A cover row as a sortable tuple: every column, floats in hex,
    a boundary row's edges in order."""
    bounds = (float(v).hex()
              for v in (row.lon0, row.lon1, row.lat0, row.lat1))
    tail = ("-", "-") if row.full else (
        str(bool(row.parity)),
        ",".join(map(float.hex, row.edges.ravel().tolist())))
    return (int(row.tx), int(row.ty), int(row.zone_fid), bool(row.full),
            *bounds, *tail)


@pytest.mark.parametrize("layer, zoom, digest", [
    ("fixture", 12,
     "a63c010d735e7eef137d6734cd7d7e7e9e8e197ba69b046b968cb1dd18c091ef"),
    (1, Z,
     "448029e42d842cf2fca841936b038f575513308c033370f8a9056102869dff3c"),
    (1, None,
     "cc00e7086d6dbeec6172b48ec3085f27735584eae9fba5215bf76f8642bf5fea"),
], ids=["fixture-z12", "seed1-z12", "seed1-auto"])
def test_cover_is_pinned_row_for_row(layer, zoom, digest):
    """The cover, as sha256 of its column dtypes and its rows sorted:
    a change to the build that moves any row, bound, parity or edge
    shows here."""
    _, cover = sj.zone_cell_cover(_layer(layer), zoom)
    h = hashlib.sha256(repr(cover.dtypes.astype(str).to_dict()).encode())
    for row in sorted(map(_canonical, cover.itertuples(index=False))):
        h.update(repr(row).encode())
    assert h.hexdigest() == digest


@pytest.mark.parametrize("layer", ["10x", "fixture"])
def test_cover_build_classifies_once_per_level(monkeypatch, layer):
    """One ``_part_edges`` call per level of the descent and one per
    split depth serve all zones, whatever their number, and one
    ``_cell_edges`` call makes every boundary row."""
    calls = {"_part_edges": 0, "_cell_edges": 0}

    def counted(name, fn):
        def call(*args):
            calls[name] += 1
            return fn(*args)
        return call

    for name in calls:
        monkeypatch.setattr(sj, name, counted(name, getattr(sj, name)))
    zoom, _ = sj.zone_cell_cover(_layer(layer))
    assert calls["_part_edges"] <= (zoom + 1) + (sj.SPLIT_DEPTH + 1), (
        zoom, calls)
    assert calls["_cell_edges"] == 1, calls
