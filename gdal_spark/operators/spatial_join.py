"""Point-in-polygon spatial join — the engine's core operator.

Semantics matched: OGR's 3-stage spatial filter (ogr/ogrsf_frmts/
generic/ogrlayer.cpp:4005-4078 ``FilterGeometry``):

1. envelope reject        → here: XYZ-tile cell-cover equi-join (coarse)
2. envelope-contains      → cover cells *fully inside* the polygon skip
   accept                    the exact test (ogrlayer.cpp:4040 shortcut)
3. exact GEOS Intersects  → boundary-inclusive crossing-number test as
   refine                    one codegen'd SQL predicate (``pip_sql``)
                             over the few edges stored on the cell's
                             cover row

and the layer-algebra Intersection pair-emission (ogrlayer.cpp:
5386-5803): every intersecting (point, polygon) pair is emitted with
both sides' attributes. ``first_match=True`` instead reproduces the OGR
SQL JOIN rule (ogr_gensql.cpp:1334-1546): LEFT join, at most one match,
pick the *first* secondary feature in FID order.

Scale design (100 TB story):
- The big side is never shuffled: the polygon cover is a small
  DataFrame joined with an explicit ``broadcast()`` hint, so the join is
  a map-side BroadcastHashJoin; the only wide op is whatever aggregation
  the caller adds downstream.
- The cover zoom adapts so each polygon covers ≤ ``COVER_CELLS``
  cells. Stages 2 and 3 are one join condition, ``full OR <pip>``:
  ``Or`` short-circuits in codegen, so interior-cell rows never
  evaluate an edge, and the join is one pass with no Python hop.
- The exact test sees only the edges that can change the answer in a
  cell (the interior/boundary split of *Raster Intervals*, SIGMOD
  2023): the driver keeps them, up to ``EDGE_SLOTS``, on each boundary
  cover row and folds the rest into one parity bit (``_cell_edges``).
  The predicate is a fixed number of edge slots, so its size does not
  grow with the zone layer and the join stage's generated method stays
  under HotSpot's 8000-byte compile limit.
- For polygon sets too large to broadcast, the same cover table can be
  shuffle-joined on (tx, ty) with salting — see tiling.salted_count for
  the skew pattern; not needed for the fixture scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.fixtures import ZONES, zone_area
from gdal_spark.geo import geom as G
from gdal_spark.geo import mercator as M


#: bbox-cell budget per zone for the cover zoom choice (z12 for the
#: fixture zones). Output is identical at any budget; finer covers send
#: fewer rows through the edge test, coarser ones build a smaller
#: broadcast side.
COVER_CELLS = 131072

#: degrees. ``tile_cols`` can place a point a rounding step (~1e-13°)
#: outside its cell's float rectangle; every cover test widens the
#: rectangle by this much.
COVER_MARGIN = 1e-9

#: local-edge slots on a boundary cover row, unrolled in ``pip_sql``
EDGE_SLOTS = 3

#: how many times a boundary row with more local edges than slots is
#: quartered (z12 cells down to parts of ~1e-4°)
SPLIT_DEPTH = 10


def auto_cover_zoom(zones=ZONES, max_cells_per_zone: int = COVER_CELLS) -> int:
    """Highest zoom where every zone's bbox cover stays under the cap."""
    best = 0
    for z in range(1, 19):
        ok = True
        for zone in zones:
            xmin, ymin, xmax, ymax = G.polygon_bbox(zone["rings"])
            tx0, ty0 = M.latlon_to_tile_np(np.array([ymax]), np.array([xmin]), z)
            tx1, ty1 = M.latlon_to_tile_np(np.array([ymin]), np.array([xmax]), z)
            n = (int(tx1[0]) - int(tx0[0]) + 1) * (int(ty1[0]) - int(ty0[0]) + 1)
            if n > max_cells_per_zone:
                ok = False
                break
        if ok:
            best = z
        else:
            break
    return best


def zone_cell_cover(zones=ZONES, zoom: int | None = None) -> tuple[int, pd.DataFrame]:
    """Driver-side cover build (zones are the small broadcast side).

    Returns (zoom, frame of tx, ty, zone_fid, full, lon0, lon1, lat0,
    lat1, parity, edges). ``full`` mirrors the envelope-contains accept
    of ogrlayer.cpp:4040: the cell lies entirely in the polygon
    interior, so member points need no exact test. A boundary row
    (``full`` false) carries the exact test's inputs for the part
    [lon0, lon1) × [lat0, lat1) of its cell (``_cell_edges``): the
    folded ``parity`` and the local ``edges``. These are NaN / None on
    full rows.
    """
    zoom = auto_cover_zoom(zones) if zoom is None else zoom
    parts = []
    for zone in zones:
        rings = [np.asarray(r, dtype=np.float64) for r in zone["rings"]]
        zbbox = G.polygon_bbox(zone["rings"])
        txs, tys, fulls = _quad_cover(rings, zbbox, zoom)
        for part in (pd.DataFrame({"tx": txs[fulls], "ty": tys[fulls],
                                   "full": True}),
                     _cell_edges(rings, txs[~fulls], tys[~fulls], zoom)):
            parts.append(part.assign(zone_fid=np.int32(zone["zone_fid"])))
    pdf = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        {"tx": np.array([], np.int64), "ty": np.array([], np.int64),
         "full": np.array([], bool), "zone_fid": np.array([], np.int32)})
    return zoom, pdf.reindex(columns=["tx", "ty", "zone_fid", "full", "lon0",
                                      "lon1", "lat0", "lat1", "parity",
                                      "edges"])


#: longitude of the stand-in edges ``_part_edges`` makes for the ends
#: of edges right of a part: east of every point
_EAST = 1000.0


def _part_edges(x1, y1, x2, y2, lo_lon, lo_lat, hi_lon, hi_lat):
    """Edges (E,) against widened rectangles (R,) → (parity (R,), row
    (N,), edges (N, 4)): the ``_cell_edges`` classification, with the
    local edges of rectangle ``row[i]`` in ``edges[i]``, rows ascending.

    An edge right of the rectangle counts for a point exactly when
    ylo <= lat < yhi, i.e. [lat >= ylo] XOR [lat >= yhi]. Each such
    end below the rectangle toggles ``parity``; an end within its
    latitudes becomes the stand-in edge (_EAST, y)–(_EAST, _EAST),
    which counts exactly when lat >= y; ends above it never count.
    Two equal ends cancel, so an edge continued by another (a shared
    vertex right of the rectangle) leaves nothing behind."""
    xlo, xhi = np.minimum(x1, x2), np.maximum(x1, x2)
    ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
    lo_lon, lo_lat, hi_lon, hi_lat = (a[:, None] for a in
                                      (lo_lon, lo_lat, hi_lon, hi_lat))
    local = ((ylo <= hi_lat) & (yhi >= lo_lat)
             & (xhi >= lo_lon) & (xlo <= hi_lon))
    right = xlo > hi_lon
    parity = ((right & (ylo < lo_lat)).sum(axis=1)
              + (right & (yhi < lo_lat)).sum(axis=1)) % 2 == 1
    ends = [np.nonzero(right & (y >= lo_lat) & (y <= hi_lat))
            for y in (ylo, yhi)]
    row = np.concatenate([r for r, _ in ends])
    y = np.concatenate([y[c] for (_, c), y in zip(ends, (ylo, yhi))])
    (row, y), odd = np.unique(np.stack([row, y]), axis=1,
                              return_counts=True)
    row, y = row[odd % 2 == 1].astype(np.int64), y[odd % 2 == 1]
    lr, lc = np.nonzero(local)
    row = np.concatenate([lr, row])
    edges = np.concatenate([
        np.stack([x1, y1, x2, y2], axis=1)[lc],
        np.stack([np.full_like(y, _EAST), y, np.full_like(y, _EAST),
                  np.full_like(y, _EAST)], axis=1)])
    order = np.argsort(row, kind="stable")
    return parity, row[order], edges[order]


def _cell_edges(rings, gx, gy, zoom) -> pd.DataFrame:
    """Boundary rows of one zone for cells (gx, gy): per row the part
    [lon0, lon1) × [lat0, lat1) of the cell it answers for, the parity
    folded from the edges right of that part, and its local edges
    (stand-ins included) as an (n, 4) x1, y1, x2, y2 array.

    A point ``tile_cols`` maps into a cell lies within the cell's
    rectangle widened by ``COVER_MARGIN`` (m). Against that rectangle
    every edge is one of:

    - apart in y (yhi < lo_lat or ylo > hi_lat): the point's latitude is
      outside the edge's [ylo, yhi], so the edge can neither count nor
      hold the point. Skipped.
    - wholly left (xhi < lo_lon): the point is not in the edge's x-range,
      so not on it, and lies right of it by a gap g > m - ~1e-13. The
      cross product is -dy·g exactly; its rounding error is a few ulps
      of |dy|·(|dx| + |lon - x1|) ≤ |dy|·720 when the latitude is in
      the edge's y-range, about 1e-13·|dy|, far below |dy|·g. So its
      computed sign says "right of the edge" and the edge never counts.
      Skipped.
    - wholly right (xlo > hi_lon): the point is not on it, and by the
      same bound the sign says "left of the edge": the edge counts
      exactly when ylo <= lat < yhi. That reads only the edge's ends,
      which ``_part_edges`` folds into ``parity`` or keeps as stand-in
      edges.
    - anything else is local and is tested per point, bit for bit as
      ``geom.point_in_polygon`` tests it.

    So every skipped or folded edge answers as the exact test would,
    and ``parity`` XOR the local crossings OR a hit on a local edge is
    that test's answer.

    A row with more than ``EDGE_SLOTS`` local edges is split into its 4
    quarters, at most ``SPLIT_DEPTH`` times; each quarter is classified
    as above. A point belongs to exactly one part, as parts are
    half-open and the cell's outer sides are open (±inf). Only edges
    that meet at one point (a vertex of degree > ``EDGE_SLOTS``)
    outlast the splits; such a row keeps all its edges, and
    ``build_cover_df`` widens every row's slots to fit the largest."""
    x1, y1, x2, y2 = (np.concatenate(a) for a in
                      zip(*(G._ring_arrays(r) for r in rings)))
    minlat, minlon, maxlat, maxlon = M.tile_bounds_latlon_np(gx, gy, zoom)
    n = len(gx)
    # a part: its cell, exact rectangle x0, x9, y0, y9, region r0 … r3
    part = [np.arange(n), minlon, maxlon, np.minimum(minlat, maxlat),
            np.maximum(minlat, maxlat)] + [
        np.full(n, v) for v in (-np.inf, np.inf, -np.inf, np.inf)]
    rows = []
    for depth in range(SPLIT_DEPTH + 1):
        cell, x0, x9, y0, y9, r0, r1, r2, r3 = part
        m = COVER_MARGIN
        parity, row, edges = _part_edges(x1, y1, x2, y2, x0 - m, y0 - m,
                                         x9 + m, y9 + m)
        n = np.bincount(row, minlength=len(cell))
        split = (n > EDGE_SLOTS) & (depth < SPLIT_DEPTH)
        rows.append([a[~split] for a in (cell, r0, r1, r2, r3, parity)]
                    + [np.split(edges[~split[row]], np.cumsum(n[~split])[:-1])
                       if (~split).any() else []])
        cell, x0, x9, y0, y9, r0, r1, r2, r3 = (a[split] for a in part)
        xm, ym = (x0 + x9) / 2, (y0 + y9) / 2
        quarters = [(hx, hy)
                    for hx in ((x0, xm, r0, xm), (xm, x9, xm, r1))
                    for hy in ((y0, ym, r2, ym), (ym, y9, ym, r3))]
        part = [np.tile(cell, 4)] + [
            np.concatenate([(hx + hy)[k] for hx, hy in quarters])
            for k in (0, 1, 4, 5, 2, 3, 6, 7)]
        if not len(cell):
            break
    cell, r0, r1, r2, r3, parity = (np.concatenate(c) for c in
                                    list(zip(*rows))[:6])
    edges = [e for level in rows for e in level[6]]
    return pd.DataFrame({
        "tx": gx[cell], "ty": gy[cell], "full": False,
        "lon0": r0, "lon1": r1, "lat0": r2, "lat1": r3,
        "parity": pd.Series(parity, dtype=object),
        "edges": pd.Series(edges, dtype=object)})


def _classify_cells(rings, zbbox, gx, gy, zoom):
    """Classify cells (gx, gy int64 arrays at ``zoom``) against one
    polygon → (keep, full) bool arrays. keep = cell intersects the
    polygon; full = cell interior entirely inside (the ogrlayer.cpp:4040
    envelope-contains accept). Both test the cell widened by
    ``COVER_MARGIN``, so they hold for every point ``tile_cols`` maps
    into the cell."""
    xmin, ymin, xmax, ymax = zbbox
    minlat, minlon, maxlat, maxlon = M.tile_bounds_latlon_np(gx, gy, zoom)
    m = COVER_MARGIN
    lo_lon, lo_lat = minlon - m, np.minimum(minlat, maxlat) - m
    hi_lon, hi_lat = maxlon + m, np.maximum(minlat, maxlat) + m
    keep = np.zeros(len(gx), dtype=bool)
    full = np.zeros(len(gx), dtype=bool)
    # cell bbox vs zone bbox reject (stage-1 envelope test)
    idx = np.nonzero(~((hi_lon < xmin) | (lo_lon > xmax)
                       | (hi_lat < ymin) | (lo_lat > ymax)))[0]
    if len(idx) == 0:
        return keep, full
    lo_lon, hi_lon = lo_lon[idx], hi_lon[idx]
    lo_lat, hi_lat = lo_lat[idx], hi_lat[idx]
    m = len(idx)
    # 4 corners of every candidate cell in one PIP call
    corners_x = np.concatenate([lo_lon, hi_lon, hi_lon, lo_lon])
    corners_y = np.concatenate([lo_lat, lo_lat, hi_lat, hi_lat])
    cin = G.point_in_polygon(corners_x, corners_y, rings).reshape(4, m)
    inside_all, inside_any = cin.all(axis=0), cin.any(axis=0)
    crossed = np.zeros(m, dtype=bool)
    vin = np.zeros(m, dtype=bool)       # any polygon vertex inside cell
    hole_vin = np.zeros(m, dtype=bool)  # any HOLE vertex inside cell
    for ri, r in enumerate(rings):
        crossed |= G.edges_cross_rects(r, lo_lon, lo_lat, hi_lon, hi_lat)
        rx, ry = r[:, 0][None, :], r[:, 1][None, :]
        v = ((rx >= lo_lon[:, None]) & (rx <= hi_lon[:, None])
             & (ry >= lo_lat[:, None]) & (ry <= hi_lat[:, None])).any(axis=1)
        vin |= v
        if ri > 0:
            hole_vin |= v
    # vin guard: a polygon (or hole) strictly inside one cell leaves no
    # corner-inside or edge-crossing evidence — the seed grid of the
    # quadtree build can be coarser than the zone, so test ring
    # vertices against the cell too
    keep[idx] = crossed | inside_any | vin
    full[idx] = inside_all & ~crossed & ~hole_vin
    return keep, full


def _expand_cells(tx, ty, d: int):
    """All zoom+d descendants of cells (tx, ty): (n·4^d,) arrays."""
    k = 1 << d
    off = np.arange(k, dtype=np.int64)
    ox, oy = np.meshgrid(off, off, indexing="ij")
    ox, oy = ox.ravel(), oy.ravel()
    ex = (tx[:, None] * k + ox[None, :]).ravel()
    ey = (ty[:, None] * k + oy[None, :]).ravel()
    return ex, ey


#: seed-grid budget for the quadtree cover build: the recursion starts
#: at the coarsest zoom where the zone bbox is under this many cells,
#: then subdivides only boundary cells — build work is O(perimeter /
#: cell_size), not O(area / cell_size²), so a fine final zoom (few
#: rows through the edge test) stays cheap to construct driver-side.
COVER_SEED_CELLS = 1024


def _quad_cover(rings, zbbox, zoom: int):
    """Uniform-zoom cover of one polygon built by quadtree descent.

    Emits the same (tx, ty, full) set as classifying every bbox cell at
    ``zoom`` directly: full coarse cells expand to all-full descendants
    (strict subset of the interior), boundary cells recurse.
    """
    xmin, ymin, xmax, ymax = zbbox
    z0 = max(1, min(zoom, auto_cover_zoom(
        [{"rings": [r.tolist() for r in rings], "zone_fid": -1}],
        COVER_SEED_CELLS)))
    tx0, ty0 = M.latlon_to_tile_np(np.array([ymax]), np.array([xmin]), z0)
    tx1, ty1 = M.latlon_to_tile_np(np.array([ymin]), np.array([xmax]), z0)
    txs = np.arange(int(tx0[0]), int(tx1[0]) + 1, dtype=np.int64)
    tys = np.arange(int(ty0[0]), int(ty1[0]) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(txs, tys, indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    out_x, out_y, out_f = [], [], []
    z = z0
    while len(gx):
        keep, full = _classify_cells(rings, zbbox, gx, gy, z)
        if z == zoom:
            out_x.append(gx[keep])
            out_y.append(gy[keep])
            out_f.append(full[keep])
            break
        fsel = keep & full
        if fsel.any():
            ex, ey = _expand_cells(gx[fsel], gy[fsel], zoom - z)
            out_x.append(ex)
            out_y.append(ey)
            out_f.append(np.ones(len(ex), dtype=bool))
        bsel = keep & ~full
        bx, by = gx[bsel], gy[bsel]
        gx = np.repeat(bx * 2, 4) + np.tile(np.array([0, 1, 0, 1]), len(bx))
        gy = np.repeat(by * 2, 4) + np.tile(np.array([0, 0, 1, 1]), len(by))
        z += 1
    if not out_x:
        e = np.array([], dtype=np.int64)
        return e, e.copy(), np.array([], dtype=bool)
    return (np.concatenate(out_x), np.concatenate(out_y),
            np.concatenate(out_f))


def zones_attr_df(spark: SparkSession) -> DataFrame:
    rows = [(z["zone_fid"], z["eas_id"], zone_area(z), z["prfedea"]) for z in ZONES]
    return spark.createDataFrame(rows, "zone_fid int, eas_id int, area double, prfedea string")


#: one local edge in a boundary row's ``_e``: first vertex,
#: direction-signed deltas, bbox
_SLOT = ("x", "y", "sx", "sy", "xl", "xh", "yl", "yh")

#: an unused slot: its y-range is empty, so it fails the first test
_NO_EDGE = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, np.inf, -np.inf)


def _slot_values(e):
    """(n, 4) x1, y1, x2, y2 → (n, 8) ``_SLOT`` values. ``s`` is the
    edge's direction, +1 up, -1 down, 0 flat; s·(x2 - x1) and
    s·(y2 - y1) are exact, so s times the oracle's cross product comes
    out of them bit for bit."""
    x1, y1, x2, y2 = e.T
    s = np.sign(y2 - y1)
    return np.stack([x1, y1, s * (x2 - x1), s * (y2 - y1),
                     np.minimum(x1, x2), np.maximum(x1, x2),
                     np.minimum(y1, y2), np.maximum(y1, y2)], axis=1)


def _slot_count(cover) -> int:
    """``EDGE_SLOTS``, or more when some row has more local edges
    (``_cell_edges``)."""
    n = cover.loc[~cover["full"].to_numpy(bool), "edges"].map(len)
    return max(EDGE_SLOTS, int(n.max())) if len(n) else EDGE_SLOTS


def build_cover_df(spark: SparkSession, cover, zoom: int) -> DataFrame:
    """Cover table keyed by a SINGLE long cell id (tx·2^z + ty): a
    one-column long equi-join gives Spark its specialized
    LongHashedRelation instead of the generic two-column UnsafeRow
    relation (~1.5× faster probe at 38M rows measured).

    A boundary row carries one ``_e array<double>``: parity, lon0,
    lon1, lat0, lat1, then ``_slot_count(cover)`` groups of ``_SLOT``
    values holding its local edges, unused ones ``_NO_EDGE``. On full
    rows ``_e`` is empty, so they stay narrow; it is never null and
    holds no nulls, so the predicate's generated code has no null
    branches."""
    import pyarrow as pa

    cell = cover["tx"].to_numpy() * (1 << zoom) + cover["ty"].to_numpy()
    full = cover["full"].to_numpy(bool)
    bnd = cover[~full]
    n = bnd["edges"].map(len).to_numpy(np.int64)
    slots = _slot_count(cover)
    vals = np.tile(np.array(_NO_EDGE), (len(bnd), slots, 1))
    row = np.repeat(np.arange(len(bnd)), n)
    pos = np.arange(len(row)) - np.repeat(np.cumsum(n) - n, n)
    vals[row, pos] = _slot_values(np.concatenate([*bnd["edges"], np.empty((0, 4))]))
    head = bnd[["parity", "lon0", "lon1", "lat0", "lat1"]].to_numpy(np.float64)
    vals = np.concatenate([head, vals.reshape(len(bnd), -1)], axis=1)
    width = np.where(full, 0, vals.shape[1])
    edges = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(width)]), pa.int32()),
        pa.array(vals.ravel()),
        type=pa.list_(pa.field("item", pa.float64(), nullable=False)))
    return spark.createDataFrame(pa.table({
        "cell": pa.array(cell, pa.int64()),
        "zone_fid": pa.array(cover["zone_fid"].to_numpy(np.int32)),
        "full": pa.array(full), "_e": edges},
        schema=pa.schema([("cell", pa.int64()), ("zone_fid", pa.int32()),
                          ("full", pa.bool_()),
                          pa.field("_e", edges.type, nullable=False)])))


def _slot_sql(k: int, lat: str, lon: str, on: int) -> str:
    """The slot at ``_e[k]`` as 0, 1 (the point's rightward ray crosses
    its edge) or ``on`` (the point is on the edge). ``c`` is s times the
    oracle's ``(x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1)`` in its
    op order: a crossing needs lat in [yl, yh) and c > 0; on the edge
    needs c = 0 inside its bbox. A flat edge has s = 0, so c = 0 and
    only the bbox decides."""
    x, y, sx, sy, xl, xh, yl, yh = (f"_e[{k + j}]" for j in range(len(_SLOT)))
    c = f"{sx} * ({lat} - {y}) - {sy} * ({lon} - {x})"
    return (f"CASE WHEN {lat} < {yl} OR {lat} > {yh} THEN 0"
            f" WHEN {c} > 0 AND {lat} < {yh} THEN 1"
            f" WHEN {c} = 0 AND {lon} >= {xl} AND {lon} <= {xh} THEN {on}"
            f" ELSE 0 END")


def pip_sql(slots: int = EDGE_SLOTS, lat_col: str = "lat",
            lon_col: str = "lon") -> str:
    """Spark SQL boolean over a boundary cover row's ``_e``: the point
    (lon_col, lat_col) lies in the row's part of its cell and
    intersects the row's zone — ``geom.point_in_polygon``'s rule (on
    some ring edge, or an odd count of crossings of its rightward ray)
    over only the edges that can change the answer there
    (``_cell_edges``).

    Each slot gives 0, 1 or ``on`` = 2·slots + 1 (``_slot_sql``). The
    parity plus the crossings is at most slots + 1 < on, so
    ``least(parity + slot values, on)`` is odd exactly when the parity
    of the crossings is odd or some slot holds the point. The text
    depends only on ``slots``, not on the zone layer; at
    ``EDGE_SLOTS`` the join stage's largest generated method stays
    under HotSpot's 8000-byte JIT limit (tests/test_plan_shapes.py)."""
    lat, lon = lat_col, lon_col
    on = 2 * slots + 1
    terms = " + ".join(_slot_sql(5 + len(_SLOT) * i, lat, lon, on)
                       for i in range(slots))
    return (f"{lon} >= _e[1] AND {lon} < _e[2] AND {lat} >= _e[3]"
            f" AND {lat} < _e[4]"
            f" AND (least(CAST(_e[0] AS INT) + {terms}, {on}) & 1) = 1")


def pip_join(points: DataFrame, spark: SparkSession, zones=ZONES,
             lat_col: str = "lat", lon_col: str = "lon",
             zoom: int | None = None, first_match: bool = False,
             point_fid: str | None = None) -> DataFrame:
    """points ⋈ zones on ST_Intersects(point, polygon).

    One broadcast join on the cover cell whose condition is
    ``full OR pip_sql(...)``: interior cells accept without a test,
    boundary rows run the exact test over their own edges in codegen.
    Returns points' columns + zone_fid (inner join over intersecting
    pairs).
    ``first_match`` adds OGR SQL JOIN semantics: per point keep the
    single match with the smallest zone_fid (secondary FID order).
    """
    zoom, cover = zone_cell_cover(zones, zoom)
    cover_df = build_cover_df(spark, cover, zoom)

    tx, ty = M.tile_cols(F.col(lat_col), F.col(lon_col), zoom)
    # non-null copies of the coordinates let the predicate's generated
    # code skip every null branch
    pts = (points.filter(F.col(lat_col).isNotNull()
                         & F.col(lon_col).isNotNull())
           .withColumn("_cell", tx * (1 << zoom) + ty)
           .withColumn("_lat", F.coalesce(F.col(lat_col), F.lit(0.0)))
           .withColumn("_lon", F.coalesce(F.col(lon_col), F.lit(0.0))))

    exact = F.expr(pip_sql(_slot_count(cover), "_lat", "_lon"))
    refined = (pts.join(F.broadcast(cover_df), F.col("_cell") == F.col("cell"))
               .filter(F.col("full") | exact)
               .drop("_cell", "_lat", "_lon", "cell", "full", "_e"))

    if first_match:
        from pyspark.sql import Window
        key = point_fid or points.columns[0]
        w = Window.partitionBy(key).orderBy(F.col("zone_fid").asc())
        refined = (refined.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1).drop("_rn"))
    return refined
