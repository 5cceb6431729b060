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
- One quadtree descent over all zones picks the cover zoom and builds
  the cover: by default the finest zoom (z18 at most) whose cover
  stays within ``COVER_CELLS`` cells in total, the cell budget of
  *Raster Intervals* (SIGMOD 2023). Stages 2 and 3 are one join
  condition, ``full OR <pip>``: ``Or`` short-circuits in codegen, so
  interior-cell rows never evaluate an edge, and the join is one pass
  with no Python hop.
- The exact test sees only the edges that can change the answer in a
  cell (the interior/boundary split of *Raster Intervals*, SIGMOD
  2023): the driver keeps them, up to ``EDGE_SLOTS``, on each boundary
  cover row and folds the rest into one parity bit (``_cell_edges``).
  The predicate is a fixed number of edge slots, so its size does not
  grow with the zone layer and the join stage's generated method stays
  under HotSpot's 8000-byte compile limit.
- One classifier, ``_part_edges``, makes both driver-side decisions:
  which edges a cell or part keeps, and so whether a cell of the
  quadtree descent is full (no edge meets it, odd parity), outside (no
  edge meets it, even parity) or boundary. A ``full`` flag is therefore
  the same proof as the exact test's, not a separate float corner test.
  It runs once per level of the descent and once per split depth, for
  all zones together: each cell or part is tested against the edges its
  parent kept, from its parent's parity, which gives the answer the
  zone's whole edge list would. A level costs Σ children × their
  parent's kept edges, not cells × zone edges.
- For polygon sets too large to broadcast, the same cover table can be
  shuffle-joined on (tx, ty) with salting — see tiling.salted_agg for
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


#: budget on a layer's cover cells, all zones together: the auto zoom
#: is the finest whose cover stays within it (z12 for the fixture
#: zones). Output is identical at any zoom; finer covers send fewer rows
#: through the edge test, coarser ones build a smaller broadcast side.
COVER_CELLS = 131072

#: degrees. ``tile_cols`` can place a point a rounding step (~1e-13°)
#: outside its cell's float rectangle; ``_part_edges`` widens every
#: rectangle by this much.
COVER_MARGIN = 1e-9

#: local-edge slots on a boundary cover row, unrolled in ``pip_sql``
EDGE_SLOTS = 3

#: how many times a boundary row with more local edges than slots is
#: quartered (z12 cells down to parts of ~1e-4°)
SPLIT_DEPTH = 10


def zone_cell_cover(zones=ZONES, zoom: int | None = None) -> tuple[int, pd.DataFrame]:
    """Driver-side cover build (zones are the small broadcast side) by
    one quadtree descent from z0 over all zones in lockstep.

    All zones' ring edges go into one table, each zone a row of it. At
    each level a zone keeps only the cells in its bbox tile range: the
    tile map is monotone and nested, so every zone point's cell is
    there. One ``_part_edges`` call classifies the kept cells of all
    zones, each against its parent row's kept edges from its parent's
    parity; at z0 the parents are the zones, with their ring edges and
    even parity. A cell with no kept edges answers for all of it by
    ``parity``: odd, a full leaf kept at its own level; even, dropped.
    Every other cell is boundary and descends, taking its kept edges
    down as its children's parent row. A level costs Σ cells × their
    parent's kept edges, not cells × zone edges.

    The descent stops at ``zoom``, or without one at the first level
    (z18 at most) where 4 × (full leaves expanded to it + boundary
    cells) exceeds ``COVER_CELLS``: a level has at most 4 times its
    parent's cells, so the cover stays within the budget. There full
    leaves expand once, and boundary cells go to one ``_cell_edges``
    call with the classification they have, so no cell is classified
    twice.

    Returns (zoom, frame of tx, ty, zone_fid, full, lon0, lon1, lat0,
    lat1, parity, edges). ``full`` mirrors the envelope-contains accept
    of ogrlayer.cpp:4040: no zone edge meets the cell and the cell lies
    in the zone's interior, so member points need no exact test. A
    boundary row (``full`` false) carries the exact test's inputs for
    the part [lon0, lon1) × [lat0, lat1) of its cell: the folded
    ``parity`` and the local ``edges``. These are NaN / None on full
    rows.
    """
    ring_edges = [np.concatenate([np.stack(G._ring_arrays(r), axis=1)
                                  for r in z["rings"]]) for z in zones]
    edges = np.concatenate([np.empty((0, 4)), *ring_edges])
    off = np.cumsum([0] + [len(e) for e in ring_edges])
    xmin, ymin, xmax, ymax = np.reshape(
        [G.polygon_bbox(z["rings"]) for z in zones], (-1, 4)).T
    fid = np.array([z["zone_fid"] for z in zones], np.int32)
    n, last = len(zones), 18 if zoom is None else zoom
    # cells (gx, gy) of zone k, children of row ``up``: at z0 the zone's
    # row and every tile a point can map to (the tile map puts lon -180
    # in column -1 and lat -85.05 in row 1)
    k = up = np.repeat(np.arange(n), 4)
    gx, gy = np.tile([-1, -1, 0, 0], n), np.tile([0, 1, 0, 1], n)
    parity = np.zeros(n, bool)
    fx = fy = fk = np.zeros(0, np.int64)  # full leaves, expanded to z
    for z in range(last + 1):
        tx0, ty0 = M.latlon_to_tile_np(ymax, xmin, z)
        tx1, ty1 = M.latlon_to_tile_np(ymin, xmax, z)
        ok = (gx >= tx0[k]) & (gx <= tx1[k]) & (gy >= ty0[k]) & (gy <= ty1[k])
        gx, gy, k, up = gx[ok], gy[ok], k[ok], up[ok]
        lat_a, x0, lat_b, x9 = M.tile_bounds_latlon_np(gx, gy, z)
        rect = [x0, x9, np.minimum(lat_a, lat_b), np.maximum(lat_a, lat_b)]
        parity, off, edges = _part_edges(edges, off, up, parity, *rect)
        bnd = np.diff(off) > 0
        fx, fy, fk = (np.concatenate([a, c[~bnd & parity]])
                      for a, c in ((fx, gx), (fy, gy), (fk, k)))
        if z == last or (zoom is None
                         and 4 * (len(fx) + bnd.sum()) > COVER_CELLS):
            break
        fx, fy, fk = *_expand_cells(fx, fy, 1), np.repeat(fk, 4)
        up = np.repeat(np.flatnonzero(bnd), 4)
        gx, gy, k = *_expand_cells(gx[bnd], gy[bnd], 1), k[up]
    # only boundary rows keep edges, so ``edges`` stays as it is
    return z, pd.concat([
        pd.DataFrame({"tx": fx, "ty": fy, "zone_fid": fid[fk], "full": True}),
        _cell_edges({"tx": gx[bnd], "ty": gy[bnd], "zone_fid": fid[k[bnd]]},
                    [a[bnd] for a in rect], parity[bnd],
                    np.append(off[:-1][bnd], off[-1]), edges)],
        ignore_index=True).reindex(
        columns=["tx", "ty", "zone_fid", "full", "lon0", "lon1", "lat0",
                 "lat1", "parity", "edges"])


#: longitude of the stand-in edges ``_part_edges`` makes for the ends
#: of edges right of a part: east of every point
_EAST = 1000.0


def _part_edges(edges, off, up, parity, x0, x9, y0, y9):
    """Rectangles [x0, x9] × [y0, y9] (R,), rectangle i inside the one
    of parent row ``up[i]``, against their parents' kept edges → (parity
    (R,), off (R + 1,), edges (N, 4)): rectangle i keeps edges[off[i]:
    off[i + 1]] as x1, y1, x2, y2. The parents come the same way: parent
    p's parity ``parity[p]`` and its edges ``edges[off[p]:off[p + 1]]``.
    The cover build's only edge-vs-rectangle test.

    A point ``tile_cols`` maps into a rectangle lies within it widened
    by ~1e-13°; against the rectangle widened by ``COVER_MARGIN`` (m)
    every edge is one of:

    - apart in y (yhi < y0 - m or ylo > y9 + m): the point's latitude is
      outside the edge's [ylo, yhi], so the edge can neither count nor
      hold the point. Skipped.
    - local: it meets the widened rectangle, i.e. an endpoint lies in it
      or it crosses one of its four sides. Kept, and tested per point
      bit for bit as ``geom.point_in_polygon`` tests it.
    - otherwise, at every latitude it shares with the widened rectangle
      it lies outside the rectangle's longitudes, and being one segment
      it stays on one side: wholly left or wholly right. So at the
      point's latitude it lies a horizontal gap g > m - ~1e-13 from the
      point, and is not on it. The cross product is ±|dy|·g exactly;
      its rounding error is a few ulps of |dy|·(|dx| + |lon - x1|) ≤
      |dy|·720, about 1e-13·|dy|, far below |dy|·g. So its computed
      sign gives the true side: a left edge never counts and is
      skipped; a right edge counts exactly when ylo <= lat < yhi. The
      side is read from the sign of the oracle's cross product at the
      rectangle's own left side x0, at a latitude the edge shares with
      the widened rectangle, which lies more than m from the edge by
      the same argument. A flat edge reads 0 and is skipped: it never
      counts.

    A right edge's count, [lat >= ylo] XOR [lat >= yhi], reads only its
    ends. Each end below the widened rectangle toggles the parity, which
    starts from the parent's; an end within its latitudes becomes the
    stand-in edge (_EAST, y)–(_EAST, _EAST), a right edge that counts
    exactly when lat >= y; ends above it never count. Two equal ends
    cancel, so an edge continued by another right edge leaves nothing
    behind, and a rectangle with no local edge keeps no edges at all.
    ``parity`` XOR the crossings of the kept edges OR a hit on a local
    edge is then the exact test's answer for every point in the
    rectangle.

    The parent's edges give the same result as the zone's whole edge
    list, as the rectangle lies inside the parent: an edge the parent
    did not keep misses the parent, so it misses the rectangle too and
    lies on the same side of it; a stand-in folds as the end it stands
    for; and ends that cancelled in the parent cancel here too. At z0
    the parents are the zones, with their ring edges and even parity.
    The cost is Σ rectangles × their parent's kept edges."""
    m, n = COVER_MARGIN, len(x0)
    # pair rectangle r[i] with edge c[i] of its parent row
    cnt = off[up + 1] - off[up]
    r = np.repeat(np.arange(n), cnt)
    c = np.arange(len(r)) + np.repeat(off[up] - np.cumsum(cnt) + cnt, cnt)
    ya, yb = edges[:, 1], edges[:, 3]
    ylo, yhi = np.minimum(ya, yb), np.maximum(ya, yb)
    near = (ylo[c] <= y9[r] + m) & (yhi[c] >= y0[r] - m)
    r, c = r[near], c[near]
    e, ylo, yhi = edges[c], ylo[c], yhi[c]
    x1, y1, x2, y2 = e.T
    side_x, side_y = x0[r], np.clip(y0[r], ylo, yhi)
    x0, x9, y0, y9 = x0[r] - m, x9[r] + m, y0[r] - m, y9[r] + m
    dx, dy = x2 - x1, y2 - y1

    def cross(x, y):
        """the oracle's cross product of the edge and the point (x, y)"""
        return dx * (y - y1) - dy * (x - x1)

    def crosses(ax, ay, bx, by):
        """the edge and the side (ax, ay)–(bx, by) cross or touch"""
        sx, sy = bx - ax, by - ay
        return ((cross(ax, ay) * cross(bx, by) <= 0)
                & ((sx * (y1 - ay) - sy * (x1 - ax))
                   * (sx * (y2 - ay) - sy * (x2 - ax)) <= 0))

    def inside(x, y):
        return (x >= x0) & (x <= x9) & (y >= y0) & (y <= y9)

    local = ((np.maximum(x1, x2) >= x0) & (np.minimum(x1, x2) <= x9)
             & (inside(x1, y1) | inside(x2, y2)
                | crosses(x0, y0, x9, y0) | crosses(x9, y0, x9, y9)
                | crosses(x9, y9, x0, y9) | crosses(x0, y9, x0, y0)))
    right = ~local & (np.sign(dy) * cross(side_x, side_y) > 0)
    parity = parity[up] ^ (
        np.bincount(r[right & (ylo < y0)], minlength=n) % 2 == 1)
    lo, hi = right & (ylo >= y0), right & (yhi <= y9)
    (row, y), odd = np.unique(
        np.stack([np.concatenate([r[lo], r[hi]]),
                  np.concatenate([ylo[lo], yhi[hi]])]),
        axis=1, return_counts=True)
    row, y = row[odd % 2 == 1].astype(np.int64), y[odd % 2 == 1]
    row = np.concatenate([r[local], row])
    e = np.concatenate([
        e[local],
        np.stack([np.full_like(y, _EAST), y, np.full_like(y, _EAST),
                  np.full_like(y, _EAST)], axis=1)])
    order = np.argsort(row, kind="stable")
    return parity, np.searchsorted(row[order], np.arange(n + 1)), e[order]


def _cell_edges(cells, rect, parity, off, edges) -> pd.DataFrame:
    """Boundary rows of all zones for the cells given by the columns
    ``cells`` (tx, ty, zone_fid), the cells' rectangles ``rect`` (x0,
    x9, y0, y9) and their ``_part_edges`` result (parity, off, edges).
    Per row: the part [lon0, lon1) × [lat0, lat1) of the cell it answers
    for, the parity folded from the edges right of that part, and its
    edges (stand-ins included) as an (n, 4) x1, y1, x2, y2 array.

    A row with more than ``EDGE_SLOTS`` edges is split into its 4
    quarters, at most ``SPLIT_DEPTH`` times; one ``_part_edges`` call
    per depth classifies the quarters of all rows split there, each
    against the edges of the row it splits, as it lies inside it. A
    point belongs to exactly one part, as parts are half-open and the
    cell's outer sides are open (±inf). A part left with no edges and
    even parity holds no point of the zone and is dropped. Only edges
    that meet at one point (a vertex of degree > ``EDGE_SLOTS``) outlast
    the splits; such a row keeps all its edges, and ``build_cover_df``
    widens every row's slots to fit the largest."""
    n = len(parity)
    # a part: its cell, exact rectangle x0, x9, y0, y9, region r0 … r3
    part = [np.arange(n), *rect] + [
        np.full(n, v) for v in (-np.inf, np.inf, -np.inf, np.inf)]
    rows = []
    for depth in range(SPLIT_DEPTH + 1):
        cnt = np.diff(off)
        split = (cnt > EDGE_SLOTS) & (depth < SPLIT_DEPTH)
        keep = ~split & ((cnt > 0) | parity)
        e, end = edges[np.repeat(keep, cnt)], np.cumsum(cnt[keep])
        rows.append([a[keep] for a in (part[0], *part[5:], parity)]
                    + [[e[i:j] for i, j in zip(end - cnt[keep], end)]])
        up = np.flatnonzero(split)
        if not len(up):
            break
        cell, x0, x9, y0, y9, r0, r1, r2, r3 = (a[up] for a in part)
        xm, ym = (x0 + x9) / 2, (y0 + y9) / 2
        quarters = [(hx, hy)
                    for hx in ((x0, xm, r0, xm), (xm, x9, xm, r1))
                    for hy in ((y0, ym, r2, ym), (ym, y9, ym, r3))]
        part = [np.tile(cell, 4)] + [
            np.concatenate([(hx + hy)[k] for hx, hy in quarters])
            for k in (0, 1, 4, 5, 2, 3, 6, 7)]
        parity, off, edges = _part_edges(edges, off, np.tile(up, 4), parity,
                                         *part[1:5])
    cell, r0, r1, r2, r3, parity = (np.concatenate(c) for c in
                                    list(zip(*rows))[:6])
    return pd.DataFrame({
        **{name: a[cell] for name, a in cells.items()}, "full": False,
        "lon0": r0, "lon1": r1, "lat0": r2, "lat1": r3,
        "parity": pd.Series(parity, dtype=object),
        "edges": pd.Series([e for level in rows for e in level[6]],
                           dtype=object)})


def _expand_cells(tx, ty, d: int):
    """All zoom+d descendants of cells (tx, ty): (n·4^d,) arrays."""
    k = 1 << d
    off = np.arange(k, dtype=np.int64)
    ex, ey = np.broadcast_arrays(tx[:, None, None] * k + off[:, None],
                                 ty[:, None, None] * k + off)
    return ex.ravel(), ey.ravel()


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
    values holding its local edges, unused ones ``_NO_EDGE``; ``_e``'s
    column metadata records that slot count for ``pip_sql``. On full
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
                          pa.field("_e", edges.type, nullable=False)]))
    ).withMetadata("_e", {"slots": slots})


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

    exact = F.expr(pip_sql(cover_df.schema["_e"].metadata["slots"],
                           "_lat", "_lon"))
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
