"""Vectorized planar geometry kernels (pure numpy — the container has no
shapely/GEOS, so the predicates are implemented from the published
simple-features semantics directly).

Semantics matched to the reference:

- ``point_in_polygon``: boundary-INCLUSIVE containment, i.e. GEOS
  ``Intersects(point, polygon)`` as used by OGR's spatial filter refine
  step (ogr/ogrsf_frmts/generic/ogrlayer.cpp:4005-4078 ``FilterGeometry``:
  envelope reject → envelope-contains accept → exact Intersects).
  Even-odd ray casting with an explicit on-boundary test (a point on any
  ring edge, including hole edges, intersects the polygon). Each edge's
  side test is the sign of the half-plane oracle's cross product, in its
  op order. ``spatial_join.pip_sql`` is the same rule in Spark SQL, over
  the edges the cover keeps for a point's cell: each of them gives the
  same sign bit for bit, and the dropped ones provably cannot change the
  answer (``spatial_join._part_edges``, which also decides which cover
  cells are wholly inside).
- ``polygon_area``: planar shoelace — OGR_GEOM_AREA / ``get_Area`` are
  planar (ogr/ogr_geometry.h:1788, ogr_gensql.cpp:839-841).
- ``haversine_m``: great-circle meters on the GDAL sphere radius 6378137
  (geodesic measures are explicit, separate ops in the reference:
  ogrsqlitesqlfunctions.cpp:627-700).

All functions take coordinate arrays, never per-row Python objects
(input_hint mandate: vectorized pandas/Arrow UDFs only).
"""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS = 6378137.0


def _ring_arrays(ring) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """ring: sequence of (x, y); returns edge endpoint arrays x1,y1,x2,y2.

    The ring need not be explicitly closed; closure is implied.
    """
    r = np.asarray(ring, dtype=np.float64)
    if np.array_equal(r[0], r[-1]) and len(r) > 1:
        r = r[:-1]
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    return x1, y1, x2, y2


def points_on_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Boolean mask: point lies exactly on a ring edge (collinear + within
    the edge's bbox)."""
    x1, y1, x2, y2 = _ring_arrays(ring)
    px = px[:, None]
    py = py[:, None]
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    within = (
        (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
    )
    return np.any((cross == 0.0) & within, axis=1)


def _crossings(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Even-odd crossing counts of a rightward ray per point (half-open
    edge rule [y1, y2) so vertices count once): an upward edge counts
    when the point is left of it (cross > 0), a downward one when right
    (cross < 0); cross == 0 is ``points_on_ring``'s case."""
    x1, y1, x2, y2 = _ring_arrays(ring)
    px = px[:, None]
    py = py[:, None]
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    up = (y1 <= py) & (py < y2) & (cross > 0)
    down = (y2 <= py) & (py < y1) & (cross < 0)
    return np.sum(up | down, axis=1)


def point_in_polygon(px, py, rings) -> np.ndarray:
    """Boundary-inclusive PIP for one polygon (rings[0]=outer, rest=holes).

    Matches GEOS Intersects(point, polygon): interior OR boundary
    (including hole boundaries) → True.
    """
    px = np.ascontiguousarray(px, dtype=np.float64)
    py = np.ascontiguousarray(py, dtype=np.float64)
    total = np.zeros(len(px), dtype=np.int64)
    on_edge = np.zeros(len(px), dtype=bool)
    for ring in rings:
        total += _crossings(px, py, ring)
        on_edge |= points_on_ring(px, py, ring)
    return ((total % 2) == 1) | on_edge


def polygon_area(rings) -> float:
    """Planar shoelace area; holes subtract (ogr/ogr_geometry.h:1788)."""
    area = 0.0
    for k, ring in enumerate(rings):
        x1, y1, x2, y2 = _ring_arrays(ring)
        a = 0.5 * abs(np.sum(x1 * y2 - x2 * y1))
        area += a if k == 0 else -a
    return float(area)


def polygon_bbox(rings) -> tuple[float, float, float, float]:
    """Bbox over every ring: a multipart zone's later parts can lie
    outside its first ring."""
    r = np.concatenate([np.asarray(ring, dtype=np.float64) for ring in rings])
    return float(r[:, 0].min()), float(r[:, 1].min()), float(r[:, 0].max()), float(r[:, 1].max())


def clip_convex(subject, clip) -> np.ndarray:
    """Sutherland–Hodgman clip of a CONVEX CCW subject ring by a CONVEX
    CCW clip ring → the intersection ring (m, 2), possibly empty.

    The reference computes overlay piece geometries with GEOS
    (ogr/ogrsf_frmts/generic/ogrlayer.cpp:5386-5803 Intersection, :5804
    Union); this is the from-scratch planar kernel for the convex-piece
    decomposition our layer algebra uses. Every float op runs in a
    fixed sequential order (vertex order × clip-edge order), so the
    driver-side oracle twin that generates the VALUES oracle is
    bit-identical to the executor-side kernel."""
    out = np.asarray(subject, dtype=np.float64)
    if np.array_equal(out[0], out[-1]) and len(out) > 1:
        out = out[:-1]
    cx1, cy1, cx2, cy2 = _ring_arrays(clip)
    for ex1, ey1, ex2, ey2 in zip(cx1, cy1, cx2, cy2):
        if len(out) == 0:
            break
        n = len(out)
        cross = (ex2 - ex1) * (out[:, 1] - ey1) - (ey2 - ey1) * (out[:, 0] - ex1)
        res = []
        for i in range(n):
            j = (i + 1) % n
            ci, cj = cross[i], cross[j]
            if ci >= 0.0:
                res.append(out[i])
            if (ci >= 0.0) != (cj >= 0.0):
                t = ci / (ci - cj)
                res.append(out[i] + t * (out[j] - out[i]))
        out = (np.asarray(res, dtype=np.float64)
               if res else np.empty((0, 2), dtype=np.float64))
    return out


def ring_signed_area(ring) -> float:
    """Signed shoelace area (CCW positive), sequential edge-order sum."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 3:
        return 0.0
    total = 0.0
    n = len(r)
    for i in range(n):
        j = (i + 1) % n
        total += r[i, 0] * r[j, 1] - r[j, 0] * r[i, 1]
    return 0.5 * total


def convex_hull(px, py) -> np.ndarray:
    """Andrew monotone chain over distinct points → CCW hull vertices
    (k, 2); collinear interior points are EXCLUDED (strict turns), so a
    hull edge is a maximal edge — matching the SQL hull-edge oracle's
    rule (all other points strictly left, or collinear-between).
    Integer or float coords; all comparisons exact."""
    pts = np.unique(np.stack([np.asarray(px, np.float64),
                              np.asarray(py, np.float64)], axis=1), axis=0)
    n = len(pts)
    if n <= 2:
        return pts

    def half(iterable):
        chain: list[np.ndarray] = []
        for p in iterable:
            while len(chain) >= 2:
                o, a = chain[-2], chain[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    chain.pop()
                else:
                    break
            chain.append(p)
        return chain

    lower = half(pts)               # sorted by np.unique: (x, y) lexicographic
    upper = half(pts[::-1])
    return np.asarray(lower[:-1] + upper[:-1], dtype=np.float64)


def dp_keep_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker polyline simplification (OGRGeometry::Simplify /
    apps/gdalalg_vector_simplify.cpp semantics, reimplemented from the
    published algorithm): boolean keep-mask over ``pts`` (n,2).
    Deterministic: ties in the farthest-point argmax break to the first
    index; float ops in fixed order so the driver-side oracle twin is
    bit-identical."""
    n = len(pts)
    keep = np.zeros(n, dtype=bool)

    def rec(i: int, j: int) -> None:
        keep[i] = keep[j] = True
        if j <= i + 1:
            return
        a, b = pts[i], pts[j]
        seg = pts[i + 1:j]
        dx, dy = b[0] - a[0], b[1] - a[1]
        if dx == 0.0 and dy == 0.0:
            d = np.sqrt((seg[:, 0] - a[0]) ** 2 + (seg[:, 1] - a[1]) ** 2)
        else:
            d = np.abs(dx * (seg[:, 1] - a[1]) - dy * (seg[:, 0] - a[0])) \
                / np.sqrt(dx * dx + dy * dy)
        m = int(np.argmax(d))
        if d[m] > tol:
            rec(i, i + 1 + m)
            rec(i + 1 + m, j)

    rec(0, n - 1)
    return keep


def dp_ring_keep(pts: np.ndarray, tol: float) -> np.ndarray:
    """DP for a CLOSED ring: split at vertex 0 and the vertex farthest
    from it (squared-distance argmax, first-index ties), simplify the
    two open halves over the closed traversal [v0..v_{n-1}, v0], return
    the keep-mask for the original n vertices."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n <= 3:
        return np.ones(n, dtype=bool)
    d0 = (pts[:, 0] - pts[0, 0]) ** 2 + (pts[:, 1] - pts[0, 1]) ** 2
    far = int(np.argmax(d0))
    closed = np.vstack([pts, pts[:1]])
    keep = np.zeros(n + 1, dtype=bool)
    for i, j in ((0, far), (far, n)):
        sub = dp_keep_mask(closed[i:j + 1], tol)
        keep[i:j + 1] |= sub
    return keep[:n]


def _seg_intersection(a, b, c, d):
    """Proper intersection point of open segments ab × cd, or None.
    Exact-order float math (shared with the oracle twin)."""
    r = (b[0] - a[0], b[1] - a[1])
    s = (d[0] - c[0], d[1] - c[1])
    den = r[0] * s[1] - r[1] * s[0]
    if den == 0.0:
        return None
    t = ((c[0] - a[0]) * s[1] - (c[1] - a[1]) * s[0]) / den
    u = ((c[0] - a[0]) * r[1] - (c[1] - a[1]) * r[0]) / den
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return (a[0] + t * r[0], a[1] + t * r[1])
    return None


def make_valid_ring(ring) -> list:
    """MakeValid (OGRGeometry::MakeValid, ogr/ogr_geometry.h:604) for
    rings with at most one proper self-crossing — the bowtie case GEOS
    resolves by node-splitting: returns the list of valid sub-rings
    (the input unchanged when no crossing). Vertex order preserved;
    the crossing point X joins both pieces."""
    pts = [tuple(map(float, p)) for p in ring]
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue
            x = _seg_intersection(pts[i], pts[(i + 1) % n],
                                  pts[j], pts[(j + 1) % n])
            if x is not None:
                ring1 = [x] + pts[i + 1:j + 1]
                ring2 = [x] + pts[j + 1:] + pts[:i + 1]
                return [ring1, ring2]
    return [pts]


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters, sphere R=6378137."""
    lat1, lon1 = np.radians(np.asarray(lat1, float)), np.radians(np.asarray(lon1, float))
    lat2, lon2 = np.radians(np.asarray(lat2, float)), np.radians(np.asarray(lon2, float))
    dlat, dlon = lat2 - lat1, lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
