"""PIP / geometry kernels: boundary-inclusive GEOS Intersects semantics
(ogrlayer.cpp:4005-4078) + fixture sanity."""

import numpy as np

from gdal_spark.fixtures import ZONES, zone_rings_numpy
from gdal_spark.geo import geom as G


def _signed_area(ring):
    r = np.asarray(ring, dtype=np.float64)
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    return 0.5 * np.sum(x1 * y2 - x2 * y1)


def test_all_parts_and_holes_ccw():
    """The half-plane oracle requires CCW orientation everywhere."""
    for z in ZONES:
        for ring in z["parts"] + z["holes"]:
            assert _signed_area(ring) > 0, f"zone {z['zone_fid']} ring not CCW"


def test_pip_square():
    rings = [np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])]
    px = np.array([1.0, 3.0, 2.0, 0.0, 2.0, -0.0001])
    py = np.array([1.0, 1.0, 1.0, 0.0, 2.0, 1.0])
    got = G.point_in_polygon(px, py, rings)
    # interior, outside, on edge, on vertex, on corner, just outside
    assert list(got) == [True, False, True, True, True, False]


#: zone 2 points on the generator's 0.0001° lattice within ~1e-14 of an
#: edge, with the side exact rational arithmetic gives: (lon, lat, in)
ZONE2_NEAR_EDGE = [(140.304, 35.265, True), (138.8305, 35.795, False),
                   (138.9896, 35.1096, True), (138.8355, 35.745, False)]


def edge_lattice_points(samples_per_edge=50):
    """Points along every zone ring edge snapped to the 0.0001° lattice,
    each with its 8 lattice neighbours: on, just inside and just
    outside every edge, and every vertex."""
    xs, ys = [], []
    for z in ZONES:
        for ring in z["rings"]:
            r = np.asarray(ring, dtype=np.float64)
            a, b = r, np.roll(r, -1, axis=0)
            t = np.linspace(0.0, 1.0, samples_per_edge)[:, None, None]
            p = np.round((a + t * (b - a)).reshape(-1, 2) * 1e4)
            xs.append(p[:, 0])
            ys.append(p[:, 1])
    kx, ky = np.concatenate(xs), np.concatenate(ys)
    dx, dy = (d.ravel() for d in np.meshgrid([-1.0, 0.0, 1.0], [-1.0, 0.0, 1.0]))
    return (kx[:, None] + dx).ravel() / 1e4, (ky[:, None] + dy).ravel() / 1e4


def halfplane_pip(px, py, z):
    """The DuckDB oracle's rule (queries._PIP_HITS_SQL): inside some
    convex part (every edge cross >= 0) and not strictly inside any hole
    (every hole edge cross > 0)."""
    def cross(ring):
        r = np.asarray(ring, dtype=np.float64)
        x1, y1 = r[:, 0], r[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        return (x2 - x1)[None, :] * (py[:, None] - y1[None, :]) - \
            (y2 - y1)[None, :] * (px[:, None] - x1[None, :])
    inside = np.zeros(len(px), dtype=bool)
    for part in z["parts"]:
        inside |= (cross(part) >= 0).all(axis=1)
    for hole in z["holes"]:
        inside &= ~(cross(hole) > 0).all(axis=1)
    return inside


def test_pip_vs_halfplane_on_convex_zones():
    """Engine ray-cast vs the oracle's half-plane algebra must agree on
    every zone (convex parts, the L's decomposition, the hole): on
    random points, on lattice points along every edge, and on the zone 2
    points a divided edge intersection put on the wrong side."""
    rng = np.random.RandomState(7)
    lx, ly = edge_lattice_points()
    for z in ZONES:
        xmin, ymin, xmax, ymax = G.polygon_bbox(z["rings"])
        px = np.concatenate([rng.uniform(xmin - 0.5, xmax + 0.5, 4000), lx])
        py = np.concatenate([rng.uniform(ymin - 0.5, ymax + 0.5, 4000), ly])
        raycast = G.point_in_polygon(px, py, zone_rings_numpy()[z["zone_fid"]])
        assert (raycast == halfplane_pip(px, py, z)).all(), f"zone {z['zone_fid']}"
    px, py, want = (np.array(c) for c in zip(*ZONE2_NEAR_EDGE))
    assert (halfplane_pip(px, py, ZONES[2]) == want).all()
    assert (G.point_in_polygon(px, py, zone_rings_numpy()[2]) == want).all()


def test_pip_hole_and_lshape():
    rings = zone_rings_numpy()
    # zone 9 hole: interior excluded, hole edge included
    got = G.point_in_polygon(np.array([-0.15, -0.5, -0.6]),
                             np.array([51.5, 51.5, 51.5]), rings[9])
    assert list(got) == [False, True, True]
    # zone 8 L-shape: notch excluded, both arms included
    got = G.point_in_polygon(np.array([140.0, 139.3, 140.0]),
                             np.array([36.0, 36.0, 35.25]), rings[8])
    assert list(got) == [False, True, True]


def test_polygon_area_with_hole():
    rings = [[(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (2, 1), (2, 2), (1, 2)]]
    assert G.polygon_area(rings) == 15.0


def test_haversine():
    # quarter meridian ≈ pi/2 * R
    d = G.haversine_m([0.0], [0.0], [90.0], [0.0])
    assert abs(d[0] - np.pi / 2 * G.EARTH_RADIUS) < 1.0
