"""Spatial-join operator internals: cover construction, full-cell
shortcut, first-match semantics, join-fixture replay
(ogr_join_test.py:39-69 expectations)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.fixtures import ZONES, zone_rings_numpy
from gdal_spark.geo import geom as G
from gdal_spark.geo import mercator as M
from gdal_spark.operators import spatial_join as sj

SF = "/root/testdata/sf0.001"


def test_cover_cells_contain_all_member_points():
    """Any point inside a zone must map to a cover cell of that zone
    (no false negatives from the coarse stage)."""
    zoom, cover = sj.zone_cell_cover()
    cov = {}
    for fid, grp in cover.groupby("zone_fid"):
        cov[fid] = set(zip(grp["tx"].tolist(), grp["ty"].tolist()))
    rng = np.random.RandomState(11)
    rings = zone_rings_numpy()
    for z in ZONES:
        xmin, ymin, xmax, ymax = G.polygon_bbox(z["rings"])
        px = rng.uniform(xmin, xmax, 3000)
        py = rng.uniform(ymin, ymax, 3000)
        inside = G.point_in_polygon(px, py, rings[z["zone_fid"]])
        tx, ty = M.latlon_to_tile_np(py[inside], px[inside], zoom)
        cells = set(zip(tx.tolist(), ty.tolist()))
        assert cells <= cov[z["zone_fid"]], f"zone {z['zone_fid']} cover leak"


def test_full_cells_really_inside():
    zoom, cover = sj.zone_cell_cover()
    rings = zone_rings_numpy()
    rng = np.random.RandomState(13)
    full = cover[cover["full"]]
    assert len(full) > 0  # the shortcut must actually trigger on fixtures
    for fid, grp in full.groupby("zone_fid"):
        tx = grp["tx"].to_numpy()
        ty = grp["ty"].to_numpy()
        minlat, minlon, maxlat, maxlon = M.tile_bounds_latlon_np(tx, ty, zoom)
        lo, hi = np.minimum(minlat, maxlat), np.maximum(minlat, maxlat)
        # 8 random points inside every full cell must all be inside
        for _ in range(8):
            px = rng.uniform(minlon, maxlon)
            py = rng.uniform(lo, hi)
            assert G.point_in_polygon(px, py, rings[fid]).all()


def _classify(seg, x0, y0, x9, y9):
    """One rectangle through ``_part_edges``, its parent one row holding
    ``seg`` with even parity → (parity, its local edges, the latitudes
    of its stand-in edges)."""
    parity, _, edges = sj._part_edges(
        np.stack(seg, axis=1), np.array([0, len(seg[0])]),
        np.zeros(1, np.int64), np.zeros(1, bool),
        *(np.array([v], np.float64) for v in (x0, x9, y0, y9)))
    stand = edges[:, 0] == sj._EAST
    return (bool(parity[0]), set(map(tuple, edges[~stand].tolist())),
            edges[stand, 1].tolist())


def test_part_edges_local_test():
    """An edge is local exactly when it meets the rectangle. A non-local
    edge is folded into the parity when right of it and dropped when
    left of it, also when its bbox covers the rectangle."""
    square = G._ring_arrays([(0, 0), (10, 0), (10, 10), (0, 10)])
    bottom, right, left = (0, 0, 10, 0), (10, 0, 10, 10), (0, 10, 0, 0)
    # corner crossing: the right edge's lower end becomes a stand-in
    assert _classify(square, -1, -1, 1, 1) == (False, {bottom, left}, [0.0])
    assert _classify(square, 4, 4, 6, 6) == (True, set(), [])  # fully inside
    assert _classify(square, 20, 20, 30, 30) == (False, set(), [])
    assert _classify(square, 9, 4, 11, 6) == (False, {right}, [])  # side
    # the diagonal x + y = 10 passes by the corner of either square
    diag = [np.array([v], np.float64) for v in (0, 10, 10, 0)]
    assert _classify(diag, 1, 1, 3, 3) == (True, set(), [])    # right: folded
    assert _classify(diag, 7, 7, 9, 9) == (False, set(), [])   # left: dropped


def test_first_match_picks_lowest_zone_fid(spark):
    from gdal_spark.queries import pages_df
    p = pages_df(spark, SF)
    all_pairs = sj.pip_join(p, spark).select("doc_id", "zone_fid").toPandas()
    first = sj.pip_join(p, spark, first_match=True, point_fid="doc_id") \
        .select("doc_id", "zone_fid").toPandas()
    want = all_pairs.groupby("doc_id")["zone_fid"].min()
    got = first.set_index("doc_id")["zone_fid"]
    assert got.sort_index().equals(want.sort_index())


def test_attr_join_replays_reference_expectations(spark):
    """ogr_join_test.py semantics: LEFT JOIN keeps all 10 zones;
    eas_id < 168 matches names _166_/_158_/_165_; duplicate idlink row
    is never picked (first-match by idlink_fid)."""
    from gdal_spark.queries import q_attr_join
    df = q_attr_join(spark, SF).toPandas()
    assert len(df) == 10  # LEFT join keeps all primary rows
    got = sorted(df[df.eas_id < 168]["name"].tolist())
    assert got == ["_158_", "_165_", "_166_"]
    assert "_165_dup_" not in set(df["name"].dropna())
    # unmatched eas ids null-filled
    assert df[df.eas_id == 179]["name"].isna().all()


def test_pip_join_plan_is_broadcast_no_shuffle_on_big_side(spark):
    """The big side must reach the join without an Exchange: coarse stage
    is a BroadcastHashJoin on (tx, ty)."""
    from gdal_spark.queries import pages_df
    p = pages_df(spark, SF)
    plan = sj.pip_join(p, spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    first_join = plan.find("BroadcastHashJoin")
    scan_side = plan[first_join:]
    # no shuffle between the parquet scan and the join on the probe side
    assert "Exchange hashpartitioning" not in plan.split("BroadcastHashJoin")[0]


def test_pip_join_matches_numpy_pip_on_edge_lattice(spark):
    """The join's SQL predicate and geom.point_in_polygon give the same
    (point, zone) pairs on lattice points along every zone edge and on
    the zone 2 near-edge points, so the cover build's corner test and
    the join share one semantics — the exact side for the latter."""
    from test_geom import ZONE2_NEAR_EDGE, edge_lattice_points
    px, py = edge_lattice_points(samples_per_edge=20)
    n = len(px)
    px = np.concatenate([px, [p[0] for p in ZONE2_NEAR_EDGE]])
    py = np.concatenate([py, [p[1] for p in ZONE2_NEAR_EDGE]])
    pts = spark.createDataFrame(
        [(i, float(y), float(x)) for i, (x, y) in enumerate(zip(px, py))],
        "pid long, lat double, lon double")
    got = set(map(tuple, sj.pip_join(pts, spark).select("pid", "zone_fid")
                  .toPandas().to_numpy().tolist()))
    rings = zone_rings_numpy()
    want = {(int(i), z["zone_fid"]) for z in ZONES
            for i in np.nonzero(G.point_in_polygon(px, py, rings[z["zone_fid"]]))[0]}
    assert got == want
    assert [(n + i, 2) in got for i in range(len(ZONE2_NEAR_EDGE))] == \
        [inside for _, _, inside in ZONE2_NEAR_EDGE]
