"""Arc/Info E00 source parity vs published ogr_avc.py pins."""

from gdal_spark.fixtures import autotest_path
from gdal_spark.geo import wkb as W
from gdal_spark.sources.e00 import parse_e00
from gdal_spark.sources.shapefile import iso_wkt

D = "ogr/data/avc"


def test_arc_userids_and_first_arc():
    d = parse_e00(autotest_path(D, "test.e00"))
    assert [a[1] for a in d["arc"]] == [1, 2, 3, 4, 5, 6, 7]
    # published pin (max_error 0.01 vs the AVCBin twin's .875 coords)
    pts = d["arc"][0][6]
    assert abs(pts[0][0] - 340099.875) < 0.01
    assert pts[0][1] == 4100200.0
    assert len(pts) == 4


def test_lab_count_80():
    d = parse_e00(autotest_path(D, "testpoint.e00"))
    assert len(d["lab"]) == 80
    assert d["lab"][-1][0] == 80


def test_pal_universe_skip_and_last_polygon():
    d = parse_e00(autotest_path(D, "testpoly.e00"))
    assert len(d["pal"]) == 3  # universe polygon skipped
    arcids, rings = d["pal"][-1]
    assert arcids == [-4, -5]
    wkt = iso_wkt(W.polygon_wkb(rings))
    assert wkt == ("POLYGON ((340700.03 4100199.5,340500 4100199.8,"
                   "340599.97 4100100.2,340700.03 4100199.5))")
    # every polygon must close into a single ring
    for _, rr in d["pal"]:
        assert len(rr) == 1
        assert tuple(rr[0][0]) == tuple(rr[0][-1])
