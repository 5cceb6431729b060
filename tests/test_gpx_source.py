"""GPX source parity vs the published ogr_gpx.py pins (tests 1-5)."""

from gdal_spark.fixtures import autotest_path
from gdal_spark.sources.gpx import GpxDataSource
from gdal_spark.sources.shapefile import iso_wkt

GPX = "ogr/data/gpx/test.gpx"


def test_waypoints_published_pins(spark):
    spark.dataSource.register(GpxDataSource)
    rows = (spark.read.format("gpx").option("layer", "waypoints")
            .load(autotest_path(GPX)).orderBy("fid").collect())
    assert [r["ele"] for r in rows] == [2.0, None]
    assert [r["name"] for r in rows] == ["waypoint name", None]
    assert [r["link1_href"] for r in rows] == ["href", None]
    assert [r["link2_type"] for r in rows] == ["type2", None]
    assert iso_wkt(rows[0]["wkb"]) == "POINT (1 0)"
    assert iso_wkt(rows[1]["wkb"]) == "POINT (4 3)"


def test_tracks_empty_forms(spark):
    spark.dataSource.register(GpxDataSource)
    rows = (spark.read.format("gpx").option("layer", "tracks")
            .load(autotest_path(GPX)).orderBy("fid").collect())
    assert iso_wkt(rows[0]["wkb"]) == \
        "MULTILINESTRING ((15 14,18 17),(21 20,24 23))"
    # both the no-trkseg and the empty-trkseg track are EMPTY
    assert iso_wkt(rows[1]["wkb"]) == "MULTILINESTRING EMPTY"
    assert iso_wkt(rows[2]["wkb"]) == "MULTILINESTRING EMPTY"


def test_track_points_ids(spark):
    spark.dataSource.register(GpxDataSource)
    rows = (spark.read.format("gpx").option("layer", "track_points")
            .load(autotest_path(GPX)).orderBy("fid").collect())
    assert [r["name"] for r in rows] == ["track point name",
                                        None, None, None]
    assert [(r["track_fid"], r["track_seg_id"],
             r["track_seg_point_id"]) for r in rows] == [
        (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1)]
    assert iso_wkt(rows[0]["wkb"]) == "POINT (15 14)"
