"""Whole-file GeoJSON source vs published expectations
(ogr_geojson.py tests 2-8 extents/types/counts, test 67's bare
{"features":[...]} tolerance, point_with_utf8bom)."""

import json

from gdal_spark.fixtures import autotest_path
from gdal_spark.sources.geojsonfile import (GeoJsonFileDataSource,
                                            doc_features, geom_wkb)
from gdal_spark.sources.shapefile import iso_wkt

D = "ogr/data/geojson"


def test_bare_features_key_7198():
    doc = json.load(open(autotest_path(D, "grenada.geojson")))
    feats = doc_features(doc)
    assert len(feats) == 1
    assert feats[0]["geometry"]["type"] == "MultiPolygon"


def test_standalone_geometry_wrap():
    doc = json.load(open(autotest_path(D, "point.geojson")))
    feats = doc_features(doc)
    assert len(feats) == 1
    assert iso_wkt(geom_wkb(feats[0]["geometry"])) == "POINT (100 0)"


def test_spark_scan_with_bom(spark):
    spark.dataSource.register(GeoJsonFileDataSource)
    rows = (spark.read.format("geojsonfile")
            .load(autotest_path(D, "point_with_utf8bom.json")).collect())
    assert len(rows) == 1
    assert rows[0]["geom_type"] == "Point"


def test_spark_properties_map(spark):
    spark.dataSource.register(GeoJsonFileDataSource)
    rows = (spark.read.format("geojsonfile")
            .load(autotest_path(D, "grenada.geojson")).collect())
    assert rows[0]["properties"]["name"] == "Grenada"
    assert rows[0]["properties"]["ISO3166-1:alpha3"] == "GRD"
    assert rows[0]["n_points"] == 426


def test_writer_published_id_pins(spark, tmp_path):
    """ogr2ogr -f GeoJSON serialization pins
    (ogr_geojson.py test_ogr_geojson_id_field_and_id_type):
    ID_FIELD=EAS_ID, ID_TYPE variants, and ID_FIELD=PRFEDEA must
    produce the reference's exact '"id":...,"properties":{...}'
    byte sequences for poly.shp feature 0."""
    from gdal_spark.sources.geojsonfile import write_geojson
    from gdal_spark.sources.shapefile import ShapefileDataSource
    spark.dataSource.register(ShapefileDataSource)
    src = (spark.read.format("shapefile")
           .load(autotest_path("ogr/data/poly.shp"))
           .filter("fid = 0")
           .select("fid", "wkb", "AREA", "EAS_ID", "PRFEDEA"))
    cases = [
        ("EAS_ID", None,
         '"id":168,"properties":{"AREA":215229.266,'
         '"PRFEDEA":"35043411"}'),
        ("EAS_ID", "String",
         '"id":"168","properties":{"AREA":215229.266,'
         '"PRFEDEA":"35043411"}'),
        ("PRFEDEA", None,
         '"id":"35043411","properties":{"AREA":215229.266,'
         '"EAS_ID":168}'),
    ]
    for i, (idf, idt, pin) in enumerate(cases):
        out = str(tmp_path / f"o{i}.json")
        write_geojson(src, out, ["AREA", "EAS_ID", "PRFEDEA"],
                      id_field=idf, id_type=idt)
        got = open(out).read()
        assert pin in got, (idf, idt)


def test_writer_roundtrip(spark, tmp_path):
    """write → re-read through the geojsonfile source: ids, props,
    and geometry coordinates survive exactly (shortest-repr floats)."""
    from gdal_spark.sources.geojsonfile import (GeoJsonFileDataSource,
                                                write_geojson)
    from gdal_spark.sources.shapefile import ShapefileDataSource
    spark.dataSource.register(ShapefileDataSource)
    spark.dataSource.register(GeoJsonFileDataSource)
    src = (spark.read.format("shapefile")
           .load(autotest_path("ogr/data/poly.shp"))
           .select("fid", "wkb", "AREA", "EAS_ID", "PRFEDEA"))
    out = str(tmp_path / "poly.json")
    info = write_geojson(src, out, ["AREA", "EAS_ID", "PRFEDEA"],
                         id_field="EAS_ID", rpb=3)
    assert info["n"] == 10
    back = (spark.read.format("geojsonfile").load(out)
            .orderBy("fid").collect())
    assert [r["feature_id"] for r in back] == [
        "168", "179", "171", "173", "172", "169", "166", "158",
        "165", "170"]
    assert [r["n_points"] for r in back] == [
        20, 20, 29, 26, 6, 20, 31, 61, 27, 5]
    assert back[0]["properties"]["AREA"] == "215229.266"
    assert back[0]["xmin"] == 479647.0
