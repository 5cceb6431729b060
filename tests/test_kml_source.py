"""KML source parity vs the published ogr_kml.py pins
(attributes_1..4 + point/linestring/polygon_read)."""

from gdal_spark.fixtures import autotest_path
from gdal_spark.sources.kml import KmlDataSource
from gdal_spark.sources.shapefile import iso_wkt

KML = "ogr/data/kml/samples.kml"


def _layer(spark, name):
    spark.dataSource.register(KmlDataSource)
    return (spark.read.format("kml").option("layer", name)
            .load(autotest_path(KML)).orderBy("fid").collect())


def test_placemarks_published(spark):
    rows = _layer(spark, "Placemarks")
    assert [r["name"] for r in rows] == [
        "Simple placemark", "Floating placemark", "Extruded placemark"]
    assert rows[0]["description"] == (
        "Attached to the ground. Intelligently places itself at "
        "the\nheight of the underlying terrain.")
    assert rows[2]["description"] == (
        'Tethered to the ground by a customizable\n"tail"')
    # published POINT(-122.0822035425683 37.42228990140251 0)
    w = iso_wkt(rows[0]["wkb"], rows[0]["zs"])
    assert w.startswith("POINT Z (-122.082203542568")
    assert rows[1]["zs"] == [50.0]


def test_paths_published(spark):
    rows = _layer(spark, "Paths")
    assert rows[0]["name"] == "Tessellated"
    assert rows[0]["description"].startswith(
        "If the <tessellate> tag has a value of 1")
    assert rows[1]["description"].startswith(
        "If the <tessellate> tag has a value of 0")
    assert rows[2]["zs"][0] == 2357.0 and len(rows[2]["zs"]) == 11


def test_campus_polygons(spark):
    rows = _layer(spark, "Google Campus")
    assert [r["name"] for r in rows] == [
        f"Building 4{i}" for i in range(4)]
    assert all(r["geom_type"] == "Polygon" for r in rows)


def test_unnamed_document_and_repeated_folders(spark, tmp_path):
    """A document with no <name> is named after its file, and two
    folders sharing a name are one layer whose fids run on, so every
    (layer, fid) key is unique."""
    path = tmp_path / "roads.kml"
    path.write_text("""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
  <Placemark><name>a</name><Point><coordinates>1,2</coordinates></Point></Placemark>
  <Folder><name>F</name>
    <Placemark><name>b</name><Point><coordinates>3,4</coordinates></Point></Placemark>
  </Folder>
  <Folder><name>F</name>
    <Placemark><name>c</name><Point><coordinates>5,6</coordinates></Point></Placemark>
    <Placemark><name>d</name><Point><coordinates>7,8</coordinates></Point></Placemark>
  </Folder>
</Document></kml>""")
    spark.dataSource.register(KmlDataSource)
    rows = (spark.read.format("kml").load(str(path))
            .orderBy("layer", "fid").collect())
    assert [(r["layer"], r["fid"], r["name"]) for r in rows] == [
        ("F", 0, "b"), ("F", 1, "c"), ("F", 2, "d"), ("roads", 0, "a")]
    f = (spark.read.format("kml").option("layer", "F").load(str(path))
         .orderBy("fid").collect())
    assert [r["name"] for r in f] == ["b", "c", "d"]
