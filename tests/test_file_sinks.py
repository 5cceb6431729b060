"""The three single-file sinks (shapefile, GeoJSON, strip TIFF) on
inline frames, so they run without the GDAL autotest fixture tree:
multi-block round trips, the shapefile header shape type, and the
shared commit path of sources/commit.py — a failed write, on an
executor or on the driver, leaves the file already at ``path``
byte-identical and no ``.parts`` dir or tmp file behind."""

import builtins
import os

import pytest

from gdal_spark.geo.wkb import (multipolygon_wkb, parse_wkb, point_wkb,
                                polygon_wkb)
from gdal_spark.sources.commit import atomic_write
from gdal_spark.sources.geojsonfile import (GeoJsonFileDataSource,
                                            write_geojson)
from gdal_spark.sources.shapefile import (ShapefileDataSource,
                                          shp_header, write_shapefile)
from gdal_spark.sources.tiff import TiffDataSource, write_strip_tiff

FIELDS = [("NAME", "C", 8, 0), ("VAL", "N", 10, 2), ("CNT", "N", 6, 0)]
SCHEMA = "fid long, wkb binary, NAME string, VAL double, CNT long"


def _sq(x, y, s):
    return [(x, y), (x + s, y), (x + s, y + s), (x, y + s), (x, y)]


# polygons, a polygon with a hole, multipolygons (one part holed),
# a concave ring and a null geometry: 7 features, 3 blocks at rpb=3
POLYS = [
    polygon_wkb([_sq(0, 0, 10)]),
    polygon_wkb([_sq(20, 0, 10), _sq(22, 2, 2)]),
    multipolygon_wkb([[[(40, 0), (44, 0), (40, 4), (40, 0)]],
                      [[(45, 5), (49, 5), (49, 9), (45, 5)]]]),
    None,
    polygon_wkb([[(0, 20), (9, 20), (9, 29), (6, 29), (6, 23),
                  (3, 23), (3, 29), (0, 29), (0, 20)]]),
    polygon_wkb([_sq(-5.5, -7.25, 0.125)]),
    multipolygon_wkb([[_sq(60, 60, 8), _sq(62, 62, 1)],
                      [_sq(80, 60, 2)]]),
]


def _rows(geoms):
    return [(i, g, f"n{i}", i * 1.25 - 3, 100 + i)
            for i, g in enumerate(geoms)]


def poly_frame(spark):
    return spark.createDataFrame(_rows(POLYS), SCHEMA)


def _norm(wkb):
    """Polygons as (outer, sorted holes) with each ring's vertex set
    sorted: equal for the same rings in any winding or ring order."""
    if wkb is None:
        return None
    kind, data = parse_wkb(bytes(wkb))
    polys = [data] if kind == "polygon" else data

    def ring(r):
        return sorted({(float(x), float(y)) for x, y in r})
    return sorted((ring(p[0]), sorted(ring(h) for h in p[1:]))
                  for p in polys)


def test_shapefile_multiblock_roundtrip(spark, tmp_path):
    spark.dataSource.register(ShapefileDataSource)
    out = str(tmp_path / "polys.shp")
    info = write_shapefile(poly_frame(spark), out, FIELDS, rpb=3)
    assert info["n"] == 7
    assert info["bbox"] == (-5.5, -7.25, 82.0, 68.0)
    assert shp_header(out)["shape_type"] == 5
    back = spark.read.format("shapefile").load(out).orderBy("fid").collect()
    assert [r["fid"] for r in back] == list(range(7))
    assert [_norm(r["wkb"]) for r in back] == [_norm(g) for g in POLYS]
    assert [r["shape_type"] for r in back] == [
        "Polygon", "Polygon", "Polygon", "Null", "Polygon", "Polygon",
        "Polygon"]
    assert [(r["NAME"], r["VAL"], r["CNT"]) for r in back] == [
        (f"n{i}", i * 1.25 - 3, 100 + i) for i in range(7)]


def test_geojson_multiblock_roundtrip(spark, tmp_path):
    spark.dataSource.register(GeoJsonFileDataSource)
    out = str(tmp_path / "polys.json")
    info = write_geojson(poly_frame(spark), out, ["NAME", "VAL", "CNT"],
                         id_field="CNT", rpb=3)
    assert info["n"] == 7
    back = (spark.read.format("geojsonfile").load(out)
            .orderBy("fid").collect())
    assert [r["feature_id"] for r in back] == [str(100 + i)
                                               for i in range(7)]
    assert [r["wkb"] for r in back] == POLYS
    assert [r["properties"] for r in back] == [
        {"NAME": f"n{i}", "VAL": repr(i * 1.25 - 3)} for i in range(7)]


# ------------------------------------------- shapefile header type ---

def test_shapefile_point_layer_header_type(spark, tmp_path):
    spark.dataSource.register(ShapefileDataSource)
    pts = [point_wkb(1.5, -2.0), point_wkb(-3.0, 4.25), None,
           point_wkb(7.0, 0.5)]
    out = str(tmp_path / "pts.shp")
    info = write_shapefile(spark.createDataFrame(_rows(pts), SCHEMA),
                           out, FIELDS, rpb=3)
    assert info["bbox"] == (-3.0, -2.0, 7.0, 4.25)
    assert shp_header(out)["shape_type"] == 1
    assert shp_header(out[:-4] + ".shx")["shape_type"] == 1
    back = spark.read.format("shapefile").load(out).orderBy("fid").collect()
    assert [r["wkb"] for r in back] == pts


@pytest.mark.parametrize("geoms", [[], [None, None, None]],
                         ids=["empty", "all_null"])
def test_shapefile_without_geometries(spark, tmp_path, geoms):
    """An empty or all-null frame writes a valid triple: shape type 0
    (null) and a zero bbox in both headers."""
    spark.dataSource.register(ShapefileDataSource)
    out = str(tmp_path / "none.shp")
    info = write_shapefile(spark.createDataFrame(_rows(geoms), SCHEMA),
                           out, FIELDS, rpb=2)
    assert info["n"] == len(geoms)
    assert info["bbox"] == (0.0, 0.0, 0.0, 0.0)
    for ext in (".shp", ".shx"):
        h = shp_header(out[:-4] + ext)
        assert (h["shape_type"], h["bbox"]) == (0, (0.0,) * 4)
    back = spark.read.format("shapefile").load(out).orderBy("fid").collect()
    assert [(r["wkb"], r["NAME"]) for r in back] == [
        (None, f"n{i}") for i in range(len(geoms))]


def test_shapefile_rejects_mixed_shape_types(spark, tmp_path):
    geoms = [point_wkb(0.0, 0.0), POLYS[0]]
    with pytest.raises(ValueError, match="mixed shape types"):
        write_shapefile(spark.createDataFrame(_rows(geoms), SCHEMA),
                        str(tmp_path / "mixed.shp"), FIELDS)


def test_non_dense_fid_fails_the_write(spark, tmp_path):
    """fids 0..2 then 7: block 1 never reports, so the record offsets
    the driver would derive are wrong — the write must fail."""
    rows = _rows(POLYS[:3]) + [(7, POLYS[4], "n7", 1.0, 7)]
    with pytest.raises(IOError, match="not dense"):
        write_shapefile(spark.createDataFrame(rows, SCHEMA),
                        str(tmp_path / "gap.shp"), FIELDS, rpb=3)
    assert os.listdir(tmp_path) == []


# ---------------------------------------------- kill mid-write ---

def _pixels(spark, vals):
    return spark.createDataFrame(
        [(x, y, float(v)) for y, row in enumerate(vals)
         for x, v in enumerate(row)], "px int, py int, value double")


def _shapefile(out, frame):
    write_shapefile(frame, out + ".shp", FIELDS, rpb=3)
    return [out + ext for ext in (".shp", ".shx", ".dbf")]


def _geojson(out, frame):
    write_geojson(frame, out + ".json", ["NAME", "VAL", "CNT"], rpb=3)
    return [out + ".json"]


def _tiff(out, frame):
    write_strip_tiff(frame, out + ".tif", dtype="int16", comp="deflate",
                     rps=2)
    return [out + ".tif"]


def _frames(spark, sink):
    """(old, new, bad, error): ``bad`` makes the sink's encoder raise
    ``error`` on an executor."""
    if sink == "tiff":
        # a null px makes the strip encoder index with a float array
        return (_pixels(spark, [[1, 2, 3], [4, 5, 6], [7, 8, 9]]),
                _pixels(spark, [[9, 9], [9, 9]]),
                spark.createDataFrame(
                    [(0, 0, 1.0), (1, 0, 2.0), (None, 1, 3.0), (1, 2, 4.0)],
                    "px int, py int, value double"),
                "arrays used as indices")
    old = poly_frame(spark)
    if sink == "shapefile":
        # CNT overflows its 6-digit DBF field
        bad = old.selectExpr("fid", "wkb", "NAME", "VAL",
                             "IF(fid = 4, 1000000000, CNT) AS CNT")
    else:
        # a binary attribute is a value json.dumps cannot serialise
        bad = old.selectExpr("fid", "wkb", "NAME",
                             "CAST(NAME AS BINARY) AS VAL", "CNT")
    err = ("DBF field CNT overflow" if sink == "shapefile"
           else "not JSON serializable")
    return old, old.filter("fid < 5"), bad, err


SINKS = {"shapefile": _shapefile, "geojson": _geojson, "tiff": _tiff}


@pytest.mark.parametrize("where", ["executor", "driver"])
@pytest.mark.parametrize("sink", sorted(SINKS))
def test_failed_write_keeps_old_file(spark, tmp_path, monkeypatch, sink,
                                     where):
    write = SINKS[sink]
    old_frame, new_frame, bad_frame, error = _frames(spark, sink)
    out = str(tmp_path / "out")
    files = write(out, old_frame)
    before = {f: open(f, "rb").read() for f in files}

    if where == "executor":
        frame = bad_frame
    else:
        error = "injected read failure"
        # the executors are separate processes: only the driver's
        # reads of the finished parts fail
        real_open = builtins.open

        def failing_open(file, mode="r", *args, **kwargs):
            if ".parts" + os.sep in str(file) and "r" in mode:
                raise OSError(f"injected read failure: {file}")
            return real_open(file, mode, *args, **kwargs)

        monkeypatch.setattr(builtins, "open", failing_open)
        frame = new_frame
    with pytest.raises(Exception, match=error):
        write(out, frame)
    monkeypatch.undo()

    assert {f: open(f, "rb").read() for f in files} == before
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(f) for f in files)


def test_atomic_write_failure_leaves_target(tmp_path):
    target = tmp_path / "f.bin"
    target.write_bytes(b"old")

    def chunks():
        yield b"new"
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        atomic_write(str(target), chunks())
    assert target.read_bytes() == b"old"
    assert os.listdir(tmp_path) == ["f.bin"]
    atomic_write(str(target), [b"ne", b"w"])
    assert target.read_bytes() == b"new"
    assert os.listdir(tmp_path) == ["f.bin"]


def test_tiff_multistrip_roundtrip(spark, tmp_path):
    spark.dataSource.register(TiffDataSource)
    vals = [[-2.5, 0.5, 300.0], [7.0, -1.5, 2.5], [0.0, 1.0, -300.5]]
    out = str(tmp_path / "m.tif")
    info = write_strip_tiff(_pixels(spark, vals), out, dtype="int16",
                            comp="lzw", rps=2)
    assert (info["w"], info["h"], info["strips"], info["rows"]) == (
        3, 3, 2, 9)
    got = spark.read.format("tiff").load(out).orderBy("py", "px").collect()
    assert [r["value"] for r in got] == [-3, 1, 300, 7, -2, 3, 0, 1, -301]
