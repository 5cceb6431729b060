"""Shapefile (.shp/.shx/.dbf) source parity vs the reference's own
published expectations:

* poly.shp attribute rows: autotest/ogr/ogr_csv.py:2639 pins row 0
  as ``215229.266,168,"35043411"`` and row 1 as
  ``247328.172,179,"35043423"``.
* poly.shp feature-0 geometry: autotest/ogr/ogr_pgdump.py:103 ships
  the full 20-point WKB (first vertex 479819.84375 4765180.5).
* eas_id scan order: ogr_shape.py test_ogr_shape_3
  (``eas_id < 170`` → [168, 169, 166, 158, 165]).
* Z/M ISO WKTs: ogr_shape.py tests 59/60/92/93 + arcm/polygonm pins.
* LEFT JOIN first-match vs idlink.dbf: ogr_join_test.py tests 2/4.
"""

import struct

import numpy as np
import pytest

from gdal_spark.sources.shapefile import (ShapefileDataSource,
                                          dbf_header, decode_record,
                                          iso_wkt, plan_one,
                                          record_wkb, shp_header)

DATA = "/root/reference/autotest/ogr/data"


def _feature(path, fid):
    m = plan_one(path)
    with open(m["shp"]["path"], "rb") as fh:
        fh.seek(int(m["index"][fid, 0]) + 8)
        content = fh.read(int(m["index"][fid, 1]))
    return record_wkb(*decode_record(content))


def test_poly_header():
    h = shp_header(f"{DATA}/poly.shp")
    assert h["shape_type"] == 5
    assert h["bbox"] == (478315.53125, 4762880.5,
                        481645.3125, 4765610.5)


def test_poly_dbf_fields():
    d = dbf_header(f"{DATA}/poly.dbf")
    assert [(f[0], f[1]) for f in d["fields"]] == [
        ("AREA", "N"), ("EAS_ID", "N"), ("PRFEDEA", "C")]
    assert d["nrec"] == 10


def test_poly_feature0_matches_pgdump_golden():
    wkb, zs, ms = _feature(f"{DATA}/poly.shp", 0)
    # type 6 (MultiPolygon), 1 poly, 1 ring, 20 points
    assert struct.unpack_from("<I", wkb, 1)[0] == 6
    (npoly,) = struct.unpack_from("<I", wkb, 5)
    (nrings,) = struct.unpack_from("<I", wkb, 14)
    (npts,) = struct.unpack_from("<I", wkb, 18)
    assert (npoly, nrings, npts) == (1, 1, 20)
    x0, y0 = struct.unpack_from("<dd", wkb, 22)
    assert (x0, y0) == (479819.84375, 4765180.5)


PUBLISHED_WKT = [
    ("shp/arcm_with_m.shp", 0, "MULTILINESTRING M ((0 0 10,1 1 20))"),
    ("shp/arcm_with_m.shp", 1,
     "MULTILINESTRING M ((0 0 10,1 1 20),(2 2 30,3 3 40))"),
    ("shp/polygonm_with_m.shp", 0,
     "MULTIPOLYGON M (((0 0 10,0 1 20,1 1 30,0 0 40)))"),
    ("shp/polygonm_with_m.shp", 1,
     "MULTIPOLYGON M (((0 0 10,0 1 20,1 1 30,0 0 40),"
     "(0.25 0.25 50,0.75 0.75 60,0.25 0.75 70,0.25 0.25 80)))"),
    ("shp/multipointz_without_m.shp", 0,
     "MULTIPOINT Z ((0 1 2),(3 4 5))"),
    ("shp/pointz_without_m.shp", 0, "POINT Z (1 2 3)"),
]


@pytest.mark.parametrize("path,fid,expected", PUBLISHED_WKT)
def test_zm_iso_wkt_published(path, fid, expected):
    wkb, zs, ms = _feature(f"{DATA}/{path}", fid)
    assert iso_wkt(wkb, zs, ms) == expected


def test_spark_scan_and_join(spark):
    spark.dataSource.register(ShapefileDataSource)
    poly = spark.read.format("shapefile").load(f"{DATA}/poly.shp")
    rows = poly.orderBy("fid").collect()
    assert [r["EAS_ID"] for r in rows] == [
        168, 179, 171, 173, 172, 169, 166, 158, 165, 170]
    assert rows[0]["AREA"] == 215229.266
    assert rows[1]["AREA"] == 247328.172
    assert rows[0]["PRFEDEA"] == "35043411"
    # ogr_shape_3 filtered scan order
    assert [r["EAS_ID"] for r in rows if r["EAS_ID"] < 170] == [
        168, 169, 166, 158, 165]
    # ogr_join 2/4: LEFT JOIN idlink.dbf
    idlink = spark.read.format("shapefile").load(f"{DATA}/idlink.dbf")
    j = {r["EAS_ID"]: r["NAME"]
         for r in poly.join(
             idlink.select("EAS_ID", "NAME"), "EAS_ID", "left")
         .collect()}
    assert [j[e] for e in (166, 158, 165)] == ["_166_", "_158_", "_165_"]
    assert [j[e] for e in (179, 171, 173, 172)] == [
        "_179_", "_171_", None, None]


def test_writer_multiblock_roundtrip(spark, tmp_path):
    """rpb=3 forces 4 write blocks over 10 records — the driver must
    stitch offsets across part files; re-read must reproduce the
    published attribute pins and vertex counts exactly."""
    from gdal_spark.sources.shapefile import write_shapefile
    spark.dataSource.register(ShapefileDataSource)
    src = (spark.read.format("shapefile").load(f"{DATA}/poly.shp")
           .select("fid", "wkb", "AREA", "EAS_ID", "PRFEDEA"))
    out = str(tmp_path / "copy.shp")
    info = write_shapefile(src, out, [("AREA", "N", 12, 3),
                                      ("EAS_ID", "N", 11, 0),
                                      ("PRFEDEA", "C", 16, 0)], rpb=3)
    assert info["n"] == 10
    assert info["bbox"] == (478315.53125, 4762880.5,
                            481645.3125, 4765610.5)
    back = spark.read.format("shapefile").load(out)
    rows = back.orderBy("fid").collect()
    assert [r["EAS_ID"] for r in rows] == [
        168, 179, 171, 173, 172, 169, 166, 158, 165, 170]
    assert [r["n_points"] for r in rows] == [
        20, 20, 29, 26, 6, 20, 31, 61, 27, 5]
    assert rows[0]["AREA"] == 215229.266
    # .shx written and indexes the same records
    m = plan_one(out)
    assert m["nrec"] == 10


def test_spark_partitioned_scan(spark):
    """records_per_block=3 → 4 partitions over 10 records, same rows."""
    spark.dataSource.register(ShapefileDataSource)
    df = (spark.read.format("shapefile")
          .option("records_per_block", 3)
          .load(f"{DATA}/poly.shp"))
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 10
    assert df.agg({"n_points": "sum"}).collect()[0][0] == 245


def test_empty_and_buggy_fixtures(spark):
    """test_ogr_shape_20/21 resilience: zero-part records read as
    EMPTY geometries; truncated/corrupt records (the buggymulti*
    fixtures) surface null geometry without failing the scan."""
    spark.dataSource.register(ShapefileDataSource)
    S = f"{DATA}/shp"
    for f, wkt_exp in (("emptymultipoint.shp", "MULTIPOINT EMPTY"),
                       ("emptymultiline.shp",
                        "MULTILINESTRING EMPTY"),
                       ("emptymultipoly.shp", "MULTIPOLYGON EMPTY")):
        rows = spark.read.format("shapefile").load(f"{S}/{f}").collect()
        assert len(rows) == 1
        assert iso_wkt(rows[0]["wkb"]) == wkt_exp, f
    for f in ("buggypoint.shp", "buggymultipoint.shp",
              "buggymultiline.shp", "buggymultipoly.shp",
              "buggymultipoly2.shp"):
        rows = spark.read.format("shapefile").load(f"{S}/{f}").collect()
        assert len(rows) == 1 and rows[0]["wkb"] is None, f
        assert rows[0]["shape_type"] == "Invalid", f
    assert spark.read.format("shapefile").load(
        f"{S}/empty.shp").count() == 0


def test_invalid_winding_multipolygon_recovery():
    """QGIS<=3.28.11-style bad files (multi-part multipolygon written
    as one part with outers as 'holes'): orphan rings promote to
    their own polygons — published pins
    (test_ogr_shape_read_multipolygon_as_invalid_polygon)."""
    pins = [
        "MULTIPOLYGON (((0 0,0 1,1 1,0 0)),((10 0,11 1,10 1,10 0)))",
        "MULTIPOLYGON (((0 0,0 1,1 1,0 0)),"
        "((0.5 -0.5,1.5 0.5,0.5 0.5,0.5 -0.5)))",
    ]
    for fid, pin in enumerate(pins):
        wkb, zs, ms = _feature(
            f"{DATA}/shp/multipolygon_as_invalid_polygon.shp", fid)
        assert iso_wkt(wkb) == pin


def test_dbf_date_fields(spark):
    """D-type columns: empty string → null (date_empty_string.dbf);
    water_main_dist.dbf pins 1989-04-25 (test_ogr_shape_27)."""
    import datetime
    spark.dataSource.register(ShapefileDataSource)
    r = (spark.read.format("shapefile")
         .load(f"{DATA}/shp/date_empty_string.dbf").collect())
    assert len(r) == 1 and r[0]["date"] is None
    r = (spark.read.format("shapefile")
         .load(f"{DATA}/shp/water_main_dist.dbf").collect())
    assert r[0]["installe_1"] == datetime.date(1989, 4, 25)


def test_real_world_county_extract(spark):
    spark.dataSource.register(ShapefileDataSource)
    r = (spark.read.format("shapefile")
         .load(f"{DATA}/shp/cb_2022_us_county_20m_extract.shp")
         .collect())
    assert len(r) == 1
    assert r[0]["shape_type"] == "Polygon"
    assert r[0]["wkb"] is not None and r[0]["n_points"] > 4


def _null_shapefile(base, n_shp, n_dbf):
    """``n_shp`` null-shape records in .shp, a one-field (N 4.0) .dbf
    whose header and body hold only ``n_dbf`` records (no .shx)."""
    recs = b"".join(struct.pack(">ii", i + 1, 2) + struct.pack("<i", 0)
                    for i in range(n_shp))
    head = struct.pack(">7i", 9994, 0, 0, 0, 0, 0, (100 + len(recs)) // 2)
    head += struct.pack("<2i4d4d", 1000, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    with open(f"{base}.shp", "wb") as fh:
        fh.write(head + recs)
    desc = b"V".ljust(11, b"\0") + b"N" + bytes(4) + bytes([4, 0]) \
        + bytes(14)
    rsz, hsz = 1 + 4, 32 + len(desc) + 1
    dhead = bytes([3, 26, 1, 1]) + struct.pack("<IHH", n_dbf, hsz, rsz) \
        + bytes(20)
    body = b"".join(b" " + str(10 + i).rjust(4).encode()
                    for i in range(n_dbf))
    with open(f"{base}.dbf", "wb") as fh:
        fh.write(dhead + desc + b"\r" + body)


def test_short_dbf_pads_attributes_with_nulls(spark, tmp_path):
    """A .dbf with fewer records than the .shp: the missing attribute
    rows read as nulls instead of failing the scan."""
    base = str(tmp_path / "short")
    _null_shapefile(base, n_shp=3, n_dbf=1)
    spark.dataSource.register(ShapefileDataSource)
    rows = (spark.read.format("shapefile").load(f"{base}.shp")
            .orderBy("fid").collect())
    assert [(r["fid"], r["V"]) for r in rows] == [(0, 10), (1, None),
                                                   (2, None)]
