"""MIF/MID source parity vs published expectations:
ogr_mitab.py test_ogr_mitab_10 (small.mif: first-feature POLYGON
coordinates, NAME/FLOODZONE/OWNER attribute pins including the
doubled-quote escape) and the shipped golden
all_geoms.mif.golden.csv (16 rows, geometry-per-type mapping)."""

import pytest

from gdal_spark.fixtures import autotest_path
from gdal_spark.sources.mif import (MifDataSource, _Cursor,
                                    mif_header, parse_geometry)
from gdal_spark.sources.shapefile import iso_wkt

D = "ogr/data/mitab"

SMALL_POLY0 = ("POLYGON ((407131.721 155322.441,407134.468 155329.616,"
               "407142.741 155327.242,407141.503 155322.467,"
               "407140.875 155320.049,407131.721 155322.441))")


def _features(path):
    m = mif_header(path)
    txt = open(path, "rb").read().decode("latin-1")
    out = []
    for i in range(len(m["starts"]) - 1):
        seg = txt[m["starts"][i]:m["starts"][i + 1]]
        out.append(parse_geometry(_Cursor(seg.splitlines())))
    return out


def test_small_mif_geometry_pin():
    feats = _features(autotest_path(D, "small.mif"))
    assert len(feats) == 2
    st, wkb = feats[0]
    assert st == "Region"
    assert iso_wkt(wkb) == SMALL_POLY0


def test_all_geoms_vs_golden_count():
    feats = _features(autotest_path(D, "all_geoms.mif"))
    assert len(feats) == 16  # golden.csv has 16 data rows
    wkts = [None if w is None else iso_wkt(w) for _, w in feats]
    assert wkts[0] == "POINT (0 1)"
    assert wkts[3] == "LINESTRING (0 1,2 3)"
    assert wkts[6] == "MULTILINESTRING ((0 1,2 3),(3 4,5 6))"
    assert wkts[7] == "POLYGON ((-1 -1,1 -1,1 1,-1 1,-1 -1))"
    assert wkts[14] == "POLYGON ((0 1,1 1,1 0,0 1))"
    # curve types (RoundRect/Ellipse/Arc/Text) are documented stubs
    assert [w is None for w in wkts[8:13]] == [True] * 5


def test_spark_small_mif(spark):
    spark.dataSource.register(MifDataSource)
    df = spark.read.format("mif").load(autotest_path(D, "small.mif"))
    rows = df.orderBy("fid").collect()
    assert rows[0]["NAME"] == " S. 11th St."
    assert rows[0]["FLOODZONE"] == 10
    assert rows[0]["DATA"] == 4
    assert rows[1]["OWNER"] == 'Guarino "Chucky" Sandra'
    assert rows[1]["APPRAISED_VALUE"] == 62480.53


def test_tab_delimiter_and_empty_first_field(spark):
    """Delimiter '\\t' + an empty leading MID field parse per the
    shipped empty_first_field_with_tab_delimiter fixture."""
    spark.dataSource.register(MifDataSource)
    rows = (spark.read.format("mif")
            .load(autotest_path(
                D, "empty_first_field_with_tab_delimiter.mif"))
            .collect())
    assert len(rows) == 1
    assert rows[0]["field1"] == ""
    assert rows[0]["field2"] == "foo"
