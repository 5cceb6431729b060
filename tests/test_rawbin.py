"""ENVI/EHdr raw-binary source vs the reference's published pins."""

import numpy as np
import pytest

from gdal_spark.fixtures import autotest_path

D = "gdrivers/data"


@pytest.fixture(scope="module")
def raw(spark):
    from gdal_spark.sources.rawbin import RawBinDataSource
    spark.dataSource.register(RawBinDataSource)
    return spark


def _grid(pdf, band=0):
    sub = pdf[pdf["band"] == band]
    h, w = int(sub["py"].max()) + 1, int(sub["px"].max()) + 1
    g = np.zeros((h, w))
    g[sub["py"], sub["px"]] = sub["value"]
    return g


def test_published_pins(raw):
    from gdal_spark.operators.rasterize import gdal_checksum
    cases = [("ehdr/float32.bil", 0, 27),
             ("ehdr/ehdr10.bil", 0, 8202),
             ("envi/aea.dat", 0, 14823)]
    for rel, band, want in cases:
        pdf = raw.read.format("rawbin").load(autotest_path(D, rel)).toPandas()
        assert gdal_checksum(_grid(pdf, band)) == want, rel


def test_interleaves_agree_and_pin(raw):
    """bil == bip == bsq per band, each at the published
    20718/20669/20895 (envi.py test_envi_interleaving)."""
    from gdal_spark.operators.rasterize import gdal_checksum
    want = [20718, 20669, 20895]
    for suf in ("bil", "bip", "bsq"):
        pdf = (raw.read.format("rawbin")
               .load(autotest_path(D, f"envi/envi_rgbsmall_{suf}.img"))
               .toPandas())
        assert [gdal_checksum(_grid(pdf, b))
                for b in range(3)] == want, suf
