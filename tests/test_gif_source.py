"""GIF format driver (gdal_spark/sources/gif.py) vs the reference's
published rgbExpand pins."""

import numpy as np
import pytest

from gdal_spark.fixtures import autotest_path

PATH = "gdrivers/data/gif/bug407.gif"


@pytest.fixture(scope="module")
def gif(spark):
    from gdal_spark.sources.gif import GifDataSource
    spark.dataSource.register(GifDataSource)
    return spark


def test_rgbexpand_published_checksums(gif):
    """bug407.gif (interlaced, 16-color GCT, GIF-LZW) expanded
    through the palette pins R 20615 / G 59147 / B 63052
    (test_gdal_translate_lib.py:158-162)."""
    from gdal_spark.operators.rasterize import gdal_checksum
    from gdal_spark.sources.gif import gif_palette
    pdf = gif.read.format("gif").load(autotest_path(PATH)).toPandas()
    assert len(pdf) == 400 * 400
    g = np.zeros((400, 400), dtype=int)
    g[pdf["py"], pdf["px"]] = pdf["value"]
    pal = np.array([(r, gg, b)
                    for _, r, gg, b in gif_palette(autotest_path(PATH))])
    for ch, want in ((0, 20615), (1, 59147), (2, 63052)):
        assert gdal_checksum(pal[g, ch].astype(float)) == want


def test_gif_lzw_kernel():
    """LSB-first LZW with width growth at 2^width and CLEAR resets:
    decode a hand-built stream (min code size 2: CLEAR=4, EOI=5)."""
    from gdal_spark.sources.gif import gif_lzw_decode
    # codes CLEAR(4), 0, 1, EOI(5) at width 3, each code packed
    # LSB-first into the stream
    val = 4 | 0 << 3 | 1 << 6 | 5 << 9
    data = val.to_bytes(2, "little")
    assert gif_lzw_decode(data, 2, 4) == b"\x00\x01"
