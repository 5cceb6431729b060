"""From-scratch PNG codec (geo/png.py) and the PNG tile-artifact
writer (tiling.tile_pngs): container validity, filter reconstruction,
and the gdal2tiles-shaped round trip of the content pyramid."""

import struct
import zlib

import numpy as np
import pytest

from gdal_spark.fixtures import autotest_path
from gdal_spark.geo.png import _SIG, _chunk, decode_png, encode_png


def _rng(shape, seed):
    return np.random.default_rng(seed).integers(
        0, 256, size=shape).astype(np.uint8)


def test_roundtrip_gray_rgb_rgba():
    for shape, seed in [((7, 5), 1), ((16, 16, 3), 2), ((9, 4, 4), 3)]:
        a = _rng(shape, seed)
        np.testing.assert_array_equal(decode_png(encode_png(a)), a)


def test_container_is_valid_png():
    data = encode_png(_rng((8, 8), 4))
    assert data[:8] == _SIG
    assert data[12:16] == b"IHDR"
    w, h, depth, ct = struct.unpack(">IIBB", data[16:26])
    assert (w, h, depth, ct) == (8, 8, 8, 0)
    assert data.endswith(_chunk(b"IEND", b""))


def test_crc_validation_rejects_corruption():
    data = bytearray(encode_png(_rng((8, 8), 5)))
    data[40] ^= 0xFF  # inside IDAT payload
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def _filter_forward(img, ftype):
    """Apply a spec filter to raw scanlines (encoder side) so the
    decoder's reconstruction path is exercised for Sub/Up/Avg/Paeth,
    which our encoder never emits."""
    h, w = img.shape
    raw = np.empty((h, 1 + w), dtype=np.uint8)
    raw[:, 0] = ftype
    prev = np.zeros(w, dtype=np.int32)
    for y in range(h):
        cur = img[y].astype(np.int32)
        left = np.concatenate([[0], cur[:-1]])
        ul = np.concatenate([[0], prev[:-1]])
        if ftype == 0:
            f = cur
        elif ftype == 1:
            f = cur - left
        elif ftype == 2:
            f = cur - prev
        elif ftype == 3:
            f = cur - (left + prev) // 2
        else:
            p = left + prev - ul
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - ul))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            f = cur - pred
        raw[y, 1:] = (f % 256).astype(np.uint8)
        prev = cur
    return raw


def test_decoder_reconstructs_all_filters():
    img = _rng((12, 10), 6)
    for ftype in range(5):
        raw = _filter_forward(img, ftype)
        ihdr = struct.pack(">IIBBBBB", 10, 12, 8, 0, 0, 0, 0)
        data = (_SIG + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
                + _chunk(b"IEND", b""))
        np.testing.assert_array_equal(decode_png(data), img, str(ftype))


def test_tile_pyramid_png_artifacts_roundtrip(spark):
    """gdal2tiles artifact shape: every (level, ty, tx) tile of the
    content pyramid becomes a valid 32×32 greyscale PNG whose decoded
    pixels equal the quantized tile content."""
    from gdal_spark.operators.tiling import tile_pngs
    from gdal_spark.queries import q_tile_content_pyramid

    sf = "/root/testdata/sf0.001"
    tiles = q_tile_content_pyramid(spark, sf)
    vmax = float(tiles.agg({"v": "max"}).first()[0])
    out = {(r["level"], r["ty"], r["tx"]): bytes(r["png"])
           for r in tile_pngs(tiles, 32, vmax).collect()}
    assert out, "no tiles emitted"
    want = {}
    for r in tiles.collect():
        k = (r["level"], r["ty"], r["tx"])
        want.setdefault(k, np.zeros((32, 32), dtype=np.uint8))[
            r["py"] % 32, r["px"] % 32] = np.uint8(
            np.clip(np.floor(r["v"] / vmax * 255.0 + 0.5), 0, 255))
    assert set(out) == set(want)
    for k, png in out.items():
        np.testing.assert_array_equal(decode_png(png), want[k], str(k))


def test_palette_png_published_checksum():
    """Reference fixture test.png (paletted, 400x400) decodes to the
    published index checksum 57921 (gdrivers/png.py test_png_1);
    PLTE parses to (idx,r,g,b) rows."""
    from gdal_spark.geo.png import decode_png, png_palette
    from gdal_spark.operators.rasterize import gdal_checksum
    b = open(autotest_path("gdrivers/data/png/test.png"),
             "rb").read()
    a = decode_png(b)
    assert a.shape == (400, 400)
    assert gdal_checksum(a.astype(float)) == 57921
    pal = png_palette(b)
    assert pal[0] == (0, 255, 255, 255) and len(pal) == 16
