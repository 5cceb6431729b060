"""CCITT G4 codec (gdal_spark/sources/ccitt.py) — decoder pinned to
the published slim_g4 checksum via the tiff-source tests; here the
ENCODER: byte-identity against libtiff's own output and round-trips
across pattern classes."""

import numpy as np

from gdal_spark.fixtures import autotest_path


def test_encoder_byte_identical_to_libtiff():
    """Re-encoding slim_g4.tif's decoded bitmap reproduces the
    fixture's compressed strip BYTE FOR BYTE (10,505 bytes) — our
    mode/MH choices match libtiff's canonical T.6 coder exactly."""
    from gdal_spark.sources.ccitt import (g4_decode, g4_encode,
                                          g4_rows_to_bits)
    from gdal_spark.sources.tiff import _read_ifd
    path = autotest_path("gcore/data/slim_g4.tif")
    b = open(path, "rb").read()
    _, t = _read_ifd(b)
    strip = b[t[273][0]:t[273][0] + t[279][0]]
    bitmap = g4_rows_to_bits(g4_decode(strip, 1000, 7200), 1000)
    assert g4_encode(bitmap) == strip


def test_encoder_roundtrips():
    from gdal_spark.sources.ccitt import (g4_decode, g4_encode,
                                          g4_rows_to_bits)
    rng = np.random.default_rng(5)
    for a in (np.zeros((5, 8), np.uint8),
              np.ones((5, 8), np.uint8),
              (rng.random((40, 100)) < 0.5).astype(np.uint8),
              (rng.random((30, 300)) < 0.02).astype(np.uint8),
              np.tile([[0, 1]], (10, 50)).astype(np.uint8)):
        h, w = a.shape
        got = g4_rows_to_bits(g4_decode(g4_encode(a), w, h), w)
        np.testing.assert_array_equal(got, a)
