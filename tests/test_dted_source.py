"""DTED source parity vs published pins (autotest/gdrivers/dted.py:
n43.dt0 checksum 49187 — the same raster content n43.tif pins through
the independent TIFF decoder — plus the partial/sparse odd-layout
recoveries 56006/56369)."""

import numpy as np
import pytest

from gdal_spark.fixtures import autotest_path
from gdal_spark.sources.dted import DtedReader, dted_header

D = "gdrivers/data"
PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43],
                  dtype=np.int64)


def _checksum(path, cols_per_block=512):
    m = dted_header(path)
    rdr = DtedReader({"path": path})
    rdr.COLS_PER_BLOCK = cols_per_block
    tot, cnt = 0, 0
    for p in rdr.partitions():
        for rb in rdr.read(p):
            d = rb.to_pydict()
            v = np.asarray(d["value"])
            py = np.asarray(d["py"], dtype=np.int64)
            px = np.asarray(d["px"], dtype=np.int64)
            val = np.clip(np.floor(v + 0.5), -2147483648,
                          2147483647).astype(np.int64)
            pr = PRIMES[(py * m["nx"] + px) % 11]
            tot = (tot + int((np.sign(val)
                              * (np.abs(val) % pr)).sum())) % 65536
            cnt += len(v)
    return tot, cnt


@pytest.mark.parametrize("fname,pin", [
    ("n43.dt0", 49187),
    ("dted/n43_partial_cols.dt0", 56006),
    ("dted/n43_sparse_cols.dt0", 56369),
])
def test_dted_published_checksums(fname, pin):
    tot, cnt = _checksum(autotest_path(D, fname))
    assert (tot, cnt) == (pin, 121 * 121)


def test_dted_column_block_partitioning():
    """Column blocks of 50 (3 partitions over 121 columns) must
    reproduce the single-partition checksum exactly."""
    path = autotest_path(D, "n43.dt0")
    assert _checksum(path, cols_per_block=50) == (49187, 14641)
