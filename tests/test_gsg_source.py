"""Surfer grid (DSAA/DSBB/DSRB) parity vs the published pins
(autotest/gdrivers/gsg.py tests 1-3: checksum 4672 + geotransform
(440720, 60, 0, 3751320, 0, -60) for all three dialects)."""

import numpy as np
import pytest

from gdal_spark.fixtures import autotest_path
from gdal_spark.sources.gsg import (GsgBlock, GsgReader, gsg_header,
                                    gsg_geotransform)

D = "gdrivers/data/gsg"
PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43],
                  dtype=np.int64)


@pytest.mark.parametrize("fname,kind", [
    ("gsg_ascii.grd", "dsaa"),
    ("gsg_binary.grd", "dsbb"),
    ("gsg_7binary.grd", "dsrb"),
])
def test_gsg_published_pins(fname, kind):
    m = gsg_header(autotest_path(D, fname))
    assert m["kind"] == kind
    assert (m["nx"], m["ny"]) == (20, 20)
    assert gsg_geotransform(m) == (440720.0, 60.0, 0.0,
                                   3751320.0, 0.0, -60.0)
    rdr = GsgReader({"path": autotest_path(D, fname)})
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
            tot = (tot + int((val % pr).sum())) % 65536
            cnt += len(v)
    assert (tot, cnt) == (4672, 400)


def test_gsg_row_block_partitioning():
    """Binary dialects partition by row blocks with exact offsets."""
    m = gsg_header(autotest_path(D, "gsg_binary.grd"))
    rdr = GsgReader({"path": autotest_path(D, "gsg_binary.grd")})
    rdr.ROWS_PER_BLOCK = 7
    parts = rdr.partitions()
    assert [(p.r0, p.r1) for p in parts] == [(0, 7), (7, 14), (14, 20)]
    rows = {}
    for p in parts:
        for rb in rdr.read(p):
            d = rb.to_pydict()
            for y, x, v in zip(d["py"], d["px"], d["value"]):
                rows[(y, x)] = v
    # must agree with the single-shot ASCII twin (same raster)
    ascii_rdr = GsgReader({"path": autotest_path(D, "gsg_ascii.grd")})
    for p in ascii_rdr.partitions():
        for rb in ascii_rdr.read(p):
            d = rb.to_pydict()
            for y, x, v in zip(d["py"], d["px"], d["value"]):
                assert rows[(y, x)] == pytest.approx(v)
