"""Reference-parity goldens: run OUR operators on the reference test
suite's OWN fixtures and assert the reference's published expectations.

The oracle gate (tools/run_gate.py) proves Spark ≡ DuckDB on the same
formula — it cannot prove the formula matches the REFERENCE (the round-2
Horn y-sign episode: both engines shared the bug, the gate stayed
green). These tests close that loop for the sieve filter: inputs are
the grids from ``autotest/alg/data/sieve_src.grd`` /
``unmergeable.grd`` / ``sieve_2634.grd`` and the inline fixtures of
``autotest/alg/sieve.py`` (test_sieve_7/8), expectations are the
Checksum() values pinned there (364 / 370 / 451 / 98 / 42 / 0) plus
test_sieve_7's expected full array — computed with our from-scratch
``gdal_checksum`` twin (operators/rasterize.py:234).

Reference semantics exercised end-to-end (alg/gdalsievefilter.cpp):
merge-into-LARGEST-neighbor (not removal), chain-walk through small
neighbors to the first >= threshold polygon (":472-540 fix-up pass"),
cycles of smalls stay unmerged, isolated smalls stay, nodata (masked)
pixels keep their value and never count as neighbors
(GPMaskImageData's GP_NODATA_MARKER), 4- vs 8-connectedness applying
to BOTH the component enumerator and the neighbor scan.

Tie-break parity: equal-size biggest-neighbor ties follow the
reference's raster-scan encounter order exactly (CompareNeighbour
keeps the FIRST seen of equal sizes, gdalsievefilter.cpp:118-126;
comparison order up / up-left / up-right / left per scan pixel,
:412-438) via sieve_merge(width=...) → adjacency_events. The
"unmergeable" fixture is the stress case: nearly every polygon is
1 px, so the biggest-neighbor choice is tie-dominated — its golden
(451) only reproduces under the exact encounter-order rule.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.fixtures import autotest_path
from gdal_spark.operators.polygonize import polygonize, sieve_merge
from gdal_spark.operators.rasterize import gdal_checksum

# autotest/alg/data/sieve_src.grd (ncols 5, nrows 7; the NODATA_value
# 132 header is irrelevant in tests 1-2: SieveFilter is called with a
# NULL mask, so every pixel is valid and 132 is an ordinary class).
SIEVE_SRC = """
107 123 132 115 132
115 132 132 123 123
115 132 140 132 123
148 132 123 123 123
156 156 156 140 132
156 100 156 101 102
156 156 156 103 103
"""

# autotest/alg/data/unmergeable.grd (all polygons below threshold
# except the two-pixel 25 25 run — the "unmergeable" stress case).
UNMERGEABLE = """
10 11 12 13 14
15 16 17 18 19
20 21 22 23 24
25 25 26 27 28
29 30 31 32 33
34 35 36 37 38
39 40 41 42 43
"""

# autotest/alg/data/sieve_2634.grd (bug #2634 reduction).
SIEVE_2634 = """
0 0 0 0 0 0 0 0 0 0
0 0 0 0 0 0 0 0 0 0
0 0 0 0 0 0 0 0 0 0
0 0 0 255 0 0 0 255 0 0
0 0 255 255 255 255 255 255 255 0
0 0 0 255 0 0 0 255 0 0
0 0 0 0 0 0 0 0 0 0
0 0 0 0 0 0 0 0 0 0
"""

# autotest/alg/sieve.py test_sieve_7 inline fixture (NODATA_value 0,
# sieved with the nodata mask, threshold 4).
SIEVE_7 = """
0 0 0 0 0 0 0
0 1 1 1 1 1 1
0 1 0 0 1 1 1
0 1 0 2 2 2 1
0 1 1 2 1 2 1
0 1 1 2 2 2 1
0 1 1 1 1 1 1
"""

SIEVE_7_EXPECTED = """
0 0 0 0 0 0 0
0 1 1 1 1 1 1
0 1 0 0 1 1 1
0 1 0 2 2 2 1
0 1 1 2 2 2 1
0 1 1 2 2 2 1
0 1 1 1 1 1 1
"""

# autotest/alg/sieve.py test_sieve_8 inline fixture (no nodata: the
# all-valid mask; every non-zero polygon is < 4 px and chain-walks to
# the background 0 polygon — "propagation in our search of biggest
# neighbour").
SIEVE_8 = """
0 0 0 0 0 0 0
0 5 5 0 0 0 0
0 5 2 3 4 0 0
0 0 8 1 5 0 0
0 0 7 6 5 9 0
0 0 0 0 9 9 0
0 0 0 0 0 0 0
"""


def _grid(text: str) -> np.ndarray:
    return np.array([[int(t) for t in line.split()]
                     for line in text.strip().splitlines()], dtype=np.int64)


def _sieve(spark, grid: np.ndarray, threshold: int, connect8: bool,
           nodata: int | None = None) -> np.ndarray:
    """Run grid → polygonize → sieve_merge → rewritten grid, GDAL
    call-shape: masked (nodata) pixels are excluded from labeling and
    keep their original value in the output."""
    h, w = grid.shape
    rows = [(int(y), int(x), int(grid[y, x]))
            for y in range(h) for x in range(w)
            if nodata is None or grid[y, x] != nodata]
    df = spark.createDataFrame(rows, "py long, px long, v long")
    labels = polygonize(df, w, tile=4, value_col="v", connect8=connect8)
    out = sieve_merge(labels, threshold, "v", connect8=connect8, width=w)
    res = grid.copy()
    for r in out.collect():
        res[r["py"], r["px"]] = r["v"]
    return res


def test_sieve_autotest_1_default(spark):
    """autotest/alg/sieve.py test_sieve_1: threshold 2, 4-connected."""
    out = _sieve(spark, _grid(SIEVE_SRC), 2, connect8=False)
    assert gdal_checksum(out) == 364


def test_sieve_autotest_2_eight_connected(spark):
    """autotest/alg/sieve.py test_sieve_2: threshold 2, 8-connected."""
    out = _sieve(spark, _grid(SIEVE_SRC), 2, connect8=True)
    assert gdal_checksum(out) == 370


def test_sieve_autotest_3_unmergeable(spark):
    """autotest/alg/sieve.py test_sieve_3: every polygon except the
    25-pair is 1 px; chains walk toward it or fail. Checksum 451 (the
    post-2010 expected value in the reference test)."""
    out = _sieve(spark, _grid(UNMERGEABLE), 2, connect8=True)
    assert gdal_checksum(out) == 451


def test_sieve_autotest_4_bug2634(spark):
    """autotest/alg/sieve.py test_sieve_4: threshold 2, 4-connected."""
    out = _sieve(spark, _grid(SIEVE_2634), 2, connect8=False)
    assert gdal_checksum(out) == 98


def test_sieve_autotest_7_nodata_mask(spark):
    """autotest/alg/sieve.py test_sieve_7: nodata 0 masked out,
    threshold 4 — the 1 px '1' inside the 2-ring merges into the 2
    polygon; the 3-px interior nodata hole stays nodata. Asserts the
    full expected array printed in the reference test AND its
    checksum."""
    out = _sieve(spark, _grid(SIEVE_7), 4, connect8=False, nodata=0)
    np.testing.assert_array_equal(out, _grid(SIEVE_7_EXPECTED))
    assert gdal_checksum(out) == 42


def test_sieve_autotest_8_chain_propagation(spark):
    """autotest/alg/sieve.py test_sieve_8: all non-zero polygons are
    < 4 px and must chain through each other into the background —
    output is all zeros (checksum 0)."""
    out = _sieve(spark, _grid(SIEVE_8), 4, connect8=False)
    assert gdal_checksum(out) == 0
    assert not out.any()


def _read_strip_tiff(path: str) -> np.ndarray:
    """Minimal reader for the reference suite's tiny uncompressed
    single-strip 8-bit TIFFs (e.g. autotest/alg/data/pat.tif: 25x25,
    Compression=1, one strip). Enough tags to locate the pixel strip;
    everything else is validated, not interpreted."""
    import struct

    b = open(path, "rb").read()
    bo = "<" if b[:2] == b"II" else ">"
    ifd = struct.unpack(bo + "I", b[4:8])[0]
    n = struct.unpack(bo + "H", b[ifd:ifd + 2])[0]
    tags = {}
    for i in range(n):
        e = b[ifd + 2 + 12 * i: ifd + 14 + 12 * i]
        tag, _typ, _cnt = struct.unpack(bo + "HHI", e[:8])
        tags[tag] = struct.unpack(bo + "I", e[8:12])[0]
    w, h = tags[256], tags[257]
    assert tags.get(259, 1) == 1 and tags.get(258, 8) == 8
    off, nbytes = tags[273], tags[279]
    assert nbytes == w * h
    return np.frombuffer(b[off:off + nbytes],
                         dtype=np.uint8).reshape(h, w).astype(np.int64)


def _proximity_grid(spark, grid: np.ndarray, target_values=None,
                    maxdist=None, nodata=65535.0, fixed_buf=None,
                    src_nodata=None) -> np.ndarray:
    """ComputeProximity call-shape over our distributed operator
    (alg/gdalproximity.cpp): targets = non-zero pixels (or the VALUES
    list), proximity = exact Euclidean distance cut INCLUSIVELY at
    MAXDIST (default xsize+ysize, :144-146), pixels with no target in
    range get NODATA (default 65535, :180-194), FIXED_BUF_VAL replaces
    only distances > 0 (:387-388, targets keep 0), USE_INPUT_NODATA
    pixels never receive a distance (:565-567 guard)."""
    from gdal_spark.operators.proximity import proximity

    h, w = grid.shape
    if maxdist is None:
        maxdist = w + h
    if target_values is None:
        tmask = grid != 0
    else:
        tmask = np.isin(grid, target_values)
    pix = spark.createDataFrame(
        [(int(y), int(x)) for y in range(h) for x in range(w)],
        "py long, px long")
    tgt = spark.createDataFrame(
        [(int(y), int(x)) for y, x in zip(*np.nonzero(tmask))],
        "py long, px long")
    out = proximity(pix, tgt, maxdist)
    res = np.full((h, w), nodata, dtype=np.float64)
    for r in out.collect():
        d = r["dist"]
        res[r["py"], r["px"]] = fixed_buf if (fixed_buf is not None
                                              and d > 0) else d
    if src_nodata is not None:
        res[(grid == src_nodata) & ~tmask] = nodata
    return res


def _as_uint8(vals: np.ndarray) -> np.ndarray:
    """GDALCopyWords float -> Byte: round half up, clamp to [0, 255]."""
    return np.clip(np.floor(vals + 0.5), 0, 255).astype(np.int64)


def test_proximity_autotest_1_default(spark):
    """autotest/alg/proximity.py test_proximity_1: all defaults
    (targets = non-zero, maxdist 50, nodata 65535) into a Byte band."""
    grid = _read_strip_tiff(
        autotest_path("alg/data/pat.tif"))
    res = _proximity_grid(spark, grid)
    assert gdal_checksum(_as_uint8(res)) == 1941


def test_proximity_autotest_2_options(spark):
    """autotest/alg/proximity.py test_proximity_2: VALUES=65,64
    MAXDIST=12 NODATA=-1 FIXED_BUF_VAL=255 into a Float32 band."""
    grid = _read_strip_tiff(
        autotest_path("alg/data/pat.tif"))
    res = _proximity_grid(spark, grid, target_values=[65, 64], maxdist=12,
                          nodata=-1.0, fixed_buf=255.0)
    assert gdal_checksum(res.astype(np.float32)) == 3256


def test_proximity_autotest_3_input_nodata(spark):
    """autotest/alg/proximity.py test_proximity_3: VALUES=65,64
    MAXDIST=12 USE_INPUT_NODATA=YES NODATA=0 into a Byte band
    (pat.tif carries GDAL_NODATA=255)."""
    grid = _read_strip_tiff(
        autotest_path("alg/data/pat.tif"))
    res = _proximity_grid(spark, grid, target_values=[65, 64], maxdist=12,
                          nodata=0.0, src_nodata=255)
    assert gdal_checksum(_as_uint8(res)) == 1465


def test_sieve_autotest_all_masked(spark):
    """autotest/alg/sieve.py test_sieve_all_masked: every pixel masked
    -> output identical to input."""
    grid = np.ones((10, 10), dtype=np.int64)
    out = _sieve(spark, grid, 4, connect8=False, nodata=1)
    np.testing.assert_array_equal(out, grid)


# ---------------------------------------------------------------------------
# gdal_grid per-quadrant IDW — autotest/utilities/test_gdal_grid_lib.py
# quadrant tests (single-cell grids with analytically pinned values).
# ---------------------------------------------------------------------------

def _quad_cand(spark, pts, cell=(10.0, 100.0), radius=2.0):
    """Candidates of the reference fixture: points shifted by
    (10, 100), one 1x1 cell centered on the shift, filtered to the
    search radius (dx/dy relative to the cell center)."""
    rows = []
    for i, (dx, dy, z) in enumerate(pts):
        d2 = dx * dx + dy * dy
        if d2 <= radius * radius:
            rows.append((0, 0, float(dx), float(dy), float(d2), i, float(z)))
    return spark.createDataFrame(
        rows, "cy int, cx int, dx double, dy double, d2 double, "
              "pt_id int, value double")


QUAD_PTS_5 = [(0.5, 0.5, 10), (-0.5, 0.5, 10), (-0.5, -0.5, 10),
              (0.5, -0.5, 10), (1.0, 0.0, 100000000)]
QUAD_PTS_4 = QUAD_PTS_5[:4]


def _quad_value(df):
    rows = df.collect()
    return rows[0]["v"] if rows else None


def test_gdal_grid_autotest_quadrant_all_params(spark):
    """test_gdal_grid_lib_invdistnn_quadrant_all_params: power=1.5,
    radius=2, max_points=10, min_points=4, min/max per quadrant 1/2 —
    all five points contribute, weight 1/dist^1.5."""
    from gdal_spark.operators.gridding import grid_invdist_quadrant

    cand = _quad_cand(spark, QUAD_PTS_5)
    v = _quad_value(grid_invdist_quadrant(
        cand, power=1.5, smoothing=1e-15, max_points=10, min_points=4,
        min_points_per_quadrant=1, max_points_per_quadrant=2))
    p = 1.5
    d1 = (0.5**2 + 0.5**2) ** (p / 2.0)
    d2 = 1.0 ** p
    expected = (4 * 10 / d1 + 1e8 / d2) / (4 / d1 + 1 / d2)
    assert np.float32(v) == np.float32(expected)


def test_gdal_grid_autotest_quadrant_failure_modes(spark):
    """insufficient_radius (0.7 < sqrt(2)/2 point distance... the four
    corner points sit at ~0.707 > 0.7), min_points=5 unreachable, and
    a missing quadrant all yield the 0.0 nodata."""
    from gdal_spark.operators.gridding import grid_invdist_quadrant

    # radius 0.7: no candidates at all -> no cell row (the reference
    # writes the 0 nodata; an absent row is the sparse equivalent)
    cand = _quad_cand(spark, QUAD_PTS_4, radius=0.7)
    assert _quad_value(grid_invdist_quadrant(
        cand, min_points_per_quadrant=1)) is None
    # min_points=5 with only 4 candidates -> nodata
    cand = _quad_cand(spark, QUAD_PTS_4, radius=1.0)
    assert _quad_value(grid_invdist_quadrant(
        cand, min_points_per_quadrant=1, min_points=5)) == 0.0
    # three points: one quadrant empty -> nodata
    cand = _quad_cand(spark, QUAD_PTS_4[:3], radius=0.8)
    assert _quad_value(grid_invdist_quadrant(
        cand, min_points_per_quadrant=1)) == 0.0


def test_gdal_grid_autotest_quadrant_ignore_extra_points(spark):
    """ignore_extra_points: max_points_per_quadrant=1 drops the far
    1e8 point (it shares the dx>=0,dy>=0 quadrant with a nearer corner
    point) -> plain mean 10.0."""
    from gdal_spark.operators.gridding import grid_invdist_quadrant

    cand = _quad_cand(spark, QUAD_PTS_5)
    v = _quad_value(grid_invdist_quadrant(
        cand, min_points_per_quadrant=1, max_points=0,
        max_points_per_quadrant=1))
    assert np.float32(v) == np.float32(10.0)


# ---------------------------------------------------------------------------
# gdaldem — autotest/utilities/test_gdaldem_lib.py goldens over n43.tif
# (121x121 int16 DEM, LZW strips decoded in pure Python).
# ---------------------------------------------------------------------------

def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW (MSB-first bit packing, early-change code widening)."""
    out = bytearray()
    CLEAR, EOI = 256, 257
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    width, prev = 9, None
    bitbuf = nbits = pos = 0
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            table = table[:258]
            width, prev = 9, None
            continue
        if code == EOI:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _read_n43():
    """n43.tif: int16, LZW, 4 strips; returns (grid, gt)."""
    import struct

    b = open(autotest_path("gdrivers/data/n43.tif"), "rb").read()
    bo = "<" if b[:2] == b"II" else ">"
    ifd = struct.unpack(bo + "I", b[4:8])[0]
    nt = struct.unpack(bo + "H", b[ifd:ifd + 2])[0]
    tags = {}
    for i in range(nt):
        e = b[ifd + 2 + 12 * i: ifd + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        tags[tag] = (typ, cnt, struct.unpack(bo + "I", e[8:12])[0])
    w, h, rps = tags[256][2], tags[257][2], tags[278][2]
    ns = tags[273][1]
    offs = struct.unpack(bo + f"{ns}I", b[tags[273][2]:tags[273][2] + 4 * ns])
    lens = struct.unpack(bo + f"{ns}I", b[tags[279][2]:tags[279][2] + 4 * ns])
    rows = []
    for si, (o, ln) in enumerate(zip(offs, lens)):
        nrows = min(rps, h - si * rps)
        raw = _tiff_lzw_decode(b[o:o + ln], nrows * w * 2)
        rows.append(np.frombuffer(raw, dtype="<i2").reshape(nrows, w))
    import struct as _s
    sx, sy, _ = _s.unpack(bo + "3d", b[tags[33550][2]:tags[33550][2] + 24])
    tp = _s.unpack(bo + "6d", b[tags[33922][2]:tags[33922][2] + 48])
    gt = (tp[3] - tp[0] * sx, sx, 0.0, tp[4] + tp[1] * sy, 0.0, -sy)
    return np.vstack(rows).astype(np.float64), gt


@pytest.fixture(scope="module")
def n43_windows(spark):
    from gdal_spark.operators.dem import neighbors9

    grid, gt = _read_n43()
    h, w = grid.shape
    dem = spark.createDataFrame(
        [(int(x), int(y), float(grid[y, x]))
         for y in range(h) for x in range(w)],
        "px int, py int, elev double")
    return neighbors9(dem, w, h).persist(), grid.shape, gt


def _dem_grid(rows, shape, col, border=0.0):
    """Interior from the operator rows; borders = the mode's dst
    nodata (0 for hillshade — the MEM band has none set, so
    fDstNoDataValue falls back to 0.0; -9999 for slope/aspect/TRI/
    TPI/roughness, gdaldem_lib.cpp:3901-3963)."""
    g = np.full(shape, border, dtype=np.float64)
    for r in rows:
        g[r["py"], r["px"]] = r[col]
    return g


def test_gdaldem_autotest_hillshade_scaled(spark, n43_windows):
    """test_gdaldem_lib_hillshade scale=111120 zFactor=30 -> checksum
    45587 (the reference's exact z-factor convention: z-free gradient,
    z only in the constants; borders = dst nodata 0)."""
    from gdal_spark.operators.dem import hillshade_cols

    win9, shape, gt = n43_windows
    win = [F.col(f"win{k}") for k in range(9)]
    rows = win9.select("py", "px", hillshade_cols(
        win, z=30.0, ewres=gt[1], nsres=gt[5],
        xscale=111120.0, yscale=111120.0).alias("v")).collect()
    assert gdal_checksum(_as_uint8(_dem_grid(rows, shape, "v"))) == 45587


def test_gdaldem_autotest_tpi_tri_roughness(spark, n43_windows):
    """test_gdaldem_lib_tpi / tri_wilson / tri_riley / roughness:
    checksums 60504 / 61143 / 41233 / 38624 (resolution-free kernels,
    Float32 output, borders = the -9999 dst nodata)."""
    from gdal_spark.operators.dem import tri_tpi_roughness_cols

    win9, shape, _ = n43_windows
    win = [F.col(f"win{k}") for k in range(9)]
    tw, tr, tpi, rough = tri_tpi_roughness_cols(win)
    rows = win9.select("py", "px", tw.alias("tw"), tr.alias("tr"),
                       tpi.alias("tpi"), rough.alias("rg")).collect()
    assert gdal_checksum(_dem_grid(rows, shape, "tpi", -9999.0)) == 60504
    assert gdal_checksum(_dem_grid(rows, shape, "tw", -9999.0)) == 61143
    assert gdal_checksum(_dem_grid(rows, shape, "tr", -9999.0)) == 41233
    assert gdal_checksum(_dem_grid(rows, shape, "rg", -9999.0)) == 38624


def test_gdaldem_autotest_slope_aspect_zt(spark, n43_windows):
    """test_gdaldem_lib_slope_ZevenbergenThorne scale=111120 -> 64393;
    test_gdaldem_lib_aspect_ZevenbergenThorne -> 50539 (aspect is
    scale-invariant for equal x/y scales; flat pixels and borders take
    the -9999 dst nodata)."""
    from gdal_spark.operators.dem import aspect_zt_col, slope_deg_zt_col

    win9, shape, gt = n43_windows
    win = [F.col(f"win{k}") for k in range(9)]
    rows = win9.select(
        "py", "px",
        slope_deg_zt_col(win, ewres=gt[1], nsres=gt[5],
                         xscale=111120.0, yscale=111120.0).alias("sl"),
        F.coalesce(aspect_zt_col(win), F.lit(-9999.0)).alias("asp")
    ).collect()
    assert gdal_checksum(_dem_grid(rows, shape, "sl", -9999.0)) == 64393
    assert gdal_checksum(_dem_grid(rows, shape, "asp", -9999.0)) == 50539


# ---------------------------------------------------------------------------
# Ellipsoidal UTM — autotest/alg/transformgeoloc.py test_transformgeoloc_1
# (the reference transforms a 2x2 WGS84 geolocation array to UTM zone 11
# through PROJ; the expected array IS PROJ's output).
# ---------------------------------------------------------------------------

def test_utm_autotest_transformgeoloc_golden():
    """Our from-scratch Krüger-series transverse Mercator reproduces
    the reference's PROJ-produced UTM coordinates to ~3e-9 m (the
    reference asserts numpy.allclose; we pin 1e-6 m absolute)."""
    from gdal_spark.geo.warp import utm_forward

    cases = [(-117.0, 45.0, 500000.0, 4982950.40022655),
             (-116.0, 45.5, 578126.73752062, 5038982.81207855),
             (-116.5, 44.0, 540087.07398217, 4871994.34702622),
             (-115.5, 44.5, 619246.88515195, 4928503.38229753)]
    for lon, lat, exp_e, exp_n in cases:
        e, n = utm_forward(lon, lat, 11)
        assert abs(e - exp_e) < 1e-6
        assert abs(n - exp_n) < 1e-6


# ---------------------------------------------------------------------------
# Line of sight — autotest/alg/los.py test_los_basic.
# ---------------------------------------------------------------------------

def test_los_autotest_basic(spark):
    """IsLineOfSightVisible over a 2x1 zero raster: above-terrain and
    same-point sight lines are visible (z >= terrain rule), an
    endpoint below terrain is not, and the intersection cell is
    (-1, -1) when visible."""
    from gdal_spark.operators.los import line_of_sight

    dem = spark.createDataFrame([(0, 0, 0.0), (0, 1, 0.0)],
                                "py int, px int, elev double")
    pairs = spark.createDataFrame([
        (0, 0, 0, 1.0, 1, 0, 1.0),     # above terrain -> visible
        (1, 0, 0, 1.0, 0, 0, 1.0),     # same point -> visible
        (2, 0, 0, -1.0, 1, 0, 1.0),    # A below terrain -> blocked
        (3, 0, 0, 1.0, 1, 0, -1.0),    # B below terrain -> blocked
    ], "pair_id int, xa int, ya int, za double, xb int, yb int, zb double")
    rows = {r["pair_id"]: r for r in line_of_sight(pairs, dem).collect()}
    assert rows[0]["visible"] and rows[1]["visible"]
    assert not rows[2]["visible"] and not rows[3]["visible"]
    assert (rows[0]["ix"], rows[0]["iy"]) == (-1, -1)


# ---------------------------------------------------------------------------
# GCPsToHomography / GCPsToGeoTransform — autotest/alg/gcps2homography.py
# goldens (exact coefficient tuples and GCP round-trips).
# ---------------------------------------------------------------------------

def _h_fwd(h, p, l):
    w = h[6] + p * h[7] + l * h[8]
    return ((h[0] + p * h[1] + l * h[2]) / w,
            (h[3] + p * h[4] + l * h[5]) / w)


def test_gcps2h_autotest_exact_and_fallbacks():
    """test_gcps2h_1/4/5/6/7: exact-affine 3-GCP fallback, single-GCP
    failure, 2-GCP axis-aligned special case, and the two 4-corner
    identity orderings."""
    from gdal_spark.operators.gcpwarp import fit_homography

    h = fit_homography([(0, 0, 400000, 370000), (100, 0, 410000, 370000),
                        (100, 200, 410000, 368000)])
    assert h == pytest.approx(
        [400000.0, 100.0, 0.0, 370000.0, 0.0, -10.0, 1.0, 0.0, 0.0],
        abs=1e-6)
    with pytest.raises(ValueError):
        fit_homography([(0, 0, 400000, 370000)])
    h = fit_homography([(0, 0, 400000, 370000), (100, 200, 410000, 368000)])
    assert h == pytest.approx(
        [400000.0, 100.0, 0.0, 370000.0, 0.0, -10.0, 1.0, 0.0, 0.0],
        abs=1e-6)
    for order in ([(400000, 370000, 400000, 370000),
                   (410000, 370000, 410000, 370000),
                   (410000, 368000, 410000, 368000),
                   (400000, 368000, 400000, 368000)],
                  [(400000, 370000, 400000, 370000),
                   (410000, 368000, 410000, 368000),
                   (410000, 370000, 410000, 370000),
                   (400000, 368000, 400000, 368000)]):
        h = fit_homography(order)
        assert h == pytest.approx(
            [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0], abs=1e-6)


def test_gcps2h_autotest_four_point_fits():
    """test_gcps2h_2/3: 4-GCP homographies (slightly noisy affine and a
    genuinely projective set) must round-trip every GCP at 1e-6."""
    from gdal_spark.operators.gcpwarp import fit_homography

    for gcps in ([(0, 0, 400000, 370000), (100, 0, 410000, 370000),
                  (100, 200, 410000, 368000), (0, 200, 400000, 368000.01)],
                 [(0, 0, 400000, 370000), (100, 0, 410000, 370000),
                  (100, 200, 410000, 368000), (0, 200, 400000, 360000)]):
        h = fit_homography(gcps)
        for p, l, x, y in gcps:
            gx, gy = _h_fwd(h, p, l)
            assert gx == pytest.approx(x, rel=1e-6)
            assert gy == pytest.approx(y, rel=1e-6)


def test_gcps2h_autotest_messy_real_world():
    """test_gcps2h_8: the 6-GCP real-world set — the reference pins all
    nine coefficients at 1e-5."""
    from gdal_spark.operators.gcpwarp import fit_homography

    h = fit_homography([
        (0.01, 0.04, -87.05528672907, 39.22759504228),
        (0.01, 2688.02, -86.97079900719, 39.27075713986),
        (4031.99, 2688.04, -87.05960736744, 39.37569137000),
        (1988.16, 1540.80, -87.055069186699924, 39.304963106777514),
        (1477.41, 2400.83, -87.013419295885001, 39.304705030894979),
        (1466.02, 2376.92, -87.013906298363295, 39.304056190007913)])
    expected = [-86.9154734797766, -0.000822802708802448,
                0.0016903358388202546, 39.16439874542655,
                0.00038733423466157704, -0.0007330693484379306,
                0.9983801902671235, 9.207539714141043e-06,
                -1.9069099634950863e-05]
    for got, exp in zip(h, expected):
        assert got == pytest.approx(exp, abs=1e-5)


def test_gcps2h_autotest_hour_glass():
    """test_gcps2h_broken_hour_glass: both crossed-quadrilateral GCP
    sets must be rejected (the unit-square convexity check)."""
    from gdal_spark.operators.gcpwarp import fit_homography

    for gcps in ([(0, 0, 0, 0), (0, 10, 0, 10),
                  (10, 0, 10, 10), (10, 10, 10, 0)],
                 [(0, 0, 0, 0), (0, 10, 10, 10),
                  (10, 0, 10, 0), (10, 10, 0, 10)]):
        with pytest.raises(ValueError):
            fit_homography(gcps)


# ---------------------------------------------------------------------------
# Checksum / median-cut / dither — gcore + alg goldens.
# ---------------------------------------------------------------------------

def test_checksum_autotest_byte_tif():
    """The canonical gcore/data/byte.tif checksum: every reference
    checksum test pins 4672 for this 20x20 image
    (autotest/alg/checksum.py, autotest/gcore/...)."""
    grid = _read_strip_tiff(autotest_path("gcore/data/byte.tif"))
    assert gdal_checksum(grid) == 4672


def _read_rgbsmall():
    """autotest/gdrivers/data/rgbsmall.tif: 50x50x3, DEFLATE, planar
    (one strip per band) — decoded with zlib, no image libs needed."""
    import struct
    import zlib

    b = open(autotest_path("gdrivers/data/rgbsmall.tif"),
             "rb").read()
    bo = "<" if b[:2] == b"II" else ">"
    ifd = struct.unpack(bo + "I", b[4:8])[0]
    n = struct.unpack(bo + "H", b[ifd:ifd + 2])[0]
    tags = {}
    for i in range(n):
        e = b[ifd + 2 + 12 * i: ifd + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        tags[tag] = (typ, cnt, struct.unpack(bo + "I", e[8:12])[0])
    w, h = tags[256][2], tags[257][2]
    assert tags[259][2] == 32946 and tags[284][2] == 2  # deflate, planar
    offs = struct.unpack(bo + "3I", b[tags[273][2]:tags[273][2] + 12])
    lens = struct.unpack(bo + "3I", b[tags[279][2]:tags[279][2] + 12])
    bands = [np.frombuffer(zlib.decompress(b[o:o + ln]),
                           dtype=np.uint8).reshape(h, w).astype(np.int64)
             for o, ln in zip(offs, lens)]
    return bands


def test_dither_autotest_rgbsmall(spark):
    """autotest/alg/dither.py test_dither_1: ComputeMedianCutPCT to 8
    colors + DitherRGB2PCT over rgbsmall.tif -> checksum 8803. Run as
    ONE strip (the whole image) so the serial error-diffusion order is
    exact; exercises the median-cut box splitting AND the diffusion
    kernel end-to-end against the reference golden."""
    from gdal_spark.operators.dither import dither_rgb_to_pct
    from gdal_spark.operators.mediancut import compute_median_cut_pct

    r, g, bl = _read_rgbsmall()
    h, w = r.shape
    rgb = spark.createDataFrame(
        [(int(x), int(y), int(r[y, x]), int(g[y, x]), int(bl[y, x]))
         for y in range(h) for x in range(w)],
        "px int, py int, r int, g int, b int")
    _, palette = compute_median_cut_pct(rgb, 8)
    assert len(palette) == 8
    pal = [(p[1], p[2], p[3]) for p in palette]
    out = dither_rgb_to_pct(rgb, pal, h, w).collect()
    grid = np.zeros((h, w), dtype=np.int64)
    for row in out:
        grid[row["py"], row["px"]] = row["color_id"]
    assert gdal_checksum(grid) == 8803


# ---------------------------------------------------------------------------
# Contour — autotest/alg/contour.py test_contour_1/2 (the concentric-
# squares DEM; per-level envelopes within precision/2).
# ---------------------------------------------------------------------------

def _contour_dem():
    """The reference's synthetic DEM (autotest/alg/contour.py:30-75):
    size 160, fill 1, nested squares of 10 / 20 / 25."""
    size = 160
    g = np.ones((size, size), dtype=np.float64)
    q = size // 4
    g[q:q + size // 2, q:q + size // 2] = 10
    o = q + size // 8
    g[o:o + q, o:o + q] = 20
    o2 = o + size // 16
    g[o2:o2 + size // 8, o2:o2 + size // 8] = 25
    return g


@pytest.mark.parametrize("level,env", [
    # gt = [1, 1/160, 0, 50, 0, -1/160]; envelopes from test_contour_1
    # (interval 10) and test_contour_2 (fixed levels; adds 25)
    (10.0, (1.25, 1.75, 49.25, 49.75)),
    (20.0, (1.25 + 0.125, 1.75 - 0.125, 49.25 + 0.125, 49.75 - 0.125)),
    (25.0, (1.25 + 0.1875, 1.75 - 0.1875, 49.25 + 0.1875, 49.75 - 0.1875)),
])
def test_contour_autotest_envelopes(spark, level, env):
    """Each contour level's line work must form closed loops and match
    the reference's envelope within precision/2 (the reference's own
    tolerance), in world coordinates via the pixel-center transform."""
    from gdal_spark.queries import marching_segments

    size, p = 160, 1.0 / 160
    g = _contour_dem()
    burn = spark.createDataFrame(
        [(y, x, float(g[y, x])) for y in range(size) for x in range(size)],
        "py long, px long, burn double")
    segs = marching_segments(spark, burn, size, size, level).collect()
    assert segs, "no contour emitted"
    # closed loops: every endpoint is shared by exactly two segments
    from collections import Counter
    ends = Counter()
    for r in segs:
        ends[(round(r["x1"], 9), round(r["y1"], 9))] += 1
        ends[(round(r["x2"], 9), round(r["y2"], 9))] += 1
    assert set(ends.values()) == {2}
    xs = [v for r in segs for v in (r["x1"], r["x2"])]
    ys = [v for r in segs for v in (r["y1"], r["y2"])]
    # pixel-center -> world: x_w = 1 + (px + 0.5) * p, y_w = 50 - (py + 0.5) * p
    xmin, xmax = 1 + (min(xs) + 0.5) * p, 1 + (max(xs) + 0.5) * p
    ymin, ymax = 50 - (max(ys) + 0.5) * p, 50 - (min(ys) + 0.5) * p
    tol = p / 2 * 1.001
    assert xmin == pytest.approx(env[0], abs=tol)
    assert xmax == pytest.approx(env[1], abs=tol)
    assert ymin == pytest.approx(env[2], abs=tol)
    assert ymax == pytest.approx(env[3], abs=tol)


# ---------------------------------------------------------------------------
# FillNodata — autotest/alg/fillnodata.py parameterized goldens
# (exact expected arrays from the reference test, Byte output).
# ---------------------------------------------------------------------------

def _fill(spark, grid, maxdist, nodata, option_nodata=None,
          smoothing=0, nearest=False, valid_mask=None):
    """gdal.FillNodata call-shape over our operator: mask = band
    nodata (or a user mask), NODATA option = post-selection source
    exclusion, optional 3x3 smoothing passes on filled pixels."""
    from gdal_spark.operators.fillnodata import (fillnodata,
                                                 fillnodata_nearest,
                                                 smooth3x3)

    h, w = grid.shape
    if valid_mask is None:
        valid_mask = grid != nodata
    rows = [(int(y), int(x), float(grid[y, x]), bool(valid_mask[y, x]))
            for y in range(h) for x in range(w)]
    df = spark.createDataFrame(rows, "py long, px long, val double, "
                                     "valid boolean")
    fn = fillnodata_nearest if nearest else fillnodata
    filled = fn(df, maxdist, exclude_value=option_nodata, width=w)
    res = grid.astype(np.float64)
    fmask = np.zeros((h, w), dtype=bool)
    for r in filled.collect():
        res[r["py"], r["px"]] = r["fill"]
        fmask[r["py"], r["px"]] = True
    if smoothing:
        t = spark.createDataFrame(
            [(int(y), int(x), float(res[y, x]),
              bool(valid_mask[y, x] or fmask[y, x]), bool(fmask[y, x]))
             for y in range(h) for x in range(w)],
            "py long, px long, val double, tmask boolean, fmask boolean")
        for r in smooth3x3(t, smoothing, height=h).collect():
            res[r["py"], r["px"]] = r["val"]
    return res


FILLNODATA_CASES = [
    # (input, maxdist, nodata, option_nodata, expected, smoothing)
    ([[1]], 1, 0, None, [[1]], 0),
    ([[0]], 1, 0, None, [[0]], 0),
    ([[1, 0]], 1, 0, None, [[1, 1]], 0),
    ([[0, 1]], 1, 0, None, [[1, 1]], 0),
    ([[2, 0, 4]], 1, 0, None, [[2, 3, 4]], 0),
    ([[2, 0, 0, 4]], 1, 0, None, [[2, 2, 4, 4]], 0),
    ([[1], [0]], 1, 0, None, [[1], [1]], 0),
    ([[0], [1]], 1, 0, None, [[1], [1]], 0),
    ([[2], [0], [4]], 1, 0, None, [[2], [3], [4]], 0),
    ([[2], [0], [0], [4]], 1, 0, None, [[2], [2], [4], [4]], 0),
    ([[2, 0, 4], [4, 0, 6], [6, 0, 8]], 1, 0, None,
     [[2, 3, 4], [4, 5, 6], [6, 7, 8]], 0),
    ([[2, 3, 4], [0, 0, 0], [6, 7, 8]], 1, 0, None,
     [[2, 3, 4], [4, 5, 6], [6, 7, 8]], 0),
    ([[2, 0, 4], [0, 0, 0], [6, 0, 8]], 1, 0, None,
     [[2, 3, 4], [4, 0, 6], [6, 7, 8]], 0),
    # 1.5 > sqrt(2): diagonals reach the center
    ([[2, 0, 4], [0, 0, 0], [6, 0, 8]], 1.5, 0, None,
     [[2, 3, 4], [4, 5, 6], [6, 7, 8]], 0),
    # NODATA=30 excluded post-selection: TL winner 30 contributes no
    # weight, fill = (80 + 60) / 2
    ([[20, 30, 40], [50, 1, 60], [70, 80, 90]], 1, 1, 30,
     [[20, 30, 40], [50, 70, 60], [70, 80, 90]], 0),
    ([[20, 30, 40, 50], [30, 0, 0, 60], [40, 0, 0, 70],
      [50, 60, 70, 80]], 1, 0, None,
     [[20, 30, 40, 50], [30, 30, 50, 60], [40, 50, 70, 70],
      [50, 60, 70, 80]], 0),
    ([[20, 30, 40, 50], [30, 0, 0, 60], [40, 0, 0, 70],
      [50, 60, 70, 80]], 1, 0, None,
     [[20, 30, 40, 50], [30, 40, 50, 60], [40, 50, 60, 70],
      [50, 60, 70, 80]], 1),
]


@pytest.mark.parametrize("case", range(len(FILLNODATA_CASES)))
def test_fillnodata_autotest(spark, case):
    """autotest/alg/fillnodata.py fillnodata_tests: every parameterized
    golden (4-quadrant IDW, fractional maxdist, NODATA source
    exclusion, one smoothing pass), Byte round-trip."""
    inp, maxdist, nodata, opt, expected, smoothing = FILLNODATA_CASES[case]
    res = _fill(spark, np.array(inp, dtype=np.int64), maxdist, nodata,
                option_nodata=opt, smoothing=smoothing)
    np.testing.assert_array_equal(_as_uint8(res), np.array(expected))


FILLNODATA_NEAREST_CASES = [
    ([[20, 30, 40], [50, 0, 60], [70, 80, 90]], 1, 0, None,
     [[20, 30, 40], [50, 30, 60], [70, 80, 90]]),
    # excluded TL winner never updates the running nearest -> BL's 80
    ([[20, 30, 40], [50, 1, 60], [70, 80, 90]], 1, 1, 30,
     [[20, 30, 40], [50, 80, 60], [70, 80, 90]]),
    ([[20, 30, 40], [50, 0, 60], [70, 80, 90]], 0.9, 0, None,
     [[20, 30, 40], [50, 0, 60], [70, 80, 90]]),
    ([[20, 30, 40, 50], [60, 0, 0, 70], [80, 0, 0, 90],
      [91, 92, 93, 94]], 1, 0, None,
     [[20, 30, 40, 50], [60, 30, 40, 70], [80, 80, 93, 90],
      [91, 92, 93, 94]]),
    ([[20, 30, 40, 50], [60, 0, 0, 70], [80, 0, 0, 90],
      [91, 92, 93, 94]], 0.9, 0, None,
     [[20, 30, 40, 50], [60, 0, 0, 70], [80, 0, 0, 90],
      [91, 92, 93, 94]]),
]


@pytest.mark.parametrize("case", range(len(FILLNODATA_NEAREST_CASES)))
def test_fillnodata_nearest_autotest(spark, case):
    """autotest/alg/fillnodata.py fillnodata_nearest_tests:
    INTERPOLATION=NEAREST goldens (nearest quadrant winner, quadrant
    order tie-break, NODATA exclusion)."""
    inp, maxdist, nodata, opt, expected = FILLNODATA_NEAREST_CASES[case]
    res = _fill(spark, np.array(inp, dtype=np.int64), maxdist, nodata,
                option_nodata=opt, nearest=True)
    np.testing.assert_array_equal(_as_uint8(res), np.array(expected))


# ---------------------------------------------------------------------------
# Polygonize — autotest/alg/polygonize.py goldens (feature counts, DN
# value multisets, and exact ring geometry where the reference pins WKT).
# ---------------------------------------------------------------------------

# autotest/alg/data/polygonize_in.grd (same grid as sieve_src, nodata 132)
POLYGONIZE_IN = SIEVE_SRC
POLYGONIZE_GT = (440720.0, 60.0, 0.0, 3751440.0, 0.0, -60.0)

# autotest/alg/data/polygonize_in_3.grd: two holes touching at a vertex
POLYGONIZE_IN_3 = """
1 1 1 1
1 0 1 1
1 1 0 1
1 1 1 1
"""


def _polygonize_features(spark, grid, nodata=None, connect8=False):
    """grid -> [(DN, rings-in-pixel-corner-coords)] via our distributed
    polygonize + per-component ring tracing."""
    from gdal_spark.operators.polygonize import (_trace_component,
                                                 polygonize)

    h, w = grid.shape
    rows = [(int(y), int(x), int(grid[y, x]))
            for y in range(h) for x in range(w)
            if nodata is None or grid[y, x] != nodata]
    df = spark.createDataFrame(rows, "py long, px long, v long")
    labels = polygonize(df, w, tile=4, value_col="v",
                        connect8=connect8).toPandas()
    feats = []
    for _, grp in labels.groupby("label"):
        cells = set(zip(grp["py"].astype(int), grp["px"].astype(int)))
        _, _, _, rings = _trace_component(cells)
        feats.append((int(grp["v"].iloc[0]), rings))
    return feats


def _canon_ring(ring):
    """Vertex cycle canonicalized over rotation and direction."""
    n = len(ring)
    best = None
    for seq in (list(ring), list(ring)[::-1]):
        for r in range(n):
            rot = tuple(seq[r:] + seq[:r])
            if best is None or rot < best:
                best = rot
    return best


def _canon_rings_world(rings, gt):
    return sorted(_canon_ring([(gt[0] + x * gt[1], gt[3] + y * gt[5])
                               for x, y in ring]) for ring in rings)


def _parse_wkt_polygon(wkt):
    import re

    rings = []
    for ring_txt in re.findall(r"\(([^()]+)\)", wkt):
        pts = [tuple(float(t) for t in pair.split())
               for pair in ring_txt.split(",")]
        assert pts[0] == pts[-1]
        rings.append(pts[:-1])
    return sorted(_canon_ring(r) for r in rings)


def test_polygonize_autotest_1_masked(spark):
    """autotest/alg/polygonize.py test_polygonize_1: nodata 132 masked,
    4-connected: 13 features, the reference's DN multiset, and the
    DN=156 feature's exact donut geometry (outer + hole), compared as
    canonical vertex cycles (start/orientation-free)."""
    feats = _polygonize_features(spark, _grid(POLYGONIZE_IN), nodata=132)
    assert len(feats) == 13
    assert sorted(dn for dn, _ in feats) == sorted(
        [107, 123, 115, 115, 140, 148, 123, 140, 100, 101, 102, 156, 103])
    ring156 = [rings for dn, rings in feats if dn == 156]
    assert len(ring156) == 1
    got = _canon_rings_world(ring156[0], POLYGONIZE_GT)
    expected = _parse_wkt_polygon(
        "POLYGON ((440720 3751200,440720 3751020,440900 3751020,"
        "440900 3751200,440720 3751200),(440780 3751140,440840 3751140,"
        "440840 3751080,440780 3751080,440780 3751140))")
    assert got == expected


def test_polygonize_autotest_2_unmasked(spark):
    """test_polygonize_2: without the mask the nodata value is an
    ordinary class: 17 features, four of them DN=132."""
    feats = _polygonize_features(spark, _grid(POLYGONIZE_IN))
    assert len(feats) == 17
    assert sorted(dn for dn, _ in feats) == sorted(
        [107, 123, 115, 132, 115, 140, 132, 132, 148, 123, 140, 132,
         100, 101, 102, 156, 103])


def test_polygonize_autotest_4_eight_connected(spark):
    """test_polygonize_4: 8CONNECTED=8 merges one diagonal pair:
    16 features with the reference's DN multiset."""
    feats = _polygonize_features(spark, _grid(POLYGONIZE_IN),
                                 connect8=True)
    assert len(feats) == 16
    assert sorted(dn for dn, _ in feats) == sorted(
        [107, 123, 115, 132, 115, 140, 132, 148, 123, 140, 132,
         100, 101, 102, 156, 103])


def test_polygonize_autotest_5_touching_holes(spark):
    """test_polygonize_5: two single-pixel holes touching at a corner —
    the pinch-point case. The reference pins all three WKTs; the outer
    polygon's two holes must stay SEPARATE rings that meet at (2,2)."""
    feats = _polygonize_features(spark, _grid(POLYGONIZE_IN_3))
    assert len(feats) == 3
    assert sorted(dn for dn, _ in feats) == [0, 0, 1]
    gt = (0.0, 1.0, 0.0, 4.0, 0.0, -1.0)
    singles = sorted(_canon_rings_world(rings, gt)[0]
                     for dn, rings in feats if dn == 0)
    expected_singles = sorted([
        _parse_wkt_polygon("POLYGON ((1 3,1 2,2 2,2 3,1 3))")[0],
        _parse_wkt_polygon("POLYGON ((2 2,2 1,3 1,3 2,2 2))")[0]])
    assert singles == expected_singles
    outer = [rings for dn, rings in feats if dn == 1][0]
    got = _canon_rings_world(outer, gt)
    expected = _parse_wkt_polygon(
        "POLYGON ((0 4,0 0,4 0,4 4,0 4),(1 3,2 3,2 2,1 2,1 3),"
        "(2 2,3 2,3 1,2 1,2 2))")
    assert got == expected
    # the distributed tracer applies the identical corner rule: the
    # DN=1 component must report THREE rings (outer + two holes)
    from gdal_spark.operators.polygonize import (polygonize,
                                                 trace_rings_distributed)
    g = _grid(POLYGONIZE_IN_3)
    df = spark.createDataFrame(
        [(int(y), int(x), int(g[y, x])) for y in range(4) for x in range(4)],
        "py long, px long, v long")
    labels = polygonize(df, 4, tile=4, value_col="v")
    rings_by_label = {r["label"]: r["n_rings"]
                      for r in trace_rings_distributed(labels, 4).collect()}
    assert sorted(rings_by_label.values()) == [1, 1, 3]


def test_polygonize_autotest_3_complex(spark):
    """test_polygonize_3: the 36x42 'complex looping' fixture — 125
    features, and the DN=0 feature's exact 3-ring geometry (outer with
    two multi-vertex holes)."""
    grid = _read_aaigrid(
        autotest_path("alg/data/polygonize_in_2.grd"))
    feats = _polygonize_features(spark, grid)
    assert len(feats) == 125
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    zero_multi = [rings for dn, rings in feats
                  if dn == 0 and len(rings) == 3]
    expected = _parse_wkt_polygon(
        "POLYGON ((6 -3,6 -40,19 -40,19 -39,25 -39,25 -38,27 -38,27 -37,"
        "28 -37,28 -36,29 -36,29 -35,30 -35,30 -34,31 -34,31 -25,30 -25,"
        "30 -24,29 -24,29 -23,28 -23,28 -22,27 -22,27 -21,24 -21,24 -20,"
        "23 -20,23 -19,26 -19,26 -18,27 -18,27 -17,28 -17,28 -16,29 -16,"
        "29 -8,28 -8,28 -7,27 -7,27 -6,26 -6,26 -5,24 -5,24 -4,18 -4,"
        "18 -3,6 -3),(11 -7,23 -7,23 -8,24 -8,24 -9,25 -9,25 -16,24 -16,"
        "24 -17,23 -17,23 -18,11 -18,11 -7),(11 -22,24 -22,24 -23,26 -23,"
        "26 -25,27 -25,27 -33,26 -33,26 -35,24 -35,24 -36,11 -36,11 -22))")
    assert any(_canon_rings_world(rings, gt) == expected
               for rings in zero_multi)


def _read_aaigrid(path):
    """Minimal Arc/Info ASCII grid reader for the reference fixtures."""
    vals, meta = [], {}
    for line in open(path):
        parts = line.split()
        if not parts:
            continue
        if parts[0].isalpha() or parts[0].startswith(("x", "y", "n", "N", "c")):
            try:
                float(parts[1])
                meta[parts[0].lower()] = parts[1]
                continue
            except (ValueError, IndexError):
                pass
        vals.append([int(float(t)) for t in parts])
    g = np.array(vals, dtype=np.int64)
    assert g.shape == (int(meta["nrows"]), int(meta["ncols"]))
    return g


# ---------------------------------------------------------------------------
# Rasterize — autotest/alg/rasterize.py goldens (exact expected arrays).
# ---------------------------------------------------------------------------

# test_rasterize_merge_alg_add_multiple_segment_linestring fixtures
# (issue #1307): two linestring features on a 10x10 grid,
# gt = (0, 20, 0, 100, 0, -10), burn 1, MERGE_ALG=ADD.
ADD_LINES_EDGES = [
    # (zone_fid, ring_id, edge, x1, y1, x2, y2) — world coords
    (1, 0, 0, 0.5, 0.5, 100.5, 50.5),
    (1, 0, 1, 100.5, 50.5, 199.5, 99.5),
    (2, 0, 0, 30.5, 40.5, 30.5, 70.5),
    (2, 0, 1, 30.5, 70.5, 50.5, 70.5),
]
ADD_LINES_GT = (0.0, 20.0, 0.0, 100.0, 0.0, -10.0)

ADD_LINES_EXPECTED_DDA = """
0 0 0 0 0 0 0 0 0 1
0 0 0 0 0 0 0 0 1 0
0 1 1 0 0 0 0 1 0 0
0 1 0 0 0 0 1 0 0 0
0 1 0 0 0 1 0 0 0 0
0 1 0 0 1 0 0 0 0 0
0 0 0 1 0 0 0 0 0 0
0 0 1 0 0 0 0 0 0 0
0 1 0 0 0 0 0 0 0 0
1 0 0 0 0 0 0 0 0 0
"""

ADD_LINES_EXPECTED_ALL_TOUCHED = """
0 0 0 0 0 0 0 0 0 1
0 0 0 0 0 0 0 0 1 1
0 1 1 0 0 0 1 1 1 0
0 1 0 0 0 1 1 0 0 0
0 1 0 0 1 1 0 0 0 0
0 1 0 1 1 0 0 0 0 0
0 0 1 1 0 0 0 0 0 0
0 1 1 0 0 0 0 0 0 0
1 1 0 0 0 0 0 0 0 0
1 0 0 0 0 0 0 0 0 0
"""


def _burn_grid(rows, h, w):
    g = np.zeros((h, w), dtype=np.int64)
    for r in rows:
        g[r["py"], r["px"]] = int(r["burn"])
    return g


def test_rasterize_autotest_add_linestring_dda(spark):
    """autotest/alg/rasterize.py
    test_rasterize_merge_alg_add_multiple_segment_linestring, plain
    DDA: a pixel shared by several segments of ONE feature (every
    interior vertex) burns once; distinct features add."""
    from gdal_spark.operators.rasterize import burn_lines

    edges = spark.createDataFrame(
        ADD_LINES_EDGES, "zone_fid int, ring_id int, edge int, "
                         "x1 double, y1 double, x2 double, y2 double")
    got = _burn_grid(burn_lines(edges, ADD_LINES_GT, 10, 10).collect(),
                     10, 10)
    np.testing.assert_array_equal(got, _grid(ADD_LINES_EXPECTED_DDA))


def test_rasterize_autotest_add_linestring_all_touched(spark):
    """Same fixture, ALL_TOUCHED variant (second assertion of the
    reference test)."""
    from gdal_spark.operators.rasterize import burn_lines_all_touched

    edges = spark.createDataFrame(
        ADD_LINES_EDGES, "zone_fid int, ring_id int, edge int, "
                         "x1 double, y1 double, x2 double, y2 double")
    got = _burn_grid(
        burn_lines_all_touched(edges, ADD_LINES_GT, 10, 10).collect(),
        10, 10)
    np.testing.assert_array_equal(got,
                                  _grid(ADD_LINES_EXPECTED_ALL_TOUCHED))


@pytest.mark.parametrize("wkt_ring", [
    [(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)],     # clockwise
    [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)],     # counterclockwise
], ids=["clockwise", "counterclockwise"])
def test_rasterize_autotest_add_polygon_windings(spark, wkt_ring):
    """autotest/alg/rasterize.py test_rasterize_merge_alg_add_polygon:
    the unit square at burn 10 with MERGE_ALG=ADD stays 10 everywhere
    (the scanline's horizontal-edge runs must not redraw the top/bottom
    rows), independent of winding order."""
    from gdal_spark.operators.rasterize import rasterize_polygon_grid

    gt = (-0.125, 0.25, 0.0, 1.125, 0.0, -0.25)
    got = rasterize_polygon_grid([wkt_ring], gt, 5, 5, burn=10.0,
                                 merge_add=True).astype(np.int64)
    expected = np.zeros((5, 5), dtype=np.int64)
    expected[:, 1:5] = 10
    np.testing.assert_array_equal(got, expected)


def test_rasterize_autotest_all_touched_7523(spark):
    """autotest/alg/rasterize.py test_rasterize_all_touched_issue_7523:
    sliver triangle on a 3x5 grid — ALL_TOUCHED boundary burn plus
    scanline interior, exact expected array."""
    from gdal_spark.operators.rasterize import (burn_lines_all_touched,
                                                rasterize_polygon_grid)

    gt = (475435.0, 5.0, 0.0, 424145.0, 0.0, -5.0)
    ring = [(475439.996613325, 424122.228740036),
            (475439.996613325, 424142.201761073),
            (475446.914301362, 424124.133743847),
            (475439.996613325, 424122.228740036)]
    edges = spark.createDataFrame(
        [(1, 0, i, *ring[i], *ring[i + 1]) for i in range(3)],
        "zone_fid int, ring_id int, edge int, "
        "x1 double, y1 double, x2 double, y2 double")
    touched = _burn_grid(
        burn_lines_all_touched(edges, gt, 3, 5).collect(), 5, 3)
    interior = rasterize_polygon_grid([ring], gt, 3, 5).astype(np.int64)
    got = ((touched > 0) | (interior > 0)).astype(np.int64)
    expected = np.array([[1, 1, 0],
                         [1, 1, 0],
                         [1, 1, 0],
                         [1, 1, 1],
                         [1, 1, 1]])
    np.testing.assert_array_equal(got, expected)


def test_fillnodata_autotest_mask_smoothing(spark):
    """autotest/alg/fillnodata.py
    test_fillnodata_user_provided_mask_with_smoothing: 5x5 Float32
    with only the two opposite corners valid, maxdist 100, TEN
    smoothing iterations; the reference pins the full float array
    (asserted at 1e-5, its own tolerance — the reference accumulates
    in float32, we stay float64)."""
    grid = np.zeros((5, 5), dtype=np.float64)
    grid[0, 0] = 5.0
    grid[4, 4] = 10.0
    valid = np.zeros((5, 5), dtype=bool)
    valid[0, 0] = True
    valid[4, 4] = True
    res = _fill(spark, grid, 100, nodata=0, smoothing=10,
                valid_mask=valid)
    expected = np.array([
        5.0, 5.833333492279053, 6.5450849533081055, 7.105823040008545,
        8.333333015441895, 6.325798988342285, 6.566854476928711,
        7.038447856903076, 7.557196140289307, 7.811311721801758,
        7.0352678298950195, 7.2065935134887695, 7.561786651611328,
        7.926154613494873, 8.114609718322754, 7.453090190887451,
        7.642454147338867, 8.04526424407959, 8.50459098815918,
        8.746294975280762, 7.5, 7.894176959991455, 8.454915046691895,
        9.166666984558105, 10.0]).reshape(5, 5)
    np.testing.assert_allclose(res, expected, rtol=1e-5)
