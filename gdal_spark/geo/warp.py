"""Warp — suggested-output-envelope math and reprojection helpers for
EPSG:4326 ↔ EPSG:3857 (closed-form spherical Mercator; the sandbox has
no PROJ, and the north-star transform pair is exactly this one).

Envelope rule (GDALSuggestedWarpOutput2, alg/gdaltransformer.cpp:342-
1170, reimplemented from the documented semantics — no code copied):

- sample ``nSteps + 1`` points along each of the 4 raster edges, with
  ``nSteps = clamp(min(W, H) / 50, 20, 100)`` (:451-454) — for our
  small grids always 20 → 21 points/edge;
- transform, take min/max X/Y (the round-trip verification and
  anti-meridian bisection of :189-239/:740-810 are no-ops for this
  smooth closed-form transform pair — documented simplification);
- ``pixel_size = dist(T(0,0), T(W,H)) / sqrt(W² + H²)`` (:1077-1100);
- ``width = floor((maxX-minX)/pixel_size + 0.5)`` (round-half-up, the
  C rounding at :1110-1116), same for height, min 1;
- per-axis stretched sizes ``psx/psy`` so the grid covers the extent
  exactly (the reference stretches its single ps; per-axis is our
  documented variant).

Float discipline: scalar math via the ``math`` module (C libm — the
same functions DuckDB calls), op-ordered identically to the SQL twins
in queries.py (o_warp_envelope / the resample expressions), so the
driver's hash-compare is exact.
"""

from __future__ import annotations

import math

OS = math.pi * 6378137  # originShift numerator (gdal2tiles.py:420)


def fwd_3857(lon: float, lat: float) -> tuple[float, float]:
    """EPSG:4326 → EPSG:3857, op-ordered like sqlexpr.tile_sql."""
    mx = (lon * OS) / 180.0
    my = (math.log(math.tan((90.0 + lat) * math.pi / 360.0))
          / (math.pi / 180.0)) * OS / 180.0
    return mx, my


def inv_3857(mx: float, my: float) -> tuple[float, float]:
    """EPSG:3857 → EPSG:4326 (inverse of fwd_3857, same op order as the
    SQL twin in queries.o_warp_resample)."""
    lon = (mx * 180.0) / OS
    lat = (math.atan(math.exp((my * math.pi) / OS)) * 360.0) / math.pi - 90.0
    return lon, lat


# --- Ellipsoidal transverse Mercator (WGS84 UTM), Krüger series ------
# The container has no PROJ (documented); this is the published
# Krüger/Karney alpha-series forward ("Transverse Mercator with an
# accuracy of a few nanometers", Karney 2011, eqs. 7-11 / 35), the
# projection PROJ's tmerc/utm uses (ogr/ogrct.cpp delegates to PROJ;
# parity pinned against autotest/alg/transformgeoloc.py's expected UTM
# zone 11 coordinates in tests/test_autotest_parity.py). Six series
# terms: sub-millimeter inside the zone, vastly inside the reference
# test's tolerance.

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_UTM_K0 = 0.9996


def _kruger_consts():
    n = _WGS84_F / (2.0 - _WGS84_F)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    big_a = _WGS84_A / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    alpha = [
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180
        - 127 * n5 / 288 + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
        - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
        + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400,
    ]
    return n, big_a, alpha


def _kruger_consts_gen(a: float, f: float):
    """Karney series constants for an arbitrary ellipsoid (a, f) —
    the generalization that lets a .prj-declared datum (e.g. Airy
    1830 for OSGB 1936) drive the same projection kernel. Includes
    the beta (inverse) series, Karney 2011 eq. 21/22."""
    n = f / (2.0 - f)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    big_a = a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    alpha = [
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180
        - 127 * n5 / 288 + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
        - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
        + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400,
    ]
    beta = [
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360
        - 81 * n5 / 512 + 96199 * n6 / 604800,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105
        - 1118711 * n6 / 3870720,
        17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480
        + 5569 * n6 / 90720,
        4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
        4583 * n5 / 161280 - 108847 * n6 / 3991680,
        20648693 * n6 / 638668800,
    ]
    return n, big_a, alpha, beta


def tm_forward_gen(lon: float, lat: float, p: dict) -> tuple:
    """Generalized transverse Mercator forward with .prj parameters
    p = {a, f, lat0, lon0, k0, fe, fn} (degrees for lat0/lon0)."""
    n, big_a, alpha, _ = _kruger_consts_gen(p["a"], p["f"])
    e2n = 2.0 * math.sqrt(n) / (1.0 + n)

    def _xi_eta(phi, lam):
        sphi = math.sin(phi)
        t = math.sinh(math.atanh(sphi) - e2n * math.atanh(e2n * sphi))
        xi_p = math.atan2(t, math.cos(lam))
        eta_p = math.atanh(math.sin(lam) / math.sqrt(1.0 + t * t))
        xi, eta = xi_p, eta_p
        for j, a_ in enumerate(alpha, start=1):
            xi += a_ * math.sin(2 * j * xi_p) * math.cosh(2 * j * eta_p)
            eta += a_ * math.cos(2 * j * xi_p) * math.sinh(2 * j * eta_p)
        return xi, eta

    xi, eta = _xi_eta(math.radians(lat),
                      math.radians(lon - p["lon0"]))
    # the false northing is measured from the projection of lat0
    xi0, _ = _xi_eta(math.radians(p["lat0"]), 0.0)
    return (p["fe"] + p["k0"] * big_a * eta,
            p["fn"] + p["k0"] * big_a * (xi - xi0))


def tm_inverse_gen(x: float, y: float, p: dict) -> tuple:
    """Generalized transverse Mercator inverse (Karney beta series)
    → (lon, lat) degrees on the .prj's own datum (no datum shift —
    the reference delegates Helmert steps to PROJ pipelines, out of
    scope per SURVEY §7.5)."""
    n, big_a, alpha, beta = _kruger_consts_gen(p["a"], p["f"])
    e2n = 2.0 * math.sqrt(n) / (1.0 + n)
    # northing origin offset of lat0 (same series as forward)
    phi0 = math.radians(p["lat0"])
    sphi0 = math.sin(phi0)
    t0 = math.sinh(math.atanh(sphi0)
                   - e2n * math.atanh(e2n * sphi0))
    xi0_p = math.atan2(t0, 1.0)
    xi0 = xi0_p
    for j, a_ in enumerate(alpha, start=1):
        xi0 += a_ * math.sin(2 * j * xi0_p)
    xi = (y - p["fn"]) / (p["k0"] * big_a) + xi0
    eta = (x - p["fe"]) / (p["k0"] * big_a)
    xi_p, eta_p = xi, eta
    for j, b_ in enumerate(beta, start=1):
        xi_p -= b_ * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
        eta_p -= b_ * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
    t = math.sinh(eta_p)
    chi = math.atan2(math.sin(xi_p),
                     math.hypot(t, math.cos(xi_p)))
    # conformal -> geographic latitude: Newton on tau' (Karney 19-20)
    tau_p = math.tan(chi)
    tau = tau_p
    for _ in range(6):
        s = math.sinh(e2n * math.atanh(
            e2n * tau / math.hypot(1.0, tau)))
        tau_i = tau * math.hypot(1.0, s) - s * math.hypot(1.0, tau)
        dtau = ((tau_p - tau_i) / math.hypot(1.0, tau_i)
                * (1.0 + (1.0 - e2n * e2n) * tau * tau)
                / ((1.0 - e2n * e2n) * math.hypot(1.0, tau)))
        tau += dtau
        if abs(dtau) < 1e-16:
            break
    phi = math.atan(tau)
    lam = math.atan2(math.sinh(eta_p), math.cos(xi_p))
    return (p["lon0"] + math.degrees(lam), math.degrees(phi))


def parse_prj_wkt(text: str) -> dict:
    """Minimal ESRI .prj (WKT1) parameter extraction for
    Transverse_Mercator PROJCS — name, spheroid, and the five
    projection parameters (the shapefile sidecar's contract;
    ogr/ogrspatialref.cpp importFromESRI analog). Any other PROJECTION
    raises ValueError."""
    import re as _re

    def _param(name, default=0.0):
        m = _re.search(rf'PARAMETER\["{name}",([-0-9.eE+]+)\]', text,
                       _re.I)
        return float(m.group(1)) if m else default

    proj = _re.search(r'PROJECTION\["([^"]+)"', text)
    if not proj or proj.group(1) != "Transverse_Mercator":
        raise ValueError("not a Transverse_Mercator .prj: "
                         f"{proj.group(1) if proj else 'no PROJECTION'}")
    m = _re.search(r'SPHEROID\["([^"]+)",([-0-9.eE+]+),([-0-9.eE+]+)',
                   text)
    name = _re.match(r'PROJCS\["([^"]+)"', text)
    # inverse flattening 0 is WKT's marker for a sphere (f = 0)
    rf = float(m.group(3)) if m else None
    return {
        "name": name.group(1) if name else None,
        "spheroid": m.group(1) if m else None,
        "a": float(m.group(2)) if m else None,
        "f": (1.0 / rf if rf else 0.0) if m else None,
        "lat0": _param("latitude_of_origin"),
        "lon0": _param("central_meridian"),
        "k0": _param("scale_factor", 1.0),
        "fe": _param("false_easting"),
        "fn": _param("false_northing"),
    }


def utm_forward(lon: float, lat: float, zone: int,
                north: bool = True) -> tuple[float, float]:
    """WGS84 geographic -> UTM zone easting/northing (meters)."""
    n, big_a, alpha = _kruger_consts()
    lam0 = math.radians(zone * 6 - 183)
    phi = math.radians(lat)
    lam = math.radians(lon) - lam0
    sphi = math.sin(phi)
    e2n = 2.0 * math.sqrt(n) / (1.0 + n)
    t = math.sinh(math.atanh(sphi) - e2n * math.atanh(e2n * sphi))
    xi_p = math.atan2(t, math.cos(lam))
    eta_p = math.atanh(math.sin(lam) / math.sqrt(1.0 + t * t))
    xi, eta = xi_p, eta_p
    for j, a in enumerate(alpha, start=1):
        xi += a * math.sin(2 * j * xi_p) * math.cosh(2 * j * eta_p)
        eta += a * math.cos(2 * j * xi_p) * math.sinh(2 * j * eta_p)
    easting = 500000.0 + _UTM_K0 * big_a * eta
    northing = _UTM_K0 * big_a * xi + (0.0 if north else 10000000.0)
    return easting, northing


def bilinear_dim_maps(env: dict, gt: tuple) -> tuple[list, list]:
    """Axis-separable inverse maps + bilinear taps (GWKBilinearResample,
    alg/gdalwarpkernel.cpp — 2×2 kernel at the continuous source
    position fx−0.5): per dst column (dx, sx0, sx1, wx) and per dst row
    (dy, sy0, sy1, wy). Computed driver-side with C libm and injected
    into BOTH engines (broadcast DF / VALUES) — the scanline
    approximation-transformer analog (alg/gdaltransformer.cpp -et), so
    the cross-engine compare exercises the joins + kernel arithmetic,
    not libm parity."""
    xs = []
    for dx in range(env["width"]):
        X = env["minx"] + (dx + 0.5) * env["psx"]
        lon = (X * 180.0) / OS
        fx = (lon - gt[0]) / gt[1]
        sx0 = math.floor(fx - 0.5)
        xs.append((dx, int(sx0), int(sx0) + 1, fx - 0.5 - sx0))
    ys = []
    for dy in range(env["height"]):
        Y = env["maxy"] - (dy + 0.5) * env["psy"]
        lat = (math.atan(math.exp((Y * math.pi) / OS)) * 360.0) / math.pi - 90.0
        fy = (lat - gt[3]) / gt[5]
        sy0 = math.floor(fy - 0.5)
        ys.append((dy, int(sy0), int(sy0) + 1, fy - 0.5 - sy0))
    return xs, ys


def _cubic_w(t: float) -> float:
    """Cubic convolution weight, A = -0.5 (GWKCubicResample's kernel,
    alg/gdalwarpkernel.cpp; t = |distance| in pixels, 0 ≤ t < 2)."""
    a = -0.5
    if t <= 1.0:
        return ((a + 2.0) * t - (a + 3.0)) * t * t + 1.0
    return a * (((t - 5.0) * t + 8.0) * t - 4.0)


def _bspline_w(t: float) -> float:
    """Cubic B-spline weight (GWKCubicSpline's BSpline kernel,
    alg/gdalwarpkernel.cpp — the smoothing 4-tap spline; weights are
    everywhere ≥ 0 and sum to 1, unlike cubic convolution's A=-0.5
    lobes)."""
    if t <= 1.0:
        return (4.0 - 6.0 * t * t + 3.0 * t * t * t) / 6.0
    if t < 2.0:
        u = 2.0 - t
        return u * u * u / 6.0
    return 0.0


def _4tap_maps(env: dict, gt: tuple, wfn) -> tuple[list, list]:
    """Per-axis 4-tap maps: (d, s_m1, s0, s1, s2, w0, w1, w2, w3) with
    weights wfn at distances (1+f, f, 1−f, 2−f) of the fractional
    offset f — same injection discipline as bilinear_dim_maps."""
    bx, by = bilinear_dim_maps(env, gt)
    xs = [(dx, sx0 - 1, sx0, sx0 + 1, sx0 + 2,
           wfn(1.0 + f), wfn(f), wfn(1.0 - f), wfn(2.0 - f))
          for dx, sx0, _, f in bx]
    ys = [(dy, sy0 - 1, sy0, sy0 + 1, sy0 + 2,
           wfn(1.0 + f), wfn(f), wfn(1.0 - f), wfn(2.0 - f))
          for dy, sy0, _, f in by]
    return xs, ys


def cubic_dim_maps(env: dict, gt: tuple) -> tuple[list, list]:
    return _4tap_maps(env, gt, _cubic_w)


def cubicspline_dim_maps(env: dict, gt: tuple) -> tuple[list, list]:
    return _4tap_maps(env, gt, _bspline_w)


def _lanczos_w(t: float) -> float:
    """Lanczos-windowed sinc weight, a = 3 (GWKLanczosSinc,
    alg/gdalwarpkernel.cpp:105; t = |distance| in pixels, 0 ≤ t < 3)."""
    if t == 0.0:
        return 1.0
    if t >= 3.0:
        return 0.0
    px = math.pi * t
    return (math.sin(px) / px) * (math.sin(px / 3.0) / (px / 3.0))


def lanczos_dim_maps(env: dict, gt: tuple,
                     src_w: int, src_h: int) -> tuple[list, list]:
    """Per-axis 6-tap Lanczos maps: (d, s_m2 … s_p3, w0 … w5) at
    distances (2+f, 1+f, f, 1−f, 2−f, 3−f) of the fractional offset f.
    GDAL normalizes the kernel by the accumulated weight of *valid*
    source pixels (GWKResample's dfAccumulatorWeight); with the only
    invalidity being out-of-range taps, that normalization factorizes
    per axis — so each axis's weights are renormalized driver-side over
    its in-bounds taps (out-of-bounds taps get weight 0), keeping the
    cross-engine compare on injected literals."""
    bx, by = bilinear_dim_maps(env, gt)

    def row(d, s0, f, n):
        taps = [s0 - 2, s0 - 1, s0, s0 + 1, s0 + 2, s0 + 3]
        ws = [_lanczos_w(abs(i - 2 - f)) if 0 <= t < n else 0.0
              for i, t in enumerate(taps)]
        tot = sum(ws)
        ws = [w / tot for w in ws] if tot else ws
        return tuple([d] + taps + ws)

    xs = [row(dx, sx0, f, src_w) for dx, sx0, _, f in bx]
    ys = [row(dy, sy0, f, src_h) for dy, sy0, _, f in by]
    return xs, ys


def suggested_warp_output(gt: tuple, width: int, height: int) -> dict:
    """Suggested EPSG:3857 output grid for a north-up EPSG:4326 raster
    (gt rotation terms must be 0)."""
    n_steps = max(20, min(100, min(width, height) // 50))
    pts = []
    for i in range(n_steps + 1):
        fx = i * width / n_steps
        fy = i * height / n_steps
        pts.append((fx, 0.0))
        pts.append((fx, float(height)))
        pts.append((0.0, fy))
        pts.append((float(width), fy))
    tx = []
    ty = []
    for px, py in pts:
        lon = gt[0] + px * gt[1]
        lat = gt[3] + py * gt[5]
        mx, my = fwd_3857(lon, lat)
        tx.append(mx)
        ty.append(my)
    minx, maxx = min(tx), max(tx)
    miny, maxy = min(ty), max(ty)
    x0, y0 = fwd_3857(gt[0], gt[3])
    x1, y1 = fwd_3857(gt[0] + width * gt[1], gt[3] + height * gt[5])
    diag = math.sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0))
    ps = diag / math.sqrt(width * width + height * height)
    out_w = max(1, int(math.floor((maxx - minx) / ps + 0.5)))
    out_h = max(1, int(math.floor((maxy - miny) / ps + 0.5)))
    return {
        "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy,
        "pixel_size": ps, "width": out_w, "height": out_h,
        "psx": (maxx - minx) / out_w, "psy": (maxy - miny) / out_h,
    }


def tap_align(env: dict) -> dict:
    """gdalwarp -tap (target aligned pixels, apps/gdalwarp_lib.cpp
    bTargetAlignedPixels): snap the suggested extent outward to
    multiples of the resolution so output pixels land on a global
    res-aligned lattice, then re-derive dims with the reference's
    +res/2 truncation."""
    ps = env["pixel_size"]
    minx = math.floor(env["minx"] / ps) * ps
    maxx = math.ceil(env["maxx"] / ps) * ps
    miny = math.floor(env["miny"] / ps) * ps
    maxy = math.ceil(env["maxy"] / ps) * ps
    width = int((maxx - minx + ps / 2.0) / ps)
    height = int((maxy - miny + ps / 2.0) / ps)
    return {"minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy,
            "pixel_size": ps, "width": width, "height": height}
