"""Generalized (arbitrary-ellipsoid) transverse Mercator vs the
Ordnance Survey's published worked example ('A guide to coordinate
systems in Great Britain', Annexe C): E 651409.903 N 313177.270 on
OSGB 1936 ↔ 52°39'27.2531"N, 1°43'4.5177"E, using the parameters
parsed from the SHIPPED poly.PRJ sidecar."""

import math

import pytest

from gdal_spark.fixtures import autotest_path
from gdal_spark.geo.warp import (parse_prj_wkt, tm_forward_gen,
                                 tm_inverse_gen)

PRJ = "ogr/data/poly.PRJ"

E, N = 651409.903, 313177.270
LAT = 52 + 39 / 60 + 27.2531 / 3600
LON = 1 + 43 / 60 + 4.5177 / 3600


def _p():
    return parse_prj_wkt(open(autotest_path(PRJ)).read())


def test_prj_parse():
    p = _p()
    assert p["name"] == "OSGB 1936 / British National Grid"
    assert p["spheroid"] == "Airy_1830"
    assert p["a"] == 6377563.396
    assert abs(1 / p["f"] - 299.3249646) < 1e-7
    assert (p["lat0"], p["lon0"]) == (49.0, -2.0)
    assert p["k0"] == 0.9996012717
    assert (p["fe"], p["fn"]) == (400000.0, -100000.0)


def test_true_origin_exact():
    x, y = tm_forward_gen(-2.0, 49.0, _p())
    assert (x, y) == (400000.0, -100000.0)


def test_os_worked_example_forward():
    x, y = tm_forward_gen(LON, LAT, _p())
    # OS publishes the example to the millimeter
    assert abs(x - E) < 2e-3 and abs(y - N) < 2e-3


def test_os_worked_example_inverse():
    lon, lat = tm_inverse_gen(E, N, _p())
    assert abs(lat - LAT) * 3600 < 1e-3  # arcsec
    assert abs(lon - LON) * 3600 < 1e-3


def test_roundtrip_closure():
    p = _p()
    lon, lat = tm_inverse_gen(E, N, p)
    x, y = tm_forward_gen(lon, lat, p)
    assert math.hypot(x - E, y - N) < 1e-6


SPHERE_TM = (
    'PROJCS["Sphere_TM",GEOGCS["GCS_Sphere",DATUM["D_Sphere",'
    'SPHEROID["Sphere",6371000.0,0.0]],PRIMEM["Greenwich",0.0],'
    'UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000.0],'
    'PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",9.0],'
    'PARAMETER["Scale_Factor",0.9996],PARAMETER["Latitude_Of_Origin",0.0],'
    'UNIT["Meter",1.0]]')


def test_prj_sphere_has_zero_flattening():
    """Inverse flattening 0 marks a sphere: f = 0, and the generalized
    TM reduces to the spherical closed form
    x = k0·R·atanh(cos φ sin Δλ), y = k0·R·atan(tan φ / cos Δλ)."""
    p = parse_prj_wkt(SPHERE_TM)
    assert (p["spheroid"], p["a"], p["f"]) == ("Sphere", 6371000.0, 0.0)
    lon, lat = 12.0, 48.0
    phi, dlam = math.radians(lat), math.radians(lon - 9.0)
    x, y = tm_forward_gen(lon, lat, p)
    assert abs(x - (500000.0 + 0.9996 * 6371000.0
                    * math.atanh(math.cos(phi) * math.sin(dlam)))) < 1e-6
    assert abs(y - 0.9996 * 6371000.0
               * math.atan(math.tan(phi) / math.cos(dlam))) < 1e-6


def test_prj_rejects_other_projections():
    lcc = SPHERE_TM.replace("Transverse_Mercator",
                            "Lambert_Conformal_Conic")
    with pytest.raises(ValueError, match="Lambert_Conformal_Conic"):
        parse_prj_wkt(lcc)
