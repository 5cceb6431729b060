"""Minimal WKB (ISO well-known binary) encode/decode — points & polygons.

Geometry travels through the engine as WKB ``BinaryType`` columns — the
exact convention of the reference's own Arrow bridge
(``ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2725``: geometry encoded as
binary WKB with field metadata ``ARROW:extension:name=ogc.wkb``).
Little-endian, 2-D only (Z/M out of scope per SURVEY.md §7.5).

Decoding is vectorized with numpy frombuffer per geometry (rings become
(n,2) float64 arrays with zero-copy views).
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6


def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, x, y)


def polygon_wkb(rings) -> bytes:
    """rings: [outer, hole...] of (x, y) sequences; closes rings."""
    out = [struct.pack("<BII", 1, WKB_POLYGON, len(rings))]
    for ring in rings:
        r = [(float(x), float(y)) for x, y in ring]
        if r[0] != r[-1]:
            r.append(r[0])
        out.append(struct.pack("<I", len(r)))
        arr = np.asarray(r, dtype="<f8")
        out.append(arr.tobytes())
    return b"".join(out)


def linestring_wkb(pts) -> bytes:
    arr = np.asarray([(float(x), float(y)) for x, y in pts], dtype="<f8")
    return struct.pack("<BII", 1, WKB_LINESTRING, len(arr)) + arr.tobytes()


def multipoint_wkb(pts) -> bytes:
    """Each member point is a full nested WKB point (ISO rule)."""
    out = [struct.pack("<BII", 1, WKB_MULTIPOINT, len(pts))]
    out += [point_wkb(float(x), float(y)) for x, y in pts]
    return b"".join(out)


def multilinestring_wkb(parts) -> bytes:
    out = [struct.pack("<BII", 1, WKB_MULTILINESTRING, len(parts))]
    out += [linestring_wkb(p) for p in parts]
    return b"".join(out)


def multipolygon_wkb(polys) -> bytes:
    """polys: list of ring-lists ([outer, hole...])."""
    out = [struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(polys))]
    out += [polygon_wkb(rings) for rings in polys]
    return b"".join(out)


def parse_wkb(buf: bytes):
    """→ ("point", (x, y)) | ("polygon", [rings]) | ("multipolygon", [[rings]])."""
    byte_order = buf[0]
    assert byte_order == 1, "big-endian WKB unsupported"
    (gtype,) = struct.unpack_from("<I", buf, 1)
    gtype = gtype % 1000  # tolerate EWKB-ish type codes
    if gtype == WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, 5)
        return "point", (x, y)
    if gtype == WKB_POLYGON:
        rings, _ = _parse_polygon_body(buf, 5)
        return "polygon", rings
    if gtype == WKB_LINESTRING:
        (npts,) = struct.unpack_from("<I", buf, 5)
        arr = np.frombuffer(buf, dtype="<f8", count=npts * 2,
                            offset=9).reshape(npts, 2)
        return "linestring", arr
    if gtype == WKB_MULTIPOINT:
        (npts,) = struct.unpack_from("<I", buf, 5)
        pts = [struct.unpack_from("<dd", buf, 9 + i * 21 + 5)
               for i in range(npts)]
        return "multipoint", np.asarray(pts, dtype=np.float64)
    if gtype == WKB_MULTILINESTRING:
        (nl,) = struct.unpack_from("<I", buf, 5)
        off, parts = 9, []
        for _ in range(nl):
            (npts,) = struct.unpack_from("<I", buf, off + 5)
            arr = np.frombuffer(buf, dtype="<f8", count=npts * 2,
                                offset=off + 9).reshape(npts, 2)
            parts.append(arr)
            off += 9 + npts * 16
        return "multilinestring", parts
    if gtype == WKB_MULTIPOLYGON:
        (npoly,) = struct.unpack_from("<I", buf, 5)
        off = 9
        polys = []
        for _ in range(npoly):
            assert buf[off] == 1
            off += 5  # byte order + type
            rings, off = _parse_polygon_body(buf, off)
            polys.append(rings)
        return "multipolygon", polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def _parse_polygon_body(buf: bytes, off: int):
    (nrings,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=off).reshape(npts, 2)
        rings.append(arr)
        off += npts * 16
    return rings, off


def wkt(buf: bytes) -> str:
    """WKB → WKT (OGR_GEOM_WKT special-field analog, ogr/ogr_p.h:168-175)."""
    kind, data = parse_wkb(buf)
    if kind == "point":
        return f"POINT ({data[0]:.6f} {data[1]:.6f})"
    def _rings(rs):
        return ", ".join("(" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in r) + ")" for r in rs)
    if kind == "polygon":
        return f"POLYGON ({_rings(data)})"
    return "MULTIPOLYGON (" + ", ".join(f"({_rings(p)})" for p in data) + ")"
