"""KML vector source — a Spark 4 Python DataSource over stdlib
ElementTree; behavioral reference: ``ogr/ogrsf_frmts/kml`` (NOT a
port). The reference's layer model: every <Folder> (and the root
<Document> when it holds direct placemarks) is a layer named by its
<name>; <Placemark> children become features with Name / description
attributes and Point / LineString / Polygon / MultiGeometry
geometries. Coordinates are "lon,lat[,alt]" triples; altitude rides
in the engine's sidecar ``zs`` array over 2-D WKB (same convention
as sources/shapefile.py).

Scale shape: one XML document = one parse unit (the reference's expat
cursor has the same bound); the file is the partition grain and
multi-file globs fan out. ``layer`` option selects a folder by name;
omitted → all placemarks with a ``layer`` column."""

from __future__ import annotations

import glob as _glob
import os

import numpy as np

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType,
                               LongType, StringType, StructField,
                               StructType)

KML_SCHEMA = StructType([
    StructField("file", StringType()),
    StructField("layer", StringType()),
    StructField("fid", LongType()),
    StructField("name", StringType()),
    StructField("description", StringType()),
    StructField("geom_type", StringType()),
    StructField("wkb", BinaryType()),
    StructField("zs", ArrayType(DoubleType())),
])


def _strip(tag):
    return tag.rsplit("}", 1)[-1]


def _find(el, name):
    for c in el:
        if _strip(c.tag) == name:
            return c
    return None


def _text(el, name):
    c = _find(el, name)
    return None if c is None or c.text is None else c.text


def _norm_multiline(s):
    """The reference trims per-line indentation in text nodes (the
    published description pins have '\\n' with no leading spaces)."""
    if s is None:
        return None
    return "\n".join(ln.strip() for ln in s.split("\n")).strip()


def _coords(el):
    """<coordinates> text → (n,2) lon/lat + z list."""
    txt = (el.text or "").strip()
    pts, zs = [], []
    for tok in txt.split():
        parts = tok.split(",")
        pts.append((float(parts[0]), float(parts[1])))
        zs.append(float(parts[2]) if len(parts) > 2 else 0.0)
    return np.asarray(pts, dtype=np.float64), zs


def parse_placemark_geom(pm):
    """Placemark → (geom_type, wkb, zs) or (None, None, None)."""
    from gdal_spark.geo import wkb as W
    for c in pm:
        t = _strip(c.tag)
        if t == "Point":
            pts, zs = _coords(_find(c, "coordinates"))
            return "Point", W.point_wkb(pts[0, 0], pts[0, 1]), zs
        if t == "LineString":
            pts, zs = _coords(_find(c, "coordinates"))
            return "LineString", W.linestring_wkb(pts), zs
        if t == "Polygon":
            rings, zs = [], []
            ob = _find(c, "outerBoundaryIs")
            if ob is not None:
                r, z = _coords(_find(_find(ob, "LinearRing"),
                                     "coordinates"))
                rings.append(r)
                zs += z
            for ib in c:
                if _strip(ib.tag) == "innerBoundaryIs":
                    r, z = _coords(_find(_find(ib, "LinearRing"),
                                         "coordinates"))
                    rings.append(r)
                    zs += z
            return "Polygon", W.polygon_wkb(rings), zs
        if t == "MultiGeometry":
            # surface member count; the reference promotes to the
            # homogeneous multi-type — members gate via geometries.kml
            subs = [parse_placemark_geom(_Wrap(m)) for m in c
                    if _strip(m.tag) in ("Point", "LineString",
                                         "Polygon")]
            kinds = {s[0] for s in subs}
            if kinds == {"Polygon"}:
                from gdal_spark.geo.wkb import parse_wkb
                polys = [parse_wkb(s[1])[1] for s in subs]
                zs = [z for s in subs for z in s[2]]
                return ("MultiPolygon", W.multipolygon_wkb(polys), zs)
            if kinds == {"LineString"}:
                from gdal_spark.geo.wkb import parse_wkb
                parts = [parse_wkb(s[1])[1] for s in subs]
                zs = [z for s in subs for z in s[2]]
                return ("MultiLineString",
                        W.multilinestring_wkb(parts), zs)
            if kinds == {"Point"}:
                from gdal_spark.geo.wkb import parse_wkb
                pts = [parse_wkb(s[1])[1] for s in subs]
                zs = [z for s in subs for z in s[2]]
                return "MultiPoint", W.multipoint_wkb(pts), zs
            return "GeometryCollection", None, None
    return None, None, None


class _Wrap:
    """Wrap a bare geometry element so parse_placemark_geom sees it
    as a single-child placemark."""

    def __init__(self, el):
        self._el = el

    def __iter__(self):
        return iter([self._el])


def _folders(root, path):
    """(layer_name, [placemarks]) per the reference's model. A document
    with no <name> is named after the file; folders sharing a name are
    one layer, so ``read`` numbers their fids on."""
    out = []

    def walk(el, name):
        pms = [c for c in el if _strip(c.tag) == "Placemark"]
        nm = _text(el, "name") or name
        if pms:
            out.append((nm, pms))
        for c in el:
            if _strip(c.tag) in ("Folder", "Document"):
                walk(c, nm)

    walk(root, os.path.splitext(os.path.basename(path))[0])
    return out


class KmlPartition(InputPartition):
    def __init__(self, path, layer):
        self.path = path
        self.layer = layer


class KmlReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("kml source requires a path")
        self.layer = options.get("layer")
        self.paths = sorted(_glob.glob(path)) if any(
            c in path for c in "*?[") else [path]

    def partitions(self):
        return [KmlPartition(p, self.layer) for p in self.paths]

    def read(self, part):
        import xml.etree.ElementTree as ET

        import pyarrow as pa
        root = ET.parse(part.path).getroot()
        fname = os.path.basename(part.path)
        cols = {k: [] for k in ("file", "layer", "fid", "name",
                                "description", "geom_type", "wkb",
                                "zs")}
        next_fid: dict[str, int] = {}
        for lname, pms in _folders(root, part.path):
            if part.layer is not None and lname != part.layer:
                continue
            fid0 = next_fid.get(lname, 0)
            next_fid[lname] = fid0 + len(pms)
            for fid, pm in enumerate(pms, fid0):
                gt, wkb_b, zs = parse_placemark_geom(pm)
                cols["file"].append(fname)
                cols["layer"].append(lname)
                cols["fid"].append(fid)
                cols["name"].append(_text(pm, "name"))
                cols["description"].append(
                    _norm_multiline(_text(pm, "description")))
                cols["geom_type"].append(gt)
                cols["wkb"].append(wkb_b)
                cols["zs"].append(zs)
        yield pa.record_batch(
            [pa.array(cols["file"], pa.string()),
             pa.array(cols["layer"], pa.string()),
             pa.array(cols["fid"], pa.int64()),
             pa.array(cols["name"], pa.string()),
             pa.array(cols["description"], pa.string()),
             pa.array(cols["geom_type"], pa.string()),
             pa.array(cols["wkb"], pa.binary()),
             pa.array(cols["zs"], pa.list_(pa.float64()))],
            names=list(cols))


class KmlDataSource(DataSource):
    @classmethod
    def name(cls):
        return "kml"

    def schema(self):
        return KML_SCHEMA

    def reader(self, schema):
        return KmlReader(self.options)
