"""Whole-file GeoJSON vector source — a Spark 4 Python DataSource for
RFC 7946 documents; behavioral reference:
``ogr/ogrsf_frmts/geojson/ogrgeojsonreader.cpp`` (NOT a port). Accepts
a FeatureCollection, a bare ``{"features":[...]}`` object with no
"type" key (the reference's #7198 tolerance, pinned by
grenada.geojson), a standalone Feature, or a standalone geometry
object (each of the seven RFC geometry types).

Scale shape: a whole-file JSON document is not line-splittable, so the
unit of parallelism is the FILE (one InputPartition each) — exactly
the reference's constraint. The engine's scale path for feature
streams is GeoJSONSeq (sources/wet.py-style line partitioning, already
gated as geojsonseq_scan); this source exists for the
one-document-per-file corpus layout and parses entirely on executors
(the driver only globs paths — it never opens the files).

Geometry lands as the engine's 2-D WKB (Z ordinates dropped, the
reference's default axis squash for 2-D layers); GeometryCollection
encodes the nested ISO WKB type 7. Per-feature envelopes are computed
from the raw coordinate arrays so extent gates don't depend on the
WKB path."""

from __future__ import annotations

import glob as _glob
import itertools
import json
import os
import struct

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               LongType, MapType, StringType,
                               StructField, StructType)

from gdal_spark.sources import commit

GEOJSON_SCHEMA = StructType([
    StructField("file", StringType()),
    StructField("fid", LongType()),
    StructField("feature_id", StringType()),
    StructField("geom_type", StringType()),
    StructField("wkb", BinaryType()),
    StructField("n_points", IntegerType()),
    StructField("xmin", DoubleType()),
    StructField("ymin", DoubleType()),
    StructField("xmax", DoubleType()),
    StructField("ymax", DoubleType()),
    StructField("properties", MapType(StringType(), StringType())),
])

_WKB_CODE = {"Point": 1, "LineString": 2, "Polygon": 3,
             "MultiPoint": 4, "MultiLineString": 5,
             "MultiPolygon": 6, "GeometryCollection": 7}


def geom_wkb(g: dict) -> bytes:
    """GeoJSON geometry object → 2-D little-endian ISO WKB."""
    from gdal_spark.geo import wkb as W
    t = g["type"]
    c = g.get("coordinates")
    if t == "Point":
        return W.point_wkb(c[0], c[1])
    if t == "MultiPoint":
        return W.multipoint_wkb([(p[0], p[1]) for p in c])
    if t == "LineString":
        return W.linestring_wkb([(p[0], p[1]) for p in c])
    if t == "MultiLineString":
        return W.multilinestring_wkb(
            [[(p[0], p[1]) for p in part] for part in c])
    if t == "Polygon":
        return W.polygon_wkb(
            [[(p[0], p[1]) for p in ring] for ring in c])
    if t == "MultiPolygon":
        return W.multipolygon_wkb(
            [[[(p[0], p[1]) for p in ring] for ring in poly]
             for poly in c])
    if t == "GeometryCollection":
        members = [geom_wkb(m) for m in g.get("geometries", [])]
        return (struct.pack("<BII", 1, 7, len(members))
                + b"".join(members))
    raise ValueError(f"unsupported GeoJSON geometry type {t}")


def _walk_env(c, env, cnt):
    if not c:
        return
    if isinstance(c[0], (int, float)):
        env[0] = min(env[0], float(c[0]))
        env[1] = min(env[1], float(c[1]))
        env[2] = max(env[2], float(c[0]))
        env[3] = max(env[3], float(c[1]))
        cnt[0] += 1
    else:
        for q in c:
            _walk_env(q, env, cnt)


def _envelope(g: dict):
    env = [float("inf"), float("inf"),
           float("-inf"), float("-inf")]
    cnt = [0]
    if g["type"] == "GeometryCollection":
        for m in g.get("geometries", []):
            e, n = _envelope(m)
            env[0] = min(env[0], e[0])
            env[1] = min(env[1], e[1])
            env[2] = max(env[2], e[2])
            env[3] = max(env[3], e[3])
            cnt[0] += n
    else:
        _walk_env(g.get("coordinates"), env, cnt)
    return env, cnt[0]


def doc_features(doc: dict) -> list[dict]:
    """Normalize any accepted document shape to a feature list."""
    t = doc.get("type")
    if t == "FeatureCollection" or ("features" in doc and t is None):
        return doc["features"]
    if t == "Feature":
        return [doc]
    if t in _WKB_CODE:
        return [{"type": "Feature", "geometry": doc,
                 "properties": None}]
    raise ValueError(f"unrecognized GeoJSON document (type={t!r})")


class GeoJsonFilePartition(InputPartition):
    def __init__(self, path):
        self.path = path


class GeoJsonFileReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("geojsonfile source requires a path")
        self.paths = sorted(_glob.glob(path)) if any(
            c in path for c in "*?[") else [path]

    def partitions(self):
        return [GeoJsonFilePartition(p) for p in self.paths]

    def read(self, part):
        import pyarrow as pa
        with open(part.path, "rb") as fh:
            raw = fh.read()
        if raw[:3] == b"\xef\xbb\xbf":  # UTF-8 BOM tolerance
            raw = raw[3:]
        doc = json.loads(raw)
        fname = os.path.basename(part.path)
        cols = {k: [] for k in ("file", "fid", "feature_id",
                                "geom_type", "wkb",
                                "n_points", "xmin", "ymin", "xmax",
                                "ymax", "properties")}
        for fid, feat in enumerate(doc_features(doc)):
            g = feat.get("geometry")
            cols["file"].append(fname)
            cols["fid"].append(fid)
            fi = feat.get("id")
            cols["feature_id"].append(
                None if fi is None else
                (fi if isinstance(fi, str) else json.dumps(fi)))
            if g is None:
                cols["geom_type"].append(None)
                cols["wkb"].append(None)
                cols["n_points"].append(0)
                for k in ("xmin", "ymin", "xmax", "ymax"):
                    cols[k].append(None)
            else:
                env, n = _envelope(g)
                cols["geom_type"].append(g["type"])
                cols["wkb"].append(geom_wkb(g))
                cols["n_points"].append(n)
                cols["xmin"].append(env[0])
                cols["ymin"].append(env[1])
                cols["xmax"].append(env[2])
                cols["ymax"].append(env[3])
            props = feat.get("properties")
            cols["properties"].append(
                None if props is None else
                {str(k): (v if isinstance(v, str)
                          else json.dumps(v, ensure_ascii=False))
                 for k, v in props.items()})
        yield pa.record_batch(
            [pa.array(cols["file"], pa.string()),
             pa.array(cols["fid"], pa.int64()),
             pa.array(cols["feature_id"], pa.string()),
             pa.array(cols["geom_type"], pa.string()),
             pa.array(cols["wkb"], pa.binary()),
             pa.array(cols["n_points"], pa.int32()),
             pa.array(cols["xmin"], pa.float64()),
             pa.array(cols["ymin"], pa.float64()),
             pa.array(cols["xmax"], pa.float64()),
             pa.array(cols["ymax"], pa.float64()),
             pa.array(cols["properties"],
                      pa.map_(pa.string(), pa.string()))],
            names=list(cols))


def wkb_to_geojson_geom(wkb_bytes: bytes) -> dict:
    """2-D WKB → GeoJSON geometry object (floats carried exactly —
    json round-trips IEEE doubles via shortest-repr)."""
    from gdal_spark.geo.wkb import parse_wkb
    kind, data = parse_wkb(wkb_bytes)
    if kind == "point":
        return {"type": "Point",
                "coordinates": [float(data[0]), float(data[1])]}
    if kind == "linestring":
        return {"type": "LineString",
                "coordinates": [[float(x), float(y)]
                                for x, y in data]}
    if kind == "multipoint":
        return {"type": "MultiPoint",
                "coordinates": [[float(x), float(y)]
                                for x, y in data]}
    if kind == "multilinestring":
        return {"type": "MultiLineString",
                "coordinates": [[[float(x), float(y)]
                                 for x, y in part] for part in data]}
    if kind == "polygon":
        return {"type": "Polygon",
                "coordinates": [[[float(x), float(y)]
                                 for x, y in ring] for ring in data]}
    if kind == "multipolygon":
        return {"type": "MultiPolygon",
                "coordinates": [[[[float(x), float(y)]
                                  for x, y in ring] for ring in poly]
                                for poly in data]}
    raise ValueError(kind)


def write_geojson(df, path: str, attr_cols, id_field=None,
                  id_type=None, rpb: int = 4096) -> dict:
    """Distributed GeoJSON FeatureCollection sink — the reference's
    ogr2ogr -f GeoJSON path (ogr/ogrsf_frmts/geojson/
    ogrgeojsonwriter.cpp serialization rules, matched to the
    PUBLISHED pins: compact separators, ``"id"`` before
    ``"properties"``, the ID_FIELD promoted out of properties, and
    ID_TYPE=String/Integer coercion; ogr_geojson.py
    test_ogr_geojson_id_field_and_id_type).

    ``df`` needs fid (dense 0..n-1), wkb, and ``attr_cols``.
    Commits through sources/commit.py: executors serialize each
    fid-block's feature lines into a part file, every block but the
    first starting with its own separator, so the driver streams the
    parts in block order inside the FeatureCollection wrapper and
    replaces ``path`` atomically — O(bytes copied), no feature ever
    parsed driver-side."""
    from pyspark.sql import functions as F

    cols = list(attr_cols)

    def encode(blk, pdf):
        lines = []
        for _, row in pdf.sort_values("fid").iterrows():
            feat = {"type": "Feature"}
            if id_field is not None:
                v = row[id_field]
                if id_type == "String":
                    v = str(v)
                elif id_type == "Integer":
                    v = int(v)
                elif hasattr(v, "item"):
                    v = v.item()
                feat["id"] = v
            props = {}
            for c in cols:
                if c == id_field:
                    continue
                v = row[c]
                props[c] = v.item() if hasattr(v, "item") else v
            feat["properties"] = props
            feat["geometry"] = (
                None if row["wkb"] is None
                else wkb_to_geojson_geom(bytes(row["wkb"])))
            lines.append(json.dumps(feat, separators=(",", ":"),
                                    ensure_ascii=False))
        text = (",\n" if blk else "") + ",\n".join(lines)
        return {"gj": text.encode("utf-8")}, {"n": len(pdf)}

    with commit.parts_dir(path) as tmp_dir:
        report = commit.write_blocks(
            df, (F.col("fid") / F.lit(rpb)).cast("int"), tmp_dir, encode,
            "n long")
        commit.atomic_write(path, itertools.chain(
            [b'{"type":"FeatureCollection","features":[\n'],
            commit.parts(tmp_dir, "gj", len(report)), [b"\n]}\n"]))
    return {"n": int(sum(r["n"] for r in report))}


class GeoJsonFileDataSource(DataSource):
    @classmethod
    def name(cls):
        return "geojsonfile"

    def schema(self):
        return GEOJSON_SCHEMA

    def reader(self, schema):
        return GeoJsonFileReader(self.options)
