"""Deterministic fixtures (FIXTURES.md) — single source of truth.

Everything here is a pure Python constant or an integer-hash derivation,
rendered into three synchronized forms:

1. numpy structures for oracle kernels and the numpy PIP tests,
2. Spark DataFrames (``zones_df`` etc., created via createDataFrame —
   these are tiny broadcast-side tables),
3. SQL snippets (VALUES lists / CTEs) that BOTH Spark SQL and DuckDB
   parse, used by ``__spark_entry__.oracle_sql``.

Zone fixture mirrors the reference's canonical test layer
``autotest/ogr/data/poly.shp`` (10 polygons, fields AREA real, EAS_ID
int, PRFEDEA string) and ``idlink.dbf`` (eas_id → name), so the
reference's join-test expectations can be replayed:
``autotest/ogr/ogr_join_test.py:39-69`` — LEFT JOIN keeps all 10 rows;
``eas_id < 168`` matches names _166_/_158_/_165_. The EAS_ID values are
the poly.shp ones. Geometry differs (polygons sit over this dataset's
hotspot discs) but the topology mirrors the reference fixtures: two
zones share an edge, one has a hole, one is non-convex, two overlap.
"""

from __future__ import annotations

import os

import numpy as np

# ------------------------------------------------ GDAL autotest tree ---

AUTOTEST_DIR = "/root/reference/autotest"


class FixtureMissing(FileNotFoundError):
    """The GDAL autotest fixture tree is absent."""


def autotest_path(*parts: str) -> str:
    """``AUTOTEST_DIR`` joined with ``parts``, e.g.
    ``autotest_path("gcore/data", "byte.tif")``. Raises FixtureMissing
    when the tree itself is absent; a file missing from a present tree
    is left to fail in the read that opens it. Call it inside the
    function that reads the file, never at import time."""
    if not os.path.isdir(AUTOTEST_DIR):
        raise FixtureMissing(
            f"GDAL autotest fixture tree not found at {AUTOTEST_DIR}")
    return os.path.join(AUTOTEST_DIR, *parts)


def dlit(x) -> str:
    """Render a float as a guaranteed-DOUBLE SQL literal. Bare decimal
    literals parse as DECIMAL in both engines, and DuckDB's
    DECIMAL(17,15)→DOUBLE conversion differs from strtod in the last
    ulp (CAST(-45.730000000000004 AS DOUBLE) ≠ -45.730000000000004e0 —
    verified). An exponent suffix forces the strtod path."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s or "n" in s) else s + "e0"

# ------------------------------------------------------------ hotspots ---

HOTSPOTS = [  # (lat, lon) — 5 urban discs used by the page generator
    (40.7, -74.0),     # New York
    (51.5, -0.12),     # London
    (35.68, 139.69),   # Tokyo
    (-23.55, -46.63),  # Sao Paulo
    (48.85, 2.35),     # Paris
]

# Zipf-skewed TLD list: index 0 is intentionally hot (skew/salting tests)
TLDS = ["com", "de", "fr", "jp", "us", "br", "io", "uk", "cn", "in", "ru", "au"]

TLD_CENTROIDS = {  # tld → (lat, lon, country): the geocode cache analog
    # (shape of ogr/ogr_geocoding.cpp:118's cache layer, no network)
    "com": (39.0, -98.0, "US"), "de": (51.0, 10.0, "DE"),
    "fr": (46.6, 2.2, "FR"), "jp": (36.0, 138.0, "JP"),
    "us": (39.0, -98.0, "US"), "br": (-14.2, -51.9, "BR"),
    "io": (-7.3, 72.4, "IO"), "uk": (54.0, -2.0, "GB"),
    "cn": (35.0, 103.0, "CN"), "in": (21.0, 78.0, "IN"),
    "ru": (61.5, 105.0, "RU"), "au": (-25.0, 133.0, "AU"),
}

# --------------------------------------------------------------- zones ---
# Each zone: dict with
#   rings: [outer_ring, hole_ring...]  (lon, lat), CCW outer / CW-agnostic
#   parts: convex decomposition of the filled area (list of CCW convex
#          rings) — used ONLY to build the DuckDB half-plane oracle
#   holes: convex holes (CCW rings)
# eas_id values are poly.shp's (autotest/ogr/data/poly.shp).

def _quad(clat, clon, dlat, dlon, skew=0.0):
    # CCW in (lon, lat)
    return [
        (clon - dlon, clat - dlat), (clon + dlon + skew, clat - dlat),
        (clon + dlon, clat + dlat), (clon - dlon + skew, clat + dlat),
    ]

_L_A = [(139.0, 35.0), (139.6, 35.0), (139.6, 36.3), (139.0, 36.3)]   # vertical bar
_L_B = [(139.6, 35.0), (140.4, 35.0), (140.4, 35.5), (139.6, 35.5)]   # horizontal foot
_L_OUTER = [(139.0, 35.0), (140.4, 35.0), (140.4, 35.5), (139.6, 35.5),
            (139.6, 36.3), (139.0, 36.3)]
_Z9_OUTER = _quad(51.5, -0.12, 0.9, 1.1)
_Z9_HOLE = [(-0.5, 51.2), (0.2, 51.2), (0.2, 51.75), (-0.5, 51.75)]

ZONES = [
    {"zone_fid": 0, "eas_id": 168, "prfedea": "35043411", "rings": [_quad(40.7, -74.0, 0.85, 0.95)], "parts": [_quad(40.7, -74.0, 0.85, 0.95)], "holes": []},
    {"zone_fid": 1, "eas_id": 179, "prfedea": "35043423", "rings": [[(-1.3, 50.9), (0.9, 51.05), (-0.2, 52.4)]], "parts": [[(-1.3, 50.9), (0.9, 51.05), (-0.2, 52.4)]], "holes": []},
    {"zone_fid": 2, "eas_id": 171, "prfedea": "35043414", "rings": [[(138.9, 35.1), (140.3, 35.25), (140.5, 36.0), (139.7, 36.5), (138.8, 36.1)]], "parts": [[(138.9, 35.1), (140.3, 35.25), (140.5, 36.0), (139.7, 36.5), (138.8, 36.1)]], "holes": []},
    {"zone_fid": 3, "eas_id": 173, "prfedea": "35043416", "rings": [_quad(-23.55, -46.63, 0.8, 0.9)], "parts": [_quad(-23.55, -46.63, 0.8, 0.9)], "holes": []},
    {"zone_fid": 4, "eas_id": 172, "prfedea": "35043415", "rings": [[(1.3, 47.95), (3.35, 47.9), (3.35, 49.7), (1.35, 49.75)]], "parts": [[(1.3, 47.95), (3.35, 47.9), (3.35, 49.7), (1.35, 49.75)]], "holes": []},
    # mid-ocean quad — catches sparse uniform points only
    {"zone_fid": 5, "eas_id": 169, "prfedea": "35043412", "rings": [_quad(10.0, -35.0, 12.0, 14.0)], "parts": [_quad(10.0, -35.0, 12.0, 14.0)], "holes": []},
    # shares the x=3.35 edge with zone 4 (shared-edge semantics: a point
    # exactly on the edge is IN BOTH — GEOS Intersects is inclusive)
    {"zone_fid": 6, "eas_id": 166, "prfedea": "35043409", "rings": [[(3.35, 47.9), (5.4, 47.95), (5.35, 49.65), (3.35, 49.7)]], "parts": [[(3.35, 47.9), (5.4, 47.95), (5.35, 49.65), (3.35, 49.7)]], "holes": []},
    # small quad fully inside zone 0 (overlap / covered-cell shortcut)
    {"zone_fid": 7, "eas_id": 158, "prfedea": "35043369", "rings": [_quad(40.7, -74.0, 0.3, 0.35)], "parts": [_quad(40.7, -74.0, 0.3, 0.35)], "holes": []},
    # non-convex L over Tokyo (decomposed into 2 convex quads for SQL)
    {"zone_fid": 8, "eas_id": 165, "prfedea": "35043408", "rings": [_L_OUTER], "parts": [_L_A, _L_B], "holes": []},
    # quad with a rectangular hole over London
    {"zone_fid": 9, "eas_id": 170, "prfedea": "35043413", "rings": [_Z9_OUTER, _Z9_HOLE], "parts": [_Z9_OUTER], "holes": [_Z9_HOLE]},
]

# idlink.dbf mirror (ogr_join_test.py): name '_<eas>_'; one duplicated
# eas (165 → pick-first keeps idlink_fid 1's value) and zone eas values
# 171/172/173/179 intentionally absent (null-filled LEFT join rows).
IDLINK = [  # (idlink_fid, eas_id, name)
    (0, 158, "_158_"), (1, 165, "_165_"), (2, 166, "_166_"), (3, 167, "_167_"),
    (4, 168, "_168_"), (5, 169, "_169_"), (6, 170, "_170_"), (7, 165, "_165_dup_"),
]


def zone_area(z) -> float:
    from gdal_spark.geo.geom import polygon_area
    return polygon_area(z["rings"])


# ------------------------------------------------------- SQL renderers ---

def zones_values_sql() -> str:
    """zones(zone_fid, eas_id, area, prfedea) as a VALUES relation."""
    # CAST floats to DOUBLE: DuckDB unifies a VALUES column to the
    # FIRST row's decimal scale and silently rounds later rows (bit
    # mismatch vs the engine's float64 — see sqlexpr._lookup note)
    rows = ", ".join(
        f"({z['zone_fid']}, {z['eas_id']}, {dlit(zone_area(z))}, '{z['prfedea']}')"
        for z in ZONES
    )
    return f"(VALUES {rows}) AS zones(zone_fid, eas_id, area, prfedea)"


def zone_part_edges_sql() -> str:
    """Edge table for the half-plane PIP oracle:
    zpe(zone_fid, part_id, is_hole, x1, y1, x2, y2)."""
    rows = []
    for z in ZONES:
        for pid, ring in enumerate(z["parts"]):
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                rows.append(
                    f"({z['zone_fid']}, {pid}, 0, {dlit(x1)}, {dlit(y1)}, "
                    f"{dlit(x2)}, {dlit(y2)})")
        for hid, ring in enumerate(z["holes"]):
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                rows.append(
                    f"({z['zone_fid']}, {100 + hid}, 1, {dlit(x1)}, {dlit(y1)}, "
                    f"{dlit(x2)}, {dlit(y2)})")
    return "(VALUES " + ", ".join(rows) + ") AS zpe(zone_fid, part_id, is_hole, x1, y1, x2, y2)"


def zone_ring_edge_rows():
    """(zone_fid, ring_id, edge, x1, y1, x2, y2) for EVERY ring edge —
    outer rings and holes (line burn draws hole boundaries too). The
    line-rasterize fixture: zone boundaries as a road-network stand-in."""
    rows = []
    for z in ZONES:
        for rid, ring in enumerate(z["rings"]):
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                rows.append((z["zone_fid"], rid, i, float(x1), float(y1),
                             float(x2), float(y2)))
    return rows


def zone_ring_edges_sql() -> str:
    rows = ", ".join(
        f"({zf}, {rid}, {e}, {dlit(x1)}, {dlit(y1)}, {dlit(x2)}, {dlit(y2)})"
        for zf, rid, e, x1, y1, x2, y2 in zone_ring_edge_rows())
    return ("(VALUES " + rows
            + ") AS redges(zone_fid, ring_id, edge, x1, y1, x2, y2)")


def idlink_values_sql() -> str:
    rows = ", ".join(f"({f}, {e}, '{n}')" for f, e, n in IDLINK)
    return f"(VALUES {rows}) AS idlink(idlink_fid, eas_id, name)"


def zone_bbox_values_sql() -> str:
    from gdal_spark.geo.geom import polygon_bbox
    rows = []
    for z in ZONES:
        xmin, ymin, xmax, ymax = polygon_bbox(z["rings"])
        rows.append(
            f"({z['zone_fid']}, {dlit(xmin)}, {dlit(ymin)}, "
            f"{dlit(xmax)}, {dlit(ymax)})")
    return "(VALUES " + ", ".join(rows) + ") AS zbox(zone_fid, xmin, ymin, xmax, ymax)"


def zone_rings_numpy() -> dict[int, list[np.ndarray]]:
    """zone_fid → list of float64 (n,2) ring arrays (numpy PIP tests)."""
    return {z["zone_fid"]: [np.asarray(r, dtype=np.float64) for r in z["rings"]]
            for z in ZONES}


# ------------------------------------------------------------ knn etc. ---

KNN_QUERIES = [  # (query_id, lat, lon, k): hotspots, ocean (forces ring
    # doubling — the grid-search twin of alg/gdalgrid.cpp:976), poles-ish
    (0, 40.7, -74.0, 5), (1, 51.5, -0.12, 5), (2, 35.68, 139.69, 8),
    (3, -23.55, -46.63, 3), (4, 48.85, 2.35, 5),
    (5, 0.0, -140.0, 3),      # mid-Pacific: empty rings until doubling
    (6, -60.0, 100.0, 4),     # southern ocean
    (7, 41.0, -73.5, 10), (8, 52.0, 0.5, 2), (9, 36.2, 139.0, 6),
]


def knn_queries_sql() -> str:
    rows = ", ".join(
        f"({q}, {dlit(lat)}, {dlit(lon)}, {k})"
        for q, lat, lon, k in KNN_QUERIES)
    return f"(VALUES {rows}) AS knnq(query_id, qlat, qlon, k)"
