"""Independent DuckDB oracle for the benchmark's outputs.

Built only from the SQL snippets the engine shares with its oracles,
never from the engine's operators:

- ``sqlexpr.points_cte`` geocodes the key table;
- the zone-edge half-plane point-in-polygon SQL (``queries._pip_sql``
  over ``fixtures.zone_part_edges_sql``) gives the per-zone counts;
- ``sqlexpr.tile_sql`` gives every pyramid level directly from lat/lon,
  so the engine's child-to-parent halving is checked, not reused.
"""

from __future__ import annotations

import duckdb
import numpy as np

from gdal_spark import sqlexpr
from gdal_spark.fixtures import zone_bbox_values_sql
from gdal_spark.queries import _pip_sql

BASE_ZOOM = 12


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def expected(lineitem: str, min_zoom: int, zones: bool,
             tmp_dir: str) -> dict[str, np.ndarray]:
    """Expected outputs as sorted arrays: ``zone_fid``/``zone_n`` (when
    ``zones``) and ``z``/``tx``/``ty``/``n`` for pyramid levels
    ``min_zoom``..12. Also the row counts ``pages`` (input rows) and
    ``geocoded`` (pages with a point), and the points' ``lat``/``lon``
    (NaN where there is none)."""
    con = _connect(tmp_dir)
    try:
        con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                    f"read_parquet('{lineitem}')")
        con.execute(f"CREATE TABLE points AS WITH {sqlexpr.points_cte()} "
                    "SELECT pt_id, lat, lon FROM points")
        out = {
            "pages": np.int64(con.execute(
                "SELECT COUNT(*) FROM points").fetchone()[0]),
            "geocoded": np.int64(con.execute(
                "SELECT COUNT(*) FROM points WHERE lat IS NOT NULL"
            ).fetchone()[0]),
        }
        if zones:
            # a point in a zone lies in its bbox: the prefilter only
            # spares the half-plane test the points far from every zone
            con.execute(
                "CREATE VIEW pages AS SELECT pt_id AS doc_id, lat, lon "
                "FROM points WHERE lat IS NOT NULL AND EXISTS (SELECT 1 FROM "
                f"{zone_bbox_values_sql()} WHERE lon BETWEEN xmin AND xmax "
                "AND lat BETWEEN ymin AND ymax)")
            r = con.execute(
                f"WITH {_pip_sql()} SELECT zone_fid, COUNT(*) FROM pip "
                "GROUP BY zone_fid ORDER BY zone_fid").fetchnumpy()
            out["zone_fid"], out["zone_n"] = (
                r["zone_fid"].astype(np.int64), r["count_star()"].astype(np.int64))
        pts = con.execute("SELECT COALESCE(lat, 'NaN'::DOUBLE) AS lat, "
                          "COALESCE(lon, 'NaN'::DOUBLE) AS lon FROM points"
                          ).fetchnumpy()
        out["lat"], out["lon"] = pts["lat"], pts["lon"]
        parts = []
        for z in range(min_zoom, BASE_ZOOM + 1):
            tx, ty = sqlexpr.tile_sql("lat", "lon", z)
            parts.append(
                f"SELECT {z} AS z, {tx} AS tx, {ty} AS ty, COUNT(*) AS n "
                "FROM points WHERE lat IS NOT NULL GROUP BY 2, 3")
        r = con.execute(" UNION ALL ".join(parts)
                        + " ORDER BY z, tx, ty").fetchnumpy()
        for k in ("z", "tx", "ty", "n"):
            out[k] = r[k].astype(np.int64)
        return out
    finally:
        con.close()
