"""Tile pyramid — gdal2tiles' base-tiles + overview cascade as DataFrame
aggregations.

Reference pipeline (osgeo_utils/gdal2tiles.py): base tiles at max zoom
(create_base_tile:1278), overview tiles built from their 4 children
(create_overview_tile:1466), parallelized by a process pool
(:4515-4560). ``gdal raster tile`` (apps/gdalalg_raster_tile.cpp) is the
same with an OGC TileMatrixSet registry.

Spark shape: per-page tile assignment is pure column math
(mercator.tile_cols — no UDF, fully codegen'd); the pyramid is one
explode-to-ancestors aggregate: each base tile emits its ancestor
``tx >> k, ty >> k`` at every level k above it and one groupBy sums
them. That is the reference's overview stage because XYZ halving is
exact — the ceil−1 tile rule commutes with integer halving
(tests/test_mercator.py::test_xyz_flip_and_parent_halving) — so an
ancestor's count is a plain sum over its base tiles.

Skew: hot tiles (urban hotspots / hot TLD centroids burn one tile with
a large fraction of all pages) are harmless for counts because Spark's
partial aggregation combines map-side. For high-cardinality per-tile
payload aggregations (e.g. collecting page lists), ``salted_agg``
two-phases the aggregation over a salt column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.geo import mercator as M
from gdal_spark.session import full_width


def assign_tiles(points: DataFrame, z: int, lat_col: str = "lat",
                 lon_col: str = "lon") -> DataFrame:
    tx, ty = M.tile_cols(F.col(lat_col), F.col(lon_col), z)
    return (points.filter(F.col(lat_col).isNotNull())
            .withColumn("z", F.lit(z)).withColumn("tx", tx).withColumn("ty", ty))


def tile_counts(points: DataFrame, z: int, lat_col: str = "lat",
                lon_col: str = "lon") -> DataFrame:
    """Pages per tile at zoom ``z``, at full width (``full_width``).

    The counts are a few MB even at millions of pages, so a stage sized
    by their bytes would run the pyramid's explode, which multiplies
    each row by its level count, on a few cores. They are hashed by
    16×16 tile block, so a task holds whole subtrees four levels deep
    and its partial sums over them are as few as one task's."""
    counts = (assign_tiles(points, z, lat_col, lon_col)
              .groupBy("z", "tx", "ty").agg(F.count("*").alias("n_pages")))
    return full_width(counts, F.expr("shiftright(tx, 4)"),
                      F.expr("shiftright(ty, 4)"))


def pyramid(base_counts: DataFrame, min_zoom: int = 0) -> DataFrame:
    """Every level from the base zoom down to ``min_zoom`` in one
    aggregate: each base tile is exploded to its ancestors (``k`` levels
    up is ``tx >> k, ty >> k``) and the counts summed once. This is
    create_overview_tile:1466's ADD merge of children, applied k times.
    The zoom is read per row, so no probe job runs. When
    ``min_zoom >= z`` only the base level is returned."""
    up = base_counts.select("*", F.explode(F.sequence(
        F.lit(0), F.greatest(F.col("z") - min_zoom, F.lit(0)))).alias("k"))
    return (up.groupBy(F.expr("z - k AS z"), F.expr("shiftright(tx, k) AS tx"),
                       F.expr("shiftright(ty, k) AS ty"))
            .agg(F.sum("n_pages").alias("n_pages")))


def tile_pngs(tiles: DataFrame, tile_size: int = 32,
              vmax: float = 255.0) -> DataFrame:
    """Tile pixel rows → real PNG tile ARTIFACTS (the gdal2tiles.py
    output contract: one greyscale PNG per (level, ty, tx)): pixels
    quantize to 8-bit by v/vmax·255 (round-half-up, the GDALCopyWords
    rule) and each tile group encodes via the from-scratch stdlib-zlib
    codec (geo/png.py). One applyInPandas task per tile — bounded
    tile_size² work units, shuffle only on the tile key the pyramid
    already grouped by. Missing pixels inside a tile render as 0 (the
    PNG nodata-black convention gdal2tiles uses without alpha).

    Output: (level, ty, tx, n_px, png binary)."""
    import pandas as pd

    import numpy as np

    from gdal_spark.geo.png import encode_png

    def _enc(key, pdf):
        level, ty, tx = int(key[0]), int(key[1]), int(key[2])
        img = np.zeros((tile_size, tile_size), dtype=np.uint8)
        yy = pdf["py"].to_numpy(np.int64) % tile_size
        xx = pdf["px"].to_numpy(np.int64) % tile_size
        q = np.clip(np.floor(pdf["v"].to_numpy(np.float64)
                             / vmax * 255.0 + 0.5), 0, 255)
        img[yy, xx] = q.astype(np.uint8)
        return pd.DataFrame({"level": [level], "ty": [ty], "tx": [tx],
                             "n_px": [len(pdf)],
                             "png": [encode_png(img)]})

    return (full_width(tiles, "level", "ty", "tx")
            .groupBy("level", "ty", "tx")
            .applyInPandas(_enc, "level int, ty long, tx long, "
                                 "n_px long, png binary"))


def salted_agg(df: DataFrame, keys: list[str], agg_exprs: list, salt: int = 16,
               merge_exprs: list | None = None,
               salt_cols: list[str] | None = None) -> DataFrame:
    """Two-phase aggregation with explicit salting for skewed keys
    (north-rule skew handling; complements AQE skew-join splitting).

    Phase 1 groups by (keys + salt) so one hot key spreads over `salt`
    reducers; phase 2 merges the partials. ``agg_exprs`` must be
    algebraic (sum/count/min/max); pass ``merge_exprs`` when the merge
    differs (count → sum).

    The salt must vary WITHIN a key group but be DETERMINISTIC per row
    (a ``rand()`` salt is recomputed on task retry, breaking
    partial-aggregate exactly-once). ``salt_cols`` names row attributes
    to hash; by default every non-key column is hashed, so two rows of
    the same hot key land on different reducers while any given row
    always lands on the same one."""
    scols = salt_cols or [c for c in df.columns if c not in keys]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*scols), F.lit(salt)))
    part = salted.groupBy(*keys, "_salt").agg(*agg_exprs)
    return part.groupBy(*keys).agg(*(merge_exprs or agg_exprs)).drop("_salt")


def quadkey_col(tx, ty, z: int):
    """Bing quadkey string (gdal2tiles.py:518-533) as column math."""
    digits = []
    for i in range(z, 0, -1):
        digit = (F.shiftright(tx, i - 1).bitwiseAND(F.lit(1))
                 + F.shiftright(ty, i - 1).bitwiseAND(F.lit(1)) * F.lit(2))
        digits.append(digit.cast("string"))
    return F.concat(*digits) if digits else F.lit("")
