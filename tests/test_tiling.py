"""Tile pyramid (gdal_spark/operators/tiling.py): the one-aggregate
pyramid equals per-zoom recomputation from the points, the property
that XYZ halving (tests/test_mercator.py) makes legal."""

from functools import reduce

import pytest
from conftest import SF_SMOKE

from gdal_spark.operators import tiling
from gdal_spark.queries import points_df


@pytest.fixture(scope="module")
def base(spark):
    pts = points_df(spark, SF_SMOKE).cache()
    return pts, tiling.tile_counts(pts, 12).cache()


def _same_rows(a, b):
    assert a.dtypes == b.dtypes
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pyramid_equals_per_zoom_tile_counts(base):
    pts, b = base
    want = reduce(lambda x, y: x.unionByName(y),
                  [tiling.tile_counts(pts, z) for z in range(13)])
    _same_rows(tiling.pyramid(b, min_zoom=0), want)


@pytest.mark.parametrize("min_zoom", [12, 14])
def test_pyramid_at_or_above_base_zoom_is_base(base, min_zoom):
    """min_zoom >= z gives the base level only; at 14 this needs the
    greatest(z - min_zoom, 0) guard, else the shifts go negative."""
    _, b = base
    _same_rows(tiling.pyramid(b, min_zoom=min_zoom), b)
