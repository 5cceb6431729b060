"""Plan-shape regression guards.

The bench plan audits (BENCH.md) verified these physical-plan
properties by hand; these tests pin them so a refactor that silently
reintroduces a shuffle or a global window fails CI, not the next
benchmark read-through."""

from conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_broadcasts_cover_not_pages(spark):
    """Flagship PIP join: the polygon cell cover is broadcast; the
    page side is never sort-merge-joined (the 100-TB contract: big
    side flows through map-side joins only). The exact test is part of
    the join condition: no Python hop and no union of re-scanning
    branches."""
    from gdal_spark.queries import REGISTRY
    df = REGISTRY["pip_join"][0](spark, SF_SMOKE)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "Union"):
        assert node not in plan, node


def test_ann_topk_is_take_ordered(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heaps), not
    a rank window over every scored row shuffled to one task — the
    round-1 regression this guards against."""
    from gdal_spark.queries import REGISTRY
    for name in ("ann_cosine", "ivf_ann"):
        plan = _plan(REGISTRY[name][0](spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan, name


def test_dsir_model_is_broadcast(spark):
    """DSIR: the bucket model joins the corpus via broadcast — the
    corpus must not be exchanged for the model join."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["dsir_weights"][0](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_select_where_pushes_filters(spark):
    """Attribute filters must reach the parquet scan (PushedFilters),
    and the scan must prune to the selected columns."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["select_where"][0](spark, SF_SMOKE))
    scan = plan[plan.index("FileScan"):][:1200]
    i = scan.index("PushedFilters: [")
    rest = scan[i + len("PushedFilters: ["):]
    assert not rest.startswith("]"), "PushedFilters list is empty"
    assert "IsNotNull" in rest[:200] or "StringStartsWith" in rest[:200]


def test_point_sample_single_tap_join(spark):
    """gdallocationinfo batch sampling: the 5 taps resolve through
    ONE join against the pixel table (no per-tap join chain, no
    cartesian)."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["point_sample"][0](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    joins = plan.count("HashJoin") + plan.count("SortMergeJoin")
    assert joins <= 1, f"expected one tap join, saw {joins}"


def test_dup_spans_no_cartesian(spark):
    """Duplicated-span measure: gram-key equi-joins only — an
    accidental theta-join over the exploded gram table would be the
    O(n^2) regression."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["dup_spans"][0](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_range_frame_no_self_join(spark):
    """RANGE-framed window must stay a window (one exchange + sort),
    never a range self-join."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["window_range_frame"][0](spark, SF_SMOKE))
    assert "Join" not in plan
    assert "Window" in plan


def test_raster_cdf_window_on_aggregate_only(spark):
    """The cumulative window must run above the histogram aggregate
    (tiny input), not over the pixel table."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["raster_cdf"][0](spark, SF_SMOKE))
    w = plan.index("Window")
    agg = plan.rindex("HashAggregate")
    # physical plan prints top-down: Window above the final aggregate
    assert w < agg, "window must consume the aggregate, not pixels"


def test_triangle_wedge_joins_are_hash(spark):
    """Oriented triangle enumeration: wedge and closing joins must be
    hash equi-joins with the b<c predicate riding the wedge join as a
    post-condition. (The 1-row corpus-count broadcast legitimately
    plans as a nested-loop with a single-row build side — that one is
    allowed; a cartesian over the edge table is not.)"""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["triangle_count"][0](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_shp_join_file_broadcasts_dim(spark):
    """File-file OGR join: the idlink.dbf dim side must broadcast —
    no SortMergeJoin between the two file scans (the 100-TB
    contract: fact-side shapefile partitions flow map-side)."""
    from gdal_spark.queries import REGISTRY
    plan = _plan(REGISTRY["shp_join_file"][0](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_shapefile_scan_partitions_by_record_block(spark):
    """The shapefile source plans one InputPartition per record
    block from the .shx index — Spark sees a parallel PythonScan,
    not a single-slice collect."""
    from gdal_spark.sources.shapefile import ShapefileDataSource
    spark.dataSource.register(ShapefileDataSource)
    df = (spark.read.format("shapefile")
          .option("records_per_block", 2)
          .load("/root/reference/autotest/ogr/data/poly.shp"))
    assert df.rdd.getNumPartitions() == 5
    assert "PythonScan" in _plan(df) or "BatchScan" in _plan(df)


def test_pyramid_is_one_aggregate(spark):
    """The tile pyramid is one explode-to-ancestors aggregate: building
    it runs no driver probe job, and its plan is the base plan plus one
    shuffle, with no per-zoom union branches."""
    from gdal_spark.operators import tiling
    from gdal_spark.queries import points_df
    base = tiling.tile_counts(points_df(spark, SF_SMOKE), 12)
    sc = spark.sparkContext
    group = "test_pyramid_is_one_aggregate"
    sc.setJobGroup(group, group)
    try:
        pyr = tiling.pyramid(base, 0)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = _plan(pyr)
    assert "Union" not in plan
    assert plan.count("Exchange") == _plan(base).count("Exchange") + 1


def _codegen_subtrees(df) -> list[tuple[str, int]]:
    """(plan text, largest generated method in bytes) per whole-stage
    codegen subtree of ``df``'s executed plan. The size is the one
    Spark's compiler reports to
    ``CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE``; read per
    plan, it is free of other queries run in the same JVM."""
    jvm = df.sparkSession._jvm
    seq = jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(
        df._jdf.queryExecution().executedPlan())
    return [(seq.apply(i)._1(), seq.apply(i)._3().maxMethodCodeSize())
            for i in range(seq.size())]


def test_pip_join_stage_stays_under_jit_limit(spark):
    """The join's exact test is a fixed number of edge slots read from
    the broadcast cover, so the join stays in whole-stage codegen with
    every generated method under HotSpot's 8000-byte compile limit, and
    the predicate text is the same for the fixture zones and for a
    layer ten times their size."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures import ZONES
    from gdal_spark.operators import spatial_join as sj
    from gdal_spark.queries import points_df
    big = [dict(z, zone_fid=10 * i + z["zone_fid"],
                rings=[[(x + 1.5 * i, y) for x, y in r] for r in z["rings"]])
           for i in range(10) for z in ZONES]
    texts = []
    for zones in (ZONES, big):
        df = (sj.pip_join(points_df(spark, SF_SMOKE), spark, zones=zones)
              .groupBy("zone_fid").agg(F.count("*")))
        df.collect()
        stages = _codegen_subtrees(df)
        assert any("BroadcastHashJoin" in text for text, _ in stages)
        assert max(size for _, size in stages) < 8000, stages
        zoom, cover = sj.zone_cell_cover(zones)
        texts.append(sj.pip_sql(sj._slot_count(cover)))
    assert texts[0] == texts[1]
