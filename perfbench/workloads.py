"""The benchmark's workloads, written against the engine's public
functions: one timed job each, its output check, and the traced layer
spans.

A traced span is a Spark job group around one call into a layer. Each
layer span reads an input that was materialised (written to parquet)
just before it, under a separate group, so the span holds only that
layer's own work; the layer's output is run through Spark's ``noop``
sink, which computes every column and stores nothing.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

BASE_ZOOM = 12
STAGES = ("geocoded", "tile_base", "tile_pyramid")


@dataclass
class Ctx:
    spark: object
    input_dir: str       # holds lineitem.parquet
    scratch: str         # job outputs, removed after each check
    expected: dict       # oracle arrays (perfbench.oracle.expected)
    pages: int           # input rows
    n_jobs: int = 0

    def fresh_dir(self, tag: str) -> str:
        self.n_jobs += 1
        return os.path.join(self.scratch, f"{tag}-{self.n_jobs}")


class Tracer:
    """Job-group spans with their wall times, kept in memory; the
    Spark-side numbers are read from the event log after the session
    stops (perfbench.eventlog)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.wall[name] = time.monotonic() - t0
            self.sc.setJobGroup("untraced", "untraced")


# ---------------------------------------------------------- output checks

def _same(got: dict, want: dict, keys) -> bool:
    return all(np.array_equal(got[k], want[k]) for k in keys)


def _sorted_arrays(table, cols: dict[str, str]) -> dict[str, np.ndarray]:
    """Arrow table → int64 arrays (renamed by ``cols``) sorted by the
    key columns in order."""
    arr = {new: table.column(old).to_numpy().astype(np.int64)
           for old, new in cols.items()}
    keys = [k for k in arr if k not in ("n", "zone_n")]
    order = np.lexsort([arr[k] for k in reversed(keys)])
    return {k: v[order] for k, v in arr.items()}


def _tiles_match(ctx: Ctx, table) -> bool:
    got = _sorted_arrays(table, {"z": "z", "tx": "tx", "ty": "ty",
                                 "n_pages": "n"})
    return _same(got, ctx.expected, ("z", "tx", "ty", "n"))


def _zones_match(ctx: Ctx, table) -> bool:
    got = _sorted_arrays(table, {"zone_fid": "zone_fid", "n_pages": "zone_n"})
    return _same(got, ctx.expected, ("zone_fid", "zone_n"))


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files are parquet parts."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-")
    return size, files


# --------------------------------------------------------------- flagship

def flagship_job(ctx: Ctx) -> dict:
    """geocode → cover-cell broadcast PIP join → per-zone counts, plus
    z12 tile counts and the z12→z6 pyramid, collected to the driver."""
    from pyspark.sql import functions as F

    from gdal_spark.operators import spatial_join as sj
    from gdal_spark.operators import tiling
    from gdal_spark.queries import points_df

    spark = ctx.spark
    pts = points_df(spark, ctx.input_dir)
    hits = sj.pip_join(pts, spark, point_fid="pt_id")
    zones = hits.groupBy("zone_fid").agg(F.count("*").alias("n_pages"))
    tiles = tiling.pyramid(tiling.tile_counts(pts, BASE_ZOOM), min_zoom=6)
    return {"zones": zones.toArrow(), "tiles": tiles.toArrow()}


def flagship_check(ctx: Ctx, out: dict) -> dict:
    return {"ok": _zones_match(ctx, out["zones"])
            and _tiles_match(ctx, out["tiles"])}


# ----------------------------------------------------------- tile_publish

def _publish(spark, store, input_dir: str, tracer: Tracer | None = None):
    """geocoded → z12 tile_base → pyramid z12→z0 partitioned by z, each
    stage committed through the snapshot store (a committed stage is
    resumed, not recomputed)."""
    from gdal_spark.operators import tiling
    from gdal_spark.queries import points_df

    span = (tracer.span if tracer else lambda _: contextlib.nullcontext())
    with span("checkpoint.run_stage.geocoded"):
        g = store.run_stage(spark, "geocoded",
                            lambda: points_df(spark, input_dir))
    with span("checkpoint.run_stage.tile_base"):
        b = store.run_stage(spark, "tile_base",
                            lambda: tiling.tile_counts(g, BASE_ZOOM),
                            inputs=["geocoded"])
    with span("checkpoint.run_stage.tile_pyramid"):
        store.run_stage(spark, "tile_pyramid",
                        lambda: tiling.pyramid(b, min_zoom=0),
                        partition_by="z", inputs=["tile_base"])


def _lose_last_commit(store) -> None:
    os.remove(store._manifest_path("tile_pyramid"))


def tile_publish_job(ctx: Ctx) -> dict:
    """Publish, lose the final commit, publish again (which resumes)."""
    from gdal_spark.pipeline.checkpoint import SnapshotStore

    store = SnapshotStore(ctx.fresh_dir("snapshots"))
    _publish(ctx.spark, store, ctx.input_dir)
    _lose_last_commit(store)
    t0 = time.monotonic()
    _publish(ctx.spark, store, ctx.input_dir)
    return {"store": store, "resume_s": time.monotonic() - t0}


def tile_publish_check(ctx: Ctx, out: dict) -> dict:
    store = out["store"]
    table = ctx.spark.read.parquet(store.data_path("tile_pyramid")).toArrow()
    size, _ = _dir_stats(store.base)
    shutil.rmtree(store.base)
    return {"ok": _tiles_match(ctx, table), "resume_s": out["resume_s"],
            "snapshot_bytes_per_page": size / ctx.pages}


# ------------------------------------------------------------ layer spans

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialise(ctx: Ctx, tracer: Tracer, df, tag: str) -> tuple[str, int]:
    path = ctx.fresh_dir(tag)
    with tracer.span(f"materialise.{tag}"):
        df.write.parquet(path)
        rows = ctx.spark.read.parquet(path).count()
    return path, rows


def trace_points_df(ctx: Ctx, tracer: Tracer, m: dict) -> str:
    from gdal_spark.queries import points_df

    with tracer.span("queries.points_df"):
        _noop(points_df(ctx.spark, ctx.input_dir))
    path, m["queries.points_df.rows_out"] = _materialise(
        ctx, tracer, points_df(ctx.spark, ctx.input_dir), "geocoded")
    return path


def trace_cover(ctx: Ctx, tracer: Tracer, m: dict) -> None:
    """The driver-side cover build: no Spark job, so wall time only."""
    from gdal_spark.operators import spatial_join as sj

    t0 = time.monotonic()
    zoom, cover = sj.zone_cell_cover()
    sj.build_cover_df(ctx.spark, cover, zoom)
    m["spatial_join.cover.build_s"] = time.monotonic() - t0
    m["spatial_join.cover.zoom"] = zoom
    m["spatial_join.cover.cells"] = len(cover)
    m["spatial_join.cover.full_share"] = float(cover["full"].mean())


def trace_pip_join(ctx: Ctx, tracer: Tracer, m: dict, geocoded: str) -> None:
    from gdal_spark.operators import spatial_join as sj

    def hits():
        pts = ctx.spark.read.parquet(geocoded)
        return sj.pip_join(pts, ctx.spark, point_fid="pt_id")

    with tracer.span("spatial_join.pip_join"):
        _noop(hits())
    _, m["spatial_join.pip_join.hits"] = _materialise(
        ctx, tracer, hits(), "hits")


def trace_tile_counts(ctx: Ctx, tracer: Tracer, m: dict, geocoded: str) -> str:
    from gdal_spark.operators import tiling

    def base():
        return tiling.tile_counts(ctx.spark.read.parquet(geocoded), BASE_ZOOM)

    with tracer.span("tiling.tile_counts"):
        _noop(base())
    path, m["tiling.tile_counts.rows_out"] = _materialise(
        ctx, tracer, base(), "tile_base")
    return path


def trace_pyramid(ctx: Ctx, tracer: Tracer, m: dict, tile_base: str,
                  min_zoom: int) -> None:
    from gdal_spark.operators import tiling

    def pyr():
        return tiling.pyramid(ctx.spark.read.parquet(tile_base), min_zoom)

    with tracer.span("tiling.pyramid"):
        _noop(pyr())
    _, m["tiling.pyramid.rows_out"] = _materialise(ctx, tracer, pyr(), "pyramid")


def trace_checkpoint(ctx: Ctx, tracer: Tracer, m: dict) -> None:
    """One publish with a span per committed stage, then a resume span
    after the final commit is lost."""
    from gdal_spark.pipeline.checkpoint import SnapshotStore

    store = SnapshotStore(ctx.fresh_dir("snapshots"))
    _publish(ctx.spark, store, ctx.input_dir, tracer)
    for stage in STAGES:
        _, m[f"checkpoint.run_stage.{stage}.files_written"] = _dir_stats(
            store.data_path(stage))
    m["checkpoint.bytes_per_page"] = _dir_stats(store.base)[0] / ctx.pages
    before = {s: store.manifest(s)["snapshot_id"] for s in STAGES}
    _lose_last_commit(store)
    with tracer.span("checkpoint.resume"):
        _publish(ctx.spark, store, ctx.input_dir)
    m["checkpoint.resume.stages_recomputed"] = sum(
        store.manifest(s)["snapshot_id"] != before[s] for s in STAGES)
    shutil.rmtree(store.base)


def flagship_layers(ctx: Ctx, tracer: Tracer) -> dict:
    m: dict = {}
    geocoded = trace_points_df(ctx, tracer, m)
    trace_cover(ctx, tracer, m)
    trace_pip_join(ctx, tracer, m, geocoded)
    tile_base = trace_tile_counts(ctx, tracer, m, geocoded)
    trace_pyramid(ctx, tracer, m, tile_base, min_zoom=6)
    return m


def tile_publish_layers(ctx: Ctx, tracer: Tracer) -> dict:
    m: dict = {}
    geocoded = trace_points_df(ctx, tracer, m)
    tile_base = trace_tile_counts(ctx, tracer, m, geocoded)
    trace_pyramid(ctx, tracer, m, tile_base, min_zoom=0)
    trace_checkpoint(ctx, tracer, m)
    return m


@dataclass
class Workload:
    name: str
    why: str
    pages: int            # lineitem rows generated per run
    min_zoom: int         # lowest pyramid level the job produces
    zones: bool           # does the job produce per-zone counts
    warm_passes: int      # untimed passes after the cold one (set-up)
    job: object
    check: object
    layers: object
    report: list = field(default_factory=list)


#: Sizes and warm-up follow the run budget: every run pays 6-10 s of
#: JVM and session start plus a 10-40 s cold pass (the host's other
#: guests halve its speed at times). In the pass after the cold one the
#: JIT is still compiling and the tasks' CPU runs 10-25% above the next
#: passes, so each workload has one warm pass. A flagship job is mostly
#: driver-side planning (executors are busy about a fifth of its wall
#: time).
WORKLOADS = {
    "flagship": Workload(
        "flagship",
        "the ROADMAP headline job in memory: real work on geocode, cover "
        "join, Python refine, tiles and pyramid",
        pages=200_000, min_zoom=6, zones=True, warm_passes=1,
        job=flagship_job, check=flagship_check, layers=flagship_layers),
    "tile_publish": Workload(
        "tile_publish",
        "snapshot-committed z12 to z0 pyramid with a resume: writes beside "
        "reads, no join, so it is the control for join changes",
        pages=100_000, min_zoom=0, zones=False, warm_passes=1,
        job=tile_publish_job, check=tile_publish_check,
        layers=tile_publish_layers,
        report=["resume_s", "snapshot_bytes_per_page"]),
}
