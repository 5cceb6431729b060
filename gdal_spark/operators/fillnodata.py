"""FillNodata — interpolate nodata regions from surrounding values.

Reference: alg/rasterfill.cpp GDALFillNodata (the gdal_fillnodata
utility): for each nodata pixel a FOUR-QUADRANT conic search finds, per
quadrant, the Euclidean-closest valid pixel (top quadrants include the
current row, bottom quadrants start one row below; left quadrants
include the own column, right quadrants start one column right —
rasterfill.cpp:779-851), then inverse-distance-weights the <=4 found
values (weight = 1/dist, accepted while dist <= max_search_dist;
rasterfill.cpp:884-914). The reference implements the search as two
sequential scanline passes (top-down / bottom-up "last known value per
column" work rasters, rasterfill.cpp:628-758) — inherently serial
across rows.

The distributed re-expression keeps the EXACT candidate set with a
scale-friendly shape:

1. per-column vertical propagation is a plain window function
   (partitionBy(px) orderBy(py), last/first value IGNORE NULLS) — the
   same "last known value per column" the reference's work rasters
   hold, but shuffle-partitioned by column instead of scanned by row;
2. the horizontal cone scan becomes a bounded offset join: each nodata
   pixel joins the column summaries of the 2*D+1 columns within the
   search radius (an explode of a literal offset array — rows scale
   linearly with raster size for fixed D, never quadratically);
3. per-quadrant argmin by (dist^2, |dx|) replicates the reference's
   scan order tie-break (step ascending, strict '<' keeps the first
   find — rasterfill.cpp:326-345 QUAD_CHECK), with dist^2 kept in
   exact integer arithmetic;
4. the <=4 quadrant hits are pivoted into fixed columns so the IDW
   sum runs in a deterministic left-to-right order (TL, BL, TR, BR —
   the reference's quadrant enum order) — bit-reproducible across
   engines, no float-sum-order hazard.

Deviation (documented): the reference accumulates in float32 work
rasters; this pipeline stays in float64 end-to-end (Spark/DuckDB
column type) — on integer-valued fixtures the results coincide.

The reference's optional 3x3 smoothing passes (GDALFilterLine,
rasterfill.cpp:41-130) run only on interpolated pixels; smoothing=0
(the gdal_fillnodata.py default) is the gated configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def column_summaries(grid: DataFrame) -> DataFrame:
    """grid(py, px, val, valid) -> (py, px, valid, val, top_y, top_v,
    bot_y, bot_v): per column the nearest valid pixel at-or-above
    (top, includes the current row) and strictly below (bot) — the
    reference's two work rasters, as window functions."""
    wtop = (Window.partitionBy("px").orderBy("py")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wbot = (Window.partitionBy("px").orderBy("py")
            .rowsBetween(1, Window.unboundedFollowing))
    vy = F.when(F.col("valid"), F.col("py"))
    vv = F.when(F.col("valid"), F.col("val"))
    return grid.select(
        "py", "px", "valid", "val",
        F.last(vy, ignorenulls=True).over(wtop).alias("top_y"),
        F.last(vv, ignorenulls=True).over(wtop).alias("top_v"),
        F.first(vy, ignorenulls=True).over(wbot).alias("bot_y"),
        F.first(vv, ignorenulls=True).over(wbot).alias("bot_v"))


def quadrant_hits(grid: DataFrame, maxdist: float,
                  width: int | None = None) -> DataFrame:
    """Per-quadrant winners for every nodata pixel: (py, px, quad,
    dist2, v) with dist <= maxdist. Column offsets span
    |d| <= floor(maxdist) — the reference's iStep bound
    (nMaxSearchDist = floor(dfMaxSearchDist), rasterfill.cpp:411).

    With ``width`` given, pixels on the LAST column replay the
    reference's edge clamp: iRightX = min(nXSize-1, iX+iStep)
    (rasterfill.cpp:814) degenerates to the pixel's own column there,
    so the TOP_RIGHT/BOTTOM_RIGHT quadrants see the own-column
    candidates too — the same valid pixel then contributes weight in
    TWO quadrants (pinned by the autotest mask-smoothing golden:
    corner fill 8.333 = 5@4 once + 10@4 twice). No mirrored quirk on
    the first column: iLeftX clamps onto the own column, which the
    left quadrants already include at iStep 0."""
    import math

    s = column_summaries(grid)
    nodata = s.filter(~F.col("valid")).select("py", "px")
    dmax = int(math.floor(maxdist))
    offs = F.array(*[F.lit(d) for d in range(-dmax, dmax + 1)])
    cand = (nodata
            .select("py", "px", F.explode(offs).alias("d"))
            .withColumn("cx", F.col("px") + F.col("d"))
            .join(s.select(F.col("px").alias("cx"), "py",
                           "top_y", "top_v", "bot_y", "bot_v"),
                  ["cx", "py"]))
    # two candidate rows per (pixel, column): the top propagation
    # (quadrants 0/2 — includes the current row) and the bottom one
    # (quadrants 1/3 — strictly below). Quadrant ids follow the
    # reference enum: 0=TL 1=BL 2=TR 3=BR (left includes d=0).
    top = cand.filter(F.col("top_y").isNotNull()).select(
        "py", "px", "d",
        F.when(F.col("d") <= 0, F.lit(0)).otherwise(F.lit(2)).alias("quad"),
        (F.col("d") * F.col("d")
         + (F.col("py") - F.col("top_y")) * (F.col("py") - F.col("top_y"))
         ).alias("dist2"),
        F.col("top_v").alias("v"))
    bot = cand.filter(F.col("bot_y").isNotNull()).select(
        "py", "px", "d",
        F.when(F.col("d") <= 0, F.lit(1)).otherwise(F.lit(3)).alias("quad"),
        (F.col("d") * F.col("d")
         + (F.col("bot_y") - F.col("py")) * (F.col("bot_y") - F.col("py"))
         ).alias("dist2"),
        F.col("bot_v").alias("v"))
    quads = top.unionByName(bot)
    if width is not None:
        edge = (F.col("px") == width - 1) & (F.col("d") == 0)
        quads = (quads
                 .unionByName(top.filter(edge)
                              .withColumn("quad", F.lit(2)))
                 .unionByName(bot.filter(edge)
                              .withColumn("quad", F.lit(3))))
    wq = Window.partitionBy("py", "px", "quad").orderBy("dist2", F.abs("d"))
    return (quads.withColumn("rn", F.row_number().over(wq))
            .filter((F.col("rn") == 1)
                    & (F.col("dist2") <= maxdist * maxdist))
            .select("py", "px", "quad", "dist2", "v"))


def fillnodata(grid: DataFrame, maxdist: float,
               exclude_value: float | None = None,
               width: int | None = None) -> DataFrame:
    """grid(py, px, val, valid) -> (py, px, fill, nq) for every nodata
    pixel with at least one quadrant hit within maxdist: fill = the
    reference's 4-quadrant IDW value (round 6), nq = quadrant count.

    ``exclude_value`` is the NODATA option of GDALFillNodata
    (rasterfill.cpp:381-383,888-898): the exclusion applies AFTER
    quadrant selection — an excluded winner still occupies its
    quadrant (shadowing farther pixels) but contributes no weight;
    when every in-range winner is excluded the pixel is set to the
    exclude value itself (the fNoData write at :915). ``width``
    enables the last-column quadrant duplication (see
    quadrant_hits)."""
    best = quadrant_hits(grid, maxdist, width=width)
    # pivot the <=4 quadrant hits to fixed columns: the IDW sum then
    # runs in the reference's TL,BL,TR,BR order in BOTH engines
    w_ = F.lit(1.0) / F.sqrt(F.col("dist2").cast("double"))
    use = F.lit(True) if exclude_value is None \
        else (F.col("v") != F.lit(float(exclude_value)))
    piv = best.groupBy("py", "px").agg(
        *[F.coalesce(F.max(F.when((F.col("quad") == q) & use, w_)),
                     F.lit(0.0)).alias(f"w{q}") for q in range(4)],
        *[F.coalesce(F.max(F.when((F.col("quad") == q) & use,
                                  F.col("v") * w_)),
                     F.lit(0.0)).alias(f"wv{q}") for q in range(4)],
        F.count("*").alias("nq"))
    num = F.col("wv0") + F.col("wv1") + F.col("wv2") + F.col("wv3")
    den = F.col("w0") + F.col("w1") + F.col("w2") + F.col("w3")
    fill = F.round(num / den, 6) if exclude_value is None else \
        F.when(den > 0, F.round(num / den, 6)) \
         .otherwise(F.lit(float(exclude_value)))
    return piv.select("py", "px", fill.alias("fill"),
                      F.col("nq").cast("int").alias("nq"))


def fillnodata_nearest(grid: DataFrame, maxdist: float,
                       exclude_value: float | None = None,
                       width: int | None = None) -> DataFrame:
    """INTERPOLATION=NEAREST (rasterfill.cpp:855-884): the fill is the
    nearest in-range quadrant winner, ties broken by quadrant order
    TL, BL, TR, BR (the loop takes strictly-closer only, so the first
    of equals sticks). With ``exclude_value``, excluded winners never
    update the running nearest (the :862-866 guard skips the value AND
    the distance update), so the result is the argmin over non-excluded
    winners; a pixel whose in-range winners are all excluded is set to
    the exclude value."""
    best = quadrant_hits(grid, maxdist, width=width)
    if exclude_value is None:
        usable = best
    else:
        usable = best.filter(F.col("v") != F.lit(float(exclude_value)))
    wn = Window.partitionBy("py", "px").orderBy("dist2", "quad")
    near = (usable.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select("py", "px", F.col("v").cast("double").alias("fill")))
    if exclude_value is None:
        return near
    blocked = (best.select("py", "px").distinct()
               .join(near.select("py", "px"), ["py", "px"], "left_anti")
               .select("py", "px",
                       F.lit(float(exclude_value)).alias("fill")))
    return near.unionByName(blocked)


def smooth3x3(t: DataFrame, iterations: int,
              height: int | None = None) -> DataFrame:
    """The reference's post-fill smoothing passes (GDALMultiFilter /
    GDALFilterLine, rasterfill.cpp:41-130,140-316): each iteration
    replaces every INTERPOLATED pixel (fmask) by the plain average of
    the 3x3 window pixels that are valid-or-interpolated (tmask),
    including itself; original valid pixels never change. One
    scatter-pivot shuffle per iteration (9-slot explode — the
    neighbors9 idiom — plus a self slot that carries each pixel's own
    row, so the plan reads the previous pass once and grows linearly
    with ``iterations``), summed in the reference's fixed scan order
    (prev row x-1,x,x+1 / current / next) for cross-engine
    bit-reproducibility.

    With ``height`` given, pixels on the FIRST and LAST raster row are
    never filtered (they still contribute to neighbors): the
    reference's explicit per-iteration skip in GDALMultiFilter
    (rasterfill.cpp:258-263 "TODO: Enable first and last line") —
    pinned by the mask-smoothing golden in
    tests/test_autotest_parity.py. Left/right edge columns ARE
    filtered (GDALFilterLine truncates the window).

    t: (py, px, val, tmask, fmask) — val may be null on never-filled
    nodata pixels (tmask false); they neither update nor contribute.
    Returns the same shape with val smoothed."""
    # slot numbered from the RECEIVING pixel's view (source at relative
    # (-dy, -dx)): slot 0..8 = prev row x-1,x,x+1 / current / next —
    # the reference's scan order, so the pivoted sum replays it. Slot
    # SELF carries the pixel's own row through the same shuffle, so a
    # pass reads its input once (no join back onto ``t``).
    def slot(dy, dx, k):
        return F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"),
                        F.lit(k).alias("slot"))

    SELF = 9
    own = [slot(0, 0, SELF)]
    window = own + [slot(dy, dx, (1 - dy) * 3 + (1 - dx))
                    for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    emits = F.when(F.col("tmask"), F.array(*window)).otherwise(F.array(*own))

    def mine(c):
        return F.max(F.when(F.col("slot") == SELF, F.col(c)))

    apply = F.col("fmask")
    if height is not None:
        apply = apply & (F.col("py") >= 1) & (F.col("py") <= height - 2)
    for _ in range(iterations):
        nb = (t.select("py", "px", "val", "tmask", "fmask",
                       F.explode(emits).alias("s"))
              .select((F.col("py") + F.col("s.dy")).alias("py"),
                      (F.col("px") + F.col("s.dx")).alias("px"),
                      F.col("s.slot").alias("slot"), "val", "tmask", "fmask"))
        piv = nb.groupBy("py", "px").agg(
            *[F.max(F.when(F.col("slot") == k, F.col("val"))).alias(f"n{k}")
              for k in range(9)],
            mine("val").alias("val"), mine("tmask").alias("tmask"),
            mine("fmask").alias("fmask"),
            F.max(F.col("slot") == SELF).alias("_self"))
        num = None
        cnt = None
        for k in range(9):
            term = F.coalesce(F.col(f"n{k}"), F.lit(0.0))
            hit = F.when(F.col(f"n{k}").isNotNull(), 1).otherwise(0)
            num = term if num is None else num + term
            cnt = hit if cnt is None else cnt + hit
        t = (piv.filter("_self")
             .select("py", "px",
                     F.when(apply, num / cnt)
                     .otherwise(F.col("val")).alias("val"),
                     "tmask", "fmask"))
    return t
