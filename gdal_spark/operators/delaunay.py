"""Delaunay linear interpolation — gdal_grid's `linear` algorithm
(alg/gdalgrid.cpp GDALGridLinear + alg/delaunay.c GDALTriangulate*):
triangulate the scattered points, then each grid node inside a
triangle gets the barycentric combination of the three vertex values;
nodes outside the hull are nodata (dropped — the reference's default
-nodata behaviour at radius 0).

Spark shape (two stages):

1. TRIANGULATE — TILE-PARALLEL with the streaming-Delaunay
   finalization contract (see ``triangulate``): points bucket into a
   spatial tile grid, each tile's task triangulates tile+halo points
   with the O(n²)-vectorized edge-flood kernel
   (``delaunay_flood_np``), vertices whose star provably equals the
   global star certify and emit, the rest retry with a doubled halo
   (total fallback: a halo covering the data bbox). The brute-force
   O(n³) kernel (``delaunay_triangles_np``) stays as the auditable
   reference semantics — the flood kernel re-verifies every triangle
   with the identical strict empty-circumcircle formula, so the
   accept criterion is the same. General position is assumed (exactly
   cocircular quads make the empty-triangle set non-unique; the
   brute-force reference emits ALL strictly-empty triangles there,
   the flood one triangulation of them — the gated fixtures are
   degeneracy-free and pytest pins tiled ≡ single-group ≡ brute).

2. INTERPOLATE — pure column math, fully distributed: each triangle
   explodes to the grid cells of its bbox (the scatter-to-cells idiom,
   gridding.py), barycentric weights filter containment, a window
   tie-breaks boundary nodes by (ia, ib, ic). No Python in this stage.

Float discipline: circumcenter, circumradius and barycentric formulas
are written with the SAME association order in numpy, Spark Column
expressions and the DuckDB oracle, so strict `<` / `>=` threshold
tests agree bit-for-bit (the repo-wide cross-engine rule; see
gridding.py). Duplicate coordinates (shared TLD centroids) are
deduplicated to min (pt_id, value) per (x, y) first — a Delaunay
precondition.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRI_SCHEMA = ("ia long, ib long, ic long, "
              "ax double, ay double, av double, "
              "bx double, by double, bv double, "
              "cx double, cy double, cv double")


def delaunay_triangles_np(pid: np.ndarray, x: np.ndarray, y: np.ndarray,
                          v: np.ndarray) -> pd.DataFrame:
    """All triples (i<j<k by pt_id) whose circumcircle strictly
    contains no other input point. Vectorized: circumcenters for every
    candidate triple at once, then a chunked (triangles × points)
    distance test. Formula shapes mirror the SQL oracle exactly."""
    n = len(pid)
    order = np.argsort(pid, kind="stable")
    pid, x, y, v = pid[order], x[order], y[order], v[order]
    if n < 3:
        return pd.DataFrame(columns=[c.split()[0]
                                     for c in TRI_SCHEMA.split(", ")])
    # all i<j<k triples, fully vectorized: explode each (i,j) pair of
    # np.triu_indices into its k = j+1..n-1 suffix via repeat+cumsum
    i2, j2 = np.triu_indices(n, k=1)
    counts = (n - 1 - j2).astype(np.int64)
    ii = np.repeat(i2, counts)
    jj = np.repeat(j2, counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    kk = (np.arange(counts.sum(), dtype=np.int64)
          - np.repeat(starts, counts) + np.repeat(j2 + 1, counts))
    ax, ay, av = x[ii], y[ii], v[ii]
    bx, by, bv = x[jj], y[jj], v[jj]
    cx, cy, cv = x[kk], y[kk], v[kk]
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    keep = d != 0.0
    ii, jj, kk = ii[keep], jj[keep], kk[keep]
    ax, ay, av = ax[keep], ay[keep], av[keep]
    bx, by, bv = bx[keep], by[keep], bv[keep]
    cx, cy, cv = cx[keep], cy[keep], cv[keep]
    d = d[keep]
    a2 = ax * ax + ay * ay
    b2 = bx * bx + by * by
    c2 = cx * cx + cy * cy
    ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
    uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
    r2 = (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy)
    empty = np.ones(len(d), dtype=bool)
    chunk = max(1, 20_000_000 // max(n, 1))
    for s in range(0, len(d), chunk):
        e = min(s + chunk, len(d))
        dx = x[None, :] - ux[s:e, None]
        dy = y[None, :] - uy[s:e, None]
        inside = (dx * dx + dy * dy) < r2[s:e, None]
        idx = np.arange(n)[None, :]
        own = ((idx == ii[s:e, None]) | (idx == jj[s:e, None])
               | (idx == kk[s:e, None]))
        empty[s:e] = ~np.any(inside & ~own, axis=1)
    m = empty
    return pd.DataFrame({
        "ia": pid[ii[m]], "ib": pid[jj[m]], "ic": pid[kk[m]],
        "ax": ax[m], "ay": ay[m], "av": av[m],
        "bx": bx[m], "by": by[m], "bv": bv[m],
        "cx": cx[m], "cy": cy[m], "cv": cv[m]})


def delaunay_flood_np(pid: np.ndarray, x: np.ndarray, y: np.ndarray,
                      v: np.ndarray) -> pd.DataFrame:
    """Edge-flood (gift-wrapping / advancing-front) Delaunay — the
    O(n²)-vectorized per-group kernel replacing the O(n³) brute-force
    triple enumeration (the reference links qhull for the same job,
    alg/delaunay.c). From a seed Delaunay edge (lexicographic-min point
    to its nearest neighbor), BFS across directed edges: the apex left
    of edge u→w is the candidate whose circumcenter lies FARTHEST
    against the left normal (min bisector offset t — the Delaunay wave
    property), an O(n) vectorized argmin per edge with no
    super-triangle and locally-conditioned arithmetic. Every produced
    triangle is re-VERIFIED with the exact same vectorized strict
    empty-circumcircle test as delaunay_triangles_np (identical formula
    text), so the accept criterion — and oracle parity — is unchanged."""
    n = len(pid)
    order = np.argsort(pid, kind="stable")
    pid, x, y, v = pid[order], x[order], y[order], v[order]
    cols = [c.split()[0] for c in TRI_SCHEMA.split(", ")]
    if n < 3:
        return pd.DataFrame(columns=cols)

    def apex_left(i: int, j: int) -> int:
        """Candidate k strictly left of i→j minimizing the circumcenter
        bisector offset; -1 if the left side is empty (hull edge)."""
        dx, dy = x[j] - x[i], y[j] - y[i]
        cross = dx * (y - y[i]) - dy * (x - x[i])
        cand = np.where(cross > 0.0)[0]
        if len(cand) == 0:
            return -1
        mx = (x[i] + x[j]) * 0.5 - x[cand]
        my = (y[i] + y[j]) * 0.5 - y[cand]
        # t = (|d|²/4 − |mid−p|²) / (2 (mid−p)·n), n = (−dy, dx) (unit-
        # free: same n for all candidates, ordering unaffected)
        num = (dx * dx + dy * dy) * 0.25 - (mx * mx + my * my)
        den = 2.0 * (mx * -dy + my * dx)
        t = num / den
        return int(cand[np.argmin(t)])

    # seed: lexicographic-min point and its nearest neighbor — the
    # nearest-neighbor edge is always a Delaunay edge
    a = int(np.lexsort((x, y))[0])
    d2 = (x - x[a]) ** 2 + (y - y[a]) ** 2
    d2[a] = np.inf
    b = int(np.argmin(d2))
    tris: set[tuple] = set()
    seen: set[tuple] = set()
    queue: list[tuple] = [(a, b), (b, a)]
    while queue:
        i, j = queue.pop()
        if (i, j) in seen:
            continue
        seen.add((i, j))
        k = apex_left(i, j)
        if k < 0:
            continue
        t = tuple(sorted((i, j, k)))
        tris.add(t)
        # explore outward: left of k→j and of i→k is away from this
        # triangle's interior (k is left of i→j)
        queue.append((k, j))
        queue.append((i, k))
    cand = sorted(tris)
    if not cand:
        return pd.DataFrame(columns=cols)
    ii = np.array([t[0] for t in cand])
    jj = np.array([t[1] for t in cand])
    kk = np.array([t[2] for t in cand])
    # verify with the EXACT brute-force criterion (same formula text)
    ax, ay, av = x[ii], y[ii], v[ii]
    bx, by, bv = x[jj], y[jj], v[jj]
    cx, cy, cv = x[kk], y[kk], v[kk]
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    keep = d != 0.0
    ii, jj, kk, d = ii[keep], jj[keep], kk[keep], d[keep]
    ax, ay, av = ax[keep], ay[keep], av[keep]
    bx, by, bv = bx[keep], by[keep], bv[keep]
    cx, cy, cv = cx[keep], cy[keep], cv[keep]
    a2 = ax * ax + ay * ay
    b2 = bx * bx + by * by
    c2 = cx * cx + cy * cy
    ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
    uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
    r2 = (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy)
    dx = x[None, :] - ux[:, None]
    dy = y[None, :] - uy[:, None]
    inside = (dx * dx + dy * dy) < r2[:, None]
    idx = np.arange(n)[None, :]
    own = ((idx == ii[:, None]) | (idx == jj[:, None]) | (idx == kk[:, None]))
    m = ~np.any(inside & ~own, axis=1)
    return pd.DataFrame({
        "ia": pid[ii[m]], "ib": pid[jj[m]], "ic": pid[kk[m]],
        "ax": ax[m], "ay": ay[m], "av": av[m],
        "bx": bx[m], "by": by[m], "bv": bv[m],
        "cx": cx[m], "cy": cy[m], "cv": cv[m]})


def triangulate(points: DataFrame, tiles_x: int = 4, tiles_y: int = 2,
                max_iter: int = 8) -> DataFrame:
    """points(pt_id, value, x, y) → the GLOBAL Delaunay triangle set,
    computed tile-parallel with the streaming-Delaunay finalization
    contract (Isenburg/Liu/Shewchuk/Snoeyink's criterion):

    1. bucket points into a tiles_x × tiles_y grid over the data bbox;
       each tile's group additionally receives every point within halo
       h of its bbox (replicated, column math);
    2. per group (one applyInPandas task per tile) run Bowyer-Watson
       over the group; an OWN vertex is CERTIFIED when its star is a
       closed fan (every incident edge shared by exactly 2 incident
       triangles — an exact integer test; open fan = local-hull vertex,
       never certifiable from partial data) and every incident
       circumcircle fits inside the halo'd bbox, where the group
       provably equals the global point set — then its local star IS
       its global star (Delaunay uniqueness in general position);
    3. each triangle is emitted exactly once: by the tile owning its
       MIN pt_id vertex, in the round that vertex certifies;
    4. uncertified vertices (near-hull, sparse regions) retry with the
       halo DOUBLED; once a tile's halo'd bbox covers the whole data
       bbox its group is the global set and every remaining own vertex
       certifies unconditionally. Convergence ≤ log2(domain/h0) rounds.

    The emitted set equals the single-group triangulation for ANY
    halo/tile choice (the certification is sufficient, the fallback
    total) — verified by pytest equality and the unchanged grid_linear
    oracle. The active-vertex bookkeeping is a DataFrame anti-joined
    per round (r3 VERDICT item 4): the driver never holds an
    O(n_points) set, only a per-round count; the activity flag reaches
    the tile kernels as a joined column, not a pickled closure set."""
    spark = points.sparkSession
    pts = points.select("pt_id", "value", "x", "y").persist()
    bb = pts.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).collect()[0]
    if bb[0] is None:
        return spark.createDataFrame([], TRI_SCHEMA)
    x0, x1, y0, y1 = (float(bb[0]), float(bb[1]), float(bb[2]), float(bb[3]))
    tw = max((x1 - x0) / tiles_x, 1e-9)
    th = max((y1 - y0) / tiles_y, 1e-9)
    h = 0.5 * max(tw, th)
    active_df = pts.select("pt_id").localCheckpoint(eager=True)
    n_active = active_df.count()
    out: DataFrame | None = None
    schema = TRI_SCHEMA + ", kind int"

    for _ in range(max_iter):
        halo = h

        def _kernel(key, pdf):
            tx, ty = int(key[0]), int(key[1])
            ex0 = x0 + tx * tw - halo
            ex1 = x0 + (tx + 1) * tw + halo
            ey0 = y0 + ty * th - halo
            ey1 = y0 + (ty + 1) * th + halo
            full = ex0 <= x0 and ex1 >= x1 and ey0 <= y0 and ey1 >= y1
            empty = pd.DataFrame(
                {c.split()[0]: pd.Series(dtype="float64")
                 for c in (TRI_SCHEMA + ", kind int").split(", ")})
            if not ((pdf["own"] == 1) & (pdf["act"] == 1)).any():
                return empty  # no active own vertex: nothing to emit
            tri = delaunay_flood_np(
                pdf["pt_id"].to_numpy(np.int64),
                pdf["x"].to_numpy(np.float64),
                pdf["y"].to_numpy(np.float64),
                pdf["value"].to_numpy(np.float64))
            cand = set(pdf.loc[(pdf["own"] == 1) & (pdf["act"] == 1),
                               "pt_id"].astype(int))
            # per-vertex incident triangles + edge fan counts
            inc: dict[int, list[int]] = {p: [] for p in cand}
            fan: dict[int, dict[int, int]] = {p: {} for p in cand}
            ta = tri["ia"].to_numpy() if len(tri) else np.array([], np.int64)
            tb = tri["ib"].to_numpy() if len(tri) else np.array([], np.int64)
            tc = tri["ic"].to_numpy() if len(tri) else np.array([], np.int64)
            if len(tri):
                ux = ((tri["ax"] * tri["ax"] + tri["ay"] * tri["ay"])
                      * (tri["by"] - tri["cy"])
                      + (tri["bx"] * tri["bx"] + tri["by"] * tri["by"])
                      * (tri["cy"] - tri["ay"])
                      + (tri["cx"] * tri["cx"] + tri["cy"] * tri["cy"])
                      * (tri["ay"] - tri["by"])) \
                    / (2.0 * (tri["ax"] * (tri["by"] - tri["cy"])
                              + tri["bx"] * (tri["cy"] - tri["ay"])
                              + tri["cx"] * (tri["ay"] - tri["by"])))
                uy = ((tri["ax"] * tri["ax"] + tri["ay"] * tri["ay"])
                      * (tri["cx"] - tri["bx"])
                      + (tri["bx"] * tri["bx"] + tri["by"] * tri["by"])
                      * (tri["ax"] - tri["cx"])
                      + (tri["cx"] * tri["cx"] + tri["cy"] * tri["cy"])
                      * (tri["bx"] - tri["ax"])) \
                    / (2.0 * (tri["ax"] * (tri["by"] - tri["cy"])
                              + tri["bx"] * (tri["cy"] - tri["ay"])
                              + tri["cx"] * (tri["ay"] - tri["by"])))
                r = np.sqrt((tri["ax"] - ux) ** 2 + (tri["ay"] - uy) ** 2)
                fits = ((ux - r >= ex0) & (ux + r <= ex1)
                        & (uy - r >= ey0) & (uy + r <= ey1)).to_numpy()
            else:
                fits = np.array([], dtype=bool)
            for t_i in range(len(tri)):
                vs = (int(ta[t_i]), int(tb[t_i]), int(tc[t_i]))
                for a in vs:
                    if a in inc:
                        inc[a].append(t_i)
                        for b_ in vs:
                            if b_ != a:
                                fan[a][b_] = fan[a].get(b_, 0) + 1
            certified = set()
            for p in cand:
                if full:
                    certified.add(p)
                    continue
                if not inc[p]:
                    continue
                if any(cnt != 2 for cnt in fan[p].values()):
                    continue  # open fan: p on the local hull
                if all(fits[t_i] for t_i in inc[p]):
                    certified.add(p)
            emit = [t_i for t_i in range(len(tri))
                    if min(int(ta[t_i]), int(tb[t_i]), int(tc[t_i]))
                    in certified]
            tri_out = tri.iloc[emit].copy() if emit else tri.iloc[:0].copy()
            tri_out["kind"] = 0
            srows = pd.DataFrame({
                "ia": sorted(certified),
                "kind": [1] * len(certified)})
            for c in tri_out.columns:
                if c not in srows.columns:
                    srows[c] = 0 if c in ("ib", "ic") else 0.0
            if not len(srows) and not len(tri_out):
                return empty
            return pd.concat([tri_out, srows[tri_out.columns]],
                             ignore_index=True)

        # tile t's group must contain every point of t's CLOSED expanded
        # bbox [t·tw − h, (t+1)·tw + h] (the fits/coverage tests treat it
        # as closed): t ≥ (x − x0 − h)/tw − 1 ⇒ ceil(z − 1), NOT floor(z)
        # — they differ exactly when z is integral, i.e. when the point
        # sits ON the expanded boundary, which must be INcluded
        nx_lo = F.greatest(F.lit(0), F.ceil(
            (F.col("x") - F.lit(x0) - F.lit(halo)) / F.lit(tw)
            - F.lit(1.0)).cast("int"))
        nx_hi = F.least(F.lit(tiles_x - 1), F.floor(
            (F.col("x") - F.lit(x0) + F.lit(halo)) / F.lit(tw)).cast("int"))
        ny_lo = F.greatest(F.lit(0), F.ceil(
            (F.col("y") - F.lit(y0) - F.lit(halo)) / F.lit(th)
            - F.lit(1.0)).cast("int"))
        ny_hi = F.least(F.lit(tiles_y - 1), F.floor(
            (F.col("y") - F.lit(y0) + F.lit(halo)) / F.lit(th)).cast("int"))
        home_x = F.least(F.lit(tiles_x - 1), F.greatest(F.lit(0), F.floor(
            (F.col("x") - F.lit(x0)) / F.lit(tw)).cast("int")))
        home_y = F.least(F.lit(tiles_y - 1), F.greatest(F.lit(0), F.floor(
            (F.col("y") - F.lit(y0)) / F.lit(th)).cast("int")))
        rep = (pts
               .join(active_df.withColumn("_act", F.lit(1)),
                     "pt_id", "left")
               .withColumn("act", F.coalesce(F.col("_act"), F.lit(0)))
               .drop("_act")
               .withColumn("_hx", home_x).withColumn("_hy", home_y)
               .withColumn("tx", F.explode(F.sequence(nx_lo, nx_hi)))
               .withColumn("ty", F.explode(F.sequence(ny_lo, ny_hi)))
               .withColumn("own", ((F.col("tx") == F.col("_hx"))
                                   & (F.col("ty") == F.col("_hy")))
                           .cast("int")))
        res = (rep.groupBy("tx", "ty")
               .applyInPandas(_kernel, schema).persist())
        tri_rows = res.filter(F.col("kind") == 0).drop("kind")
        done = (res.filter(F.col("kind") == 1)
                .select(F.col("ia").cast("long").alias("pt_id")))
        out = tri_rows if out is None else out.unionByName(tri_rows)
        # anti-join the certified ids out; localCheckpoint cuts the
        # per-round lineage (the frame is re-read next round AND drives
        # the loop count — the 2^t plan-blowup lesson)
        active_df = (active_df.join(done, "pt_id", "left_anti")
                     .localCheckpoint(eager=True))
        n_active = active_df.count()
        if n_active == 0:
            break
        h *= 2.0
    assert n_active == 0, "tile+halo Delaunay failed to converge"
    return out


def triangulate_single(points: DataFrame) -> DataFrame:
    """Single-group triangulation (the round-2 shape) — kept for tests
    and as the reference semantics the tiled path must reproduce."""

    def _tri(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            yield delaunay_triangles_np(
                pdf["pt_id"].to_numpy(np.int64),
                pdf["x"].to_numpy(np.float64),
                pdf["y"].to_numpy(np.float64),
                pdf["value"].to_numpy(np.float64))

    return (points.repartition(1).mapInPandas(_tri, TRI_SCHEMA))


def dedupe_coords(points: DataFrame, x_col: str = "lon",
                  y_col: str = "lat") -> DataFrame:
    """Min-(pt_id, value) representative per exact coordinate pair —
    the Delaunay general-position precondition for TLD-centroid
    duplicate coords."""
    w = Window.partitionBy(x_col, y_col).orderBy("pt_id", "value")
    return (points.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("pt_id", "value", F.col(x_col).alias("x"),
                    F.col(y_col).alias("y")))


def linear_interpolate(tri: DataFrame, x0: float, y0: float, dx: float,
                       dy: float, nx: int, ny: int) -> DataFrame:
    """Distributed stage: triangle → bbox cells (superset prune; the
    barycentric test is the exact filter) → containment + interp →
    boundary tie-break by (ia, ib, ic)."""
    min_x = F.least("ax", "bx", "cx")
    max_x = F.greatest("ax", "bx", "cx")
    min_y = F.least("ay", "by", "cy")
    max_y = F.greatest("ay", "by", "cy")
    cx_lo = F.greatest(F.lit(0), F.floor((min_x - x0) / dx - 1.0).cast("int"))
    cx_hi = F.least(F.lit(nx - 1), F.ceil((max_x - x0) / dx).cast("int"))
    cy_lo = F.greatest(F.lit(0), F.floor((max_y - y0) / dy - 1.0).cast("int"))
    cy_hi = F.least(F.lit(ny - 1), F.ceil((min_y - y0) / dy).cast("int"))
    t = (tri
         .withColumn("gcx", F.explode_outer(
             F.when(cx_lo <= cx_hi, F.sequence(cx_lo, cx_hi))))
         .withColumn("gcy", F.explode_outer(
             F.when(cy_lo <= cy_hi, F.sequence(cy_lo, cy_hi))))
         .filter(F.col("gcx").isNotNull() & F.col("gcy").isNotNull()))
    gx = F.lit(x0) + (F.col("gcx") + 0.5) * F.lit(dx)
    gy = F.lit(y0) + (F.col("gcy") + 0.5) * F.lit(dy)
    det = ((F.col("by") - F.col("cy")) * (F.col("ax") - F.col("cx"))
           + (F.col("cx") - F.col("bx")) * (F.col("ay") - F.col("cy")))
    w0 = ((F.col("by") - F.col("cy")) * (gx - F.col("cx"))
          + (F.col("cx") - F.col("bx")) * (gy - F.col("cy"))) / det
    w1 = ((F.col("cy") - F.col("ay")) * (gx - F.col("cx"))
          + (F.col("ax") - F.col("cx")) * (gy - F.col("cy"))) / det
    t = (t.withColumn("w0", w0).withColumn("w1", w1)
         .withColumn("w2", F.lit(1.0) - F.col("w0") - F.col("w1"))
         .filter((F.col("w0") >= 0.0) & (F.col("w1") >= 0.0)
                 & (F.col("w2") >= 0.0)))
    win = Window.partitionBy("gcy", "gcx").orderBy("ia", "ib", "ic")
    val = (F.col("w0") * F.col("av") + F.col("w1") * F.col("bv")
           + F.col("w2") * F.col("cv"))
    return (t.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select(F.col("gcy").alias("cy"), F.col("gcx").alias("cx"),
                    F.round(val, 6).alias("v")))
