"""gdal_grid analogs — point-cloud -> grid-node interpolation (SURVEY.md §2 R8/J4).

Reference semantics: ``alg/gdalgrid.cpp : GDALGridInverseDistanceToAPower
(≈L150), GDALGridNearestNeighbor (≈L800), GDALGridDataMetricCount /
GDALGridDataMetricAverageDistance (≈L1000+)`` — for every output grid node,
gather the input points inside a search neighbourhood and reduce (inverse-
distance weighted mean, nearest value, or data metrics).

Spark-first shapes (no |Q|x|P| cross join anywhere):

- kNN-neighbourhood variants ride :func:`knn.knn_join` — the grid-partitioned
  ring-expansion join (cell-keyed equi-join + sound rect bound), so each
  query touches only nearby tiles and the plan is a sequence of shuffle
  equi-joins Catalyst understands.
- the radius variant generates each query's covering tile range natively
  (``sequence`` + two ``explode``s — whole-stage codegen, no Python) and
  equi-joins points on (tx, ty); candidate volume is bounded by the search
  radius, never by |P|. Skewed hot tiles are defused the same way as the
  spatial join (AQE skew join stays on; candidate fan-out is per-query
  bounded).

Weights use ``1 / max(dist, eps)^power`` — the eps floor plays the role of
gdal_grid's ``smoothing`` for coincident points (an exact hit dominates the
sum instead of dividing by zero), and keeps the formula identical in the
DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, cells, knn

EPS_M = 1e-9


def idw_interpolate(
    queries: DataFrame,
    points: DataFrame,
    value_col: str = "value",
    k: int = 8,
    power: float = 2.0,
    z: int | None = None,
    method: str = "grid",
    qid: str = "qid",
    pid: str = "pid",
) -> DataFrame:
    """Inverse-distance-to-a-power over the k nearest points per query node.

    Returns (qid, n_pts, idw_value) with idw_value = sum(v*w)/sum(w),
    w = 1/max(dist_m, eps)^power. ``method="grid"`` uses the scale path
    (ring-expansion kNN); ``"brute"`` the broadcast cross-join baseline.
    """
    join_fn = knn.knn_join if method == "grid" else knn.knn_bruteforce
    nn = join_fn(queries, points, k=k, qid=qid, pid=pid, **({"z": z} if method == "grid" else {}))
    vals = points.select(F.col(pid), F.col(value_col).alias("_v"))
    w = F.lit(1.0) / F.pow(F.greatest(F.col("dist_m"), F.lit(EPS_M)), F.lit(power))
    return (
        nn.join(vals, pid)
        .withColumn("_w", w)
        .groupBy(qid)
        .agg(
            F.count("*").alias("n_pts"),
            (F.sum(F.col("_v") * F.col("_w")) / F.sum("_w")).alias("idw_value"),
        )
    )


def _tile_range(lon, lat, radius_m: float, z: int):
    """Native-column covering tile range for a haversine disc: the disc fits
    inside the lon/lat rect lat±dlat, lon±dlat/cos(|lat|+dlat) (sound on the
    sphere for |lat|+dlat <= 89). Queries whose rect reaches past 89° of
    latitude (near-polar disc) fall back to the FULL tx range — the secant
    bound is no longer sound there, and a polar disc can legitimately span
    every meridian — so correctness never depends on a clamp.

    DOMAIN: tile-keyed operators index only the Web-Mercator tiling domain,
    |lat| <= 85.0511 — a point beyond it has an out-of-range tile id and is
    deterministically absent from every result (same contract as the XYZ
    tile assignment itself). Within that domain the returned range always
    covers the disc. The tx range is UNWRAPPED (may run past [0, 2^z)) so
    antimeridian-crossing discs cover both sides — the caller must ``pmod``
    each generated tx; its width is capped at 2^z so no disc ever
    duplicates a tile."""
    import math

    dlat = math.degrees(radius_m / cells.HAVERSINE_RADIUS)
    over_pole = (F.abs(lat) + F.lit(dlat)) > F.lit(89.0)
    dlon = F.lit(dlat) / F.cos(F.radians(F.abs(lat) + F.lit(dlat)))
    n = F.lit((1 << z) - 1)
    lat_lo = F.greatest(lat - F.lit(dlat), F.lit(-85.05))
    lat_hi = F.least(lat + F.lit(dlat), F.lit(85.05))
    txa, tya = cells.lonlat_to_tile_tms(lon - dlon, lat_lo, z)
    txb, tyb = cells.lonlat_to_tile_tms(lon + dlon, lat_hi, z)
    txa = F.when(over_pole, F.lit(0)).otherwise(txa)
    txb = F.when(over_pole, n).otherwise(F.least(txb, txa + n))
    clamp = lambda c: F.greatest(F.least(c, n), F.lit(0))  # noqa: E731
    return txa, txb, clamp(tya), clamp(tyb)


def radius_metrics(
    queries: DataFrame,
    points: DataFrame,
    radius_m: float,
    z: int = 8,
    value_col: str = "value",
    qid: str = "qid",
    pid: str = "pid",
) -> DataFrame:
    """gdal_grid data-metrics + average in a search radius, per query node.

    Returns (qid, n_pts, avg_value, avg_dist_m, min_dist_m) for queries with
    >=1 point inside radius_m (nodes with an empty neighbourhood are absent —
    the caller left-joins back if it wants gdal_grid's nodata fill).

    Supported domain is the Web-Mercator tiling domain (|lat| <= 85.0511)
    for both sides; see ``_tile_range``. Near-polar query discs fall back to
    scanning the full tx row range, so in-domain results are exact even when
    the disc crosses the antimeridian or nears the pole.
    """
    lon, lat = F.col("_qlon"), F.col("_qlat")
    q = queries.select(
        F.col(qid), F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat")
    )
    txa, txb, tya, tyb = _tile_range(lon, lat, radius_m, z)
    cand_tiles = (
        q.withColumn("_txa", txa).withColumn("_txb", txb)
        .withColumn("_tya", tya).withColumn("_tyb", tyb)
        .select(
            qid, "_qlon", "_qlat",
            F.explode(F.sequence("_txa", "_txb")).alias("_txu"),
            F.col("_tya"), F.col("_tyb"),
        )
        .select(
            qid, "_qlon", "_qlat",
            F.pmod(F.col("_txu"), F.lit(1 << z)).alias("p_tx"),
            F.explode(F.sequence("_tya", "_tyb")).alias("p_ty"),
        )
    )
    ptx, pty = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), z)
    pts = points.select(
        F.col(pid), F.col(value_col).alias("_v"),
        F.col("lon").alias("_plon"), F.col("lat").alias("_plat"),
        ptx.alias("p_tx"), pty.alias("p_ty"),
    )
    dist = cells.haversine_m(
        F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")
    )
    return (
        cand_tiles.join(pts, ["p_tx", "p_ty"])
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= radius_m)
        .groupBy(qid)
        .agg(
            F.count("*").alias("n_pts"),
            F.avg("_v").alias("avg_value"),
            F.avg("dist_m").alias("avg_dist_m"),
            F.min("dist_m").alias("min_dist_m"),
        )
    )


def nearest_value(
    queries: DataFrame,
    points: DataFrame,
    value_col: str = "value",
    z: int | None = None,
    qid: str = "qid",
    pid: str = "pid",
) -> DataFrame:
    """GDALGridNearestNeighbor: value of the single nearest point (ties by
    pid asc, inherited from knn_join's total order)."""
    nn = knn.knn_join(queries, points, k=1, z=z, qid=qid, pid=pid)
    vals = points.select(F.col(pid), F.col(value_col).alias("nearest_value"))
    return nn.join(vals, pid).select(qid, pid, "dist_m", "nearest_value")


# ---------------------------------------------------------------------------
# gdal_grid -a linear (alg/gdalgrid.cpp : GDALGridLinear ≈L600, which rides
# a global Delaunay of the point cloud): TIN barycentric interpolation.
# ---------------------------------------------------------------------------

def np_delaunay(pts: np.ndarray) -> np.ndarray:
    """Bowyer-Watson Delaunay triangulation: (n,2) points -> (m,3) vertex
    index triangles. O(n^2) — meant for the per-tile neighborhoods the
    engine hands it (hundreds of points), not global clouds."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return np.empty((0, 3), dtype=np.int64)
    cx, cy = pts.mean(axis=0)
    span = max(pts[:, 0].ptp(), pts[:, 1].ptp(), 1.0) * 64.0
    sup = np.array(
        [[cx - 2 * span, cy - span], [cx + 2 * span, cy - span], [cx, cy + 2 * span]]
    )
    P = np.vstack([pts, sup])

    def circum_ok(tri, pi):
        a, b, c = P[tri[0]], P[tri[1]], P[tri[2]]
        d = P[pi]
        # orient CCW, then in-circumcircle = positive lifted determinant
        if (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]) < 0:
            b, c = c, b
        m = np.array([
            [a[0] - d[0], a[1] - d[1], (a[0] - d[0]) ** 2 + (a[1] - d[1]) ** 2],
            [b[0] - d[0], b[1] - d[1], (b[0] - d[0]) ** 2 + (b[1] - d[1]) ** 2],
            [c[0] - d[0], c[1] - d[1], (c[0] - d[0]) ** 2 + (c[1] - d[1]) ** 2],
        ])
        return np.linalg.det(m) > 0.0

    tris = [(n, n + 1, n + 2)]
    for i in range(n):
        bad = [t for t in tris if circum_ok(t, i)]
        edge_count: dict = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_count[k] = edge_count.get(k, 0) + 1
        boundary = [e for e, cnt in edge_count.items() if cnt == 1]
        bad_set = set(bad)
        tris = [t for t in tris if t not in bad_set]
        tris.extend((a, b, i) for a, b in boundary)
    out = [t for t in tris if max(t) < n]
    return np.asarray(out, dtype=np.int64) if out else np.empty((0, 3), dtype=np.int64)


def np_tin_interpolate(pts, vals, qx, qy):
    """Piecewise-linear TIN interpolation: NaN outside the convex hull.
    For each Delaunay triangle, barycentric-interpolate the queries it
    contains (vectorized over queries)."""
    pts = np.asarray(pts, dtype=np.float64)
    vals = np.asarray(vals, dtype=np.float64)
    qx = np.asarray(qx, dtype=np.float64)
    qy = np.asarray(qy, dtype=np.float64)
    out = np.full(len(qx), np.nan)
    eps = 1e-12
    for a, b, c in np_delaunay(pts):
        ax, ay = pts[a]
        bx, by = pts[b]
        cx, cy = pts[c]
        den = (by - cy) * (ax - cx) + (cx - bx) * (ay - cy)
        if abs(den) < eps:
            continue
        w1 = ((by - cy) * (qx - cx) + (cx - bx) * (qy - cy)) / den
        w2 = ((cy - ay) * (qx - cx) + (ax - cx) * (qy - cy)) / den
        w3 = 1.0 - w1 - w2
        inside = (w1 >= -eps) & (w2 >= -eps) & (w3 >= -eps) & np.isnan(out)
        out[inside] = (
            w1[inside] * vals[a] + w2[inside] * vals[b] + w3[inside] * vals[c]
        )
    return out


def linear_interpolate(
    queries: DataFrame,
    points: DataFrame,
    z: int = 3,
    value_col: str = "value",
    qid: str = "qid",
) -> DataFrame:
    """gdal_grid -a linear over grid nodes: per-tile TIN with a 1-ring halo.

    Spark shape: nodes group by their (tx, ty); points are replicated to
    their own tile AND its 8 neighbors (one native explode — the halo), and
    the two sides meet in a ``cogroup().applyInArrow`` that triangulates
    each tile's halo'd point set once and interpolates all of the tile's
    nodes. Scale contract (documented divergence from gdal_grid's GLOBAL
    Delaunay): triangles are local to the 3x3-tile neighborhood — exact
    for fields that are planar at tile scale and for any point set whose
    hull edges don't span more than a tile; pick z so neighborhoods hold
    O(10^2-10^3) points. Nodes outside the local hull are dropped
    (gdal_grid nodata)."""
    qtx, qty = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), z)
    q2 = queries.select(
        F.col(qid), F.col("lon"), F.col("lat"),
        qtx.alias("tx"), qty.alias("ty"),
    )
    ptx, pty = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), z)
    n = 1 << z
    p2 = (
        points.select(
            F.col("lon").alias("plon"), F.col("lat").alias("plat"),
            F.col(value_col).alias("pval"),
            ptx.alias("ptx"), pty.alias("pty"),
        )
        .select(
            "plon", "plat", "pval",
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
            "ptx", "pty",
        )
        .select(
            "plon", "plat", "pval", "ptx", "pty", "dx",
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        )
        .select(
            "plon", "plat", "pval",
            F.pmod(F.col("ptx") + F.col("dx"), F.lit(n)).alias("tx"),
            (F.col("pty") + F.col("dy")).alias("ty"),
        )
        .filter((F.col("ty") >= 0) & (F.col("ty") < n))
    )

    out_ddl = f"{qid} long, lin_value double"
    out_schema = arrowrows.arrow_schema(out_ddl)

    # grouped Arrow UDFs stay unannotated: PySpark 4.1 applyInArrow fails
    # on partly annotated functions
    def interp(q, p):
        if q.num_rows == 0 or p.num_rows < 3:
            return out_schema.empty_table()
        qids, qlon, qlat = (q.column(c).to_numpy() for c in (qid, "lon", "lat"))
        plon, plat, pval = (p.column(c).to_numpy() for c in ("plon", "plat", "pval"))
        vals = np_tin_interpolate(np.column_stack([plon, plat]), pval, qlon, qlat)
        ok = ~np.isnan(vals)
        return arrowrows.columns_table([qids[ok], vals[ok]], out_schema)

    return (
        q2.groupBy("tx", "ty")
        .cogroup(p2.groupBy("tx", "ty"))
        .applyInArrow(interp, schema=out_ddl)
    )
