"""Grid-partitioned kNN join with cell-ring expansion (SURVEY.md §2.3 J4).

Reference semantics: ``alg/gdalgrid.cpp : GDALGridNearestNeighbor (≈L800)``
— for each output point, scan candidate input points inside a growing search
ellipse, keep the nearest (max_points caps at k). Single-threaded, per-point
loop in the reference.

Spark-first redesign: both sides keyed by Web-Mercator tile coordinates at a
fixed zoom. Per round r, remaining queries explode a CONSTANT Chebyshev-ring
offset array (``cells.ring_offsets``) and equi-join candidates on (tx, ty) —
a plain shuffle join Catalyst plans (broadcastable query side). Distances
are a native haversine Column; top-k is the one true window op the engine
needs (``row_number() over (partition by qid order by dist, id)`` —
SURVEY.md §2.5 W2).

Termination is SOUND, not heuristic: after searching rings 0..r the covered
region is a lon/lat-aligned rect; a query is finished only when it has >= k
candidates whose k-th haversine distance <= a lower bound on the distance to
the rect's exterior:

- to the north/south edges: R * |dlat|            (exact minimal distance)
- to the east/west edges:   R * asin(sin|dlon| * cos lat)   (cross-track
  distance to the full meridian — a lower bound for the edge segment)

so no closer point can exist outside the searched region. Unfinished queries
continue with doubled ring radius; a final brute-force pass catches anything
still open at the max radius (also the degenerate z where the rect wraps the
world). Results match the brute-force oracle exactly, ties broken by point
id ascending (FIXTURES.md golden/knn.json contract).

At 100 TB: the expensive side (points) is scanned once per round but only
the *remaining* queries re-join; round 0 finishes almost all queries in
dense regions, and the per-round candidate set is bounded by ring area x
local density, so no executor ever materializes a cross join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import arrowrows, cells


def _with_tile(df: DataFrame, z: int, lon: str, lat: str, prefix: str) -> DataFrame:
    tx, ty = cells.lonlat_to_tile_tms(F.col(lon), F.col(lat), z)
    return df.withColumn(f"{prefix}tx", tx).withColumn(f"{prefix}ty", ty)


def _rect_bound_m(lon, lat, qtx, qty, r: int, z: int):
    """Sound lower bound (meters) to the exterior of the searched tile rect.

    The x direction is PERIODIC (candidate tiles wrap at the antimeridian via
    pmod), so the west/east bounds use the sin-based cross-meridian distance
    on the UNWRAPPED rect edges — |sin| is 360°-periodic, which makes the
    bound wrap-correct — and become infinite only when the ring covers every
    tx (no x-exterior exists). The y direction does not wrap: a rect clamped
    at the top/bottom tile row has no exterior there (all points live inside
    the Mercator tiling domain)."""
    n = (1 << z) - 1
    txa = qtx - r
    txb = qtx + r
    tya = F.greatest(qty - r, F.lit(0))
    tyb = F.least(qty + r, F.lit(n))
    lo = cells.tile_bounds_lonlat(txa, tya, z)
    hi = cells.tile_bounds_lonlat(txb, tyb, z)
    lon0, lat0 = lo["lon_min"], lo["lat_min"]
    lon1, lat1 = hi["lon_max"], hi["lat_max"]
    rad = math.pi / 180.0
    R = cells.HAVERSINE_RADIUS
    d_n = F.lit(R) * (lat1 - lat) * rad
    d_s = F.lit(R) * (lat - lat0) * rad
    coslat = F.cos(lat * rad)
    d_w = F.lit(R) * F.asin(F.least(F.abs(F.sin((lon - lon0) * rad)) * coslat, F.lit(1.0)))
    d_e = F.lit(R) * F.asin(F.least(F.abs(F.sin((lon1 - lon) * rad)) * coslat, F.lit(1.0)))
    inf = F.lit(float("inf"))
    if 2 * r + 1 >= (1 << z):
        d_w = inf
        d_e = inf
    d_s = F.when(qty - r <= 0, inf).otherwise(d_s)
    d_n = F.when(qty + r >= n, inf).otherwise(d_n)
    return F.least(d_n, d_s, d_e, d_w)


def auto_zoom(n_points: int, k: int) -> int:
    """Pick the grid zoom so an AVERAGE tile holds well under one point
    (4^z ≈ 64·n). Erring fine is the right call under Zipf skew: empty-tile
    probes are near-free hash lookups, while one coarse hot tile turns
    round 0 into |Q_hot|·|hot tile| candidate rows (measured 47M rows at
    z=8 on the 400k-point skewed fixture vs ~1M at z=12; interleaved A/B on
    the same fixture: z=13 beats z=12 by ~3x wall because the hot-city tile
    population drops 4x again). Dense-region queries finish in round 0 with
    a tight rect bound; sparse queries walk the ring schedule and land in
    the vectorized brute fallback, which is exact regardless of z."""
    import math as _m

    return max(4, min(14, int(_m.log(max(n_points, 2), 4)) + 4))


def _topk_salted(
    cand: DataFrame, k: int, qid: str, pid: str, wnd, n_salts: int = 32
) -> DataFrame:
    """Exact top-k per query in two window stages: stage 1 partitions by
    (qid, hash(pid) % n_salts) — the map-side-combine analog for top-k, so
    no single reducer sees more than ~1/n_salts of a hot query's candidates;
    stage 2 ranks the surviving <= k*n_salts rows per query. Both stages
    order by (dist_m, pid), so the final k-set equals the unsalted window's."""
    w1 = Window.partitionBy(qid, "_salt").orderBy(F.col("dist_m"), F.col(pid))
    s1 = (
        cand.withColumn("_salt", F.pmod(F.xxhash64(F.col(pid)), F.lit(n_salts)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= k)
        .drop("_r", "_salt")
    )
    return (
        s1.withColumn("_r", F.row_number().over(wnd))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def _fallback_partition_topk(
    rem: DataFrame, points: DataFrame, k: int, qid: str, pid: str,
) -> DataFrame:
    """Exact kNN for straggler queries: broadcast the (small) query set,
    one numpy pass over the points partitions keeping a running top-k per
    query per PARTITION (vectorized haversine matrix per Arrow batch), then
    a global top-k window over only n_partitions * k rows per query.

    This is the scale-correct brute force: the big side is scanned once and
    never shuffled; shuffle volume is O(partitions * k * |Q|)."""
    import numpy as np

    spark = rem.sparkSession
    qrows = rem.select(qid, "_qlon", "_qlat").collect()
    if not qrows:
        return None
    qids = np.array([r[0] for r in qrows])
    qlon = np.array([r[1] for r in qrows])
    qlat = np.array([r[2] for r in qrows])
    bc = spark.sparkContext.broadcast((qids, qlon, qlat))
    id_field = points.schema[pid].dataType.simpleString()
    qid_field = rem.schema[qid].dataType.simpleString()
    ddl = f"{qid} {qid_field}, {pid} {id_field}, dist_m double"
    schema = arrowrows.arrow_schema(ddl)

    def flush(*cols):
        return arrowrows.columns_table(
            [np.concatenate(c) for c in cols], schema).to_batches()

    def run(batches):
        ids, lon, lat = bc.value
        nq = len(ids)
        # query-chunked distance matrices with buffers reused across batches:
        # big first-touch allocations in forked Python workers measured
        # 10-30x slower than warm on virtualized hosts, so keep every
        # temporary small (<= QCHUNK x arrow-batch doubles) and steady
        QCHUNK = 64
        rad = np.pi / 180.0
        qla = (lat * rad).astype(np.float64)
        qlo = (lon * rad).astype(np.float64)
        cql = np.cos(qla)
        # flush the accumulated superset every ~256k rows: memory stays
        # O(flush threshold) however many Arrow batches the partition has;
        # the caller's final (dist_m, pid) window merges the partial yields
        FLUSH_ROWS = 1 << 18
        out_q, out_p, out_d, out_n = [], [], [], 0
        for b in batches:
            nb = len(b)
            if nb == 0:
                continue
            pids_np, plo, pla = (c.to_numpy(zero_copy_only=False)
                                 for c in b.columns)
            pla = pla.astype(np.float64) * rad
            plo = plo.astype(np.float64) * rad
            cpl = np.cos(pla)
            kk = min(k, nb)
            for s in range(0, nq, QCHUNK):
                e = min(s + QCHUNK, nq)
                dlat = (pla[None, :] - qla[s:e, None]) * 0.5
                dlon = (plo[None, :] - qlo[s:e, None]) * 0.5
                np.sin(dlat, out=dlat)
                dlat *= dlat
                np.sin(dlon, out=dlon)
                dlon *= dlon
                dlon *= cql[s:e, None] * cpl[None, :]
                dlat += dlon
                np.sqrt(np.clip(dlat, 0.0, 1.0, out=dlat), out=dlat)
                np.arcsin(dlat, out=dlat)
                d = dlat
                d *= 2.0 * cells.HAVERSINE_RADIUS
                # keep, per query, every row with dist <= the k-th smallest
                # (k + exact ties — a superset of any tie-broken top-k); the
                # caller's final (dist, pid) window makes the global choice
                part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
                dk = d[np.arange(e - s)[:, None], part].max(axis=1)
                qi, pj = np.nonzero(d <= dk[:, None])
                out_q.append(ids[s + qi])
                out_p.append(pids_np[pj])
                out_d.append(d[qi, pj])
                out_n += len(qi)
            if out_n >= FLUSH_ROWS:
                yield from flush(out_q, out_p, out_d)
                out_q, out_p, out_d, out_n = [], [], [], 0
        if out_q:
            yield from flush(out_q, out_p, out_d)

    return points.select(pid, "_plon", "_plat").mapInArrow(run, schema=ddl)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    z: int | None = None,
    ring: int = 2,
    level_step: int = 3,
    brute_threshold: int = 4096,
    qid: str = "qid",
    pid: str = "image_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    p_lon: str = "lon",
    p_lat: str = "lat",
) -> DataFrame:
    """Return (qid, rank, <pid>, dist_m) — exact kNN, ties by pid asc.

    Hierarchical grid search, pure JVM until the (tiny) straggler tail:

    1. tile both sides at a FINE base zoom (``auto_zoom``: ≈1/16 point per
       tile — erring fine is right under Zipf skew, empty-tile probes are
       free hash lookups while one coarse hot tile explodes the candidate
       count);
    2. per LEVEL, equi-join each open query's (2·ring+1)² wrapped tile
       neighborhood (native ``pmod`` keys) against the points, take the
       salted two-stage top-k, and close queries whose k-th distance beats
       the sound rect bound;
    3. open queries descend to a 2^level_step× coarser zoom — coarse tile
       ids are bit-shifts of the cached base-z tile columns, so no retiling
       scan — whose ring neighborhood strictly contains the finer one
       (candidates are re-derived per level, never accumulated, so no
       cross-level dedupe is needed);
    4. once fewer than ``brute_threshold`` queries remain (sparse-region
       stragglers), one vectorized Arrow pass over the points finishes them
       exactly; small query count keeps the per-batch distance matrices in
       cache (big first-touch allocations in Python workers measured 10-30x
       slower than warm on this box — the hierarchy exists to keep Python
       matrices small, and everything before it in whole-stage codegen).

    Each level ends with ``localCheckpoint`` so the iterative plan's lineage
    stays flat. ``z=None`` picks the base zoom from the point count."""
    spark = queries.sparkSession
    if z is None:
        z = auto_zoom(points.count(), k)
    pts = _with_tile(
        points.select(F.col(pid), F.col(p_lon).alias("_plon"), F.col(p_lat).alias("_plat")),
        z, "_plon", "_plat", "p_",
    ).persist()
    remaining = _with_tile(
        queries.select(F.col(qid), F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat")),
        z, "_qlon", "_qlat", "q_",
    ).localCheckpoint()

    wnd = Window.partitionBy(qid).orderBy(F.col("dist_m"), F.col(pid))
    offs = [
        (dx, dy) for rr in range(ring + 1) for (dx, dy) in cells.ring_offsets(rr)
    ]
    off_df = F.broadcast(spark.createDataFrame(offs, schema="dx int, dy int"))
    finished: list[DataFrame] = []
    z_c = z
    while True:
        shift = z - z_c
        world_covered = (1 << z_c) <= 2 * ring + 1
        q_ctx = F.shiftright(F.col("q_tx"), shift)
        q_cty = F.shiftright(F.col("q_ty"), shift)
        probes = remaining.crossJoin(off_df).select(
            qid, "_qlon", "_qlat", "q_tx", "q_ty",
            # wrap at the antimeridian: tile x is periodic mod 2^z_c
            F.pmod(q_ctx + F.col("dx"), F.lit(1 << z_c)).alias("c_tx"),
            (q_cty + F.col("dy")).alias("c_ty"),
        )
        if world_covered:
            # every tile is inside the ring: dedupe wrapped revisits
            probes = probes.dropDuplicates([qid, "c_tx", "c_ty"])
        p_side = pts.withColumns(
            {
                "c_tx": F.shiftright(F.col("p_tx"), shift),
                "c_ty": F.shiftright(F.col("p_ty"), shift),
            }
        )
        cand = probes.join(p_side, ["c_tx", "c_ty"], "inner").select(
            qid, "_qlon", "_qlat", "q_tx", "q_ty", pid,
            cells.haversine_m(
                F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")
            ).alias("dist_m"),
        )
        topk = _topk_salted(cand, k, qid, pid, wnd).localCheckpoint()

        if world_covered:
            # the ring saw every point: all open queries are final
            finished.append(topk.select(qid, pid, "dist_m"))
            break
        # close queries whose k-th distance beats the sound rect bound
        stats = topk.groupBy(qid).agg(
            F.count("*").alias("n_cand"), F.max("dist_m").alias("kth_dist")
        )
        bound = _rect_bound_m(
            F.col("_qlon"), F.col("_qlat"), q_ctx, q_cty, ring, z_c
        )
        rem = (
            remaining.join(stats, qid, "left")
            .withColumn("bound_m", bound)
            .filter(
                (F.col("n_cand").isNull())
                | (F.col("n_cand") < k)
                | (F.col("kth_dist") > F.col("bound_m"))
            )
            .select(qid, "_qlon", "_qlat", "q_tx", "q_ty")
            .localCheckpoint()
        )
        n_rem = rem.count()
        finished.append(
            topk.join(rem.select(qid), qid, "left_anti").select(qid, pid, "dist_m")
        )
        if n_rem == 0:
            break
        remaining = rem
        if n_rem <= brute_threshold:
            bf = _fallback_partition_topk(remaining, pts, k, qid, pid)
            if bf is not None:
                # eager: materialize the brute tail now so pts can be
                # unpersisted before returning the (lazy) result plan
                finished.append(bf.localCheckpoint())
            break
        z_c = max(z_c - level_step, 0)

    # every `finished` entry is checkpoint-derived by now; release the
    # cached tiled points so repeated knn_join calls in one session do
    # not accumulate storage blocks (radius_metrics calls this per query)
    pts.unpersist()

    acc = finished[0]
    for extra in finished[1:]:
        acc = acc.unionByName(extra)

    out = (
        acc.select(qid, pid, "dist_m")
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select(qid, "rank", pid, "dist_m")
    )
    return out


def knn_bruteforce(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    qid: str = "qid",
    pid: str = "image_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    p_lon: str = "lon",
    p_lat: str = "lat",
) -> DataFrame:
    """Cross-join baseline (correctness oracle path; fine when |Q| small)."""
    q = queries.select(F.col(qid), F.col(q_lon).alias("_qlon"), F.col(q_lat).alias("_qlat"))
    p = points.select(F.col(pid), F.col(p_lon).alias("_plon"), F.col(p_lat).alias("_plat"))
    wnd = Window.partitionBy(qid).orderBy(F.col("dist_m"), F.col(pid))
    return (
        F.broadcast(q).crossJoin(p)
        .withColumn(
            "dist_m",
            cells.haversine_m(F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")),
        )
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select(qid, "rank", pid, "dist_m")
    )
