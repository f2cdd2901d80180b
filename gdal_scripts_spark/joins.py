"""Spatial joins — the engine's signature operator family (SURVEY.md §2.3).

Reference semantics (public GDAL 3.8.x tree):
- ``ogr/ogrsf_frmts/generic/ogrlayer.cpp : OGRLayer::Intersection (≈L3000)``
  — nested-loop overlay: per input feature, SetSpatialFilter on the method
  layer (bbox pretest, ``FilterGeometry ≈L800``) then exact GEOS test.
- ``ogrlayer.cpp : Clip (≈L3800) / Erase (≈L4000)`` — semi / anti variants.

Spark-first redesign (NOT a port): the O(N·M) nested loop becomes one of
three plans, all returning the same pairs:

1. **broadcast PiP join** (:func:`spatial_join_broadcast`) — polygons
   packed flat (:class:`geom.PolygonPack`) and broadcast; one
   ``mapInArrow`` pass over the points emits one row per matched point
   (its id and the array of polygons it falls in), and a JVM ``explode``
   fans that row out to (point, polygon) pairs. Zero shuffle of the big
   side; the whole join is one map stage. Right
   whenever the polygon side fits in executor memory (the reference's
   entire use case).

2. **salted z-tile join** (:func:`spatial_join_cells`) — both sides keyed
   by the Morton cell of a fixed zoom (points: native expr; polygons:
   bbox tile cover, exploded), then a Catalyst equi-join + the Arrow PiP
   refine. Right when the polygon side is too big to broadcast: the
   spatial predicate becomes a shuffle join, with AQE skew splitting plus
   explicit **hot-cell salting** (north_rule: "partitioning / shuffle /
   skew handled explicitly"): cells whose point count exceeds a threshold
   get a salt from ``pmod(xxhash64(id), S)`` on the point side and an
   ``explode(0..S-1)`` replica on the polygon side, so one hot Tokyo cell
   spreads over S reducers instead of one straggler.

3. **S2 covering join** (:func:`spatial_join_s2`) — a mixed-level S2
   covering per polygon, joined by parent-snap equi-joins, then the Arrow
   refine. Right at high latitudes, where mercator z-tiles blow up, and
   for huge polygon sets: ``broadcast_regions=False`` shuffles the
   covering, and ``pack=None`` builds every polygon-side artifact on the
   cluster from a polygons table. With no driver-side pack there is no
   Arrow kernel to ship, so that regime refines with the pure-Column
   parity fold (:func:`refine_pip_native`). Spark evaluates that fold's
   higher-order functions interpreted, measured ~20x slower than the
   Arrow refine on dense candidate sets (BENCH/pip_native_ab_r3.json),
   so every other plan uses the Arrow refine.

Result-shape contract: pairs (point id, poly_id), deduplicated, matching the
sequential oracle ``geom.np_pip_pairs`` exactly (BASELINE.json : north_star
"join result rows ... exactly").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import cells, geom


def with_cell(df: DataFrame, z: int, lon: str = "lon", lat: str = "lat",
              cell_col: str = "cell") -> DataFrame:
    """Attach the Morton cell id (native expr, codegen — SURVEY.md §2.8 F7)."""
    return df.withColumn(cell_col, cells.cell_id(F.col(lon), F.col(lat), z))


# ---------------------------------------------------------------------------
# polygon-side cell cover (bbox-conservative)
# ---------------------------------------------------------------------------

def polygon_cover_cells(pack: geom.PolygonPack, z: int) -> list[tuple[int, int]]:
    """(poly_id, cell) for every z-tile whose bounds intersect the bbox.

    Conservative (bbox, not exact outline) — false candidates are removed by
    the PiP refine, never false negatives. Mirrors the bbox pretest of
    ``ogrlayer.cpp : FilterGeometry``.

    Fully vectorized (round 5): the old per-polygon Python loop cost
    3-5 ms/polygon — at 10k polygons that was 30-50 s of hidden DRIVER
    time on every spatial_join_cells call, dwarfing the cluster work it
    fed. Now one numpy pass over ``pack.bbox``: corner tiles for all
    polygons at once, range enumeration via repeat/cumsum offsets, one
    batched Morton encode. Semantics identical (same per-element tile and
    cell functions, same clamping)."""
    n = 1 << z
    bb = pack.bbox
    if len(bb) == 0:
        return []
    tx0, ty0 = cells.np_lonlat_to_tile_tms(bb[:, 0], bb[:, 1], z)
    tx1, ty1 = cells.np_lonlat_to_tile_tms(bb[:, 2], bb[:, 3], z)
    txa = np.clip(np.minimum(tx0, tx1), 0, n - 1).astype(np.int64)
    txb = np.clip(np.maximum(tx0, tx1), 0, n - 1).astype(np.int64)
    tya = np.clip(np.minimum(ty0, ty1), 0, n - 1).astype(np.int64)
    tyb = np.clip(np.maximum(ty0, ty1), 0, n - 1).astype(np.int64)
    spans = (txb - txa + 1) * (tyb - tya + 1)
    pidx = np.repeat(np.arange(len(bb)), spans)
    off = np.arange(int(spans.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(spans) - spans, spans
    )
    w = (txb - txa + 1)[pidx]
    tx = txa[pidx] + off % w
    ty = tya[pidx] + off // w
    cell = cells.np_cell_id_from_tile(tx, (n - 1 - ty), z)
    return list(zip(
        pack.poly_ids[pidx].tolist(), cell.astype(np.int64).tolist()
    ))


# ---------------------------------------------------------------------------
# 1) broadcast PiP join (small/medium polygon side — the default)
# ---------------------------------------------------------------------------

def _grid_cover_keys(bbox: np.ndarray, z: int) -> np.ndarray:
    """Packed lon/lat-grid keys (step 360/2^z deg) covering each bbox —
    vectorized range enumeration, distinct keys returned. The grid is
    plain floor() on lon/lat (NOT mercator tiles): a prefilter key only
    needs to be conservative and CHEAP on the probe side — three codegen
    ops per row, vs the full Morton interleave."""
    if len(bbox) == 0:
        return np.zeros(0, dtype=np.int64)
    step = 360.0 / (1 << z)
    gx0 = np.floor((bbox[:, 0] + 180.0) / step).astype(np.int64)
    gx1 = np.floor((bbox[:, 2] + 180.0) / step).astype(np.int64)
    gy0 = np.floor((bbox[:, 1] + 90.0) / step).astype(np.int64)
    gy1 = np.floor((bbox[:, 3] + 90.0) / step).astype(np.int64)
    spans = (gx1 - gx0 + 1) * (gy1 - gy0 + 1)
    pidx = np.repeat(np.arange(len(bbox)), spans)
    off = np.arange(int(spans.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(spans) - spans, spans
    )
    w = (gx1 - gx0 + 1)[pidx]
    gx = gx0[pidx] + off % w
    gy = gy0[pidx] + off // w
    return np.unique(gx * (1 << (z + 1)) + gy)


def _grid_key_col(lon: str, lat: str, z: int):
    step = 360.0 / (1 << z)
    return (
        F.floor((F.col(lon) + 180.0) / step).cast("long")
        * (1 << (z + 1))
        + F.floor((F.col(lat) + 90.0) / step).cast("long")
    )


def grid_cover_tiles_from_table(
    polygons: DataFrame, z: int, rings: str = "rings"
) -> DataFrame:
    """DISTRIBUTED prefilter-tile build: the distinct ``_ctile long`` grid
    keys (step 360/2^z deg, same packing as :func:`_grid_key_col`)
    covering every polygon's bbox, computed as pure Column ops over a
    polygons TABLE — the at-scale replacement for the driver-side
    :func:`_grid_cover_keys`, completing the ``pack=None`` regime of
    :func:`spatial_join_s2`: with :func:`s2_cover_regions_from_table` and
    :func:`polygon_edges_df_from_table`, ALL three dim-side artifacts
    (covering, edges, prefilter tiles) are cluster-built, so nothing in
    the prefiltered shuffled S2 join is bounded by driver memory or CPU.
    Key-set parity with ``_grid_cover_keys`` on the same polygons is
    pinned by test. The result is small by construction (one key per
    bbox-grid cell, deduped) — persist it and pass as
    ``prefilter_tiles``, amortized like ``regions``."""
    step = 360.0 / (1 << int(z))
    pts = F.flatten(F.col(rings))
    xs = F.transform(pts, lambda p: p["x"])
    ys = F.transform(pts, lambda p: p["y"])
    spans = polygons.select(
        F.floor((F.array_min(xs) + 180.0) / step).cast("long").alias("gx0"),
        F.floor((F.array_max(xs) + 180.0) / step).cast("long").alias("gx1"),
        F.floor((F.array_min(ys) + 90.0) / step).cast("long").alias("gy0"),
        F.floor((F.array_max(ys) + 90.0) / step).cast("long").alias("gy1"),
    )
    return (
        spans.select(
            F.explode(F.sequence("gx0", "gx1")).alias("gx"), "gy0", "gy1"
        )
        .select("gx", F.explode(F.sequence("gy0", "gy1")).alias("gy"))
        .select(
            (F.col("gx") * F.lit(1 << (int(z) + 1)) + F.col("gy"))
            .alias("_ctile")
        )
        .distinct()
    )


# Arrow list offsets are int32, so one output batch carries < 2^31 poly ids
_LIST_MAX_VALUES = 2**31 - 1


def _per_point_batches(ids, idx: np.ndarray, pid: np.ndarray, id_col: str):
    """Group one batch's (point row ``idx``, ``pid``) hits by point and
    yield ``(id_col, poly_ids)`` record batches: one row per matched
    point, its id taken once from ``ids``. Batches are split between
    points so no batch's list column holds more than ``_LIST_MAX_VALUES``
    ids (a single point's list is never split)."""
    import pyarrow as pa

    order = np.argsort(idx, kind="stable")
    idx, pid = idx[order], pid[order]
    starts = np.flatnonzero(np.diff(idx, prepend=-1))
    offsets = np.append(starts, len(idx))
    rows = ids.take(pa.array(idx[starts]))
    lo = 0
    while lo < len(starts):
        end = offsets[lo] + _LIST_MAX_VALUES
        hi = max(int(np.searchsorted(offsets, end, "right")) - 1, lo + 1)
        off = offsets[lo:hi + 1]
        poly_ids = pa.ListArray.from_arrays(
            pa.array((off - off[0]).astype(np.int32)), pa.array(pid[off[0]:off[-1]])
        )
        yield pa.RecordBatch.from_arrays(
            [rows.slice(lo, hi - lo), poly_ids], names=[id_col, "poly_ids"]
        )
        lo = hi


def _pip_hits_per_point(
    points: DataFrame,
    pack: geom.PolygonPack,
    id_col: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """``(id_col, poly_ids array<long>)``: one row per point inside at least
    one polygon of ``pack``, from one ``mapInArrow`` pass over the points.
    Points with no hit emit no row.

    The pack rides the closure → Spark broadcasts it once per executor;
    pixels/captions never enter the stage (column pruning keeps the scan to
    id+lon+lat)."""
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(pack)
    id_field = points.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_field}, poly_ids array<long>"

    def run(batches):
        # mapInArrow: coords come out zero-copy as numpy; ids are gathered
        # with Arrow take() — no Python string objects ever materialize
        # (SURVEY.md §4: keep strings/binary out of the Python hot path)
        pk = bc.value
        if pk._grid is None:
            pk.build_grid()
        for b in batches:
            if b.num_rows == 0:
                continue
            px = b.column(lon).to_numpy(zero_copy_only=False)
            py = b.column(lat).to_numpy(zero_copy_only=False)
            idx, pid = geom.pip_batch(px, py, pk)
            if len(idx):
                yield from _per_point_batches(b.column(id_col), idx, pid, id_col)

    return points.select(id_col, lon, lat).mapInArrow(run, schema=out_schema)


def spatial_join_broadcast(
    points: DataFrame,
    pack: geom.PolygonPack,
    id_col: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """(id_col, poly_id) pairs: one ``mapInArrow`` pass emits a row per
    matched point with its array of polygon ids, and a JVM ``explode``
    fans it out to pairs.

    Why per-point rows: the Arrow hop back from the Python workers was the
    join's biggest layer. Pair-shaped output repeats the whole id for every
    pair, and the JVM decodes every copy. On the ``broadcast_join``
    benchmark (480k points carrying a 7-field struct id, 200 overlapping
    polygons, 7.6M pairs) the workers sent back 585,066,872 B as pairs and
    94,954,496 B as per-point rows."""
    return _pip_hits_per_point(points, pack, id_col, lon, lat).select(
        id_col, F.explode("poly_ids").alias("poly_id")
    )


def spatial_semi_join(points: DataFrame, pack: geom.PolygonPack, **kw) -> DataFrame:
    """OGRLayer::Clip analog — rows of `points` inside ANY polygon. The
    per-point hit rows are the hit ids: no fan-out to pairs, no distinct."""
    id_col = kw.get("id_col", "image_id")
    hits = _pip_hits_per_point(points, pack, **kw).select(id_col)
    return points.join(F.broadcast(hits), id_col, "left_semi")


def spatial_anti_join(points: DataFrame, pack: geom.PolygonPack, **kw) -> DataFrame:
    """OGRLayer::Erase analog — rows of `points` inside NO polygon."""
    id_col = kw.get("id_col", "image_id")
    hits = _pip_hits_per_point(points, pack, **kw).select(id_col)
    return points.join(F.broadcast(hits), id_col, "left_anti")


# ---------------------------------------------------------------------------
# 2) cell-keyed equi-join with explicit hot-cell salting (the scale path)
# ---------------------------------------------------------------------------

def _refine_pip(candidates: DataFrame, pack: geom.PolygonPack,
                id_col: str, lon: str, lat: str,
                interior_col: str | None = None) -> DataFrame:
    """Exact even-odd refine of (point, poly) candidate pairs.

    ``interior_col`` (optional boolean column) marks candidates whose
    covering cell is PROVEN inside the polygon (s2_cover_regions rings
    flag): they bypass the ray cast — kept as matches with zero kernel
    work — so the numpy time scales with the boundary fraction only,
    while the plan stays ONE scan -> ONE Arrow stage (splitting into a
    JVM-only branch + refine branch would recompute the whole upstream,
    including the full-table Arrow leaf encode, once per branch)."""
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(pack)
    id_field = candidates.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_field}, poly_id long"

    def run(batches):
        import pyarrow as pa

        pk = bc.value
        pos = {int(pid): i for i, pid in enumerate(pk.poly_ids)}
        for b in batches:
            if b.num_rows == 0:
                continue
            px = b.column(lon).to_numpy(zero_copy_only=False)
            py = b.column(lat).to_numpy(zero_copy_only=False)
            pids = b.column("poly_id").to_numpy(zero_copy_only=False)
            if interior_col is not None:
                keep = b.column(interior_col).to_numpy(
                    zero_copy_only=False).astype(bool).copy()
            else:
                keep = np.zeros(b.num_rows, dtype=bool)
            todo = ~keep
            for pid in np.unique(pids[todo]):
                m = todo & (pids == pid)
                keep[m] = geom.pip_even_odd_edges(px[m], py[m], pk.edges_of(pos[int(pid)]))
            if keep.any():
                idx = pa.array(np.nonzero(keep)[0])
                yield pa.RecordBatch.from_arrays(
                    [b.column(id_col).take(idx), b.column("poly_id").take(idx)],
                    names=[id_col, "poly_id"],
                )

    cols = [id_col, lon, lat, "poly_id"]
    if interior_col is not None:
        cols.append(interior_col)
    return candidates.select(*cols).mapInArrow(run, schema=out_schema)


def spatial_join_cells(
    points: DataFrame,
    pack: geom.PolygonPack,
    z: int = 8,
    id_col: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    n_salts: int = 8,
    hot_cell_threshold: int = 10_000,
) -> DataFrame:
    """(id_col, poly_id) via salted cell equi-join + exact Arrow refine.

    Hot cells (point count > ``hot_cell_threshold``) are found with one
    cheap count-by-cell pass; the point side gets ``salt =
    pmod(xxhash64(id), n_salts)`` and the polygon side is exploded
    ``n_salts``-fold for those cells only, so the shuffle key is
    (cell, salt). Cold cells keep salt 0."""
    spark = points.sparkSession
    pts = with_cell(points.select(id_col, lon, lat), z)
    cover = spark.createDataFrame(
        polygon_cover_cells(pack, z), schema="poly_id long, cell long"
    )
    hot = (
        pts.groupBy("cell").count()
        .filter(F.col("count") > hot_cell_threshold)
        .select("cell", F.lit(True).alias("is_hot"))
    )
    pts = (
        pts.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot").isNotNull(),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)),
            ).otherwise(F.lit(0)),
        )
        .drop("is_hot")
    )
    cover = (
        cover.join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salts",
            F.when(
                F.col("is_hot").isNotNull(),
                F.array([F.lit(i) for i in range(n_salts)]),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("salt", F.explode("salts"))
        .drop("is_hot", "salts")
    )
    cand = pts.join(cover, ["cell", "salt"], "inner").select(
        id_col, lon, lat, "poly_id")
    # no dedupe needed: a point has exactly one (cell, salt) and the cover
    # lists each (poly_id, cell, salt) once, so a (point, poly) pair can
    # only arise from a single join row
    return _refine_pip(cand, pack, id_col, lon, lat)


# ---------------------------------------------------------------------------
# 3) S2 covering join (high latitudes, huge polygon sets)
# ---------------------------------------------------------------------------

def s2_cover_regions(
    spark: SparkSession,
    pack: geom.PolygonPack,
    max_level: int = 9,
    cover: str = "bbox",
) -> DataFrame:
    """Driver-side S2 covering of every polygon -> broadcastable regions
    table ``(poly_id long, cell long, interior boolean)``.

    This is the reusable dim-side artifact of the S2 join: at 100 TB the
    polygon set is computed/covered ONCE (or maintained as a table) and
    reused across every probe query, so the covering cost is amortized out
    of the per-query path. ``interior`` is True only for cells PROVEN
    wholly inside (rings covering); bbox coverings mark everything
    boundary because the rect coverer's wholly-inside test is sample-based
    (complete, not exact) and bbox-inside is not polygon-inside anyway.
    """
    if cover not in ("bbox", "rings"):
        raise ValueError(f"cover must be 'bbox' or 'rings', got {cover!r}")
    from . import s2 as s2mod

    rows: list[tuple[int, int, bool]] = []
    for i in range(pack.n_polys):
        pid = int(pack.poly_ids[i])
        if cover == "rings":
            cov, interior = s2mod.np_s2_cover_polygon_flags(
                pack.edges_of(i), max_level=max_level)
            rows.extend((pid, int(c), bool(f)) for c, f in zip(cov, interior))
            continue
        x0, y0, x1, y1 = (float(v) for v in pack.bbox[i])
        x0, x1 = max(x0, -180.0), min(x1, 180.0)
        y0, y1 = max(y0, -89.9), min(y1, 89.9)
        if not (x0 < x1 and y0 < y1):
            continue
        for c in s2mod.np_s2_cover_rect(x0, y0, x1, y1, max_level=max_level):
            rows.append((pid, int(c), False))
    return spark.createDataFrame(
        rows, schema="poly_id long, cell long, interior boolean")


def s2_cover_regions_from_table(
    polygons: DataFrame,
    max_level: int = 9,
    poly_id: str = "poly_id",
    rings: str = "rings",
) -> DataFrame:
    """DISTRIBUTED S2 covering build: ``(poly_id, cell, interior)`` from a
    polygons TABLE (rings as ``array<array<struct<x,y>>>``, the engine's
    standard layer schema) — the at-scale replacement for the driver-side
    :func:`s2_cover_regions`.

    The driver-side builder costs 5-60 ms/polygon of single-core Python;
    at 1M polygons that is HOURS on the driver and does not survive a
    100x scale-up. Here the covering runs as one ``mapInPandas`` pass
    over the polygon table (each Arrow batch covers its polygons with
    the same exact ``np_s2_cover_polygon_flags`` kernel), so the build
    parallelizes with the cluster and the resulting regions table is a
    persistable ingest artifact. Output is row-for-row identical to the
    driver-side rings covering (pinned by test)."""
    from . import s2 as s2mod

    ml = int(max_level)

    def kern(batches):
        for pdf in batches:
            out_pid: list[int] = []
            out_cell: list[int] = []
            out_int: list[bool] = []
            for pid, rr in zip(pdf[poly_id], pdf[rings]):
                arrs = [
                    np.array([[pt["x"], pt["y"]] for pt in ring],
                             dtype=np.float64)
                    for ring in rr
                ]
                edges = geom.polygon_edges(arrs)
                cov, flags = s2mod.np_s2_cover_polygon_flags(
                    edges, max_level=ml)
                out_pid.extend([int(pid)] * len(cov))
                out_cell.extend(int(c) for c in cov)
                out_int.extend(bool(f) for f in flags)
            yield pd.DataFrame(
                {"poly_id": out_pid, "cell": out_cell, "interior": out_int}
            )

    return polygons.select(poly_id, rings).mapInPandas(
        kern, schema="poly_id long, cell long, interior boolean"
    )


def spatial_join_s2(
    points: DataFrame,
    pack: geom.PolygonPack | None,
    max_level: int = 9,
    id_col: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    cover: str = "bbox",
    regions: DataFrame | None = None,
    split_interior: bool = False,
    broadcast_regions: bool = True,
    prefilter_z: int | None = None,
    prefilter_tiles: DataFrame | None = None,
    refine: str = "arrow",
    edges: DataFrame | None = None,
) -> DataFrame:
    """(id_col, poly_id) via S2 mixed-level covering join + exact refine —
    the sphere-uniform alternative to the z-tile cover of
    ``spatial_join_cells``.

    Per polygon, the bbox gets a mixed-level S2 covering
    (s2.np_s2_cover_rect, driver-side, broadcastable): coarse interior
    cells + fine boundary cells, so the dim table stays small at any
    latitude (mercator z-tiles blow up ~11x in linear extent by lat 85 —
    the S2 cell grid is near-uniform on the sphere, see
    test_cell_sizes_are_sphere_uniformish). Points pay ONE Arrow-batched
    leaf encode; the covering join itself is per-level parent-snap
    EQUI-joins (pure Column bit math, broadcast hash), then the same exact
    even-odd Arrow refine as every other path. Pair-identical to
    spatial_join_broadcast by test.

    ``cover="rings"`` switches the bbox covering to the shape-aware
    ``np_s2_cover_polygon_flags`` (holes respected, boundary-free cells
    decided by one ray cast) — a TIGHTER candidate set for spiky or holed
    polygons, identical final pairs. Its interior flag is EXACT (the
    boundary-free test runs on a superset box of the cell), so
    interior-cell candidates are emitted as pairs straight from the
    codegen equi-join, and ONLY boundary-cell candidates pay the
    Arrow-batched even-odd refine. At 100 TB the refine traffic scales
    with the polygon PERIMETER fraction of the data instead of the full
    match volume — the filter-refine split that defuses the measured
    copy-bandwidth floor (BENCH/BASELINE.md pip analysis).

    Pass a precomputed ``regions`` table (:func:`s2_cover_regions`) to
    amortize the driver-side covering across queries; ``max_level`` /
    ``cover`` are then ignored for region construction.

    ``broadcast_regions=False`` is the truly-huge-polygon-set regime
    (round-4 verdict gap): the covering table is NOT broadcast — the
    containment join runs as a SHUFFLED hash join on the snapped cell id
    (``hint("shuffle_hash")`` so Catalyst cannot silently re-broadcast a
    small test table), which is the plan shape that survives region sets
    of millions of polygons where a per-executor broadcast would OOM.
    Pair-identical to the broadcast path by test; the probe side pays one
    extra exchange of (id, lon, lat, leaf) — never bytes/captions.

    ``prefilter_z`` (round 5) enables a PURE-COLUMN coarse prune ahead of
    the Arrow leaf encode: each point's lon/lat grid key (step 360/2^z
    degrees — THREE codegen ops, deliberately not the Morton interleave,
    whose expression tree is ~100x bigger per row) is semi-joined against
    the broadcast set of grid cells intersecting any polygon bbox, so for
    SELECTIVE region sets (regions covering a small fraction of the
    domain) ~all non-matching points are dropped inside whole-stage
    codegen and never reach the Python worker. This is the structural
    advantage of cell-keyed joins over the opaque broadcast-pip kernel:
    the spatial key is a Catalyst expression, so Catalyst can prune with
    it. Conservative (bbox-grid superset) — pairs unchanged, pinned by
    test. Pass ``prefilter_tiles`` (one ``_ctile long`` column, from
    :func:`_grid_cover_keys`) to amortize the driver-side cover build
    across queries, like ``regions``.

    ``split_interior`` picks how interior-cell candidates avoid the ray
    cast, a MATCH-DENSITY tradeoff (both produce identical pairs):

    - False (default): one plan branch; interior candidates ride through
      the refine kernel flagged as proven matches (zero numpy work but
      they still cross the JVM->Arrow copy boundary). Best when points
      match few polygons — the candidate stream is about the size of the
      point stream and a second scan would cost more than it saves.
    - True: the leaf-encoded probe is persisted (points-sized, narrow)
      and interior pairs are emitted straight from the codegen equi-join
      — they NEVER enter Python; only boundary candidates cross. Best for
      dense overlap (candidates >> points), where the measured Arrow copy
      floor is the dominant cost. Caller owns the persisted probe's
      lifetime (it unpersists with the session/GC).

    ``refine="native"`` (round 5) swaps the Arrow even-odd kernel for the
    pure-Column :func:`refine_pip_native` parity fold (interior-flagged
    candidates bypass it via OR short-circuit) — with
    ``broadcast_regions=False`` BOTH joins run shuffled, so the whole
    plan is JVM-codegen with no Python stage and no broadcast.

    ``pack=None`` is the fully TABLE-DRIVEN regime — the shape that
    survives a 1M-polygon dim side, where no driver-side PolygonPack can
    exist: pass ``regions`` from :func:`s2_cover_regions_from_table`
    (cluster-built covering), ``edges`` from
    :func:`polygon_edges_df_from_table` (pure-Column edge build) with
    ``refine="native"``, and (if prefiltering) ``prefilter_tiles``.
    Nothing in that plan is bounded by driver memory or driver CPU;
    missing artifacts raise eagerly.
    """
    from . import s2 as s2mod

    if refine not in ("arrow", "native"):
        raise ValueError(f"refine must be 'arrow' or 'native', got {refine!r}")
    if pack is None:
        # fully table-driven regime: every polygon-side artifact must
        # arrive as a DataFrame (s2_cover_regions_from_table /
        # polygon_edges_df_from_table / _grid_cover_keys tiles)
        missing = [
            n for n, ok in (
                ("regions", regions is not None),
                ("edges + refine='native'",
                 refine == "native" and edges is not None),
                ("prefilter_tiles",
                 prefilter_z is None or prefilter_tiles is not None),
            ) if not ok
        ]
        if missing:
            raise ValueError(
                "pack=None (table-driven S2 join) requires: "
                + ", ".join(missing))
    spark = points.sparkSession
    if regions is None:
        regions = s2_cover_regions(spark, pack, max_level=max_level,
                                   cover=cover)
    if prefilter_z is not None:
        coarse = prefilter_tiles
        if coarse is None:
            # amortizable like ``regions``: pass prefilter_tiles to reuse
            coarse = spark.createDataFrame(
                [(int(c),) for c in _grid_cover_keys(pack.bbox, prefilter_z)],
                schema="_ctile long",
            )
        points = points.join(
            F.broadcast(coarse),
            _grid_key_col(lon, lat, prefilter_z) == coarse["_ctile"],
            "left_semi",
        )
    probe = points.select(
        id_col, lon, lat,
        s2mod.s2_cell_id(F.col(lon), F.col(lat), 30).alias("_leaf"),
    )
    if split_interior:
        probe = probe.persist()
    reg = (
        F.broadcast(regions) if broadcast_regions
        else regions.hint("shuffle_hash")
    )
    cand = s2mod.s2_containment_join(
        probe, reg, leaf_col="_leaf", cell_col="cell"
    ).select(id_col, lon, lat, "poly_id", "interior")
    # no dedupe needed: each polygon's covering is a DISJOINT partition, so
    # a point matches at most one covering cell per polygon
    if refine == "native":
        e_df = edges if edges is not None else pack_edges_df(spark, pack)
        return refine_pip_native(
            cand, e_df, id_col, lon, lat,
            broadcast=broadcast_regions, interior_col="interior")
    if split_interior:
        sure = cand.filter(F.col("interior")).select(id_col, "poly_id")
        maybe = cand.filter(~F.col("interior")).drop("interior")
        return sure.unionByName(_refine_pip(maybe, pack, id_col, lon, lat))
    return _refine_pip(cand, pack, id_col, lon, lat,
                       interior_col="interior")


# ---------------------------------------------------------------------------
# pure-Column PiP refine (the table-driven S2 regime, no Python stage)
# ---------------------------------------------------------------------------

def pack_edges_df(spark: SparkSession, pack: geom.PolygonPack) -> DataFrame:
    """One row per polygon: (poly_id, bbox, edges array<struct x1,y1,x2,y2>).

    All rings' edges are flattened together — even-odd parity over the union
    of ring edges subtracts holes automatically (same convention as
    ``geom.polygon_edges``)."""
    rows = []
    for p in range(pack.n_polys):
        x1, y1, x2, y2 = pack.edges_of(p)
        edges = [
            (float(a), float(b), float(c), float(d))
            for a, b, c, d in zip(x1, y1, x2, y2)
        ]
        bx0, by0, bx1, by1 = (float(v) for v in pack.bbox[p])
        rows.append((int(pack.poly_ids[p]), bx0, by0, bx1, by1, edges))
    return spark.createDataFrame(
        rows,
        schema=(
            "poly_id long, bxmin double, bymin double, bxmax double, "
            "bymax double, edges array<struct<x1:double,y1:double,"
            "x2:double,y2:double>>"
        ),
    )


def pip_parity_expr(edges_col, lon_col, lat_col):
    """Even-odd crossing parity as a pure Column expression (JVM-side).

    Exactly the ``geom.pip_even_odd_edges`` predicate: an edge toggles
    parity iff (y1 > lat) != (y2 > lat) AND lon < (lat-y1)*((x2-x1)/(y2-y1))
    + x1 — same operand order, so JVM and numpy produce bit-identical
    doubles. Horizontal edges (y2 == y1) divide by zero into ±inf/NaN but
    the crossing condition is already false, so the CASE contributes 0."""
    crossings = F.aggregate(
        edges_col,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e["y1"] > lat_col) != (e["y2"] > lat_col))
            & (
                lon_col
                < (lat_col - e["y1"]) * ((e["x2"] - e["x1"]) / (e["y2"] - e["y1"]))
                + e["x1"]
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.pmod(crossings, F.lit(2)) == F.lit(1)


def refine_pip_native(candidates: DataFrame, edges_df: DataFrame,
                      id_col: str, lon: str, lat: str, *,
                      broadcast: bool = True,
                      interior_col: str | None = None) -> DataFrame:
    """Exact refine of (point, poly_id) candidates with no Python stage.

    Joins the per-polygon edge arrays onto the candidates, applies the
    codegen bbox pretest (the reference's FilterGeometry bbox step,
    ``ogrlayer.cpp ≈L800``) and keeps rows with odd crossing parity.

    ``broadcast=False`` is the huge-polygon-set regime: the edges table
    joins as a SHUFFLED hash join on poly_id (``hint("shuffle_hash")`` so
    Catalyst cannot silently re-broadcast a small test table) — the plan
    shape that survives edge tables too large for a per-executor
    broadcast. ``interior_col`` names a boolean candidate column of
    PROVEN matches (S2 rings-covering interior cells); those rows bypass
    the parity fold via Java OR short-circuit — one plan branch, no
    second scan of the upstream."""
    lon_c, lat_c = F.col(lon), F.col(lat)
    e = F.broadcast(edges_df) if broadcast else edges_df.hint("shuffle_hash")
    keep = (
        (lon_c >= F.col("bxmin")) & (lon_c <= F.col("bxmax"))
        & (lat_c >= F.col("bymin")) & (lat_c <= F.col("bymax"))
        & pip_parity_expr(F.col("edges"), lon_c, lat_c)
    )
    if interior_col is not None:
        keep = F.col(interior_col) | keep
    return (
        candidates.join(e, "poly_id")
        .where(keep)
        .select(id_col, "poly_id")
    )


def polygon_edges_df_from_table(
    polygons: DataFrame,
    poly_id: str = "poly_id",
    rings: str = "rings",
) -> DataFrame:
    """DISTRIBUTED edges-table build: same schema as :func:`pack_edges_df`
    (poly_id, bbox, flattened edge structs) but computed as PURE Column
    HOFs over a polygons TABLE — no driver-side pack, no Python workers.

    With :func:`s2_cover_regions_from_table` this closes the at-scale S2
    join loop: polygon sets of any size live as tables, both dim-side
    artifacts (covering + edges) are built by the cluster in one codegen
    pass each, and the join itself can run fully shuffled
    (``spatial_join_s2(..., refine="native", broadcast_regions=False)``)
    — nothing in the plan is bounded by driver memory or driver CPU.
    Row-identical to ``pack_edges_df`` on the same polygons (pinned by
    test): closed rings are un-closed the same way and each ring's last
    edge wraps back to its first vertex."""
    pid_c = F.col(poly_id).cast("long").alias("poly_id")
    ropen = F.transform(
        F.col(rings),
        lambda r: F.when(
            (F.size(r) > F.lit(1))
            & (F.element_at(r, 1) == F.element_at(r, -1)),
            F.slice(r, 1, F.size(r) - 1),
        ).otherwise(r),
    )
    edges = F.flatten(F.transform(
        ropen,
        lambda r: F.transform(
            r,
            lambda p, i: F.struct(
                p["x"].alias("x1"),
                p["y"].alias("y1"),
                F.element_at(r, F.pmod(i + 1, F.size(r)) + 1)["x"].alias("x2"),
                F.element_at(r, F.pmod(i + 1, F.size(r)) + 1)["y"].alias("y2"),
            ),
        ),
    ))
    # bbox over ALL ring vertices (closing vertex included or not — the
    # min/max are unchanged), matching PolygonPack.from_rings
    pts = F.flatten(F.col(rings))
    xs = F.transform(pts, lambda p: p["x"])
    ys = F.transform(pts, lambda p: p["y"])
    return polygons.select(
        pid_c,
        F.array_min(xs).alias("bxmin"),
        F.array_min(ys).alias("bymin"),
        F.array_max(xs).alias("bxmax"),
        F.array_max(ys).alias("bymax"),
        edges.alias("edges"),
    )


# ---------------------------------------------------------------------------
# As-of join (training-pipeline extra; absent in the reference by design —
# SURVEY.md §2.3 J6 — but a first-class large-pipeline operator here)
# ---------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    right_cols: tuple[str, ...] = ("event_id",),
    prefix: str = "asof_",
) -> DataFrame:
    """For every left row, the LATEST right row of the same ``by`` key with
    ``right.on <= left.on`` (at-or-before; NULLs when none). Equal
    timestamps match (the right row sorts first).

    Scale shape — the union+running-window formulation: tag and union both
    sides, one window per ``by`` key ordered by (on, side, id) carrying
    ``last(right_payload, ignorenulls)``, keep left rows. ONE shuffle on the
    by-key; no range-join candidate explosion, no per-key driver loop;
    skewed keys behave exactly like any windowed aggregation (AQE handles
    them). Right rows with duplicate (by, on) are deduped deterministically
    to the max-id row so the result is well-defined (and matches the DuckDB
    ASOF oracle)."""
    rid = right_cols[0]
    wdup = Window.partitionBy(by, on).orderBy(F.col(rid).desc())
    r_uniq = (
        right.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    r_tag = r_uniq.select(
        F.col(by), F.col(on),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rv"),
        F.lit(0).alias("_side"),
    )
    l_tag = left.withColumn("_side", F.lit(1)).withColumn(
        "_rv", F.lit(None).cast(r_tag.schema["_rv"].dataType)
    )
    u = l_tag.unionByName(r_tag, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
    out_cols = [c for c in left.columns] + [
        F.col("_m")[c].alias(f"{prefix}{c}") for c in right_cols
    ]
    return matched.filter(F.col("_side") == 1).select(*out_cols)
