"""Spatial joins — the engine's signature operator family (SURVEY.md §2.3).

Reference semantics (public GDAL 3.8.x tree):
- ``ogr/ogrsf_frmts/generic/ogrlayer.cpp : OGRLayer::Intersection (≈L3000)``
  — nested-loop overlay: per input feature, SetSpatialFilter on the method
  layer (bbox pretest, ``FilterGeometry ≈L800``) then exact GEOS test.
- ``ogrlayer.cpp : Clip (≈L3800) / Erase (≈L4000)`` — semi / anti variants.

Spark-first redesign (NOT a port): the O(N·M) nested loop becomes one of
two plans, both returning the same pairs:

1. **broadcast PiP join** (:func:`spatial_join_broadcast`) — polygons
   packed flat (:class:`geom.PolygonPack`) and broadcast; a scalar Arrow
   UDF over each point's ``(lon, lat)`` returns the array of polygons it
   falls in, and a JVM ``explode`` fans that out to (point, polygon)
   pairs. The point id never enters Python. Zero shuffle of the big
   side; the whole join is one map stage. Right whenever the polygon side
   fits in executor memory (the reference's entire use case). The semi
   and anti joins filter on the same UDF's array size.

2. **S2 covering join** (:func:`spatial_join_s2`) — one covering per
   polygon, the shape-aware rings covering
   (``s2.np_s2_cover_polygon_flags``): mixed-level S2 cells, each flagged
   interior (proven inside the polygon) or boundary. Points join it by
   parent-snap equi-joins, interior candidates are pairs as they stand
   and only boundary candidates pay the exact refine (the Raptor-style
   filter-refine split, VLDB'19). The S2 grid is near-uniform on the
   sphere, so the covering stays small and complete at any latitude and
   across the antimeridian. ``broadcast_regions=False`` shuffles the
   covering for polygon sets too big to broadcast, and ``pack=None``
   builds every polygon-side artifact on the cluster from a polygons
   table. With no driver-side pack there is no Arrow kernel to ship, so
   that regime refines with the pure-Column parity fold
   (:func:`refine_pip_native`). Spark evaluates that fold's higher-order
   functions interpreted, measured ~20x slower than the Arrow refine on
   dense candidate sets (BENCH/pip_native_ab_r3.json), so a join with a
   pack uses the Arrow refine.

Result-shape contract: pairs (point id, poly_id), deduplicated, matching the
sequential oracle ``geom.np_pip_pairs`` exactly (BASELINE.json : north_star
"join result rows ... exactly").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import arrowrows, cells, geom


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
    time on every call, dwarfing the cluster work it fed. Now one numpy pass over ``pack.bbox``: corner tiles for all
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

# Arrow list offsets are int32: one batch's list column holds < 2^31 ids
_MAX_BATCH_HITS = 2**31 - 1


def _hits_by_point(n: int, idx: np.ndarray, pid: np.ndarray) -> pa.ListArray:
    """``n``-row list column whose row ``i`` holds the ``pid`` of every hit
    with ``idx == i``, in hit order (empty for a point with no hit).

    A scalar UDF returns one row per input row, so a batch's list column
    cannot be split; its hits must fit the int32 offsets."""
    if len(idx) > _MAX_BATCH_HITS:
        raise ValueError(
            f"{len(idx)} PiP hits in one Arrow batch overflow its int32 list "
            "offsets; lower spark.sql.execution.arrow.maxRecordsPerBatch")
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(idx, minlength=n), out=offsets[1:])
    values = pa.array(pid[np.argsort(idx, kind="stable")], type=pa.int64())
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def _poly_ids(points: DataFrame, pack: geom.PolygonPack, lon: str, lat: str):
    """``array<long>`` Column: the ids of the polygons of ``pack`` that
    contain each point, from a scalar Arrow UDF over ``(lon, lat)``.

    Spark plans it as ``ArrowEvalPython``: only the two coordinates cross
    into Python, while the rest of each row waits in the JVM. The pack
    rides a broadcast, read once per executor."""
    bc = points.sparkSession.sparkContext.broadcast(pack)

    def poly_ids(lon: pa.Array, lat: pa.Array) -> pa.Array:
        idx, pid = geom.pip_batch(lon.to_numpy(zero_copy_only=False),
                                  lat.to_numpy(zero_copy_only=False), bc.value)
        return _hits_by_point(len(lon), idx, pid)

    return F.arrow_udf(poly_ids, "array<long>")(F.col(lon), F.col(lat))


def spatial_join_broadcast(
    points: DataFrame,
    pack: geom.PolygonPack,
    id_col: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """(id_col, poly_id) pairs: a scalar Arrow UDF gives every point the
    array of polygon ids it falls in, and a JVM ``explode`` fans it out to
    pairs.

    Why this shape: the Arrow hop is the join's biggest layer, and its
    cost is the bytes it moves. Pair-shaped output repeats the whole id
    for every pair; a ``mapInArrow`` over the points ships every id into
    Python and the hit ids back. The UDF takes only ``lon, lat`` and
    returns only the arrays, so the id, of any Spark type, never leaves
    the JVM. On the ``broadcast_join`` benchmark (480k points carrying a
    7-field struct id, 200 overlapping polygons, 7.6M pairs; seed 1) the
    per-job bytes to Python fell from 41,351,456 to 7,800,768 and the
    bytes back from 94,954,496 to 62,889,728 (585,066,872 back as
    pairs)."""
    return points.select(
        id_col, F.explode(_poly_ids(points, pack, lon, lat)).alias("poly_id"))


def spatial_semi_join(points: DataFrame, pack: geom.PolygonPack,
                      lon: str = "lon", lat: str = "lat") -> DataFrame:
    """OGRLayer::Clip analog — rows of `points` inside ANY polygon. Each
    row is kept or dropped on its own coordinates: no fan-out to pairs,
    no join on an id."""
    return points.filter(F.size(_poly_ids(points, pack, lon, lat)) > 0)


def spatial_anti_join(points: DataFrame, pack: geom.PolygonPack,
                      lon: str = "lon", lat: str = "lat") -> DataFrame:
    """OGRLayer::Erase analog — rows of `points` inside NO polygon."""
    return points.filter(F.size(_poly_ids(points, pack, lon, lat)) == 0)


# ---------------------------------------------------------------------------
# 2) S2 covering join (huge polygon sets, table-driven polygon side)
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


def s2_cover_regions(
    spark: SparkSession,
    pack: geom.PolygonPack,
    max_level: int = 9,
    *,
    cover: str = "rings",
) -> DataFrame:
    """Driver-side S2 rings covering of every polygon -> broadcastable
    regions table ``(poly_id long, cell long, interior boolean)``.

    This is the reusable dim-side artifact of the S2 join: at 100 TB the
    polygon set is computed/covered ONCE (or maintained as a table) and
    reused across every probe query, so the covering cost is amortized out
    of the per-query path. ``interior`` is True only for cells PROVEN
    wholly inside the polygon (holes respected).

    ``cover`` accepts only ``"rings"``, the one covering; the keyword is
    kept for the benchmark's existing call and goes at the next benchmark
    change.
    """
    if cover != "rings":
        raise ValueError(f"cover must be 'rings', got {cover!r}")
    from . import s2 as s2mod

    rows: list[tuple[int, int, bool]] = []
    for i in range(pack.n_polys):
        pid = int(pack.poly_ids[i])
        cov, interior = s2mod.np_s2_cover_polygon_flags(
            pack.edges_of(i), max_level=max_level)
        rows.extend((pid, int(c), bool(f)) for c, f in zip(cov, interior))
    return spark.createDataFrame(arrowrows.rows_table(
        rows, arrowrows.arrow_schema("poly_id long, cell long, interior boolean")))


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


def _refine_pip(candidates: DataFrame, pack: geom.PolygonPack,
                id_col: str, lon: str, lat: str) -> DataFrame:
    """Exact even-odd refine of (point, poly) candidate pairs.

    The boolean ``interior`` column marks candidates whose covering cell
    is PROVEN inside the polygon: they bypass the ray cast — kept as
    matches with zero kernel work — so the numpy time scales with the
    boundary fraction only, while the plan stays ONE scan -> ONE Arrow
    stage (splitting into a JVM-only branch + refine branch would
    recompute the whole upstream, including the full-table Arrow leaf
    encode, once per branch)."""
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
            keep = b.column("interior").to_numpy(
                zero_copy_only=False).astype(bool).copy()
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

    return candidates.select(id_col, lon, lat, "poly_id", "interior").mapInArrow(
        run, schema=out_schema)


def spatial_join_s2(
    points: DataFrame,
    pack: geom.PolygonPack | None,
    max_level: int = 9,
    id_col: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    regions: DataFrame | None = None,
    broadcast_regions: bool = True,
    prefilter_z: int | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """(id_col, poly_id) via the S2 rings-covering join + exact refine.

    Per polygon, the rings covering (:func:`s2_cover_regions`, holes
    respected) gives mixed-level S2 cells flagged interior or boundary;
    the S2 cell grid is near-uniform on the sphere, so the dim table stays
    small at any latitude (see test_cell_sizes_are_sphere_uniformish).
    Points pay ONE leaf encode; the covering join itself is per-level
    parent-snap EQUI-joins (pure Column bit math). The interior flag is
    EXACT (the boundary-free test runs on a superset box of the cell), so
    interior-cell candidates are pairs as they stand and ONLY
    boundary-cell candidates pay the even-odd refine: the refine traffic
    scales with the polygon PERIMETER fraction of the data instead of the
    full match volume — the filter-refine split that defuses the measured
    copy-bandwidth floor (BENCH/BASELINE.md pip analysis). Pair-identical
    to spatial_join_broadcast by test, polar and antimeridian polygons
    included.

    Pass a precomputed ``regions`` table (:func:`s2_cover_regions`) to
    amortize the covering across queries; ``max_level`` is then ignored.

    ``broadcast_regions=False`` is the truly-huge-polygon-set regime: the
    covering table is NOT broadcast — the containment join runs as a
    SHUFFLED hash join on the snapped cell id (``hint("shuffle_hash")`` so
    Catalyst cannot silently re-broadcast a small test table), the plan
    shape that survives region sets of millions of polygons where a
    per-executor broadcast would OOM. The probe side pays one extra
    exchange of (id, lon, lat, leaf) — never bytes/captions.

    ``prefilter_z`` enables a PURE-COLUMN coarse prune ahead of the leaf
    encode: each point's lon/lat grid key (step 360/2^z degrees — THREE
    codegen ops, deliberately not the Morton interleave, whose expression
    tree is ~100x bigger per row) is semi-joined against the broadcast set
    of grid cells intersecting any polygon bbox of ``pack``, so for
    SELECTIVE region sets ~all non-matching points are dropped inside
    whole-stage codegen. Conservative (bbox-grid superset) — pairs
    unchanged, pinned by test.

    The refine follows from ``pack``. With a pack, the Arrow even-odd
    kernel refines boundary candidates. ``pack=None`` is the fully
    TABLE-DRIVEN regime — the shape that survives a 1M-polygon dim side,
    where no driver-side PolygonPack can exist: pass ``regions`` from
    :func:`s2_cover_regions_from_table` and ``edges`` from
    :func:`polygon_edges_df_from_table`, and the pure-Column
    :func:`refine_pip_native` parity fold refines (shuffled too when
    ``broadcast_regions=False``, so the whole plan is JVM codegen with no
    Python stage and no broadcast). ``edges`` is used only then; missing
    artifacts, or a ``prefilter_z`` with no pack to take bboxes from,
    raise eagerly.
    """
    from . import s2 as s2mod

    if pack is None:
        missing = [n for n, v in (("regions", regions), ("edges", edges))
                   if v is None]
        if missing:
            raise ValueError(
                "pack=None (table-driven S2 join) requires: "
                + ", ".join(missing))
        if prefilter_z is not None:
            raise ValueError(
                "prefilter_z needs a pack: its grid keys cover pack.bbox")
    spark = points.sparkSession
    if regions is None:
        regions = s2_cover_regions(spark, pack, max_level=max_level)
    if prefilter_z is not None:
        coarse = spark.createDataFrame(arrowrows.rows_table(
            [(int(c),) for c in _grid_cover_keys(pack.bbox, prefilter_z)],
            arrowrows.arrow_schema("_ctile long")))
        points = points.join(
            F.broadcast(coarse),
            _grid_key_col(lon, lat, prefilter_z) == coarse["_ctile"],
            "left_semi",
        )
    probe = points.select(
        id_col, lon, lat,
        s2mod.s2_cell_id(F.col(lon), F.col(lat), 30).alias("_leaf"),
    )
    reg = (
        F.broadcast(regions) if broadcast_regions
        else regions.hint("shuffle_hash")
    )
    cand = s2mod.s2_containment_join(
        probe, reg, leaf_col="_leaf", cell_col="cell"
    ).select(id_col, lon, lat, "poly_id", "interior")
    # no dedupe needed: each polygon's covering is a DISJOINT partition, so
    # a point matches at most one covering cell per polygon
    if pack is None:
        return refine_pip_native(cand, edges, id_col, lon, lat,
                                 broadcast=broadcast_regions)
    return _refine_pip(cand, pack, id_col, lon, lat)


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
    return spark.createDataFrame(arrowrows.rows_table(rows, arrowrows.arrow_schema(
        "poly_id long, bxmin double, bymin double, bxmax double, "
        "bymax double, edges array<struct<x1:double,y1:double,"
        "x2:double,y2:double>>")))


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
                      broadcast: bool = True) -> DataFrame:
    """Exact refine of (point, poly_id) candidates with no Python stage.

    Joins the per-polygon edge arrays onto the candidates, applies the
    codegen bbox pretest (the reference's FilterGeometry bbox step,
    ``ogrlayer.cpp ≈L800``) and keeps rows with odd crossing parity.

    ``broadcast=False`` is the huge-polygon-set regime: the edges table
    joins as a SHUFFLED hash join on poly_id (``hint("shuffle_hash")`` so
    Catalyst cannot silently re-broadcast a small test table) — the plan
    shape that survives edge tables too large for a per-executor
    broadcast. The boolean ``interior`` candidate column marks PROVEN
    matches (S2 rings-covering interior cells); those rows bypass the
    parity fold via Java OR short-circuit — one plan branch, no second
    scan of the upstream."""
    lon_c, lat_c = F.col(lon), F.col(lat)
    e = F.broadcast(edges_df) if broadcast else edges_df.hint("shuffle_hash")
    keep = F.col("interior") | (
        (lon_c >= F.col("bxmin")) & (lon_c <= F.col("bxmax"))
        & (lat_c >= F.col("bymin")) & (lat_c <= F.col("bymax"))
        & pip_parity_expr(F.col("edges"), lon_c, lat_c)
    )
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
    (``spatial_join_s2(points, None, ..., broadcast_regions=False)``)
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
