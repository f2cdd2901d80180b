"""Rasterize — vector → raster burn (SURVEY.md §2.9 R2).

Reference semantics: ``alg/gdalrasterize.cpp : GDALRasterizeGeometries
(≈L700), gv_rasterize_one_shape (≈L400)`` with the even-odd scanline fill of
``alg/llrasterize.cpp : GDALdllImageFilledPolygon (≈L60)``; ALL_TOUCHED=false
(pixel center decides), MERGE_ALG replace|add.

Spark-first plan: polygons → covering (z, tx, ty) tiles via the bbox cover
(the same conservative pretest as the spatial join) exploded into a
DataFrame; one ``mapInArrow`` pass fills each (polygon, tile) fragment's
256x256 pixel-center mask from per-row edge crossings
(``geom.pip_grid_edges``: Raptor-style pixel runs, O(rows x edges) instead
of a ray cast per pixel); a grouped ``applyInArrow`` overlay merges
fragments per tile (replace = last poly wins in poly_id order, add = sum of
hits — gdal_rasterize MERGE_ALG). Independence
rests on two other algorithms: the per-pixel ray cast
(``geom.pip_even_odd_edges`` over the full grid) is the mask kernel's test
oracle, and :func:`np_rasterize_counts` is a sequential scanline fill with
its own intersection arithmetic.

Pixel-center convention: tile pixel (i, j) covers mercator
[txmin + i*res, txmin+(i+1)*res] x [tymax-(j+1)*res, tymax-j*res]; its center
is tested against the polygon in lon/lat space (polygons are stored in
degrees). ALL_TOUCHED=false exactly as the reference default.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, cells, geom, joins

TILE = 256


def _tile_pixel_lonlat(tx: int, ty: int, z: int):
    """(lon[i], lat[j]) of the 256x256 pixel centers of a TMS tile."""
    res = cells.resolution(z)
    txmin = tx * TILE * res - cells.ORIGIN_SHIFT
    tymax = (ty + 1) * TILE * res - cells.ORIGIN_SHIFT
    mx = txmin + (np.arange(TILE) + 0.5) * res
    my = tymax - (np.arange(TILE) + 0.5) * res
    lon, _ = cells.np_meters_to_lonlat(mx, np.zeros_like(mx))
    _, lat = cells.np_meters_to_lonlat(np.zeros_like(my), my)
    return lon, lat


def _cover(spark, pack: geom.PolygonPack, z: int) -> DataFrame:
    """(poly_id, cell) rows of the bbox covering, as an Arrow-backed local
    DataFrame: one built from a Python list is a Python RDD that every job
    re-reads in Python workers (~1 CPU-s per job at 900 rows, 4 cores)."""
    schema = arrowrows.arrow_schema("poly_id long, cell long")
    return spark.createDataFrame(
        arrowrows.rows_table(joins.polygon_cover_cells(pack, z), schema))


def rasterize_counts(
    polygons_pack: geom.PolygonPack, spark, z: int = 8
) -> DataFrame:
    """(poly_id, z, tx, ty, y_xyz, burned) — burned-pixel count per covering
    tile, even-odd, ALL_TOUCHED=false (FIXTURES.md golden/rasterize.json)."""
    cover = _cover(spark, polygons_pack, z)
    bc = spark.sparkContext.broadcast(polygons_pack)

    n = 1 << z

    def burn(pid, cell_v):
        pk = bc.value
        _, tx, ty_xyz = (int(v) for v in cells.np_cell_to_tile(cell_v))
        ty = n - 1 - ty_xyz
        lon, lat = _tile_pixel_lonlat(tx, ty, z)
        burned = int(np.count_nonzero(
            geom.pip_grid_edges(lon, lat, pk.edges_of(pk.position(pid)))))
        if burned:
            yield pid, z, tx, ty, ty_xyz, burned

    return arrowrows.map_rows(
        cover, burn, "poly_id long, z int, tx long, ty long, y_xyz long, burned long")


def rasterize_tiles(
    polygons_pack: geom.PolygonPack,
    spark,
    z: int = 8,
    burn_attr: dict[int, int] | None = None,
    merge_alg: str = "replace",
) -> DataFrame:
    """(z, tx, ty, y_xyz, tile_bytes raw int32 256*256) — full burned tiles.

    merge_alg 'replace': higher poly_id wins on overlap (deterministic input
    order, like gdal_rasterize's geometry order); 'add': values sum
    (MERGE_ALG=ADD)."""
    if merge_alg not in ("replace", "add"):
        raise ValueError(merge_alg)
    cover = _cover(spark, polygons_pack, z)
    bc = spark.sparkContext.broadcast(polygons_pack)
    burn_map = burn_attr or {}

    out_ddl = "z int, tx long, ty long, y_xyz long, tile_bytes binary"
    out_schema = arrowrows.arrow_schema(out_ddl)
    n = 1 << z

    def frag(pid, cell_v):
        pk = bc.value
        _, tx, ty_xyz = (int(v) for v in cells.np_cell_to_tile(cell_v))
        ty = n - 1 - ty_xyz
        lon, lat = _tile_pixel_lonlat(tx, ty, z)
        hit = geom.pip_grid_edges(lon, lat, pk.edges_of(pk.position(pid)))
        if hit.any():
            yield pid, tx, ty, ty_xyz, np.packbits(hit).tobytes()

    frags = arrowrows.map_rows(
        cover, frag, "poly_id long, tx long, ty long, y_xyz long, mask binary")

    # grouped Arrow UDFs stay unannotated: PySpark 4.1 applyInArrow fails
    # on partial type hints
    def overlay(key, tbl):
        tx, ty = key[0].as_py(), key[1].as_py()
        canvas = np.zeros((TILE, TILE), dtype=np.int32)
        d = tbl.to_pydict()
        for pid, mask_v in sorted(zip(d["poly_id"], d["mask"]), key=lambda r: r[0]):
            m = np.unpackbits(np.frombuffer(mask_v, np.uint8))[: TILE * TILE]
            m = m.reshape(TILE, TILE).astype(bool)
            v = int(burn_map.get(pid, pid))
            if merge_alg == "add":
                canvas[m] += v
            else:
                canvas[m] = v
        return arrowrows.rows_table(
            [(z, tx, ty, (1 << z) - 1 - ty, canvas.tobytes())], out_schema)

    return frags.groupBy("tx", "ty").applyInArrow(overlay, schema=out_ddl)


# ---------------------------------------------------------------------------
# sequential oracle — true scanline edge-intersection fill (independent)
# ---------------------------------------------------------------------------

def np_rasterize_counts(pack: geom.PolygonPack, z: int) -> list[tuple[int, int, int, int]]:
    """(poly_id, tx, ty, burned) by scanline fill — for every covering tile."""
    out = []
    n = 1 << z
    for p in range(pack.n_polys):
        x0, y0, x1, y1 = pack.bbox[p]
        txa, tya = cells.np_lonlat_to_tile_tms(np.array([x0]), np.array([y0]), z)
        txb, tyb = cells.np_lonlat_to_tile_tms(np.array([x1]), np.array([y1]), z)
        rings = pack.rings_of(p)
        for tx in range(max(int(txa[0]), 0), min(int(txb[0]), n - 1) + 1):
            for ty in range(max(int(tya[0]), 0), min(int(tyb[0]), n - 1) + 1):
                lon, lat = _tile_pixel_lonlat(tx, ty, z)
                burned = 0
                for j in range(TILE):
                    yv = lat[j]
                    # gather x-intersections of all ring edges with y=yv
                    xs = []
                    for ring in rings:
                        r = np.asarray(ring)
                        a = r
                        bb = np.roll(r, -1, axis=0)
                        for (ax, ay), (bx, by) in zip(a, bb):
                            if (ay > yv) != (by > yv):
                                xs.append(ax + (yv - ay) * (bx - ax) / (by - ay))
                    if not xs:
                        continue
                    xs.sort()
                    # fill between pairs
                    for i in range(0, len(xs) - 1, 2):
                        lo, hi = xs[i], xs[i + 1]
                        burned += int(np.count_nonzero((lon > lo) & (lon < hi)))
                if burned:
                    out.append((int(pack.poly_ids[p]), tx, ty, burned))
    return out


# ---------------------------------------------------------------------------
# ALL_TOUCHED=TRUE (`gdal_rasterize -at`; alg/llrasterize.cpp :
# GDALdllImageLineAllTouched ≈L300): burn every cell the geometry touches,
# not just cells whose center is inside.
# ---------------------------------------------------------------------------

def _mark_edge_cells(mask: np.ndarray, u0: float, v0: float,
                     u1: float, v1: float) -> None:
    """Mark every grid cell the segment (u0,v0)->(u1,v1) passes through
    (fractional pixel coordinates; cell (i,j) = [i,i+1)x[j,j+1)), clipped to
    the mask. Exact: split the segment at every integer u- and v-crossing
    and classify each piece by its midpoint — no sampling step to miss a
    corner-clipped cell."""
    h, w = mask.shape
    du, dv = u1 - u0, v1 - v0
    ts = [0.0, 1.0]
    if du != 0.0:
        lo, hi = sorted((u0, u1))
        ks = np.arange(np.ceil(lo), np.floor(hi) + 1.0)
        ts.extend(((ks - u0) / du).tolist())
    if dv != 0.0:
        lo, hi = sorted((v0, v1))
        ks = np.arange(np.ceil(lo), np.floor(hi) + 1.0)
        ts.extend(((ks - v0) / dv).tolist())
    t = np.unique(np.clip(np.asarray(ts, dtype=np.float64), 0.0, 1.0))
    tm = (t[:-1] + t[1:]) / 2.0
    iu = np.floor(u0 + tm * du).astype(np.int64)
    iv = np.floor(v0 + tm * dv).astype(np.int64)
    ok = (iu >= 0) & (iu < w) & (iv >= 0) & (iv < h)
    mask[iv[ok], iu[ok]] = True


def np_touched_mask(rings_uv: list, h: int = TILE, w: int = TILE) -> np.ndarray:
    """ALL_TOUCHED burn mask of one polygon over an h x w cell grid given
    rings in fractional pixel coordinates: interior cells (center even-odd
    in the SAME uv space — edges straight in the raster CRS, i.e. mercator,
    exactly how GDAL burns a layer reprojected to the raster SRS) UNION
    every cell the boundary passes through."""
    mask = geom.pip_grid_edges(np.arange(w) + 0.5, np.arange(h) + 0.5,
                               geom.polygon_edges(rings_uv))
    for ring in rings_uv:
        pts = np.asarray(ring, dtype=np.float64)
        for a, b in zip(pts, np.roll(pts, -1, axis=0)):
            _mark_edge_cells(mask, a[0], a[1], b[0], b[1])
    return mask


def rasterize_touched(
    polygons_pack: geom.PolygonPack, spark, z: int = 8
) -> DataFrame:
    """gdal_rasterize -at analog: (poly_id, n_tiles, burned_total) — count
    of cells the polygon TOUCHES, totalled over its covering tiles. Same
    cover + Arrow-fragment plan as rasterize_counts; only the per-fragment
    kernel differs."""
    cover = _cover(spark, polygons_pack, z)
    bc = spark.sparkContext.broadcast(polygons_pack)

    n = 1 << z
    res = cells.resolution(z)

    def burn(pid, cell_v):
        pk = bc.value
        _, tx, ty_xyz = (int(v) for v in cells.np_cell_to_tile(cell_v))
        ty = n - 1 - ty_xyz
        txmin = tx * TILE * res - cells.ORIGIN_SHIFT
        tymax = (ty + 1) * TILE * res - cells.ORIGIN_SHIFT
        rings_uv = []
        for ring in pk.rings_of(pk.position(pid)):
            mx, my = cells.np_lonlat_to_meters(ring[:, 0], ring[:, 1])
            rings_uv.append(np.column_stack(((mx - txmin) / res, (tymax - my) / res)))
        burned = int(np_touched_mask(rings_uv).sum())
        if burned:
            yield pid, burned

    frags = arrowrows.map_rows(cover, burn, "poly_id long, burned long")
    return frags.groupBy("poly_id").agg(
        F.count("*").alias("n_tiles"), F.sum("burned").alias("burned_total")
    )
