"""Pixel probe + tile sink (SURVEY.md §2.2 P7, §2.1 S8) and native geometry
scalar columns (§2.8 F5).

- probe_pixels: ``apps/gdallocationinfo.cpp : main (≈L300)`` — value at a
  coordinate. Spark-first: both sides keyed by Web-Mercator tile at a fixed
  zoom (images explode their footprint to covering tiles via
  ``raster.assign_tiles`` — metadata only, no pixel payload), probes join on
  (tx, ty) as a plain shuffle/broadcast HASH join, an exact bbox filter
  refines, and image ``bytes`` are re-attached by image_id only for actual
  matches. No nested-loop join, no binary payload in the wide join.
- write_tiles / tile sink: ``osgeo_utils/gdal2tiles.py : create_base_tile
  (≈L700)`` + ``--resume (≈L1950)`` — PNG tile tree as a parquet/Iceberg
  table partitioned by (z, tx), resume via the checkpoint manifest.
- geometry scalar columns: ``ogr/swq.h : SpecialFieldNames`` (OGR_GEOM_AREA
  etc.) — shoelace area / centroid / bbox over the nested rings column as
  PURE Column expressions (transform/aggregate/zip_with), no UDF: geometry
  math rides whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import arrowrows, cells, codecs, raster


# ---------------------------------------------------------------------------
# P7 — pixel probe
# ---------------------------------------------------------------------------

def probe_pixels(
    probes: DataFrame,
    images: DataFrame,
    pix_m: float = raster.DEFAULT_PIX_M,
    probe_id: str = "probe_id",
    z: int = 10,
) -> DataFrame:
    """(probe_id, image_id, px, py, value array<int>) for every image whose
    footprint covers the probe point (gdallocationinfo semantics: row 0 at
    the top-left anchor).

    Plan shape (the 100-TB-safe one): image footprints explode to covering
    (tx, ty) tiles at zoom ``z`` — metadata columns only — and probes
    equi-join on the tile key (hash join, broadcastable probe side), so
    candidate volume is bounded by probes x images-per-tile, never
    |probes| x |images|. The exact mercator-bbox test refines candidates
    natively, and ``bytes`` joins back by image_id for matches only, so
    pixel payloads never enter the wide join's shuffle. ``z`` trades
    footprint fan-out (finer = more tiles per image) against tile
    collision width (coarser = more images per tile); any value is
    correct."""
    foot = raster.assign_tiles(
        images.select("image_id", "lon", "lat", "w", "h"), z=z, pix_m=pix_m
    ).select("image_id", "tx", "ty", "mx0", "my0", "mx1", "my1")
    pmx = cells.lon_to_mx(F.col("lon"))
    pmy = cells.lat_to_my(F.col("lat"))
    ptx, pty = cells.meters_to_tile(pmx, pmy, z)
    n = 1 << z
    clamp = lambda c: F.greatest(F.least(c, F.lit(n - 1)), F.lit(0))  # noqa: E731
    p = probes.select(
        F.col(probe_id),
        pmx.alias("pmx"),
        pmy.alias("pmy"),
        clamp(ptx).alias("tx"),
        clamp(pty).alias("ty"),
    )
    cand = (
        p.join(foot, ["tx", "ty"])
        .filter(
            (F.col("pmx") >= F.col("mx0")) & (F.col("pmx") < F.col("mx1"))
            & (F.col("pmy") > F.col("my0")) & (F.col("pmy") <= F.col("my1"))
        )
        .select(
            probe_id, "image_id",
            F.floor((F.col("pmx") - F.col("mx0")) / pix_m).cast("int").alias("px"),
            F.floor((F.col("my1") - F.col("pmy")) / pix_m).cast("int").alias("py"),
        )
    )
    # sorted by image within each task: each image is decoded once per
    # task, not once per probe row
    withbytes = cand.join(
        images.select("image_id", "bytes", "fmt"), "image_id"
    ).sortWithinPartitions("image_id")
    last = [None, None]  # (image_id, pixels) of the previous row

    def read(iid, pid, px, py, byts, fmt):
        if last[0] != iid:
            last[:] = iid, codecs.decode_hwc(byts, fmt)
        yield pid, iid, px, py, last[1][py, px].tolist()

    return arrowrows.map_rows(
        withbytes.select("image_id", probe_id, "px", "py", "bytes", "fmt"), read,
        f"{probe_id} long, image_id string, px int, py int, value array<int>",
    )


# ---------------------------------------------------------------------------
# S8 — tile sink with resume
# ---------------------------------------------------------------------------

def write_tiles(
    images: DataFrame, out_path: str, manifest_path: str, z: int,
    resampling: str = "nearest", run_id: str | None = None, n_units: int = 32,
) -> dict:
    """gdal2tiles sink with exact resume: per-image tiles (the reference's
    single-input semantics — no cross-image mosaic, so work units are
    independent by construction), units = image-hash buckets, committed via
    the lineage manifest (--resume done right: fingerprint-checked, not just
    file-exists)."""
    from . import checkpoint

    unitized = images.withColumn(
        "unit", F.pmod(F.xxhash64("image_id"), F.lit(n_units))
    )

    def transform(subset: DataFrame) -> DataFrame:
        out = raster.cut_image_tiles(
            subset.drop("unit"), z=z, resampling=resampling
        )
        return out.withColumn(
            "unit", F.pmod(F.xxhash64("image_id"), F.lit(n_units))
        )

    return checkpoint.resumable_run(
        unitized, "unit", ["image_id", "phash"], transform, out_path,
        manifest_path, run_id=run_id,
    )


# ---------------------------------------------------------------------------
# F5 — geometry scalar functions as native Columns over rings arrays
# ---------------------------------------------------------------------------

def _ring_shoelace(ring: Column) -> Column:
    """Signed shoelace area of one ring (array<struct<x,y>>, open)."""
    nxt = F.concat(F.slice(ring, 2, 1 << 30), F.slice(ring, 1, 1))
    terms = F.zip_with(
        ring, nxt, lambda a, b: a["x"] * b["y"] - b["x"] * a["y"]
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v) / 2.0


def polygon_area_col(rings: Column) -> Column:
    """|exterior| − Σ|holes| — OGR_GEOM_AREA analog, zero UDF."""
    areas = F.transform(rings, lambda r: F.abs(_ring_shoelace(r)))
    ext = F.element_at(areas, 1)
    holes = F.aggregate(F.slice(areas, 2, 1 << 30), F.lit(0.0), lambda a, v: a + v)
    return ext - holes


def polygon_centroid_col(rings: Column) -> Column:
    """struct(cx, cy) of the exterior ring (area-weighted)."""
    ring = F.element_at(rings, 1)
    nxt = F.concat(F.slice(ring, 2, 1 << 30), F.slice(ring, 1, 1))
    cross = F.zip_with(ring, nxt, lambda a, b: a["x"] * b["y"] - b["x"] * a["y"])
    a6 = F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v) * 3.0
    cx_t = F.zip_with(ring, nxt, lambda a, b: (a["x"] + b["x"]) * (a["x"] * b["y"] - b["x"] * a["y"]))
    cy_t = F.zip_with(ring, nxt, lambda a, b: (a["y"] + b["y"]) * (a["x"] * b["y"] - b["x"] * a["y"]))
    cx = F.aggregate(cx_t, F.lit(0.0), lambda acc, v: acc + v) / a6
    cy = F.aggregate(cy_t, F.lit(0.0), lambda acc, v: acc + v) / a6
    return F.struct(cx.alias("cx"), cy.alias("cy"))


def polygon_bbox_col(rings: Column) -> Column:
    """struct(xmin,ymin,xmax,ymax) over all rings — OGR envelope analog."""
    allx = F.flatten(F.transform(rings, lambda r: F.transform(r, lambda p: p["x"])))
    ally = F.flatten(F.transform(rings, lambda r: F.transform(r, lambda p: p["y"])))
    return F.struct(
        F.array_min(allx).alias("xmin"), F.array_min(ally).alias("ymin"),
        F.array_max(allx).alias("xmax"), F.array_max(ally).alias("ymax"),
    )


def clip_polygons_rect(
    polys: DataFrame,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    id_col: str = "poly_id",
) -> DataFrame:
    """ogr2ogr -clipsrc analog for an axis-aligned rect (SURVEY.md §2.2 P6):
    Sutherland–Hodgman clip of every ring (``apps/ogr2ogr_lib.cpp : clipsrc
    handling (≈L1500)``; closed-form for rect windows, so no GEOS needed).

    Catalyst prunes most rows before Python: a native bbox anti-overlap
    filter drops polygons entirely outside the window, and fully-inside
    polygons pass through unchanged (area from the native shoelace column);
    only boundary-straddling rows reach the Arrow clip kernel. Returns
    (id, clipped_area, n_rings_out) for polygons with non-empty
    intersection."""
    from . import geom as _geom

    bbox = polygon_bbox_col(F.col("rings"))
    base = polys.select(
        id_col, "rings", bbox.alias("_bb"), polygon_area_col(F.col("rings")).alias("_area")
    ).filter(
        (F.col("_bb.xmin") <= xmax) & (F.col("_bb.xmax") >= xmin)
        & (F.col("_bb.ymin") <= ymax) & (F.col("_bb.ymax") >= ymin)
    )
    inside = (
        (F.col("_bb.xmin") >= xmin) & (F.col("_bb.xmax") <= xmax)
        & (F.col("_bb.ymin") >= ymin) & (F.col("_bb.ymax") <= ymax)
    )
    whole = base.filter(inside).select(
        id_col,
        F.col("_area").alias("clipped_area"),
        F.size("rings").alias("n_rings_out"),
    )

    def clip(id_v, rings_v):
        area = 0.0
        n_out = 0
        for k, ring in enumerate(rings_v):
            pts = np.array([(p["x"], p["y"]) for p in ring])
            c = _geom.clip_ring_rect(pts, xmin, ymin, xmax, ymax)
            if len(c) >= 3:
                a = abs(_geom.shoelace_area(c))
                area += a if k == 0 else -a
                n_out += 1
        if n_out:
            yield id_v, area, n_out

    straddle = arrowrows.map_rows(
        base.filter(~inside).select(id_col, "rings"), clip,
        f"{id_col} long, clipped_area double, n_rings_out int",
    )
    return whole.unionByName(straddle)


def hamming_dedup_pairs(
    df: DataFrame, hash_col: str = "phash", id_col: str = "image_id",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by perceptual-hash hamming distance (F8): bucket
    by max_hamming+1 bit-blocks (pigeonhole -> recall exactly 1.0), verify
    exactly — same shape as simhash_pairs."""
    from .textops import hamming_block_structs

    blocks = hamming_block_structs(F.col(hash_col), max_hamming + 1)
    buck = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h"),
        F.explode(F.array(*blocks)).alias("p"),
    ).select("id", "h", "p.rot", "p.pre")
    a = buck.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"), "rot", "pre")
    b = buck.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"), "rot", "pre")
    return (
        a.join(b, ["rot", "pre"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
