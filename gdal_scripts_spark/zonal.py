"""Zonal statistics: per-polygon aggregates over raster pixel values.

The canonical GDAL-world raster x vector analytic (the gdal_rasterize +
numpy workflow; QGIS "Zonal statistics"; `rasterstats` over GDAL datasets).
Reference anchors: zone masks are what `gdal_rasterize -burn` produces
(`alg/gdalrasterize.cpp : GDALRasterizeGeometries`), and the accumulated
moments match `GDALRasterBand::ComputeStatistics`
(`gcore/rasterband.cpp ≈L5500`) restricted to the mask.

Spark-first shape — built for 100 TB of imagery:

1. the zone layer (small side) is a flat :class:`geom.PolygonPack`,
   broadcast ONCE per executor via ``sparkContext.broadcast``;
2. ONE per-row Arrow pass over the images computes, per (image, zone),
   the *partial* moments (n, sum, sum-of-squares, min, max) — pixels never
   leave the task, so the only shuffle is O(images x zones-touched) tiny
   rows, not O(pixels);
3. a plain ``groupBy(zone_id)`` combines partials into exact global stats
   (mean/stddev from the moment sums — associative, order-independent).

Zone membership = even-odd point-in-polygon of the PIXEL CENTER, i.e.
ALL_TOUCHED=FALSE center-sampling — GDAL's rasterize default. Per image,
each zone whose bbox meets the image gets one ``geom.pip_grid_edges`` mask
of the pixel centers inside that bbox, built from per-row edge crossings
(Raptor-style pixel runs: O(rows x edges), not O(pixels x edges)); the
per-pixel ray cast stays the oracle (:func:`np_zonal_oracle`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, codecs, geom

_PARTIAL_SCHEMA = (
    "image_id string, zone_id long, n long, s double, s2 double, "
    "vmin double, vmax double"
)


def zonal_partials(
    images: DataFrame,
    pack: geom.PolygonPack,
    *,
    band: int = 0,
    pix: float = 1.0,
) -> DataFrame:
    """Per-(image, zone) partial moments.

    ``images`` needs (image_id, bytes, fmt, x0, y1): ``x0`` = world x of the
    west edge, ``y1`` = world y of the NORTH edge (GDAL geotransform
    convention — row 0 is the top row, y decreases downward), ``pix`` =
    square pixel size in world units. Pixel-center world coords:
    ``wx = x0 + (col+0.5)*pix``, ``wy = y1 - (row+0.5)*pix``.
    """
    spark = images.sparkSession
    bc = spark.sparkContext.broadcast(pack)

    def kern(iid, buf, fmt, x0, y1):
        pk = bc.value
        bx0, by0, bx1, by1 = pk.bbox.T
        bandv = codecs.decode_hwc(buf, fmt)[:, :, band].astype(np.float64)
        h, w = bandv.shape
        wx = x0 + (np.arange(w) + 0.5) * pix
        wy = y1 - (np.arange(h) + 0.5) * pix
        # zones whose bbox meets the pixel centers; inside a zone's bbox,
        # the pixel-run mask of its sub-grid
        near = ((bx0 <= wx.max()) & (bx1 >= wx.min())
                & (by0 <= wy.max()) & (by1 >= wy.min()))
        for z in np.nonzero(near)[0]:
            cm = (wx >= bx0[z]) & (wx <= bx1[z])
            rm = (wy >= by0[z]) & (wy <= by1[z])
            hit = geom.pip_grid_edges(wx[cm], wy[rm], pk.edges_of(z))
            # pixel values are integers, so the sums are exact in any order
            v = bandv[np.ix_(rm, cm)][hit]
            if len(v):
                yield (iid, int(pk.poly_ids[z]), len(v), float(v.sum()),
                       float((v * v).sum()), float(v.min()), float(v.max()))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt", "x0", "y1"), kern, _PARTIAL_SCHEMA)


def zonal_stats(
    images: DataFrame,
    pack: geom.PolygonPack,
    *,
    band: int = 0,
    pix: float = 1.0,
) -> DataFrame:
    """(zone_id, n_images, n_pixels, v_sum, v_min, v_max, v_mean, v_std) —
    exact global stats per zone from combined per-image partials."""
    p = zonal_partials(images, pack, band=band, pix=pix)
    return (
        p.groupBy("zone_id")
        .agg(
            F.countDistinct("image_id").alias("n_images"),
            F.sum("n").alias("n_pixels"),
            F.sum("s").alias("v_sum"),
            F.min("vmin").alias("v_min"),
            F.max("vmax").alias("v_max"),
            (F.sum("s") / F.sum("n")).alias("v_mean"),
            F.sqrt(
                F.greatest(
                    F.sum("s2") / F.sum("n")
                    - (F.sum("s") / F.sum("n")) ** 2,
                    F.lit(0.0),
                )
            ).alias("v_std"),
        )
    )


def np_zonal_oracle(
    imgs: list[tuple[str, np.ndarray, float, float]],
    pack: geom.PolygonPack,
    pix: float = 1.0,
) -> dict[int, tuple[int, int, float, float, float]]:
    """Sequential per-pixel oracle (no Spark, no grid pruning): for each
    zone -> (n_images, n_pixels, sum, min, max). Used by tests as the
    independent twin of :func:`zonal_stats`."""
    out: dict[int, list] = {}
    for _iid, arr, x0, y1 in imgs:
        h, w = arr.shape
        touched: set[int] = set()
        for r in range(h):
            for c in range(w):
                wx = x0 + (c + 0.5) * pix
                wy = y1 - (r + 0.5) * pix
                for p_i in range(len(pack.poly_ids)):
                    if geom.pip_even_odd(
                        np.array([wx]), np.array([wy]), pack.rings_of(p_i)
                    )[0]:
                        zid = int(pack.poly_ids[p_i])
                        st = out.setdefault(
                            zid, [set(), 0, 0.0, np.inf, -np.inf]
                        )
                        st[0].add(_iid)
                        st[1] += 1
                        st[2] += float(arr[r, c])
                        st[3] = min(st[3], float(arr[r, c]))
                        st[4] = max(st[4], float(arr[r, c]))
                        touched.add(zid)
    return {
        z: (len(st[0]), st[1], st[2], st[3], st[4]) for z, st in out.items()
    }
