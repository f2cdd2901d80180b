"""Raster operators over the images table (SURVEY.md §2.1/2.4/2.9).

Reference semantics (public GDAL 3.8.x tree), re-expressed Spark-first:

- stats:      ``gcore/gdalrasterband.cpp : ComputeStatistics (≈L4000)`` —
              streaming min/max/mean/stddev. Here: per-image numpy partials
              in one Arrow pass, combined by a native sum/count/min/max agg
              (the classic partial+final aggregate, so a 100 TB scan computes
              global stats with one tiny shuffle of per-image partials).
- histogram:  ``gcore/gdalrasterband.cpp : GetHistogram (≈L3500)`` —
              per-image ``np.bincount`` then posexplode + groupBy(bin) (a
              256-row shuffle per image, never a per-pixel shuffle).
- checksum:   ``alg/gdalchecksum.cpp : GDALChecksumImage (≈L40)`` — the
              golden-test invariant (see codecs.gdal_style_checksum).
- retile:     ``osgeo_utils/gdal_retile.py : tileImage/createTile (≈L400)``
              — fixed W×H grid per image, edge tiles padded.
- tile cut:   ``osgeo_utils/gdal2tiles.py : generate_base_tiles (≈L1900),
              scale_query_to_tile (≈L1000)`` composed from clip-to-tile
              (``apps/gdal_translate_lib.cpp : -srcwin (≈L1500)``) + inverse-
              map resample (``alg/gdalwarpkernel.cpp : GWKNearestNoMasks /
              GWKBilinear``) + mosaic overlay (``osgeo_utils/gdal_merge.py :
              raster_copy_with_nodata (≈L100)``). Here: a ``mapInArrow``
              fragment pass and a grouped ``applyInArrow`` overlay per tile.
- pyramid:    ``alg/overview.cpp : GDALRegenerateOverviews (≈L2000)`` 2x2
              average + ``gdal2tiles.py : create_overview_tile (≈L800)`` —
              one groupBy(parent) ``applyInArrow`` job per zoom level (same
              per-level barrier the reference has).
- band math:  ``osgeo_utils/gdal_calc.py : doit() (≈L200-400)`` — numpy
              expression over bands inside Arrow batches.
- translate:  ``apps/gdal_translate_lib.cpp : GDALTranslate (≈L900)`` —
              format/band-select conversion by re-encode.
- gdal2xyz:   ``osgeo_utils/gdal2xyz.py (≈L100)`` — pixel explode.

Georeferencing convention (pinned; the synthetic images table carries a
point anchor, not a geotransform): an image's top-left corner sits at its
(lon, lat) anchor in EPSG:3857, north-up, square pixels of ``pix_m`` meters:
``mx(u) = mx0 + u*pix_m``, ``my(v) = my0 - v*pix_m``.

Tile table convention: ``(z int, tx long, ty long)`` with ty in **TMS**
(y-up); ``y_xyz = 2^z - 1 - ty`` exposed as a column. PNG-encoded payloads.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, cells, codecs, geom

DEFAULT_PIX_M = 100.0
TILE = 256
_DEC_COLS = ["image_id", "bytes", "fmt"]
# output of the tile-pyramid stages (cut_base_tiles, overview_tiles)
_PYRAMID_DDL = ("z int, tx long, ty long, y_xyz long, tile_bytes binary, "
                "checksum int, n_src int")
_HIST_DDL = "image_id string, v_out int, n long"


def _hist_rows(key: tuple, arr: np.ndarray) -> list[tuple]:
    """``(*key, v, n)`` rows of the value histogram of ``arr`` (values
    truncated to int64), ascending by value."""
    vals, counts = np.unique(arr.astype(np.int64), return_counts=True)
    return [(*key, v, n) for v, n in zip(vals.tolist(), counts.tolist())]


# ---------------------------------------------------------------------------
# A3/A4/A7 — stats, histogram, checksum
# ---------------------------------------------------------------------------

def per_image_stats(images: DataFrame) -> DataFrame:
    """(image_id, band, n, vmin, vmax, vsum, vsumsq) — partial aggregates."""
    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt).astype(np.float64)
        for band in range(img.shape[2]):
            a = img[:, :, band]
            yield (iid, band, a.size, float(a.min()), float(a.max()),
                   float(a.sum()), float((a * a).sum()))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, band int, n long, vmin double, vmax double, "
        "vsum double, vsumsq double",
    )


def global_band_stats(images: DataFrame) -> DataFrame:
    """ComputeStatistics analog: exact global per-band stats via partials."""
    p = per_image_stats(images)
    return (
        p.groupBy("band")
        .agg(
            F.sum("n").alias("n"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
            F.sum("vsumsq").alias("vsumsq"),
        )
        .select(
            "band", "n", "vmin", "vmax",
            (F.col("vsum") / F.col("n")).alias("mean"),
            F.sqrt(F.col("vsumsq") / F.col("n") - F.pow(F.col("vsum") / F.col("n"), 2)
                   ).alias("stddev"),
        )
    )


def histogram(images: DataFrame, band: int = 0) -> DataFrame:
    """Global 256-bin histogram of one band: per-image bincount -> bin agg."""
    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        yield (iid, np.bincount(img[:, :, band].ravel(), minlength=256).tolist())

    per_img = arrowrows.map_rows(images.select(*_DEC_COLS), kern,
                                 "image_id string, hist array<long>")
    return (
        per_img.select(F.posexplode("hist").alias("bin", "count"))
        .groupBy("bin")
        .agg(F.sum("count").alias("count"))
    )


def hist_equalize(images: DataFrame, band: int = 0) -> DataFrame:
    """Per-image 8-bit histogram equalization (the classic contrast stretch
    GDAL users run via gdal_translate -scale / custom band math; formula per
    OpenCV/Wikipedia "histogram equalization"): remap each level v to

        out(v) = floor((cdf(v) - cdf_min) * 255 / (npix - cdf_min) + 0.5)

    where cdf is the cumulative pixel count and cdf_min its value at the
    lowest occupied level. Returns the EQUALIZED histogram — one row per
    (image_id, v_out) with the pixel count — which pins the whole remap
    while keeping output cardinality <= 256 rows per image.

    Scale shape: decode + bincount + 256-entry remap per image inside ONE
    per-row Arrow pass (pixels never shuffle; partial results are final —
    each image is independent). Constant images (npix == cdf_min) map to
    0, matching the convention that a flat image has no contrast to
    stretch.
    """
    def kern(iid, byts, fmt):
        flat = codecs.decode_hwc(byts, fmt)[:, :, band].ravel().astype(np.int64)
        hist = np.bincount(flat, minlength=256)
        cdf = hist.cumsum()
        npix = int(flat.size)
        cdf_min = int(cdf[np.flatnonzero(hist)[0]])
        denom = npix - cdf_min
        if denom > 0:
            # integer-valued doubles well below 2^53: exact, and the
            # (a - b) * 255.0 / c evaluation order matches the SQL
            # oracle literally, so the floor is cross-engine stable
            out_map = np.floor((cdf - cdf_min) * 255.0 / denom + 0.5).astype(np.int64)
        else:
            out_map = np.zeros(256, np.int64)
        return _hist_rows((iid,), out_map[flat])

    return arrowrows.map_rows(images.select(*_DEC_COLS), kern, _HIST_DDL)


def scale_stretch(images: DataFrame, band: int = 0) -> DataFrame:
    """``gdal_translate -scale`` with auto source bounds (the
    ``apps/gdal_translate_lib.cpp`` linear stretch): per-image remap

        out(v) = rint((v - vmin) * 255 / (vmax - vmin))

    to the full 8-bit range, rint half-to-even like GDAL's output cast.
    Returns the stretched histogram (image_id, v_out, n) — same compact
    whole-raster pin as hist_equalize. Constant images map to 0. The
    arithmetic is spelled (a - vmin) * 255.0 / denom so a SQL oracle
    replaying the identical expression gets the identical IEEE double,
    making the half-to-even tie cases engine-stable."""
    def kern(iid, byts, fmt):
        a = codecs.decode_hwc(byts, fmt)[:, :, band].astype(np.float64)
        vmin, vmax = float(a.min()), float(a.max())
        if vmax > vmin:
            out = np.rint((a - vmin) * 255.0 / (vmax - vmin))
        else:
            out = np.zeros_like(a)
        return _hist_rows((iid,), out)

    return arrowrows.map_rows(images.select(*_DEC_COLS), kern, _HIST_DDL)


def reduce_modes_hist(images: DataFrame, ops: tuple = ("average", "min",
                      "max", "med", "q1", "q3"), scale: float = 0.5,
                      band: int = 0) -> DataFrame:
    """Value histograms of SEVERAL footprint-reduce warps in one decode
    pass — (image_id, op, val, n). Same single-pass shape as morphology3:
    each image is decoded once and every requested kernel reduces the same
    pixel array, instead of one scan + decode per op."""
    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        ow = max(1, int(round(img.shape[1] * scale)))
        oh = max(1, int(round(img.shape[0] * scale)))
        for op in ops:
            yield from _hist_rows((iid, op), np_warp_resize(img, ow, oh, op)[:, :, band])

    return arrowrows.map_rows(images.select(*_DEC_COLS), kern,
                              "image_id string, op string, val int, n long")


def value_hist(images: DataFrame, band: int = 0) -> DataFrame:
    """Per-image value histogram of one band — (image_id, val, n). The
    compact whole-raster pin used by the closed-form cross-engine entries:
    <= 256 rows per image regardless of raster size, and any single-pixel
    difference shows up as a count shift. Single per-row pass, no
    shuffle."""
    def kern(iid, byts, fmt):
        return _hist_rows((iid,), codecs.decode_hwc(byts, fmt)[:, :, band])

    return arrowrows.map_rows(images.select(*_DEC_COLS), kern,
                              "image_id string, val int, n long")


def morphology3(images: DataFrame, band: int = 0) -> DataFrame:
    """Grayscale 3x3 morphological erosion + dilation (focal min / focal
    max — the flat-structuring-element greyscale morphology of Serra 1982;
    companion to the gdaldem 3x3 focal family in dem.py): INTERIOR pixels
    only (x in 1..w-2, y in 1..h-2), so every 3x3 window is fully in
    bounds and no edge-padding convention leaks into the contract.

    Returns the value histogram of each result — (image_id, op, val, n)
    with op in ('erode', 'dilate') — pinning every output pixel's value
    while keeping cardinality <= 512 rows per image. Same no-shuffle
    per-row shape as hist_equalize: windows never cross image boundaries,
    so the whole operator is embarrassingly parallel over images.
    """
    from numpy.lib.stride_tricks import sliding_window_view

    def kern(iid, byts, fmt):
        win = sliding_window_view(codecs.decode_hwc(byts, fmt)[:, :, band], (3, 3))
        return (_hist_rows((iid, "erode"), win.min(axis=(2, 3)))
                + _hist_rows((iid, "dilate"), win.max(axis=(2, 3))))

    return arrowrows.map_rows(images.select(*_DEC_COLS), kern,
                              "image_id string, op string, val int, n long")


def checksums(images: DataFrame) -> DataFrame:
    """GDAL-style per-image checksum (golden-test workhorse)."""
    def kern(iid, byts, fmt):
        yield iid, codecs.gdal_style_checksum(codecs.decode_hwc(byts, fmt))

    return arrowrows.map_rows(images.select(*_DEC_COLS), kern,
                              "image_id string, checksum int")


# ---------------------------------------------------------------------------
# R3 — retile (gdal_retile: fixed grid, edge pad)
# ---------------------------------------------------------------------------

def retile(images: DataFrame, tile_w: int = 10, tile_h: int = 10,
           pad_value: int = 0, pad: bool = True) -> DataFrame:
    """One row per (image, tile window); edge tiles padded to full size when
    ``pad=True`` (gdal_retile default), else kept at their real dims (tw/th
    reflect actual content — required by halo-exact consumers like
    ``dem.gdaldem_tiled``).

    Output: image_id, tile_col, tile_row, tw, th, n_bands, tile_bytes (raw
    uint8 HxWxC) — the tile-index table (S9) is this DataFrame itself."""
    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        h, w, c = img.shape
        for ty in range((h + tile_h - 1) // tile_h):
            for tx in range((w + tile_w - 1) // tile_w):
                window = img[ty * tile_h : (ty + 1) * tile_h,
                             tx * tile_w : (tx + 1) * tile_w]
                if pad and window.shape[:2] != (tile_h, tile_w):
                    padded = np.full((tile_h, tile_w, c), pad_value, np.uint8)
                    padded[: window.shape[0], : window.shape[1]] = window
                    window = padded
                yield (iid, tx, ty, window.shape[1], window.shape[0], c,
                       np.ascontiguousarray(window).tobytes())

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, tile_col int, tile_row int, tw int, th int, "
        "n_bands int, tile_bytes binary",
    )


# ---------------------------------------------------------------------------
# R4+R5+R6 — XYZ tile cutting: assign (native) -> clip+resample (Arrow) ->
#            mosaic overlay (grouped Arrow) -> PNG tiles
# ---------------------------------------------------------------------------

def image_mercator_bounds(images: DataFrame, pix_m: float = DEFAULT_PIX_M) -> DataFrame:
    """Native columns mx0,my1 (top-left) + mx1,my0 from the anchor + size."""
    mx0 = cells.lon_to_mx(F.col("lon"))
    my1 = cells.lat_to_my(F.col("lat"))
    return (
        images.withColumn("mx0", mx0)
        .withColumn("my1", my1)
        .withColumn("mx1", F.col("mx0") + F.col("w") * pix_m)
        .withColumn("my0", F.col("my1") - F.col("h") * pix_m)
    )


def assign_tiles(images: DataFrame, z: int, pix_m: float = DEFAULT_PIX_M) -> DataFrame:
    """Explode each image to its covering (z, tx, ty_tms) tiles — all native
    Columns (sequence+explode), zero Python. The gdal2tiles tile-range loops
    (generate_base_tiles ≈L1900) as a declarative plan."""
    b = image_mercator_bounds(images, pix_m)
    n = 1 << z
    txa, tya = cells.meters_to_tile(F.col("mx0"), F.col("my0"), z)
    txb, tyb = cells.meters_to_tile(F.col("mx1"), F.col("my1"), z)
    b = (
        b.withColumn("txa", F.greatest(txa, F.lit(0)))
        .withColumn("txb", F.least(txb, F.lit(n - 1)))
        .withColumn("tya", F.greatest(tya, F.lit(0)))
        .withColumn("tyb", F.least(tyb, F.lit(n - 1)))
    )
    return (
        b.withColumn("tx", F.explode(F.sequence(F.col("txa"), F.col("txb"))))
        .withColumn("ty", F.explode(F.sequence(F.col("tya"), F.col("tyb"))))
        .withColumn("z", F.lit(z))
        .withColumn("y_xyz", cells.tms_to_xyz_y(F.col("ty"), z))
        .drop("txa", "txb", "tya", "tyb")
    )


def _resample_fragment(img: np.ndarray, mx0: float, my1: float, pix_m: float,
                       tx: int, ty: int, z: int, method: str):
    """Inverse-map one source image into one 256² tile; returns
    (px0, py0, crop) or None. crop is uint8 (py1-py0, px1-px0, c)."""
    h, w, c = img.shape
    res = cells.resolution(z)
    txmin = tx * TILE * res - cells.ORIGIN_SHIFT
    tymax = (ty + 1) * TILE * res - cells.ORIGIN_SHIFT
    # target pixel centers -> source pixel coords (affine)
    # u(i) = (txmin + (i+.5)res - mx0)/pix_m ; v(j) = (my1 - tymax + (j+.5)res)/pix_m
    i = np.arange(TILE)
    j = np.arange(TILE)
    u = (txmin + (i + 0.5) * res - mx0) / pix_m
    v = (my1 - tymax + (j + 0.5) * res) / pix_m
    if method == "nearest":
        ui = np.floor(u).astype(np.int64)
        vi = np.floor(v).astype(np.int64)
        iok = np.nonzero((ui >= 0) & (ui < w))[0]
        jok = np.nonzero((vi >= 0) & (vi < h))[0]
        if len(iok) == 0 or len(jok) == 0:
            return None
        crop = img[np.ix_(vi[jok], ui[iok], np.arange(c))]
        return int(iok[0]), int(jok[0]), np.ascontiguousarray(crop)
    if method == "bilinear":
        uf = u - 0.5
        vf = v - 0.5
        iok = np.nonzero((uf >= 0) & (uf <= w - 1))[0]
        jok = np.nonzero((vf >= 0) & (vf <= h - 1))[0]
        if len(iok) == 0 or len(jok) == 0:
            return None
        u0 = np.floor(uf[iok]).astype(np.int64)
        v0 = np.floor(vf[jok]).astype(np.int64)
        u0 = np.clip(u0, 0, w - 2) if w > 1 else u0 * 0
        v0 = np.clip(v0, 0, h - 2) if h > 1 else v0 * 0
        du = (uf[iok] - u0)[None, :, None]
        dv = (vf[jok] - v0)[:, None, None]
        u1 = np.minimum(u0 + 1, w - 1)
        v1 = np.minimum(v0 + 1, h - 1)
        a = img[np.ix_(v0, u0)].astype(np.float64)
        bq = img[np.ix_(v0, u1)].astype(np.float64)
        cq = img[np.ix_(v1, u0)].astype(np.float64)
        d = img[np.ix_(v1, u1)].astype(np.float64)
        out = (a * (1 - du) * (1 - dv) + bq * du * (1 - dv)
               + cq * (1 - du) * dv + d * du * dv)
        return int(iok[0]), int(jok[0]), np.clip(np.rint(out), 0, 255).astype(np.uint8)
    raise ValueError(f"unknown resampling {method!r}")


def cut_base_tiles(images: DataFrame, z: int, pix_m: float = DEFAULT_PIX_M,
                   resampling: str = "nearest") -> DataFrame:
    """gdal2tiles base-tile stage: (z, tx, ty, y_xyz, tile_bytes PNG, checksum,
    n_src) — fragments mosaicked last-wins in image_id order (gdal_merge)."""
    assigned = assign_tiles(images, z, pix_m).select(
        "image_id", "bytes", "fmt", "mx0", "my1", "tx", "ty"
    )
    out_schema = arrowrows.arrow_schema(_PYRAMID_DDL)

    def frag(iid, byts, fmt, mx0, my1, tx, ty):
        got = _resample_fragment(codecs.decode_hwc(byts, fmt), mx0, my1,
                                 pix_m, tx, ty, z, resampling)
        if got is not None:
            px0, py0, crop = got
            yield (iid, tx, ty, px0, py0, crop.shape[1], crop.shape[0],
                   crop.shape[2], crop.tobytes())

    frags = arrowrows.map_rows(
        assigned, frag,
        "image_id string, tx long, ty long, px0 int, py0 int, fw int, fh int, "
        "c int, frag binary",
    )

    # grouped Arrow UDFs stay unannotated: PySpark 4.1 applyInArrow fails
    # on partial type hints
    def overlay(key, tbl):
        tx, ty = key[0].as_py(), key[1].as_py()
        d = tbl.to_pydict()
        c = d["c"][0]
        canvas = np.zeros((TILE, TILE, c), dtype=np.uint8)
        # deterministic input order: last image_id wins
        for i in sorted(range(tbl.num_rows), key=d["image_id"].__getitem__):
            fh, fw, py0, px0 = d["fh"][i], d["fw"][i], d["py0"][i], d["px0"][i]
            a = np.frombuffer(d["frag"][i], np.uint8).reshape(fh, fw, d["c"][i])
            canvas[py0 : py0 + fh, px0 : px0 + fw] = a
        img = canvas[:, :, 0] if c == 1 else canvas
        return arrowrows.rows_table(
            [(z, tx, ty, (1 << z) - 1 - ty, codecs.encode_png(img),
              codecs.gdal_style_checksum(img), tbl.num_rows)], out_schema)

    return frags.groupBy("tx", "ty").applyInArrow(overlay, schema=_PYRAMID_DDL)


def cut_image_tiles(images: DataFrame, z: int, pix_m: float = DEFAULT_PIX_M,
                    resampling: str = "nearest") -> DataFrame:
    """Per-image tile cutting WITHOUT cross-image mosaic — the reference's
    actual gdal2tiles semantics (one input raster per run; mosaicking is
    gdal_merge, kept separate in cut_base_tiles). Map-only: assign (native
    explode) -> resample fragment -> render own canvas; ZERO shuffle, which
    is the plan you want for 10^12 images."""
    assigned = assign_tiles(images, z, pix_m).select(
        "image_id", "bytes", "fmt", "mx0", "my1", "tx", "ty"
    )

    def render(iid, byts, fmt, mx0, my1, tx, ty):
        got = _resample_fragment(codecs.decode_hwc(byts, fmt), mx0, my1,
                                 pix_m, tx, ty, z, resampling)
        if got is None:
            return
        px0, py0, crop = got
        canvas = np.zeros((TILE, TILE, crop.shape[2]), dtype=np.uint8)
        canvas[py0 : py0 + crop.shape[0], px0 : px0 + crop.shape[1]] = crop
        out = canvas[:, :, 0] if crop.shape[2] == 1 else canvas
        yield (iid, z, tx, ty, (1 << z) - 1 - ty, codecs.encode_png(out),
               codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        assigned, render,
        "image_id string, z int, tx long, ty long, y_xyz long, "
        "tile_bytes binary, checksum int",
    )


def np_downsample2x(canvas: np.ndarray, method: str = "average") -> np.ndarray:
    """2x downsample kernels of ``alg/overview.cpp : GDALRegenerateOverviews``
    (round 3 — modes beyond plain average):

    - average: 2x2 box mean (GDAL 'AVERAGE'), rounded half-to-even; the
               uint8 canvas is summed in uint16 and rounded in integers
    - nearest: top-left pixel of each 2x2 block ('NEAREST')
    - rms:     sqrt of the 2x2 mean of squares ('RMS')
    - mode:    most frequent of the 4 values, ties -> smallest value
               ('MODE'; the tie rule is pinned here and in the tests)
    - gauss:   3x3 kernel [1 2 1; 2 4 2; 1 2 1]/16 centered on the block's
               top-left source pixel, edge-replicate padding ('GAUSS';
               symmetric kernel => reproduces linear ramps exactly at
               interior pixels — the analytic golden in tests)
    """
    h, w, c = canvas.shape
    if method == "nearest":
        return canvas[0::2, 0::2].copy()
    if method == "average":
        # row pairs summed in uint16 on contiguous rows, then the two
        # pixels of each column pair: (h/2, w/2, 2c) halves
        rows = np.add(canvas[0::2], canvas[1::2], dtype=np.uint16)
        pairs = rows.reshape(h // 2, w // 2, 2 * c)
        s = pairs[:, :, :c] + pairs[:, :, c:]
        # == rint(s / 4) (half-to-even) for every s in 0..1020
        s += 1 + ((s >> 2) & 1)
        s >>= 2
        return s.astype(np.uint8)
    q00 = canvas[0::2, 0::2].astype(np.float64)
    q01 = canvas[0::2, 1::2].astype(np.float64)
    q10 = canvas[1::2, 0::2].astype(np.float64)
    q11 = canvas[1::2, 1::2].astype(np.float64)
    if method == "rms":
        out = np.sqrt((q00 * q00 + q01 * q01 + q10 * q10 + q11 * q11) / 4.0)
    elif method == "mode":
        vals = np.stack([q00, q01, q10, q11])           # (4, H, W, C)
        counts = sum((vals[j] == vals) for j in range(4))  # occurrences each
        # rank: most frequent wins; ties -> smallest value
        score = counts.astype(np.float64) * 256.0 + (255.0 - vals)
        pick = np.argmax(score, axis=0)
        out = np.take_along_axis(vals, pick[None], axis=0)[0]
    elif method == "gauss":
        pad = np.pad(canvas.astype(np.float64), ((1, 1), (1, 1), (0, 0)),
                     mode="edge")
        k = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], np.float64) / 16.0
        out = np.zeros((h // 2, w // 2, c))
        for dy in range(3):
            for dx in range(3):
                out += k[dy, dx] * pad[dy : dy + h : 2, dx : dx + w : 2]
    else:
        raise ValueError(f"unknown overview resampling {method!r}")
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def overview_tiles(tiles: DataFrame, z_child: int,
                   resampling: str = "average") -> DataFrame:
    """One pyramid step: z_child tiles -> z_child-1 tiles by a 2x
    downsample kernel (see ``np_downsample2x``).

    TMS orientation: the child with the LARGER ty is the TOP half of the
    parent image (y-up grid vs y-down pixels — pinned by test)."""
    zp = z_child - 1
    out_schema = arrowrows.arrow_schema(_PYRAMID_DDL)

    def combine(key, tbl):  # unannotated: see cut_base_tiles.overlay
        ptx, pty = key[0].as_py(), key[1].as_py()
        d = tbl.to_pydict()
        imgs = [codecs.decode_png(b) for b in d["tile_bytes"]]
        c = 1 if imgs[0].ndim == 2 else imgs[0].shape[2]
        canvas = np.zeros((2 * TILE, 2 * TILE, c), dtype=np.uint8)
        for img, r_tx, r_ty in zip(imgs, d["tx"], d["ty"]):
            if img.ndim == 2:
                img = img[:, :, None]
            dx = r_tx - 2 * ptx                  # 0 or 1
            dy = r_ty - 2 * pty                  # 0 (bottom) or 1 (top)
            row0 = (1 - dy) * TILE               # ty parity 1 -> top half
            canvas[row0 : row0 + TILE, dx * TILE : (dx + 1) * TILE] = img
        small = np_downsample2x(canvas, resampling)
        img = small[:, :, 0] if c == 1 else small
        return arrowrows.rows_table(
            [(zp, ptx, pty, (1 << zp) - 1 - pty, codecs.encode_png(img),
              codecs.gdal_style_checksum(img), tbl.num_rows)], out_schema)

    return (
        tiles.select("tx", "ty", "tile_bytes")
        .withColumn("ptx", F.floor(F.col("tx") / 2))
        .withColumn("pty", F.floor(F.col("ty") / 2))
        .groupBy("ptx", "pty")
        .applyInArrow(combine, schema=_PYRAMID_DDL)
    )


def build_pyramid(base_tiles: DataFrame, z_base: int, z_min: int,
                  resampling: str = "average") -> dict[int, DataFrame]:
    """gdal2tiles generate_overview_tiles: one Spark job per level (the same
    per-zoom barrier the reference has). Caches each level before reducing."""
    out = {z_base: base_tiles.persist()}
    cur = out[z_base]
    for z in range(z_base, z_min, -1):
        cur = overview_tiles(cur, z, resampling=resampling).persist()
        out[z - 1] = cur
    return out


# ---------------------------------------------------------------------------
# F2 — band math (gdal_calc) ; S4 — translate ; R9 — gdal2xyz ; P7 — probe
# ---------------------------------------------------------------------------

_CALC_GLOBALS = {
    "__builtins__": {},
    "np": np, "abs": np.abs, "minimum": np.minimum, "maximum": np.maximum,
    "sqrt": np.sqrt, "log": np.log, "exp": np.exp, "where": np.where,
    "sin": np.sin, "cos": np.cos, "clip": np.clip,
}


def band_calc(images: DataFrame, calc: str, out_fmt: str = "pgm") -> DataFrame:
    """gdal_calc --calc analog: numpy expression over bands A,B,C (uint8 out).

    The expression is evaluated with an empty __builtins__ and a numpy-only
    namespace (same trust model as the reference, which evals --calc)."""
    code = compile(calc, "<band_calc>", "eval")

    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt).astype(np.float64)
        ns = {chr(ord("A") + i): img[:, :, i] for i in range(img.shape[2])}
        val = eval(code, _CALC_GLOBALS, ns)  # noqa: S307 — sandboxed ns
        out = np.clip(np.rint(np.asarray(val, np.float64)), 0, 255).astype(np.uint8)
        yield (iid, codecs.encode(out, out_fmt), out_fmt, out.shape[1], out.shape[0])

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, bytes binary, fmt string, w int, h int")


def band_calc_two(
    images_a: DataFrame, images_b: DataFrame, calc: str, band: int = 0,
) -> DataFrame:
    """``gdal_calc -A a.tif -B b.tif --calc`` with TWO raster inputs —
    the multi-dataset path of the public gdal_calc.py (same eval trust
    model as :func:`band_calc`). Inputs join on image_id (one shuffle of
    encoded bytes, co-partitionable/bucketable at scale), then one Arrow
    pass decodes both and evaluates. Returns the result histogram
    (image_id, v_out, n) — uint8-clipped like gdal_calc's default
    Byte output."""
    code = compile(calc, "<band_calc_two>", "eval")
    a = images_a.select(
        "image_id", F.col("bytes").alias("bytes_a"), F.col("fmt").alias("fmt_a"))
    b = images_b.select(
        "image_id", F.col("bytes").alias("bytes_b"), F.col("fmt").alias("fmt_b"))
    joined = a.join(b, "image_id")

    def kern(iid, ba, fa, bb, fb):
        A = codecs.decode_hwc(ba, fa)[:, :, band].astype(np.float64)
        B = codecs.decode_hwc(bb, fb)[:, :, band].astype(np.float64)
        val = eval(code, _CALC_GLOBALS, {"A": A, "B": B})  # noqa: S307
        return _hist_rows((iid,), np.clip(np.rint(np.asarray(val, np.float64)), 0, 255))

    return arrowrows.map_rows(joined, kern, _HIST_DDL)


def translate(images: DataFrame, dst_fmt: str, bands: list[int] | None = None) -> DataFrame:
    """gdal_translate: format conversion + band select (lossless tier)."""
    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        if bands is not None:
            img = img[:, :, bands]
        sq = img[:, :, 0] if img.shape[2] == 1 else img
        yield (iid, codecs.encode(sq, dst_fmt), dst_fmt, img.shape[1], img.shape[0])

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, bytes binary, fmt string, w int, h int")


def jpeg_variant_matrix(images: DataFrame, quality: int = 90) -> DataFrame:
    """S3 foreign-stream JPEG robustness surface, per image: roundtrip PSNR
    for baseline 4:4:4 and chroma-subsampled 4:2:0 streams, plus exactness
    flags proving progressive (SOF2, successive approximation) and
    restart-marker (DRI/RSTn) streams decode pixel-identically to baseline
    (same quantized coefficients; reference frmts/jpeg/jpgdataset.cpp via
    libjpeg scan scripts)."""
    from . import codecs_jpeg

    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        sq = img[:, :, 0] if img.shape[2] == 1 else img
        base = codecs_jpeg.decode_jpeg(codecs_jpeg.encode_jpeg(sq, quality))
        sub = codecs_jpeg.decode_jpeg(codecs_jpeg.encode_jpeg(
            sq, quality, subsampling="4:2:0"))
        prog = codecs_jpeg.decode_jpeg(codecs_jpeg.encode_jpeg(
            sq, quality, progressive=True))
        rst = codecs_jpeg.decode_jpeg(codecs_jpeg.encode_jpeg(
            sq, quality, restart_interval=2))
        yield (iid, round(min(codecs.psnr(sq, base), 99.0), 2),
               round(min(codecs.psnr(sq, sub), 99.0), 2),
               bool(np.array_equal(base, prog)), bool(np.array_equal(base, rst)))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, psnr_444 double, psnr_420 double, "
        "prog_exact boolean, rst_exact boolean",
    )


def _warp_finish(out: np.ndarray, like: np.ndarray) -> np.ndarray:
    """uint8 inputs round+clip back to uint8; float inputs stay float64
    (lets the analytic-ramp exactness tests bypass quantization)."""
    if like.dtype == np.uint8:
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out


def _keys_weights(d: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Cubic-convolution tap weights (Keys 1981, GDAL's GWKCubic a=-0.5):
    4 taps at source offsets -1..+2 around floor(u), for fractional part d
    in [0,1). Shape (4, len(d)). a=-0.5 reproduces polynomials up to degree
    2 exactly (third-order accurate) — the basis of the analytic golden."""
    d = np.asarray(d, dtype=np.float64)
    d2, d3 = d * d, d * d * d
    # W(x) for |x|<=1: (a+2)|x|^3 - (a+3)|x|^2 + 1 ; taps 0 (|x|=d), 1 (1-d)
    # W(x) for 1<|x|<2: a(|x|^3 - 5|x|^2 + 8|x| - 4)  ; taps -1 (1+d), 2 (2-d)
    w_m1 = a * (d3 - 2 * d2 + d)                      # |x| = 1+d expanded
    w_0 = (a + 2) * d3 - (a + 3) * d2 + 1
    w_p1 = -(a + 2) * d3 + (2 * a + 3) * d2 - a * d   # |x| = 1-d expanded
    w_p2 = a * (-d3 + d2)                             # |x| = 2-d expanded
    return np.stack([w_m1, w_0, w_p1, w_p2])


def np_sample_sep(img: np.ndarray, uf: np.ndarray, vf: np.ndarray,
                  method: str) -> np.ndarray:
    """Separable inverse-map sampler — the scalar core of
    ``alg/gdalwarpkernel.cpp : GWKNearestNoMasks / GWKBilinear / GWKCubic``
    for axis-aligned transforms (scale and 3857<->4326 reprojection are both
    separable). Output pixel (j, i) reads source pixel-CENTER coordinates
    (vf[j], uf[i]); coordinates clamp at edges (replicate padding)."""
    h, w, c = img.shape
    uf = np.asarray(uf, dtype=np.float64)
    vf = np.asarray(vf, dtype=np.float64)
    if method == "nearest":
        ui = np.clip(np.floor(uf + 0.5).astype(np.int64), 0, w - 1)
        vi = np.clip(np.floor(vf + 0.5).astype(np.int64), 0, h - 1)
        return img[np.ix_(vi, ui, np.arange(c))]
    if method == "bilinear":
        ufc = np.clip(uf, 0.0, w - 1.0)
        vfc = np.clip(vf, 0.0, h - 1.0)
        u0 = np.clip(np.floor(ufc).astype(np.int64), 0, max(w - 2, 0))
        v0 = np.clip(np.floor(vfc).astype(np.int64), 0, max(h - 2, 0))
        du = (ufc - u0)[None, :, None]
        dv = (vfc - v0)[:, None, None]
        u1 = np.minimum(u0 + 1, w - 1)
        v1 = np.minimum(v0 + 1, h - 1)
        a = img[np.ix_(v0, u0)].astype(np.float64)
        b = img[np.ix_(v0, u1)].astype(np.float64)
        cq = img[np.ix_(v1, u0)].astype(np.float64)
        d = img[np.ix_(v1, u1)].astype(np.float64)
        out = (a * (1 - du) * (1 - dv) + b * du * (1 - dv)
               + cq * (1 - du) * dv + d * du * dv)
        return _warp_finish(out, img)
    if method in ("cubic", "cubicspline", "lanczos"):
        ufc = np.clip(uf, 0.0, w - 1.0)
        vfc = np.clip(vf, 0.0, h - 1.0)
        u0 = np.floor(ufc).astype(np.int64)
        v0 = np.floor(vfc).astype(np.int64)
        if method == "cubic":
            wu, wv = _keys_weights(ufc - u0), _keys_weights(vfc - v0)
        elif method == "cubicspline":  # B-spline smoothing kernel variant
            wu, wv = _bspline_weights(ufc - u0), _bspline_weights(vfc - v0)
        else:  # lanczos: 6 taps, radius 3 (GWKLanczosSinc)
            wu, wv = _lanczos_weights(ufc - u0), _lanczos_weights(vfc - v0)
        n_taps = wu.shape[0]
        first = -(n_taps // 2 - 1)                 # -1 (cubic) or -2 (lanczos)
        acc = np.zeros((len(vf), len(uf), c), dtype=np.float64)
        for ti in range(n_taps):
            rows = np.clip(v0 + first + ti, 0, h - 1)
            band_w = wv[ti][:, None, None]
            for tj in range(n_taps):
                cols = np.clip(u0 + first + tj, 0, w - 1)
                acc += img[np.ix_(rows, cols)].astype(np.float64) * (
                    band_w * wu[tj][None, :, None]
                )
        return _warp_finish(acc, img)
    raise ValueError(f"unknown resampling {method!r}")


def _lanczos_weights(d: np.ndarray, r: int = 3) -> np.ndarray:
    """Lanczos windowed-sinc taps (GDAL GRA_Lanczos, radius 3): 2r taps at
    source offsets -(r-1)..r around floor(u); W(x) = sinc(x)·sinc(x/r),
    weights normalized to sum 1 (GDAL normalizes the tap sum too, so
    constants are reproduced exactly — pinned by test). sinc at integer
    offsets is 0 except the center, so d=0 degrades to identity: a scale-1
    lanczos warp returns the image bit-exactly (second pinned property)."""
    d = np.asarray(d, dtype=np.float64)
    taps = []
    for k in range(-(r - 1), r + 1):
        x = d - k
        w = np.where(
            np.abs(x) < 1e-12, 1.0,
            np.sinc(x) * np.sinc(x / r),
        )
        w = np.where(np.abs(x) >= r, 0.0, w)
        taps.append(w)
    w = np.stack(taps)
    return w / w.sum(axis=0, keepdims=True)


def _bspline_weights(d: np.ndarray) -> np.ndarray:
    """Cubic B-spline taps (GDAL GRA_CubicSpline): smoothing, not
    interpolating — weights (1/6)B_i(d), partition of unity."""
    d = np.asarray(d, dtype=np.float64)
    d2, d3 = d * d, d * d * d
    w_m1 = (1 - 3 * d + 3 * d2 - d3) / 6.0
    w_0 = (4 - 6 * d2 + 3 * d3) / 6.0
    w_p1 = (1 + 3 * d + 3 * d2 - 3 * d3) / 6.0
    w_p2 = d3 / 6.0
    return np.stack([w_m1, w_0, w_p1, w_p2])


REDUCE_KERNELS = ("min", "max", "med", "q1", "q3", "sum", "mode")


def _np_reduce_block(img: np.ndarray, out_w: int, out_h: int,
                     method: str) -> np.ndarray:
    """Footprint-reduce warp kernels (GDAL GRA_Min/Max/Med/Q1/Q3/Sum/Mode,
    ``alg/gdalwarpkernel.cpp : GWKAverageOrModeThread``): each output pixel
    reduces ALL source pixels in its footprint. Contract: integer shrink
    factors only (footprints uniform => vectorizable reshape-reduce); GDAL
    computes ragged footprints for arbitrary scales — callers resize to a
    divisor first. Pinned tie rules: med/q1/q3 pick the LOWER order statistic
    (index floor(q*(n-1)) of the sorted block — integer output, no
    interpolation); mode ties -> smallest value (same pin as
    ``np_downsample2x``); sum clips at the uint8 ceiling."""
    h, w, c = img.shape
    fy, fx = h // out_h, w // out_w
    if not (fy >= 1 and fx >= 1 and fy * out_h == h and fx * out_w == w):
        raise ValueError(
            f"reduce kernel {method!r} needs integer shrink factors; "
            f"{w}x{h} -> {out_w}x{out_h} is not an integer shrink"
        )
    blk = img.reshape(out_h, fy, out_w, fx, c).transpose(0, 2, 4, 1, 3)
    blk = blk.reshape(out_h, out_w, c, fy * fx).astype(np.float64)
    if method == "min":
        out = blk.min(axis=3)
    elif method == "max":
        out = blk.max(axis=3)
    elif method == "sum":
        out = blk.sum(axis=3)
    elif method in ("med", "q1", "q3"):
        q = {"q1": 0.25, "med": 0.5, "q3": 0.75}[method]
        srt = np.sort(blk, axis=3)
        out = srt[:, :, :, int(q * (fy * fx - 1))]
    else:  # mode: most frequent, ties -> smallest value
        srt = np.sort(blk, axis=3)
        n = fy * fx
        counts = np.zeros_like(srt)
        for j in range(n):
            counts[:, :, :, j] = (srt == srt[:, :, :, j : j + 1]).sum(axis=3)
        score = counts * 256.0 + (255.0 - srt)
        pick = np.argmax(score, axis=3)
        out = np.take_along_axis(srt, pick[:, :, :, None], axis=3)[:, :, :, 0]
    return _warp_finish(out, img)


def np_warp_resize(img: np.ndarray, out_w: int, out_h: int, method: str) -> np.ndarray:
    """Inverse-mapped resample of one image to (out_h, out_w) — pure scale
    transform over the full image extent (``alg/gdalwarpkernel.cpp``
    kernels; see ``np_sample_sep`` and ``_np_reduce_block``)."""
    h, w, c = img.shape
    sx, sy = w / out_w, h / out_h
    u = (np.arange(out_w) + 0.5) * sx
    v = (np.arange(out_h) + 0.5) * sy
    if method in REDUCE_KERNELS:
        return _np_reduce_block(img, out_w, out_h, method)
    if method == "average":
        # exact box average when the scale is an integer shrink, else the
        # bilinear path (matches gdal2tiles' average-for-overviews usage)
        fy, fx = h // out_h, w // out_w
        if fy >= 1 and fx >= 1 and fy * out_h == h and fx * out_w == w:
            small = img.reshape(out_h, fy, out_w, fx, c).mean(axis=(1, 3))
            return _warp_finish(small, img)
        return np_warp_resize(img, out_w, out_h, "bilinear")
    return np_sample_sep(img, u - 0.5, v - 0.5, method)


def np_warp_reproject_geodetic(
    img: np.ndarray, lon0: float, lat0: float, pix_m: float,
    out_w: int | None = None, out_h: int | None = None,
    method: str = "bilinear",
) -> tuple[np.ndarray, tuple[float, float, float, float]]:
    """``gdalwarp -t_srs EPSG:4326`` analog for one north-up EPSG:3857 image
    anchored top-left at (lon0, lat0) with square ``pix_m`` pixels: inverse-
    mapped resample onto a regular lon/lat grid covering the same footprint.
    Both CRS are axis-aligned, so the inverse map is separable — the
    horizontal map is linear (mx ∝ lon) and the vertical map carries the
    full Mercator nonlinearity (rows sample non-uniformly in source y).
    Returns (out_img, (lon0, lat_south, lon_east, lat0)) — the geodetic
    bbox of the output grid."""
    h, w, _c = img.shape
    os_m = cells.ORIGIN_SHIFT
    mx0 = lon0 * os_m / 180.0
    my0 = math.log(math.tan((90.0 + lat0) * math.pi / 360.0)) / (
        math.pi / 180.0) * os_m / 180.0
    my1 = my0 - h * pix_m
    lon1 = (mx0 + w * pix_m) / os_m * 180.0
    lat1 = (2.0 * math.atan(math.exp(my1 / os_m * math.pi)) * 180.0
            / math.pi - 90.0)
    ow = out_w or w
    oh = out_h or h
    lons = lon0 + (np.arange(ow) + 0.5) * (lon1 - lon0) / ow
    lats = lat0 + (np.arange(oh) + 0.5) * (lat1 - lat0) / oh  # descending
    uf = (lons * os_m / 180.0 - mx0) / pix_m - 0.5
    mys = np.log(np.tan((90.0 + lats) * np.pi / 360.0)) / (
        np.pi / 180.0) * os_m / 180.0
    vf = (my0 - mys) / pix_m - 0.5
    return np_sample_sep(img, uf, vf, method), (lon0, lat1, lon1, lat0)


def warp_resize(images: DataFrame, scale: float | None = None,
                out_w: int | None = None, out_h: int | None = None,
                method: str = "bilinear", out_fmt: str = "png") -> DataFrame:
    """gdalwarp/gdal_translate -outsize analog over the images table:
    per-image inverse-mapped resample (R5), one Arrow pass, zero shuffle.

    Give either ``scale`` (both axes) or explicit ``out_w``/``out_h``.
    Returns (image_id, bytes, fmt, w, h, checksum)."""
    if scale is None and (out_w is None or out_h is None):
        raise ValueError("need scale or out_w+out_h")

    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        ow = out_w if out_w else max(1, int(round(img.shape[1] * scale)))
        oh = out_h if out_h else max(1, int(round(img.shape[0] * scale)))
        out = np_warp_resize(img, ow, oh, method)
        sq = out[:, :, 0] if out.shape[2] == 1 else out
        yield (iid, codecs.encode(sq, out_fmt), out_fmt, ow, oh,
               codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )


def warp_reproject(images: DataFrame, method: str = "bilinear",
                   pix_m: float = DEFAULT_PIX_M,
                   out_fmt: str = "png") -> DataFrame:
    """gdalwarp -t_srs EPSG:4326 over the images table: per-image inverse-
    mapped reprojection (R5), one Arrow pass, zero shuffle — the map-only
    plan shape that holds at any scale. Returns
    (image_id, bytes, fmt, w, h, lon_w, lat_s, lon_e, lat_n, checksum)."""
    def kern(iid, byts, fmt, lon, lat):
        out, bbox = np_warp_reproject_geodetic(
            codecs.decode_hwc(byts, fmt), lon, lat, pix_m, method=method)
        sq = out[:, :, 0] if out.shape[2] == 1 else out
        yield (iid, codecs.encode(sq, out_fmt), out_fmt, out.shape[1],
               out.shape[0], *bbox, codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt", "lon", "lat"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, "
        "lon_w double, lat_s double, lon_e double, lat_n double, "
        "checksum int",
    )


def np_sample_2d(img: np.ndarray, uf: np.ndarray, vf: np.ndarray,
                 method: str) -> np.ndarray:
    """Non-separable inverse-map sampler: ``uf``/``vf`` are FULL 2-D grids
    of fractional source pixel-center coordinates (one pair per output
    pixel). Needed when the coordinate transform does not factor into
    independent row/column maps — e.g. 3857 -> UTM, where easting depends
    on both lon and lat (``alg/gdalwarpkernel.cpp`` general path vs the
    separable fast path in :func:`np_sample_sep`)."""
    h, w, c = img.shape
    uf = np.asarray(uf, dtype=np.float64)
    vf = np.asarray(vf, dtype=np.float64)
    if method == "nearest":
        ui = np.clip(np.floor(uf + 0.5).astype(np.int64), 0, w - 1)
        vi = np.clip(np.floor(vf + 0.5).astype(np.int64), 0, h - 1)
        return img[vi, ui]
    if method == "bilinear":
        ufc = np.clip(uf, 0.0, w - 1.0)
        vfc = np.clip(vf, 0.0, h - 1.0)
        u0 = np.clip(np.floor(ufc).astype(np.int64), 0, max(w - 2, 0))
        v0 = np.clip(np.floor(vfc).astype(np.int64), 0, max(h - 2, 0))
        du = (ufc - u0)[:, :, None]
        dv = (vfc - v0)[:, :, None]
        u1 = np.minimum(u0 + 1, w - 1)
        v1 = np.minimum(v0 + 1, h - 1)
        a = img[v0, u0].astype(np.float64)
        b = img[v0, u1].astype(np.float64)
        cq = img[v1, u0].astype(np.float64)
        d = img[v1, u1].astype(np.float64)
        out = (a * (1 - du) * (1 - dv) + b * du * (1 - dv)
               + cq * (1 - du) * dv + d * du * dv)
        return _warp_finish(out, img)
    raise ValueError(f"np_sample_2d supports nearest/bilinear, got {method!r}")


def np_warp_reproject_utm(
    img: np.ndarray, lon0: float, lat0: float, pix_m: float,
    zone: int | None = None, method: str = "bilinear",
) -> tuple[np.ndarray, tuple[float, float, float, float], int]:
    """``gdalwarp -t_srs EPSG:326xx/327xx`` analog for one north-up
    EPSG:3857 image anchored top-left at (lon0, lat0): inverse-mapped
    resample onto a regular UTM grid covering the same footprint. Unlike
    the geodetic case the transform is NOT separable (grid convergence
    rotates the graticule), so every output pixel carries its own 2-D
    source coordinate (:func:`np_sample_2d`). Returns
    (out_img, (e_min, n_min, e_max, n_max), zone)."""
    h, w, _c = img.shape
    os_m = cells.ORIGIN_SHIFT
    mx0 = lon0 * os_m / 180.0
    my0 = math.log(math.tan((90.0 + lat0) * math.pi / 360.0)) / (
        math.pi / 180.0) * os_m / 180.0
    # footprint corners in lon/lat
    cx = np.array([mx0, mx0 + w * pix_m, mx0, mx0 + w * pix_m])
    cy = np.array([my0, my0, my0 - h * pix_m, my0 - h * pix_m])
    clon, clat = cells.np_meters_to_lonlat(cx, cy)
    cen_lat = float(clat.mean())
    if zone is None:
        zone = int(np.floor((float(clon.mean()) + 180.0) / 6.0)) % 60 + 1
    south = cen_lat < 0
    ce, cn = cells.np_lonlat_to_utm(clon, clat, zone, south=np.full(4, south))
    e0, e1 = float(ce.min()), float(ce.max())
    n0, n1 = float(cn.min()), float(cn.max())
    ow, oh = w, h
    es = e0 + (np.arange(ow) + 0.5) * (e1 - e0) / ow
    ns = n1 - (np.arange(oh) + 0.5) * (n1 - n0) / oh  # row 0 = north edge
    eg = np.repeat(es[None, :], oh, axis=0)
    ng = np.repeat(ns[:, None], ow, axis=1)
    glon, glat = cells.np_utm_to_lonlat(eg, ng, zone,
                                        np.full(eg.shape, south))
    uf = (glon * os_m / 180.0 - mx0) / pix_m - 0.5
    gmy = np.log(np.tan((90.0 + glat) * np.pi / 360.0)) / (
        np.pi / 180.0) * os_m / 180.0
    vf = (my0 - gmy) / pix_m - 0.5
    return np_sample_2d(img, uf, vf, method), (e0, n0, e1, n1), zone


def warp_reproject_utm(images: DataFrame, method: str = "bilinear",
                       pix_m: float = DEFAULT_PIX_M,
                       out_fmt: str = "png") -> DataFrame:
    """gdalwarp -t_srs EPSG:326xx/327xx over the images table: per-image
    inverse-mapped reprojection onto the image's own UTM zone — one Arrow
    pass, zero shuffle, the same map-only plan shape as the geodetic warp.
    Returns (image_id, bytes, fmt, w, h, zone, e_min, n_min, e_max, n_max,
    checksum)."""
    def kern(iid, byts, fmt, lon, lat):
        out, bbox, zone = np_warp_reproject_utm(
            codecs.decode_hwc(byts, fmt), lon, lat, pix_m, method=method)
        sq = out[:, :, 0] if out.shape[2] == 1 else out
        yield (iid, codecs.encode(sq, out_fmt), out_fmt, out.shape[1],
               out.shape[0], zone, *bbox, codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt", "lon", "lat"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, "
        "zone int, e_min double, n_min double, e_max double, "
        "n_max double, checksum int",
    )


def np_cutline_apply(
    img: np.ndarray, lon0: float, lat0: float, pix_m: float,
    rings: list[np.ndarray], nodata: int = 0,
) -> tuple[np.ndarray, int]:
    """``gdalwarp -cutline`` mask for one north-up EPSG:3857 image anchored
    top-left at (lon0, lat0): pixels whose CENTER falls outside the cutline
    polygon (lon/lat rings, even-odd => holes subtract) are set to
    ``nodata`` (``apps/gdalwarp_lib.cpp : -cutline ≈L2000`` +
    ``alg/gdalwarper.cpp : GDALWarpCutlineMasker``; ALL_TOUCHED=false pixel-
    center rule shared with rasterize). Returns (masked_img, kept_count)."""
    h, w, _c = img.shape
    os_m = cells.ORIGIN_SHIFT
    mx0 = lon0 * os_m / 180.0
    my0 = math.log(math.tan((90.0 + lat0) * math.pi / 360.0)) / (
        math.pi / 180.0) * os_m / 180.0
    mx = mx0 + (np.arange(w) + 0.5) * pix_m
    my = my0 - (np.arange(h) + 0.5) * pix_m
    lon, _ = cells.np_meters_to_lonlat(mx, np.zeros_like(mx))
    _, lat = cells.np_meters_to_lonlat(np.zeros_like(my), my)
    inside = geom.pip_grid_edges(lon, lat, geom.polygon_edges(rings))
    out = img.copy()
    out[~inside] = nodata
    return out, int(inside.sum())


def warp_cutline(
    images: DataFrame, rings: list[np.ndarray], nodata: int = 0,
    pix_m: float = DEFAULT_PIX_M, out_fmt: str = "png",
) -> DataFrame:
    """gdalwarp -cutline over the images table: per-image pixel-center mask
    against one broadcast cutline layer — map-only, zero shuffle (R5).
    Returns (image_id, bytes, fmt, w, h, kept, total, checksum)."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings]

    def kern(iid, byts, fmt, lon, lat):
        out, kept = np_cutline_apply(
            codecs.decode_hwc(byts, fmt), lon, lat, pix_m, rings, nodata)
        sq = out[:, :, 0] if out.shape[2] == 1 else out
        yield (iid, codecs.encode(sq, out_fmt), out_fmt, out.shape[1],
               out.shape[0], kept, out.shape[0] * out.shape[1],
               codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt", "lon", "lat"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, "
        "kept long, total long, checksum int",
    )


def gcps_to_geotransform(gcps: np.ndarray) -> np.ndarray:
    """First-order (affine) geotransform from ground control points — the
    least-squares fit of ``GDALGCPsToGeoTransform`` (public GDAL
    ``alg/gdaltransformer.cpp``; gdal_translate -gcp + gdalwarp -order 1).

    ``gcps`` is (n, 4): columns (pixel, line, geo_x, geo_y), n >= 3 and
    not collinear. Returns a (2, 3) matrix ``M`` with
    ``geo = M @ [1, pixel, line]``. Raises on a degenerate fit."""
    g = np.asarray(gcps, dtype=np.float64)
    if g.ndim != 2 or g.shape[1] != 4 or g.shape[0] < 3:
        raise ValueError(
            f"gcps_to_geotransform: need (n>=3, 4) (pixel, line, gx, gy) "
            f"array, got shape {g.shape}")
    A = np.column_stack([np.ones(len(g)), g[:, 0], g[:, 1]])
    sol, _, rank, _ = np.linalg.lstsq(A, g[:, 2:4], rcond=None)
    if rank < 3:
        raise ValueError(
            "gcps_to_geotransform: GCPs are collinear/degenerate — "
            "no affine geotransform exists")
    return sol.T  # (2, 3): rows (gx, gy), cols (1, pixel, line)


def np_warp_gcp_nearest(
    img: np.ndarray, coefs: np.ndarray, nodata: int = -1, band: int = 0,
) -> tuple[np.ndarray, int, int]:
    """Nearest-neighbour warp of ``img`` through the affine ``coefs``
    ((2,3) from :func:`gcps_to_geotransform`) onto the unit-resolution
    destination grid spanning the warped footprint (bounds rounded to the
    nearest integer so an exact-integer affine is noise-immune). Dest
    pixels whose inverse lands outside the source get ``nodata``.
    Returns (dest_values, origin_x, origin_y)."""
    h, w = img.shape[0], img.shape[1]
    corners = np.array(
        [[1, 0, 0], [1, w - 1, 0], [1, 0, h - 1], [1, w - 1, h - 1]],
        dtype=np.float64)
    geo = corners @ coefs.T  # (4, 2)
    x0 = int(np.rint(geo[:, 0].min())); x1 = int(np.rint(geo[:, 0].max()))
    y0 = int(np.rint(geo[:, 1].min())); y1 = int(np.rint(geo[:, 1].max()))
    inv = np.linalg.inv(coefs[:, 1:3])  # 2x2 linear part
    u, v = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    dx = u - coefs[0, 0]
    dy = v - coefs[1, 0]
    px = np.floor(inv[0, 0] * dx + inv[0, 1] * dy + 0.5).astype(np.int64)
    py = np.floor(inv[1, 0] * dx + inv[1, 1] * dy + 0.5).astype(np.int64)
    ok = (px >= 0) & (px < w) & (py >= 0) & (py < h)
    out = np.full(u.shape, nodata, dtype=np.int64)
    out[ok] = img[py[ok], px[ok], band].astype(np.int64)
    return out, x0, y0


def warp_gcp_affine(
    images: DataFrame, gcps: DataFrame, nodata: int = -1, band: int = 0,
) -> DataFrame:
    """``gdalwarp`` driven by ground control points (gdal_translate -gcp
    then gdalwarp -order 1): per image, fit the affine geotransform to its
    GCP set by least squares and nearest-resample onto the integer-aligned
    warped footprint. Returns the dest-value histogram
    (image_id, v_out, n) with ``v_out = nodata`` counting the outside-
    footprint pixels — pinning both pixel values AND footprint geometry.

    Scale shape: GCP sets are tiny (a handful of rows per image) ->
    collect_list + BROADCAST join onto the images; then one Arrow pass,
    pixels never shuffle — identical plan at 12 images or 10^12."""
    gl = gcps.groupBy("image_id").agg(
        F.collect_list(F.array("px", "py", "gx", "gy")).alias("_gcps")
    )
    joined = images.select(*_DEC_COLS).join(F.broadcast(gl), "image_id")

    def kern(iid, byts, fmt, g):
        coefs = gcps_to_geotransform(np.array(g))
        out, _, _ = np_warp_gcp_nearest(codecs.decode_hwc(byts, fmt), coefs,
                                        nodata, band)
        return _hist_rows((iid,), out)

    return arrowrows.map_rows(joined, kern, _HIST_DDL)


def to_xyz(images: DataFrame, band: int = 0, sample_stride: int = 1) -> DataFrame:
    """gdal2xyz: every (stride-th) pixel as a row. Explodes h*w rows per
    image — guard with stride at scale."""
    ddl = "image_id string, px int, py int, value int"
    schema = arrowrows.arrow_schema(ddl)

    def run(batches):
        for b in batches:
            for iid, byts, fmt in zip(*(c.to_pylist() for c in b.columns)):
                img = codecs.decode_hwc(byts, fmt)[::sample_stride, ::sample_stride, band]
                h, w = img.shape
                ys, xs = np.mgrid[0:h, 0:w]
                yield from arrowrows.columns_table(
                    [[iid] * (h * w),
                     (xs.ravel() * sample_stride).astype(np.int32),
                     (ys.ravel() * sample_stride).astype(np.int32),
                     img.ravel().astype(np.int32)], schema).to_batches()

    return images.select(*_DEC_COLS).mapInArrow(run, schema=ddl)


# ---------------------------------------------------------------------------
# R8 — proximity (alg/gdalproximity.cpp : GDALComputeProximity ≈L300) and
#      fillnodata (alg/fillnodata.cpp : GDALFillNodata)
# ---------------------------------------------------------------------------

def np_proximity(img: np.ndarray, targets=(0,), max_dist: float | None = None,
                 nodata: float = -1.0) -> np.ndarray:
    """Exact Euclidean distance (pixels) from every pixel to the nearest
    TARGET-valued pixel — the GDALComputeProximity contract (DISTUNITS=PIXEL,
    VALUES=targets, MAXDIST, NODATA). Returns float64 (h, w); pixels beyond
    max_dist (or with no target anywhere) get ``nodata``.

    Vectorized chunked brute force over target pixels: temporaries stay
    ~pixels x chunk doubles (<=4 MB). Exact by construction — GDAL's
    two-pass scan is an optimization of the same metric. Each image row of
    the table is one raster, so the operator parallelizes per image; at
    mosaic scale run per-tile with a max_dist-wide halo."""
    a = img[:, :, 0] if img.ndim == 3 else img
    h, w = a.shape
    mask = np.isin(a, np.asarray(targets))
    ty, tx = np.nonzero(mask)
    out = np.full(h * w, np.inf)
    if len(ty):
        py, px = np.mgrid[0:h, 0:w]
        py = py.ravel().astype(np.float64)
        px = px.ravel().astype(np.float64)
        # temporaries = pixels x chunk doubles; keep under ~5 MB (cold Python
        # workers pay heavily for big first-touch allocations on this host)
        chunk = max(1, int(600_000 / max(h * w, 1)))
        for s in range(0, len(ty), chunk):
            d2 = (py[:, None] - ty[s : s + chunk][None, :]) ** 2 \
               + (px[:, None] - tx[s : s + chunk][None, :]) ** 2
            np.minimum(out, d2.min(axis=1), out=out)
    out = np.sqrt(out).reshape(h, w)
    if max_dist is not None:
        out[out > max_dist] = nodata
    out[np.isinf(out)] = nodata
    return out


def _directional_nearest(valid: np.ndarray, vals: np.ndarray):
    """(dist, val) of the nearest valid pixel looking LEFT along each row —
    fully vectorized (maximum.accumulate index propagation)."""
    h, w = valid.shape
    cols = np.broadcast_to(np.arange(w), (h, w))
    idx = np.where(valid, cols, -1)
    last = np.maximum.accumulate(idx, axis=1)
    dist = np.where(last >= 0, cols - last, np.inf).astype(np.float64)
    val = vals[np.arange(h)[:, None], np.maximum(last, 0)].astype(np.float64)
    return dist, val


def np_fillnodata(img: np.ndarray, nodata: int = 0, max_search: int = 16,
                  smoothing: int = 0) -> np.ndarray:
    """GDALFillNodata analog: every nodata pixel becomes the inverse-
    distance-weighted mean of the nearest VALID pixel in each of the four
    axis directions within ``max_search`` pixels (weights 1/d), followed by
    ``smoothing`` 3x3 mean passes applied to the filled pixels only. Pixels
    with no valid neighbor in range stay nodata. Documented divergence: GDAL
    interpolates from up to four quadrant-nearest points collected by its
    scan; the four axis-nearest points here are the same family and the
    docstring contract (IDW of nearest valid neighbors) is identical.
    """
    a = img[:, :, 0].astype(np.float64) if img.ndim == 3 else img.astype(np.float64)
    valid = a != nodata
    wsum = np.zeros_like(a)
    vsum = np.zeros_like(a)
    for flip, transpose in ((False, False), (True, False), (False, True), (True, True)):
        v, x = (valid, a)
        if transpose:
            v, x = v.T, x.T
        if flip:
            v, x = v[:, ::-1], x[:, ::-1]
        dist, val = _directional_nearest(v, x)
        if flip:
            dist, val = dist[:, ::-1], val[:, ::-1]
        if transpose:
            dist, val = dist.T, val.T
        ok = (dist > 0) & (dist <= max_search)
        w_ = np.where(ok, 1.0 / np.where(dist == 0, 1.0, dist), 0.0)
        wsum += w_
        vsum += w_ * np.where(ok, val, 0.0)
    out = a.copy()
    fill = (~valid) & (wsum > 0)
    out[fill] = vsum[fill] / wsum[fill]
    for _ in range(smoothing):
        padded = np.pad(out, 1, mode="edge")
        sm = (
            padded[:-2, :-2] + padded[:-2, 1:-1] + padded[:-2, 2:]
            + padded[1:-1, :-2] + padded[1:-1, 1:-1] + padded[1:-1, 2:]
            + padded[2:, :-2] + padded[2:, 1:-1] + padded[2:, 2:]
        ) / 9.0
        out[fill] = sm[fill]
    return out


def proximity(images: DataFrame, targets=(1,), max_dist: float | None = None,
              out_fmt: str = "pgm") -> DataFrame:
    """Distributed proximity map: distance raster (rounded to uint8, capped
    255) per image + checksum — one Arrow pass, each row its own raster."""
    def kern(iid, byts, fmt):
        d = np_proximity(codecs.decode_hwc(byts, fmt), targets=targets,
                         max_dist=max_dist, nodata=255.0)
        q = np.clip(np.round(d), 0, 255).astype(np.uint8)
        yield (iid, codecs.encode(q, out_fmt), out_fmt, q.shape[1], q.shape[0],
               codecs.gdal_style_checksum(q))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )


def fillnodata(images: DataFrame, nodata: int = 0, max_search: int = 16,
               smoothing: int = 0, out_fmt: str = "pgm") -> DataFrame:
    """Distributed fillnodata: filled raster (uint8) + checksum per image."""
    def kern(iid, byts, fmt):
        f = np_fillnodata(codecs.decode_hwc(byts, fmt), nodata=nodata,
                          max_search=max_search, smoothing=smoothing)
        q = np.clip(np.round(f), 0, 255).astype(np.uint8)
        yield (iid, codecs.encode(q, out_fmt), out_fmt, q.shape[1], q.shape[0],
               codecs.gdal_style_checksum(q))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )


# ---------------------------------------------------------------------------
# nearblack (apps/nearblack_lib.cpp): flatten the near-black (or near-white)
# collar that lossy compression / warping leaves around imagery edges.
# GDAL scans each row from both horizontal edges (and propagates a vertical
# line mask); here the collar is the union of the 4 directional prefix
# masks — a pixel is collar iff every pixel between it and some image edge
# (straight-line) is within `near` of the target on ALL bands. Pure numpy
# cumulative-AND per direction, one Arrow pass per batch.
# ---------------------------------------------------------------------------

def np_nearblack_mask(img: np.ndarray, near: int = 15,
                      white: bool = False) -> np.ndarray:
    """(h, w) bool collar mask — True where the pixel is edge-connected to
    an image border through straight-line near-target pixels."""
    a = img if img.ndim == 3 else img[:, :, None]
    target = 255 if white else 0
    nearmask = (np.abs(a.astype(np.int16) - target) <= near).all(axis=2)
    left = np.logical_and.accumulate(nearmask, axis=1)
    right = np.logical_and.accumulate(nearmask[:, ::-1], axis=1)[:, ::-1]
    top = np.logical_and.accumulate(nearmask, axis=0)
    bot = np.logical_and.accumulate(nearmask[::-1], axis=0)[::-1]
    return left | right | top | bot


def np_nearblack(img: np.ndarray, near: int = 15, white: bool = False) -> np.ndarray:
    collar = np_nearblack_mask(img, near=near, white=white)
    a = img if img.ndim == 3 else img[:, :, None]
    out = a.copy()
    out[collar] = 255 if white else 0
    return out.reshape(img.shape)


def nearblack(images: DataFrame, near: int = 15, white: bool = False,
              out_fmt: str = "pgm") -> DataFrame:
    """Distributed nearblack: collar-flattened raster + collared-pixel count
    + checksum per image (map-only; each row is its own raster)."""
    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        collar = np_nearblack_mask(img, near=near, white=white)
        out = img.copy()
        out[collar] = 255 if white else 0
        fmt_out = out_fmt
        if out.shape[2] == 1:
            out = out[:, :, 0]
        else:
            fmt_out = "ppm"
        band0 = out[:, :, 0] if out.ndim == 3 else out
        yield (iid, codecs.encode(out, fmt_out), fmt_out, band0.shape[1],
               band0.shape[0], int(collar.sum()), codecs.gdal_style_checksum(band0))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, bytes binary, fmt string, w int, h int, "
        "n_collar_px long, checksum int",
    )


# ---------------------------------------------------------------------------
# R10 — pansharpen (osgeo_utils/gdal_pansharpen.py : weighted Brovey,
#       backed by alg/gdalpansharpen.cpp : GDALPansharpenOperation)
# ---------------------------------------------------------------------------

def np_pansharpen(ms: np.ndarray, pan: np.ndarray,
                  weights: tuple[float, ...] | None = None) -> np.ndarray:
    """Weighted-Brovey pansharpening: upsample the multispectral bands to
    the pan grid (nearest), compute pseudo-pan = sum(w_i * ms_i), scale each
    band by pan/pseudo_pan. ms (h, w, c) uint8, pan (H, W) uint8 ->
    (H, W, c) uint8."""
    H, W = pan.shape
    h, w, c = ms.shape
    if weights is None:
        weights = tuple(1.0 / c for _ in range(c))
    ys = (np.arange(H) * h // H)
    xs = (np.arange(W) * w // W)
    up = ms[np.ix_(ys, xs)].astype(np.float64)
    # fixed-order elementwise weighted sum, NOT tensordot/BLAS: BLAS picks
    # kernels (FMA width, accumulator count) by CPUID, so the same input
    # can differ in the last ulp across host epochs and flip np.rint at
    # exact .5 ties — which broke the committed checksum golden when this
    # VM migrated hardware. Elementwise IEEE ops are bit-identical
    # everywhere, keeping the golden machine-independent.
    wts = np.asarray(weights, np.float64)
    pseudo = up[:, :, 0] * wts[0]
    for i in range(1, c):
        pseudo = pseudo + up[:, :, i] * wts[i]
    ratio = pan.astype(np.float64) / np.maximum(pseudo, 1e-9)
    out = up * ratio[:, :, None]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def pansharpen(ms_images: DataFrame, pan_images: DataFrame,
               weights: tuple[float, ...] | None = None,
               out_fmt: str = "ppm") -> DataFrame:
    """gdal_pansharpen over paired tables (joined on image_id: ms = RGB row,
    pan = single-band row). Bytes join by id — the only shuffle — then one
    Arrow pass fuses."""
    ms = ms_images.select(
        "image_id", F.col("bytes").alias("_mb"), F.col("fmt").alias("_mf"))
    pan = pan_images.select(
        "image_id", F.col("bytes").alias("_pb"), F.col("fmt").alias("_pf"))
    pairs = ms.join(pan, "image_id")

    def kern(iid, mb, mf, pb, pf):
        out = np_pansharpen(codecs.decode_hwc(mb, mf),
                            codecs.decode_hwc(pb, pf)[:, :, 0], weights)
        yield (iid, codecs.encode(out, out_fmt), out_fmt, out.shape[1],
               out.shape[0], codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        pairs, kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )


# ---------------------------------------------------------------------------
# gdal_footprint (GDAL 3.8 `apps/gdal_footprint_lib.cpp`): valid-data
# footprint polygon(s) per raster
# ---------------------------------------------------------------------------

def footprint(images: DataFrame, nodata: float = 0.0,
              connectivity: int = 4) -> DataFrame:
    """gdal_footprint analog: polygonal outline of the valid-data mask
    (band 0 != nodata), one row per connected part.

    Returns (image_id, part_id, n_px, xmin, ymin, xmax, ymax, n_vertices,
    wkt): part_id = min pixel index of the part (canonical, scan-order
    stable); bbox and WKT use pixel-CORNER coordinates (a part covering
    cols c0..c1 spans x in [c0, c1+1]); n_vertices counts the distinct
    exterior-ring vertices (WKT closes the ring with one repeat).

    One per-row Arrow pass: the valid mask goes through
    polygonize.image_components (run-vectorized CCL, then each part's rings
    traced on its bbox crop) — pixels never shuffle; the output is the
    skinny vector layer gdal_footprint writes."""
    from . import polygonize as _poly

    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)[:, :, 0]
        mask = (img.astype(np.float64) != float(nodata)).astype(np.uint8)
        for part_id, _v, n_px, (y0, x0, y1, x1), (ext, holes) in (
            _poly.image_components(mask, connectivity)
        ):
            yield (iid, part_id, n_px, x0, y0, x1 + 1, y1 + 1, len(ext),
                   _poly.polygon_wkt(ext, holes))

    return arrowrows.map_rows(
        images.select(*_DEC_COLS), kern,
        "image_id string, part_id long, n_px long, xmin int, ymin int, "
        "xmax int, ymax int, n_vertices int, wkt string",
    )


# ---------------------------------------------------------------------------
# Thin-plate-spline warp — gdalwarp -tps (public GDAL alg/thinplatespline.cpp
# solves the same radial-basis system; the -tps path fits FORWARD and
# INVERSE splines from the GCPs and inverse-maps the destination grid).
# ---------------------------------------------------------------------------

def _solve_fixed(A: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Gaussian elimination with partial pivoting in fixed evaluation
    order — identical IEEE result on every machine, unlike LAPACK/BLAS
    reductions whose instruction dispatch varies by CPU (the pansharpen
    ulp-drift lesson). Systems here are tiny (n_gcps + 3)."""
    A = A.astype(np.float64).copy()
    b = b.astype(np.float64).copy()
    n = len(A)
    for k in range(n):
        p = k + int(np.argmax(np.abs(A[k:, k])))
        if A[p, k] == 0.0:
            raise ValueError("TPS system is singular — degenerate GCPs")
        if p != k:
            A[[k, p]] = A[[p, k]]
            b[[k, p]] = b[[p, k]]
        for i in range(k + 1, n):
            m = A[i, k] / A[k, k]
            A[i, k:] = A[i, k:] - m * A[k, k:]
            b[i] = b[i] - m * b[k]
    x = np.zeros_like(b)
    for i in range(n - 1, -1, -1):
        x[i] = (b[i] - A[i, i + 1:] @ x[i + 1:]) / A[i, i]
    return x


def _tps_u(r2: np.ndarray) -> np.ndarray:
    """U(r) = r^2 * ln(r), written as 0.5 * r2 * ln(r2) so only r^2 is
    ever formed; U(0) = 0 by convention."""
    out = np.zeros_like(r2)
    nz = r2 > 0
    out[nz] = 0.5 * r2[nz] * np.log(r2[nz])
    return out


def np_tps_fit(src: np.ndarray, dst: np.ndarray):
    """Fit the 2D thin-plate spline interpolating ``src (n,2) -> dst
    (n,2)`` (one scalar spline per output coordinate, shared kernel
    matrix). Returns (src, W) where W is (n+3, 2): n kernel weights then
    the affine part (a0, ax, ay). The spline passes through every GCP
    exactly (interpolation, not smoothing — lambda = 0, the gdalwarp
    -tps behavior)."""
    src = np.asarray(src, dtype=np.float64)
    dst = np.asarray(dst, dtype=np.float64)
    n = len(src)
    if n < 3:
        raise ValueError("np_tps_fit: need >= 3 GCPs")
    d2 = (
        (src[:, None, 0] - src[None, :, 0]) ** 2
        + (src[:, None, 1] - src[None, :, 1]) ** 2
    )
    K = _tps_u(d2)
    P = np.column_stack([np.ones(n), src])
    A = np.zeros((n + 3, n + 3))
    A[:n, :n] = K
    A[:n, n:] = P
    A[n:, :n] = P.T
    W = np.zeros((n + 3, 2))
    for c in range(2):
        rhs = np.zeros(n + 3)
        rhs[:n] = dst[:, c]
        W[:, c] = _solve_fixed(A, rhs)
    return src, W


def np_tps_eval(fit, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate a fitted TPS at arrays (x, y) -> (u, v). Fixed-order
    accumulation (per-GCP loop) keeps the sum machine-stable."""
    src, W = fit
    u = W[len(src), 0] + W[len(src) + 1, 0] * x + W[len(src) + 2, 0] * y
    v = W[len(src), 1] + W[len(src) + 1, 1] * x + W[len(src) + 2, 1] * y
    for i in range(len(src)):
        r2 = (x - src[i, 0]) ** 2 + (y - src[i, 1]) ** 2
        uu = _tps_u(r2)
        u = u + W[i, 0] * uu
        v = v + W[i, 1] * uu
    return u, v


def np_warp_tps_nearest(
    img: np.ndarray, gcps: np.ndarray, nodata: int = -1, band: int = 0,
) -> np.ndarray:
    """gdalwarp -tps, nearest kernel: forward TPS maps the source corners
    to fix the (rounded) destination window; the INVERSE spline — fitted
    from the swapped GCP pairs, exactly GDAL's approach — maps each dest
    pixel back to source coordinates for sampling. Outside-footprint
    pixels get ``nodata``."""
    h, w = img.shape[0], img.shape[1]
    g = np.asarray(gcps, dtype=np.float64)
    fwd = np_tps_fit(g[:, 0:2], g[:, 2:4])
    inv = np_tps_fit(g[:, 2:4], g[:, 0:2])
    cx = np.array([0.0, w - 1.0, 0.0, w - 1.0])
    cy = np.array([0.0, 0.0, h - 1.0, h - 1.0])
    gx, gy = np_tps_eval(fwd, cx, cy)
    x0, x1 = int(np.rint(gx.min())), int(np.rint(gx.max()))
    y0, y1 = int(np.rint(gy.min())), int(np.rint(gy.max()))
    u, v = np.meshgrid(
        np.arange(x0, x1 + 1, dtype=np.float64),
        np.arange(y0, y1 + 1, dtype=np.float64),
    )
    px, py = np_tps_eval(inv, u, v)
    pxr = np.floor(px + 0.5).astype(np.int64)
    pyr = np.floor(py + 0.5).astype(np.int64)
    ok = (pxr >= 0) & (pxr < w) & (pyr >= 0) & (pyr < h)
    out = np.full(u.shape, nodata, dtype=np.int64)
    out[ok] = img[pyr[ok], pxr[ok], band].astype(np.int64)
    return out


def warp_tps(
    images: DataFrame, gcps: DataFrame, nodata: int = -1, band: int = 0,
) -> DataFrame:
    """``gdalwarp -tps`` over the images table: per-image thin-plate
    spline fitted to its (broadcast) GCP set, nearest resample onto the
    rounded warped window. Same scale shape as :func:`warp_gcp_affine`:
    tiny GCP table broadcast, one Arrow pass, pixels never shuffle.
    Returns the dest-value histogram (image_id, v_out, n)."""
    gl = gcps.groupBy("image_id").agg(
        F.collect_list(F.array("px", "py", "gx", "gy")).alias("_gcps")
    )
    joined = images.select(*_DEC_COLS).join(F.broadcast(gl), "image_id")

    def kern(iid, byts, fmt, g):
        out = np_warp_tps_nearest(codecs.decode_hwc(byts, fmt), np.array(g),
                                  nodata, band)
        return _hist_rows((iid,), out)

    return arrowrows.map_rows(joined, kern, _HIST_DDL)
