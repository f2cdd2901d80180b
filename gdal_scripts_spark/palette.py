"""Median-cut color quantization — rgb2pct / pct2rgb (SURVEY.md §2.4 A6).

Reference semantics: ``osgeo_utils/rgb2pct.py`` driving
``alg/gdalmediancut.cpp : GDALComputeMedianCutPCT (≈L200)`` (global 5-bit
histogram -> median-cut boxes -> palette) and ``alg/gdaldither.cpp`` for the
nearest-color mapping (we map by exact nearest, no error diffusion — noted).

Spark-first decomposition (partial+final like every global aggregate here):
1. per-image coarse 5-bit-per-channel histogram (32^3 bins) in one Arrow
   pass -> (bin, count) rows;
2. global bin counts via a native groupBy-sum (a 32k-row shuffle max);
3. median-cut on the driver over the 32k-bin histogram (tiny);
4. palette broadcast; per-image nearest-palette mapping in one Arrow pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, codecs


def rgb_histogram(images: DataFrame, bits: int = 5) -> DataFrame:
    """(bin, count) global coarse RGB histogram; bin = (r5<<10)|(g5<<5)|b5."""
    shift = 8 - bits

    ddl = "bin long, count long"
    schema = arrowrows.arrow_schema(ddl)

    def run(batches):
        for b in batches:
            for byts, fmt in zip(*(c.to_pylist() for c in b.columns)):
                q = (codecs.decode_hwc(byts, fmt) >> shift).astype(np.int64)
                # a single-band image counts as gray r = g = b
                q = np.broadcast_to(q, (*q.shape[:2], 3))
                bins = (q[:, :, 0] << (2 * bits)) | (q[:, :, 1] << bits) | q[:, :, 2]
                counts = np.bincount(bins.ravel(), minlength=1 << (3 * bits))
                nz = np.nonzero(counts)[0]
                yield from arrowrows.columns_table(
                    [nz, counts[nz]], schema).to_batches()

    per_img = images.select("bytes", "fmt").mapInArrow(run, schema=ddl)
    return per_img.groupBy("bin").agg(F.sum("count").alias("count"))


def median_cut(hist_rows: list[tuple[int, int]], n_colors: int = 256,
               bits: int = 5) -> np.ndarray:
    """Driver-side median cut over the coarse histogram -> (n,3) uint8
    palette. Classic GDALComputeMedianCutPCT structure: split the box with
    the largest pixel count along its longest channel at the weighted
    median."""
    mask = (1 << bits) - 1
    bins = np.array([b for b, _ in hist_rows], dtype=np.int64)
    counts = np.array([c for _, c in hist_rows], dtype=np.int64)
    pts = np.stack(
        [(bins >> (2 * bits)) & mask, (bins >> bits) & mask, bins & mask], axis=1
    )
    boxes = [np.arange(len(bins))]
    splittable = [True]
    while len(boxes) < n_colors:
        cand = [j for j in range(len(boxes)) if splittable[j] and len(boxes[j]) > 1]
        if not cand:
            break
        k = max(cand, key=lambda j: int(counts[boxes[j]].sum()))
        idx = boxes[k]
        spans = pts[idx].max(axis=0) - pts[idx].min(axis=0)
        ch = int(np.argmax(spans))
        if spans[ch] == 0:
            splittable[k] = False
            continue
        order = idx[np.argsort(pts[idx, ch], kind="stable")]
        csum = np.cumsum(counts[order])
        half = csum[-1] / 2.0
        split = int(np.searchsorted(csum, half)) + 1
        split = max(1, min(split, len(order) - 1))
        boxes[k] = order[:split]
        boxes.append(order[split:])
        splittable.append(True)
    pal = []
    scale = 1 << (8 - bits)
    for idx in boxes:
        w = counts[idx].astype(np.float64)
        c = (pts[idx] * w[:, None]).sum(axis=0) / w.sum()
        pal.append(np.clip(np.rint(c * scale + scale / 2), 0, 255))
    return np.array(pal, dtype=np.uint8)


def rgb2pct(images: DataFrame, n_colors: int = 256, bits: int = 5) -> tuple[DataFrame, np.ndarray]:
    """Quantize every image to a single global palette. Returns
    (indexed images DataFrame, palette). Output bytes = PGM of palette
    indices (the reference writes a paletted GTiff; the index raster +
    palette table is the same information)."""
    spark = images.sparkSession
    # sort by bin: collect() order is partition-dependent, and median_cut's
    # stable tie-breaks depend on row order — sorted input makes the palette
    # (and the committed dither goldens) run-deterministic
    hist = sorted((r["bin"], r["count"]) for r in rgb_histogram(images, bits).collect())
    palette = median_cut(hist, n_colors, bits)
    bc = spark.sparkContext.broadcast(palette.astype(np.int32))

    def kern(iid, byts, fmt):
        img = codecs.decode_hwc(byts, fmt)
        flat = np.broadcast_to(img, (*img.shape[:2], 3)).reshape(-1, 3).astype(np.int32)
        d = ((flat[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
        out = d.argmin(axis=1).astype(np.uint8).reshape(img.shape[:2])
        yield iid, codecs.encode(out, "pgm"), "pgm", out.shape[1], out.shape[0]

    indexed = arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, bytes binary, fmt string, w int, h int")
    return indexed, palette


def pct2rgb(indexed: DataFrame, palette: np.ndarray) -> DataFrame:
    """Inverse: palette indices -> RGB (osgeo_utils/pct2rgb.py)."""
    spark = indexed.sparkSession
    bc = spark.sparkContext.broadcast(palette)

    def kern(iid, byts, fmt):
        rgb = bc.value[codecs.decode(byts, fmt)]
        yield iid, codecs.encode(rgb, "ppm"), "ppm", rgb.shape[1], rgb.shape[0]

    return arrowrows.map_rows(
        indexed.select("image_id", "bytes", "fmt"), kern,
        "image_id string, bytes binary, fmt string, w int, h int")


# ---------------------------------------------------------------------------
# R10 — Floyd–Steinberg dither (alg/gdaldither.cpp : GDALDitherRGB2PCT)
# ---------------------------------------------------------------------------

def np_dither_fs(img: np.ndarray, palette: np.ndarray) -> np.ndarray:
    """Floyd–Steinberg error-diffusion quantization to a palette: returns
    (h, w) uint8 palette indices. Error diffusion is inherently serial per
    image (GDAL's loop is too); the nearest-color search is precomputed as
    a 5-bit color-cube LUT (the GDALDitherRGB2PCT device), so the scan is
    O(pixels) cheap steps — images parallelize across rows of the table."""
    pal = np.asarray(palette, np.int32)
    # 32^3 LUT: quantized rgb -> nearest palette index
    g = np.arange(32) * 8 + 4
    rr, gg, bb = np.meshgrid(g, g, g, indexing="ij")
    cube = np.stack([rr, gg, bb], axis=-1).reshape(-1, 3)
    d = ((cube[:, None, :] - pal[None, :, :]) ** 2).sum(axis=2)
    lut = d.argmin(axis=1).astype(np.uint8).reshape(32, 32, 32)

    a = img.astype(np.float64)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    h, w, _ = a.shape
    out = np.zeros((h, w), np.uint8)
    for y in range(h):
        row = a[y]
        nxt = a[y + 1] if y + 1 < h else None
        for x in range(w):
            px = row[x]
            q = np.clip(px, 0, 255).astype(np.int64) >> 3
            idx = lut[q[0], q[1], q[2]]
            out[y, x] = idx
            err = px - pal[idx]
            if x + 1 < w:
                row[x + 1] += err * (7 / 16)
            if nxt is not None:
                if x > 0:
                    nxt[x - 1] += err * (3 / 16)
                nxt[x] += err * (5 / 16)
                if x + 1 < w:
                    nxt[x + 1] += err * (1 / 16)
    return out


def dither_to_palette(images: DataFrame, n_colors: int = 64) -> tuple:
    """rgb2pct with Floyd–Steinberg dithering (GDAL's default path):
    median-cut global palette, then per-image error-diffused indices.
    Returns (indexed DataFrame, palette)."""
    _, pal = rgb2pct(images, n_colors)  # reuse the global median-cut palette
    spark = images.sparkSession
    bc = spark.sparkContext.broadcast(pal)

    def kern(iid, byts, fmt):
        idx = np_dither_fs(codecs.decode(byts, fmt), bc.value)
        yield (iid, codecs.encode(idx, "pgm"), "pgm", idx.shape[1], idx.shape[0],
               codecs.gdal_style_checksum(idx))

    indexed = arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )
    return indexed, pal
