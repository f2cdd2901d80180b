"""Dataset/layer inspection reports — the gdalinfo / ogrinfo analogs.

Reference anchors (public GDAL tree):
- ``apps/gdalinfo_lib.cpp : GDALInfo (≈L400)`` — per-dataset report: size,
  band count, data type, per-band min/max/mean (``GDALRasterBand::
  ComputeStatistics``) and the autotest checksum.
- ``apps/ogrinfo_lib.cpp : GDALVectorInfo / ReportOnLayer (≈L1500)`` —
  per-layer summary (``-so``): feature count (``OGRLayer::GetFeatureCount``),
  extent (``OGRLayer::GetExtent``), geometry type.

Spark-first shape: raster_info is ONE per-row Arrow pass emitting a skinny
stats row per image (pixels never shuffle); layer_info is a plain
groupBy aggregate — whole-stage-codegen, no Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, codecs

_RASTER_INFO_SCHEMA = (
    "image_id string, w int, h int, bands int, dtype string, "
    "v_min double, v_max double, v_mean double, checksum long"
)


def raster_info(images: DataFrame, *, band: int = 0) -> DataFrame:
    """gdalinfo-style report: one row per image with size, band count,
    pixel dtype, band-0 min/max/mean (``ComputeStatistics`` integer path)
    and the exact GDALChecksumImage value (the autotest golden)."""

    def kern(iid, buf, fmt):
        img = codecs.decode(buf, fmt)
        bv = img if img.ndim == 2 else img[:, :, band]
        f = bv.astype(np.float64)
        yield (iid, bv.shape[1], bv.shape[0], 1 if img.ndim == 2 else img.shape[2],
               str(img.dtype), float(f.min()), float(f.max()), float(f.mean()),
               codecs.gdal_checksum_band(bv))

    return arrowrows.map_rows(images.select("image_id", "bytes", "fmt"), kern,
                              _RASTER_INFO_SCHEMA)


def layer_info(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    layer_col: str | None = None,
) -> DataFrame:
    """ogrinfo -so analog: feature count + extent per layer.

    With ``layer_col`` the frame is treated as a multi-layer datasource
    (one summary row per distinct value — ogrinfo over each layer);
    without it, one row for the whole frame."""
    aggs = [
        F.count("*").alias("n_features"),
        F.min(lon).alias("xmin"),
        F.min(lat).alias("ymin"),
        F.max(lon).alias("xmax"),
        F.max(lat).alias("ymax"),
    ]
    if layer_col is None:
        return df.agg(*aggs)
    return df.groupBy(F.col(layer_col).alias("layer")).agg(*aggs)
