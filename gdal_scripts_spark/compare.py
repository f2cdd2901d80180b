"""Golden-diff operator — gdalcompare analog (SURVEY.md §5.1).

Reference semantics: ``osgeo_utils/gdalcompare.py : compare_db / compare_band
(≈L100-300)`` — pairwise dataset diff: dimensions, band checksums, pixel
differences. This engine's version is table-to-table: join two image tables
on id and emit one diff row per pair, including MSE/PSNR — the acceptance
metric of the north star ("decoded pixels allclose, PSNR>=40dB for lossy
formats", ``BASELINE.json : north_star``).

Spark shape: ids join first (narrow columns), bytes re-attached from both
sides, then one Arrow pass decodes and compares — binary payloads cross the
shuffle once each, pixels never leave numpy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, codecs


def np_psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def compare_images(
    left: DataFrame, right: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Per-id diff of two image tables.

    Returns (id, same_dims, checksum_l, checksum_r, mse, psnr_db, identical);
    pairs whose dims differ get mse/psnr NULL. Inner join: ids present on one
    side only are a schema-level diff the caller checks with an anti-join.
    """
    l = left.select(
        F.col(id_col), F.col("bytes").alias("_bl"), F.col("fmt").alias("_fl")
    )
    r = right.select(
        F.col(id_col), F.col("bytes").alias("_br"), F.col("fmt").alias("_fr")
    )
    pairs = l.join(r, id_col)

    def kern(iid, bl, fl, br, fr):
        a = codecs.decode(bl, fl)
        c = codecs.decode(br, fr)
        ca = codecs.gdal_style_checksum(a)
        cc = codecs.gdal_style_checksum(c)
        if a.shape != c.shape:
            yield iid, False, ca, cc, None, None, False
            return
        diff = a.astype(np.float64) - c.astype(np.float64)
        mse = float(np.mean(diff * diff))
        psnr = float("inf") if mse == 0.0 else float(10.0 * np.log10(65025.0 / mse))
        yield iid, True, ca, cc, mse, psnr, mse == 0.0

    return arrowrows.map_rows(
        pairs, kern,
        f"{id_col} string, same_dims boolean, checksum_l int, "
        "checksum_r int, mse double, psnr_db double, identical boolean",
    )


def psnr_gate(
    original: DataFrame,
    reencoded: DataFrame,
    id_col: str = "image_id",
    min_db: float = 40.0,
) -> DataFrame:
    """The north-star lossy acceptance check as a DataFrame: per image,
    PSNR(original, reencoded) with a pass flag at ``min_db``.

    Dimension-mismatched pairs (same_dims=false, psnr_db NULL) are hard
    failures: passes_gate is coalesced to false, never NULL. Like
    ``compare_images``, this inner-joins on id — ids present on only one
    side are silently absent; check those separately with an anti-join
    if one-sided ids must also fail the gate.
    """
    cmp = compare_images(original, reencoded, id_col)
    return cmp.select(
        id_col, "psnr_db",
        F.coalesce(
            F.col("psnr_db") >= F.lit(min_db), F.lit(False)
        ).alias("passes_gate"),
    )
