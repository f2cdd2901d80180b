"""S7 — virtual raster composition (VRT) as lazy DataFrame algebra.

Reference semantics: ``frmts/vrt/vrtsources.cpp : VRTSimpleSource /
VRTComplexSource`` — a VRT is a lazy description: per-band sources with
optional scale/offset, LUT remap and nodata, materialized only when a
consumer reads. The Spark-native equivalent IS the unexecuted DataFrame: a
``VrtSpec`` holds the per-band transfer function, ``apply`` composes it
onto an images DataFrame as one more Arrow stage in the SAME lazy plan —
nothing materializes until a downstream action, and Catalyst prunes/pushes
through the whole composition exactly as VRT readers chain windows.

VRTComplexSource transfer function (public spec): out = clip(round(
LUT(in) * scale + offset)); LUT given as sparse (in, out) breakpoints with
linear interpolation between them (the `<LUT>` element).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from . import arrowrows, codecs


@dataclass
class VrtSpec:
    """Per-band transfer: value' = LUT(value) * scale + offset.

    lut: optional sparse breakpoints [(in, out), ...] interpolated linearly
    (VRTComplexSource <LUT>); applied before scale/offset, like GDAL.
    nodata: input value mapped straight to ``nodata_out`` (masked)."""
    scale: float = 1.0
    offset: float = 0.0
    lut: list[tuple[float, float]] | None = None
    nodata: float | None = None
    nodata_out: float = 0.0
    bands: list[int] | None = None  # band select (VRT band mapping)
    _sorted: tuple | None = field(default=None, repr=False)

    def transfer(self, a: np.ndarray) -> np.ndarray:
        x = a.astype(np.float64)
        mask = None
        if self.nodata is not None:
            mask = x == self.nodata
        if self.lut:
            pts = sorted(self.lut)
            xs = np.array([p[0] for p in pts])
            ys = np.array([p[1] for p in pts])
            x = np.interp(x, xs, ys)
        x = x * self.scale + self.offset
        if mask is not None:
            x[mask] = self.nodata_out
        return np.clip(np.rint(x), 0, 255).astype(np.uint8)


def np_vrt_apply(img: np.ndarray, spec: VrtSpec) -> np.ndarray:
    a = img if img.ndim == 3 else img[:, :, None]
    if spec.bands is not None:
        a = a[:, :, spec.bands]
    return spec.transfer(a)


def vrt_apply(images: DataFrame, spec: VrtSpec, out_fmt: str = "pgm") -> DataFrame:
    """Compose the VRT transfer onto an images table — returns a LAZY
    DataFrame (the VRT itself); chain further ops (tile cut, stats, dem)
    before any action and the whole pipeline runs as one plan."""
    def kern(iid, byts, fmt):
        out = np_vrt_apply(codecs.decode(byts, fmt), spec)
        sq = out[:, :, 0] if out.ndim == 3 and out.shape[2] == 1 else out
        yield (iid, codecs.encode(sq, out_fmt), out_fmt, sq.shape[1], sq.shape[0],
               codecs.gdal_style_checksum(sq))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )
