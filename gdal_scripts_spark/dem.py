"""Focal 3x3 terrain operators — gdaldem (SURVEY.md §2.5 W1).

Reference semantics: ``apps/gdaldem_lib.cpp : GDALHillshadeAlg (≈L700),
GDALSlopeHornAlg (≈L1100), GDALAspectAlg, GDALTRIAlg, GDALTPIAlg,
GDALRoughnessAlg`` — 3x3 pixel-window kernels over a single-band DEM.

Spark-first: each image row IS the raster (the engine's data model), so the
focal window never crosses a row boundary — one vectorized numpy stencil per
image inside an Arrow batch, zero shuffle, embarrassingly parallel at 10^12
images. (For a single continental DEM split into tiles, the halo exchange is
a (z, x±1, y±1) self-join to fetch 1-px edges — noted as the tier-2 path in
SURVEY.md W1; the per-image case is what the input table shape calls for.)

Kernels (Horn formulation, matching the GDAL defaults):
  dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8 * xres)
  dz/dy = ((g + 2h + i) - (a + 2b + c)) / (8 * yres)
  slope = atan(z_factor * hypot(dzdx, dzdy))
  hillshade = 255 * (cos(zen)cos(slope) + sin(zen)sin(slope)cos(az - aspect))
Edge pixels use edge-replication (GDAL computes only interior unless
-compute_edges; we mirror -compute_edges=YES with replicated edges, pinned
by our goldens).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame

from . import arrowrows, codecs


def _pad(a: np.ndarray) -> np.ndarray:
    return np.pad(a, 1, mode="edge")


def _derivatives(z: np.ndarray, xres: float, yres: float, zf: float):
    p = _pad(z.astype(np.float64))
    a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
    d, f = p[1:-1, :-2], p[1:-1, 2:]
    g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * xres)
    dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * yres)
    return zf * dzdx, zf * dzdy, (a, b, c, d, f, g, h, i)


def np_hillshade(z, xres=1.0, yres=1.0, z_factor=1.0, azimuth=315.0, altitude=45.0):
    dzdx, dzdy, _ = _derivatives(z, xres, yres, z_factor)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    az = math.radians(360.0 - azimuth + 90.0)
    zen = math.radians(90.0 - altitude)
    shade = np.cos(zen) * np.cos(slope) + np.sin(zen) * np.sin(slope) * np.cos(
        az - aspect
    )
    return np.clip(np.rint(254.0 * np.maximum(shade, 0) + 1), 1, 255).astype(np.uint8)


def np_slope_deg(z, xres=1.0, yres=1.0):
    dzdx, dzdy, _ = _derivatives(z, xres, yres, 1.0)
    return np.degrees(np.arctan(np.hypot(dzdx, dzdy)))


def np_aspect_deg(z, xres=1.0, yres=1.0):
    dzdx, dzdy, _ = _derivatives(z, xres, yres, 1.0)
    asp = np.degrees(np.arctan2(dzdy, -dzdx))
    asp = np.where(asp < 0, 90.0 - asp, np.where(asp > 90.0, 360.0 - asp + 90.0, 90.0 - asp))
    return asp


def np_tri(z):
    p = _pad(z.astype(np.float64))
    c = p[1:-1, 1:-1]
    s = np.zeros_like(c)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == dx == 0:
                continue
            s += np.abs(p[1 + dy : p.shape[0] - 1 + dy, 1 + dx : p.shape[1] - 1 + dx] - c)
    return s / 8.0


def np_tpi(z):
    p = _pad(z.astype(np.float64))
    c = p[1:-1, 1:-1]
    s = np.zeros_like(c)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dy == dx == 0:
                continue
            s += p[1 + dy : p.shape[0] - 1 + dy, 1 + dx : p.shape[1] - 1 + dx]
    return c - s / 8.0


def np_roughness(z):
    p = _pad(z.astype(np.float64))
    stack = [
        p[1 + dy : p.shape[0] - 1 + dy, 1 + dx : p.shape[1] - 1 + dx]
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    ]
    arr = np.stack(stack)
    return arr.max(axis=0) - arr.min(axis=0)


# gdaldem color-relief: apps/gdaldem_lib.cpp : GDALColorRelief (≈L2600)
# reads a color ramp file of "elevation R G B" stops and linearly
# interpolates between them per pixel; values outside the ramp clamp to the
# end stops (the default, without -exact_color_entry / -nearest_color_entry).
# A ramp is [(elev, r, g, b), ...] sorted by elevation.
DEFAULT_RAMP = [
    (0, 0, 97, 71),
    (60, 16, 122, 47),
    (120, 232, 215, 125),
    (180, 161, 67, 0),
    (230, 130, 30, 30),
    (255, 255, 255, 255),
]


def np_color_relief(z: np.ndarray, ramp=None) -> np.ndarray:
    """Per-pixel piecewise-linear ramp lookup -> HxWx3 uint8 (point op, no
    focal window — the one gdaldem mode with no 3x3 stencil)."""
    stops = ramp if ramp is not None else DEFAULT_RAMP
    e = np.asarray([s[0] for s in stops], dtype=np.float64)
    rgb = np.asarray([s[1:] for s in stops], dtype=np.float64)
    zf = z.astype(np.float64)
    out = np.empty(z.shape + (3,), dtype=np.uint8)
    for c in range(3):
        out[..., c] = np.rint(np.interp(zf, e, rgb[:, c])).astype(np.uint8)
    return out


_MODES = {
    "hillshade": lambda z, kw: np_hillshade(z, **kw),
    "color-relief": lambda z, kw: np_color_relief(z, kw.get("ramp")),
    "slope": lambda z, kw: np.clip(np.rint(np_slope_deg(z, kw.get("xres", 1.0), kw.get("yres", 1.0))), 0, 255).astype(np.uint8),
    "aspect": lambda z, kw: np.clip(np.rint(np_aspect_deg(z, kw.get("xres", 1.0), kw.get("yres", 1.0)) / 2.0), 0, 255).astype(np.uint8),
    "tri": lambda z, kw: np.clip(np.rint(np_tri(z)), 0, 255).astype(np.uint8),
    "tpi": lambda z, kw: np.clip(np.rint(np_tpi(z) + 128.0), 0, 255).astype(np.uint8),
    "roughness": lambda z, kw: np.clip(np.rint(np_roughness(z)), 0, 255).astype(np.uint8),
}


def gdaldem(images: DataFrame, mode: str = "hillshade", out_fmt: str = "pgm",
            **kwargs) -> DataFrame:
    """gdaldem over the images table: band 0 is the DEM; returns re-encoded
    single-band rasters (image_id, bytes, fmt, w, h, checksum)."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {sorted(_MODES)}")
    fn = _MODES[mode]
    if mode == "color-relief" and out_fmt == "pgm":
        out_fmt = "ppm"  # 3-band output; PGM is single-band

    def kern(iid, byts, fmt):
        out = fn(codecs.decode_hwc(byts, fmt)[:, :, 0], kwargs)
        yield (iid, codecs.encode(out, out_fmt), out_fmt, out.shape[1],
               out.shape[0], codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )


# ---------------------------------------------------------------------------
# W1 tier-2: focal 3x3 over a TILED raster — exact 1-px halo exchange
# ---------------------------------------------------------------------------

def gdaldem_tiled(tiles: DataFrame, mode: str = "hillshade", **kwargs) -> DataFrame:
    """gdaldem over one raster split into tiles (``raster.retile(pad=False)``
    schema: image_id, tile_col, tile_row, tw, th, n_bands, tile_bytes raw
    uint8; band 0 is the DEM). Results are EXACTLY equal to running the op
    on the untiled raster and retiling the output (pinned by tests) — tile
    seams see true neighbor pixels, true mosaic borders edge-replicate.

    Spark shape (the continental-DEM scale path): every tile emits the thin
    strips its 8 neighbors need — 2(tw+th)+4 pixels, ~1-2% of the tile — so
    the halo exchange is a single groupBy shuffle whose volume is tiles +
    strips; no tile is read twice and no wide self-join of full tiles
    happens. Missing neighbors (mosaic border) replicate inward, matching
    GDAL -compute_edges on the full raster."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {sorted(_MODES)}")
    if mode == "color-relief":
        raise ValueError(
            "color-relief is a point op (no 3x3 window) — run gdaldem() "
            "directly on the tiles; the halo exchange buys nothing"
        )
    fn = _MODES[mode]

    def strips(iid, tc, tr, tw, th, nb, buf):
        a = np.ascontiguousarray(np.frombuffer(buf, np.uint8).reshape(th, tw, nb)[:, :, 0])
        yield (iid, tc, tr, 0, 0, th, tw, a.tobytes())
        # (dy, dx) = my position relative to the TARGET tile
        pieces = [
            (tc, tr - 1, 1, 0, a[:1, :]),     # my top row -> above's bottom halo
            (tc, tr + 1, -1, 0, a[-1:, :]),   # my bottom row -> below's top halo
            (tc - 1, tr, 0, 1, a[:, :1]),     # my left col -> left's right halo
            (tc + 1, tr, 0, -1, a[:, -1:]),   # my right col -> right's left halo
            (tc - 1, tr - 1, 1, 1, a[:1, :1]),
            (tc + 1, tr - 1, 1, -1, a[:1, -1:]),
            (tc - 1, tr + 1, -1, 1, a[-1:, :1]),
            (tc + 1, tr + 1, -1, -1, a[-1:, -1:]),
        ]
        for gc, gr, dy, dx, piece in pieces:
            if gc >= 0 and gr >= 0:
                p = np.ascontiguousarray(piece)
                yield (iid, gc, gr, dy, dx, p.shape[0], p.shape[1], p.tobytes())

    strip_df = arrowrows.map_rows(
        tiles.select("image_id", "tile_col", "tile_row", "tw", "th", "n_bands",
                     "tile_bytes"),
        strips,
        "image_id string, tile_col int, tile_row int, dy int, dx int, "
        "sh int, sw int, piece binary",
    )

    out_ddl = ("image_id string, tile_col int, tile_row int, tw int, th int, "
               "n_bands int, tile_bytes binary, checksum int")
    out_schema = arrowrows.arrow_schema(out_ddl)

    # grouped Arrow UDFs stay unannotated: PySpark 4.1 applyInArrow fails
    # on partly annotated functions
    def assemble(key, t):
        have = {}
        for dy, dx, sh, sw, piece in zip(*(
                t.column(c).to_pylist() for c in ("dy", "dx", "sh", "sw", "piece"))):
            have[(dy, dx)] = np.frombuffer(piece, np.uint8).reshape(sh, sw)
        if (0, 0) not in have:
            # strips addressed at a grid position with no tile (ragged edge)
            return out_schema.empty_table()
        center = have[(0, 0)]
        th, tw = center.shape
        canvas = np.empty((th + 2, tw + 2), np.uint8)
        canvas[1:-1, 1:-1] = center
        # dy/dx of a strip = source position relative to THIS tile:
        # dy=-1 -> neighbor above -> fills the TOP halo row, etc.
        sides = {(-1, 0): (np.s_[0, 1:-1],), (1, 0): (np.s_[-1, 1:-1],),
                 (0, -1): (np.s_[1:-1, 0],), (0, 1): (np.s_[1:-1, -1],)}
        for (dy, dx), (sl,) in sides.items():
            if (dy, dx) in have:
                canvas[sl] = have[(dy, dx)].ravel()
        # missing sides replicate inward (true mosaic border)
        if (-1, 0) not in have:
            canvas[0, 1:-1] = canvas[1, 1:-1]
        if (1, 0) not in have:
            canvas[-1, 1:-1] = canvas[-2, 1:-1]
        if (0, -1) not in have:
            canvas[1:-1, 0] = canvas[1:-1, 1]
        if (0, 1) not in have:
            canvas[1:-1, -1] = canvas[1:-1, -2]
        corners = {(-1, -1): ((0, 0), (-1, 0), (0, -1), (1, 1)),
                   (-1, 1): ((0, -1), (-1, 0), (0, 1), (1, -2)),
                   (1, -1): ((-1, 0), (1, 0), (0, -1), (-2, 1)),
                   (1, 1): ((-1, -1), (1, 0), (0, 1), (-2, -2))}
        for (dy, dx), (pos, vkey, hkey, inner) in corners.items():
            if (dy, dx) in have:
                canvas[pos] = have[(dy, dx)][0, 0]
                continue
            if vkey not in have and hkey in have:
                # vertical side missing, horizontal neighbor present:
                # replicate along the column (matches full-image edge pad)
                canvas[pos] = canvas[pos[0] + (1 if dy < 0 else -1), pos[1]]
            elif hkey not in have and vkey in have:
                canvas[pos] = canvas[pos[0], pos[1] + (1 if dx < 0 else -1)]
            else:
                canvas[pos] = canvas[inner]
        out = fn(canvas, kwargs)[1:-1, 1:-1]
        return arrowrows.rows_table(
            [(*(k.as_py() for k in key), tw, th, 1,
              np.ascontiguousarray(out).tobytes(),
              codecs.gdal_style_checksum(out))], out_schema)

    return strip_df.groupBy("image_id", "tile_col", "tile_row").applyInArrow(
        assemble, schema=out_ddl)
