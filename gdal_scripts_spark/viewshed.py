"""Viewshed — per-cell line-of-sight visibility over a DEM.

Reference anchor: ``apps/gdal_viewshed.cpp`` driving ``alg/viewshed.cpp :
GDALViewshedGenerate`` (GDAL 3.1+). GDAL's production path is the Wang-
Robinson-White reference-plane approximation; this engine implements the
EXACT per-target test (the "R3" algorithm of Franklin & Ray, "Higher isn't
necessarily better: visibility algorithms and experiments", SDH'94 —
GDAL's own docs cite it as the accuracy baseline): a target cell is
visible iff no interpolated terrain sample along the sight line rises
above the line.

Sampling contract (pinned, shared by the SQL oracle and the brute twin):
the ray from observer cell center to target cell center is sampled at
every integer coordinate of its DOMINANT axis (|dx| >= |dy| -> x), the
minor coordinate interpolated linearly between the two adjacent cells.
Heights compare as elevation ANGLES relative to the observer eye
(dem[observer] + observer_height); a sample strictly above the line
blocks, a graze does not. The observer's own cell is visible.

Spark-first shape: DEMs live one-per-row as encoded bytes; the kernel is a
single numpy pass per image inside ``mapInArrow`` (two vectorized sweeps,
one per dominant axis — O(w) column matrices, no per-cell Python), so
pixels never shuffle and a million-DEM viewshed job is embarrassingly
parallel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import arrowrows, codecs


def _sweep_angles(dem: np.ndarray, orow: int, ocol: int, eye: float,
                  vis: np.ndarray) -> None:
    """X-dominant pass: decide every target with |dc| >= |dr| (dc != 0).

    For each target column c (distance d = c - ocol), the sight-line
    parameter of sample column x is t = (x - ocol) / d; all rows of that
    target column are decided together with one (samples x rows) matrix.
    """
    h, w = dem.shape
    rows = np.arange(h)
    dr_all = rows - orow
    for c in range(w):
        d = c - ocol
        if d == 0:
            continue
        sel = np.abs(d) >= np.abs(dr_all)  # x-dominant targets only
        if not sel.any():
            continue
        tgt_rows = rows[sel]
        tgt_ang = (dem[tgt_rows, c] - eye) / abs(d)
        step = 1 if d > 0 else -1
        xs = np.arange(ocol + step, c, step)
        if len(xs) == 0:
            vis[tgt_rows, c] = True  # adjacent column: nothing in between
            continue
        # minor coordinate of each (sample, target) pair
        frac = (xs - ocol).astype(np.float64)[:, None] / d  # in (0,1)
        ys = orow + frac * (tgt_rows - orow)[None, :]
        y0 = np.floor(ys).astype(np.int64)
        y1 = np.minimum(y0 + 1, h - 1)
        fy = ys - y0
        z = dem[y0, xs[:, None]] * (1.0 - fy) + dem[y1, xs[:, None]] * fy
        ang = (z - eye) / np.abs(xs - ocol).astype(np.float64)[:, None]
        blocked = (ang > tgt_ang[None, :]).any(axis=0)
        vis[tgt_rows, c] = ~blocked


def np_viewshed(dem: np.ndarray, orow: int, ocol: int,
                observer_height: float) -> np.ndarray:
    """Boolean visibility mask, exact R3 semantics (see module docstring)."""
    dem = np.asarray(dem, dtype=np.float64)
    h, w = dem.shape
    eye = dem[orow, ocol] + float(observer_height)
    vis = np.zeros((h, w), dtype=bool)
    vis[orow, ocol] = True
    _sweep_angles(dem, orow, ocol, eye, vis)                 # |dc| >= |dr|
    vis_t = np.zeros((w, h), dtype=bool)
    _sweep_angles(dem.T, ocol, orow, eye, vis_t)             # |dr| > |dc|
    strict_y = np.abs(np.arange(h)[:, None] - orow) > np.abs(
        np.arange(w)[None, :] - ocol
    )
    vis[strict_y] = vis_t.T[strict_y]
    return vis


def np_viewshed_brute(dem: np.ndarray, orow: int, ocol: int,
                      observer_height: float) -> np.ndarray:
    """Per-cell python-loop twin of :func:`np_viewshed` (test oracle)."""
    dem = np.asarray(dem, dtype=np.float64)
    h, w = dem.shape
    eye = dem[orow, ocol] + float(observer_height)
    vis = np.zeros((h, w), dtype=bool)
    for r in range(h):
        for c in range(w):
            if r == orow and c == ocol:
                vis[r, c] = True
                continue
            dr, dc = r - orow, c - ocol
            if abs(dc) >= abs(dr):
                d, n = dc, abs(dc)
                tgt_ang = (dem[r, c] - eye) / n
                ok = True
                for s in range(1, n):
                    x = ocol + s * (1 if d > 0 else -1)
                    y = orow + dr * (abs(x - ocol) / n)
                    y0 = int(np.floor(y))
                    y1 = min(y0 + 1, h - 1)
                    z = dem[y0, x] * (1 - (y - y0)) + dem[y1, x] * (y - y0)
                    if (z - eye) / abs(x - ocol) > tgt_ang:
                        ok = False
                        break
                vis[r, c] = ok
            else:
                d, n = dr, abs(dr)
                tgt_ang = (dem[r, c] - eye) / n
                ok = True
                for s in range(1, n):
                    y = orow + s * (1 if d > 0 else -1)
                    x = ocol + dc * (abs(y - orow) / n)
                    x0 = int(np.floor(x))
                    x1 = min(x0 + 1, w - 1)
                    z = dem[y, x0] * (1 - (x - x0)) + dem[y, x1] * (x - x0)
                    if (z - eye) / abs(y - orow) > tgt_ang:
                        ok = False
                        break
                vis[r, c] = ok
    return vis


_CELL_SCHEMA = "image_id string, r int, c int, visible boolean"


def viewshed_cells(images: DataFrame, *, observer_height_col: str =
                   "obs_h") -> DataFrame:
    """gdal_viewshed analog over a DEM table: one row per (image, cell)
    with its visibility. ``images`` needs (image_id, bytes, fmt, orow,
    ocol, obs_h)."""

    schema = arrowrows.arrow_schema(_CELL_SCHEMA)

    def run(batches):
        for b in batches:
            for iid, buf, fmt, orow, ocol, oh in zip(
                    *(c.to_pylist() for c in b.columns)):
                dem = codecs.decode_hwc(buf, fmt)[:, :, 0]
                vis = np_viewshed(dem, int(orow), int(ocol), float(oh))
                h, w = vis.shape
                rr, cc = np.mgrid[0:h, 0:w]
                yield from arrowrows.columns_table(
                    [[str(iid)] * (h * w), rr.ravel().astype(np.int32),
                     cc.ravel().astype(np.int32), vis.ravel()],
                    schema).to_batches()

    return images.select(
        "image_id", "bytes", "fmt", "orow", "ocol", observer_height_col
    ).mapInArrow(run, schema=_CELL_SCHEMA)
