"""Contour extraction — gdal_contour analog (SURVEY.md §2 R8).

Reference semantics: ``alg/contour.cpp : GDALContourGenerate`` — iso-lines of
a single band at levels ``base + k*interval``, linear interpolation along
pixel edges, emitted as stitched LINESTRING features. This engine extracts
iso-segments with the classic marching-squares cell walk (vectorized numpy,
one pass per level) — the same crossing points as the reference's segment
tracer — and STITCHES them into polylines by exact endpoint matching (a
crossing on a shared cell edge is interpolated from the same two pixel
values in both adjacent cells, so the floats are bit-identical; no epsilon
needed). Open lines start at border endpoints; closed rings are emitted as
cycles. ``contour_metrics`` keeps the cheaper per-level aggregate view.

Spark shape: each image row is an independent raster -> one per-row Arrow
stage (``arrowrows.map_rows``) with a vectorized per-level pass, zero
shuffle, embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import arrowrows, codecs

# marching-squares lookup: corner bits 1=TL 2=TR 4=BR 8=BL (value >= level);
# edges 0=top 1=right 2=bottom 3=left; saddles (5, 10) resolved by cell mean.
_CASES: dict[int, list[tuple[int, int]]] = {
    1: [(0, 3)], 2: [(0, 1)], 3: [(3, 1)], 4: [(1, 2)],
    6: [(0, 2)], 7: [(3, 2)], 8: [(2, 3)], 9: [(0, 2)],
    11: [(1, 2)], 12: [(3, 1)], 13: [(0, 1)], 14: [(0, 3)],
}


def _edge_points(tl, tr, br, bl, ys, xs, level):
    """Interpolated crossing point on each of the 4 cell edges (y, x)."""
    def t(a, b):
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.clip((level - a) / (b - a), 0.0, 1.0)

    top = (ys.astype(np.float64), xs + t(tl, tr))
    right = (ys + t(tr, br), xs + 1.0)
    bottom = (ys + 1.0, xs + t(bl, br))
    left = (ys + t(tl, bl), xs.astype(np.float64))
    return [top, right, bottom, left]


def np_contour_segments(z: np.ndarray, level: float) -> np.ndarray:
    """All iso-segments of one band at one level: (n, 4) rows (y0,x0,y1,x1)."""
    z = z.astype(np.float64)
    tl, tr = z[:-1, :-1], z[:-1, 1:]
    bl, br = z[1:, :-1], z[1:, 1:]
    idx = (
        (tl >= level) * 1 + (tr >= level) * 2 + (br >= level) * 4 + (bl >= level) * 8
    )
    segs = []
    ys_all, xs_all = np.mgrid[0 : z.shape[0] - 1, 0 : z.shape[1] - 1]

    def emit(mask, pairs):
        if not mask.any():
            return
        ys, xs = ys_all[mask], xs_all[mask]
        pts = _edge_points(tl[mask], tr[mask], br[mask], bl[mask], ys, xs, level)
        for ea, eb in pairs:
            (ya, xa), (yb, xb) = pts[ea], pts[eb]
            segs.append(np.stack([ya, xa, yb, xb], axis=1))

    for case, pairs in _CASES.items():
        emit(idx == case, pairs)
    for case in (5, 10):
        mask = idx == case
        if not mask.any():
            continue
        mean_in = (tl + tr + br + bl) / 4.0 >= level
        hi, lo = (mask & mean_in), (mask & ~mean_in)
        if case == 5:
            emit(hi, [(0, 1), (2, 3)])
            emit(lo, [(0, 3), (1, 2)])
        else:
            emit(hi, [(0, 3), (1, 2)])
            emit(lo, [(0, 1), (2, 3)])
    if not segs:
        return np.zeros((0, 4))
    return np.concatenate(segs, axis=0)


def np_contour_levels(vmin: float, vmax: float, interval: float, base: float):
    k0 = int(np.ceil((vmin - base) / interval))
    k1 = int(np.floor((vmax - base) / interval))
    return [base + k * interval for k in range(k0, k1 + 1)]


def contour_metrics(
    images: DataFrame, interval: float = 32.0, base: float = 0.5
) -> DataFrame:
    """Per (image, level): segment count + total polyline length in pixels.

    Levels are base + k*interval intersected with the band's [min, max],
    matching gdal_contour's level generation (``alg/contour.cpp``).
    """

    def kern(iid, byts, fmt):
        z = codecs.decode_hwc(byts, fmt)[:, :, 0].astype(np.float64)
        for level in np_contour_levels(z.min(), z.max(), interval, base):
            s = np_contour_segments(z, level)
            if len(s):
                length = float(np.hypot(s[:, 2] - s[:, 0], s[:, 3] - s[:, 1]).sum())
                yield (iid, float(level), len(s), round(length, 4))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, level double, n_segments long, length_px double",
    )


# ---------------------------------------------------------------------------
# polyline stitching (alg/contour.cpp : the writer emits joined LINESTRINGs)
# ---------------------------------------------------------------------------

def np_stitch_segments(segs: np.ndarray) -> list[np.ndarray]:
    """Join an iso-segment soup into polylines (each (m, 2) of (y, x)).

    Endpoint keys are the exact float pairs (marching-squares crossings on a
    shared edge are bit-identical from both cells). Deterministic: open
    chains first (started from the lexicographically smallest degree-1
    endpoint), then cycles (smallest endpoint), each walked toward its
    smaller neighbor first; zero-length segments dropped."""
    if len(segs) == 0:
        return []
    pts = [((s[0], s[1]), (s[2], s[3])) for s in segs.tolist()]
    adj: dict[tuple, list[int]] = {}
    used = [False] * len(pts)
    for i, (a, b) in enumerate(pts):
        if a == b:
            used[i] = True  # degenerate
            continue
        adj.setdefault(a, []).append(i)
        adj.setdefault(b, []).append(i)

    def walk(start: tuple) -> list[tuple]:
        line = [start]
        cur = start
        while True:
            nxt_i = None
            for i in adj.get(cur, ()):
                if not used[i]:
                    nxt_i = i if nxt_i is None else nxt_i
                    # deterministic: prefer the segment whose far end is
                    # smallest
                    a, b = pts[i]
                    far = b if a == cur else a
                    pa, pb = pts[nxt_i]
                    far0 = pb if pa == cur else pa
                    if far < far0:
                        nxt_i = i
            if nxt_i is None:
                return line
            used[nxt_i] = True
            a, b = pts[nxt_i]
            cur = b if a == cur else a
            line.append(cur)

    lines: list[list[tuple]] = []
    # open chains: endpoints with odd degree of unused segments
    while True:
        starts = sorted(
            p for p, ids in adj.items()
            if sum(not used[i] for i in ids) % 2 == 1
        )
        if not starts:
            break
        lines.append(walk(starts[0]))
    # cycles
    while True:
        rem = sorted(
            p for p, ids in adj.items() if any(not used[i] for i in ids)
        )
        if not rem:
            break
        line = walk(rem[0])
        if line[-1] != line[0]:
            line.append(line[0])  # close the ring (walk usually already has)
        lines.append(line)
    return [np.asarray(l, dtype=np.float64) for l in lines]


def linestring_wkt(line: np.ndarray, ndigits: int = 6) -> str:
    return "LINESTRING (" + ", ".join(
        f"{round(float(x), ndigits)} {round(float(y), ndigits)}" for y, x in line
    ) + ")"


def contour_polylines(
    images: DataFrame, interval: float = 32.0, base: float = 0.5
) -> DataFrame:
    """gdal_contour parity surface: stitched LINESTRING per (image, level,
    line) with vertex count + length — (image_id, level, line_id, n_pts,
    length_px, wkt). line_id orders lines deterministically per level."""

    def kern(iid, byts, fmt):
        z = codecs.decode_hwc(byts, fmt)[:, :, 0].astype(np.float64)
        for level in np_contour_levels(z.min(), z.max(), interval, base):
            for li, line in enumerate(np_stitch_segments(np_contour_segments(z, level))):
                d = np.hypot(np.diff(line[:, 0]), np.diff(line[:, 1])).sum()
                yield (iid, float(level), li, len(line), round(float(d), 4),
                       linestring_wkt(line))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, level double, line_id int, n_pts int, "
        "length_px double, wkt string",
    )


def band_classify(
    images: DataFrame, interval: float = 24.0, base: float = 0.0
) -> DataFrame:
    """Classify every pixel into its contour band ``floor((v - base) /
    interval) + 1`` and re-encode as a single-band PGM — the raster half
    of ``gdal_contour -p`` (isoband polygons). Bands start at 1 so the
    polygonize background convention (0 = nodata) never bites. Map-only
    Arrow pass, same (image_id, bytes, fmt) contract in and out."""

    def kern(iid, byts, fmt):
        z = codecs.decode_hwc(byts, fmt)[:, :, 0].astype(np.float64)
        band = np.clip(np.floor((z - base) / interval) + 1.0, 0, 255).astype(np.uint8)
        yield iid, codecs.encode(band, "pgm"), "pgm"

    return arrowrows.map_rows(images.select("image_id", "bytes", "fmt"), kern,
                              "image_id string, bytes binary, fmt string")


def isoband_regions(
    images: DataFrame, interval: float = 24.0, base: float = 0.0
) -> DataFrame:
    """``gdal_contour -p`` region summary: connected isoband polygons per
    image via the distributed polygonizer (apps/gdal_contour_bin.cpp -p
    writes one polygon per connected band region; we pin the region
    structure compactly as counts). Returns
    (image_id, band, n_regions, n_pixels).

    Scale shape: band_classify is one Arrow pass; polygonize labels each
    image in one more map-only pass (no shuffle, no rings traced); the
    final rollup is a plain hash aggregate."""
    from . import polygonize as _poly

    banded = band_classify(images, interval, base)
    labs = _poly.polygonize(banded, connectivity=4, trace_rings=False)
    from pyspark.sql import functions as F

    return labs.groupBy(
        "image_id", F.col("value").cast("int").alias("band")
    ).agg(
        F.count("*").alias("n_regions"),
        F.sum("pixel_count").cast("long").alias("n_pixels"),
    )
