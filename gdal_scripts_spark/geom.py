"""Geometry kernels — numpy, even-odd semantics, broadcast-friendly packs.

Reference parity (public GDAL 3.8.x tree):
- even-odd point-in-polygon / scanline rule: ``alg/llrasterize.cpp :
  GDALdllImageFilledPolygon (≈L60-200)`` and ``ogr/ogrgeometry.cpp :
  Contains/Within (≈L5000)`` (GEOS-backed in GDAL; reimplemented here as a
  vectorized ray cast — SURVEY.md §2.2 P4).
- bbox short-circuit: ``ogr/ogrgeometry.cpp : Intersects (≈L400)``,
  ``ogrlayer.cpp : FilterGeometry (≈L800)``.
- shoelace area / centroid: ``ogr/ogrgeometry.cpp : get_Area (OGRSurface),
  Centroid (≈L2600)``.
- rectangle clip (tile bounds are axis-aligned): Sutherland–Hodgman, the
  closed-form case of ``apps/ogr2ogr_lib.cpp : -clipsrc (≈L1500)``.

Spark-first design: polygons are packed into flat numpy arrays
(:class:`PolygonPack`) that serialize once and ship to every executor as a
Spark broadcast — the analog of the reference's in-process prepared-geometry
cache (``ogrlayer.cpp : USE_PREPARED_GEOMETRIES``). The PiP kernel is called
from Arrow-batched pandas UDFs only; no per-row Python. A bbox-sorted
uniform grid over the pack plays the R-tree's role (``shptree.c :
SHPTreeFindLikelyShapes``) for candidate pruning inside a batch.

Boundary rule (pinned by tests): strict even-odd ray cast with half-open
edges — a point exactly on a horizontal lower edge counts as inside-adjacent
per the `(yi > y) != (yj > y)` convention; fixture coordinates are
irrational-ish floats so golden outputs never sit on edges.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


# ---------------------------------------------------------------------------
# scalar-polygon kernels
# ---------------------------------------------------------------------------

def shoelace_area(ring: np.ndarray) -> float:
    """Signed area of a ring (Nx2, closed or open)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def polygon_area(rings: list[np.ndarray]) -> float:
    """|exterior| - sum |holes| (even-odd consistent)."""
    if not rings:
        return 0.0
    a = abs(shoelace_area(rings[0]))
    for hole in rings[1:]:
        a -= abs(shoelace_area(hole))
    return a


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    x, y = r[:, 0], r[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if a == 0:
        return float(x.mean()), float(y.mean())
    cx = ((x + xn) * cross).sum() / (6.0 * a)
    cy = ((y + yn) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def ring_wkt_coords(ring: np.ndarray) -> str:
    r = np.asarray(ring, dtype=np.float64)
    if len(r) == 0:
        return "()"
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[0]])
    return "(" + ", ".join(f"{p[0]:.10g} {p[1]:.10g}" for p in r) + ")"


def polygon_wkt(rings: list[np.ndarray]) -> str:
    """Canonical WKT: closed rings, exterior CCW, holes CW."""
    norm = []
    for i, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) > 1 and np.array_equal(r[0], r[-1]):
            r = r[:-1]
        signed = shoelace_area(r)
        want_ccw = i == 0
        if (signed > 0) != want_ccw:
            r = r[::-1]
        norm.append(r)
    return "POLYGON (" + ", ".join(ring_wkt_coords(r) for r in norm) + ")"


def polygon_edges(rings: list[np.ndarray]) -> tuple[np.ndarray, ...]:
    """Flatten a polygon's rings into edge arrays (x1, y1, x2, y2)."""
    xs1, ys1, xs2, ys2 = [], [], [], []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) > 1 and np.array_equal(r[0], r[-1]):
            r = r[:-1]
        x1, y1 = r[:, 0], r[:, 1]
        xs1.append(x1)
        ys1.append(y1)
        xs2.append(np.roll(x1, -1))
        ys2.append(np.roll(y1, -1))
    return (np.concatenate(xs1), np.concatenate(ys1),
            np.concatenate(xs2), np.concatenate(ys2))


def pip_even_odd_edges(px, py, edges: tuple[np.ndarray, ...]) -> np.ndarray:
    """Even-odd ray cast, fully vectorized over edges x points (one E*P
    broadcast pass, chunked to bound temporaries). Mirrors the fill rule of
    ``alg/llrasterize.cpp : GDALdllImageFilledPolygon``."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = edges
    e = len(x1)
    inside = np.zeros(px.shape, dtype=bool)
    # chunk points so the E x P temporaries stay <= ~5 MB: the kernel is
    # memory-bandwidth-bound at high core counts (measured: cores busy but
    # per-row cost rises 8 -> 32 on one bus), so temps must fit cache-ish
    # and every avoidable E x P array is fused/reused in place
    chunk = max(int(600_000 / max(e, 1)), 256)
    dy = y2 - y1
    dy_safe = np.where(dy == 0, 1.0, dy)
    slope = (x2 - x1) / dy_safe
    yl = y1[:, None]
    y2c = y2[:, None]
    sl = slope[:, None]
    x1c = x1[:, None]
    for s in range(0, len(px), chunk):
        p = slice(s, s + chunk)
        pyp = py[None, p]
        # xint in one temp, reused in place
        xint = pyp - yl
        xint *= sl
        xint += x1c
        hits = np.less(px[None, p], xint)           # E x P bool
        hits &= (yl > pyp) != (y2c > pyp)           # crossing condition
        inside[p] = (hits.sum(axis=0) & 1).astype(bool)
    return inside


def pip_grid_edges(xs, ys, edges: tuple[np.ndarray, ...]) -> np.ndarray:
    """Even-odd mask of the separable grid ``(xs[i], ys[j])`` ->
    bool[len(ys), len(xs)], bit-identical to :func:`pip_even_odd_edges` on
    every grid point but O(rows x edges + pixels), not O(pixels x edges).

    Per-row pixel runs (Raptor's raster x vector join): an edge crosses row
    ``j`` iff ``min(y1, y2) <= ys[j] < max(y1, y2)`` — the ray cast's
    ``(y1 > py) != (y2 > py)`` — and its x-intercept is the ray cast's own
    float expression, so column ``i`` counts the edge iff ``xs[i] < xint``,
    i.e. ``i < searchsorted(xs, xint, "left")``. The mask is the parity of
    those column boundaries taken from the right along each row."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if np.any(xs[1:] < xs[:-1]):
        o = np.argsort(xs, kind="stable")
        return pip_grid_edges(xs[o], ys, edges)[:, np.argsort(o)]
    x1, y1, x2, y2 = edges
    h, w = len(ys), len(xs)
    dy = y2 - y1
    dy_safe = np.where(dy == 0, 1.0, dy)
    slope = (x2 - x1) / dy_safe
    # rows crossed by each edge: a contiguous run of the sorted ys
    yo = np.argsort(ys, kind="stable")
    ys_sorted = ys[yo]
    r0 = np.searchsorted(ys_sorted, np.minimum(y1, y2), "left")
    r1 = np.searchsorted(ys_sorted, np.maximum(y1, y2), "left")
    n_rows = r1 - r0
    e = np.repeat(np.arange(len(x1)), n_rows)
    first = np.cumsum(n_rows) - n_rows
    j = yo[r0[e] + np.arange(len(e)) - first[e]]
    xint = ys[j] - y1[e]
    xint *= slope[e]
    xint += x1[e]
    xint[np.isnan(xint)] = -np.inf          # px < nan is never true
    k = np.searchsorted(xs, xint, "left")
    cnt = np.bincount(j * (w + 1) + k, minlength=h * (w + 1)).astype(np.uint8)
    # column i is inside iff an odd number of boundaries k > i (the uint8
    # wrap keeps the parity)
    par = np.bitwise_xor.accumulate(cnt.reshape(h, w + 1)[:, ::-1], axis=1)
    return (par[:, -2::-1] & 1).view(bool)


def pip_even_odd(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast of many points against one (multi-ring) polygon;
    edges of all rings toggle the parity (holes subtract automatically)."""
    return pip_even_odd_edges(px, py, polygon_edges(rings))


def clip_ring_rect(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray:
    """Sutherland–Hodgman clip of one ring to an axis-aligned rect."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) > 1 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]

    def clip_edge(poly, inside_fn, intersect_fn):
        out = []
        n = len(poly)
        for i in range(n):
            cur, nxt = poly[i], poly[(i + 1) % n]
            ci, ni = inside_fn(cur), inside_fn(nxt)
            if ci:
                out.append(cur)
                if not ni:
                    out.append(intersect_fn(cur, nxt))
            elif ni:
                out.append(intersect_fn(cur, nxt))
        return out

    def ix_v(xv):
        def f(a, b):
            t = (xv - a[0]) / (b[0] - a[0])
            return (xv, a[1] + t * (b[1] - a[1]))
        return f

    def ix_h(yv):
        def f(a, b):
            t = (yv - a[1]) / (b[1] - a[1])
            return (a[0] + t * (b[0] - a[0]), yv)
        return f

    poly = [tuple(p) for p in pts]
    for inside_fn, ifn in (
        (lambda p: p[0] >= xmin, ix_v(xmin)),
        (lambda p: p[0] <= xmax, ix_v(xmax)),
        (lambda p: p[1] >= ymin, ix_h(ymin)),
        (lambda p: p[1] <= ymax, ix_h(ymax)),
    ):
        if not poly:
            break
        poly = clip_edge(poly, inside_fn, ifn)
    return np.asarray(poly, dtype=np.float64).reshape(-1, 2)


# ---------------------------------------------------------------------------
# PolygonPack — flat broadcastable polygon set + uniform grid index
# ---------------------------------------------------------------------------

@dataclass
class PolygonPack:
    """Flat-array polygon set: one numpy blob, broadcast once per job.

    coords:       (C,2) all ring vertices, rings concatenated, unclosed
    ring_starts:  (R+1,) offsets into coords per ring
    poly_rings:   (P+1,) offsets into ring_starts per polygon
    poly_ids:     (P,) external ids
    bbox:         (P,4) xmin,ymin,xmax,ymax
    """

    coords: np.ndarray
    ring_starts: np.ndarray
    poly_rings: np.ndarray
    poly_ids: np.ndarray
    bbox: np.ndarray
    _grid: dict | None = field(default=None, repr=False)

    @classmethod
    def from_rings(cls, polys: list[tuple[int, list[np.ndarray]]]) -> "PolygonPack":
        coords, ring_starts, poly_rings, ids, boxes = [], [0], [0], [], []
        for pid, rings in polys:
            for ring in rings:
                r = np.asarray(ring, dtype=np.float64)
                if len(r) > 1 and np.array_equal(r[0], r[-1]):
                    r = r[:-1]
                coords.append(r)
                ring_starts.append(ring_starts[-1] + len(r))
            poly_rings.append(poly_rings[-1] + len(rings))
            ids.append(pid)
            ext = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
            boxes.append(
                [ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max()]
            )
        return cls(
            coords=np.vstack(coords) if coords else np.zeros((0, 2)),
            ring_starts=np.asarray(ring_starts, dtype=np.int64),
            poly_rings=np.asarray(poly_rings, dtype=np.int64),
            poly_ids=np.asarray(ids, dtype=np.int64),
            bbox=np.asarray(boxes, dtype=np.float64).reshape(-1, 4),
        )

    @property
    def n_polys(self) -> int:
        return len(self.poly_ids)

    def rings_of(self, p: int) -> list[np.ndarray]:
        out = []
        for r in range(self.poly_rings[p], self.poly_rings[p + 1]):
            out.append(self.coords[self.ring_starts[r] : self.ring_starts[r + 1]])
        return out

    def edges_of(self, p: int) -> tuple[np.ndarray, ...]:
        """Memoized flat edge arrays for the ray-cast kernel."""
        if not hasattr(self, "_edges") or self._edges is None:
            self._edges = {}
        e = self._edges.get(p)
        if e is None:
            e = polygon_edges(self.rings_of(p))
            self._edges[p] = e
        return e

    # --- uniform grid over polygon bboxes (in-batch R-tree stand-in) ---
    def build_grid(self, nx: int = 64, ny: int = 32) -> None:
        if self.n_polys == 0:
            self._grid = {"nx": nx, "ny": ny, "cells": {}}
            return
        x0, y0 = self.bbox[:, 0].min(), self.bbox[:, 1].min()
        x1, y1 = self.bbox[:, 2].max(), self.bbox[:, 3].max()
        sx = (x1 - x0) / nx or 1.0
        sy = (y1 - y0) / ny or 1.0
        cells: dict[tuple[int, int], list[int]] = {}
        for p in range(self.n_polys):
            cx0 = int((self.bbox[p, 0] - x0) / sx)
            cx1 = int((self.bbox[p, 2] - x0) / sx)
            cy0 = int((self.bbox[p, 1] - y0) / sy)
            cy1 = int((self.bbox[p, 3] - y0) / sy)
            for cx in range(max(cx0, 0), min(cx1, nx - 1) + 1):
                for cy in range(max(cy0, 0), min(cy1, ny - 1) + 1):
                    cells.setdefault((cx, cy), []).append(p)
        self._grid = {
            "nx": nx, "ny": ny, "x0": x0, "y0": y0, "sx": sx, "sy": sy,
            "cells": {k: np.asarray(v, dtype=np.int64) for k, v in cells.items()},
        }

    def candidates(self, px: float, py: float) -> np.ndarray:
        if self._grid is None:
            self.build_grid()
        g = self._grid
        if not g["cells"]:
            return np.zeros(0, dtype=np.int64)
        cx = int((px - g["x0"]) / g["sx"])
        cy = int((py - g["y0"]) / g["sy"])
        if not (0 <= cx < g["nx"] and 0 <= cy < g["ny"]):
            return np.zeros(0, dtype=np.int64)
        return g["cells"].get((cx, cy), np.zeros(0, dtype=np.int64))


def np_pip_pairs(
    px: np.ndarray, py: np.ndarray, pack: PolygonPack
) -> list[tuple[int, int]]:
    """Sequential oracle: all (point_idx, poly_id) even-odd containments.

    bbox prefilter per polygon then exact ray cast — the reference's
    FilterGeometry-then-GEOS two-step."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    pairs: list[tuple[int, int]] = []
    for p in range(pack.n_polys):
        x0, y0, x1, y1 = pack.bbox[p]
        cand = np.nonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1))[0]
        if len(cand) == 0:
            continue
        hit = pip_even_odd(px[cand], py[cand], pack.rings_of(p))
        for i in cand[hit]:
            pairs.append((int(i), int(pack.poly_ids[p])))
    return pairs


def pip_batch(
    px: np.ndarray, py: np.ndarray, pack: PolygonPack
) -> tuple[np.ndarray, np.ndarray]:
    """Batch kernel for pandas UDFs: returns (point_row_idx, poly_id) arrays.

    Same semantics as np_pip_pairs; kept separate so the oracle and the
    engine path stay two implementations (grid-pruned here)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    if pack._grid is None:
        pack.build_grid()
    out_i: list[np.ndarray] = []
    out_p: list[np.ndarray] = []
    # group points by grid cell, test each candidate polygon against the group
    g = pack._grid
    if g["cells"]:
        cx = np.floor((px - g["x0"]) / g["sx"]).astype(np.int64)
        cy = np.floor((py - g["y0"]) / g["sy"]).astype(np.int64)
        ok = (cx >= 0) & (cx < g["nx"]) & (cy >= 0) & (cy < g["ny"])
        key = cx * g["ny"] + cy
        key[~ok] = -1
        order = np.argsort(key, kind="stable")
        sorted_key = key[order]
        bounds = np.nonzero(np.diff(sorted_key))[0] + 1
        groups = np.split(order, bounds)
        for grp in groups:
            if len(grp) == 0 or key[grp[0]] < 0:
                continue
            k = int(key[grp[0]])
            cand = g["cells"].get((k // g["ny"], k % g["ny"]))
            if cand is None:
                continue
            gx, gy = px[grp], py[grp]
            for p in cand:
                x0, y0, x1, y1 = pack.bbox[p]
                m = (gx >= x0) & (gx <= x1) & (gy >= y0) & (gy <= y1)
                if not m.any():
                    continue
                sub = grp[m]
                hit = pip_even_odd_edges(px[sub], py[sub], pack.edges_of(p))
                if hit.any():
                    out_i.append(sub[hit])
                    out_p.append(np.full(int(hit.sum()), pack.poly_ids[p], np.int64))
    if not out_i:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(out_i), np.concatenate(out_p)


def np_convex_hull(pts: np.ndarray) -> np.ndarray:
    """Convex hull vertices of an (n, 2) point array by Andrew's monotone
    chain (public algorithm; OGR delegates the same operation to GEOS as
    ``OGRGeometry::ConvexHull``). Strict turns only — collinear boundary
    points are dropped, which leaves hull AREA and PERIMETER unchanged.
    Returns the hull in counter-clockwise order starting from the
    lexicographically smallest vertex; degenerate inputs (<=2 distinct
    points, or all collinear) return the 1-2 extreme points."""
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)  # lex-sorted
    if len(p) <= 2:
        return p

    def half(points):
        out: list[np.ndarray] = []
        for q in points:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (q[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (q[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(q)
        return out

    lower = half(p)
    upper = half(p[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 3:  # all collinear: keep the two extremes
        return np.array([p[0], p[-1]])
    return hull


def hull_metrics(hull: np.ndarray) -> tuple[float, float]:
    """(2*area, perimeter) of a hull returned by :func:`np_convex_hull`.
    2*area (the raw shoelace sum) stays integer-exact for integer inputs
    below 2^52, so cross-engine comparison needs no tolerance."""
    if len(hull) < 2:
        return 0.0, 0.0
    x, y = hull[:, 0], hull[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    if len(hull) == 2:
        return 0.0, 2.0 * float(np.hypot(x[1] - x[0], y[1] - y[0]))
    area2 = float(np.sum(x * yn - xn * y))
    perim = float(np.sum(np.hypot(xn - x, yn - y)))
    return abs(area2), perim
