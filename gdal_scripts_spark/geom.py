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
from Arrow UDFs only; no per-row Python. A classified cell index over the
pack plays the R-tree's role (``shptree.c : SHPTreeFindLikelyShapes``):
built once, it lists per grid cell the polygons that contain the cell whole
(hits as they stand) or whose outline passes near it (the only pairs that
pay the ray cast) — Raptor's interior/boundary split (VLDB'19).

Boundary rule (pinned by tests): strict even-odd ray cast with half-open
edges — a point exactly on a horizontal lower edge counts as inside-adjacent
per the `(yi > y) != (yj > y)` convention; fixture coordinates are
irrational-ish floats so golden outputs never sit on edges.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

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
# PolygonPack — flat broadcastable polygon set + classified cell index
# ---------------------------------------------------------------------------

# (cell, polygon) entries a pack's cell index may hold (at least 4 per
# polygon): the cell side follows from it, so the index size does not
# depend on the polygons' extent
_INDEX_SLOTS = 1 << 18
# a (cell, polygon) entry is *boundary* when an edge comes within _EPS
# (times the coordinates' magnitude, if above 1) of the cell. The ray
# cast's rounding is ~1e-13 of that scale, so a point farther than _EPS
# from every edge gets the exact parity, the same as its cell's center.
_EPS = 1e-9


class CellIndex(NamedTuple):
    """The occupied cells of a uniform grid over a pack, each listing the
    polygons whose outline passes near it (boundary) or that contain it
    whole (interior); polygons that miss a cell are not listed.

    A point ``(x, y)`` falls in cell ``floor((x - x0) / side) * ny +
    floor((y - y0) / side)``. ``keys`` are the occupied cells, sorted;
    entries ``starts[k]:starts[k + 1]`` of ``poly`` and ``boundary`` belong
    to ``keys[k]``, by ascending pack position."""

    x0: float
    y0: float
    side: float
    nx: int
    ny: int
    keys: np.ndarray        # (K,) int64
    starts: np.ndarray      # (K+1,) int64
    poly: np.ndarray        # (N,) int32 pack positions
    boundary: np.ndarray    # (N,) bool


def _cell_floor(v, origin: float, side: float) -> np.ndarray:
    """The grid coordinate of ``v``: the one expression points and edges
    are both mapped through, so a point's cell never disagrees with the
    cells an edge near it marked."""
    return np.floor((np.asarray(v, dtype=np.float64) - origin) / side)


def _ranges(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(i, v)`` for every integer ``v`` in ``lo[i]..hi[i]`` (inclusive)."""
    n = np.maximum(hi - lo + 1, 0)
    i = np.repeat(np.arange(len(lo)), n)
    return i, lo[i] + np.arange(len(i)) - (np.cumsum(n) - n)[i]


def _cell_side(bbox: np.ndarray, budget: int) -> float:
    """The smallest cell side whose bbox cell ranges fit ``budget``: a bbox
    spans at most ``(w/side + 1) * (h/side + 1)`` cells, so the summed
    bound is a quadratic in ``1/side``."""
    w, h = bbox[:, 2] - bbox[:, 0], bbox[:, 3] - bbox[:, 1]
    a, b, c = float((w * h).sum()), float((w + h).sum()), len(bbox) - budget
    if a > 0:
        u = (-b + np.sqrt(b * b - 4 * a * c)) / (2 * a)
    elif b > 0:
        u = -c / b
    else:
        return 0.0
    return 1.0 / u


def _boundary_cells(edges: tuple[np.ndarray, ...], x0: float, y0: float,
                    side: float, eps: float, cx0: int, cx1: int, cy0: int,
                    cy1: int) -> np.ndarray:
    """bool[cy1 - cy0 + 1, cx1 - cx0 + 1]: the cells of that range within
    ``eps`` of an edge. Each edge is cut by every column strip it spans
    (grown by ``eps``), and its y-range in the strip, grown by ``eps``,
    goes through :func:`_cell_floor` like the points' own y."""
    x1, y1, x2, y2 = edges
    mask = np.zeros((cy1 - cy0 + 1, cx1 - cx0 + 1), dtype=bool)
    c0 = np.clip(_cell_floor(np.minimum(x1, x2) - eps, x0, side), cx0, cx1)
    c1 = np.clip(_cell_floor(np.maximum(x1, x2) + eps, x0, side), cx0, cx1)
    e, c = _ranges(c0.astype(np.int64), c1.astype(np.int64))
    dx, dy = (x2 - x1)[e], (y2 - y1)[e]
    vertical = dx == 0
    dx[vertical] = 1.0
    ta = (x0 + c * side - eps - x1[e]) / dx
    tb = (x0 + (c + 1) * side + eps - x1[e]) / dx
    t0 = np.where(vertical, 0.0, np.clip(np.minimum(ta, tb), 0.0, 1.0))
    t1 = np.where(vertical, 1.0, np.clip(np.maximum(ta, tb), 0.0, 1.0))
    ya, yb = y1[e] + t0 * dy, y1[e] + t1 * dy
    r0 = np.clip(_cell_floor(np.minimum(ya, yb) - eps, y0, side), cy0, cy1)
    r1 = np.clip(_cell_floor(np.maximum(ya, yb) + eps, y0, side), cy0, cy1)
    k, r = _ranges(r0.astype(np.int64), r1.astype(np.int64))
    mask[r - cy0, c[k] - cx0] = True
    return mask


@dataclass
class PolygonPack:
    """Flat-array polygon set: one numpy blob, broadcast once per job.

    coords:       (C,2) all ring vertices, rings concatenated, unclosed
    ring_starts:  (R+1,) offsets into coords per ring
    poly_rings:   (P+1,) offsets into ring_starts per polygon
    poly_ids:     (P,) external ids
    bbox:         (P,4) xmin,ymin,xmax,ymax

    :meth:`build_grid` adds the :class:`CellIndex` that :func:`pip_batch`
    reads. It is built once per pack and pickles with it, so a pack built
    on the driver ships its index inside the broadcast."""

    coords: np.ndarray
    ring_starts: np.ndarray
    poly_rings: np.ndarray
    poly_ids: np.ndarray
    bbox: np.ndarray
    _index: CellIndex | None = field(default=None, repr=False)

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

    def position(self, poly_id: int) -> int:
        """Pack index of the polygon with external id ``poly_id`` (the
        id -> index map is built on first use and kept)."""
        if getattr(self, "_pos", None) is None:
            self._pos = {p: i for i, p in enumerate(self.poly_ids.tolist())}
        return self._pos[int(poly_id)]

    def edges_of(self, p: int) -> tuple[np.ndarray, ...]:
        """Memoized flat edge arrays for the ray-cast kernel."""
        if not hasattr(self, "_edges") or self._edges is None:
            self._edges = {}
        e = self._edges.get(p)
        if e is None:
            e = polygon_edges(self.rings_of(p))
            self._edges[p] = e
        return e

    # --- classified cell index (in-batch R-tree stand-in, Raptor-style) ---
    def build_grid(self) -> None:
        """Build the :class:`CellIndex`: per polygon, every cell of its bbox
        range within ``_EPS`` of an edge is a boundary entry, and every
        other cell whose center the ray cast puts inside is an interior
        entry. Only occupied cells are stored, at most ``_INDEX_SLOTS``
        entries (or 4 per polygon, if more)."""
        bb = self.bbox
        if self.n_polys == 0:
            self._index = CellIndex(0.0, 0.0, 1.0, 0, 0, np.zeros(0, np.int64),
                                    np.zeros(1, np.int64), np.zeros(0, np.int32),
                                    np.zeros(0, bool))
            return
        eps = _EPS * max(1.0, float(np.abs(bb).max()))
        x0, y0 = float(bb[:, 0].min()), float(bb[:, 1].min())
        x1, y1 = float(bb[:, 2].max()), float(bb[:, 3].max())
        budget = max(_INDEX_SLOTS, 4 * self.n_polys)
        # no finer than eps (cell centers stay exact) or 2^30 cells a side
        side = max(_cell_side(bb, budget), eps, (x1 - x0) / 2**30, (y1 - y0) / 2**30)
        while True:
            cx0, cx1 = _cell_floor(bb[:, 0], x0, side), _cell_floor(bb[:, 2], x0, side)
            cy0, cy1 = _cell_floor(bb[:, 1], y0, side), _cell_floor(bb[:, 3], y0, side)
            if ((cx1 - cx0 + 1) * (cy1 - cy0 + 1)).sum() <= budget:
                break
            side *= 1.25            # rounding of the quadratic's bound
        nx = int(_cell_floor(x1, x0, side)) + 1
        ny = int(_cell_floor(y1, y0, side)) + 1
        keys, polys, bnds = [], [], []
        for p in range(self.n_polys):
            a, b, c, d = int(cx0[p]), int(cx1[p]), int(cy0[p]), int(cy1[p])
            edges = self.edges_of(p)
            bnd = _boundary_cells(edges, x0, y0, side, eps, a, b, c, d)
            inner = pip_grid_edges(x0 + (np.arange(a, b + 1) + 0.5) * side,
                                   y0 + (np.arange(c, d + 1) + 0.5) * side, edges)
            ry, rx = np.nonzero(bnd | inner)
            keys.append((rx + a) * ny + (ry + c))
            polys.append(np.full(len(rx), p, dtype=np.int32))
            bnds.append(bnd[ry, rx])
        key = np.concatenate(keys)
        # stable: entries of one cell stay in pack order
        order = np.argsort(key, kind="stable")
        key = key[order]
        uniq, first = np.unique(key, return_index=True)
        self._index = CellIndex(
            x0, y0, side, nx, ny, uniq, np.append(first, len(key)).astype(np.int64),
            np.concatenate(polys)[order], np.concatenate(bnds)[order])

    def cell_index(self) -> CellIndex:
        """The pack's :class:`CellIndex`, built on first use."""
        if self._index is None:
            self.build_grid()
        return self._index


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
    """Batch kernel for Arrow UDFs: the ``(point_row_idx, poly_id)`` arrays
    of :func:`np_pip_pairs`' pairs, ordered by point, then by pack position.

    Each point expands to its cell's entries in the pack's
    :class:`CellIndex`, with no loop over points or cells. Interior
    entries are hits as they stand; only boundary entries get the closed
    bbox pretest and the ray cast, one :func:`pip_even_odd_edges` call per
    polygon. Points outside the grid, NaN or infinite, hit nothing."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    g = pack.cell_index()
    none = np.zeros(0, dtype=np.int64)
    if len(g.keys) == 0:
        return none, none
    cx = _cell_floor(px, g.x0, g.side)
    cy = _cell_floor(py, g.y0, g.side)
    pt = np.nonzero((cx >= 0) & (cx < g.nx) & (cy >= 0) & (cy < g.ny))[0]
    key = cx[pt].astype(np.int64) * g.ny + cy[pt].astype(np.int64)
    k = np.minimum(np.searchsorted(g.keys, key), len(g.keys) - 1)
    found = g.keys[k] == key
    pt, k = pt[found], k[found]
    lo = g.starts[k]
    n = g.starts[k + 1] - lo
    i = np.repeat(pt, n)
    e = np.repeat(lo - (np.cumsum(n) - n), n)
    e += np.arange(len(e))
    boundary = g.boundary[e]
    keep = ~boundary
    # boundary pairs grouped by polygon; a 16-bit key sorts by radix
    b = np.flatnonzero(boundary)
    q = g.poly[e[b]]
    o = np.argsort(q.astype(np.int16) if pack.n_polys <= 1 << 15 else q, kind="stable")
    b, q = b[o], q[o]
    cuts = np.flatnonzero(q[1:] != q[:-1]) + 1
    for s, t in zip(np.r_[0, cuts], np.r_[cuts, len(b)]):
        if s == t:
            continue
        sel = b[s:t]
        x, y = px[i[sel]], py[i[sel]]
        bx0, by0, bx1, by1 = pack.bbox[q[s]]
        m = (x >= bx0) & (x <= bx1) & (y >= by0) & (y <= by1)
        hit = np.zeros(len(sel), dtype=bool)
        hit[m] = pip_even_odd_edges(x[m], y[m], pack.edges_of(int(q[s])))
        keep[sel] = hit
    return i[keep], pack.poly_ids[g.poly[e[keep]]]


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
