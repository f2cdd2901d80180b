"""P5 exact GEOS-predicate family + U2 layer algebra (SURVEY.md §2.2 P5,
§2.7 U2).

Reference semantics:
- predicates: ``ogr/ogrgeometry.cpp : Intersects/Touches/Crosses/Overlaps/
  Equals/Contains/Within (≈L4800-5200)`` — GEOS-backed boolean relations
  between two geometries.
- layer algebra: ``ogr/ogrsf_frmts/generic/ogrlayer.cpp : Intersection
  (≈L3000), Union (≈L3400), SymDifference (≈L3600), Identity, Update
  (≈L3700), Clip (≈L3800), Erase (≈L4000)``; Python wrapper
  ``osgeo_utils/samples/ogr_layer_algebra.py``.

Engine scope: the PREDICATE kernel covers SIMPLE polygons — one outer ring,
no self-intersection (exact segment/point-classification numpy math: proper
crossing + touch classification of every boundary edge pair, vertex and
edge-midpoint classification, scanline interior representative points,
combined into the GEOS truth table; ``crosses`` for two areal geometries is
identically false per the GEOS dimension rule).

LAYER-ALGEBRA generality (round 3): ``intersection_layer_general`` /
``erase_layer_general`` accept polygons that are NON-CONVEX and carry
HOLES, and erase no longer assumes a disjoint method layer — overlapping
method features are de-overlapped into one interior-disjoint convex cover
before area accounting (see the convex-split section below). The original
``intersection_layer``/``erase_layer``/``union_layer`` (convex method,
disjoint erase contract) remain for the common fast case.

Spark shape: layers join on a native bbox-bucket equi-join (never a cross
join), pairs refine in one Arrow kernel; geometry payloads stay out of the
shuffle until matched. DuckDB oracle parity: the registry queries run the
generic kernels over integer-coordinate RECTANGLE layers, where every
predicate and the intersection area have closed-form interval SQL — so the
driver hash-checks the real code paths end to end.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import arrowrows, geom

# ---------------------------------------------------------------------------
# numpy predicate core (simple polygons)
# ---------------------------------------------------------------------------

def _edges(ring: np.ndarray) -> np.ndarray:
    """(n,4) [x1,y1,x2,y2] edges of an unclosed ring."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    return np.concatenate([r, np.roll(r, -1, axis=0)], axis=1)


def _seg_relations(ea: np.ndarray, eb: np.ndarray) -> tuple[bool, bool]:
    """(any_proper_crossing, any_touch) over all edge pairs of two rings.

    proper = the open interiors of the two segments cross (strict sign
    change on both sides); touch = they intersect but not properly
    (endpoint contact or collinear overlap)."""
    ax1, ay1, ax2, ay2 = (ea[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (eb[:, i][None, :] for i in range(4))
    d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)

    def on_seg(px, py, sx1, sy1, sx2, sy2, dcol):
        return (
            (dcol == 0)
            & (px >= np.minimum(sx1, sx2)) & (px <= np.maximum(sx1, sx2))
            & (py >= np.minimum(sy1, sy2)) & (py <= np.maximum(sy1, sy2))
        )

    touch = (
        on_seg(ax1, ay1, bx1, by1, bx2, by2, d1)
        | on_seg(ax2, ay2, bx1, by1, bx2, by2, d2)
        | on_seg(bx1, by1, ax1, ay1, ax2, ay2, d3)
        | on_seg(bx2, by2, ax1, ay1, ax2, ay2, d4)
    ) & ~proper
    return bool(proper.any()), bool(touch.any())


def _classify_points(pts: np.ndarray, ring: np.ndarray):
    """(strict_inside, on_boundary) bool arrays for points vs one ring."""
    e = _edges(ring)
    px, py = pts[:, 0][:, None], pts[:, 1][:, None]
    x1, y1, x2, y2 = (e[:, i][None, :] for i in range(4))
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    on = (
        (cross == 0)
        & (px >= np.minimum(x1, x2)) & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2)) & (py <= np.maximum(y1, y2))
    ).any(axis=1)
    inside = geom.pip_even_odd(pts[:, 0], pts[:, 1], [ring])
    return inside & ~on, on


def interior_point(ring: np.ndarray) -> np.ndarray:
    """A point STRICTLY inside a simple polygon: scanline at the midpoint of
    two adjacent distinct vertex ys; midpoint of the first crossing
    interval. Always succeeds for a non-degenerate simple polygon."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    ys = np.unique(r[:, 1])
    e = _edges(r)
    for i in range(len(ys) - 1):
        ymid = (ys[i] + ys[i + 1]) / 2.0
        y1, y2 = e[:, 1], e[:, 3]
        m = (np.minimum(y1, y2) < ymid) & (np.maximum(y1, y2) > ymid)
        if not m.any():
            continue
        x1, x2 = e[m, 0], e[m, 2]
        t = (ymid - e[m, 1]) / (e[m, 3] - e[m, 1])
        xs = np.sort(x1 + t * (x2 - x1))
        if len(xs) >= 2:
            return np.array([(xs[0] + xs[1]) / 2.0, ymid])
    # degenerate (zero-area) polygon: fall back to the first vertex
    return r[0].copy()


PREDICATES = ("intersects", "touches", "contains", "within", "equals",
              "overlaps", "crosses", "disjoint")


def polygon_predicates(ring_a: np.ndarray, ring_b: np.ndarray) -> dict[str, bool]:
    """GEOS boolean relations between two SIMPLE polygons (areal x areal).

    Derivation: boundary edge-pair classification (proper crossings /
    touches), vertex and edge-midpoint classification against the other
    polygon, plus interior representative points. ``crosses`` is always
    false for two areas (GEOS dimension rule)."""
    a = np.asarray(ring_a, dtype=np.float64)
    b = np.asarray(ring_b, dtype=np.float64)
    ea, eb = _edges(a), _edges(b)
    proper, touch = _seg_relations(ea, eb)

    av = ea[:, :2]
    bv = eb[:, :2]
    amid = (ea[:, :2] + ea[:, 2:]) / 2.0
    bmid = (eb[:, :2] + eb[:, 2:]) / 2.0
    a_in_b, a_on_b = _classify_points(av, b)
    b_in_a, b_on_a = _classify_points(bv, a)
    am_in_b, am_on_b = _classify_points(amid, b)
    bm_in_a, bm_on_a = _classify_points(bmid, a)
    ia_in_b, _ = _classify_points(interior_point(a)[None, :], b)
    ib_in_a, _ = _classify_points(interior_point(b)[None, :], a)

    # interiors intersect if: boundaries properly cross; a vertex or an edge
    # MIDPOINT of one is strictly inside the other (a boundary point strictly
    # inside the other's open interior forces interior overlap — catches
    # sliver overlaps whose representative interior points miss each other);
    # or a representative interior point lands inside the other
    interiors = bool(
        proper or a_in_b.any() or b_in_a.any()
        or am_in_b.any() or bm_in_a.any()
        or ia_in_b[0] or ib_in_a[0]
    )
    boundaries = bool(touch or a_on_b.any() or b_on_a.any())
    intersects = interiors or boundaries
    contains = bool(
        interiors and not proper
        and (b_in_a | b_on_a).all() and (bm_in_a | bm_on_a).all()
    )
    within = bool(
        interiors and not proper
        and (a_in_b | a_on_b).all() and (am_in_b | am_on_b).all()
    )
    return {
        "intersects": intersects,
        "touches": intersects and not interiors,
        "contains": contains,
        "within": within,
        "equals": contains and within,
        "overlaps": interiors and not contains and not within,
        "crosses": False,
        "disjoint": not intersects,
    }


# ---------------------------------------------------------------------------
# generalized Sutherland–Hodgman: subject (any simple) x clip (CONVEX)
# ---------------------------------------------------------------------------

def clip_ring_convex(subject: np.ndarray, clip_ring: np.ndarray) -> np.ndarray:
    """Clip a simple subject ring against a CONVEX clip ring (either
    orientation; normalized to CCW internally). Returns the clipped ring
    (possibly empty). ``apps/ogr2ogr_lib.cpp : clip handling (≈L1500)``
    generalized from the axis-aligned version in ``geom.clip_ring_rect``."""
    pts = np.asarray(subject, dtype=np.float64)
    if len(pts) > 1 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    c = np.asarray(clip_ring, dtype=np.float64)
    if len(c) > 1 and np.array_equal(c[0], c[-1]):
        c = c[:-1]
    if geom.shoelace_area(c) < 0:  # ensure CCW so "inside" is left of edges
        c = c[::-1]
    poly = [tuple(p) for p in pts]
    n = len(c)
    for i in range(n):
        if not poly:
            break
        ex1, ey1 = c[i]
        ex2, ey2 = c[(i + 1) % n]
        dx, dy = ex2 - ex1, ey2 - ey1

        def inside(p):
            return dx * (p[1] - ey1) - dy * (p[0] - ex1) >= 0

        def isect(p1, p2):
            sx, sy = p2[0] - p1[0], p2[1] - p1[1]
            denom = dx * sy - dy * sx
            t = (dx * (p1[1] - ey1) - dy * (p1[0] - ex1)) / -denom
            return (p1[0] + t * sx, p1[1] + t * sy)

        out = []
        m = len(poly)
        for j in range(m):
            cur, nxt = poly[j], poly[(j + 1) % m]
            ci, ni = inside(cur), inside(nxt)
            if ci:
                out.append(cur)
                if not ni:
                    out.append(isect(cur, nxt))
            elif ni:
                out.append(isect(cur, nxt))
        poly = out
    return np.asarray(poly, dtype=np.float64).reshape(-1, 2)


# ---------------------------------------------------------------------------
# general polygons (round 3): ear-clip triangulation + convex-split algebra.
#
# Retires the round-2 convex-method / disjoint-erase contracts. Instead of a
# Greiner–Hormann vertex walk (notoriously fragile on vertex-on-edge and
# shared-edge degeneracies), every general polygon — non-convex, holed — is
# decomposed ONCE into interior-disjoint CONVEX pieces; all boolean area
# math then reduces to the exact Sutherland–Hodgman convex kernels above:
#
#   A \ B (both convex)  = disjoint pieces via progressive halfplane split
#   holed polygon        = outer triangles minus hole triangles (convex \ convex)
#   union of a layer     = sequential de-overlap of pieces (convex \ convex)
#   area(subject ∩ X)    = sum over X's disjoint pieces of S–H clip areas
#
# Piece areas add exactly because pieces are interior-disjoint by
# construction; no inclusion–exclusion, no special-cased degeneracies.
# Reference: ``ogr/ogrsf_frmts/generic/ogrlayer.cpp : Intersection/Erase``
# semantics; decomposition approach is the classic convex-decomposition
# boolean (public computational-geometry folklore; cf. GEOS overlayng's
# edge-noding strategy serving the same robustness goal).
# ---------------------------------------------------------------------------

def _open_ccw(ring: np.ndarray) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    if geom.shoelace_area(r) < 0:
        r = r[::-1]
    return r


def triangulate(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a SIMPLE polygon (any winding, no
    holes): list of (3, 2) CCW triangles whose disjoint union is the
    polygon. O(n^2); collinear vertices are consumed as zero-area ears."""
    r = _open_ccw(ring)
    idx = list(range(len(r)))
    tris: list[np.ndarray] = []

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    guard = 0
    while len(idx) > 3 and guard < 4 * len(r) * len(r):
        guard += 1
        n = len(idx)
        clipped = False
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            p0, p1, p2 = r[i0], r[i1], r[i2]
            c = cross(p0, p1, p2)
            if c < 0:
                continue  # reflex
            if c == 0:
                idx.pop(k)  # collinear: zero-area ear, drop the vertex
                clipped = True
                break
            ok = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                q = r[j]
                # inside OR on the ear boundary blocks the ear: a vertex
                # exactly on the candidate diagonal would pinch the
                # remainder polygon into a self-touching shape
                if (cross(p0, p1, q) >= 0 and cross(p1, p2, q) >= 0
                        and cross(p2, p0, q) >= 0):
                    ok = False
                    break
            if ok:
                tris.append(np.array([p0, p1, p2]))
                idx.pop(k)
                clipped = True
                break
        if not clipped:  # numerically stuck (degenerate input): fan fallback
            break
    if len(idx) == 3:
        t = r[idx]
        if cross(t[0], t[1], t[2]) > 0:
            tris.append(t)
    elif len(idx) > 3:  # fallback fan (only for degenerate inputs)
        for k in range(1, len(idx) - 1):
            t = r[[idx[0], idx[k], idx[k + 1]]]
            if cross(t[0], t[1], t[2]) > 0:
                tris.append(t)
    return tris


def _clip_halfplane(poly: np.ndarray, ex1, ey1, ex2, ey2, keep_left: bool) -> np.ndarray:
    """One Sutherland–Hodgman pass of ``poly`` against the (in)side of a
    single directed edge. keep_left=True keeps the CCW-interior side."""
    dx, dy = ex2 - ex1, ey2 - ey1
    sign = 1.0 if keep_left else -1.0
    if len(poly) == 0:
        return poly
    out = []
    m = len(poly)
    for j in range(m):
        cur, nxt = poly[j], poly[(j + 1) % m]
        ci = sign * (dx * (cur[1] - ey1) - dy * (cur[0] - ex1)) >= 0
        ni = sign * (dx * (nxt[1] - ey1) - dy * (nxt[0] - ex1)) >= 0
        if ci:
            out.append((cur[0], cur[1]))
        if ci != ni:
            sx, sy = nxt[0] - cur[0], nxt[1] - cur[1]
            denom = dx * sy - dy * sx
            t = (dx * (cur[1] - ey1) - dy * (cur[0] - ex1)) / -denom
            out.append((cur[0] + t * sx, cur[1] + t * sy))
    # drop consecutive duplicates (incl. wraparound): a repeated vertex
    # becomes a zero-length edge whose halfplane is the whole plane in
    # later convex_split passes
    dedup = [p for i, p in enumerate(out) if p != out[i - 1]]
    return np.asarray(dedup, dtype=np.float64).reshape(-1, 2)


def convex_split(a: np.ndarray, b: np.ndarray) -> tuple[list[np.ndarray], np.ndarray]:
    """(pieces of A \\ B, A ∩ B) for CONVEX a, b — progressive halfplane
    split: for edge i of b (CCW), piece_i = rem ∩ outside(edge_i) and
    rem := rem ∩ inside(edge_i). Pieces are convex, interior-disjoint, and
    together with the final rem partition A exactly."""
    a = _open_ccw(a)
    b = _open_ccw(b)
    pieces: list[np.ndarray] = []
    rem = a
    n = len(b)
    for i in range(n):
        if len(rem) < 3:
            break
        ex1, ey1 = b[i]
        ex2, ey2 = b[(i + 1) % n]
        if ex1 == ex2 and ey1 == ey2:
            continue  # zero-length edge: no halfplane (defense in depth)
        outside = _clip_halfplane(rem, ex1, ey1, ex2, ey2, keep_left=False)
        if len(outside) >= 3 and abs(geom.shoelace_area(outside)) > 1e-12:
            pieces.append(outside)
        rem = _clip_halfplane(rem, ex1, ey1, ex2, ey2, keep_left=True)
    inter = rem if len(rem) >= 3 and abs(geom.shoelace_area(rem)) > 1e-12 else \
        np.empty((0, 2))
    return pieces, inter


def holed_to_pieces(rings: list[np.ndarray]) -> list[np.ndarray]:
    """Disjoint convex cover of a polygon-with-holes (rings[0] outer,
    rings[1:] holes strictly inside the outer, mutually disjoint):
    triangulate the outer, subtract every hole triangle via convex_split."""
    pieces = triangulate(rings[0])
    for hole in rings[1:]:
        hole_tris = triangulate(hole)
        for ht in hole_tris:
            nxt: list[np.ndarray] = []
            for p in pieces:
                diff, _inter = convex_split(p, ht)
                nxt.extend(diff)
            pieces = nxt
    return pieces


def disjoint_cover(piece_lists: list[list[np.ndarray]]) -> list[np.ndarray]:
    """De-overlapped union cover across FEATURES: sequentially subtract the
    already-covered region from each new feature's pieces. The result is a
    set of interior-disjoint convex pieces whose union is the union of all
    inputs — this is what lifts the round-2 'method polygons must be
    mutually disjoint' Erase contract."""
    cover: list[np.ndarray] = []
    boxes: list[tuple[float, float, float, float]] = []
    for pieces in piece_lists:
        fresh = list(pieces)
        for d, (bx0, by0, bx1, by1) in zip(list(cover), list(boxes)):
            nxt: list[np.ndarray] = []
            for p in fresh:
                px0, py0 = p.min(axis=0)
                px1, py1 = p.max(axis=0)
                if px0 >= bx1 or bx0 >= px1 or py0 >= by1 or by0 >= py1:
                    nxt.append(p)  # bbox-disjoint: keep whole
                    continue
                diff, _ = convex_split(p, d)
                nxt.extend(diff)
            fresh = nxt
            if not fresh:
                break
        for p in fresh:
            cover.append(p)
            mn = p.min(axis=0)
            mx = p.max(axis=0)
            boxes.append((mn[0], mn[1], mx[0], mx[1]))
    return cover


def _all_rings_np(rings) -> list[np.ndarray]:
    return [np.array([(p["x"], p["y"]) for p in ring], dtype=np.float64)
            for ring in rings]


def area_with_holes(rings: list[np.ndarray]) -> float:
    a = abs(geom.shoelace_area(_open_ccw(rings[0])))
    for h in rings[1:]:
        a -= abs(geom.shoelace_area(_open_ccw(h)))
    return a


def clip_area_general(subject_rings: list[np.ndarray],
                      method_pieces: list[np.ndarray]) -> float:
    """area(subject ∩ ∪pieces) for a holed, possibly non-convex subject and
    interior-disjoint convex pieces: per piece, S–H clip of the outer ring
    minus S–H clips of the holes; exact because pieces are disjoint and
    holes are inside the outer."""
    total = 0.0
    s_outer = _open_ccw(subject_rings[0])
    s_holes = [_open_ccw(h) for h in subject_rings[1:]]
    ox0, oy0 = s_outer.min(axis=0)
    ox1, oy1 = s_outer.max(axis=0)
    for p in method_pieces:
        px0, py0 = p.min(axis=0)
        px1, py1 = p.max(axis=0)
        if px0 >= ox1 or ox0 >= px1 or py0 >= oy1 or oy0 >= py1:
            continue
        c = clip_ring_convex(s_outer, p)
        if len(c) < 3:
            continue
        a = abs(geom.shoelace_area(c))
        for h in s_holes:
            ch = clip_ring_convex(h, p)
            if len(ch) >= 3:
                a -= abs(geom.shoelace_area(ch))
        total += a
    return total


def polygon_predicates_general(rings_a: list[np.ndarray],
                               rings_b: list[np.ndarray],
                               tol: float = 1e-6) -> dict[str, bool]:
    """GEOS boolean relations for GENERAL polygons — non-convex outers,
    holes (rings[0] outer, rest holes). Derivation (areal x areal):

    - interiors intersect  <=>  area(a ∩ b) > 0 (open-set overlap of areal
      regions always has positive measure); computed exactly via the
      convex-split decomposition
    - contains/within      <=>  area(a ∩ b) equals area(b) / area(a)
      (an areal region poking outside the other always contributes
      positive area — no zero-width protrusions exist for simple rings)
    - boundary contact     <=>  any edge pair of ANY ring of a x ANY ring
      of b properly crosses or touches (a boundary point strictly interior
      to the other region already implies interior overlap, so edge-pair
      contact is the only extra case)
    - touches = intersects and not interiors; crosses identically false
      (GEOS dimension rule for two areas).
    """
    a_rings = [_open_ccw(r) for r in rings_a]
    b_rings = [_open_ccw(r) for r in rings_b]
    area_a = area_with_holes(rings_a)
    area_b = area_with_holes(rings_b)
    inter = clip_area_general(rings_a, holed_to_pieces(rings_b))
    interiors = inter > tol
    contains = interiors and abs(inter - area_b) <= tol
    within = interiors and abs(inter - area_a) <= tol

    ea = np.concatenate([_edges(r) for r in a_rings])
    eb = np.concatenate([_edges(r) for r in b_rings])
    proper, touch = _seg_relations(ea, eb)
    intersects = bool(interiors or proper or touch)
    return {
        "intersects": intersects,
        "touches": intersects and not interiors,
        "contains": bool(contains),
        "within": bool(within),
        "equals": bool(contains and within),
        "overlaps": bool(interiors and not contains and not within),
        "crosses": False,
        "disjoint": not intersects,
    }


def predicate_join_general(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """P5 as a join over GENERAL polygons (holes, non-convex): one truth
    row per bbox-overlapping candidate pair (disjoint-but-bbox-meeting
    pairs are emitted with the constant disjoint row — same contract as
    the bucketed candidate join)."""
    pairs = _bucketed_pairs(a, b, id_a, id_b, bucket)

    def kern(ia, ib, ra, rb):
        p = polygon_predicates_general(_all_rings_np(ra), _all_rings_np(rb))
        yield (ia, ib) + tuple(bool(p[k]) for k in PREDICATES)

    return arrowrows.map_rows(pairs, kern, _predicate_ddl(id_a, id_b))


def intersection_layer_general(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """OGRLayer::Intersection analog, GENERAL polygons: subjects and method
    features may be non-convex and carry holes. One row per pair with a
    positive intersection area — (id_a, id_b, inter_area)."""
    pairs = _bucketed_pairs(a, b, id_a, id_b, bucket)

    def kern(ia, ib, ra, rb):
        area = clip_area_general(_all_rings_np(ra), holed_to_pieces(_all_rings_np(rb)))
        if area > 1e-12:
            yield ia, ib, area

    return arrowrows.map_rows(pairs, kern,
                              f"{id_a} long, {id_b} long, inter_area double")


def erase_layer_general(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """OGRLayer::Erase analog, GENERAL polygons and OVERLAPPING method
    layers: per subject, the method features it bbox-meets are decomposed
    into one de-overlapped convex cover (disjoint_cover), so each eroded
    region is counted once no matter how many method features overlap it.
    Returns (id_a, area, erased_area, remaining_area) for every subject."""
    pairs = _bucketed_pairs(a, b, id_a, id_b, bucket)
    grouped = pairs.groupBy(id_a).agg(
        F.first("rings_a").alias("rings_a"),
        F.collect_list("rings_b").alias("methods"),
    )

    def kern(ia, ra, ms):
        s_rings = _all_rings_np(ra)
        cover = disjoint_cover([holed_to_pieces(_all_rings_np(m)) for m in ms])
        area = area_with_holes(s_rings)
        erased = clip_area_general(s_rings, cover)
        yield ia, area, erased, area - erased

    matched = arrowrows.map_rows(
        grouped, kern,
        f"{id_a} long, area double, erased_area double, remaining_area double",
    )
    # subjects with no bbox-overlapping method feature: erased = 0
    # (area = outer ring minus holes, all as native Column math)
    hole_sum = F.aggregate(
        F.slice(F.col("rings"), 2, 1 << 30),
        F.lit(0.0), lambda acc, _r: acc + _ring_area_col(_r),
    )
    base = a.select(
        F.col(id_a),
        (_ring_area_col(F.col("rings")[0]) - hole_sum).alias("_sum_abs"),
    )
    untouched = (
        base.join(matched.select(id_a), id_a, "left_anti")
        .select(
            F.col(id_a),
            F.col("_sum_abs").alias("area"),
            F.lit(0.0).alias("erased_area"),
            F.col("_sum_abs").alias("remaining_area"),
        )
    )
    return matched.unionByName(untouched)


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

def _ring_bbox_cols(rings_col: str):
    allx = F.flatten(F.transform(rings_col, lambda r: F.transform(r, lambda p: p["x"])))
    ally = F.flatten(F.transform(rings_col, lambda r: F.transform(r, lambda p: p["y"])))
    return (F.array_min(allx), F.array_min(ally),
            F.array_max(allx), F.array_max(ally))


def _bucketed_pairs(a: DataFrame, b: DataFrame, id_a: str, id_b: str,
                    bucket: float) -> DataFrame:
    """Candidate pairs whose bboxes share a grid bucket, deduped — the
    cell-keyed spatial-join shape (J2) at bbox granularity: each side
    explodes its bbox to covering buckets, pairs equi-join on the bucket
    key, exact bbox-overlap filter refines, and dedupe is on ids only."""
    def with_buckets(df, idc, side):
        x0, y0, x1, y1 = _ring_bbox_cols("rings")
        return (
            df.select(F.col(idc), F.col("rings").alias(f"rings_{side}"),
                      x0.alias(f"{side}x0"), y0.alias(f"{side}y0"),
                      x1.alias(f"{side}x1"), y1.alias(f"{side}y1"))
            .withColumn("_bx", F.explode(F.sequence(
                F.floor(F.col(f"{side}x0") / bucket),
                F.floor(F.col(f"{side}x1") / bucket))))
            .withColumn("_by", F.explode(F.sequence(
                F.floor(F.col(f"{side}y0") / bucket),
                F.floor(F.col(f"{side}y1") / bucket))))
        )

    pa = with_buckets(a, id_a, "a")
    pb = with_buckets(b, id_b, "b")
    return (
        pa.join(pb, ["_bx", "_by"])
        .filter(
            (F.col("ax0") <= F.col("bx1")) & (F.col("bx0") <= F.col("ax1"))
            & (F.col("ay0") <= F.col("by1")) & (F.col("by0") <= F.col("ay1"))
        )
        .dropDuplicates([id_a, id_b])
        .select(id_a, id_b, "rings_a", "rings_b")
    )


def _predicate_ddl(id_a: str, id_b: str) -> str:
    preds = ", ".join(f"{k} boolean" for k in PREDICATES)
    return f"{id_a} long, {id_b} long, {preds}"


def _rings_to_np(rings) -> np.ndarray:
    return np.array([(p["x"], p["y"]) for p in rings[0]], dtype=np.float64)


def predicate_join(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """P5 as a join: for every bbox-overlapping pair of simple polygons,
    the full GEOS predicate truth table. Disjoint-bbox pairs are pruned
    natively (their truth row is the constant disjoint row)."""
    pairs = _bucketed_pairs(a, b, id_a, id_b, bucket)

    def kern(ia, ib, ra, rb):
        p = polygon_predicates(_rings_to_np(ra), _rings_to_np(rb))
        yield (ia, ib) + tuple(bool(p[k]) for k in PREDICATES)

    return arrowrows.map_rows(pairs, kern, _predicate_ddl(id_a, id_b))


def intersection_layer(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """OGRLayer::Intersection analog: one row per pair with a non-empty
    areal intersection — (id_a, id_b, inter_area, wkt). Method (b) polygons
    must be CONVEX (generalized S–H clip); subject polygons may be any
    simple polygon."""
    pairs = _bucketed_pairs(a, b, id_a, id_b, bucket)

    def kern(ia, ib, ra, rb):
        clipped = clip_ring_convex(_rings_to_np(ra), _rings_to_np(rb))
        if len(clipped) >= 3:
            area = abs(geom.shoelace_area(clipped))
            if area > 0:
                yield ia, ib, area, geom.polygon_wkt([clipped])

    return arrowrows.map_rows(
        pairs, kern, f"{id_a} long, {id_b} long, inter_area double, wkt string")


def erase_layer(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """OGRLayer::Erase analog at area level: per input feature, the area
    remaining after subtracting all method-layer intersections —
    (id_a, area, erased_area, remaining_area). Assumes the method layer's
    polygons are mutually DISJOINT (docstring contract; otherwise
    overlapping erasures would double-count)."""
    inter = intersection_layer(a, b, id_a, id_b, bucket)
    base = a.select(
        F.col(id_a),
        F.aggregate(
            F.transform(F.col("rings"), lambda r: _ring_area_col(r)),
            F.lit(0.0), lambda acc, v: acc + v,
        ).alias("area"),
    )
    agg = inter.groupBy(id_a).agg(F.sum("inter_area").alias("erased_area"))
    return (
        base.join(agg, id_a, "left")
        .withColumn("erased_area", F.coalesce("erased_area", F.lit(0.0)))
        .withColumn("remaining_area", F.col("area") - F.col("erased_area"))
    )


def _ring_area_col(ring):
    """|shoelace| of one ring column (array<struct<x,y>>, open) — native."""
    nxt = F.concat(F.slice(ring, 2, 1 << 30), F.slice(ring, 1, 1))
    terms = F.zip_with(ring, nxt, lambda p, q: p["x"] * q["y"] - q["x"] * p["y"])
    return F.abs(F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)) / 2.0


def union_layer(
    a: DataFrame, b: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    bucket: float = 32.0,
) -> DataFrame:
    """OGRLayer::Union analog at area level: intersection pieces plus each
    side's remainder areas. Returns rows (id_a, id_b, piece, area) where
    piece is 'intersection' (both ids set), 'a_remainder' (id_b null) or
    'b_remainder' (id_a null). Same convex/disjoint contracts as
    erase_layer, applied to each side."""
    inter = intersection_layer(a, b, id_a, id_b, bucket).select(
        id_a, id_b, F.lit("intersection").alias("piece"),
        F.col("inter_area").alias("area"),
    )
    rem_a = erase_layer(a, b, id_a, id_b, bucket).select(
        F.col(id_a), F.lit(None).cast("long").alias(id_b),
        F.lit("a_remainder").alias("piece"),
        F.col("remaining_area").alias("area"),
    ).filter(F.col("area") > 0)
    rem_b = erase_layer(
        b, a, id_b, id_a, bucket
    ).select(
        F.lit(None).cast("long").alias(id_a), F.col(id_b),
        F.lit("b_remainder").alias("piece"),
        F.col("remaining_area").alias("area"),
    ).filter(F.col("area") > 0)
    return inter.unionByName(rem_a).unionByName(rem_b)
