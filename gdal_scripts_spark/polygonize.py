"""Polygonize — raster → vector components (SURVEY.md §2.9 R1, the hardest
operator; §7 hard part #1).

Reference semantics: ``alg/polygonize.cpp : GDALPolygonize (≈L600),
GDALRasterPolygonEnumerator two-pass (≈L200-500)`` — stream the raster,
label connected components of equal pixel value (4- or 8-connected), merge
label equivalences, emit one polygon (pixel-edge rings) + value per final
component. Background/nodata here: value 0 is masked out (the
``gdal_polygonize.py -mask`` convention).

Spark-first shape: every image is one row, so every component lives inside
one task. ``polygonize`` is a single per-row Arrow pass: decode each image,
label it once with the run-based union-find (``_tile_ccl`` — label = the
component's minimum pixel index y*W + x, canonical and deterministic
regardless of execution order; hard part #1), then emit one row per
component with value and pixel count from the row runs and, when asked, the
rings traced on the component's bbox crop (``image_components``, which
``raster.footprint`` shares). No pixel, run or label crosses a shuffle.

Interior rings (holes): GDAL's RPolygonizer collects every boundary arc of a
component — donut components produce one exterior + one ring per hole
(``alg/polygonize.cpp`` ring/arc collection ≈L200-500). This engine does the
same: all pixel-edge loops of a component mask are traced; the max-|area|
loop is the exterior, the rest are interior rings, each canonicalized and
emitted in the WKT (``POLYGON ((ext), (hole), ...)``).

The sequential oracle (np_polygonize) uses BFS flood fill — a different
algorithm from the engine's run-based union-find — sharing only the
ring-extraction geometry helper.

Kernels are VECTORIZED at run granularity (never per-pixel Python): row runs
via shifted comparisons, run-overlap merge pairs via interval searchsorted,
union-find over runs only (#runs << #pixels). The BFS/per-pixel versions
survive only as test oracles.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from . import arrowrows, codecs

# ---------------------------------------------------------------------------
# shared geometry helper: pixel-edge exterior ring of a component mask
# ---------------------------------------------------------------------------

def _boundary_loops(mask: np.ndarray) -> list[list[tuple[int, int]]]:
    """All directed pixel-edge loops of a True-mask (interior on the left,
    y-down): one exterior loop + one loop per hole. Edge extraction is
    vectorized (shifted-mask compares); only the stitching walk — O(perimeter),
    not O(area) — is a Python loop."""
    h, w = mask.shape
    pad = np.zeros((1, w), dtype=bool)
    padc = np.zeros((h, 1), dtype=bool)
    top = mask & ~np.concatenate([pad, mask[:-1]], axis=0)
    bot = mask & ~np.concatenate([mask[1:], pad], axis=0)
    left = mask & ~np.concatenate([padc, mask[:, :-1]], axis=1)
    right = mask & ~np.concatenate([mask[:, 1:], padc], axis=1)

    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add_all(ys, xs, fa, fb):
        for y, x in zip(ys.tolist(), xs.tolist()):
            edges.setdefault(fa(x, y), []).append(fb(x, y))

    ty, tx = np.nonzero(top)
    add_all(ty, tx, lambda x, y: (x, y), lambda x, y: (x + 1, y))
    by, bx = np.nonzero(bot)
    add_all(by, bx, lambda x, y: (x + 1, y + 1), lambda x, y: (x, y + 1))
    ly, lx = np.nonzero(left)
    add_all(ly, lx, lambda x, y: (x, y + 1), lambda x, y: (x, y))
    ry, rx = np.nonzero(right)
    add_all(ry, rx, lambda x, y: (x + 1, y), lambda x, y: (x + 1, y + 1))

    loops = []
    while edges:
        start = min(edges)
        cur = start
        loop = [cur]
        prev_dir = None
        while True:
            outs = edges.get(cur)
            if not outs:
                break
            if len(outs) == 1:
                nxt = outs.pop()
                del edges[cur]
            else:
                # corner-touching (8-conn) ambiguity: turn left first
                # relative to incoming direction; deterministic.
                def turn_key(cand):
                    dx, dy = cand[0] - cur[0], cand[1] - cur[1]
                    if prev_dir is None:
                        return (dx, dy)
                    px, py = prev_dir
                    cross = px * dy - py * dx
                    dot = px * dx + py * dy
                    return (-cross, -dot)
                outs.sort(key=turn_key)
                nxt = outs.pop(0)
                if not outs:
                    del edges[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            if nxt == start:
                break
            loop.append(nxt)
            cur = nxt
        loops.append(loop)
    return loops


def _loop_area(lp: list[tuple[int, int]]) -> float:
    a = 0
    for i in range(len(lp)):
        x1, y1 = lp[i]
        x2, y2 = lp[(i + 1) % len(lp)]
        a += x1 * y2 - x2 * y1
    return abs(a) / 2.0


def _canonical_ring(ring: list[tuple[int, int]], oy: int, ox: int) -> list[tuple[int, int]]:
    """Collinear-simplified, starting at the lexicographically smallest
    vertex, direction chosen so the second vertex is the smaller neighbor."""
    out = []
    n = len(ring)
    for i in range(n):
        p0, p1, p2 = ring[i - 1], ring[i], ring[(i + 1) % n]
        if (p1[0] - p0[0]) * (p2[1] - p1[1]) != (p1[1] - p0[1]) * (p2[0] - p1[0]):
            out.append(p1)
    s = min(range(len(out)), key=lambda i: out[i])
    out = out[s:] + out[:s]
    if len(out) > 2 and out[-1] < out[1]:
        out = [out[0]] + out[1:][::-1]
    return [(x + ox, y + oy) for x, y in out]


def boundary_rings(
    mask: np.ndarray, oy: int = 0, ox: int = 0
) -> tuple[list[tuple[int, int]], list[list[tuple[int, int]]]]:
    """(exterior, holes) pixel-edge rings of a connected True-mask, offset to
    global coords. The max-|area| loop is the exterior; every other loop is
    an interior ring (GDAL RPolygonizer ring collection analog). Each ring is
    canonicalized; holes are sorted by their first vertex."""
    loops = _boundary_loops(mask)
    ext_i = max(range(len(loops)), key=lambda i: _loop_area(loops[i]))
    ext = _canonical_ring(loops[ext_i], oy, ox)
    holes = sorted(
        (_canonical_ring(lp, oy, ox) for i, lp in enumerate(loops) if i != ext_i),
        key=lambda r: r[0],
    )
    return ext, holes


def polygon_wkt(ext: list[tuple[int, int]], holes: list[list[tuple[int, int]]] = ()) -> str:
    def ring_txt(r):
        pts = list(r) + [r[0]]
        return "(" + ", ".join(f"{x} {y}" for x, y in pts) + ")"

    return "POLYGON (" + ", ".join(ring_txt(r) for r in [ext, *holes]) + ")"


# ---------------------------------------------------------------------------
# sequential oracle — BFS flood fill (independent of the engine's union-find)
# ---------------------------------------------------------------------------

def np_polygonize(img: np.ndarray, connectivity: int = 4) -> list[dict]:
    """Components of equal nonzero value; canonical id = min pixel index."""
    h, w = img.shape
    seen = np.zeros((h, w), dtype=bool)
    if connectivity == 4:
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    else:
        nbrs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)]
    comps = []
    for y0 in range(h):
        for x0 in range(w):
            if seen[y0, x0] or img[y0, x0] == 0:
                continue
            v = img[y0, x0]
            stack = [(y0, x0)]
            seen[y0, x0] = True
            pixels = []
            while stack:
                y, x = stack.pop()
                pixels.append((y, x))
                for dy, dx in nbrs:
                    ny, nx = y + dy, x + dx
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny, nx] and img[ny, nx] == v:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            mask = np.zeros((h, w), dtype=bool)
            for y, x in pixels:
                mask[y, x] = True
            label = min(y * w + x for y, x in pixels)
            ext, holes = boundary_rings(mask)
            comps.append(
                {
                    "label": label,
                    "value": int(v),
                    "pixel_count": len(pixels),
                    "min_pixel_yx": (label // w, label % w),
                    "wkt": polygon_wkt(ext, holes),
                }
            )
    return sorted(comps, key=lambda c: c["label"])


# ---------------------------------------------------------------------------
# engine: run-based vectorized CCL (two-pass union-find over ROW RUNS —
# #runs << #pixels, so Python touches runs, never pixels)
# ---------------------------------------------------------------------------

def _row_runs(img: np.ndarray, include_zero: bool = False):
    """Row-major maximal equal-value runs.

    Returns (sy, sx, ex, rid): run k covers row sy[k], columns sx[k]..ex[k];
    rid maps every in-domain pixel to its run id (row-major cumsum — valid
    wherever the run mask is). include_zero=False skips value-0 pixels (the
    polygonize mask convention); True labels everything (sieve)."""
    h, w = img.shape
    dom = np.ones((h, w), dtype=bool) if include_zero else (img != 0)
    change = np.empty((h, w), dtype=bool)
    change[:, 0] = True
    change[:, 1:] = img[:, 1:] != img[:, :-1]
    if not include_zero:
        # a run also starts where the previous pixel was out of domain
        change[:, 1:] |= ~dom[:, :-1]
    rs = change & dom
    endm = np.empty((h, w), dtype=bool)
    endm[:, -1] = True
    endm[:, :-1] = img[:, :-1] != img[:, 1:]
    if not include_zero:
        endm[:, :-1] |= ~dom[:, 1:]
    sy, sx = np.nonzero(rs)
    _, ex = np.nonzero(endm & dom)
    rid = (np.cumsum(rs.ravel()).reshape(h, w) - 1).astype(np.int64)
    return sy.astype(np.int64), sx.astype(np.int64), ex.astype(np.int64), rid


def _concat_ranges(counts: np.ndarray) -> np.ndarray:
    """[0..c0-1, 0..c1-1, ...] for counts ci (vectorized)."""
    total = int(counts.sum())
    out = np.arange(total, dtype=np.int64)
    out -= np.repeat(np.cumsum(counts) - counts, counts)
    return out


def _run_merge_pairs(img, sy, sx, ex, connectivity: int):
    """(a, b) run-id pairs to union: overlapping runs of equal value in
    consecutive rows (4-conn: column overlap; 8-conn: overlap padded by 1).
    Vectorized per row pair with interval searchsorted — runs within a row
    are sorted by sx and disjoint, so each b-run's overlapping a-runs form a
    contiguous slice."""
    h = img.shape[0]
    pad = 1 if connectivity == 8 else 0
    row_ptr = np.searchsorted(sy, np.arange(h + 1))
    vals = img[sy, sx]
    pas, pbs = [], []
    for y in range(1, h):
        a0, a1 = int(row_ptr[y - 1]), int(row_ptr[y])
        b0, b1 = int(row_ptr[y]), int(row_ptr[y + 1])
        if a0 == a1 or b0 == b1:
            continue
        sxa, exa = sx[a0:a1], ex[a0:a1]
        sxb, exb = sx[b0:b1], ex[b0:b1]
        lo = np.searchsorted(exa, sxb - pad, side="left")
        hi = np.searchsorted(sxa, exb + pad, side="right")
        cnt = hi - lo
        m = cnt > 0
        if not m.any():
            continue
        cm = cnt[m]
        b_idx = np.repeat(np.arange(b0, b1, dtype=np.int64)[m], cm)
        a_idx = np.repeat(lo[m], cm) + _concat_ranges(cm) + a0
        same = vals[a_idx] == vals[b_idx]
        pas.append(a_idx[same])
        pbs.append(b_idx[same])
    if not pas:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(pas), np.concatenate(pbs)


def _union_roots(nruns: int, pa: np.ndarray, pb: np.ndarray) -> np.ndarray:
    """Union-find over run ids; root = MIN run id of the component. Returns
    the fully-compressed root array. The only Python loop is over merge
    pairs (O(#pairs), tiny constants)."""
    parent = np.arange(nruns, dtype=np.int64)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(pa.tolist(), pb.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    # vectorized pointer jumping to full compression
    while True:
        p2 = parent[parent]
        if np.array_equal(p2, parent):
            return parent
        parent = p2


def _tile_ccl(img: np.ndarray, connectivity: int) -> np.ndarray:
    """Labeling of one whole image; labels = component min pixel index + 1
    (0 = background). Same contract as GDALRasterPolygonEnumerator's
    two passes, run-vectorized."""
    h, w = img.shape
    sy, sx, ex, rid = _row_runs(img, include_zero=False)
    lab = np.zeros((h, w), dtype=np.int64)
    if len(sy) == 0:
        return lab
    pa, pb = _run_merge_pairs(img, sy, sx, ex, connectivity)
    roots = _union_roots(len(sy), pa, pb)
    # component anchor = min run-start pixel index; runs are scan-ordered so
    # the root run (min id) already starts at the component's min pixel
    start_idx = sy * w + sx
    lab_run = start_idx[roots] + 1
    nz = img != 0
    lab[nz] = lab_run[rid[nz]]
    return lab


def image_components(
    img: np.ndarray, connectivity: int = 4, trace_rings: bool = True
) -> Iterator[tuple]:
    """Connected components of equal nonzero value in one whole image, in
    label order: ``(label, value, pixel_count, (y0, x0, y1, x1), rings)``.

    label = the component's min pixel index ``y * W + x``; value and
    pixel_count come from the row runs; the bbox is inclusive pixel
    rows/cols; rings = ``boundary_rings`` of the component's bbox crop in
    image coordinates, or None when ``trace_rings`` is False."""
    w = img.shape[1]
    lab = _tile_ccl(img, connectivity)
    # runs of the label image are the value runs, tagged by component
    sy, sx, ex, _rid = _row_runs(lab)
    labels, comp = np.unique(lab[sy, sx] - 1, return_inverse=True)
    n = len(labels)
    counts = np.bincount(comp, weights=ex - sx + 1, minlength=n)
    y1 = np.zeros(n, np.int64)
    np.maximum.at(y1, comp, sy)
    x0 = np.full(n, w, np.int64)
    np.minimum.at(x0, comp, sx)
    x1 = np.zeros(n, np.int64)
    np.maximum.at(x1, comp, ex)
    for k, label in enumerate(labels.tolist()):
        # the min pixel sits on the component's top row
        bbox = (label // w, int(x0[k]), int(y1[k]), int(x1[k]))
        rings = None
        if trace_rings:
            crop = lab[bbox[0] : bbox[2] + 1, bbox[1] : bbox[3] + 1] == label + 1
            rings = boundary_rings(crop, oy=bbox[0], ox=bbox[1])
        yield label, int(img[bbox[0], label % w]), int(counts[k]), bbox, rings


def polygonize(
    images: DataFrame,
    connectivity: int = 4,
    trace_rings: bool = True,
    *,
    tile: int | None = None,
) -> DataFrame:
    """Polygonize single-band images (fmt pgm/png gray) in one map pass:
    decode each image, label it whole, emit one row per component.

    Returns (image_id, label, value, pixel_count, min_y, min_x[, wkt]).
    label = min pixel index of the component (canonical). ``tile`` is
    ignored: it is accepted only because the traced ``raster_tiles``
    benchmark still passes it, and goes with the next benchmark change."""
    schema = ("image_id string, label long, value int, pixel_count long, "
              "min_y int, min_x int")
    if trace_rings:
        schema += ", wkt string"

    def kern(iid, buf, fmt):
        img = codecs.decode_hwc(buf, fmt)[:, :, 0]
        w = img.shape[1]
        for label, value, n, _bbox, rings in image_components(
            img, connectivity, trace_rings
        ):
            row = (iid, label, value, n, label // w, label % w)
            yield row + (polygon_wkt(*rings),) if trace_rings else row

    return arrowrows.map_rows(images.select("image_id", "bytes", "fmt"), kern, schema)


# ---------------------------------------------------------------------------
# R7 — sieve (alg/sieve.cpp : GDALSieveFilter ≈L300)
# ---------------------------------------------------------------------------

def _label_all(img: np.ndarray, connectivity: int):
    """Dense component labeling over ALL pixels (value 0 included — GDAL
    sieves the background polygon too). Returns (lab, sizes, vals) with
    component ids dense in first-pixel scan order — the same order a
    sequential BFS scan assigns, so tie-breaks match the oracle exactly."""
    sy, sx, ex, rid = _row_runs(img, include_zero=True)
    pa, pb = _run_merge_pairs(img, sy, sx, ex, connectivity)
    roots = _union_roots(len(sy), pa, pb)
    uniq, comp_of_run = np.unique(roots, return_inverse=True)
    sizes = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sizes, comp_of_run, ex - sx + 1)
    vals = img[sy[uniq], sx[uniq]]
    return comp_of_run[rid], sizes, vals


def np_sieve_fast(img: np.ndarray, threshold: int, connectivity: int = 4,
                  max_rounds: int = 100) -> np.ndarray:
    """Vectorized GDALSieveFilter: run-based CCL + vectorized neighbor-argmax
    merge per round. Bit-identical to the BFS oracle ``np_sieve`` (pinned by
    tests) — component ordering, merge-target tie-breaks ((size, -id) max)
    and the 4-neighbor replacement search all match."""
    out = img.copy()
    for _ in range(max_rounds):
        lab, sizes, vals = _label_all(out, connectivity)
        ncomp = len(sizes)
        small = sizes < threshold
        if not small.any():
            return out
        # unique directed adjacency (4-neighbor replacement search, as GDAL)
        ha, hb = lab[:, :-1], lab[:, 1:]
        va, vb = lab[:-1, :], lab[1:, :]
        hd, vd = ha != hb, va != vb
        c = np.concatenate([ha[hd], hb[hd], va[vd], vb[vd]])
        n2 = np.concatenate([hb[hd], ha[hd], vb[vd], va[vd]])
        key = np.unique(c * ncomp + n2)
        pc, pn = key // ncomp, key % ncomp
        m = small[pc]
        pc, pn = pc[m], pn[m]
        if len(pc) == 0:
            return out
        # per small component: neighbor maximizing (size, -id) — sort by
        # (pc, size asc, id desc) and take the last row of each pc group
        order = np.lexsort((-pn, sizes[pn], pc))
        pc_o, pn_o = pc[order], pn[order]
        last = np.nonzero(np.append(pc_o[1:] != pc_o[:-1], True))[0]
        tgt_c, tgt_n = pc_o[last], pn_o[last]
        diff = vals[tgt_n] != vals[tgt_c]
        if not diff.any():
            return out
        newval = vals.copy()
        newval[tgt_c[diff]] = vals[tgt_n[diff]]
        out = newval[lab]
    return out


def np_sieve(img: np.ndarray, threshold: int, connectivity: int = 4,
             max_rounds: int = 100) -> np.ndarray:
    """Remove components smaller than `threshold` pixels by merging each
    into its largest neighbor component, iterating to a fixpoint — the
    GDALSieveFilter contract. Components are equal-value regions INCLUDING
    value 0 (GDAL sieves the background polygon too).

    This is the sequential BFS ORACLE (per-pixel Python — test-only); the
    engine path uses the vectorized ``np_sieve_fast``."""
    out = img.copy()
    if connectivity == 4:
        nbrs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    else:
        nbrs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)]
    h, w = out.shape
    for _ in range(max_rounds):
        # label components (BFS)
        lab = np.full((h, w), -1, dtype=np.int64)
        sizes: list[int] = []
        vals: list[int] = []
        for y0 in range(h):
            for x0 in range(w):
                if lab[y0, x0] >= 0:
                    continue
                cid = len(sizes)
                v = out[y0, x0]
                stack = [(y0, x0)]
                lab[y0, x0] = cid
                cnt = 0
                while stack:
                    y, x = stack.pop()
                    cnt += 1
                    for dy, dx in nbrs:
                        ny, nx = y + dy, x + dx
                        if 0 <= ny < h and 0 <= nx < w and lab[ny, nx] < 0 and out[ny, nx] == v:
                            lab[ny, nx] = cid
                            stack.append((ny, nx))
                sizes.append(cnt)
                vals.append(int(v))
        sizes_a = np.array(sizes)
        small = np.nonzero(sizes_a < threshold)[0]
        if len(small) == 0:
            return out
        # 4-adjacency between components (edge scan; diagonal merge targets
        # follow GDAL, which uses 4-neighbors for the replacement search)
        adj: dict[int, set[int]] = {}
        for (a, b) in ((lab[:, :-1], lab[:, 1:]), (lab[:-1, :], lab[1:, :])):
            diff = a != b
            for ca, cb in zip(a[diff].ravel(), b[diff].ravel()):
                adj.setdefault(int(ca), set()).add(int(cb))
                adj.setdefault(int(cb), set()).add(int(ca))
        changed = False
        # merge smallest-first for determinism
        for cid in sorted(small, key=lambda c: (sizes_a[c], c)):
            nbrs_c = adj.get(int(cid), set())
            if not nbrs_c:
                continue
            tgt = max(nbrs_c, key=lambda c: (sizes_a[c], -c))
            if vals[tgt] != vals[cid]:
                out[lab == cid] = vals[tgt]
                changed = True
        if not changed:
            return out
    return out


def sieve(images: DataFrame, threshold: int, connectivity: int = 4,
          out_fmt: str = "pgm") -> DataFrame:
    """Distributed sieve over single-band images (one Arrow pass per batch;
    each image row is its own raster in this engine's data model)."""
    def kern(iid, buf, fmt):
        out = np_sieve_fast(codecs.decode_hwc(buf, fmt)[:, :, 0], threshold, connectivity)
        yield (iid, codecs.encode(out, out_fmt), out_fmt, out.shape[1], out.shape[0],
               codecs.gdal_style_checksum(out))

    return arrowrows.map_rows(
        images.select("image_id", "bytes", "fmt"), kern,
        "image_id string, bytes binary, fmt string, w int, h int, checksum int",
    )
