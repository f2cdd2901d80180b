"""Exact S2 cell ids + H3-style hex binning — the north-star "batched
H3/S2 cell encoding" surface (BASELINE.json : north_star).

S2 side
-------
A from-scratch, numpy-vectorized implementation of the PUBLIC S2 cell-id
scheme (s2geometry, Apache-2.0 — the algorithm is fully documented:
``s2/s2cell_id.cc : FromFaceIJ`` / ``ToFaceIJOrientation`` and
``s2/s2coords.h`` quadratic UV<->ST): lon/lat -> unit sphere -> cube face
(+ (u,v) gnomonic coords) -> quadratic ST -> 30-level (i,j) -> Hilbert
curve position via 4-bit lookup tables -> 64-bit cell id
``[face:3][pos:2*level][1][0...]``.  Level-0 face cells are
``(2*face+1) << 60``; a cell's children occupy the contiguous id range
``[id - (lsb-1), id + (lsb-1)]`` where ``lsb = id & -id`` — which is what
makes S2 a JOIN KEY: point-in-region becomes a range (interval) join on a
LongType column, no geometry at join time.

Ids use the full uint64 space (faces 4-5 set bit 63); they are returned as
the SIGNED reinterpretation (int64 / Spark LongType), the standard storage
convention.  Within any single cell's child range the signed order equals
the unsigned order (the face bits are constant across the range), so
BETWEEN range_min AND range_max is exact in SQL.

Execution contract: the Hilbert walk is data-dependent bit mixing — not
expressible as a closed-form Column — so encoding runs as a scalar
``arrow_udf`` over the numpy kernel (plans as ArrowEvalPython; no
row-Python).  Everything AFTER encoding (level, parent, range_min/max) is
pure Column bit arithmetic inside whole-stage codegen, so the 100-TB plan
pays Python once at ingest and joins/aggregates JVM-side thereafter.

Hex side
--------
``hex_cell`` is an H3-STYLE (not H3-compatible — the public H3 grid is an
aperture-7 icosahedral system) pointy-top axial hex binning over any
planar (x, y): axial coords -> cube rounding -> packed 64-bit (q, r) key.
Pure Column arithmetic end-to-end (round-half-up written as
``floor(v + 0.5)`` so Spark and DuckDB agree bit-for-bit), giving hex
density aggregations and hex equi-joins with zero Python.

Reference parity: GDAL_scripts' tiling utilities key rasters by XYZ/quad
tiles (gdal2tiles.py : GlobalMercator); S2/hex cells are this engine's
scale-out generalization of that keying for sphere-uniform joins.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2
_LIMIT_IJ = 1 << MAX_LEVEL

# traversal order of the 4 children in curve position order, per orientation:
# _POS_TO_IJ[orient][pos] = (i << 1) | j of that child sub-cell
_POS_TO_IJ = (
    (0, 1, 3, 2),
    (0, 2, 3, 1),
    (3, 2, 0, 1),
    (3, 1, 0, 2),
)
# orientation adjustment XORed in when descending into child `pos`
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT | _SWAP)

# 4-bit lookup tables: (ij << 2 | orient) -> (pos << 2 | orient') and inverse
_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        _init_lookup(level, i + (r[idx] >> 1), j + (r[idx] & 1), orig,
                     pos + idx, orient ^ _POS_TO_ORIENT[idx])


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


# ---------------------------------------------------------------------------
# sphere -> face/(u,v) -> ST -> IJ (all vectorized)
# ---------------------------------------------------------------------------

def np_lonlat_to_xyz(lon, lat):
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def np_xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    comp = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    val = np.choose(comp, [x, y, z])
    face = comp + np.where(val < 0.0, 3, 0)
    # per-face gnomonic (u, v) = ratios of the other two components.
    # np.choose evaluates every branch, so off-face divisions hit zeros —
    # silenced; the selected branch's divisor is the largest |component|.
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z, y / x, -x / y, -x / z])
    return face.astype(np.int64), u, v


def np_uv_to_st(u):
    u = np.asarray(u, dtype=np.float64)
    # np.where evaluates both branches; the untaken one can sqrt a negative
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0.0, 0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def np_st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def np_st_to_ij(s):
    return np.clip(np.floor(_LIMIT_IJ * np.asarray(s, dtype=np.float64)),
                   0, _LIMIT_IJ - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# (face, i, j) <-> cell id via the 4-bit Hilbert lookup tables
# ---------------------------------------------------------------------------

def np_s2_id_from_face_ij(face, i, j):
    """Leaf (level-30) cell id as uint64 for int64 arrays face/i/j.

    Allocation-lean: the 8-chunk lookup walk runs over two preallocated
    int64 scratch buffers (np.take/out=, in-place shifts), and ``n`` stays
    int64 until the final doubling (face<<60 | pos < 2^63, so only
    ``2n+1`` needs the uint64 view) — the encode is memory-bandwidth-bound
    at high core counts, so allocator traffic is the scaling killer
    (BENCH/BASELINE.md s2_assign diagnosis)."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    scalar = face.ndim == 0
    face, i, j = np.atleast_1d(face, i, j)
    n = face << np.int64(60)  # n = id >> 1; fits int64 (face <= 5)
    bits = face & _SWAP
    t = np.empty_like(bits)
    for k in range(7, -1, -1):
        np.right_shift(i, k * 4, out=t)
        np.bitwise_and(t, 15, out=t)
        np.left_shift(t, 6, out=t)
        np.add(bits, t, out=bits)
        np.right_shift(j, k * 4, out=t)
        np.bitwise_and(t, 15, out=t)
        np.left_shift(t, 2, out=t)
        np.add(bits, t, out=bits)
        np.take(_LOOKUP_POS, bits, out=bits)
        np.right_shift(bits, 2, out=t)
        np.left_shift(t, 2 * k * _LOOKUP_BITS, out=t)
        np.bitwise_or(n, t, out=n)
        np.bitwise_and(bits, _SWAP | _INVERT, out=bits)
    out = (n.view(np.uint64) << np.uint64(1)) | np.uint64(1)
    return out[0] if scalar else out


def np_s2_id_to_face_ij(cell_u64):
    """Inverse: uint64 id (any level) -> (face, i, j, orientation) of its
    leaf-aligned corner (matches s2 ToFaceIJOrientation)."""
    cid = np.asarray(cell_u64, dtype=np.uint64)
    face = (cid >> np.uint64(61)).astype(np.int64)
    i = np.zeros_like(face)
    j = np.zeros_like(face)
    bits = face & _SWAP
    for k in range(7, -1, -1):
        nbits = MAX_LEVEL - 7 * _LOOKUP_BITS if k == 7 else _LOOKUP_BITS
        chunk = ((cid >> np.uint64(k * 8 + 1)).astype(np.int64)
                 & ((1 << (2 * nbits)) - 1))
        bits = bits + (chunk << 2)
        bits = _LOOKUP_IJ[bits]
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * 4)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * 4)
        bits &= _SWAP | _INVERT
    return face, i, j, bits


# ---------------------------------------------------------------------------
# public kernel: lon/lat -> cell id at a level; hierarchy ops; centers
# ---------------------------------------------------------------------------

def _snap_to_level(leaf_u64, level: int):
    if level >= MAX_LEVEL:
        return leaf_u64
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (leaf_u64 & (~lsb + np.uint64(1))) | lsb


# per-face selectors for the fused encode: u = SIGN_U * {y,x,x,z,z,y} / val,
# v = SIGN_V * {z,z,y,y,x,x} / val, where val is the signed largest
# component — algebraically identical to the 6-branch table in
# np_xyz_to_face_uv but with 2 divisions instead of 12 evaluated branches
_SIGN_U = np.array([1.0, -1.0, -1.0, 1.0, 1.0, -1.0])
_SIGN_V = np.array([1.0, 1.0, -1.0, 1.0, -1.0, -1.0])


def _st_to_ij_inplace(u):
    """u (gnomonic coord, consumed in place) -> quadratic-ST i/j int64."""
    neg = u < 0.0
    np.abs(u, out=u)
    np.multiply(u, 3.0, out=u)
    np.add(u, 1.0, out=u)
    np.sqrt(u, out=u)
    np.multiply(u, 0.5, out=u)            # 0.5*sqrt(1+3|u|)
    np.subtract(1.0, u, out=u, where=neg)  # 1 - that, on the negative side
    np.multiply(u, float(_LIMIT_IJ), out=u)
    np.floor(u, out=u)
    np.clip(u, 0, _LIMIT_IJ - 1, out=u)
    return u.astype(np.int64)


def _np_s2_leaf_fused(lon, lat):
    """Fused lon/lat -> leaf uint64: same math as the step-by-step helpers
    (np_lonlat_to_xyz -> np_xyz_to_face_uv -> np_uv_to_st -> np_st_to_ij),
    pinned equal by test, but with in-place ops and single divisions — the
    Arrow-batched encode is bandwidth-bound at 32 workers on one bus, so
    temporaries, not FLOPs, set its scaling."""
    lonr = np.radians(np.asarray(lon, dtype=np.float64))
    latr = np.radians(np.asarray(lat, dtype=np.float64))
    cl = np.cos(latr)
    z = np.sin(latr, out=latr)
    x = np.cos(lonr)
    y = np.sin(lonr, out=lonr)
    np.multiply(x, cl, out=x)
    np.multiply(y, cl, out=y)
    ax = np.abs(x, out=cl)  # cl no longer needed
    ay = np.abs(y)
    az = np.abs(z)
    comp = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    val = np.choose(comp, (x, y, z))
    face = comp + np.where(val < 0.0, 3, 0)
    u = np.choose(face, (y, x, x, z, z, y))
    np.multiply(u, _SIGN_U[face], out=u)
    np.divide(u, val, out=u)
    v = np.choose(face, (z, z, y, y, x, x))
    np.multiply(v, _SIGN_V[face], out=v)
    np.divide(v, val, out=v)
    return np_s2_id_from_face_ij(face, _st_to_ij_inplace(u),
                                 _st_to_ij_inplace(v))


def np_s2_cell_id(lon, lat, level: int = MAX_LEVEL):
    """Exact S2 cell id (signed-int64 view) for lon/lat degrees at level."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    return _snap_to_level(np.atleast_1d(_np_s2_leaf_fused(lon, lat)),
                          level).view(np.int64)


def np_s2_level(cell):
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    # lsb is a power of two <= 2^60: float64 log2 is exact
    return (MAX_LEVEL - (np.log2(lsb.astype(np.float64)) / 2.0)).astype(np.int64)


def np_s2_parent(cell, level: int):
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    return _snap_to_level(cid, level).view(np.int64)


def np_s2_range(cell):
    """(range_min, range_max) of the cell's leaf-id interval — the join
    interval for hierarchical containment (signed views, same-face safe)."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    return ((cid - (lsb - np.uint64(1))).view(np.int64),
            (cid + (lsb - np.uint64(1))).view(np.int64))


def np_s2_center_lonlat(cell):
    """Geometric (ST-midpoint) center of each cell, degrees."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    face, i, j, _ = np_s2_id_to_face_ij(cid)
    size = np.int64(1) << (2 * (MAX_LEVEL - np_s2_level(cid.view(np.int64))) // 2)
    # leaf-aligned corner -> cell-aligned corner -> midpoint in ST
    i0 = (i // size) * size
    j0 = (j // size) * size
    s = (i0.astype(np.float64) + size * 0.5) / _LIMIT_IJ
    t = (j0.astype(np.float64) + size * 0.5) / _LIMIT_IJ
    u = np_st_to_uv(s)
    v = np_st_to_uv(t)
    one = np.ones_like(u)
    x = np.choose(face, [one, -u, -u, -one, v, v])
    y = np.choose(face, [u, one, -v, -v, -one, u])
    z = np.choose(face, [v, v, one, -u, -u, -one])
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def np_s2_token(cell):
    """Canonical hex token: 16-nibble uint64 hex, trailing zeros stripped."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    out = np.empty(cid.shape, dtype=object)
    flat_in = cid.ravel()
    flat_out = out.ravel()
    for idx in range(flat_in.size):
        h = format(int(flat_in[idx]), "016x").rstrip("0")
        flat_out[idx] = h if h else "X"
    return out


def np_s2_from_token(tokens) -> np.ndarray:
    """Inverse of ``np_s2_token``: hex token -> cell id (signed int64)."""
    toks = np.asarray(tokens, dtype=object)
    out = np.empty(toks.shape, dtype=np.uint64)
    flat_in = toks.ravel()
    flat_out = out.ravel()
    for idx in range(flat_in.size):
        t = str(flat_in[idx])
        if t == "X":
            flat_out[idx] = 0
            continue
        if not 1 <= len(t) <= 16:
            raise ValueError(f"bad S2 token: {t!r}")
        flat_out[idx] = int(t.ljust(16, "0"), 16)
    return out.view(np.int64)


# ---------------------------------------------------------------------------
# Column API
# ---------------------------------------------------------------------------

def s2_cell_id(lon: Column, lat: Column, level: int = MAX_LEVEL) -> Column:
    """Arrow-batched S2 encode (the one Python hop; everything downstream
    is Column bit math)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")

    def enc(lo: pa.Array, la: pa.Array) -> pa.Array:
        la_np = la.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        lo_np = lo.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        n = lo_np.shape[0]
        out = np.empty(n, dtype=np.int64)
        # chunk so the kernel's ~17-array working set stays L2/L3-resident
        # per worker — 32 concurrent workers on one bus otherwise thrash
        # (BENCH/BASELINE.md s2_assign diagnosis)
        step = 32768
        for s in range(0, n, step):
            out[s:s + step] = np_s2_cell_id(lo_np[s:s + step],
                                            la_np[s:s + step], level)
        return pa.array(out)

    return F.arrow_udf(enc, LongType())(lon, lat)


def s2_token(cell: Column) -> Column:
    def tok(c: pa.Array) -> pa.Array:
        return pa.array(np_s2_token(c.to_numpy(zero_copy_only=False)),
                        pa.string())

    return F.arrow_udf(tok, StringType())(cell)


def s2_level(cell: Column) -> Column:
    """Pure Column: level = 30 - trailing_zeros(id)/2 (id & -id is a power
    of 4; its exact float64 log2 is codegen-safe)."""
    c = F.col(cell) if isinstance(cell, str) else cell
    lsb = c.bitwiseAND(-c)
    return (F.lit(MAX_LEVEL)
            - (F.round(F.log2(lsb.cast("double")) / F.lit(2.0), 0)).cast("long")
            ).alias("s2_level")


def s2_parent(cell: Column, level: int) -> Column:
    """Pure Column: snap to an ancestor level (constant masks folded by
    Catalyst)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    c = F.col(cell) if isinstance(cell, str) else cell
    new_lsb = 1 << (2 * (MAX_LEVEL - level))
    return c.bitwiseAND(F.lit(-new_lsb)).bitwiseOR(F.lit(new_lsb))


def s2_range_min(cell: Column) -> Column:
    c = F.col(cell) if isinstance(cell, str) else cell
    return c - (c.bitwiseAND(-c) - F.lit(1))


def s2_range_max(cell: Column) -> Column:
    c = F.col(cell) if isinstance(cell, str) else cell
    return c + (c.bitwiseAND(-c) - F.lit(1))


def np_s2_children(cell):
    """The 4 children of each cell (id order): shape (..., 4) int64."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    child_lsb = lsb >> np.uint64(2)
    base = cid - lsb
    ks = np.arange(4, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    return (base[..., None] + ks * child_lsb[..., None]).view(np.int64)


def np_s2_cell_samples(cell: int, k: int = 5):
    """k x k lon/lat sample grid spanning one cell's interior + edges
    (ST-space uniform, includes the 4 corners)."""
    lon, lat = np_s2_cells_samples(np.asarray([cell], dtype=np.int64), k)
    return lon[0], lat[0]


def np_s2_cells_samples(cells, k: int = 5):
    """Batched :func:`np_s2_cell_samples`: (N,) cell ids -> (N, k*k)
    lon/lat sample grids, one vectorized pass over ALL cells (identical
    IEEE arithmetic per element, so results match the per-cell path
    bit-for-bit — the region coverers below rely on that)."""
    cid = np.asarray(cells, dtype=np.int64).view(np.uint64)
    face, i, j, _ = np_s2_id_to_face_ij(cid)
    level = np_s2_level(cid.view(np.int64))
    size = (np.int64(1) << (MAX_LEVEL - level)).astype(np.int64)
    i0 = (i // size) * size
    j0 = (j // size) * size
    fr = np.linspace(0.0, 1.0, k)
    ss = (i0[:, None] + fr[None, :] * size[:, None]) / _LIMIT_IJ  # (N, k)
    ts = (j0[:, None] + fr[None, :] * size[:, None]) / _LIMIT_IJ
    # per-cell meshgrid(ss, ts) then ravel(): element (r*k + c) reads
    # (ss[c], ts[r]) — reproduce via broadcasting
    u = np.broadcast_to(np_st_to_uv(ss)[:, None, :],
                        (len(cid), k, k)).reshape(len(cid), k * k)
    v = np.broadcast_to(np_st_to_uv(ts)[:, :, None],
                        (len(cid), k, k)).reshape(len(cid), k * k)
    one = np.ones_like(u)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    xs = (one, -u, -u, -one, v, v)
    ys = (u, one, -v, -v, -one, u)
    zs = (v, v, one, -u, -u, -one)
    for f in range(6):
        m = face == f
        if m.any():
            x[m] = xs[f][m]
            y[m] = ys[f][m]
            z[m] = zs[f][m]
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def np_s2_cover_rect(lon_min: float, lat_min: float, lon_max: float,
                     lat_max: float, *, max_level: int = 10,
                     samples: int = 5) -> np.ndarray:
    """Mixed-level S2 covering of a lon/lat rect — the S2RegionCoverer
    analog feeding ``s2_containment_join``: interior cells stay COARSE,
    boundary cells descend to ``max_level``; the result is a DISJOINT
    quadtree partition superset of the rect, small enough to broadcast.

    Intersection tests are sample-based (k x k ST grid per cell) with a
    conservative margin of one sample spacing, so the covering is complete
    for rects with |lat| <= 89.9 and no antimeridian wrap (both enforced;
    near-polar cells whose lon samples straddle the seam are treated as
    lon-unbounded — conservative, so coverings near the poles are looser,
    never incomplete); completeness and disjointness are pinned by
    randomized tests.
    """
    if not (lon_min < lon_max and lat_min < lat_max):
        raise ValueError("rect must have lon_min < lon_max, lat_min < lat_max")
    if lon_min < -180 or lon_max > 180 or max(abs(lat_min), abs(lat_max)) > 89.9:
        raise ValueError("rect must lie in [-180,180] x [-89.9,89.9] (no wrap)")
    if not 0 <= max_level <= MAX_LEVEL:
        raise ValueError(f"max_level must be in [0, {MAX_LEVEL}]")

    out: list[int] = []
    frontier = [int(c) for c in
                np_s2_cell_id([0.0, 90.0, 0.0, 180.0, -90.0, 0.0],
                              [0.0, 0.0, 90.0, 0.0, 0.0, -90.0], 0)]
    while frontier:
        cell = frontier.pop()
        lon, lat = np_s2_cell_samples(cell, samples)
        # conservative cell bbox: sample extremes + one max sample gap
        lon_m = float(np.max(np.abs(np.diff(np.sort(lon))))) if lon.size > 1 else 0.0
        lat_m = float(np.max(np.abs(np.diff(np.sort(lat))))) if lat.size > 1 else 0.0
        # faces touching a pole or the antimeridian seam: lon samples span
        # the full circle — treat lon bounds as unbounded (never disjoint)
        seam = (np.max(lon) - np.min(lon)) > 180.0
        clo_ok = True if seam else (np.min(lon) - lon_m <= lon_max
                                    and np.max(lon) + lon_m >= lon_min)
        cla_ok = (np.min(lat) - lat_m <= lat_max
                  and np.max(lat) + lat_m >= lat_min)
        if not (clo_ok and cla_ok):
            continue  # certainly disjoint
        inside = ((lon >= lon_min) & (lon <= lon_max)
                  & (lat >= lat_min) & (lat <= lat_max))
        lvl = int(np_s2_level(np.asarray([cell]))[0])
        if inside.all() and not seam:
            out.append(cell)  # wholly inside: keep coarse
        elif lvl >= max_level:
            out.append(cell)  # boundary leaf of the covering
        else:
            frontier.extend(int(c) for c in np_s2_children([cell])[0])
    return np.array(sorted(out), dtype=np.int64)


def _seg_rect_any_batched(x1, y1, x2, y2, rx0, ry0, rx1, ry1) -> np.ndarray:
    """True per rect iff ANY segment (x1,y1)-(x2,y2) intersects it: (E,)
    segments against (N,) axis-aligned rects -> (N,) bool, one vectorized
    Liang-Barsky parameter clip over the full (N, E) grid."""
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    rx0 = np.asarray(rx0, dtype=np.float64)[:, None]
    ry0 = np.asarray(ry0, dtype=np.float64)[:, None]
    rx1 = np.asarray(rx1, dtype=np.float64)[:, None]
    ry1 = np.asarray(ry1, dtype=np.float64)[:, None]
    dx = x2 - x1
    dy = y2 - y1
    n, e = rx0.shape[0], x1.shape[0]
    t0 = np.zeros((n, e))
    t1 = np.ones((n, e))
    ok = np.ones((n, e), dtype=bool)
    for p, q in ((-dx, x1 - rx0), (dx, rx1 - x1),
                 (-dy, y1 - ry0), (dy, ry1 - y1)):
        zero = p == 0.0  # (E,)
        ok &= ~(zero & (q < 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        t0 = np.where(~zero & (p < 0.0), np.maximum(t0, r), t0)
        t1 = np.where(~zero & (p > 0.0), np.minimum(t1, r), t1)
    return (ok & (t0 <= t1)).any(axis=1)


def np_s2_cover_polygon(edges, *, max_level: int = 10,
                        samples: int = 5) -> np.ndarray:
    """Mixed-level S2 covering of an even-odd polygon interior (rings may
    include holes) — the shape-aware upgrade of ``np_s2_cover_rect``.

    ``edges`` is the ``(x1, y1, x2, y2)`` edge-array tuple of ALL rings
    (``geom.PolygonPack.edges_of``).  Descent logic per cell, on the
    cell's conservative lon/lat box (samples + one sample-gap margin):

    - box disjoint from the polygon bbox -> prune;
    - NO polygon edge intersects the box (exact Liang-Barsky test) -> the
      box is boundary-free, so the whole cell is uniformly inside or
      outside: one ray-cast decides keep-coarse vs prune;
    - otherwise descend; at ``max_level`` keep (conservative boundary
      cell).

    Because the box is a superset of the cell, "no edge in box" is exact
    and the covering is COMPLETE; boundary cells make it a superset, which
    the engine's even-odd Arrow refine then trims exactly.
    """
    return np_s2_cover_polygon_flags(edges, max_level=max_level,
                                     samples=samples)[0]


def np_s2_cover_polygon_flags(edges, *, max_level: int = 10,
                              samples: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """``(cells, interior)`` — the covering of :func:`np_s2_cover_polygon`
    plus a per-cell EXACT-interior flag.

    ``interior[i]`` is True iff the cell was kept by the boundary-free
    branch: its conservative lon/lat box (a SUPERSET of the cell) contains
    no polygon edge and one ray cast put it inside. Every point of such a
    cell is therefore inside the polygon with certainty — a containment
    join may emit those pairs WITHOUT the per-point refine, so only the
    boundary-cell fraction of a 100 TB point table ever crosses the
    JVM->Arrow copy boundary (the measured pip cost floor). Boundary cells
    (``interior`` False) remain conservative and still require the exact
    even-odd refine.
    """
    from . import geom as _geom

    if not 0 <= max_level <= MAX_LEVEL:
        raise ValueError(f"max_level must be in [0, {MAX_LEVEL}]")
    ex1, ey1, ex2, ey2 = (np.asarray(a, dtype=np.float64) for a in edges)
    if ex1.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    pb_x0 = float(min(ex1.min(), ex2.min()))
    pb_x1 = float(max(ex1.max(), ex2.max()))
    pb_y0 = float(min(ey1.min(), ey2.min()))
    pb_y1 = float(max(ey1.max(), ey2.max()))

    kept: list[np.ndarray] = []
    kept_flags: list[np.ndarray] = []
    # level-batched BFS: every frontier generation is one level deeper, so
    # each iteration processes ALL its cells in one vectorized pass (the
    # per-cell recursion this replaces spent its time in ~len(covering)
    # small-array numpy calls; decisions and arithmetic are identical)
    frontier = np_s2_cell_id([0.0, 90.0, 0.0, 180.0, -90.0, 0.0],
                             [0.0, 0.0, 90.0, 0.0, 0.0, -90.0], 0)
    lvl = 0
    while frontier.size:
        lon, lat = np_s2_cells_samples(frontier, samples)  # (N, k*k)
        slon = np.sort(lon, axis=1)
        slat = np.sort(lat, axis=1)
        lon_m = np.max(np.abs(np.diff(slon, axis=1)), axis=1)
        lat_m = np.max(np.abs(np.diff(slat, axis=1)), axis=1)
        seam = (slon[:, -1] - slon[:, 0]) > 180.0
        bx0 = np.where(seam, -180.0, slon[:, 0] - lon_m)
        bx1 = np.where(seam, 180.0, slon[:, -1] + lon_m)
        by0 = slat[:, 0] - lat_m
        by1 = slat[:, -1] + lat_m
        live = ~((bx1 < pb_x0) | (bx0 > pb_x1) | (by1 < pb_y0) | (by0 > pb_y1))
        crosses = np.zeros(frontier.size, dtype=bool)
        if live.any():
            crosses[live] = _seg_rect_any_batched(
                ex1, ey1, ex2, ey2,
                bx0[live], by0[live], bx1[live], by1[live])
        free = live & ~crosses  # boundary-free box: uniformly in or out
        if free.any():
            ins = _geom.pip_even_odd_edges(lon[free, 0], lat[free, 0], edges)
            sure = frontier[free][ins]
            if sure.size:
                kept.append(sure)
                kept_flags.append(np.ones(sure.size, dtype=bool))
        hit = live & crosses
        if lvl >= max_level:
            leaf = frontier[hit]  # boundary cells of the covering
            if leaf.size:
                kept.append(leaf)
                kept_flags.append(np.zeros(leaf.size, dtype=bool))
            break
        frontier = np_s2_children(frontier[hit]).reshape(-1)
        lvl += 1
    if not kept:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    cells_arr = np.concatenate(kept)
    flags = np.concatenate(kept_flags)
    order = np.argsort(cells_arr)
    return cells_arr[order], flags[order]


_EARTH_R_M = 6371008.8


def _np_haversine_m(lon1, lat1, lon2, lat2):
    p = math.pi / 180.0
    dphi = (lat2 - lat1) * p / 2.0
    dlam = (lon2 - lon1) * p / 2.0
    a = (np.sin(dphi) ** 2
         + np.cos(lat1 * p) * np.cos(lat2 * p) * np.sin(dlam) ** 2)
    return 2.0 * _EARTH_R_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def np_s2_cover_cap(lon: float, lat: float, radius_m: float, *,
                    max_level: int = 10, samples: int = 5) -> np.ndarray:
    """Mixed-level S2 covering of a spherical cap (center + great-circle
    radius in meters) — the radius-query analog of ``np_s2_cover_rect``.

    Per cell the k x k samples' haversine distances to the center decide,
    with a conservative margin of one grid-adjacent sample gap (measured
    on the sphere, so it is valid at any latitude including the poles):

    - min sample distance - margin > radius  -> certainly outside, prune;
    - max sample distance + margin <= radius -> wholly inside, keep coarse;
    - else descend; keep at ``max_level``.
    """
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    if not 0 <= max_level <= MAX_LEVEL:
        raise ValueError(f"max_level must be in [0, {MAX_LEVEL}]")
    out: list[int] = []
    frontier = [int(c) for c in
                np_s2_cell_id([0.0, 90.0, 0.0, 180.0, -90.0, 0.0],
                              [0.0, 0.0, 90.0, 0.0, 0.0, -90.0], 0)]
    while frontier:
        cell = frontier.pop()
        slon, slat = np_s2_cell_samples(cell, samples)
        d = _np_haversine_m(slon, slat, lon, lat)
        # conservative margin: max haversine gap between grid-adjacent
        # samples (horizontal + vertical neighbors in the k x k grid)
        k = samples
        glon = slon.reshape(k, k)
        glat = slat.reshape(k, k)
        gaps = [
            _np_haversine_m(glon[:, :-1], glat[:, :-1], glon[:, 1:], glat[:, 1:]),
            _np_haversine_m(glon[:-1, :], glat[:-1, :], glon[1:, :], glat[1:, :]),
        ]
        margin = max(float(np.max(a)) for a in gaps) if k > 1 else 0.0
        if float(np.min(d)) - margin > radius_m:
            continue  # certainly outside
        if float(np.max(d)) + margin <= radius_m:
            out.append(cell)  # wholly inside
            continue
        lvl = int(np_s2_level(np.asarray([cell]))[0])
        if lvl >= max_level:
            out.append(cell)
        else:
            frontier.extend(int(c) for c in np_s2_children([cell])[0])
    return np.array(sorted(out), dtype=np.int64)


def s2_containment_join(points: DataFrame, regions: DataFrame, *,
                        leaf_col: str = "leaf", cell_col: str = "cell") -> DataFrame:
    """Point-in-region as pure EQUI-joins on S2 ids.

    ``regions[cell_col]`` may hold cells at MIXED levels (a covering).  A
    naive interval join (leaf BETWEEN range_min AND range_max) has no
    equi-key and would plan as a nested-loop — the exact scale-killer the
    plan lint forbids.  Instead: group the covering by level (a
    driver-bounded distinct over <= 31 values), snap the point leaf to each
    present level with the pure-Column ``s2_parent``, and union the
    per-level equi-joins.  Each branch is an ordinary shuffled/broadcast
    hash join; at 100 TB the snap is free (bit math in codegen) and the
    union fans out only over levels actually present in the covering.
    """
    lvl = s2_level(F.col(cell_col)).alias("_lvl")
    levels = sorted({int(r["_lvl"]) for r in regions.select(lvl).distinct().collect()})
    if not levels:
        # empty covering: empty inner result with the joint schema
        empty = points.withColumn("_cell", F.col(leaf_col))
        return empty.join(regions, empty["_cell"] == regions[cell_col],
                          "inner").drop("_cell").where(F.lit(False))
    # ONE join: snap the leaf to every present level (pure-Column bit math
    # — an array of <=31 longs) and explode. A snapped cell can only equal
    # a region cell AT ITS OWN LEVEL (the lsb encodes the level), so this
    # is exactly the union of per-level equi-joins — but the probe side is
    # scanned ONCE instead of once per level (the union form re-ran the
    # whole upstream plan, including the Arrow leaf encode, for every level
    # branch — n_levels full scans of a 100 TB table).
    snapped = points.withColumn(
        "_cell",
        F.explode(F.array(*[s2_parent(F.col(leaf_col), lv) for lv in levels])),
    )
    return snapped.join(regions, snapped["_cell"] == regions[cell_col],
                        "inner").drop("_cell")


# ---------------------------------------------------------------------------
# H3-style pointy-top axial hex binning (planar) — pure Column + numpy twin
# ---------------------------------------------------------------------------

_SQRT3 = math.sqrt(3.0)
_HEX_OFF = 1 << 20  # axial coords offset into non-negatives for packing


def _round_half_up(c: Column) -> Column:
    # floor(v + 0.5): identical text works in DuckDB -> cross-engine-stable
    return F.floor(c + F.lit(0.5))


def hex_cell(x: Column, y: Column, size: float) -> Column:
    """Pack the (q, r) axial hex containing planar point (x, y) into one
    int64: (q + 2^20) * 2^21 + (r + 2^20). `size` is the hex circumradius
    in the units of x/y. Cube rounding (q + r + s == 0 restored by fixing
    the axis with the largest rounding error) — all when/otherwise Column
    arithmetic, zero Python."""
    if size <= 0:
        raise ValueError(f"hex size must be > 0, got {size}")
    fq = (F.lit(_SQRT3 / 3.0) * x - F.lit(1.0 / 3.0) * y) / F.lit(float(size))
    fr = (F.lit(2.0 / 3.0) * y) / F.lit(float(size))
    fs = -fq - fr
    rq = _round_half_up(fq)
    rr = _round_half_up(fr)
    rs = _round_half_up(fs)
    dq = F.abs(rq - fq)
    dr = F.abs(rr - fr)
    ds = F.abs(rs - fs)
    q = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    r = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs).otherwise(rr)
    return ((q + F.lit(_HEX_OFF)) * F.lit(1 << 21)
            + (r + F.lit(_HEX_OFF))).cast("long")


def hex_cell_sql(x_expr: str, y_expr: str, size: float) -> str:
    """The SAME math as ``hex_cell`` as an ANSI-SQL expression string (the
    DuckDB oracle twin — cross-engine agreement is part of the test)."""
    fq = f"((sqrt(3.0)/3.0) * ({x_expr}) - (1.0/3.0) * ({y_expr})) / {size!r}"
    fr = f"((2.0/3.0) * ({y_expr})) / {size!r}"
    return _hex_sql(fq, fr)


def _hex_sql(fq: str, fr: str) -> str:
    fs = f"(-({fq}) - ({fr}))"
    rq = f"floor(({fq}) + 0.5)"
    rr = f"floor(({fr}) + 0.5)"
    rs = f"floor(({fs}) + 0.5)"
    dq = f"abs(({rq}) - ({fq}))"
    dr = f"abs(({rr}) - ({fr}))"
    ds = f"abs(({rs}) - ({fs}))"
    q = f"(CASE WHEN ({dq}) > ({dr}) AND ({dq}) > ({ds}) THEN -({rr}) - ({rs}) ELSE ({rq}) END)"
    r = (f"(CASE WHEN NOT (({dq}) > ({dr}) AND ({dq}) > ({ds})) AND ({dr}) > ({ds})"
         f" THEN -({rq}) - ({rs}) ELSE ({rr}) END)")
    return f"CAST((({q}) + {_HEX_OFF}) * {1 << 21} + (({r}) + {_HEX_OFF}) AS BIGINT)"


def np_hex_cell(x, y, size: float):
    """Numpy twin of ``hex_cell`` (same round-half-up), for tests/fixtures."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    fq = (_SQRT3 / 3.0 * x - y / 3.0) / size
    fr = (2.0 / 3.0 * y) / size
    fs = -fq - fr
    rq = np.floor(fq + 0.5)
    rr = np.floor(fr + 0.5)
    rs = np.floor(fs + 0.5)
    dq = np.abs(rq - fq)
    dr = np.abs(rr - fr)
    ds = np.abs(rs - fs)
    pick_q = (dq > dr) & (dq > ds)
    pick_r = ~pick_q & (dr > ds)
    q = np.where(pick_q, -rr - rs, rq)
    r = np.where(pick_r, -rq - rs, rr)
    return ((q + _HEX_OFF) * (1 << 21) + (r + _HEX_OFF)).astype(np.int64)


def hilbert_sort(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 16,
) -> DataFrame:
    """Order rows along the S2 Hilbert curve — the write-side layout that
    makes parquet/Iceberg row-group min/max stats prune 2-D bbox scans
    (the same locality property Iceberg exposes as Z-ordering; S2 ids ARE
    a Hilbert order, which preserves locality strictly better than
    Z/Morton interleaving).

    Use before ``.write.parquet(...)`` / ``writeTo(...).using("iceberg")``:
    a range-partitioned global sort (one skew-sampled shuffle, Spark's
    ORDER BY machinery) whose one-time cost buys every later bbox scan
    O(boundary) row groups instead of O(all). Measured on this engine:
    47/47 row groups scanned on a hash-random layout vs 3/46 on this
    layout for a 2x2-degree bbox over 10M points
    (BENCH/layout_prune_r5.json). The sort key is dropped from the output
    so the written schema is unchanged.
    """
    return (
        df.withColumn("__s2sort", s2_cell_id(
            F.col(lon_col), F.col(lat_col), level))
        .orderBy("__s2sort")
        .drop("__s2sort")
    )
