"""Tile / cell index math — native Spark Column expressions (zero UDFs).

Reimplements, Spark-first, the coordinate machinery of the public
``osgeo_utils/gdal2tiles.py`` (GDAL 3.8.x tree):

- ``GlobalMercator.LatLonToMeters / MetersToLatLon  (≈L260-L300)``
- ``GlobalMercator.Resolution / MetersToPixels / PixelsToTile (≈L300-L360)``
- ``GlobalMercator.TileBounds / TileLatLonBounds (≈L360-L400)``
- ``GlobalMercator.QuadTree (quadkey) (≈L430-L450)``
- ``GlobalGeodetic.LonLatToTile (≈L500-L540)``
- TMS↔XYZ y flip: ``gdal2tiles.py : --xyz handling (≈L1600)``

Every function returns a Column built from ``pyspark.sql.functions`` so the
whole tile-assignment stage stays inside whole-stage codegen: at 100 TB this
is a pure map stage with zero Python, zero shuffle, and full parquet column
pruning (only lon/lat are read).

Each Spark expression has a numpy twin (``np_*``) used as the sequential
golden oracle in tests (SURVEY.md §5.1 golden-checksum style), and the twins
are also what ``fixtures.py`` uses, so Spark output is pinned against an
independent implementation path.

Cell ids: a Morton (Z-order) interleave of the (tx, ty_xyz) tile coordinates
with the zoom in the top bits — an S2-style space-filling-curve cell id that
is computable in closed form with shift/mask Columns. This replaces the
reference's file-local quadtree index (``ogr/ogrsf_frmts/shape/shptree.c :
SHPTreeFindLikelyShapes``) with a cluster-shuffle-friendly equi-join key
(SURVEY.md §4). A Hilbert variant is provided for locality-sensitive
applications; joins only need *some* deterministic cell key.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
TILE_SIZE = 256
INITIAL_RESOLUTION = 2 * math.pi * EARTH_RADIUS / TILE_SIZE
HAVERSINE_RADIUS = 6371008.8  # mean earth radius for distance metrics


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# Web-Mercator (EPSG:4326 <-> 3857) — GlobalMercator.LatLonToMeters ≈L260
# ---------------------------------------------------------------------------

def lon_to_mx(lon) -> Column:
    return _c(lon) * (ORIGIN_SHIFT / 180.0)


def lat_to_my(lat) -> Column:
    lat = _c(lat)
    return (
        F.log(F.tan((F.lit(90.0) + lat) * math.pi / 360.0))
        / (math.pi / 180.0)
        * (ORIGIN_SHIFT / 180.0)
    )


def mx_to_lon(mx) -> Column:
    return _c(mx) / ORIGIN_SHIFT * 180.0


def my_to_lat(my) -> Column:
    my = _c(my)
    lat_deg = my / ORIGIN_SHIFT * 180.0
    return (
        F.lit(180.0 / math.pi)
        * (F.atan(F.exp(lat_deg * (math.pi / 180.0))) * 2.0 - math.pi / 2.0)
    )


def resolution(z: int) -> float:
    """meters/pixel at zoom z — GlobalMercator.Resolution ≈L310."""
    return INITIAL_RESOLUTION / (2**z)


# ---------------------------------------------------------------------------
# Tile coordinates — GlobalMercator.MetersToTile via PixelsToTile ≈L330-L360
# GDAL parity note: PixelsToTile is ceil(p/256)-1, NOT floor(p/256); the two
# differ exactly on tile boundaries (a point on the seam belongs to the tile
# below/left). SURVEY.md §7 hard-part #2 — pinned by test_cells.
# ---------------------------------------------------------------------------

def meters_to_tile(mx, my, z: int) -> tuple[Column, Column]:
    res = resolution(z)
    px = (_c(mx) + ORIGIN_SHIFT) / res
    py = (_c(my) + ORIGIN_SHIFT) / res
    tx = (F.ceil(px / TILE_SIZE) - 1).cast("long")
    ty = (F.ceil(py / TILE_SIZE) - 1).cast("long")
    return tx, ty


def lonlat_to_tile_tms(lon, lat, z: int) -> tuple[Column, Column]:
    """(tx, ty) in TMS convention (y-up, origin bottom-left)."""
    return meters_to_tile(lon_to_mx(lon), lat_to_my(lat), z)


def tms_to_xyz_y(ty, z: int) -> Column:
    """XYZ/Google y (y-down) — gdal2tiles --xyz flip ≈L1600."""
    return F.lit((1 << z) - 1) - _c(ty)


def lonlat_to_tile_xyz(lon, lat, z: int) -> tuple[Column, Column]:
    tx, ty = lonlat_to_tile_tms(lon, lat, z)
    return tx, tms_to_xyz_y(ty, z)


def tile_bounds_meters(tx, ty, z: int) -> Column:
    """struct(xmin,ymin,xmax,ymax) in EPSG:3857 — GlobalMercator.TileBounds ≈L360.

    ty is TMS (y-up)."""
    res = resolution(z)
    sz = float(TILE_SIZE * res)
    tx, ty = _c(tx).cast("double"), _c(ty).cast("double")
    return F.struct(
        (tx * sz - ORIGIN_SHIFT).alias("xmin"),
        (ty * sz - ORIGIN_SHIFT).alias("ymin"),
        ((tx + 1) * sz - ORIGIN_SHIFT).alias("xmax"),
        ((ty + 1) * sz - ORIGIN_SHIFT).alias("ymax"),
    )


def tile_bounds_lonlat(tx, ty, z: int) -> Column:
    """struct(lon_min,lat_min,lon_max,lat_max) — TileLatLonBounds ≈L380."""
    res = resolution(z)
    sz = float(TILE_SIZE * res)
    tx, ty = _c(tx).cast("double"), _c(ty).cast("double")
    return F.struct(
        mx_to_lon(tx * sz - ORIGIN_SHIFT).alias("lon_min"),
        my_to_lat(ty * sz - ORIGIN_SHIFT).alias("lat_min"),
        mx_to_lon((tx + 1) * sz - ORIGIN_SHIFT).alias("lon_max"),
        my_to_lat((ty + 1) * sz - ORIGIN_SHIFT).alias("lat_max"),
    )


# ---------------------------------------------------------------------------
# Geodetic (EPSG:4326) tiles — GlobalGeodetic.LonLatToTile ≈L500
# ---------------------------------------------------------------------------

def lonlat_to_tile_geodetic(lon, lat, z: int) -> tuple[Column, Column]:
    res = 180.0 / TILE_SIZE / (2**z)
    px = (F.lit(180.0) + _c(lon)) / res
    py = (F.lit(90.0) + _c(lat)) / res
    tx = (F.ceil(px / TILE_SIZE) - 1).cast("long")
    ty = (F.ceil(py / TILE_SIZE) - 1).cast("long")
    return tx, ty


# ---------------------------------------------------------------------------
# Quadkey — GlobalMercator.QuadTree ≈L430 (digits over (tx, y_xyz))
# ---------------------------------------------------------------------------

def quadkey(tx, ty_tms, z: int) -> Column:
    """Bing-style quadkey string of length z (0 <= z <= 32).

    Matches GlobalMercator.QuadTree: flips TMS y to XYZ then emits one digit
    per zoom bit (msb first): digit = bit(tx) + 2*bit(y_xyz). That digit
    string is the Morton interleave of the two tile indices written in
    base 4, so one ``conv`` builds it. Only the low z bits of each index
    count, as in the reference, and z > 32 would leave ``conv``'s unsigned
    64-bit range.
    """
    if not 0 <= z <= 32:
        raise ValueError(f"zoom {z} out of range 0..32")
    if z == 0:
        return F.lit("")
    low = F.lit((1 << z) - 1)
    m = morton_interleave(_c(tx).bitwiseAND(low),
                          tms_to_xyz_y(_c(ty_tms), z).bitwiseAND(low))
    return F.lpad(F.conv(m.cast("string"), 10, 4), z, "0")


# ---------------------------------------------------------------------------
# Morton (Z-order) cell id — S2-style space-filling-curve key.
# Replaces shapefile .qix quadtree (shptree.c) with an equi-join key.
# ---------------------------------------------------------------------------

_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_bits(col: Column) -> Column:
    """Interleave-ready bit spread: 32-bit int -> even bit positions of 64."""
    x = _c(col).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _SPREAD:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def morton_interleave(tx, ty) -> Column:
    return _spread_bits(tx).bitwiseOR(F.shiftleft(_spread_bits(ty), 1))


def cell_id(lon, lat, z: int) -> Column:
    """64-bit cell id: zoom in bits 58..62, Morton(tx, y_xyz) below.

    Valid for z <= 29. Pure Column math → stays in codegen; at 100 TB the
    cell-encode stage is a zero-shuffle map over the parquet scan.
    """
    if not 0 <= z <= 29:
        raise ValueError(f"zoom {z} out of range 0..29")
    tx, ty = lonlat_to_tile_xyz(lon, lat, z)
    return F.shiftleft(F.lit(z).cast("long"), 58).bitwiseOR(morton_interleave(tx, ty))


# ---------------------------------------------------------------------------
# Ring neighbors (constant offset explode — used by knn.py)
# ---------------------------------------------------------------------------

def ring_offsets(r: int) -> list[tuple[int, int]]:
    """Chebyshev ring r perimeter offsets (8r cells for r>=1, 1 for r=0)."""
    if r == 0:
        return [(0, 0)]
    out = []
    for dx in range(-r, r + 1):
        for dy in (-r, r):
            out.append((dx, dy))
    for dy in range(-r + 1, r):
        for dx in (-r, r):
            out.append((dx, dy))
    return out


# ---------------------------------------------------------------------------
# Haversine distance (meters) — native expr; used by kNN and golden oracles
# ---------------------------------------------------------------------------

def haversine_m(lon1, lat1, lon2, lat2) -> Column:
    rad = math.pi / 180.0
    la1, la2 = _c(lat1) * rad, _c(lat2) * rad
    dlat = (_c(lat2) - _c(lat1)) * rad / 2.0
    dlon = (_c(lon2) - _c(lon1)) * rad / 2.0
    a = F.pow(F.sin(dlat), 2) + F.cos(la1) * F.cos(la2) * F.pow(F.sin(dlon), 2)
    return F.lit(2.0 * HAVERSINE_RADIUS) * F.asin(F.sqrt(a))


# ===========================================================================
# numpy twins — sequential golden oracle (independent implementation path)
# ===========================================================================

def np_lonlat_to_meters(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def np_meters_to_lonlat(mx, my):
    lon = np.asarray(mx, dtype=np.float64) / ORIGIN_SHIFT * 180.0
    lat = np.asarray(my, dtype=np.float64) / ORIGIN_SHIFT * 180.0
    lat = (
        180.0
        / math.pi
        * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    )
    return lon, lat


def np_meters_to_tile(mx, my, z: int):
    res = resolution(z)
    px = (np.asarray(mx) + ORIGIN_SHIFT) / res
    py = (np.asarray(my) + ORIGIN_SHIFT) / res
    tx = np.ceil(px / TILE_SIZE).astype(np.int64) - 1
    ty = np.ceil(py / TILE_SIZE).astype(np.int64) - 1
    return tx, ty


def np_lonlat_to_tile_tms(lon, lat, z: int):
    mx, my = np_lonlat_to_meters(lon, lat)
    return np_meters_to_tile(mx, my, z)


def np_tile_bounds_meters(tx, ty, z: int):
    sz = TILE_SIZE * resolution(z)
    tx = np.asarray(tx, dtype=np.float64)
    ty = np.asarray(ty, dtype=np.float64)
    return (
        tx * sz - ORIGIN_SHIFT,
        ty * sz - ORIGIN_SHIFT,
        (tx + 1) * sz - ORIGIN_SHIFT,
        (ty + 1) * sz - ORIGIN_SHIFT,
    )


def np_quadkey(tx: int, ty_tms: int, z: int) -> str:
    ty = (1 << z) - 1 - int(ty_tms)
    tx = int(tx)
    out = []
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        out.append(str((1 if tx & mask else 0) + (2 if ty & mask else 0)))
    return "".join(out)


def np_spread_bits(x):
    x = np.asarray(x, dtype=np.uint64) & np.uint64(0xFFFFFFFF)
    for shift, mask in _SPREAD:
        x = (x | (x << np.uint64(shift))) & np.uint64(mask)
    return x


def np_cell_id(lon, lat, z: int):
    tx, ty = np_lonlat_to_tile_tms(lon, lat, z)
    ty_xyz = (1 << z) - 1 - ty
    morton = np_spread_bits(tx) | (np_spread_bits(ty_xyz) << np.uint64(1))
    return (np.uint64(z << 58) | morton).astype(np.int64)


def np_cell_id_from_tile(tx, ty_xyz, z: int):
    morton = np_spread_bits(np.asarray(tx)) | (
        np_spread_bits(np.asarray(ty_xyz)) << np.uint64(1)
    )
    return (np.uint64(z << 58) | morton).astype(np.int64)


def np_unspread_bits(x):
    """Inverse of np_spread_bits: gather even bit positions into an int."""
    x = np.asarray(x, dtype=np.uint64) & np.uint64(0x5555555555555555)
    for shift, mask in [
        (1, 0x3333333333333333),
        (2, 0x0F0F0F0F0F0F0F0F),
        (4, 0x00FF00FF00FF00FF),
        (8, 0x0000FFFF0000FFFF),
        (16, 0x00000000FFFFFFFF),
    ]:
        x = (x | (x >> np.uint64(shift))) & np.uint64(mask)
    return x.astype(np.int64)


def np_cell_to_tile(cell):
    """(z, tx, ty_xyz) from a Morton cell id (inverse of np_cell_id)."""
    cell = np.asarray(cell, dtype=np.uint64)
    z = (cell >> np.uint64(58)).astype(np.int64)
    morton = cell & np.uint64((1 << 58) - 1)
    tx = np_unspread_bits(morton)
    ty = np_unspread_bits(morton >> np.uint64(1))
    return z, tx, ty


def np_haversine_m(lon1, lat1, lon2, lat2):
    rad = math.pi / 180.0
    lon1, lat1 = np.asarray(lon1) * rad, np.asarray(lat1) * rad
    lon2, lat2 = np.asarray(lon2) * rad, np.asarray(lat2) * rad
    a = (
        np.sin((lat2 - lat1) / 2) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    )
    return 2.0 * HAVERSINE_RADIUS * np.arcsin(np.sqrt(a))


# ---------------------------------------------------------------------------
# Hilbert curve (numpy) — S2-style locality-preserving alternative to Morton.
# Classic Lam-Shapiro xy->d transform, vectorized.
# ---------------------------------------------------------------------------

def np_hilbert_d(tx, ty, z: int):
    x = np.asarray(tx, dtype=np.int64).copy()
    y = np.asarray(ty, dtype=np.int64).copy()
    rx = np.zeros_like(x)
    ry = np.zeros_like(y)
    d = np.zeros_like(x)
    s = np.int64(1 << (z - 1)) if z > 0 else np.int64(0)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f, y_f = x.copy(), y.copy()
        x = np.where(swap, y_f, x)
        y = np.where(swap, x_f, y)
        x = np.where(flip, (s - 1) - x, x)
        y = np.where(flip, (s - 1) - y, y)
        s >>= 1
    return d


# ---------------------------------------------------------------------------
# UTM (transverse Mercator, WGS84) — the `ogr2ogr -t_srs EPSG:326xx/327xx`
# analog (public GDAL route: ogr/ogrct.cpp : OGRProjCT::Transform ≈L2000,
# which delegates to PROJ's tmerc). Closed-form Snyder series ("Map
# Projections — A Working Manual", USGS PP 1395, eqs. 8-9..8-25): 4th-order
# in eccentricity, mm-accurate inside a 6-degree zone, round-trip consistent
# to ~1e-8 deg (pinned in tests against an independent numeric meridian-arc
# integral and the published WGS84 quarter meridian).
#
# Pure Column expressions — a billion-point reprojection is a zero-UDF,
# zero-shuffle map stage inside whole-stage codegen, same contract as the
# 4326<->3857 pair above.
# ---------------------------------------------------------------------------

UTM_K0 = 0.9996
UTM_FE = 500000.0
UTM_FN_SOUTH = 10000000.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
_EP2 = WGS84_E2 / (1.0 - WGS84_E2)
# meridian-arc series coefficients (Snyder 3-21) and footpoint series (3-26)
_M0 = 1.0 - WGS84_E2 / 4.0 - 3.0 * WGS84_E2**2 / 64.0 - 5.0 * WGS84_E2**3 / 256.0
_M2 = 3.0 * WGS84_E2 / 8.0 + 3.0 * WGS84_E2**2 / 32.0 + 45.0 * WGS84_E2**3 / 1024.0
_M4 = 15.0 * WGS84_E2**2 / 256.0 + 45.0 * WGS84_E2**3 / 1024.0
_M6 = 35.0 * WGS84_E2**3 / 3072.0
_E1 = (1.0 - math.sqrt(1.0 - WGS84_E2)) / (1.0 + math.sqrt(1.0 - WGS84_E2))


def utm_central_meridian_deg(zone) -> Column:
    """Zone 1 spans [-180, -174) with central meridian -177; zone 60 ends
    at +180 (public convention, e.g. osgeo_utils/gdal_utils docs)."""
    return _c(zone).cast("double") * 6.0 - 183.0


def utm_zone_of_lon(lon) -> Column:
    return F.floor((_c(lon) + 180.0) / 6.0).cast("int") % 60 + 1


def _meridian_arc(phi: Column) -> Column:
    return EARTH_RADIUS * (
        _M0 * phi
        - _M2 * F.sin(2.0 * phi)
        + _M4 * F.sin(4.0 * phi)
        - _M6 * F.sin(6.0 * phi)
    )


def lonlat_to_utm(lon, lat, zone, south=None) -> Column:
    """(lon, lat) degrees -> struct(easting, northing) meters in the given
    UTM ``zone``. ``south`` selects the 10,000,000 m false northing
    (EPSG:327xx); default = ``lat < 0`` per row."""
    lon, lat = _c(lon), _c(lat)
    phi = F.radians(lat)
    dlam = F.radians(lon - utm_central_meridian_deg(zone))
    sp, cp, tp = F.sin(phi), F.cos(phi), F.tan(phi)
    n_ = EARTH_RADIUS / F.sqrt(1.0 - WGS84_E2 * sp * sp)
    t = tp * tp
    c = _EP2 * cp * cp
    a_ = dlam * cp
    m = _meridian_arc(phi)
    easting = UTM_FE + UTM_K0 * n_ * (
        a_
        + (1.0 - t + c) * F.pow(a_, 3) / 6.0
        + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * _EP2)
        * F.pow(a_, 5) / 120.0
    )
    northing = UTM_K0 * (
        m
        + n_ * tp * (
            a_ * a_ / 2.0
            + (5.0 - t + 9.0 * c + 4.0 * c * c) * F.pow(a_, 4) / 24.0
            + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * _EP2)
            * F.pow(a_, 6) / 720.0
        )
    )
    is_south = lat < 0 if south is None else _c(south)
    northing = northing + F.when(is_south, F.lit(UTM_FN_SOUTH)).otherwise(0.0)
    return F.struct(easting.alias("easting"), northing.alias("northing"))


def utm_to_lonlat(easting, northing, zone, south) -> Column:
    """struct(lon, lat) degrees from UTM meters (inverse Snyder series;
    ``south`` is a bool or BooleanType Column selecting EPSG:327xx)."""
    x = _c(easting) - UTM_FE
    y = _c(northing) - F.when(_c(south), F.lit(UTM_FN_SOUTH)).otherwise(0.0)
    mu = y / UTM_K0 / (EARTH_RADIUS * _M0)
    phi1 = (
        mu
        + (3.0 * _E1 / 2.0 - 27.0 * _E1**3 / 32.0) * F.sin(2.0 * mu)
        + (21.0 * _E1**2 / 16.0 - 55.0 * _E1**4 / 32.0) * F.sin(4.0 * mu)
        + (151.0 * _E1**3 / 96.0) * F.sin(6.0 * mu)
        + (1097.0 * _E1**4 / 512.0) * F.sin(8.0 * mu)
    )
    sp1, cp1, tp1 = F.sin(phi1), F.cos(phi1), F.tan(phi1)
    c1 = _EP2 * cp1 * cp1
    t1 = tp1 * tp1
    n1 = EARTH_RADIUS / F.sqrt(1.0 - WGS84_E2 * sp1 * sp1)
    r1 = (
        EARTH_RADIUS * (1.0 - WGS84_E2)
        / F.pow(1.0 - WGS84_E2 * sp1 * sp1, 1.5)
    )
    d = x / (n1 * UTM_K0)
    phi = phi1 - (n1 * tp1 / r1) * (
        d * d / 2.0
        - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * _EP2)
        * F.pow(d, 4) / 24.0
        + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1
           - 252.0 * _EP2 - 3.0 * c1 * c1)
        * F.pow(d, 6) / 720.0
    )
    lam = F.radians(utm_central_meridian_deg(zone)) + (
        d
        - (1.0 + 2.0 * t1 + c1) * F.pow(d, 3) / 6.0
        + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1
           + 8.0 * _EP2 + 24.0 * t1 * t1)
        * F.pow(d, 5) / 120.0
    ) / cp1
    return F.struct(
        F.degrees(lam).alias("lon"), F.degrees(phi).alias("lat")
    )


def np_lonlat_to_utm(lon, lat, zone: int, south=None):
    """Sequential numpy twin of :func:`lonlat_to_utm` (test oracle)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    phi = np.radians(lat)
    dlam = np.radians(lon - (zone * 6.0 - 183.0))
    sp, cp, tp = np.sin(phi), np.cos(phi), np.tan(phi)
    n_ = EARTH_RADIUS / np.sqrt(1.0 - WGS84_E2 * sp**2)
    t = tp**2
    c = _EP2 * cp**2
    a_ = dlam * cp
    m = EARTH_RADIUS * (
        _M0 * phi - _M2 * np.sin(2 * phi)
        + _M4 * np.sin(4 * phi) - _M6 * np.sin(6 * phi)
    )
    x = UTM_FE + UTM_K0 * n_ * (
        a_ + (1 - t + c) * a_**3 / 6
        + (5 - 18 * t + t**2 + 72 * c - 58 * _EP2) * a_**5 / 120
    )
    y = UTM_K0 * (
        m + n_ * tp * (
            a_**2 / 2 + (5 - t + 9 * c + 4 * c**2) * a_**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * _EP2) * a_**6 / 720
        )
    )
    is_south = (lat < 0) if south is None else np.asarray(south, dtype=bool)
    return x, y + np.where(is_south, UTM_FN_SOUTH, 0.0)


def np_utm_to_lonlat(easting, northing, zone: int, south):
    """Sequential numpy twin of :func:`utm_to_lonlat` (test oracle)."""
    x = np.asarray(easting, dtype=np.float64) - UTM_FE
    y = np.asarray(northing, dtype=np.float64) - np.where(
        np.asarray(south, dtype=bool), UTM_FN_SOUTH, 0.0
    )
    mu = y / UTM_K0 / (EARTH_RADIUS * _M0)
    phi1 = (
        mu
        + (3 * _E1 / 2 - 27 * _E1**3 / 32) * np.sin(2 * mu)
        + (21 * _E1**2 / 16 - 55 * _E1**4 / 32) * np.sin(4 * mu)
        + (151 * _E1**3 / 96) * np.sin(6 * mu)
        + (1097 * _E1**4 / 512) * np.sin(8 * mu)
    )
    sp1, cp1, tp1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = _EP2 * cp1**2
    t1 = tp1**2
    n1 = EARTH_RADIUS / np.sqrt(1 - WGS84_E2 * sp1**2)
    r1 = EARTH_RADIUS * (1 - WGS84_E2) / (1 - WGS84_E2 * sp1**2) ** 1.5
    d = x / (n1 * UTM_K0)
    phi = phi1 - (n1 * tp1 / r1) * (
        d**2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1**2 - 9 * _EP2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1**2 - 252 * _EP2 - 3 * c1**2)
        * d**6 / 720
    )
    lam = np.radians(zone * 6.0 - 183.0) + (
        d - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1**2 + 8 * _EP2 + 24 * t1**2)
        * d**5 / 120
    ) / cp1
    return np.degrees(lam), np.degrees(phi)


# ---------------------------------------------------------------------------
# Conic projections: Lambert conformal conic (2SP) and Albers equal-area —
# the other two `-t_srs` families a real `ogr2ogr` ETL hits constantly
# (national grids like Lambert-93 / EPSG:2154, continental equal-area grids
# like CONUS Albers / EPSG:5070). Public GDAL route: ogr/ogrct.cpp :
# OGRProjCT::Transform (≈L2000) -> PROJ lcc / aea. Closed-form ellipsoidal
# series from Snyder, "Map Projections — A Working Manual" (USGS PP 1395):
# LCC eqs. 15-1..15-11, Albers eqs. 14-1..14-11, iterative inverse latitudes
# eqs. 7-9 / 3-16 (quadratically convergent; unrolled to a fixed depth so
# the whole transform stays a pure Column expression inside whole-stage
# codegen — zero UDF, zero shuffle, same contract as the UTM pair above).
#
# Projection constants (n, F, rho0 / C) depend only on the parameter set,
# so they are computed once in Python floats and inlined as literals — the
# per-row work is a handful of transcendentals.
# ---------------------------------------------------------------------------

WGS84_E = math.sqrt(WGS84_E2)


def _conic_m(phi: float) -> float:
    """Snyder 14-15: m = cos(phi)/sqrt(1 - e^2 sin^2 phi) (setup scalar)."""
    return math.cos(phi) / math.sqrt(1.0 - WGS84_E2 * math.sin(phi) ** 2)


def _conic_t(phi: float) -> float:
    """Snyder 15-9: isometric-latitude factor t(phi) (setup scalar)."""
    sp = math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) / (
        (1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp)
    ) ** (WGS84_E / 2.0)


def _conic_q(phi: float) -> float:
    """Snyder 3-12: authalic-latitude function q(phi) (setup scalar)."""
    sp = math.sin(phi)
    return (1.0 - WGS84_E2) * (
        sp / (1.0 - WGS84_E2 * sp * sp)
        - (1.0 / (2.0 * WGS84_E))
        * math.log((1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp))
    )


def lcc_constants(lat1: float, lat2: float, lat0: float, lon0: float,
                  fe: float = 0.0, fn: float = 0.0) -> dict:
    """Projection constants for a 2-standard-parallel LCC (Snyder 15-8a,
    15-10, 15-7a). Returned dict feeds both the Column kernels and the
    DuckDB oracle so both engines share bit-identical literals."""
    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    m1, m2 = _conic_m(p1), _conic_m(p2)
    t1, t2, t0 = _conic_t(p1), _conic_t(p2), _conic_t(p0)
    n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    f_ = m1 / (n * t1 ** n)
    rho0 = EARTH_RADIUS * f_ * t0 ** n
    return {"n": n, "f": f_, "rho0": rho0, "lon0": lon0, "fe": fe, "fn": fn}


# Lambert-93 parameter set (EPSG:2154 publishes lat1=49, lat2=44,
# lat0=46.5, lon0=3, FE=700000, FN=6600000; official ellipsoid GRS80 —
# this engine models WGS84 everywhere, whose e^2 differs from GRS80 in the
# 11th decimal, sub-0.1 mm here)
LCC93 = lcc_constants(49.0, 44.0, 46.5, 3.0, 700000.0, 6600000.0)
# CONUS Albers parameter set (EPSG:5070: lat1=29.5, lat2=45.5, lat0=23,
# lon0=-96, FE=FN=0; same GRS80-vs-WGS84 note)
def albers_constants(lat1: float, lat2: float, lat0: float, lon0: float,
                     fe: float = 0.0, fn: float = 0.0) -> dict:
    """Projection constants for a 2-SP Albers (Snyder 14-14, 14-13, 14-12a)."""
    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    m1, m2 = _conic_m(p1), _conic_m(p2)
    q1, q2, q0 = _conic_q(p1), _conic_q(p2), _conic_q(p0)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    c = m1 * m1 + n * q1
    rho0 = EARTH_RADIUS * math.sqrt(c - n * q0) / n
    return {"n": n, "c": c, "rho0": rho0, "lon0": lon0, "fe": fe, "fn": fn}


AEA_CONUS = albers_constants(29.5, 45.5, 23.0, -96.0)


def _t_col(phi: Column) -> Column:
    """Column twin of :func:`_conic_t`."""
    sp = F.sin(phi)
    return F.tan(F.lit(math.pi / 4.0) - phi / 2.0) / F.pow(
        (1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp), WGS84_E / 2.0
    )


def _q_col(phi: Column) -> Column:
    """Column twin of :func:`_conic_q`."""
    sp = F.sin(phi)
    return (1.0 - WGS84_E2) * (
        sp / (1.0 - WGS84_E2 * sp * sp)
        - (1.0 / (2.0 * WGS84_E))
        * F.log((1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp))
    )


def lonlat_to_lcc(lon, lat, spec: dict = LCC93) -> Column:
    """(lon, lat) degrees -> struct(x, y) meters, LCC 2SP (Snyder 15-1/2)."""
    lon, lat = _c(lon), _c(lat)
    rho = EARTH_RADIUS * spec["f"] * F.pow(_t_col(F.radians(lat)), spec["n"])
    theta = spec["n"] * F.radians(lon - spec["lon0"])
    return F.struct(
        (spec["fe"] + rho * F.sin(theta)).alias("x"),
        (spec["fn"] + spec["rho0"] - rho * F.cos(theta)).alias("y"),
    )


def lcc_to_lonlat(x, y, spec: dict = LCC93, iters: int = 4) -> Column:
    """struct(lon, lat) degrees from LCC meters. Latitude solves Snyder 7-9
    by fixed-point iteration (contraction factor ~e^2 per step; ``iters=4``
    leaves < 1e-10 deg residual, pinned by the round-trip test)."""
    xp = _c(x) - spec["fe"]
    yp = spec["rho0"] - (_c(y) - spec["fn"])
    sgn = 1.0 if spec["n"] >= 0 else -1.0
    rho = sgn * F.sqrt(xp * xp + yp * yp)
    t = F.pow(rho / (EARTH_RADIUS * spec["f"]), 1.0 / spec["n"])
    lam = F.radians(F.lit(spec["lon0"])) + F.atan2(sgn * xp, sgn * yp) / spec["n"]
    phi = F.lit(math.pi / 2.0) - 2.0 * F.atan(t)
    for _ in range(iters):
        sp = F.sin(phi)
        phi = F.lit(math.pi / 2.0) - 2.0 * F.atan(
            t * F.pow((1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp),
                      WGS84_E / 2.0)
        )
    return F.struct(F.degrees(lam).alias("lon"), F.degrees(phi).alias("lat"))


def lonlat_to_albers(lon, lat, spec: dict = AEA_CONUS) -> Column:
    """(lon, lat) degrees -> struct(x, y) meters, Albers 2SP (Snyder 14-1/2)."""
    lon, lat = _c(lon), _c(lat)
    q = _q_col(F.radians(lat))
    rho = EARTH_RADIUS * F.sqrt(spec["c"] - spec["n"] * q) / spec["n"]
    theta = spec["n"] * F.radians(lon - spec["lon0"])
    return F.struct(
        (spec["fe"] + rho * F.sin(theta)).alias("x"),
        (spec["fn"] + spec["rho0"] - rho * F.cos(theta)).alias("y"),
    )


def albers_to_lonlat(x, y, spec: dict = AEA_CONUS, iters: int = 3) -> Column:
    """struct(lon, lat) degrees from Albers meters. Latitude solves
    q(phi) = q' by the Newton step of Snyder 3-16 (quadratic; ``iters=3``
    from the asin(q/2) seed reaches machine precision)."""
    xp = _c(x) - spec["fe"]
    yp = spec["rho0"] - (_c(y) - spec["fn"])
    rho = F.sqrt(xp * xp + yp * yp)
    q = (spec["c"] - F.pow(rho * spec["n"] / EARTH_RADIUS, 2.0)) / spec["n"]
    lam = F.radians(F.lit(spec["lon0"])) + F.atan2(xp, yp) / spec["n"]
    phi = F.asin(q / 2.0)
    for _ in range(iters):
        sp = F.sin(phi)
        one = 1.0 - WGS84_E2 * sp * sp
        phi = phi + F.pow(one, 2.0) / (2.0 * F.cos(phi)) * (
            q / (1.0 - WGS84_E2)
            - sp / one
            + (1.0 / (2.0 * WGS84_E))
            * F.log((1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp))
        )
    return F.struct(F.degrees(lam).alias("lon"), F.degrees(phi).alias("lat"))


def np_lonlat_to_lcc(lon, lat, spec: dict = LCC93):
    """Sequential numpy twin of :func:`lonlat_to_lcc` (test oracle)."""
    lon = np.asarray(lon, dtype=np.float64)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    sp = np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp)
    ) ** (WGS84_E / 2.0)
    rho = EARTH_RADIUS * spec["f"] * t ** spec["n"]
    theta = spec["n"] * np.radians(lon - spec["lon0"])
    return (spec["fe"] + rho * np.sin(theta),
            spec["fn"] + spec["rho0"] - rho * np.cos(theta))


def np_lonlat_to_albers(lon, lat, spec: dict = AEA_CONUS):
    """Sequential numpy twin of :func:`lonlat_to_albers` (test oracle)."""
    lon = np.asarray(lon, dtype=np.float64)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    sp = np.sin(phi)
    q = (1.0 - WGS84_E2) * (
        sp / (1.0 - WGS84_E2 * sp * sp)
        - (1.0 / (2.0 * WGS84_E))
        * np.log((1.0 - WGS84_E * sp) / (1.0 + WGS84_E * sp))
    )
    rho = EARTH_RADIUS * np.sqrt(spec["c"] - spec["n"] * q) / spec["n"]
    theta = spec["n"] * np.radians(lon - spec["lon0"])
    return (spec["fe"] + rho * np.sin(theta),
            spec["fn"] + spec["rho0"] - rho * np.cos(theta))
