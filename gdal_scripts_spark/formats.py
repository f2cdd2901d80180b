"""Vector format interop — WKT / WKB / GeoJSON(Seq) over a canonical
geometry struct column.

Reference semantics (public GDAL tree; local snapshot empty):

- ``ogr/ogrgeometryfactory.cpp : OGRGeometryFactory::createFromWkt /
  createFromWkb (≈L80/L380)`` — parse WKT text and ISO WKB byte streams
  into the OGRPoint/LineString/Polygon/Multi* hierarchy;
  ``exportToWkt/exportToWkb`` are the inverses.
- ``ogr/ogrsf_frmts/geojson/ogrgeojsonreader.cpp`` and the GeoJSONSeq
  driver (``drv_geojsonseq.html``) — RFC 7946 features; the *Seq* variant
  is one feature per line, which is the scalable representation (GDAL
  streams it; Spark's json lines source splits it for free).

Spark-first design
------------------
One canonical geometry column type covers every OGR geometry kind::

    GEOM_TYPE = kind string,
                parts array<array<array<struct<x:double,y:double>>>>

    POINT            parts = [[[p]]]
    MULTIPOINT       parts = [[[p1]], [[p2]], ...]       (one part per point)
    LINESTRING       parts = [[path]]
    MULTILINESTRING  parts = [[path1], [path2], ...]
    POLYGON          parts = [[ext, hole1, ...]]          (rings, closed)
    MULTIPOLYGON     parts = [[extA, holeA1], [extB], ...]

The innermost level matches the engine's existing polygon layer schema
(``fixtures.POLYGONS_SCHEMA : rings array<array<struct<x,y>>>``) so a
POLYGON's ``parts[0]`` IS a drop-in ``rings`` value.

Hot-path scalars (area, length, bbox, counts) are pure-Column
higher-order functions — whole-stage-codegen JVM evaluation, no Python
workers, so filtering/aggregating billions of geometries never leaves the
JVM. Text/byte (de)serialization is inherently per-value string work and
runs as scalar Arrow UDFs (the GDAL analog is the per-feature
createFromWkt loop; here it is one Python call per Arrow batch).

Scale notes (100 TB): parse/format UDFs are map-only (no shuffle, no
driver state); GeoJSONSeq read is a plain lines-json scan with full
predicate pushdown on properties; the geometry struct is columnar in
parquet so ``geom.kind``-only scans never read coordinates.
"""

from __future__ import annotations

import json
import math
import re
import struct as _struct

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from . import arrowrows

# ---------------------------------------------------------------------------
# canonical geometry struct type
# ---------------------------------------------------------------------------

_POINT_T = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
_PARTS_T = ArrayType(ArrayType(ArrayType(_POINT_T)))
GEOM_TYPE = StructType(
    [StructField("kind", StringType()), StructField("parts", _PARTS_T)]
)
GEOM_DDL = (
    "struct<kind:string,parts:array<array<array<struct<x:double,y:double>>>>>"
)

KINDS = (
    "POINT",
    "MULTIPOINT",
    "LINESTRING",
    "MULTILINESTRING",
    "POLYGON",
    "MULTIPOLYGON",
)

# ISO WKB geometry type codes (little-endian byte order marker 0x01)
_WKB_CODE = {
    "POINT": 1,
    "LINESTRING": 2,
    "POLYGON": 3,
    "MULTIPOINT": 4,
    "MULTILINESTRING": 5,
    "MULTIPOLYGON": 6,
}
_WKB_KIND = {v: k for k, v in _WKB_CODE.items()}


# ---------------------------------------------------------------------------
# WKT text <-> python nesting (shared by the Arrow UDFs and tests)
# ---------------------------------------------------------------------------

_WKT_HEAD = re.compile(r"^\s*([A-Za-z]+)\s*(.*)$", re.S)


def _split_depth0(s: str) -> list[str]:
    """Split on commas at paren depth 0."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return out


def _strip_parens(s: str) -> str:
    s = s.strip()
    if not (s.startswith("(") and s.endswith(")")):
        raise ValueError(f"expected parenthesized group, got {s[:40]!r}")
    return s[1:-1]


def _coords(s: str) -> list[tuple[float, float]]:
    pts = []
    for tok in _split_depth0(s):
        xy = tok.split()
        if len(xy) < 2:
            raise ValueError(f"bad coordinate {tok!r}")
        pts.append((float(xy[0]), float(xy[1])))
    return pts


def wkt_to_parts(wkt: str) -> tuple[str, list[list[list[tuple[float, float]]]]]:
    """Parse one WKT string into (kind, parts) python nesting (module
    docstring layout). Raises ValueError on malformed input."""
    m = _WKT_HEAD.match(wkt)
    if not m:
        raise ValueError(f"not WKT: {wkt[:40]!r}")
    kind = m.group(1).upper()
    body = m.group(2).strip()
    if kind not in KINDS:
        raise ValueError(f"unsupported WKT kind {kind!r}")
    if body.upper() == "EMPTY":
        return kind, []
    body = _strip_parens(body)
    if kind == "POINT":
        return kind, [[[_coords(body)[0]]]]
    if kind == "LINESTRING":
        return kind, [[_coords(body)]]
    if kind == "POLYGON":
        return kind, [[_coords(_strip_parens(r)) for r in _split_depth0(body)]]
    if kind == "MULTIPOINT":
        # both spellings: MULTIPOINT ((1 2), (3 4)) and MULTIPOINT (1 2, 3 4)
        parts = []
        for tok in _split_depth0(body):
            t = tok.strip()
            parts.append([[_coords(_strip_parens(t) if t.startswith("(") else t)[0]]])
        return kind, parts
    if kind == "MULTILINESTRING":
        return kind, [[_coords(_strip_parens(t))] for t in _split_depth0(body)]
    # MULTIPOLYGON
    parts = []
    for poly in _split_depth0(body):
        rings_txt = _strip_parens(poly.strip())
        parts.append([_coords(_strip_parens(r)) for r in _split_depth0(rings_txt)])
    return kind, parts


def _fmt_pt(p) -> str:
    return f"{p[0]:.10g} {p[1]:.10g}"


def _fmt_seq(pts) -> str:
    return "(" + ", ".join(_fmt_pt(p) for p in pts) + ")"


def parts_to_wkt(kind: str, parts) -> str:
    """Canonical WKT (same ``%.10g`` float style as ``geom.ring_wkt_coords``;
    ring closure is preserved as stored, not re-normalized)."""
    kind = kind.upper()
    if not parts:
        return f"{kind} EMPTY"
    if kind == "POINT":
        return f"POINT ({_fmt_pt(parts[0][0][0])})"
    if kind == "LINESTRING":
        return f"LINESTRING {_fmt_seq(parts[0][0])}"
    if kind == "POLYGON":
        return "POLYGON (" + ", ".join(_fmt_seq(r) for r in parts[0]) + ")"
    if kind == "MULTIPOINT":
        return "MULTIPOINT (" + ", ".join(f"({_fmt_pt(p[0][0])})" for p in parts) + ")"
    if kind == "MULTILINESTRING":
        return "MULTILINESTRING (" + ", ".join(_fmt_seq(p[0]) for p in parts) + ")"
    if kind == "MULTIPOLYGON":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(_fmt_seq(r) for r in poly) + ")" for poly in parts)
            + ")"
        )
    raise ValueError(f"unsupported kind {kind!r}")


# ---------------------------------------------------------------------------
# WKB bytes <-> python nesting
# ---------------------------------------------------------------------------


def _wkb_coords(pts) -> bytes:
    arr = np.asarray(pts, dtype="<f8").reshape(-1, 2)
    return _struct.pack("<I", arr.shape[0]) + arr.tobytes()


def parts_to_wkb(kind: str, parts) -> bytes:
    """ISO WKB, little-endian (``OGRGeometry::exportToWkb`` analog). An
    EMPTY geometry (``parts = []``) is written the ISO way: a POINT as
    NaN NaN, a LINESTRING with 0 points, a polygon with 0 rings, a Multi*
    with 0 members."""
    kind = kind.upper()
    code = _WKB_CODE[kind]
    head = b"\x01" + _struct.pack("<I", code)
    if kind == "POINT":
        p = parts[0][0][0] if parts else (math.nan, math.nan)
        return head + _struct.pack("<dd", p[0], p[1])
    if kind == "LINESTRING":
        return head + _wkb_coords(parts[0][0] if parts else [])
    if kind == "POLYGON":
        rings = parts[0] if parts else []
        return head + _struct.pack("<I", len(rings)) + b"".join(
            _wkb_coords(r) for r in rings
        )
    # Multi* = count + nested full WKB geometries (ISO layout)
    inner_kind = kind[5:]
    return head + _struct.pack("<I", len(parts)) + b"".join(
        parts_to_wkb(inner_kind, [p]) for p in parts
    )


def wkb_to_parts(buf: bytes) -> tuple[str, list]:
    kind, parts, off = _wkb_read(memoryview(buf), 0)
    if off != len(buf):
        raise ValueError(f"trailing bytes after WKB geometry ({len(buf) - off})")
    return kind, parts


def _wkb_read(mv: memoryview, off: int) -> tuple[str, list, int]:
    if mv[off] != 1:
        raise ValueError("only little-endian (NDR) WKB supported")
    code = _struct.unpack_from("<I", mv, off + 1)[0]
    # validate the FULL 32-bit code: EWKB flag bits (SRID 0x20000000,
    # Z 0x80000000, M 0x40000000) and ISO Z/M families (1000/2000/3000
    # offsets) are explicitly rejected rather than masked to 2D — masking
    # would silently misparse the coordinate stream of nested Multi*
    # members (each extra dimension shifts every subsequent offset)
    kind = _WKB_KIND.get(code)
    if kind is None:
        if code & 0xE0000000 or (code & 0xFF) in _WKB_KIND:
            raise ValueError(
                f"unsupported WKB variant code 0x{code:08x} (EWKB flag bits "
                "or ISO Z/M dimensioned geometry) — only 2D XY is supported"
            )
        raise ValueError(f"unknown WKB geometry code {code}")
    off += 5

    def rd_coords(o):
        n = _struct.unpack_from("<I", mv, o)[0]
        arr = np.frombuffer(mv, dtype="<f8", count=2 * n, offset=o + 4).reshape(n, 2)
        return [(float(x), float(y)) for x, y in arr], o + 4 + 16 * n

    if kind == "POINT":
        x, y = _struct.unpack_from("<dd", mv, off)
        empty = math.isnan(x) and math.isnan(y)
        return kind, [] if empty else [[[(x, y)]]], off + 16
    if kind == "LINESTRING":
        pts, off = rd_coords(off)
        return kind, [[pts]] if pts else [], off
    if kind == "POLYGON":
        nr = _struct.unpack_from("<I", mv, off)[0]
        off += 4
        rings = []
        for _ in range(nr):
            pts, off = rd_coords(off)
            rings.append(pts)
        return kind, [rings] if rings else [], off
    # Multi*
    n = _struct.unpack_from("<I", mv, off)[0]
    off += 4
    parts = []
    for _ in range(n):
        _k, sub, off = _wkb_read(mv, off)
        parts.extend(sub)
    return kind, parts, off


# ---------------------------------------------------------------------------
# Arrow-batched column codecs (scalar Arrow UDFs)
# ---------------------------------------------------------------------------

_GEOM_ARROW = to_arrow_type(GEOM_TYPE)


def _geom_array(geoms) -> pa.Array:
    """Geometry struct array from ``(kind, parts)`` pairs (points as
    ``(x, y)`` tuples); ``None`` gives a struct of NULL fields."""
    return pa.array([(None, None) if g is None else g for g in geoms],
                    _GEOM_ARROW)


def _parts_tuples(parts):
    return [
        [[(p["x"], p["y"]) for p in ring] for ring in part] for part in parts
    ]


def _geoms_in(s: pa.Array):
    """``(kind, parts)`` per geometry struct of ``s``; ``None`` for a NULL
    struct or a NULL kind."""
    return [
        None if v is None or v["kind"] is None
        else (v["kind"], _parts_tuples(v["parts"] or []))
        for v in s.to_pylist()
    ]


@F.arrow_udf(GEOM_TYPE)
def wkt_parse(s: pa.Array) -> pa.Array:
    """WKT text column -> geometry struct (``createFromWkt`` analog)."""
    return _geom_array(None if v is None else wkt_to_parts(v)
                       for v in s.to_pylist())


@F.arrow_udf(BinaryType())
def wkb_from_wkt(s: pa.Array) -> pa.Array:
    """WKT text -> ISO WKB bytes in one Arrow pass (no intermediate
    struct materialization — the common ETL direction)."""
    return pa.array([None if v is None else parts_to_wkb(*wkt_to_parts(v))
                     for v in s.to_pylist()], pa.binary())


@F.arrow_udf(GEOM_TYPE)
def wkb_parse(s: pa.Array) -> pa.Array:
    """ISO WKB binary column -> geometry struct (``createFromWkb`` analog)."""
    return _geom_array(None if v is None else wkb_to_parts(v)
                       for v in s.to_pylist())


@F.arrow_udf(StringType())
def wkt_format(g: pa.Array) -> pa.Array:
    """geometry struct -> canonical WKT (``exportToWkt`` analog)."""
    return pa.array([None if v is None else parts_to_wkt(*v)
                     for v in _geoms_in(g)], pa.string())


@F.arrow_udf(BinaryType())
def wkb_format(g: pa.Array) -> pa.Array:
    """geometry struct -> ISO WKB bytes (``exportToWkb`` analog)."""
    return pa.array([None if v is None else parts_to_wkb(*v)
                     for v in _geoms_in(g)], pa.binary())


# ---------------------------------------------------------------------------
# pure-Column geometry scalars (JVM higher-order functions — the hot path)
# ---------------------------------------------------------------------------


def _ring_signed_area2(ring: Column) -> Column:
    """2x signed shoelace area of one ring (array<struct<x,y>>, closed or
    open — the wrap term is added explicitly so both work)."""
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)
    seg = F.aggregate(
        F.zip_with(a, b, lambda p, q: p["x"] * q["y"] - q["x"] * p["y"]),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    first, last = F.element_at(ring, 1), F.element_at(ring, n)
    wrap = last["x"] * first["y"] - first["x"] * last["y"]
    return seg + wrap


def geom_area(g: Column) -> Column:
    """OGR ``get_Area`` semantics: per part, |exterior| minus the |hole|s,
    summed over parts — orientation-independent; 0 for non-surface kinds
    (OGRCurve/OGRPoint report 0 area like OGR's ``get_Area``). All-JVM."""
    def part_area(part):
        ext = F.abs(_ring_signed_area2(F.element_at(part, 1))) / F.lit(2.0)
        holes = F.aggregate(
            F.slice(part, 2, F.greatest(F.size(part) - 1, F.lit(0))),
            F.lit(0.0),
            lambda acc, r: acc + F.abs(_ring_signed_area2(r)) / F.lit(2.0),
        )
        return ext - holes

    return F.when(
        g["kind"].endswith("POLYGON"),
        F.aggregate(g["parts"], F.lit(0.0), lambda acc, p: acc + part_area(p)),
    ).otherwise(F.lit(0.0))


def geom_length(g: Column) -> Column:
    """Sum of path lengths over all parts' first paths (LineString family);
    for polygons this is the perimeter of every ring. All-JVM."""
    def ring_len(ring):
        n = F.size(ring)
        a = F.slice(ring, 1, n - 1)
        b = F.slice(ring, 2, n - 1)
        return F.aggregate(
            F.zip_with(
                a, b,
                lambda p, q: F.sqrt(
                    (p["x"] - q["x"]) * (p["x"] - q["x"])
                    + (p["y"] - q["y"]) * (p["y"] - q["y"])
                ),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return F.aggregate(
        g["parts"],
        F.lit(0.0),
        lambda acc, part: acc
        + F.aggregate(part, F.lit(0.0), lambda a2, r: a2 + ring_len(r)),
    )


def geom_num_parts(g: Column) -> Column:
    return F.size(g["parts"])


def geom_num_points(g: Column) -> Column:
    return F.aggregate(
        g["parts"],
        F.lit(0),
        lambda acc, part: acc
        + F.aggregate(part, F.lit(0), lambda a2, r: a2 + F.size(r)),
    )


def geodesic_length(g: Column) -> Column:
    """Great-circle (spherical) path length in METERS over lon/lat
    vertices — the sphere limit of ``OGR_G_GeodesicLength`` (public GDAL
    ogr/ogrcurve.cpp : get_GeodesicLength, which delegates to
    GeographicLib; on a sphere the geodesic is the great circle, so each
    segment is one haversine). Same mean radius as every other metric in
    the engine (cells.HAVERSINE_RADIUS). All-JVM: zip_with + aggregate
    over the geometry struct, no Python in the hot path."""
    from .cells import haversine_m

    def ring_len(ring):
        n = F.size(ring)
        a = F.slice(ring, 1, n - 1)
        b = F.slice(ring, 2, n - 1)
        return F.aggregate(
            F.zip_with(
                a, b,
                lambda p, q: haversine_m(p["x"], p["y"], q["x"], q["y"]),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return F.aggregate(
        g["parts"],
        F.lit(0.0),
        lambda acc, part: acc
        + F.aggregate(part, F.lit(0.0), lambda a2, r: a2 + ring_len(r)),
    )


def _ring_cd_sum(ring: Column) -> Column:
    """Chamberlain-Duquette spherical-excess partial sum over one ring:
    sum of rad(lon2-lon1) * (2 + sin(rad lat1) + sin(rad lat2)) over
    consecutive vertex pairs plus the closing wrap pair (zero when the
    ring is stored closed, i.e. first == last). Each per-edge longitude
    delta is normalized into [-180, 180] so rings crossing the
    antimeridian take the short way around (179 -> -179 is +2 deg, not
    -358) — matching OGR_G_GeodesicArea, whose GeographicLib backend is
    wrap-safe by construction."""
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)

    def term(p, q):
        dl = q["x"] - p["x"]
        dl = dl - F.lit(360.0) * F.round(dl / F.lit(360.0), 0)
        return F.radians(dl) * (
            F.lit(2.0) + F.sin(F.radians(p["y"])) + F.sin(F.radians(q["y"]))
        )

    seg = F.aggregate(
        F.zip_with(a, b, term), F.lit(0.0), lambda acc, t: acc + t
    )
    return seg + term(F.element_at(ring, -1), F.element_at(ring, 1))


def geodesic_area(g: Column) -> Column:
    """Spherical polygon area in SQUARE METERS — the sphere limit of
    ``OGR_G_GeodesicArea`` via the Chamberlain & Duquette (JPL 2007)
    spherical-excess formula: |sum over ring edges of
    (lam2-lam1)*(2+sin phi1+sin phi2)| * R^2/2, exterior minus holes per
    part, 0 for non-surface kinds (matching planar geom_area's contract).
    All-JVM."""
    from .cells import HAVERSINE_RADIUS

    half_r2 = F.lit(HAVERSINE_RADIUS * HAVERSINE_RADIUS / 2.0)

    def part_area(part):
        ext = F.abs(_ring_cd_sum(F.element_at(part, 1))) * half_r2
        holes = F.aggregate(
            F.slice(part, 2, F.greatest(F.size(part) - 1, F.lit(0))),
            F.lit(0.0),
            lambda acc, r: acc + F.abs(_ring_cd_sum(r)) * half_r2,
        )
        return ext - holes

    return F.when(
        g["kind"].endswith("POLYGON"),
        F.aggregate(g["parts"], F.lit(0.0), lambda acc, p: acc + part_area(p)),
    ).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# WGS84 ellipsoidal geodesics (round 5 — upgrades the sphere-limit pair)
# ---------------------------------------------------------------------------

# public WGS84 defining constants
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
_WGS84_E = math.sqrt(WGS84_E2)


def _authalic_q(s: float) -> float:
    e, e2 = _WGS84_E, WGS84_E2
    return (1.0 - e2) * (
        s / (1.0 - e2 * s * s) - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
    )


_WGS84_QP = _authalic_q(1.0)
# authalic radius: the sphere with the ellipsoid's exact surface area
# (Snyder, Map Projections — A Working Manual, eq. 3-13); WGS84 value
# 6371007.1810 m, pinned in tests
WGS84_AUTHALIC_R = WGS84_A * math.sqrt(_WGS84_QP / 2.0)


def _let(value: Column, fn) -> Column:
    """Column-level let-binding: evaluate ``value`` ONCE at runtime and
    feed it to ``fn`` as a lambda variable. Implemented as a 1-element
    ``transform`` — the optimizer cannot inline through lambda variables,
    so the expression tree stays LINEAR in the number of chained lets
    (a naive unrolled fixpoint would blow up exponentially)."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def vincenty_distance_m(lon1, lat1, lon2, lat2, iters: int = 4) -> Column:
    """WGS84 inverse geodesic distance in meters — Vincenty (1975) inverse
    formula with the lambda iteration unrolled to ``iters`` fixed steps
    (public formula; the behavior target is OGR_G_GeodesicLength, public
    GDAL ogr/ogrgeometry.cpp : OGRCurve::get_GeodesicLength, whose
    GeographicLib/Karney backend agrees with converged Vincenty to <0.5 mm
    except near-antipodal pairs, where fixed-iteration Vincenty degrades
    gracefully instead of failing — a documented divergence). Pure Column:
    all trig stays JVM-side; each iteration's intermediates are bound once
    via :func:`_let`, so the tree is linear in ``iters``."""
    f = WGS84_F
    dl = lon2 - lon1
    dl = dl - F.lit(360.0) * F.round(dl / F.lit(360.0), 0)
    L0 = F.radians(dl)
    base = F.struct(
        L0.alias("L"),
        F.sin(F.atan((1.0 - f) * F.tan(F.radians(lat1)))).alias("su1"),
        F.cos(F.atan((1.0 - f) * F.tan(F.radians(lat1)))).alias("cu1"),
        F.sin(F.atan((1.0 - f) * F.tan(F.radians(lat2)))).alias("su2"),
        F.cos(F.atan((1.0 - f) * F.tan(F.radians(lat2)))).alias("cu2"),
        L0.alias("lam"),
    )

    def core(t):
        """sigma / alpha terms of one Vincenty evaluation at the bound
        state's auxiliary-sphere longitude difference t.lam. Every input
        is a lambda-variable field reference, so each use costs one node."""
        sl, cl = F.sin(t["lam"]), F.cos(t["lam"])
        sin_sig = F.sqrt(
            (t["cu2"] * sl) * (t["cu2"] * sl)
            + (t["cu1"] * t["su2"] - t["su1"] * t["cu2"] * cl)
            * (t["cu1"] * t["su2"] - t["su1"] * t["cu2"] * cl)
        )
        cos_sig = t["su1"] * t["su2"] + t["cu1"] * t["cu2"] * cl
        sig = F.atan2(sin_sig, cos_sig)
        sin_al = F.when(sin_sig == 0.0, F.lit(0.0)).otherwise(
            t["cu1"] * t["cu2"] * sl / sin_sig
        )
        cos2a = 1.0 - sin_al * sin_al
        cos2sm = F.when(cos2a == 0.0, F.lit(0.0)).otherwise(
            cos_sig - 2.0 * t["su1"] * t["su2"] / cos2a
        )
        return sin_sig, cos_sig, sig, sin_al, cos2a, cos2sm

    def finish(t):
        sin_sig, cos_sig, sig, sin_al, cos2a, cos2sm = core(t)
        u2 = cos2a * (WGS84_A * WGS84_A - WGS84_B * WGS84_B) / (WGS84_B * WGS84_B)
        A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
        Bc = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
        dsig = Bc * sin_sig * (
            cos2sm + Bc / 4.0 * (
                cos_sig * (-1.0 + 2.0 * cos2sm * cos2sm)
                - Bc / 6.0 * cos2sm
                * (-3.0 + 4.0 * sin_sig * sin_sig)
                * (-3.0 + 4.0 * cos2sm * cos2sm)
            )
        )
        return F.when(sin_sig == 0.0, F.lit(0.0)).otherwise(
            WGS84_B * A * (sig - dsig)
        )

    def make_step(k):
        """Continuation-nested unroll: each remaining iteration computes
        the lambda update from the CURRENT bound state and re-binds via
        _let, so the whole distance tree is linear in ``iters``."""
        def step(t):
            if k == 0:
                return finish(t)
            sin_sig, cos_sig, sig, sin_al, cos2a, cos2sm = core(t)
            C = f / 16.0 * cos2a * (4.0 + f * (4.0 - 3.0 * cos2a))
            lam_new = t["L"] + (1.0 - C) * f * sin_al * (
                sig + C * sin_sig * (
                    cos2sm + C * cos_sig * (-1.0 + 2.0 * cos2sm * cos2sm)
                )
            )
            st = F.struct(
                t["L"].alias("L"), t["su1"].alias("su1"), t["cu1"].alias("cu1"),
                t["su2"].alias("su2"), t["cu2"].alias("cu2"), lam_new.alias("lam"),
            )
            return _let(st, make_step(k - 1))
        return step

    return _let(base, make_step(iters))


def geodesic_length_wgs84(g: Column, iters: int = 4) -> Column:
    """WGS84 ellipsoidal path length in meters over lon/lat vertices —
    per-segment Vincenty inverse (:func:`vincenty_distance_m`) folded over
    the geometry struct. The ellipsoidal upgrade of
    :func:`geodesic_length` (which remains the documented sphere limit);
    behavior target OGR_G_GeodesicLength. All-JVM HOF fold."""

    def ring_len(ring):
        n = F.size(ring)
        a = F.slice(ring, 1, n - 1)
        b = F.slice(ring, 2, n - 1)
        return F.aggregate(
            F.zip_with(
                a, b,
                lambda p, q: vincenty_distance_m(
                    p["x"], p["y"], q["x"], q["y"], iters=iters
                ),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return F.aggregate(
        g["parts"],
        F.lit(0.0),
        lambda acc, part: acc
        + F.aggregate(part, F.lit(0.0), lambda a2, r: a2 + ring_len(r)),
    )


def sin_authalic(lat_deg) -> Column:
    """sin of the authalic latitude for a WGS84 geodetic latitude (deg):
    sin(phi_a) = q(phi)/q(90) with q the Snyder eq. 3-12 integral —
    closed form in sin(phi). The authalic map preserves area elements
    EXACTLY, so spherical-excess area on the authalic sphere equals true
    ellipsoid surface area for the same boundary points."""
    e, e2 = _WGS84_E, WGS84_E2
    s = F.sin(F.radians(lat_deg))
    q = (1.0 - e2) * (
        s / (1.0 - e2 * s * s)
        - (1.0 / (2.0 * e)) * F.log((1.0 - e * s) / (1.0 + e * s))
    )
    return q / F.lit(_WGS84_QP)


def _ring_cd_sum_authalic(ring: Column) -> Column:
    """Chamberlain-Duquette partial sum on the AUTHALIC sphere: same edge
    model as :func:`_ring_cd_sum` (wrap-safe longitude deltas) but with
    each sin(lat) replaced by sin of the authalic latitude."""
    n = F.size(ring)
    a = F.slice(ring, 1, n - 1)
    b = F.slice(ring, 2, n - 1)

    def term(p, q):
        dl = q["x"] - p["x"]
        dl = dl - F.lit(360.0) * F.round(dl / F.lit(360.0), 0)
        return F.radians(dl) * (
            F.lit(2.0) + sin_authalic(p["y"]) + sin_authalic(q["y"])
        )

    seg = F.aggregate(
        F.zip_with(a, b, term), F.lit(0.0), lambda acc, t: acc + t
    )
    return seg + term(F.element_at(ring, -1), F.element_at(ring, 1))


def geodesic_area_wgs84(g: Column) -> Column:
    """WGS84 ellipsoidal polygon area in SQUARE METERS — the ellipsoidal
    upgrade of :func:`geodesic_area` (behavior target OGR_G_GeodesicArea,
    public GDAL ogr/ogrsurface.cpp : get_GeodesicArea): the
    Chamberlain-Duquette excess sum evaluated on the AUTHALIC sphere
    (vertex latitudes mapped to authalic latitudes, radius = WGS84
    authalic radius 6371007.181 m). Because the authalic map is exactly
    area-preserving, this is the EXACT ellipsoid area for regions bounded
    by meridians/parallels (every rect fixture), and differs from
    GeographicLib's geodesic-edge integral only by the edge-path model —
    O(edge_len^2) and zero for meridian/parallel edges, vs the ~0.5%
    systematic error of the sphere-limit formula. Exterior minus holes
    per part, 0 for non-surface kinds. All-JVM."""
    half_r2 = F.lit(WGS84_AUTHALIC_R * WGS84_AUTHALIC_R / 2.0)

    def part_area(part):
        ext = F.abs(_ring_cd_sum_authalic(F.element_at(part, 1))) * half_r2
        holes = F.aggregate(
            F.slice(part, 2, F.greatest(F.size(part) - 1, F.lit(0))),
            F.lit(0.0),
            lambda acc, r: acc + F.abs(_ring_cd_sum_authalic(r)) * half_r2,
        )
        return ext - holes

    return F.when(
        g["kind"].endswith("POLYGON"),
        F.aggregate(g["parts"], F.lit(0.0), lambda acc, p: acc + part_area(p)),
    ).otherwise(F.lit(0.0))


def segmentize(g: Column, max_len) -> Column:
    """ogr2ogr ``-segmentize <max_length>`` analog (public GDAL
    ogr/ogrgeometry.cpp : OGRGeometry::segmentize): insert evenly spaced
    vertices so no segment of any ring/path exceeds ``max_len`` (planar
    units). Each segment p->q with length d is split into
    k = max(ceil(d/max_len), 1) equal pieces, keeping the original
    vertices; kind is unchanged. Pure Column (nested transform/zip_with/
    sequence — whole-stage codegen, no Python), so densifying a billion
    geometries is map-only JVM work.

    Contract: ``max_len > 0`` — enforced eagerly for the scalar path and
    with a runtime ``raise_error`` for the Column (per-row) path. The
    split count per segment is computed as LONG and guarded at 2^24
    pieces (16.7M inserted vertices in ONE segment already exceeds any
    materializable geometry) so a degenerate d/max_len ratio fails with a
    clear error instead of clamping at INT_MAX and OOMing in sequence()."""
    if not isinstance(max_len, Column):
        if not float(max_len) > 0.0:
            raise ValueError("segmentize max_len must be > 0")
        max_len = F.lit(float(max_len))
    else:
        max_len = F.when(max_len > 0, max_len.cast("double")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("segmentize: max_len must be > 0, got "),
                    max_len.cast("string"),
                )
            )
        )

    def seg_pts(p, q):
        d = F.sqrt(
            (q["x"] - p["x"]) * (q["x"] - p["x"])
            + (q["y"] - p["y"]) * (q["y"] - p["y"])
        )
        k = F.greatest(F.ceil(d / max_len).cast("long"), F.lit(1).cast("long"))
        k = F.when(
            k <= F.lit(1 << 24).cast("long"), k
        ).otherwise(
            F.raise_error("segmentize: d/max_len exceeds 2^24 splits per segment")
        )
        kd = k.cast("double")
        return F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda j: F.struct(
                (p["x"] + (q["x"] - p["x"]) * j.cast("double") / kd).alias("x"),
                (p["y"] + (q["y"] - p["y"]) * j.cast("double") / kd).alias("y"),
            ),
        )

    def densify_ring(ring):
        n = F.size(ring)
        a = F.slice(ring, 1, n - 1)
        b = F.slice(ring, 2, n - 1)
        return F.concat(
            F.flatten(F.zip_with(a, b, seg_pts)), F.slice(ring, -1, 1)
        )

    return F.struct(
        g["kind"].alias("kind"),
        F.transform(
            g["parts"], lambda part: F.transform(part, densify_ring)
        ).alias("parts"),
    )


def geom_bbox(g: Column) -> Column:
    """struct<minx,miny,maxx,maxy> over every vertex. All-JVM."""
    pts = F.flatten(F.flatten(g["parts"]))
    xs = F.transform(pts, lambda p: p["x"])
    ys = F.transform(pts, lambda p: p["y"])
    return F.struct(
        F.array_min(xs).alias("minx"),
        F.array_min(ys).alias("miny"),
        F.array_max(xs).alias("maxx"),
        F.array_max(ys).alias("maxy"),
    )


# ---------------------------------------------------------------------------
# Simplify (Douglas-Peucker) and point buffer
# ---------------------------------------------------------------------------


def dp_simplify(pts: np.ndarray, eps: float) -> np.ndarray:
    """Douglas–Peucker with both endpoints anchored (``OGRGeometry::
    Simplify`` semantics for a single path; GEOS DouglasPeuckerSimplifier).
    ``pts`` is (n, 2); returns the kept subsequence including endpoints.
    Iterative stack, numpy distance kernels — O(n log n) typical."""
    pts = np.asarray(pts, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        mid = pts[i + 1 : j]
        seg = pts[j] - pts[i]
        seg_len = float(np.hypot(seg[0], seg[1]))
        if seg_len == 0.0:
            d = np.hypot(*(mid - pts[i]).T)
        else:
            d = np.abs(np.cross(seg, mid - pts[i])) / seg_len
        k = int(np.argmax(d))
        if d[k] > eps:
            k += i + 1
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def _simplify_parts(kind: str, parts, eps: float):
    out_parts = []
    for part in parts:
        out_rings = []
        for ring in part:
            arr = np.asarray(ring, dtype=np.float64)
            simp = dp_simplify(arr, eps)
            # topology guard (SimplifyPreserveTopology spirit): a closed
            # ring collapsing below 4 points keeps its original shape
            closed = len(arr) > 1 and (arr[0] == arr[-1]).all()
            if closed and len(simp) < 4:
                simp = arr
            out_rings.append([(float(x), float(y)) for x, y in simp])
        out_parts.append(out_rings)
    return kind, out_parts


def simplify_dp(g: Column, eps) -> Column:
    """geometry struct -> simplified geometry struct (map-only)."""
    eps = float(eps)

    def simplify(s: pa.Array) -> pa.Array:
        return _geom_array(None if v is None else _simplify_parts(*v, eps)
                           for v in _geoms_in(s))

    return F.arrow_udf(simplify, GEOM_TYPE)(g)


def buffer_point(x: Column, y: Column, r, segments: int = 8) -> Column:
    """Positive point buffer as a regular ``segments``-gon polygon —
    PURE Column (sequence + transform + cos/sin evaluate JVM-side, so
    buffering a billion points is codegen, not Python).

    OGR analog: ``OGRGeometry::Buffer`` (GEOS OffsetCurve) with
    quadrant-segment control; exact circle area converges as segments grow
    (n-gon area = 0.5*n*r^2*sin(2*pi/n))."""
    import math as _math

    if segments < 3:
        raise ValueError("segments must be >= 3")
    # scalar radii are validated here; Column radii must be positive per
    # row by the caller's contract (a non-positive radius would yield a
    # degenerate/inverted ring whose |shoelace| area still looks positive)
    if not isinstance(r, Column) and not float(r) > 0.0:
        raise ValueError("buffer radius must be > 0")
    step = 2.0 * _math.pi / segments
    idx = F.sequence(F.lit(0), F.lit(segments - 1))
    rr = r if isinstance(r, Column) else F.lit(float(r))
    ring = F.transform(
        idx,
        lambda i: F.struct(
            (x + rr * F.cos(i.cast("double") * F.lit(step))).alias("x"),
            (y + rr * F.sin(i.cast("double") * F.lit(step))).alias("y"),
        ),
    )
    closed = F.concat(ring, F.slice(ring, 1, 1))
    return F.struct(
        F.lit("POLYGON").alias("kind"),
        F.array(F.array(closed)).alias("parts"),
    )


# ---------------------------------------------------------------------------
# GEOMETRYCOLLECTION: parse to an ARRAY of members, explode to rows.
# OGR represents a collection as a container (OGRGeometryCollection);
# the Spark-idiomatic shape is one member per row — exactly what
# ogr2ogr-style flattening does before writing simple-feature sinks.
# Nested collections flatten recursively (createFromWkt accepts them).
# ---------------------------------------------------------------------------


def wkt_to_members(wkt: str) -> list[tuple[str, list]]:
    """One WKT string -> list of (kind, parts) members. Non-collection
    input yields a single member; nested collections flatten."""
    m = _WKT_HEAD.match(wkt)
    if not m:
        raise ValueError(f"not WKT: {wkt[:40]!r}")
    kind = m.group(1).upper()
    if kind != "GEOMETRYCOLLECTION":
        return [wkt_to_parts(wkt)]
    body = m.group(2).strip()
    if body.upper() == "EMPTY":
        return []
    out = []
    for tok in _split_depth0(_strip_parens(body)):
        out.extend(wkt_to_members(tok.strip()))
    return out


def members_to_wkt(members) -> str:
    if not members:
        return "GEOMETRYCOLLECTION EMPTY"
    return (
        "GEOMETRYCOLLECTION ("
        + ", ".join(parts_to_wkt(k, p) for k, p in members)
        + ")"
    )


@F.arrow_udf(ArrayType(GEOM_TYPE))
def wkt_parse_collection(s: pa.Array) -> pa.Array:
    """WKT (any kind, incl. GEOMETRYCOLLECTION) -> array of geometry
    structs; pair with ``posexplode`` for one member per row."""
    return pa.array([None if v is None else wkt_to_members(v)
                     for v in s.to_pylist()], pa.list_(_GEOM_ARROW))


# ---------------------------------------------------------------------------
# coordinate transform over geometry structs (ogr2ogr -t_srs analog)
# ---------------------------------------------------------------------------


def geom_transform(g: Column, fx, fy) -> Column:
    """Apply a per-vertex coordinate mapping to every vertex of a geometry
    struct — PURE Column (three nested ``transform``s), so reprojecting a
    billion vector features is whole-stage codegen, no Python workers.

    ``fx``/``fy`` take (x_col, y_col) and return the new coordinate Column.
    OGR analog: ``OGRGeometry::transform(OGRCoordinateTransformation*)``
    (``ogr/ogrct.cpp``), which walks every vertex the same way."""
    parts = F.transform(
        g["parts"],
        lambda part: F.transform(
            part,
            lambda ring: F.transform(
                ring,
                lambda p: F.struct(
                    fx(p["x"], p["y"]).alias("x"), fy(p["x"], p["y"]).alias("y")
                ),
            ),
        ),
    )
    return F.struct(g["kind"].alias("kind"), parts.alias("parts"))


def geom_to_3857(g: Column) -> Column:
    """EPSG:4326 -> 3857 on every vertex (x=lon, y=lat in; meters out)."""
    from . import cells

    return geom_transform(
        g, lambda x, y: cells.lon_to_mx(x), lambda x, y: cells.lat_to_my(y)
    )


def geom_to_4326(g: Column) -> Column:
    """EPSG:3857 -> 4326 on every vertex (meters in; lon/lat out)."""
    from . import cells

    return geom_transform(
        g, lambda x, y: cells.mx_to_lon(x), lambda x, y: cells.my_to_lat(y)
    )


def geom_to_utm(g: Column, zone, south) -> Column:
    """EPSG:4326 -> UTM (EPSG:326xx/327xx) on every vertex — the
    ``ogr2ogr -t_srs EPSG:326xx`` vector-ETL shape. ``south`` is a bool or
    Boolean Column (one hemisphere per geometry; a polygon's vertices
    share the false-northing convention of its layer)."""
    from . import cells

    return geom_transform(
        g,
        lambda x, y: cells.lonlat_to_utm(x, y, zone, south)["easting"],
        lambda x, y: cells.lonlat_to_utm(x, y, zone, south)["northing"],
    )


def geom_from_utm(g: Column, zone, south) -> Column:
    """UTM meters -> EPSG:4326 on every vertex (inverse of
    :func:`geom_to_utm`)."""
    from . import cells

    return geom_transform(
        g,
        lambda x, y: cells.utm_to_lonlat(x, y, zone, south)["lon"],
        lambda x, y: cells.utm_to_lonlat(x, y, zone, south)["lat"],
    )


# ---------------------------------------------------------------------------
# GeoJSON / GeoJSONSeq
# ---------------------------------------------------------------------------

_GJ_TYPE = {
    "POINT": "Point",
    "MULTIPOINT": "MultiPoint",
    "LINESTRING": "LineString",
    "MULTILINESTRING": "MultiLineString",
    "POLYGON": "Polygon",
    "MULTIPOLYGON": "MultiPolygon",
}
_GJ_KIND = {v: k for k, v in _GJ_TYPE.items()}


def geojson_coordinates(g: Column, kind: str) -> Column:
    """RFC 7946 ``coordinates`` nesting for a uniform-kind geometry column
    — pure Column, so the whole feature writer stays JVM-side."""
    kind = kind.upper()
    xy = lambda p: F.array(p["x"], p["y"])  # noqa: E731
    parts = g["parts"]
    if kind == "POINT":
        p = F.element_at(F.element_at(F.element_at(parts, 1), 1), 1)
        return xy(p)
    if kind == "MULTIPOINT":
        return F.transform(
            parts, lambda part: xy(F.element_at(F.element_at(part, 1), 1))
        )
    if kind == "LINESTRING":
        return F.transform(F.element_at(F.element_at(parts, 1), 1), xy)
    if kind == "MULTILINESTRING":
        return F.transform(
            parts, lambda part: F.transform(F.element_at(part, 1), xy)
        )
    if kind == "POLYGON":
        return F.transform(
            F.element_at(parts, 1), lambda ring: F.transform(ring, xy)
        )
    if kind == "MULTIPOLYGON":
        return F.transform(
            parts,
            lambda part: F.transform(part, lambda ring: F.transform(ring, xy)),
        )
    raise ValueError(f"unsupported kind {kind!r}")


def to_geojson_features(
    df: DataFrame, geom_col: str, prop_cols: list[str], kind: str
) -> DataFrame:
    """Uniform-kind feature writer: one RFC 7946 Feature JSON string per row
    (column ``feature``) — the GeoJSONSeq line format. Pure Column end to
    end (``to_json`` over a struct); write with ``df.write.text(path)``."""
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit(_GJ_TYPE[kind.upper()]).alias("type"),
            geojson_coordinates(F.col(geom_col), kind).alias("coordinates"),
        ).alias("geometry"),
        F.struct(*[F.col(c) for c in prop_cols]).alias("properties"),
    )
    return df.select(F.to_json(feature).alias("feature"))


def write_geojson_seq(
    df: DataFrame, path: str, geom_col: str, prop_cols: list[str], kind: str,
    mode: str = "overwrite",
) -> None:
    to_geojson_features(df, geom_col, prop_cols, kind).write.mode(mode).text(path)


def _coords_ddl(kind: str) -> str:
    depth = {
        "POINT": 1, "MULTIPOINT": 2, "LINESTRING": 2,
        "MULTILINESTRING": 3, "POLYGON": 3, "MULTIPOLYGON": 4,
    }[kind.upper()]
    t = "double"
    for _ in range(depth):
        t = f"array<{t}>"
    return t


def geom_from_geojson_coordinates(coords: Column, kind: str) -> Column:
    """Inverse of :func:`geojson_coordinates` — pure Column."""
    kind = kind.upper()
    pt = lambda a: F.struct(  # noqa: E731
        F.element_at(a, 1).alias("x"), F.element_at(a, 2).alias("y")
    )
    if kind == "POINT":
        parts = F.array(F.array(F.array(pt(coords))))
    elif kind == "MULTIPOINT":
        parts = F.transform(coords, lambda a: F.array(F.array(pt(a))))
    elif kind == "LINESTRING":
        parts = F.array(F.array(F.transform(coords, pt)))
    elif kind == "MULTILINESTRING":
        parts = F.transform(coords, lambda path: F.array(F.transform(path, pt)))
    elif kind == "POLYGON":
        parts = F.array(F.transform(coords, lambda ring: F.transform(ring, pt)))
    elif kind == "MULTIPOLYGON":
        parts = F.transform(
            coords,
            lambda poly: F.transform(poly, lambda ring: F.transform(ring, pt)),
        )
    else:
        raise ValueError(f"unsupported kind {kind!r}")
    return F.struct(F.lit(kind).alias("kind"), parts.alias("parts"))


def read_geojson_seq(
    spark, path: str, kind: str, properties_ddl: str
) -> DataFrame:
    """GeoJSONSeq scan: plain lines-json read with an explicit schema (no
    inference pass — mandatory at 100 TB), then a pure-Column rebuild of
    the geometry struct. Property predicates push down into the json scan.
    """
    schema = (
        "type string, "
        f"geometry struct<type:string, coordinates:{_coords_ddl(kind)}>, "
        f"properties struct<{properties_ddl}>"
    )
    raw = spark.read.schema(schema).json(path)
    return raw.select(
        geom_from_geojson_coordinates(F.col("geometry.coordinates"), kind).alias("geom"),
        F.col("properties.*"),
    )


def parse_geojson_feature(line: str) -> tuple[str, list, dict]:
    """Driver/test helper: one Feature JSON line -> (kind, parts, props)."""
    obj = json.loads(line)
    gtype = obj["geometry"]["type"]
    kind = _GJ_KIND[gtype]
    c = obj["geometry"]["coordinates"]
    if kind == "POINT":
        parts = [[[tuple(c)]]]
    elif kind == "MULTIPOINT":
        parts = [[[tuple(p)]] for p in c]
    elif kind == "LINESTRING":
        parts = [[[tuple(p) for p in c]]]
    elif kind == "MULTILINESTRING":
        parts = [[[tuple(p) for p in path]] for path in c]
    elif kind == "POLYGON":
        parts = [[[tuple(p) for p in ring] for ring in c]]
    else:
        parts = [[[tuple(p) for p in ring] for ring in poly] for poly in c]
    return kind, parts, obj.get("properties") or {}


# ---------------------------------------------------------------------------
# Convex hull aggregate — OGRGeometry::ConvexHull (GEOS-backed in the public
# tree, ogr/ogrgeometry.cpp); here a two-level hull-of-hulls reduction.
# ---------------------------------------------------------------------------

def convex_hull_agg(
    pts: DataFrame,
    grp_col: str = "grp",
    x_col: str = "x",
    y_col: str = "y",
    fanin: int = 16,
) -> DataFrame:
    """Per-group convex hull metrics: (grp, n_pts, hull_area2, hull_perim).

    ``hull_area2`` is the raw shoelace sum (2x area) — integer-exact for
    integer coordinates below 2^52, so no tolerance is needed across
    engines; perimeter is rounded to 6 decimals. Vertex COUNT is
    deliberately not emitted: collinear boundary points make it
    convention-dependent, while area/perimeter are invariant.

    A point whose x or y is NULL or NaN is skipped, as SQL aggregates skip
    NULLs: ``n_pts`` counts the valid distinct points, and a group with no
    valid point gives no row.

    Scale shape (the reason this is not one grouped map): the convex hull
    is ASSOCIATIVE — hull(A ∪ B) = hull(hull(A) ∪ hull(B)) — so stage 1
    reduces each (grp, salt) bucket to its <= O(h) extreme vertices with
    Andrew's monotone chain, and stage 2 computes the exact hull of the
    tiny union. A billion-point group shuffles only ``fanin * h`` vertex
    rows into the final task; raw points never concentrate on one key.
    Both stages are Arrow-batched grouped maps, no per-row Python.
    """
    from . import geom as _geom

    g_type = pts.schema[grp_col].dataType.simpleString()
    salted = pts.select(
        F.col(grp_col).alias("_g"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).where(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
        & ~F.isnan("_x") & ~F.isnan("_y")
    ).withColumn(
        "_salt", F.pmod(F.xxhash64("_x", "_y"), F.lit(int(fanin)))
    )

    partial_ddl = f"_g {g_type}, _x double, _y double, _n long, _salt long"
    partial_schema = arrowrows.arrow_schema(partial_ddl)
    final_ddl = f"grp {g_type}, n_pts long, hull_area2 long, hull_perim double"
    final_schema = arrowrows.arrow_schema(final_ddl)

    # grouped Arrow UDFs stay unannotated: PySpark 4.1 applyInArrow fails
    # on partly annotated functions
    def local_hull(t):
        x, y = t.column("_x").to_numpy(), t.column("_y").to_numpy()
        h = _geom.np_convex_hull(np.column_stack([x, y]))
        # distinct points, -0.0 equal to 0.0
        xy = pa.table({"x": x + 0.0, "y": y + 0.0})
        n = xy.group_by(["x", "y"]).aggregate([]).num_rows
        g, salt = t.column("_g")[0].as_py(), t.column("_salt")[0].as_py()
        k = len(h)
        # carry the salt through so the final stage can de-duplicate the
        # per-bucket distinct counts
        return arrowrows.columns_table(
            [[g] * k, h[:, 0], h[:, 1], [n] * k, [salt] * k], partial_schema)

    def final_hull(t):
        x, y = t.column("_x").to_numpy(), t.column("_y").to_numpy()
        area2, perim = _geom.hull_metrics(
            _geom.np_convex_hull(np.column_stack([x, y])))
        # salt buckets partition DISTINCT (x, y) pairs (salt is a function
        # of the point), so the global distinct count is the sum of one
        # per-bucket count each
        n = sum(dict(zip(t.column("_salt").to_pylist(),
                         t.column("_n").to_pylist())).values())
        return arrowrows.rows_table(
            [(t.column("_g")[0].as_py(), n, int(round(area2)), round(perim, 6))],
            final_schema)

    partial = salted.groupBy("_g", "_salt").applyInArrow(
        local_hull, schema=partial_ddl)
    return partial.groupBy("_g").applyInArrow(final_hull, schema=final_ddl)
