"""WKT / WKB / GeoJSONSeq interop — roundtrips, spec pins, numpy oracles."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import formats, geom


SAMPLES = [
    "POINT (30 10)",
    "LINESTRING (30 10, 10 30, 40 40)",
    "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
    # holed polygon
    "POLYGON ((35 10, 45 45, 15 40, 10 20, 35 10), (20 30, 35 35, 30 20, 20 30))",
    "MULTIPOINT ((10 40), (40 30), (20 20), (30 10))",
    "MULTILINESTRING ((10 10, 20 20, 10 40), (40 40, 30 30, 40 20, 30 10))",
    # multi-part with a hole in the second part
    (
        "MULTIPOLYGON (((40 40, 20 45, 45 30, 40 40)), "
        "((20 35, 10 30, 10 10, 30 5, 45 20, 20 35), "
        "(30 20, 20 15, 20 25, 30 20)))"
    ),
]


# ---------------------------------------------------------------------------
# python-level codec properties (exercised via the same functions the UDFs use)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("wkt", SAMPLES)
def test_wkt_roundtrip_text(wkt):
    kind, parts = formats.wkt_to_parts(wkt)
    out = formats.parts_to_wkt(kind, parts)
    # canonical formatting == input for these already-canonical samples
    assert out == wkt
    # struct-level fixpoint
    assert formats.wkt_to_parts(out) == (kind, parts)


@pytest.mark.parametrize("wkt", SAMPLES)
def test_wkb_roundtrip_bytes(wkt):
    kind, parts = formats.wkt_to_parts(wkt)
    buf = formats.parts_to_wkb(kind, parts)
    k2, p2 = formats.wkb_to_parts(buf)
    assert (k2, p2) == (kind, parts)
    # encode is a fixpoint too
    assert formats.parts_to_wkb(k2, p2) == buf


def test_wkb_spec_pins():
    """Byte-exact pins from the OGC 99-049 / ISO 13249-3 WKB layout."""
    buf = formats.parts_to_wkb("POINT", [[[(1.0, 2.0)]]])
    assert buf.hex() == (
        "0101000000" + "000000000000f03f" + "0000000000000040"
    )
    # LINESTRING (0 0, 1 1): 0x02, count 2, four doubles
    k, parts = formats.wkt_to_parts("LINESTRING (0 0, 1 1)")
    buf = formats.parts_to_wkb(k, parts)
    assert buf.hex().startswith("010200000002000000")
    assert len(buf) == 1 + 4 + 4 + 4 * 8
    # MULTIPOLYGON nests full WKB polygons (each with its own 0x01 0x03 head)
    k, parts = formats.wkt_to_parts(SAMPLES[-1])
    buf = formats.parts_to_wkb(k, parts)
    assert buf[:5].hex() == "0106000000"
    assert buf.count(bytes.fromhex("0103000000")) == 2


def test_multipoint_flat_spelling():
    a = formats.wkt_to_parts("MULTIPOINT ((1 2), (3 4))")
    b = formats.wkt_to_parts("MULTIPOINT (1 2, 3 4)")
    assert a == b


def test_malformed_wkt_raises():
    for bad in ["", "CIRCLE (1 2)", "POINT 1 2", "POLYGON ((1 2, 3))"]:
        with pytest.raises(ValueError):
            formats.wkt_to_parts(bad)


def test_wkb_errors():
    with pytest.raises(ValueError):
        formats.wkb_to_parts(b"\x00" + b"\x00" * 20)  # big-endian marker
    good = formats.parts_to_wkb("POINT", [[[(1.0, 2.0)]]])
    with pytest.raises(ValueError):
        formats.wkb_to_parts(good + b"\x00")  # trailing bytes


# ---------------------------------------------------------------------------
# Spark column pipeline: parse UDFs + pure-Column scalars vs numpy oracle
# ---------------------------------------------------------------------------


def _oracle_area(parts) -> float:
    total = 0.0
    for rings in parts:
        ext = abs(geom.shoelace_area(np.asarray(rings[0])))
        holes = sum(abs(geom.shoelace_area(np.asarray(r))) for r in rings[1:])
        total += ext - holes
    return total


def _oracle_length(parts) -> float:
    total = 0.0
    for rings in parts:
        for r in rings:
            a = np.asarray(r, dtype=np.float64)
            total += float(np.sqrt(((a[1:] - a[:-1]) ** 2).sum(axis=1)).sum())
    return total


def test_spark_parse_and_scalars(spark):  # noqa: F811
    df = spark.createDataFrame(
        pd.DataFrame({"wid": range(len(SAMPLES)), "wkt": SAMPLES}),
        schema="wid long, wkt string",
    )
    g = formats.wkt_parse(F.col("wkt"))
    out = (
        df.select(
            "wid",
            g.alias("geom"),
        )
        .select(
            "wid",
            formats.geom_area(F.col("geom")).alias("area"),
            formats.geom_length(F.col("geom")).alias("length"),
            formats.geom_num_parts(F.col("geom")).alias("nparts"),
            formats.geom_num_points(F.col("geom")).alias("npoints"),
            formats.geom_bbox(F.col("geom")).alias("bbox"),
            formats.wkt_format(F.col("geom")).alias("wkt_out"),
        )
        .orderBy("wid")
        .collect()
    )
    for row, wkt in zip(out, SAMPLES):
        kind, parts = formats.wkt_to_parts(wkt)
        assert row.wkt_out == wkt
        assert row.nparts == len(parts)
        assert row.npoints == sum(len(r) for p in parts for r in p)
        if kind in ("POLYGON", "MULTIPOLYGON"):
            assert row.area == pytest.approx(_oracle_area(parts), rel=1e-12)
        assert row.length == pytest.approx(_oracle_length(parts), rel=1e-12)
        flat = [pt for p in parts for r in p for pt in r]
        xs, ys = [p[0] for p in flat], [p[1] for p in flat]
        assert (row.bbox.minx, row.bbox.miny, row.bbox.maxx, row.bbox.maxy) == (
            min(xs), min(ys), max(xs), max(ys)
        )


def test_spark_scalars_stay_jvm_side(spark):  # noqa: F811
    """The scalar hot path must not contain a Python worker stage: plan over
    an already-materialized geometry struct shows no BatchEvalPython /
    ArrowEvalPython nodes."""
    df = spark.createDataFrame(
        pd.DataFrame({"wkt": SAMPLES}), schema="wkt string"
    ).select(formats.wkt_parse(F.col("wkt")).alias("geom"))
    df_cached = spark.createDataFrame(df.collect(), schema=df.schema)
    plan = (
        df_cached.select(
            formats.geom_area(F.col("geom")).alias("a"),
            formats.geom_length(F.col("geom")).alias("l"),
            formats.geom_bbox(F.col("geom")).alias("b"),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan[:1500]


def test_spark_wkb_column_roundtrip(spark):  # noqa: F811
    df = spark.createDataFrame(pd.DataFrame({"wkt": SAMPLES}), schema="wkt string")
    out = (
        df.select(
            "wkt",
            formats.wkt_format(
                formats.wkb_parse(formats.wkb_from_wkt(F.col("wkt")))
            ).alias("back"),
        )
        .collect()
    )
    for r in out:
        assert r.back == r.wkt


EMPTIES = ["POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY",
           "MULTIPOINT EMPTY", "MULTILINESTRING EMPTY", "MULTIPOLYGON EMPTY"]


def test_wkb_empty_roundtrip(spark):  # noqa: F811
    # ISO empties: POINT as NaN NaN, LINESTRING with 0 points, POLYGON with
    # 0 rings, Multi* with 0 members; each reads back as parts = []
    assert formats.parts_to_wkb("POINT", []).hex() == (
        "0101000000" + "000000000000f87f" * 2)
    assert formats.parts_to_wkb("LINESTRING", []).hex() == "010200000000000000"
    assert formats.parts_to_wkb("POLYGON", []).hex() == "010300000000000000"
    for wkt in EMPTIES:
        kind = wkt.split()[0]
        assert formats.wkb_to_parts(formats.parts_to_wkb(kind, [])) == (kind, [])
    # one batch: each EMPTY next to a non-empty row
    rows = [(w,) for e in EMPTIES for w in (e, "POINT (1 2)")]
    df = spark.createDataFrame(rows, "wkt string").coalesce(1)
    wkb = formats.wkb_from_wkt(F.col("wkt"))
    out = df.select(
        "wkt",
        formats.wkt_format(formats.wkb_parse(wkb)).alias("back"),
        (formats.wkb_format(formats.wkt_parse(F.col("wkt"))) == wkb).alias("same"),
    ).collect()
    assert [(r.back, r.same) for r in out] == [(r[0], True) for r in rows]


def test_ragged_rings_format_and_simplify_without_json(spark):  # noqa: F811
    # exterior (6 vertices) and hole (4) differ in length: the formatters
    # and the simplifier read the struct as is, with no to_json detour
    wkt = "POLYGON ((0 0, 10 0, 10 10, 5 10.001, 0 10, 0 0), (2 2, 3 2, 3 3, 2 2))"
    g = spark.createDataFrame([(wkt,)], "wkt string").select(
        formats.wkt_parse(F.col("wkt")).alias("g"))
    out = g.select(
        formats.wkt_format(F.col("g")).alias("wkt"),
        formats.wkb_format(F.col("g")).alias("wkb"),
        formats.wkt_format(formats.simplify_dp(F.col("g"), 0.01)).alias("simple"),
    )
    plans = out._jdf.queryExecution().toString()  # analyzed ... physical
    assert "to_json" not in plans and "StructsToJson" not in plans
    (r,) = out.collect()
    assert r.wkt == wkt
    assert bytes(r.wkb) == formats.parts_to_wkb(*formats.wkt_to_parts(wkt))
    assert r.simple == (
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 2))")


# ---------------------------------------------------------------------------
# GeoJSONSeq sink + source
# ---------------------------------------------------------------------------


def test_geojson_seq_roundtrip(spark, tmp_path):  # noqa: F811
    polys = [s for s in SAMPLES if s.startswith("POLYGON")]
    df = spark.createDataFrame(
        pd.DataFrame({"pid": range(len(polys)), "wkt": polys}),
        schema="pid long, wkt string",
    ).select("pid", formats.wkt_parse(F.col("wkt")).alias("geom"))

    path = str(tmp_path / "seq")
    formats.write_geojson_seq(df, path, "geom", ["pid"], kind="POLYGON")

    # line-level: every line is a valid RFC 7946 Feature
    lines = [
        r.value for r in spark.read.text(path).collect()
    ]
    assert len(lines) == len(polys)
    for line in lines:
        kind, parts, props = formats.parse_geojson_feature(line)
        assert kind == "POLYGON" and "pid" in props

    back = formats.read_geojson_seq(spark, path, "POLYGON", "pid bigint")
    got = {
        r.pid: r.wkt_out
        for r in back.select(
            "pid", formats.wkt_format(F.col("geom")).alias("wkt_out")
        ).collect()
    }
    assert got == {i: w for i, w in enumerate(polys)}


def test_geojson_writer_is_pure_column(spark):  # noqa: F811
    df = spark.createDataFrame(
        pd.DataFrame({"pid": [1], "wkt": [SAMPLES[2]]}), schema="pid long, wkt string"
    ).select("pid", formats.wkt_parse(F.col("wkt")).alias("geom"))
    df_cached = spark.createDataFrame(df.collect(), schema=df.schema)
    plan = (
        formats.to_geojson_features(df_cached, "geom", ["pid"], "POLYGON")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan[:1500]


# ---------------------------------------------------------------------------
# property-based roundtrips (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# WKB is byte-exact for any finite float64; WKT goes through %.10g text so
# coordinates are normalized to 10 significant digits first.
_finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e15, max_value=1e15
)
_pt = st.tuples(_finite, _finite)
_ring = st.lists(_pt, min_size=3, max_size=8).map(lambda r: r + [r[0]])
_poly_parts = st.lists(st.lists(_ring, min_size=1, max_size=3), min_size=1, max_size=3)
_line_parts = st.lists(
    st.lists(_pt, min_size=2, max_size=8).map(lambda p: [p]), min_size=1, max_size=3
)


def _g10(v: float) -> float:
    return float(f"{v:.10g}")


def _norm10(parts):
    return [
        [[(_g10(x), _g10(y)) for x, y in ring] for ring in part] for part in parts
    ]


@settings(max_examples=60, deadline=None)
@given(_poly_parts)
def test_hyp_wkb_polygon_roundtrip(parts):
    kind = "MULTIPOLYGON" if len(parts) > 1 else "POLYGON"
    buf = formats.parts_to_wkb(kind, parts)
    assert formats.wkb_to_parts(buf) == (kind, parts)


@settings(max_examples=60, deadline=None)
@given(_line_parts)
def test_hyp_wkb_line_roundtrip(parts):
    kind = "MULTILINESTRING" if len(parts) > 1 else "LINESTRING"
    buf = formats.parts_to_wkb(kind, parts)
    assert formats.wkb_to_parts(buf) == (kind, parts)


@settings(max_examples=60, deadline=None)
@given(_poly_parts)
def test_hyp_wkt_polygon_roundtrip(parts):
    parts = _norm10(parts)
    kind = "MULTIPOLYGON" if len(parts) > 1 else "POLYGON"
    wkt = formats.parts_to_wkt(kind, parts)
    k2, p2 = formats.wkt_to_parts(wkt)
    assert (k2, p2) == (kind, parts)
    # formatting is a fixpoint after one normalization pass
    assert formats.parts_to_wkt(k2, p2) == wkt


@settings(max_examples=60, deadline=None)
@given(st.lists(_pt, min_size=1, max_size=6))
def test_hyp_wkt_multipoint_roundtrip(pts):
    parts = [[[(_g10(x), _g10(y))]] for x, y in pts]
    kind = "MULTIPOINT" if len(parts) > 1 else "POINT"
    wkt = formats.parts_to_wkt(kind, parts)
    assert formats.wkt_to_parts(wkt) == (kind, parts)


# ---------------------------------------------------------------------------
# simplify (Douglas-Peucker) + point buffer
# ---------------------------------------------------------------------------


def _dp_reference(pts, eps):
    """Textbook recursive DP — independent of the iterative implementation."""
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) <= 2:
        return pts
    seg = pts[-1] - pts[0]
    L = np.hypot(*seg)
    mid = pts[1:-1]
    d = (
        np.hypot(*(mid - pts[0]).T)
        if L == 0
        else np.abs(np.cross(seg, mid - pts[0])) / L
    )
    k = int(np.argmax(d))
    if d[k] <= eps:
        return np.vstack([pts[0], pts[-1]])
    left = _dp_reference(pts[: k + 2], eps)
    right = _dp_reference(pts[k + 1 :], eps)
    return np.vstack([left[:-1], right])


def test_dp_matches_recursive_reference():
    rng = np.random.default_rng(11)
    for _ in range(50):
        n = int(rng.integers(3, 40))
        pts = rng.random((n, 2)) * 100
        eps = float(rng.random() * 10)
        got = formats.dp_simplify(pts, eps)
        want = _dp_reference(pts, eps)
        np.testing.assert_array_equal(got, want)


def test_dp_removes_collinear_midpoints_exactly():
    ring = np.array(
        [[0, 0], [2, 0], [4, 0], [4, 1.5], [4, 3], [2, 3], [0, 3], [0, 1.5], [0, 0]],
        dtype=np.float64,
    )
    out = formats.dp_simplify(ring, 0.5)
    np.testing.assert_array_equal(
        out, np.array([[0, 0], [4, 0], [4, 3], [0, 3], [0, 0]], dtype=np.float64)
    )


def test_simplify_topology_guard_keeps_tiny_rings():
    # a closed ring entirely within eps would collapse to < 4 points:
    # the guard returns it unchanged
    kind, parts = formats.wkt_to_parts("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    _, simp = formats._simplify_parts(kind, parts, eps=10.0)
    assert simp == parts


def test_simplify_spark_column(spark):  # noqa: F811
    wkts = [
        "POLYGON ((0 0, 2 0, 4 0, 4 2, 4 4, 2 4, 0 4, 0 2, 0 0))",
        "LINESTRING (0 0, 1 0.001, 2 0, 3 0.001, 4 0)",
    ]
    df = spark.createDataFrame(pd.DataFrame({"wkt": wkts}), schema="wkt string")
    out = (
        df.select(
            formats.wkt_format(
                formats.simplify_dp(formats.wkt_parse(F.col("wkt")), 0.5)
            ).alias("simp")
        )
        .collect()
    )
    assert out[0].simp == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert out[1].simp == "LINESTRING (0 0, 4 0)"


def test_buffer_point_area_and_plan(spark):  # noqa: F811
    df = spark.createDataFrame(
        pd.DataFrame({"x": [10.0, -3.0], "y": [5.0, 7.0], "r": [1.0, 2.5]}),
        schema="x double, y double, r double",
    )
    g = formats.buffer_point(F.col("x"), F.col("y"), F.col("r"), segments=64)
    sel = df.select(
        "r",
        formats.geom_area(g).alias("area"),
        formats.geom_num_points(g).alias("npts"),
        formats.geom_bbox(g).alias("bb"),
    )
    rows = sel.collect()
    for row in rows:
        ngon = 0.5 * 64 * row.r**2 * math.sin(2 * math.pi / 64)
        assert row.area == pytest.approx(ngon, rel=1e-12)
        assert row.npts == 65
        assert row.bb.maxx - row.bb.minx == pytest.approx(2 * row.r, rel=1e-9)
    # entire buffer+scalars pipeline is JVM-only
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan[:1500]


def test_buffer_rejects_degenerate_segments():
    with pytest.raises(ValueError, match="segments"):
        formats.buffer_point(F.lit(0.0), F.lit(0.0), 1.0, segments=2)


# ---------------------------------------------------------------------------
# GEOMETRYCOLLECTION + coordinate transform
# ---------------------------------------------------------------------------


def test_gc_parse_flatten_roundtrip():
    gc = (
        "GEOMETRYCOLLECTION (POINT (4 6), "
        "LINESTRING (4 6, 7 10), "
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"
    )
    members = formats.wkt_to_members(gc)
    assert [k for k, _ in members] == ["POINT", "LINESTRING", "POLYGON"]
    assert formats.members_to_wkt(members) == gc
    # nested collections flatten
    nested = f"GEOMETRYCOLLECTION (POINT (1 2), {gc})"
    kinds = [k for k, _ in formats.wkt_to_members(nested)]
    assert kinds == ["POINT", "POINT", "LINESTRING", "POLYGON"]
    # non-collection input is a singleton member
    assert formats.wkt_to_members("POINT (1 2)") == [("POINT", [[[(1.0, 2.0)]]])]
    assert formats.wkt_to_members("GEOMETRYCOLLECTION EMPTY") == []
    assert formats.members_to_wkt([]) == "GEOMETRYCOLLECTION EMPTY"


def test_gc_spark_explode_scalars(spark):  # noqa: F811
    gc = (
        "GEOMETRYCOLLECTION (POINT (4 6), "
        "LINESTRING (0 0, 3 0), "
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"
    )
    df = spark.createDataFrame(pd.DataFrame({"wkt": [gc]}), schema="wkt string")
    out = (
        df.select(
            F.posexplode(formats.wkt_parse_collection(F.col("wkt"))).alias(
                "idx", "geom"
            )
        )
        .select(
            "idx",
            F.col("geom")["kind"].alias("kind"),
            formats.geom_area(F.col("geom")).alias("area"),
            formats.geom_length(F.col("geom")).alias("length"),
        )
        .orderBy("idx")
        .collect()
    )
    assert [(r.kind, r.area, r.length) for r in out] == [
        ("POINT", 0.0, 0.0),
        ("LINESTRING", 0.0, 3.0),
        ("POLYGON", 4.0, 8.0),
    ]


def test_geom_transform_3857_pins_and_roundtrip(spark):  # noqa: F811
    wkts = [
        "POLYGON ((-10 -20, 10 -20, 10 20, -10 20, -10 -20))",
        "LINESTRING (180 0, 0 0)",
    ]
    df = spark.createDataFrame(pd.DataFrame({"wkt": wkts}), schema="wkt string")
    g = formats.wkt_parse(F.col("wkt"))
    proj = formats.geom_to_3857(g)
    back = formats.geom_to_4326(proj)
    rows = (
        df.select(
            formats.geom_bbox(proj).alias("bb"),
            formats.geom_bbox(back).alias("bb4326"),
            formats.geom_bbox(g).alias("bb_src"),
        )
        .collect()
    )
    ORIGIN_SHIFT = 20037508.342789244
    # GlobalMercator pins: lon 180 -> ORIGIN_SHIFT meters, lat/lon 0 -> 0
    assert rows[1].bb.maxx == pytest.approx(ORIGIN_SHIFT, abs=1e-6)
    # lat 0 -> ~0 m (tan(pi/4) is one ulp under 1.0 in doubles; the same
    # formula-faithful wobble GlobalMercator itself produces)
    assert rows[1].bb.minx == 0.0
    assert rows[1].bb.miny == pytest.approx(0.0, abs=1e-6)
    assert rows[0].bb.maxx == pytest.approx(ORIGIN_SHIFT / 18, rel=1e-12)
    # roundtrip returns the source coordinates
    for r in rows:
        for f in ("minx", "miny", "maxx", "maxy"):
            assert getattr(r.bb4326, f) == pytest.approx(getattr(r.bb_src, f), abs=1e-9)


def test_geom_transform_is_pure_column(spark):  # noqa: F811
    df = spark.createDataFrame(
        pd.DataFrame({"wkt": ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"]}),
        schema="wkt string",
    ).select(formats.wkt_parse(F.col("wkt")).alias("geom"))
    df_cached = spark.createDataFrame(df.collect(), schema=df.schema)
    plan = (
        df_cached.select(
            formats.geom_bbox(formats.geom_to_3857(F.col("geom"))).alias("bb")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan[:1500]


def test_geom_utm_roundtrip_and_area_scale(spark):
    # a 0.2 x 0.2 deg rect near (9, 45): UTM round-trip returns the vertices
    # (<1e-7 deg), and the UTM-plane area is ~ the ellipsoidal patch area
    # within the TM scale distortion (k0^2 at the central meridian)
    from gdal_scripts_spark import formats

    wkt = "POLYGON ((8.9 44.9, 9.1 44.9, 9.1 45.1, 8.9 45.1, 8.9 44.9))"
    df = spark.range(1).select(formats.wkt_parse(F.lit(wkt)).alias("g"))
    utm = formats.geom_to_utm(F.col("g"), 32, False)
    back = formats.geom_from_utm(utm, 32, False)
    r = df.select(
        formats.geom_area(utm).alias("area_m2"),
        formats.wkt_format(back).alias("w"),
    ).collect()[0]
    # expected patch area: dx = 0.2 deg lon at lat 45 on WGS84, dy = 0.2 deg lat
    import math
    a, e2 = 6378137.0, 0.0066943799901413165
    lat = math.radians(45.0)
    n = a / math.sqrt(1 - e2 * math.sin(lat) ** 2)
    m = a * (1 - e2) / (1 - e2 * math.sin(lat) ** 2) ** 1.5
    expect = (math.radians(0.2) * n * math.cos(lat)) * (math.radians(0.2) * m)
    assert abs(r["area_m2"] - expect * 0.9996 ** 2) / expect < 2e-3
    # round-trip vertices
    got = [tuple(map(float, p.split())) for p in
           r["w"].split("((")[1].rstrip("))").split(", ")]
    want = [(8.9, 44.9), (9.1, 44.9), (9.1, 45.1), (8.9, 45.1), (8.9, 44.9)]
    for (gx, gy), (wx, wy) in zip(got, want):
        assert abs(gx - wx) < 1e-7 and abs(gy - wy) < 1e-7


def test_geodesic_length_meridian_and_equator(spark):
    # meridian arc: d = R * dphi exactly (haversine is exact for dlon=0);
    # equator arc: d = R * dlam (cos 0 = 1)
    R = 6371008.8
    wkt_m = "LINESTRING (10 0, 10 30)"
    wkt_e = "LINESTRING (0 0, 90 0)"
    r = spark.range(1).select(
        formats.geodesic_length(
            formats.wkt_parse(F.lit(wkt_m))).alias("dm"),
        formats.geodesic_length(
            formats.wkt_parse(F.lit(wkt_e))).alias("de"),
    ).collect()[0]
    assert abs(r["dm"] - R * math.radians(30)) < 1e-6
    assert abs(r["de"] - R * math.radians(90)) < 1e-6


def test_geodesic_area_band_closed_form(spark):
    # zonal band rect [lam0, lam0+dlam] x [phi0, phi1]: spherical area =
    # R^2 * dlam * (sin phi1 - sin phi0); holes subtract
    R = 6371008.8
    wkt = "POLYGON ((10 20, 30 20, 30 50, 10 50, 10 20))"
    hole = ("POLYGON ((10 20, 30 20, 30 50, 10 50, 10 20), "
            "(15 25, 20 25, 20 30, 15 30, 15 25))")
    r = spark.range(1).select(
        formats.geodesic_area(formats.wkt_parse(F.lit(wkt))).alias("a"),
        formats.geodesic_area(formats.wkt_parse(F.lit(hole))).alias("ah"),
        formats.geodesic_area(
            formats.wkt_parse(F.lit("LINESTRING (0 0, 1 1)"))).alias("al"),
    ).collect()[0]
    exp = R * R * math.radians(20) * (math.sin(math.radians(50))
                                      - math.sin(math.radians(20)))
    exp_hole = R * R * math.radians(5) * (math.sin(math.radians(30))
                                          - math.sin(math.radians(25)))
    assert abs(r["a"] - exp) / exp < 1e-12
    assert abs(r["ah"] - (exp - exp_hole)) / exp < 1e-12
    assert r["al"] == 0.0


def test_wgs84_geodesic_known_constants(spark):
    # public anchors: WGS84 quarter meridian 10_001_965.729 m, equatorial
    # quarter 10_018_754.171 m (a*pi/2), authalic radius 6_371_007.1810 m
    assert abs(formats.WGS84_AUTHALIC_R - 6371007.1810) < 1e-3
    r = spark.range(1).select(
        formats.vincenty_distance_m(
            F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(90.0)).alias("qm"),
        formats.vincenty_distance_m(
            F.lit(0.0), F.lit(0.0), F.lit(90.0), F.lit(0.0)).alias("qe"),
        formats.vincenty_distance_m(
            F.lit(5.0), F.lit(10.0), F.lit(5.0), F.lit(10.0)).alias("zero"),
    ).collect()[0]
    assert abs(r["qm"] - 10001965.729) < 1e-2
    assert abs(r["qe"] - 6378137.0 * math.pi / 2.0) < 1e-4
    assert r["zero"] == 0.0


def test_wgs84_geodesic_length_vs_python_vincenty(spark):
    # geometry-struct fold == a sequential converged-Vincenty oracle
    def vin(lon1, lat1, lon2, lat2):
        a, f = 6378137.0, 1 / 298.257223563
        b = a * (1 - f)
        L = math.radians(lon2 - lon1)
        U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
        U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
        su1, cu1 = math.sin(U1), math.cos(U1)
        su2, cu2 = math.sin(U2), math.cos(U2)
        lam = L
        for _ in range(50):
            sl, cl = math.sin(lam), math.cos(lam)
            ss = math.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
            cs = su1 * su2 + cu1 * cu2 * cl
            sig = math.atan2(ss, cs)
            sa = 0.0 if ss == 0 else cu1 * cu2 * sl / ss
            c2a = 1 - sa * sa
            c2m = 0.0 if c2a == 0 else cs - 2 * su1 * su2 / c2a
            C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
            lam = L + (1 - C) * f * sa * (
                sig + C * ss * (c2m + C * cs * (-1 + 2 * c2m * c2m)))
        sl, cl = math.sin(lam), math.cos(lam)
        ss = math.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
        cs = su1 * su2 + cu1 * cu2 * cl
        sig = math.atan2(ss, cs)
        sa = 0.0 if ss == 0 else cu1 * cu2 * sl / ss
        c2a = 1 - sa * sa
        c2m = 0.0 if c2a == 0 else cs - 2 * su1 * su2 / c2a
        u2 = c2a * (a * a - b * b) / (b * b)
        A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
        B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
        ds = B * ss * (c2m + B / 4 * (cs * (-1 + 2 * c2m * c2m)
                       - B / 6 * c2m * (-3 + 4 * ss * ss) * (-3 + 4 * c2m * c2m)))
        return b * A * (sig - ds)

    pts = [(13.4, 52.5), (2.35, 48.85), (-3.7, 40.4), (12.5, 41.9)]
    wkt = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
    got = spark.range(1).select(
        formats.geodesic_length_wgs84(formats.wkt_parse(F.lit(wkt))).alias("d")
    ).collect()[0]["d"]
    exp = sum(vin(*pts[i], *pts[i + 1]) for i in range(len(pts) - 1))
    assert abs(got - exp) < 1e-4, (got, exp)


def test_wgs84_vs_sphere_delta_pinned(spark):
    # the sphere-limit formulas carry a known systematic error vs the
    # ellipsoid: pin magnitude AND sign on both axes (meridian arcs are
    # SHORTER on the ellipsoid than on the mean sphere, equatorial arcs
    # LONGER; zonal-band areas differ by ~0.1-0.3%)
    line_m = "LINESTRING (0 0, 0 90)"
    line_e = "LINESTRING (0 0, 90 0)"
    poly = "POLYGON ((10 20, 12 20, 12 50, 10 50, 10 20))"
    r = spark.range(1).select(
        formats.geodesic_length(formats.wkt_parse(F.lit(line_m))).alias("sm"),
        formats.geodesic_length_wgs84(formats.wkt_parse(F.lit(line_m))).alias("em"),
        formats.geodesic_length(formats.wkt_parse(F.lit(line_e))).alias("se"),
        formats.geodesic_length_wgs84(formats.wkt_parse(F.lit(line_e))).alias("ee"),
        formats.geodesic_area(formats.wkt_parse(F.lit(poly))).alias("sa"),
        formats.geodesic_area_wgs84(formats.wkt_parse(F.lit(poly))).alias("ea"),
    ).collect()[0]
    assert r["em"] < r["sm"] and 0.0004 < (r["sm"] - r["em"]) / r["em"] < 0.0007
    assert r["ee"] > r["se"] and 0.0008 < (r["ee"] - r["se"]) / r["ee"] < 0.0015
    assert 0.0001 < abs(r["ea"] - r["sa"]) / r["ea"] < 0.006


def test_wgs84_area_exact_for_zonal_band(spark):
    # authalic mapping preserves areas exactly: for a meridian/parallel-
    # bounded band the result IS the exact ellipsoid surface area
    # Ra^2 * dlam * (sin(phi_a(lat1)) - sin(phi_a(lat0)))
    e2 = formats.WGS84_E2
    e = math.sqrt(e2)

    def q(lat):
        s = math.sin(math.radians(lat))
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - 1 / (2 * e) * math.log((1 - e * s) / (1 + e * s)))

    qp = q(90.0)
    Ra = formats.WGS84_AUTHALIC_R
    got = spark.range(1).select(
        formats.geodesic_area_wgs84(formats.wkt_parse(
            F.lit("POLYGON ((10 20, 12 20, 12 50, 10 50, 10 20))"))).alias("a")
    ).collect()[0]["a"]
    exp = Ra * Ra * math.radians(2) * (q(50) / qp - q(20) / qp)
    assert abs(got - exp) / exp < 1e-12
    # full-globe sanity: 4*pi*Ra^2 equals the published WGS84 surface
    # area 510_065_621.7 km^2 within 1 km^2
    assert abs(4 * math.pi * Ra * Ra / 1e6 - 510065621.7) < 1.0


def test_geodesic_area_dateline_crossing_ring(spark):
    # a 2-degree zonal band straddling the antimeridian (179 -> -179):
    # per-edge wrap normalization must read the delta as +/-2 deg, not
    # -/+358 (round-4 ADVICE). Same closed form as the band test, and the
    # identical band placed away from the dateline must agree exactly.
    R = 6371008.8
    cross = "POLYGON ((179 20, -179 20, -179 50, 179 50, 179 20))"
    plain = "POLYGON ((10 20, 12 20, 12 50, 10 50, 10 20))"
    r = spark.range(1).select(
        formats.geodesic_area(formats.wkt_parse(F.lit(cross))).alias("ax"),
        formats.geodesic_area(formats.wkt_parse(F.lit(plain))).alias("ap"),
    ).collect()[0]
    exp = R * R * math.radians(2) * (math.sin(math.radians(50))
                                     - math.sin(math.radians(20)))
    assert abs(r["ax"] - exp) / exp < 1e-12
    assert abs(r["ax"] - r["ap"]) / exp < 1e-12


def test_segmentize_counts_and_geometry(spark):
    # 3-4-5 triangle ring, max_len 1.0: legs split into 3, 4, and 5 pieces
    # -> 12 new ring vertices + closing point; length and area unchanged
    wkt = "POLYGON ((0 0, 3 0, 3 4, 0 0))"
    df = spark.range(1).select(formats.wkt_parse(F.lit(wkt)).alias("src"))
    g = formats.segmentize(F.col("src"), 1.0)
    r = df.select(
        formats.geom_num_points(g).alias("n"),
        formats.geom_length(g).alias("len"),
        formats.geom_area(g).alias("area"),
    ).collect()[0]
    assert r["n"] == 13
    assert abs(r["len"] - 12.0) < 1e-12
    assert abs(r["area"] - 6.0) < 1e-12
    # every vertex lies on the triangle boundary: for the hypotenuse
    # segment from (3,4) back to (0,0), collinearity is 4x - 3y == 0; the
    # two axis legs pin x*y*(x-3)*(y-4) relations. Checked with one pure-
    # Column fold over the densified ring (no formatter UDF needed).
    ring = F.element_at(F.element_at(g["parts"], 1), 1)
    bad = F.aggregate(
        ring,
        F.lit(0),
        lambda acc, p: acc
        + F.when(
            (p["y"] == 0.0)  # bottom leg
            | (p["x"] == 3.0)  # right leg
            | (F.abs(p["x"] * 4.0 - p["y"] * 3.0) < 1e-12),  # hypotenuse
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    assert df.select(bad.alias("b")).collect()[0]["b"] == 0


def test_segmentize_noop_when_short_and_validates(spark):
    wkt = "LINESTRING (0 0, 1 0)"
    g = formats.segmentize(formats.wkt_parse(F.lit(wkt)), 10.0)
    r = spark.range(1).select(
        formats.geom_num_points(g).alias("n")).collect()[0]
    assert r["n"] == 2
    with pytest.raises(ValueError):
        formats.segmentize(F.lit(None), 0.0)


def test_segmentize_column_path_rejects_nonpositive_max_len(spark):
    # the per-row Column path enforces max_len > 0 with raise_error at
    # execution (round-4 ADVICE: it previously no-op'd via null division)
    df = spark.createDataFrame(
        [("LINESTRING (0 0, 5 0)", 0.0)], "wkt string, ml double"
    )
    g = formats.segmentize(formats.wkt_parse(F.col("wkt")), F.col("ml"))
    with pytest.raises(Exception, match="max_len must be > 0"):
        df.select(formats.geom_num_points(g).alias("n")).collect()


def test_segmentize_invariants_random_batch(spark):
    # 200 seeded random polylines x random per-row max_len (Column path):
    # total length preserved, no segment exceeds max_len, vertex count
    # never shrinks, endpoints unchanged — all checked as Column folds in
    # ONE job (no per-example Spark round-trips)
    rng = np.random.default_rng(41)
    rows = []
    for i in range(200):
        n = rng.integers(3, 7)
        pts = rng.uniform(-100, 100, size=(n, 2)).round(3)
        wkt = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in pts) + ")"
        rows.append((i, wkt, float(rng.choice([0.3, 1.7, 9.9]))))
    df = spark.createDataFrame(rows, "id long, wkt string, ml double")
    src = df.select("id", "ml", formats.wkt_parse(F.col("wkt")).alias("g"))
    seg = formats.segmentize(F.col("g"), F.col("ml"))
    ring0 = F.element_at(F.element_at(F.col("g")["parts"], 1), 1)
    ring1 = F.element_at(F.element_at(seg["parts"], 1), 1)

    def max_seg(ring):
        a = F.slice(ring, 1, F.size(ring) - 1)
        b = F.slice(ring, 2, F.size(ring) - 1)
        return F.array_max(F.zip_with(
            a, b,
            lambda p, q: F.sqrt((p["x"] - q["x"]) * (p["x"] - q["x"])
                                + (p["y"] - q["y"]) * (p["y"] - q["y"])),
        ))

    out = src.select(
        "id", "ml",
        formats.geom_length(F.col("g")).alias("len0"),
        formats.geom_length(seg).alias("len1"),
        formats.geom_num_points(F.col("g")).alias("n0"),
        formats.geom_num_points(seg).alias("n1"),
        max_seg(ring1).alias("maxseg"),
        (F.element_at(ring0, 1) == F.element_at(ring1, 1)).alias("head_ok"),
        (F.element_at(ring0, -1) == F.element_at(ring1, -1)).alias("tail_ok"),
    ).collect()
    assert len(out) == 200
    for r in out:
        assert abs(r["len1"] - r["len0"]) <= 1e-9 * max(1.0, r["len0"]), r
        assert r["maxseg"] <= r["ml"] + 1e-9, r
        assert r["n1"] >= r["n0"], r
        assert r["head_ok"] and r["tail_ok"], r


def test_np_convex_hull_degenerate_and_collinear_drop():
    from gdal_scripts_spark.geom import hull_metrics, np_convex_hull

    # single + duplicate points
    assert len(np_convex_hull(np.array([[2.0, 3.0], [2.0, 3.0]]))) == 1
    # all collinear -> the two extremes, zero area, doubled length
    h = np_convex_hull(np.array([[0, 0], [1, 1], [3, 3], [2, 2]], float))
    assert np.array_equal(h, [[0, 0], [3, 3]])
    a2, p = hull_metrics(h)
    assert a2 == 0.0 and abs(p - 2 * np.hypot(3, 3)) < 1e-12
    # collinear boundary points on a square edge are dropped
    h2 = np_convex_hull(
        np.array([[0, 0], [2, 0], [4, 0], [4, 4], [0, 4]], float))
    assert len(h2) == 4
    assert hull_metrics(h2) == (32.0, 16.0)


def test_convex_hull_agg_fanin_invariance(spark):
    # hull-of-hulls associativity: any fan-in gives the identical answer
    import pandas as pd
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "grp": rng.integers(0, 3, 400),
        "x": rng.integers(0, 50, 400),
        "y": rng.integers(0, 50, 400),
    })
    df = spark.createDataFrame(pdf, "grp long, x long, y long")
    a = sorted(map(tuple, formats.convex_hull_agg(df, fanin=1).collect()))
    b = sorted(map(tuple, formats.convex_hull_agg(df, fanin=16).collect()))
    assert a == b and len(a) == 3
    # a string group key keeps its type through both grouped-map stages
    sdf = df.withColumn("grp", F.concat(F.lit("g"), F.col("grp").cast("string")))
    out = formats.convex_hull_agg(sdf, fanin=16)
    assert out.schema["grp"].dataType.simpleString() == "string"
    c = sorted(map(tuple, out.collect()))
    assert c == [(f"g{g}", *rest) for g, *rest in a]


def test_convex_hull_agg_skips_null_and_nan(spark):
    # a NULL or NaN coordinate is skipped like a NULL in a SQL aggregate:
    # n_pts counts valid distinct points; a group of only invalid points
    # gives no row
    nan = float("nan")
    rows = [(1, 0.0, 0.0), (1, 4.0, 0.0), (1, 4.0, 4.0), (1, 0.0, 4.0),
            (1, nan, 1.0), (1, 2.0, None), (2, None, 1.0), (2, 1.0, nan)]
    df = spark.createDataFrame(rows, "grp long, x double, y double")
    for fanin in (1, 16):
        out = sorted(map(tuple, formats.convex_hull_agg(df, fanin=fanin).collect()))
        assert out == [(1, 4, 32, 16.0)], out
