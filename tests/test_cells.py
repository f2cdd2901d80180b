"""Tile/cell math: Spark native exprs vs the sequential numpy oracle, plus
pinned GDAL-parity anchors (TMS↔XYZ flip, ceil-1 boundary rule, quadkey)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import cells


def _rng_points(n=500, seed=7):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179.9, 179.9, n)
    lat = rng.uniform(-84.0, 84.0, n)
    return lon, lat


# ---- oracle-level pinned anchors (hand-computed GlobalMercator values) ----

def test_np_mercator_known_values():
    mx, my = cells.np_lonlat_to_meters(0.0, 0.0)
    assert abs(mx) < 1e-9 and abs(my) < 1e-6
    mx, my = cells.np_lonlat_to_meters(180.0, 0.0)
    assert abs(mx - cells.ORIGIN_SHIFT) < 1e-6
    # gdal2tiles GlobalMercator.LatLonToMeters(lat=45, lon=90)
    mx, my = cells.np_lonlat_to_meters(90.0, 45.0)
    assert abs(mx - 10018754.171394622) < 1e-5
    assert abs(my - 5621521.486192067) < 1e-5
    lon, lat = cells.np_meters_to_lonlat(mx, my)
    assert abs(lon - 90.0) < 1e-9 and abs(lat - 45.0) < 1e-9


def test_np_tile_boundary_ceil_rule():
    # PixelsToTile = ceil(p/256)-1: a point exactly on the seam belongs to
    # the lower/left tile (SURVEY.md §7 hard part #2). The equator at z=1 is
    # the seam between ty=0 and ty=1 and is exactly representable in FP
    # ((0+ORIGIN_SHIFT)/res == 256 exactly).
    _, ty = cells.np_meters_to_tile(0.0, 0.0, 1)
    assert int(ty) == 0
    _, ty = cells.np_meters_to_tile(0.0, 1e-3, 1)
    assert int(ty) == 1


def test_np_quadkey_known():
    # z=3, google tile (3,5) -> tms ty = 7-5 = 2 ; quadkey digits from
    # (tx=3, y_xyz=5): bits msb->lsb: (0,1)->2, (1,0)->1, (1,1)->3
    assert cells.np_quadkey(3, 2, 3) == "213"
    assert cells.np_quadkey(0, (1 << 5) - 1, 5) == "00000"


def test_np_tms_xyz_flip():
    lon, lat = 13.4, 52.5  # Berlin-ish
    z = 10
    tx, ty = cells.np_lonlat_to_tile_tms(np.array([lon]), np.array([lat]), z)
    y_xyz = (1 << z) - 1 - ty
    # well-known OSM tile for Berlin at z=10 is x=550, y=335
    assert int(tx[0]) == 550
    assert int(y_xyz[0]) == 335


def test_np_hilbert_small_grid():
    # z=1: order must be the classic U: (0,0)=0,(0,1)=1,(1,1)=2,(1,0)=3
    d = cells.np_hilbert_d(np.array([0, 0, 1, 1]), np.array([0, 1, 1, 0]), 1)
    assert d.tolist() == [0, 1, 2, 3]
    # bijectivity at z=4
    xs, ys = np.meshgrid(np.arange(16), np.arange(16))
    d = cells.np_hilbert_d(xs.ravel(), ys.ravel(), 4)
    assert sorted(d.tolist()) == list(range(256))


# ---- Spark exprs match the numpy oracle ----

@pytest.fixture(scope="module")
def pts_df(spark):
    lon, lat = _rng_points()
    return (
        spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
        ),
        lon,
        lat,
    )


def test_spark_tile_matches_oracle(pts_df):
    df, lon, lat = pts_df
    for z in (0, 3, 8, 12):
        tx_c, ty_c = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), z)
        rows = df.select(
            tx_c.alias("tx"), ty_c.alias("ty"), F.col("lon"), F.col("lat")
        ).collect()
        got = {(r["lon"], r["lat"]): (r["tx"], r["ty"]) for r in rows}
        otx, oty = cells.np_lonlat_to_tile_tms(lon, lat, z)
        for i in range(len(lon)):
            assert got[(lon[i], lat[i])] == (otx[i], oty[i]), (z, lon[i], lat[i])


def test_spark_cell_and_quadkey_match_oracle(pts_df):
    df, lon, lat = pts_df
    for z in (0, 1, 8, 23, 29):
        tx_c, ty_c = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), z)
        rows = (
            df.select(
                F.col("lon"),
                cells.cell_id(F.col("lon"), F.col("lat"), z).alias("cell"),
                cells.quadkey(tx_c, ty_c, z).alias("qk"),
            )
            .collect()
        )
        ocell = cells.np_cell_id(lon, lat, z)
        otx, oty = cells.np_lonlat_to_tile_tms(lon, lat, z)
        by_lon = {r["lon"]: r for r in rows}
        for i in range(len(lon)):
            r = by_lon[lon[i]]
            assert r["cell"] == int(ocell[i])
            assert r["qk"] == cells.np_quadkey(int(otx[i]), int(oty[i]), z)
        # the corner tiles of the zoom: every digit 0, 1, 2 or 3
        n = 1 << z
        corners = [(0, 0), (n - 1, 0), (0, n - 1), (n - 1, n - 1)]
        assert spark_quadkeys(df.sparkSession, corners, z) == [
            cells.np_quadkey(tx, ty, z) for tx, ty in corners]


def spark_quadkeys(spark, tiles, z):
    return [r["qk"] for r in spark.createDataFrame(tiles, "tx long, ty long")
            .select(cells.quadkey(F.col("tx"), F.col("ty"), z).alias("qk"))
            .collect()]


def test_quadkey_zoom_range(spark):
    """z = 32 fills conv's unsigned 64-bit range; z = 33 is refused."""
    n = 1 << 32
    tiles = [(0, 0), (n - 1, 0), (n - 1, n - 1)]
    assert spark_quadkeys(spark, tiles, 32) == [
        cells.np_quadkey(tx, ty, 32) for tx, ty in tiles]
    with pytest.raises(ValueError, match="zoom 33"):
        cells.quadkey(F.col("tx"), F.col("ty"), 33)


def test_spark_bounds_roundtrip(spark):
    z = 8
    df = spark.range(1).select(
        cells.tile_bounds_meters(F.lit(100), F.lit(37), z).alias("b"),
        cells.tile_bounds_lonlat(F.lit(100), F.lit(37), z).alias("g"),
    )
    r = df.collect()[0]
    bx0, by0, bx1, by1 = cells.np_tile_bounds_meters(100, 37, z)
    assert abs(r["b"]["xmin"] - bx0) < 1e-6 and abs(r["b"]["ymax"] - by1) < 1e-6
    lon0, lat0 = cells.np_meters_to_lonlat(bx0, by0)
    assert abs(r["g"]["lon_min"] - lon0) < 1e-9
    assert abs(r["g"]["lat_min"] - lat0) < 1e-9


def test_spark_haversine_matches_oracle(pts_df):
    df, lon, lat = pts_df
    r = (
        df.select(
            cells.haversine_m(F.col("lon"), F.col("lat"), F.lit(0.0), F.lit(0.0)).alias(
                "d"
            ),
            "lon",
        )
        .collect()
    )
    od = cells.np_haversine_m(lon, lat, 0.0, 0.0)
    by_lon = {x["lon"]: x["d"] for x in r}
    for i in range(len(lon)):
        assert abs(by_lon[lon[i]] - od[i]) < 1e-6


def test_geodetic_tiles(spark):
    tx_c, ty_c = cells.lonlat_to_tile_geodetic(F.lit(0.1), F.lit(0.1), 1)
    r = spark.range(1).select(tx_c.alias("tx"), ty_c.alias("ty")).collect()[0]
    # z=1 geodetic: 4x2 tiles of 90°; (0.1,0.1) -> tx=2, ty=1
    assert (r["tx"], r["ty"]) == (2, 1)


def test_ring_offsets():
    assert cells.ring_offsets(0) == [(0, 0)]
    assert len(cells.ring_offsets(1)) == 8
    assert len(cells.ring_offsets(3)) == 24
    assert len(set(cells.ring_offsets(3))) == 24
    assert all(max(abs(a), abs(b)) == 3 for a, b in cells.ring_offsets(3))


# ---------------------------------------------------------------------------
# UTM (transverse Mercator) — Snyder series kernel
# ---------------------------------------------------------------------------

def test_np_utm_meridian_arc_vs_numeric_integral():
    # independent oracle: the meridian arc M(phi) = a*(1-e^2) *
    # integral of (1 - e^2 sin^2 t)^{-3/2} dt, evaluated numerically —
    # shares NO series coefficients with the implementation
    phi = np.pi / 2
    t = np.linspace(0.0, phi, 2_000_001)
    integ = np.trapz(
        cells.EARTH_RADIUS * (1 - cells.WGS84_E2)
        / (1 - cells.WGS84_E2 * np.sin(t) ** 2) ** 1.5, t)
    series = cells.EARTH_RADIUS * cells._M0 * phi  # sin terms vanish at 90
    assert abs(series - integ) < 1e-3
    # published WGS84 quarter meridian, mm precision
    assert abs(series - 10001965.7293) < 1e-3


def test_np_utm_anchors_and_symmetry():
    # central meridian of zone 32 at the equator -> exactly (FE, 0)
    x, y = cells.np_lonlat_to_utm([9.0], [0.0], 32)
    assert x[0] == 500000.0 and y[0] == 0.0
    # easting antisymmetric / northing symmetric about the central meridian
    xw, yw = cells.np_lonlat_to_utm([9.0 - 1.7], [41.3], 32)
    xe, ye = cells.np_lonlat_to_utm([9.0 + 1.7], [41.3], 32)
    assert abs((xe[0] - 500000.0) + (xw[0] - 500000.0)) < 1e-6
    assert abs(ye[0] - yw[0]) < 1e-9
    # scale at the central meridian is k0: numeric dE/d(lon) at the equator
    eps = 1e-7
    xp, _ = cells.np_lonlat_to_utm([9.0 + eps], [0.0], 32)
    dmeter_per_deg = (xp[0] - 500000.0) / eps
    expect = 0.9996 * np.radians(1.0) * cells.EARTH_RADIUS
    assert abs(dmeter_per_deg - expect) / expect < 1e-6
    # southern hemisphere false northing
    _, ys = cells.np_lonlat_to_utm([9.0], [-0.001], 32)
    _, yn = cells.np_lonlat_to_utm([9.0], [0.001], 32)
    assert abs((ys[0] - 10_000_000.0) + yn[0]) < 1e-6


def test_np_utm_roundtrip_whole_zone():
    rng = np.random.default_rng(11)
    lon = 9.0 + rng.uniform(-3, 3, 5000)
    lat = rng.uniform(-80, 84, 5000)
    x, y = cells.np_lonlat_to_utm(lon, lat, 32)
    lon2, lat2 = cells.np_utm_to_lonlat(x, y, 32, lat < 0)
    assert np.abs(lon2 - lon).max() < 5e-8
    assert np.abs(lat2 - lat).max() < 5e-8


def test_spark_utm_matches_numpy_twin(spark):
    rng = np.random.default_rng(13)
    lon = 9.0 + rng.uniform(-3, 3, 300)
    lat = rng.uniform(-79, 79, 300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    fwd = cells.lonlat_to_utm(F.col("lon"), F.col("lat"), 32)
    out = df.select(
        "lon", "lat",
        fwd["easting"].alias("e"), fwd["northing"].alias("n"),
    )
    inv = cells.utm_to_lonlat(F.col("e"), F.col("n"), 32, F.col("lat") < 0)
    rows = out.select(
        "lon", "lat", "e", "n",
        inv["lon"].alias("lon_rt"), inv["lat"].alias("lat_rt"),
    ).collect()
    ex, ny = cells.np_lonlat_to_utm(lon, lat, 32)
    by_lon = {r["lon"]: r for r in rows}
    for i in range(len(lon)):
        r = by_lon[lon[i]]
        assert abs(r["e"] - ex[i]) < 1e-6
        assert abs(r["n"] - ny[i]) < 1e-6
        assert abs(r["lon_rt"] - lon[i]) < 5e-8
        assert abs(r["lat_rt"] - lat[i]) < 5e-8


def test_utm_zone_of_lon(spark):
    r = spark.range(1).select(
        cells.utm_zone_of_lon(F.lit(-180.0)).alias("a"),
        cells.utm_zone_of_lon(F.lit(9.0)).alias("b"),
        cells.utm_zone_of_lon(F.lit(179.9)).alias("c"),
    ).collect()[0]
    assert (r["a"], r["b"], r["c"]) == (1, 32, 60)


# --- conic projections: LCC 2SP (Lambert-93) + Albers equal-area (CONUS) ---


def test_np_conic_anchors_and_invariants():
    # projection origin maps exactly to the false origin (Snyder: rho=rho0)
    x, y = cells.np_lonlat_to_lcc([3.0], [46.5])
    assert abs(x[0] - 700000.0) < 1e-6 and abs(y[0] - 6600000.0) < 1e-6
    xa, ya = cells.np_lonlat_to_albers([-96.0], [23.0])
    assert abs(xa[0]) < 1e-6 and abs(ya[0]) < 1e-6
    # Paris in Lambert-93 — public anchor (EPSG:2154 ~652469, 6862035)
    x, y = cells.np_lonlat_to_lcc([2.3522], [48.8566])
    assert abs(x[0] - 652469.0) < 1.0 and abs(y[0] - 6862035.3) < 1.0
    # scale factor k = 1 along both LCC standard parallels (conformal 2SP)
    h = 1e-7
    for lat in (49.0, 44.0):
        x0, y0 = cells.np_lonlat_to_lcc([3.0], [lat])
        x1, y1 = cells.np_lonlat_to_lcc([3.0 + h], [lat])
        d = float(np.hypot(x1 - x0, y1 - y0)[0])
        phi = np.radians(lat)
        ground = (cells.EARTH_RADIUS * np.cos(phi)
                  / np.sqrt(1 - cells.WGS84_E2 * np.sin(phi) ** 2)
                  * np.radians(h))
        assert abs(d / ground - 1.0) < 1e-6


def test_np_albers_is_equal_area():
    # Jacobian of the forward map == ellipsoidal area element everywhere
    h = 1e-6
    for lon, lat in [(-120.0, 40.0), (-80.0, 30.0), (-96.0, 45.5),
                     (-66.0, 24.0), (-125.0, 49.0)]:
        x0, y0 = cells.np_lonlat_to_albers([lon], [lat])
        xl, yl = cells.np_lonlat_to_albers([lon + h], [lat])
        xp, yp = cells.np_lonlat_to_albers([lon], [lat + h])
        dl = np.radians(h)
        jac = abs((xl - x0) * (yp - y0) - (yl - y0) * (xp - x0))[0] / dl / dl
        phi = np.radians(lat)
        area_el = (cells.EARTH_RADIUS ** 2 * (1 - cells.WGS84_E2)
                   * np.cos(phi)
                   / (1 - cells.WGS84_E2 * np.sin(phi) ** 2) ** 2)
        assert abs(jac / area_el - 1.0) < 1e-5


def test_spark_conic_roundtrip_and_numpy_parity(spark):
    rng = np.random.default_rng(17)
    lon_e = 3.0 + rng.uniform(-8, 8, 400)     # Lambert-93 domain
    lat_e = rng.uniform(41.0, 51.0, 400)
    lon_a = rng.uniform(-125.0, -66.0, 400)   # CONUS Albers domain
    lat_a = rng.uniform(23.0, 50.0, 400)
    df = spark.createDataFrame(
        [(float(a), float(b), float(p), float(q))
         for a, b, p, q in zip(lon_e, lat_e, lon_a, lat_a)],
        "lon_e double, lat_e double, lon_a double, lat_a double",
    )
    lcc = cells.lonlat_to_lcc(F.col("lon_e"), F.col("lat_e"))
    aea = cells.lonlat_to_albers(F.col("lon_a"), F.col("lat_a"))
    prj = df.select(
        "lon_e", "lat_e", "lon_a", "lat_a",
        lcc["x"].alias("lx"), lcc["y"].alias("ly"),
        aea["x"].alias("ax"), aea["y"].alias("ay"),
    )
    inv_l = cells.lcc_to_lonlat(F.col("lx"), F.col("ly"))
    inv_a = cells.albers_to_lonlat(F.col("ax"), F.col("ay"))
    rows = prj.select(
        "*",
        inv_l["lon"].alias("lon_e2"), inv_l["lat"].alias("lat_e2"),
        inv_a["lon"].alias("lon_a2"), inv_a["lat"].alias("lat_a2"),
    ).collect()
    nx, ny = cells.np_lonlat_to_lcc(lon_e, lat_e)
    nax, nay = cells.np_lonlat_to_albers(lon_a, lat_a)
    got = {(round(r["lon_e"], 9)): r for r in rows}
    for i in range(len(lon_e)):
        r = got[round(float(lon_e[i]), 9)]
        # Spark Column kernel == numpy twin (same formulas, both engines)
        assert abs(r["lx"] - nx[i]) < 1e-6 and abs(r["ly"] - ny[i]) < 1e-6
        assert abs(r["ax"] - nax[i]) < 1e-6 and abs(r["ay"] - nay[i]) < 1e-6
        # inverse round-trips to the input well below the 1e-5 entry rounding
        assert abs(r["lon_e2"] - lon_e[i]) < 1e-7
        assert abs(r["lat_e2"] - lat_e[i]) < 1e-7
        assert abs(r["lon_a2"] - lon_a[i]) < 1e-7
        assert abs(r["lat_a2"] - lat_a[i]) < 1e-7
