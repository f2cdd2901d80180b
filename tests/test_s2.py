"""S2 cell ids + hex binning (s2.py).

The lookup-table kernel is validated against an INDEPENDENT bit-at-a-time
Hilbert walk written here from the same public spec (one child-level per
step, no 4-bit tables) — two implementations, one answer — plus structural
pins: face-center level-0 ids, curve adjacency, hierarchy containment,
center roundtrip, and Spark Column parity with the numpy twin.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import s2

_POS_TO_IJ = s2._POS_TO_IJ
_POS_TO_ORIENT = s2._POS_TO_ORIENT
# inverse: _IJ_TO_POS[orient][ij] = pos
_IJ_TO_POS = [[row.index(ij) for ij in range(4)] for row in _POS_TO_IJ]


def s2_id_reference(face: int, i: int, j: int) -> int:
    """Independent leaf-id construction: descend 30 levels one bit of i/j
    at a time, tracking orientation (no lookup tables)."""
    orient = face & s2._SWAP
    pos = 0
    for k in range(29, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        child = _IJ_TO_POS[orient][ij]
        pos = (pos << 2) | child
        orient ^= _POS_TO_ORIENT[child]
    return ((face << 60) | pos) << 1 | 1


def test_lookup_matches_bitwise_reference():
    rng = np.random.default_rng(7)
    face = rng.integers(0, 6, 500)
    i = rng.integers(0, 1 << 30, 500)
    j = rng.integers(0, 1 << 30, 500)
    got = s2.np_s2_id_from_face_ij(face, i, j)
    exp = np.array([s2_id_reference(int(f), int(a), int(b))
                    for f, a, b in zip(face, i, j)], dtype=np.uint64)
    assert np.array_equal(got, exp)


def test_face_center_level0_ids():
    lons = [0.0, 90.0, 0.0, 180.0, -90.0, 0.0]
    lats = [0.0, 0.0, 90.0, 0.0, 0.0, -90.0]
    ids = s2.np_s2_cell_id(lons, lats, 0).view(np.uint64)
    assert list(ids) == [(2 * f + 1) << 60 for f in range(6)]


def test_face_selection_matches_largest_component():
    rng = np.random.default_rng(1)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    x, y, z = s2.np_lonlat_to_xyz(lon, lat)
    face, u, v = s2.np_xyz_to_face_uv(x, y, z)
    comps = np.stack([x, y, z])
    axis = face % 3
    picked = np.abs(comps[axis, np.arange(len(lon))])
    assert np.all(picked >= np.abs(comps).max(axis=0) - 1e-15)
    # gnomonic coords on the unit cube face
    assert np.all((u >= -1 - 1e-12) & (u <= 1 + 1e-12))
    assert np.all((v >= -1 - 1e-12) & (v <= 1 + 1e-12))


def test_st_uv_inverse():
    s = np.linspace(0.0, 1.0, 10001)
    assert np.allclose(s2.np_uv_to_st(s2.np_st_to_uv(s)), s, atol=1e-12)


def test_hilbert_adjacency_on_every_face():
    """Consecutive curve positions are edge-adjacent leaf cells — the
    defining Hilbert property; catches any table/orientation slip."""
    rng = np.random.default_rng(3)
    pos = rng.integers(0, (1 << 60) - 2, 4000, dtype=np.int64).astype(np.uint64)
    for face in range(6):
        base = np.uint64(face) << np.uint64(60)
        id1 = ((base | pos) << np.uint64(1)) | np.uint64(1)
        id2 = ((base | (pos + np.uint64(1))) << np.uint64(1)) | np.uint64(1)
        _, i1, j1, _ = s2.np_s2_id_to_face_ij(id1)
        _, i2, j2, _ = s2.np_s2_id_to_face_ij(id2)
        assert np.all(np.abs(i1 - i2) + np.abs(j1 - j2) == 1)


def test_encode_decode_ij_roundtrip():
    rng = np.random.default_rng(5)
    face = rng.integers(0, 6, 2000)
    i = rng.integers(0, 1 << 30, 2000)
    j = rng.integers(0, 1 << 30, 2000)
    ids = s2.np_s2_id_from_face_ij(face, i, j)
    f2, i2, j2, _ = s2.np_s2_id_to_face_ij(ids)
    assert np.array_equal(face, f2)
    assert np.array_equal(i, i2)
    assert np.array_equal(j, j2)


@pytest.mark.parametrize("level", [0, 4, 12, 21, 30])
def test_hierarchy_containment_and_level(level):
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 3000)
    lat = rng.uniform(-89.95, 89.95, 3000)
    leaf = s2.np_s2_cell_id(lon, lat, 30)
    cell = s2.np_s2_cell_id(lon, lat, level)
    assert np.array_equal(s2.np_s2_parent(leaf, level), cell)
    assert np.all(s2.np_s2_level(cell) == level)
    mn, mx = s2.np_s2_range(cell)
    assert np.all((leaf >= mn) & (leaf <= mx))
    # signed order == unsigned order inside any range (same face bits)
    assert np.all(mn <= mx)


def test_center_roundtrip_all_levels():
    rng = np.random.default_rng(13)
    lon = rng.uniform(-180, 180, 1500)
    lat = rng.uniform(-89.9, 89.9, 1500)
    for level in (30, 18, 8):
        cell = s2.np_s2_cell_id(lon, lat, level)
        clon, clat = s2.np_s2_center_lonlat(cell)
        assert np.array_equal(s2.np_s2_cell_id(clon, clat, level), cell)


def test_cell_sizes_are_sphere_uniformish():
    """S2's raison d'être vs mercator tiles: level-12 cells at lat 0 and
    lat 85 differ in linear extent by < 2.2x (mercator tiles: ~11.5x)."""
    out = []
    for lat in (0.0, 85.0):
        cell = s2.np_s2_cell_id([45.0], [lat], 12)
        mn, mx = s2.np_s2_range(cell)
        lo_lon, lo_lat = s2.np_s2_center_lonlat(mn)  # leaf at range start
        hi_lon, hi_lat = s2.np_s2_center_lonlat(mx)
        # haversine diagonal of the cell
        p = math.pi / 180
        a = (math.sin((hi_lat[0] - lo_lat[0]) * p / 2) ** 2
             + math.cos(lo_lat[0] * p) * math.cos(hi_lat[0] * p)
             * math.sin((hi_lon[0] - lo_lon[0]) * p / 2) ** 2)
        out.append(2 * 6371000.0 * math.asin(math.sqrt(a)))
    ratio = max(out) / min(out)
    assert ratio < 2.2, out


def test_token_format():
    toks = s2.np_s2_token(s2.np_s2_cell_id([0.0, 10.0], [0.0, 10.0], 12))
    for t in toks:
        assert 1 <= len(t) <= 16 and t == t.rstrip("0")
    # level-0 face 0 token
    assert s2.np_s2_token(np.array([1 << 60], dtype=np.int64))[0] == "1"


def test_token_roundtrip():
    rng = np.random.default_rng(53)
    for level in (3, 12, 30):
        cells = s2.np_s2_cell_id(rng.uniform(-180, 180, 300),
                                 rng.uniform(-89, 89, 300), level)
        back = s2.np_s2_from_token(s2.np_s2_token(cells))
        assert np.array_equal(back, cells)
    with pytest.raises(ValueError):
        s2.np_s2_from_token(["not-a-token-too-long-zz"])


def test_spark_column_parity(spark):
    rng = np.random.default_rng(17)
    lon = rng.uniform(-180, 180, 800)
    lat = rng.uniform(-89.9, 89.9, 800)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    rows = (
        df.select(
            s2.s2_cell_id(F.col("lon"), F.col("lat"), 12).alias("c12"),
            s2.s2_cell_id(F.col("lon"), F.col("lat"), 30).alias("leaf"),
        )
        .withColumn("lvl", s2.s2_level(F.col("c12")))
        .withColumn("par", s2.s2_parent(F.col("leaf"), 12))
        .withColumn("mn", s2.s2_range_min(F.col("c12")))
        .withColumn("mx", s2.s2_range_max(F.col("c12")))
        .toPandas()
    )
    exp12 = s2.np_s2_cell_id(lon, lat, 12)
    assert np.array_equal(rows["c12"].to_numpy(np.int64), exp12)
    assert np.array_equal(rows["par"].to_numpy(np.int64), exp12)
    assert np.all(rows["lvl"].to_numpy() == 12)
    mn, mx = s2.np_s2_range(exp12)
    assert np.array_equal(rows["mn"].to_numpy(np.int64), mn)
    assert np.array_equal(rows["mx"].to_numpy(np.int64), mx)
    leaf = rows["leaf"].to_numpy(np.int64)
    assert np.all((leaf >= mn) & (leaf <= mx))


def test_hex_cell_column_matches_numpy_twin(spark):
    rng = np.random.default_rng(19)
    x = rng.uniform(-1e6, 1e6, 2000)
    y = rng.uniform(-1e6, 1e6, 2000)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    got = (
        df.select(s2.hex_cell(F.col("x"), F.col("y"), 2500.0).alias("h"))
        .toPandas()["h"].to_numpy(np.int64)
    )
    assert np.array_equal(got, s2.np_hex_cell(x, y, 2500.0))


def test_hex_cell_is_a_partition():
    """Every point belongs to exactly one hex whose center is the nearest
    hex center (within half the hex-to-hex spacing)."""
    rng = np.random.default_rng(23)
    x = rng.uniform(-1e5, 1e5, 5000)
    y = rng.uniform(-1e5, 1e5, 5000)
    size = 1000.0
    cell = s2.np_hex_cell(x, y, size)
    q = cell // (1 << 21) - s2._HEX_OFF
    r = cell % (1 << 21) - s2._HEX_OFF
    # axial -> center xy (pointy-top)
    cx = size * (math.sqrt(3.0) * q + math.sqrt(3.0) / 2.0 * r)
    cy = size * 1.5 * r
    d = np.hypot(x - cx, y - cy)
    assert np.all(d <= size + 1e-9)  # inside circumradius of its own hex


def test_hex_sql_twin_text_matches_duckdb():
    import duckdb

    rng = np.random.default_rng(29)
    x = rng.uniform(-5e5, 5e5, 3000)
    y = rng.uniform(-5e5, 5e5, 3000)
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"x": x, "y": y}))
    expr = s2.hex_cell_sql("x", "y", 2500.0)
    got = con.sql(f"SELECT {expr} AS h FROM t").df()["h"].to_numpy(np.int64)
    assert np.array_equal(got, s2.np_hex_cell(x, y, 2500.0))


def test_children_partition_parent():
    rng = np.random.default_rng(31)
    cells = s2.np_s2_cell_id(rng.uniform(-180, 180, 200),
                             rng.uniform(-85, 85, 200), 7)
    kids = s2.np_s2_children(cells)
    assert kids.shape == (200, 4)
    assert np.all(s2.np_s2_level(kids) == 8)
    pmn, pmx = s2.np_s2_range(cells)
    kmn, kmx = s2.np_s2_range(kids)
    # children tile the parent range exactly, in order; sibling ranges are
    # 2 apart (leaf ids are odd — the even slot between ranges is no id)
    assert np.all(kmn[:, 0] == pmn)
    assert np.all(kmx[:, 3] == pmx)
    assert np.all(kmn[:, 1:] == kmx[:, :-1] + 2)
    for k in range(4):
        assert np.array_equal(s2.np_s2_parent(kids[:, k], 7), cells)


def test_cover_rect_complete_disjoint_tight():
    cov = s2.np_s2_cover_rect(-30.0, -20.0, 15.0, 25.0, max_level=7)
    lvls = s2.np_s2_level(cov)
    assert lvls.max() == 7 and lvls.min() < 7  # genuinely mixed-level
    mn, mx = s2.np_s2_range(cov)
    order = np.argsort(mn)
    assert np.all(mn[order][1:] > mx[order][:-1])  # disjoint partition
    # completeness: every random in-rect point lands in exactly one cell
    rng = np.random.default_rng(37)
    lon = rng.uniform(-30, 15, 10000)
    lat = rng.uniform(-20, 25, 10000)
    leaf = s2.np_s2_cell_id(lon, lat, 30)
    idx = np.searchsorted(mn[order], leaf, "right") - 1
    assert np.all(idx >= 0)
    assert np.all(leaf <= mx[order][idx])
    # tightness: covering solid angle within 25% of the rect's
    frac = float(np.sum(1.0 / 6.0 / 4.0 ** lvls))
    rect_frac = (45.0 / 360.0) * (math.sin(math.radians(25))
                                  - math.sin(math.radians(-20))) / 2.0
    assert frac < rect_frac * 1.25


def test_cover_rect_complete_near_pole():
    """High-latitude rects (mercator's worst case): seam-straddling cells
    go lon-unbounded (conservative), so the covering stays complete."""
    cov = s2.np_s2_cover_rect(100.0, 78.0, 160.0, 86.0, max_level=7)
    mn, mx = s2.np_s2_range(cov)
    order = np.argsort(mn)
    assert np.all(mn[order][1:] > mx[order][:-1])
    rng = np.random.default_rng(41)
    lon = rng.uniform(100, 160, 8000)
    lat = rng.uniform(78, 86, 8000)
    leaf = s2.np_s2_cell_id(lon, lat, 30)
    idx = np.searchsorted(mn[order], leaf, "right") - 1
    assert np.all(idx >= 0)
    assert np.all(leaf <= mx[order][idx])


def test_spatial_join_s2_matches_broadcast(spark):
    """The S2-indexed join path returns the EXACT same (point, poly) pairs
    as the direct broadcast Arrow path — covering prefilter changes the
    plan, never the answer — also for polygons at the poles and on the
    antimeridian."""
    from gdal_scripts_spark import fixtures, geom, joins

    def square(x0, y0, x1, y1):
        return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]

    edge = [
        (1000, square(-2.0, 89.92, 2.0, 90.0)),
        (1001, square(-1.0, 89.5, 1.0, 89.99)),
        (1002, square(-1.0, -89.99, 1.0, -89.5)),
        (1003, square(179.99, 10.0, 180.0, 11.0)),
        (1004, square(-180.0, 10.0, -179.99, 11.0)),
    ]
    fx = fixtures.polygons_pack(p=60)
    pack = geom.PolygonPack.from_rings(
        [(int(fx.poly_ids[i]), fx.rings_of(i)) for i in range(fx.n_polys)]
        + edge)
    edge_pts = spark.createDataFrame(
        [("pole", 0.0, 89.95), ("north", 0.5, 89.97), ("south", 0.5, -89.97),
         ("east", 179.999, 10.5), ("west", -179.999, 10.5)],
        schema="image_id string, lon double, lat double")
    pts = fixtures.points_spark(spark, 4000, partitions=8).select(
        "image_id", "lon", "lat").unionByName(edge_pts)
    b = set(map(tuple, joins.spatial_join_broadcast(pts, pack).collect()))
    assert {(i, p) for i, p in b if p >= 1000} == {
        ("pole", 1000), ("pole", 1001), ("north", 1000), ("north", 1001),
        ("south", 1002), ("east", 1003), ("west", 1004)}
    for level in (9, 12):
        a = set(map(tuple, joins.spatial_join_s2(pts, pack, max_level=level)
                    .collect()))
        assert a == b, level


def test_spatial_join_s2_shuffled_regions_matches_broadcast(spark):
    """broadcast_regions=False (the huge-polygon-set regime): the covering
    join runs as a shuffled hash join — identical pairs, and the plan must
    actually contain an Exchange on the regions side (no silent
    re-broadcast)."""
    from gdal_scripts_spark import fixtures, joins

    pts = fixtures.points_spark(spark, 4000, partitions=8)
    pack = fixtures.polygons_pack(p=60)
    df = joins.spatial_join_s2(pts, pack, max_level=8,
                               broadcast_regions=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, "regions were silently broadcast"
    a = set(map(tuple, df.collect()))
    b = set(map(tuple, joins.spatial_join_broadcast(pts, pack).collect()))
    assert a == b and len(a) > 0


def test_spatial_join_s2_coarse_prefilter_matches(spark):
    """prefilter_z: the pure-Column coarse-tile semi-join ahead of the
    Arrow leaf encode is conservative — identical pairs at several
    coarse levels."""
    from gdal_scripts_spark import fixtures, joins

    pts = fixtures.points_spark(spark, 4000, partitions=8)
    pack = fixtures.polygons_pack(p=60)
    b = set(map(tuple, joins.spatial_join_broadcast(pts, pack).collect()))
    regions = joins.s2_cover_regions(spark, pack, 8)
    for z in (4, 6, 8):
        a = set(map(tuple, joins.spatial_join_s2(
            pts, pack, regions=regions, prefilter_z=z).collect()))
        assert a == b, z
    assert len(b) > 0


def test_cover_polygon_complete_and_tighter_than_bbox():
    """Shape covering of a thin diagonal triangle: complete (every interior
    point lands in a cell) and strictly smaller than the bbox covering."""
    from gdal_scripts_spark import geom

    rings = [np.array([[0.0, 0.0], [40.0, 4.0], [40.0, 8.0]])]
    pack = geom.PolygonPack.from_rings([(0, rings)])
    edges = pack.edges_of(0)
    cov = s2.np_s2_cover_polygon(edges, max_level=8)
    bbox_cov = s2.np_s2_cover_rect(0.0, 0.0, 40.0, 8.0, max_level=8)
    # tighter: a diagonal sliver occupies a fraction of its bbox
    a = float(np.sum(1.0 / 6.0 / 4.0 ** s2.np_s2_level(cov)))
    b = float(np.sum(1.0 / 6.0 / 4.0 ** s2.np_s2_level(bbox_cov)))
    assert a < 0.5 * b
    # complete: rejection-sample interior points, all covered
    rng = np.random.default_rng(43)
    x = rng.uniform(0, 40, 40000)
    y = rng.uniform(0, 8, 40000)
    ins = geom.pip_even_odd_edges(x, y, edges)
    leaf = s2.np_s2_cell_id(x[ins], y[ins], 30)
    mn, mx = s2.np_s2_range(cov)
    order = np.argsort(mn)
    idx = np.searchsorted(mn[order], leaf, "right") - 1
    assert np.all(idx >= 0)
    assert np.all(leaf <= mx[order][idx])


def test_cover_polygon_prunes_holes():
    """A cell wholly inside a hole is boundary-free and ray-casts outside
    -> pruned; covering area tracks the annulus, not the outer ring."""
    from gdal_scripts_spark import geom

    ang = np.linspace(0, 2 * np.pi, 64, endpoint=False)
    outer = np.column_stack([20 * np.cos(ang), 20 * np.sin(ang)])
    hole = np.column_stack([15 * np.cos(ang[::-1]), 15 * np.sin(ang[::-1])])
    pack = geom.PolygonPack.from_rings([(0, [outer, hole])])
    edges = pack.edges_of(0)
    cov = s2.np_s2_cover_polygon(edges, max_level=8)
    solid = s2.np_s2_cover_polygon(
        geom.PolygonPack.from_rings([(0, [outer])]).edges_of(0), max_level=8)
    a_ann = float(np.sum(1.0 / 6.0 / 4.0 ** s2.np_s2_level(cov)))
    a_solid = float(np.sum(1.0 / 6.0 / 4.0 ** s2.np_s2_level(solid)))
    # annulus area fraction of disk = 1 - (15/20)^2 = 0.4375; covering
    # carries boundary slack at level 8, so just require a clear separation
    assert a_ann < 0.75 * a_solid
    # interior-of-hole points are NOT covered
    rng = np.random.default_rng(47)
    r = rng.uniform(0, 13.0, 3000)
    t = rng.uniform(0, 2 * np.pi, 3000)
    leaf = s2.np_s2_cell_id(r * np.cos(t), r * np.sin(t), 30)
    mn, mx = s2.np_s2_range(cov)
    order = np.argsort(mn)
    idx = np.searchsorted(mn[order], leaf, "right") - 1
    in_cov = (idx >= 0) & (leaf <= mx[order][np.clip(idx, 0, None)])
    # boundary cells near r=15 may catch a few; the bulk must be pruned
    assert np.mean(in_cov[r < 12.0]) < 0.05


def test_cover_cap_complete_and_tight():
    """Spherical-cap covering: complete on rejection-sampled in-cap points,
    and area within 2x of the cap's solid angle."""
    clon, clat, rad = 30.0, 55.0, 300_000.0
    cov = s2.np_s2_cover_cap(clon, clat, rad, max_level=9)
    mn, mx = s2.np_s2_range(cov)
    order = np.argsort(mn)
    assert np.all(mn[order][1:] > mx[order][:-1])  # disjoint
    rng = np.random.default_rng(59)
    lon = rng.uniform(clon - 8, clon + 8, 30000)
    lat = rng.uniform(clat - 4, clat + 4, 30000)
    d = s2._np_haversine_m(lon, lat, clon, clat)
    ins = d <= rad
    leaf = s2.np_s2_cell_id(lon[ins], lat[ins], 30)
    idx = np.searchsorted(mn[order], leaf, "right") - 1
    assert np.all(idx >= 0)
    assert np.all(leaf <= mx[order][idx])
    # tightness: covering solid-angle fraction vs cap fraction
    frac = float(np.sum(1.0 / 6.0 / 4.0 ** s2.np_s2_level(cov)))
    cap_frac = (1.0 - math.cos(rad / s2._EARTH_R_M)) / 2.0
    assert frac < 2.0 * cap_frac


def test_cover_cap_polar():
    """Cap centered on the north pole — the mercator-impossible case."""
    cov = s2.np_s2_cover_cap(0.0, 90.0, 500_000.0, max_level=7)
    mn, mx = s2.np_s2_range(cov)
    order = np.argsort(mn)
    rng = np.random.default_rng(61)
    lon = rng.uniform(-180, 180, 10000)
    lat = rng.uniform(85.6, 90.0, 10000)  # all within ~490 km of the pole
    leaf = s2.np_s2_cell_id(lon, lat, 30)
    idx = np.searchsorted(mn[order], leaf, "right") - 1
    assert np.all(idx >= 0)
    assert np.all(leaf <= mx[order][idx])


def test_cover_polygon_flags_interior_exact():
    """Interior-flagged cells are EXACTLY inside: every leaf-sample of an
    interior cell ray-casts inside the polygon, flags align with the
    unflagged covering, and a large holed polygon yields BOTH kinds."""
    from gdal_scripts_spark import geom

    rings = [
        np.array([[0.0, 0.0], [30.0, 2.0], [34.0, 28.0], [14.0, 20.0],
                  [2.0, 26.0]]),                       # non-convex shell
        np.array([[10.0, 8.0], [18.0, 8.0], [18.0, 14.0], [10.0, 14.0]]),
    ]
    pack = geom.PolygonPack.from_rings([(0, rings)])
    edges = pack.edges_of(0)
    cov, flags = s2.np_s2_cover_polygon_flags(edges, max_level=8)
    assert np.array_equal(cov, s2.np_s2_cover_polygon(edges, max_level=8))
    assert flags.any() and (~flags).any()
    for cell in cov[flags]:
        lon, lat = s2.np_s2_cell_samples(int(cell), 4)
        assert geom.pip_even_odd_edges(lon, lat, edges).all()


def test_spatial_join_s2_interior_shortcut_fires(spark):
    """The rings covering must route interior-cell candidates around the
    Arrow refine (pairs come from the codegen equi-join alone) and still match
    the broadcast path exactly on a polygon big enough to have interior
    cells — including its hole."""
    from gdal_scripts_spark import fixtures, geom, joins

    rings = [
        np.array([[0.0, 0.0], [30.0, 2.0], [34.0, 28.0], [14.0, 20.0],
                  [2.0, 26.0]]),
        np.array([[10.0, 8.0], [18.0, 8.0], [18.0, 14.0], [10.0, 14.0]]),
    ]
    pack = geom.PolygonPack.from_rings([(7, rings)])
    rng = np.random.default_rng(11)
    import pandas as pd

    pdf = pd.DataFrame({
        "image_id": np.arange(4000, dtype=np.int64),
        "lon": rng.uniform(-5.0, 40.0, 4000),
        "lat": rng.uniform(-5.0, 33.0, 4000),
    })
    pts = spark.createDataFrame(pdf)
    got = joins.spatial_join_s2(pts, pack, max_level=8)
    a = set(map(tuple, got.collect()))
    b = set(map(tuple, joins.spatial_join_broadcast(pts, pack).collect()))
    assert a == b and len(a) > 0
    # hole points excluded
    assert not any(10.0 < pdf.lon[i] < 18.0 and 8.0 < pdf.lat[i] < 14.0
                   for i, _ in a)
    # the shortcut really fired: interior cells exist in the covering
    _, flags = s2.np_s2_cover_polygon_flags(pack.edges_of(0), max_level=8)
    assert flags.any()


def test_cover_rect_bad_inputs():
    with pytest.raises(ValueError):
        s2.np_s2_cover_rect(10, 0, 5, 10)  # inverted lon
    with pytest.raises(ValueError):
        s2.np_s2_cover_rect(0, 70, 10, 89.95)  # beyond lat 89.9
    with pytest.raises(ValueError):
        s2.np_s2_cover_rect(0, 0, 10, 10, max_level=31)


def test_bad_inputs():
    with pytest.raises(ValueError):
        s2.np_s2_cell_id([0.0], [0.0], 31)
    with pytest.raises(ValueError):
        s2.s2_parent(F.lit(1), -1)
    with pytest.raises(ValueError):
        s2.hex_cell(F.lit(0.0), F.lit(0.0), 0.0)


# ---------------------------------------------------------------------------
# round 5: fully table-driven S2 join (no driver-side PolygonPack anywhere)
# ---------------------------------------------------------------------------

def test_s2_cover_regions_from_table_matches_driver(spark):
    """The distributed (mapInPandas) covering build over a polygons TABLE
    is row-for-row identical to the driver-side rings covering — same
    kernel, cluster-parallel."""
    from gdal_scripts_spark import fixtures, joins

    pack = fixtures.polygons_pack(p=40)
    polys = fixtures.polygons_spark(spark, p=40).repartition(8)
    a = set(map(tuple, joins.s2_cover_regions_from_table(
        polys, max_level=8).collect()))
    b = set(map(tuple, joins.s2_cover_regions(
        spark, pack, max_level=8).collect()))
    assert a == b and len(a) > 0
    assert any(t[2] for t in a), "no interior cells — covering degenerate"
    with pytest.raises(ValueError, match="rings"):
        joins.s2_cover_regions(spark, pack, cover="bbox")


def test_polygon_edges_df_from_table_matches_pack(spark):
    """The pure-Column edges-table build over a polygons TABLE matches the
    driver-side pack_edges_df exactly: same bboxes, same edge list in the
    same order (closed rings un-closed identically, wrap edge last)."""
    from gdal_scripts_spark import fixtures, joins

    pack = fixtures.polygons_pack(p=40)
    polys = fixtures.polygons_spark(spark, p=40)

    def canon(df):
        return {
            r["poly_id"]: (
                r["bxmin"], r["bymin"], r["bxmax"], r["bymax"],
                tuple(map(tuple, r["edges"])),
            )
            for r in df.collect()
        }

    a = canon(joins.polygon_edges_df_from_table(polys))
    b = canon(joins.pack_edges_df(spark, pack))
    assert a == b and len(a) == 40


def test_spatial_join_s2_native_refine_matches_arrow(spark):
    """pack=None (pure-Column parity fold + interior OR-bypass) is
    pair-identical to the Arrow path, broadcast and shuffled."""
    from gdal_scripts_spark import fixtures, joins

    pts = fixtures.points_spark(spark, 4000, partitions=8)
    pack = fixtures.polygons_pack(p=60)
    regions = joins.s2_cover_regions(spark, pack, max_level=8)
    edges = joins.pack_edges_df(spark, pack)
    b = set(map(tuple, joins.spatial_join_broadcast(pts, pack).collect()))
    for bc in (True, False):
        a = set(map(tuple, joins.spatial_join_s2(
            pts, None, regions=regions, edges=edges,
            broadcast_regions=bc).collect()))
        assert a == b and len(a) > 0


def test_spatial_join_s2_fully_table_driven(spark):
    """pack=None: covering + edges both built BY THE CLUSTER from the
    polygons table, containment join and refine both shuffled — nothing
    driver-bounded — and the pairs still match the broadcast oracle."""
    from gdal_scripts_spark import fixtures, joins

    pts = fixtures.points_spark(spark, 4000, partitions=8)
    pack = fixtures.polygons_pack(p=60)
    polys = fixtures.polygons_spark(spark, p=60).repartition(8)
    regions = joins.s2_cover_regions_from_table(polys, max_level=8)
    edges = joins.polygon_edges_df_from_table(polys)
    df = joins.spatial_join_s2(
        pts, None, id_col="image_id", regions=regions, edges=edges,
        broadcast_regions=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, "dim side silently broadcast"
    a = set(map(tuple, df.collect()))
    b = set(map(tuple, joins.spatial_join_broadcast(pts, pack).collect()))
    assert a == b and len(a) > 0


def test_spatial_join_s2_pack_none_requires_artifacts(spark):
    """pack=None without the table-side artifacts fails eagerly, naming
    every missing piece."""
    from gdal_scripts_spark import fixtures, joins

    pts = fixtures.points_spark(spark, 100, partitions=2)
    with pytest.raises(ValueError, match="regions"):
        joins.spatial_join_s2(pts, None)
    polys = fixtures.polygons_spark(spark, p=5)
    regions = joins.s2_cover_regions_from_table(polys, max_level=8)
    with pytest.raises(ValueError, match="edges"):
        joins.spatial_join_s2(pts, None, regions=regions)
    edges = joins.polygon_edges_df_from_table(polys)
    with pytest.raises(ValueError, match="prefilter_z"):
        joins.spatial_join_s2(pts, None, regions=regions, edges=edges,
                              prefilter_z=6)


def test_hilbert_sort_orders_by_cell_and_preserves_rows(spark):
    import numpy as np
    from gdal_scripts_spark.s2 import hilbert_sort, np_s2_cell_id

    rows = [(i, -170.0 + (i * 37 % 340), -80.0 + (i * 53 % 160))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    out = hilbert_sort(df, "lon", "lat", level=16)
    assert out.columns == ["id", "lon", "lat"]  # sort key dropped
    got = out.collect()
    assert sorted(r["id"] for r in got) == [r[0] for r in rows]
    lon = np.array([r["lon"] for r in got])
    lat = np.array([r["lat"] for r in got])
    # face <= 5 keeps the top bits clear, so int64 order == uint64 order
    cells = np_s2_cell_id(lon, lat, 16)
    assert (np.diff(cells) >= 0).all()
