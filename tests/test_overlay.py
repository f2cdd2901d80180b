"""P5 predicate truth tables + U2 layer algebra: numpy kernel pinned against
hand-built GEOS truth tables (ogr_geos.py style), layer ops against interval
arithmetic on rect fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import geom, overlay


def sq(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1)], dtype=float)


TRI = np.array([(0, 0), (4, 0), (2, 3)], dtype=float)

TRUTH = [
    # (name, A, B, {predicate: expected})
    ("disjoint", sq(0, 0, 2, 2), sq(5, 5, 7, 7),
     dict(disjoint=True, intersects=False, touches=False)),
    ("overlap", sq(0, 0, 4, 4), sq(2, 2, 6, 6),
     dict(intersects=True, overlaps=True, touches=False, contains=False,
          within=False, equals=False)),
    ("sliver_overlap_same_yspan", sq(57, 69, 64, 74), sq(63, 69, 68, 74),
     dict(intersects=True, overlaps=True, touches=False)),
    ("touch_edge", sq(0, 0, 2, 2), sq(2, 0, 4, 2),
     dict(intersects=True, touches=True, overlaps=False)),
    ("touch_corner", sq(0, 0, 2, 2), sq(2, 2, 4, 4),
     dict(touches=True, intersects=True, overlaps=False)),
    ("contains", sq(0, 0, 10, 10), sq(2, 2, 4, 4),
     dict(contains=True, within=False, intersects=True, overlaps=False,
          touches=False, equals=False)),
    ("within", sq(2, 2, 4, 4), sq(0, 0, 10, 10),
     dict(within=True, contains=False)),
    ("equals", sq(1, 1, 5, 5), sq(1, 1, 5, 5),
     dict(equals=True, contains=True, within=True, overlaps=False)),
    ("inscribed_diamond",
     np.array([(2, 0), (4, 2), (2, 4), (0, 2)], dtype=float), sq(0, 0, 4, 4),
     dict(within=True, intersects=True, touches=False)),
    ("contained_sharing_corner", sq(0, 0, 4, 4), sq(0, 0, 2, 2),
     dict(contains=True, touches=False, overlaps=False)),
    ("tri_overlap", TRI, sq(1, 1, 3, 2), dict(intersects=True, overlaps=True)),
    ("tri_touch_apex", TRI, sq(1, 3, 3, 5), dict(touches=True, overlaps=False)),
]


@pytest.mark.parametrize("name,a,b,want", TRUTH, ids=[t[0] for t in TRUTH])
def test_predicate_truth_table(name, a, b, want):
    got = overlay.polygon_predicates(a, b)
    for k, v in want.items():
        assert got[k] == v, (name, k, got)
    assert got["crosses"] is False  # areal x areal: GEOS dimension rule
    # symmetry laws
    rev = overlay.polygon_predicates(b, a)
    assert got["intersects"] == rev["intersects"]
    assert got["touches"] == rev["touches"]
    assert got["equals"] == rev["equals"]
    assert got["overlaps"] == rev["overlaps"]
    assert got["contains"] == rev["within"]
    assert got["within"] == rev["contains"]


def test_clip_convex_shapes():
    diamond = np.array([(2, 0), (4, 2), (2, 4), (0, 2)], dtype=float)
    c = overlay.clip_ring_convex(sq(0, 0, 4, 4), diamond)
    assert abs(abs(geom.shoelace_area(c)) - 8.0) < 1e-12
    # clip orientation must not matter
    c2 = overlay.clip_ring_convex(sq(0, 0, 4, 4), diamond[::-1])
    assert abs(abs(geom.shoelace_area(c2)) - 8.0) < 1e-12
    assert abs(abs(geom.shoelace_area(
        overlay.clip_ring_convex(TRI, sq(0, 0, 10, 10)))) - 6.0) < 1e-12
    assert len(overlay.clip_ring_convex(sq(0, 0, 2, 2), sq(5, 5, 7, 7))) == 0
    # concave subject against convex clip (C-shape clipped to right half)
    cshape = np.array([(0, 0), (10, 0), (10, 1), (1, 1), (1, 9), (10, 9),
                       (10, 10), (0, 10)], dtype=float)
    piece = overlay.clip_ring_convex(cshape, sq(5, 0, 10, 10))
    # right half contains the two 5x1 arms only
    assert abs(abs(geom.shoelace_area(piece)) - 10.0) < 1e-12


def test_interior_point_concave():
    cshape = np.array([(0, 0), (10, 0), (10, 1), (1, 1), (1, 9), (10, 9),
                       (10, 10), (0, 10)], dtype=float)
    p = overlay.interior_point(cshape)
    inside = geom.pip_even_odd(np.array([p[0]]), np.array([p[1]]), [cshape])
    assert inside[0]


def _rect_layer(spark, rects, idc):
    rows = [(i, [[{"x": float(x0), "y": float(y0)},
                  {"x": float(x1), "y": float(y0)},
                  {"x": float(x1), "y": float(y1)},
                  {"x": float(x0), "y": float(y1)}]])
            for i, (x0, y0, x1, y1) in rects]
    return spark.createDataFrame(
        rows, f"{idc} long, rings array<array<struct<x double, y double>>>"
    )


def test_layer_algebra_rects(spark):
    A = [(1, (0, 0, 10, 10)), (2, (20, 0, 30, 10)), (3, (50, 50, 52, 52))]
    B = [(7, (5, 5, 25, 8)), (8, (28, 0, 40, 4))]
    a = _rect_layer(spark, A, "id_a")
    b = _rect_layer(spark, B, "id_b")

    inter = {(r["id_a"], r["id_b"]): r["inter_area"]
             for r in overlay.intersection_layer(a, b, bucket=16.0).collect()}
    assert inter == {(1, 7): 15.0, (2, 7): 15.0, (2, 8): 8.0}

    er = {r["id_a"]: (r["area"], r["erased_area"], r["remaining_area"])
          for r in overlay.erase_layer(a, b, bucket=16.0).collect()}
    assert er[1] == (100.0, 15.0, 85.0)
    assert er[2] == (100.0, 23.0, 77.0)
    assert er[3] == (4.0, 0.0, 4.0)

    un = overlay.union_layer(a, b, bucket=16.0).collect()
    total = sum(r["area"] for r in un)
    # union area-additivity: sum of pieces == area(A) + area(B) - inter
    area_a = 100 + 100 + 4
    area_b = 20 * 3 + 12 * 4
    inter_total = 15 + 15 + 8
    assert abs(total - (area_a + area_b - inter_total)) < 1e-9 + inter_total
    # pieces partition: intersections once + remainders
    assert abs(total - (area_a + area_b - inter_total)) < 1e-9


def test_predicate_join_matches_kernel(spark):
    A = [(1, (0, 0, 4, 4)), (2, (10, 10, 12, 12))]
    B = [(5, (2, 2, 6, 6)), (6, (4, 0, 8, 4)), (7, (30, 30, 31, 31))]
    a = _rect_layer(spark, A, "id_a")
    b = _rect_layer(spark, B, "id_b")
    rows = {(r["id_a"], r["id_b"]): r.asDict()
            for r in overlay.predicate_join(a, b, bucket=8.0).collect()}
    assert (1, 5) in rows and rows[(1, 5)]["overlaps"]
    assert (1, 6) in rows and rows[(1, 6)]["touches"]
    assert (2, 7) not in rows  # bbox-disjoint pairs pruned natively


# ---------------------------------------------------------------------------
# round 3: general polygons (non-convex, holed, overlapping method layers)
# ---------------------------------------------------------------------------

def _area_of(pieces):
    return sum(abs(geom.shoelace_area(p)) for p in pieces)


L_SHAPE = np.array([(0, 0), (10, 0), (10, 3), (3, 3), (3, 12), (0, 12)], float)
SQ10 = np.array([(0, 0), (10, 0), (10, 10), (0, 10)], float)
HOLE4 = np.array([(3, 3), (7, 3), (7, 7), (3, 7)], float)


def test_triangulate_lshape_exact_area():
    tris = overlay.triangulate(L_SHAPE)
    assert len(tris) == 4
    assert _area_of(tris) == 57.0


def test_convex_split_partitions_exactly():
    b = np.array([(5, 5), (15, 5), (15, 15), (5, 15)], float)
    diff, inter = overlay.convex_split(SQ10, b)
    assert _area_of(diff) == 75.0
    assert abs(geom.shoelace_area(inter)) == 25.0


def test_holed_pieces_and_disjoint_cover():
    assert _area_of(overlay.holed_to_pieces([SQ10, HOLE4])) == 84.0
    c = np.array([(5, 0), (15, 0), (15, 10), (5, 10)], float)
    cover = overlay.disjoint_cover(
        [overlay.triangulate(SQ10), overlay.triangulate(c)]
    )
    assert _area_of(cover) == 150.0


def test_clip_area_general_holed_subject_lshape_method():
    got = overlay.clip_area_general(
        [SQ10, HOLE4], overlay.holed_to_pieces([L_SHAPE])
    )
    assert abs(got - 51.0) < 1e-9


def test_general_machinery_vs_raster_oracle():
    """Randomized cross-check: erase area of holed subjects under
    OVERLAPPING L-shaped methods vs a 10x-supersampled pixel-center
    rasterization oracle (independent sequential numpy)."""
    rng = np.random.default_rng(11)
    N = 10  # supersample factor; all coords integers so centers never touch edges
    for trial in range(6):
        ox0, oy0 = rng.integers(0, 6, 2)
        w, h = rng.integers(6, 14, 2)
        outer = np.array([(ox0, oy0), (ox0 + w, oy0), (ox0 + w, oy0 + h),
                          (ox0, oy0 + h)], float)
        hole = np.array([(ox0 + 1, oy0 + 1), (ox0 + w - 1, oy0 + 1),
                         (ox0 + w - 1, oy0 + h - 1), (ox0 + 1, oy0 + h - 1)],
                        float)
        methods = []
        for _ in range(3):
            mx, my = rng.integers(0, 15, 2)
            wl, hl = rng.integers(4, 10, 2)
            t = int(rng.integers(1, 4))
            methods.append(np.array([
                (mx, my), (mx + wl, my), (mx + wl, my + t), (mx + t, my + t),
                (mx + t, my + hl), (mx, my + hl)], float))
        cover = overlay.disjoint_cover(
            [overlay.holed_to_pieces([m]) for m in methods]
        )
        got = overlay.clip_area_general([outer, hole], cover)

        # oracle: pixel centers on a 1/N grid over [0,32)^2
        g = (np.arange(32 * N) + 0.5) / N
        X, Y = np.meshgrid(g, g)
        in_subj = ((X > ox0) & (X < ox0 + w) & (Y > oy0) & (Y < oy0 + h)
                   & ~((X > ox0 + 1) & (X < ox0 + w - 1)
                       & (Y > oy0 + 1) & (Y < oy0 + h - 1)))
        in_any = np.zeros_like(in_subj)
        for m in methods:
            mx, my = m[0]
            wl = m[1][0] - mx
            t = m[2][1] - my
            hl = m[5][1] - my
            in_any |= ((X > mx) & (X < mx + wl) & (Y > my) & (Y < my + t)) | (
                (X > mx) & (X < mx + t) & (Y > my + t) & (Y < my + hl))
        want = (in_subj & in_any).sum() / (N * N)
        assert abs(got - want) < 1e-9, (trial, got, want)


def test_erase_layer_general_spark_overlapping_methods(spark):
    """Spark end-to-end: overlapping method rects must not double-count."""
    def rings_row(*rings):
        return [[{"x": float(x), "y": float(y)} for (x, y) in r] for r in rings]

    a = spark.createDataFrame(
        [(1, rings_row([(0, 0), (10, 0), (10, 10), (0, 10)],
                       [(3, 3), (7, 3), (7, 7), (3, 7)]))],
        schema="id_a long, rings array<array<struct<x:double,y:double>>>",
    )
    b = spark.createDataFrame(
        [(1, rings_row([(0, 0), (6, 0), (6, 6), (0, 6)])),
         (2, rings_row([(4, 0), (10, 0), (10, 6), (4, 6)]))],
        schema="id_b long, rings array<array<struct<x:double,y:double>>>",
    )
    row = overlay.erase_layer_general(a, b, bucket=8.0).collect()[0]
    # union of methods = [0,10]x[0,6] = 60; subject minus hole inside it:
    # 60 - hole∩ = 60 - (4x3) = 48 erased; subject area 84; remaining 36
    assert abs(row.area - 84.0) < 1e-9
    assert abs(row.erased_area - 48.0) < 1e-9
    assert abs(row.remaining_area - 36.0) < 1e-9


def test_erase_layer_general_methods_of_different_vertex_counts(spark):
    """A subject meeting method features whose rings differ in length (a
    ragged list of rings per subject) erases each of them."""
    def rings_row(*rings):
        return [[{"x": float(x), "y": float(y)} for (x, y) in r] for r in rings]

    a = spark.createDataFrame(
        [(1, rings_row([(0, 0), (4, 0), (4, 4), (0, 4)]))],
        schema="id_a long, rings array<array<struct<x:double,y:double>>>",
    )
    b = spark.createDataFrame(
        [(1, rings_row([(0, 0), (2, 0), (0, 2)])),
         (2, rings_row([(3, 3), (5, 3), (5, 5), (3, 5)])),
         (3, rings_row([(3.5, 0), (5, 0), (5, 0.5), (4.5, 1), (3.5, 0.5)]))],
        schema="id_b long, rings array<array<struct<x:double,y:double>>>",
    )
    row = overlay.erase_layer_general(a, b, bucket=8.0).collect()[0]
    # triangle 2 + corner square [3,4]x[3,4] 1 + the pentagon's part left
    # of x = 4, under y = 0.5 + (x - 3.5) / 2: 0.25 + 0.0625
    assert abs(row.area - 16.0) < 1e-9
    assert abs(row.erased_area - 3.3125) < 1e-9
    assert abs(row.remaining_area - 12.6875) < 1e-9


def test_predicates_general_reference_cases():
    """Hand-built truth rows for holed subject x L method."""
    subj = [SQ10, HOLE4]                       # [0,10]^2 minus [3,7]^2
    # L overlapping partially
    p = overlay.polygon_predicates_general(subj, [L_SHAPE])
    assert p["intersects"] and p["overlaps"] and not p["touches"]
    assert not p["contains"] and not p["within"] and not p["disjoint"]
    # small rect strictly inside the hole: disjoint from the annulus
    inner = np.array([(4, 4), (6, 4), (6, 6), (4, 6)], float)
    p = overlay.polygon_predicates_general(subj, [inner])
    assert p["disjoint"] and not p["intersects"]
    # rect exactly filling the hole: touches the hole ring, no interior
    fill = np.array([(3, 3), (7, 3), (7, 7), (3, 7)], float)
    p = overlay.polygon_predicates_general(subj, [fill])
    assert p["intersects"] and p["touches"] and not p["overlaps"]
    # rect inside the annulus (left band [0,3]x[0,10] minus nothing):
    band = np.array([(0.5, 0.5), (2.5, 0.5), (2.5, 9.5), (0.5, 9.5)], float)
    p = overlay.polygon_predicates_general(subj, [band])
    assert p["intersects"] and p["contains"] and not p["within"]
    # identical holed polygons: equals
    p = overlay.polygon_predicates_general(subj, subj)
    assert p["equals"] and p["contains"] and p["within"]


def test_predicates_general_vs_sampling_reference():
    """Randomized: interiors/contains/within vs a dense-sampling reference
    on integer-coordinate holed-rect x L pairs."""
    rng = np.random.default_rng(21)
    N = 8  # supersample (integer coords -> centers never on boundaries)
    g = (np.arange(40 * N) + 0.5) / N
    X, Y = np.meshgrid(g, g)
    for trial in range(12):
        ox, oy = map(int, rng.integers(0, 8, 2))
        w, h = map(int, rng.integers(4, 14, 2))
        subj = [np.array([(ox, oy), (ox + w, oy), (ox + w, oy + h),
                          (ox, oy + h)], float),
                np.array([(ox + 1, oy + 1), (ox + w - 1, oy + 1),
                          (ox + w - 1, oy + h - 1), (ox + 1, oy + h - 1)],
                         float)]
        mx, my = map(int, rng.integers(0, 18, 2))
        wl, hl = map(int, rng.integers(4, 12, 2))
        t = int(rng.integers(1, 4))
        L = np.array([(mx, my), (mx + wl, my), (mx + wl, my + t),
                      (mx + t, my + t), (mx + t, my + hl), (mx, my + hl)],
                     float)
        got = overlay.polygon_predicates_general(subj, [L])
        in_a = ((X > ox) & (X < ox + w) & (Y > oy) & (Y < oy + h)
                & ~((X > ox + 1) & (X < ox + w - 1)
                    & (Y > oy + 1) & (Y < oy + h - 1)))
        in_b = ((X > mx) & (X < mx + wl) & (Y > my) & (Y < my + t)) | (
            (X > mx) & (X < mx + t) & (Y > my + t) & (Y < my + hl))
        c_ab = (in_a & in_b).sum()
        assert got["intersects"] >= (c_ab > 0)      # interiors => intersects
        assert got["overlaps"] == bool(
            c_ab > 0 and c_ab != in_a.sum() and c_ab != in_b.sum()), trial
        assert got["contains"] == bool(c_ab > 0 and c_ab == in_b.sum()), trial
        assert got["within"] == bool(c_ab > 0 and c_ab == in_a.sum()), trial
