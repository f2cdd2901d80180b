"""Geometry kernels: shoelace, WKT canonicalization, even-odd PiP (incl.
holes), rect clip; hypothesis property tests (PiP ray-cast vs winding)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_scripts_spark import fixtures, geom

SQUARE = np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])
HOLE = np.array([(1.0, 1.0), (1.0, 3.0), (3.0, 3.0), (3.0, 1.0)])  # CW


def test_shoelace_and_area():
    assert geom.shoelace_area(SQUARE) == 16.0  # CCW positive
    assert geom.shoelace_area(SQUARE[::-1]) == -16.0
    assert geom.polygon_area([SQUARE, HOLE]) == 16.0 - 4.0


def test_centroid():
    cx, cy = geom.ring_centroid(SQUARE)
    assert (cx, cy) == (2.0, 2.0)


def test_wkt_canonical():
    w = geom.polygon_wkt([SQUARE[::-1], HOLE[::-1]])  # wrong orientations in
    assert w.startswith("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)")
    # hole must come out CW ((1,1)→(1,3)→(3,3)→(3,1) is clockwise)
    hole_part = w.split("), (")[1].rstrip(")")
    pts = [tuple(map(float, p.split())) for p in hole_part.split(", ")]
    assert pts[0] == pts[-1]  # closed
    xs = np.array([p[0] for p in pts[:-1]])
    ys = np.array([p[1] for p in pts[:-1]])
    assert geom.shoelace_area(np.column_stack([xs, ys])) < 0  # CW


def test_pip_square_with_hole():
    px = np.array([2.0, 0.5, 2.0, 5.0, 2.0])
    py = np.array([2.0, 0.5, 1.5, 2.0, 3.5])
    got = geom.pip_even_odd(px, py, [SQUARE, HOLE])
    #       in-hole  in      edge-ish in    out     in
    assert got.tolist() == [False, True, False, False, True]
    # wait: (2,1.5) is inside hole? hole is y in [1,3] → yes → False
    # recompute expectations explicitly:
    exp = [False, True, False, False, True]
    assert got.tolist() == exp


def test_pip_matches_matplotlib_free_winding():
    # compare even-odd ray cast against an independent winding-number
    # implementation on simple (non-self-intersecting) polygons
    rng = np.random.default_rng(11)

    def winding_inside(px, py, ring):
        r = ring
        x1, y1 = r[:, 0], r[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        wn = np.zeros(px.shape, dtype=np.int64)
        for i in range(len(r)):
            up = (y1[i] <= py) & (y2[i] > py)
            dn = (y1[i] > py) & (y2[i] <= py)
            cross = (x2[i] - x1[i]) * (py - y1[i]) - (px - x1[i]) * (y2[i] - y1[i])
            wn += np.where(up & (cross > 0), 1, 0)
            wn -= np.where(dn & (cross < 0), 1, 0)
        return wn != 0

    for trial in range(20):
        k = int(rng.integers(3, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.5, 2.0, k)
        ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])  # star-convex → simple
        px = rng.uniform(-2.5, 2.5, 200)
        py = rng.uniform(-2.5, 2.5, 200)
        assert np.array_equal(
            geom.pip_even_odd(px, py, [ring]), winding_inside(px, py, ring)
        ), trial


def test_pack_and_batch_vs_oracle():
    pack = fixtures.polygons_pack(p=25)
    rng = np.random.default_rng(4)
    # sample around polygon bboxes to get real hits
    px = np.concatenate(
        [rng.uniform(b[0] - 1, b[2] + 1, 40) for b in pack.bbox]
    )
    py = np.concatenate(
        [rng.uniform(b[1] - 1, b[3] + 1, 40) for b in pack.bbox]
    )
    oracle = set(geom.np_pip_pairs(px, py, pack))
    assert len(oracle) > 50  # fixture actually exercises hits
    idx, pid = geom.pip_batch(px, py, pack)
    got = set(zip(idx.tolist(), pid.tolist()))
    assert got == oracle


def _batch_vs_oracle(pack, px, py):
    """``pip_batch`` gives exactly the oracle's pairs, ordered by point,
    then by pack position; returns the pair count."""
    pos = {int(p): k for k, p in enumerate(pack.poly_ids)}
    want = sorted(geom.np_pip_pairs(px, py, pack), key=lambda t: (t[0], pos[t[1]]))
    idx, pid = geom.pip_batch(px, py, pack)
    assert list(zip(idx.tolist(), pid.tolist())) == want
    return len(want)


def test_pip_batch_matches_oracle_on_adversarial_points():
    """Random polygons with holes and quarter-lattice polygons (horizontal
    and vertical edges) against points on their vertices, edge midpoints
    and exactly on cell borders of the pack's index, quarter-lattice
    points, NaN and infinite coordinates and points outside the grid."""
    rng = np.random.default_rng(21)
    n_pairs = n_boundary = n_interior = 0
    for trial in range(30):
        polys = []
        for _ in range(int(rng.integers(1, 25))):
            cx, cy = np.round(rng.uniform(-5, 5, 2) * 4) / 4
            m = int(rng.integers(3, 25))
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            ring = np.column_stack([np.cos(ang), np.sin(ang)])
            if rng.random() < 0.5:
                ext = ring * rng.uniform(0.4, 1.0, (m, 1)) * rng.uniform(0.1, 3)
                hole = 0.3 * ext[::-1] + rng.uniform(-0.05, 0.05, 2)
            else:
                ext = np.round(ring * 8) / 4
                hole = ext[::-1] / 2
            polys.append([ext + (cx, cy), hole + (cx, cy)])
        # ids in no particular order: the output follows pack positions
        ids = rng.permutation(len(polys)) * 7
        pack = geom.PolygonPack.from_rings(list(zip(ids.tolist(), polys)))
        g = pack.cell_index()
        n_boundary += int(g.boundary.sum())
        n_interior += int((~g.boundary).sum())
        v = pack.coords
        mid = (v[:-1] + v[1:]) / 2
        borders_x = g.x0 + np.arange(-1, g.nx + 2) * g.side
        borders_y = g.y0 + np.arange(-1, g.ny + 2) * g.side
        u = rng.uniform(-9, 9, (2, 1000))
        px = np.concatenate([u[0], v[:, 0], mid[:, 0], rng.choice(borders_x, 1000),
                             u[1], np.round(u[0] * 4) / 4,
                             [np.nan, np.inf, -np.inf, 0.0, 1e300, 2.0]])
        py = np.concatenate([u[1], v[:, 1], mid[:, 1], u[0],
                             rng.choice(borders_y, 1000), np.round(u[1] * 4) / 4,
                             [0.0, 0.0, 0.0, np.nan, 0.0, -np.inf]])
        n_pairs += _batch_vs_oracle(pack, px, py)
    assert n_pairs > 10_000 and n_boundary > 0 and n_interior > 0


def test_pip_batch_empty_pack_and_zero_width_bbox():
    empty = geom.PolygonPack.from_rings([])
    idx, pid = geom.pip_batch([1.0, np.nan], [2.0, 0.0], empty)
    assert len(idx) == len(pid) == 0
    # a polygon collapsed onto the line x = 1 beside an ordinary triangle
    pack = geom.PolygonPack.from_rings([
        (3, [np.array([[1.0, 0.0], [1.0, 2.0], [1.0, 1.0]])]),
        (4, [np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]])]),
    ])
    px = np.array([1.0, 1.0, 1.5, 1.9, 0.5, 3.0])
    py = np.array([1.0, 0.5, 0.2, 1.0, 1.0, 1.0])
    assert _batch_vs_oracle(pack, px, py) > 0
    only_line = geom.PolygonPack.from_rings([(3, [np.array([[1.0, 0.0], [1.0, 2.0]])])])
    _batch_vs_oracle(only_line, px, py)


def test_cell_index_size_is_bounded():
    """One continent-sized polygon beside 200 small ones: the index holds
    at most the budget's entries, with no grid-sized array, and stays
    exact."""
    rng = np.random.default_rng(22)
    continent = np.array([[-170.0, -60.0], [170.0, -60.0], [170.0, 70.0],
                          [0.0, 80.0], [-170.0, 70.0]])
    small = []
    for k in range(200):
        ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
        c = rng.uniform(-150, 150, 2)
        small.append((k + 1, [0.5 * np.column_stack([np.cos(ang), np.sin(ang)]) + c]))
    pack = geom.PolygonPack.from_rings([(0, [continent])] + small)
    g = pack.cell_index()
    assert len(g.poly) <= geom._INDEX_SLOTS
    assert len(g.keys) < g.nx * g.ny
    assert set(np.unique(g.poly).tolist()) == set(range(201))
    px, py = rng.uniform(-180, 180, 20_000), rng.uniform(-90, 90, 20_000)
    assert _batch_vs_oracle(pack, px, py) > 10_000


def _grid_oracle(xs, ys, edges):
    """Per-pixel ray cast over the full grid: the pixel-run kernel's oracle."""
    xs, ys = np.asarray(xs, np.float64), np.asarray(ys, np.float64)
    gx = np.broadcast_to(xs[None, :], (len(ys), len(xs))).ravel()
    gy = np.broadcast_to(ys[:, None], (len(ys), len(xs))).ravel()
    return geom.pip_even_odd_edges(gx, gy, edges).reshape(len(ys), len(xs))


def test_pip_grid_matches_ray_cast_on_random_polygons_with_holes():
    rng = np.random.default_rng(11)
    for trial in range(60):
        m = int(rng.integers(3, 25))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        ext = np.column_stack([np.cos(ang), np.sin(ang)]) * rng.uniform(0.4, 1.0, (m, 1))
        hole = 0.3 * ext[::-1] + rng.uniform(-0.05, 0.05, 2)
        edges = geom.polygon_edges([ext, hole])
        xs = np.sort(rng.uniform(-1.2, 1.2, int(rng.integers(1, 60))))
        ys = rng.uniform(-1.2, 1.2, int(rng.integers(1, 60)))  # rows in any order
        got = geom.pip_grid_edges(xs, ys, edges)
        assert got.shape == (len(ys), len(xs))
        assert np.array_equal(got, _grid_oracle(xs, ys, edges)), trial


def test_pip_grid_on_vertices_and_horizontal_edges():
    # quarter-lattice polygons have horizontal (and vertical) edges, and a
    # quarter-step grid runs through every vertex and along every such edge
    rng = np.random.default_rng(12)
    grid = np.arange(-12, 13) / 4.0
    n_horizontal = 0
    for trial in range(40):
        m = int(rng.integers(3, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        ext = np.round(np.column_stack([np.cos(ang), np.sin(ang)]) * 8) / 4
        edges = geom.polygon_edges([ext, ext[::-1] / 2])
        n_horizontal += int((edges[1] == edges[3]).sum())
        for ys in (grid, grid[::-1]):
            assert np.array_equal(geom.pip_grid_edges(grid, ys, edges),
                                  _grid_oracle(grid, ys, edges)), trial
    assert n_horizontal > 0
    # fixture polygons, grid coordinates on their own vertices and midpoints
    pack = fixtures.polygons_pack(p=25)
    for p in range(pack.n_polys):
        v = np.vstack(pack.rings_of(p))
        xs = np.unique(np.concatenate([v[:, 0], (v[:-1, 0] + v[1:, 0]) / 2]))
        ys = np.unique(v[:, 1])[::-1]
        edges = pack.edges_of(p)
        assert np.array_equal(geom.pip_grid_edges(xs, ys, edges),
                              _grid_oracle(xs, ys, edges)), p


def test_pip_grid_edge_cases():
    edges = geom.polygon_edges([SQUARE, HOLE])
    # rows with no crossing (above, below and on the top edge: half-open)
    ys = np.array([6.0, 4.0, 3.5, 2.0, 0.5, 0.0, -1.0])
    xs = np.arange(-1.0, 6.0, 0.5)
    got = geom.pip_grid_edges(xs, ys, edges)
    assert not got[[0, 1, 6]].any()
    assert np.array_equal(got, _grid_oracle(xs, ys, edges))
    # 1x1 grids: inside the ring, inside the hole, outside
    assert geom.pip_grid_edges([0.5], [0.5], edges).tolist() == [[True]]
    assert geom.pip_grid_edges([2.0], [2.0], edges).tolist() == [[False]]
    assert geom.pip_grid_edges([5.0], [2.0], edges).tolist() == [[False]]
    # descending xs and ys (and a duplicated column) give the same mask
    xd = np.array([4.5, 3.0, 3.0, 2.5, 0.5, -0.5])
    yd = np.array([3.5, 2.5, 1.5, 0.5])
    assert np.array_equal(geom.pip_grid_edges(xd, yd, edges),
                          _grid_oracle(xd, yd, edges))
    assert np.array_equal(geom.pip_grid_edges(xd, yd, edges),
                          geom.pip_grid_edges(xd[::-1], yd, edges)[:, ::-1])
    # empty grids
    assert geom.pip_grid_edges([], [1.0], edges).shape == (1, 0)
    assert geom.pip_grid_edges([1.0], [], edges).shape == (0, 1)


def test_clip_ring_rect():
    clipped = geom.clip_ring_rect(SQUARE, 1, 1, 3, 3)
    assert abs(abs(geom.shoelace_area(clipped)) - 4.0) < 1e-12
    # fully inside
    inner = geom.clip_ring_rect(HOLE, -10, -10, 10, 10)
    assert abs(abs(geom.shoelace_area(inner)) - 4.0) < 1e-12
    # fully outside
    out = geom.clip_ring_rect(SQUARE, 10, 10, 20, 20)
    assert len(out) == 0


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 100000))
def test_clip_area_never_grows(seed):
    rng = np.random.default_rng(seed)
    k = int(rng.integers(3, 10))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    ring = np.column_stack([2 * np.cos(ang), 2 * np.sin(ang)])
    a0 = abs(geom.shoelace_area(ring))
    box = sorted(rng.uniform(-2.5, 2.5, 2))
    boy = sorted(rng.uniform(-2.5, 2.5, 2))
    c = geom.clip_ring_rect(ring, box[0], boy[0], box[1], boy[1])
    a1 = abs(geom.shoelace_area(c)) if len(c) >= 3 else 0.0
    assert a1 <= a0 + 1e-9
    assert a1 <= (box[1] - box[0]) * (boy[1] - boy[0]) + 1e-9
