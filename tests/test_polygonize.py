"""Polygonize: the per-image run-based CCL must match the sequential BFS
flood-fill oracle exactly, 4- and 8-connected (the two classic GDAL traps
are pinned: connectivity, and components that a tiled labeler would split
at a seam)."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_scripts_spark import fixtures, polygonize


@pytest.fixture(scope="module")
def labels(spark):
    df = fixtures.labels_spark(spark, n=8).persist()
    df.count()
    return df, fixtures.make_labels_pdf(n=8)


def _decode(pdf):
    from gdal_scripts_spark import codecs

    return {r["image_id"]: codecs.decode(r["bytes"], r["fmt"]) for _, r in pdf.iterrows()}


def _image_df(spark, imgs):
    from gdal_scripts_spark import codecs

    rows = [(f"e{i}", codecs.encode(img, "pgm"), img.shape[1], img.shape[0],
             "pgm", "x", 0, 0.0, 0.0) for i, img in enumerate(imgs)]
    return spark.createDataFrame(rows, schema=fixtures.IMAGES_SCHEMA)


@pytest.mark.parametrize("conn", [4, 8])
def test_polygonize_matches_flood_fill_oracle(labels, conn):
    df, pdf = labels
    got_rows = polygonize.polygonize(df, connectivity=conn).collect()
    got: dict[str, dict[int, tuple]] = {}
    for r in got_rows:
        got.setdefault(r["image_id"], {})[r["label"]] = (
            r["value"], r["pixel_count"], r["min_y"], r["min_x"], r["wkt"]
        )
    imgs = _decode(pdf)
    assert set(got) == set(imgs)
    for iid, img in imgs.items():
        oracle = polygonize.np_polygonize(img, connectivity=conn)
        assert len(oracle) > 0
        assert set(got[iid]) == {c["label"] for c in oracle}, iid
        for c in oracle:
            v, n, my, mx, wkt = got[iid][c["label"]]
            assert v == c["value"], (iid, c["label"])
            assert n == c["pixel_count"], (iid, c["label"])
            assert (my, mx) == c["min_pixel_yx"], (iid, c["label"])
            assert wkt == c["wkt"], (iid, c["label"])


def test_connectivity_pinned():
    # two pixels touching only diagonally: 2 components at 4-conn, 1 at 8-conn
    img = np.zeros((4, 4), np.uint8)
    img[1, 1] = 7
    img[2, 2] = 7
    assert len(polygonize.np_polygonize(img, 4)) == 2
    assert len(polygonize.np_polygonize(img, 8)) == 1


def test_cross_tile_blob(spark):
    # one rectangle spanning the 10x10 seams of a 20x20 image must come
    # out as ONE component (a tiled labeler would have to merge it)
    img = np.zeros((20, 20), np.uint8)
    img[4:16, 6:15] = 9  # crosses both seams
    rows = polygonize.polygonize(_image_df(spark, [img]), connectivity=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["pixel_count"] == 12 * 9
    assert (r["min_y"], r["min_x"]) == (4, 6)
    assert r["wkt"] == polygonize.np_polygonize(img, 4)[0]["wkt"]


_DTYPES = [("image_id", "string"), ("label", "bigint"), ("value", "int"),
           ("pixel_count", "bigint"), ("min_y", "int"), ("min_x", "int")]


@pytest.mark.parametrize("trace", [True, False])
def test_edge_inputs_keep_schema(spark, trace):
    want = _DTYPES + ([("wkt", "string")] if trace else [])
    one = np.full((1, 1), 4, np.uint8)
    cases = [([], 0), ([np.zeros((5, 7), np.uint8)], 0), ([one], 1)]
    for imgs, n in cases:
        out = polygonize.polygonize(_image_df(spark, imgs), trace_rings=trace)
        assert out.dtypes == want
        rows = out.collect()
        assert len(rows) == n
    r = rows[0]
    assert (r["label"], r["value"], r["pixel_count"], r["min_y"], r["min_x"]) == (0, 4, 1, 0, 0)
    if trace:
        assert r["wkt"] == polygonize.np_polygonize(one)[0]["wkt"]
        assert r["wkt"] == "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"


def test_untraced_rows_are_traced_rows_minus_wkt(labels):
    df, _ = labels
    traced = polygonize.polygonize(df).collect()
    untraced = polygonize.polygonize(df, trace_rings=False).collect()
    assert len(traced) > 0
    assert sorted(tuple(r)[:-1] for r in traced) == sorted(tuple(r) for r in untraced)


def test_exterior_ring_shapes():
    # L-shape: ring must have 6 corners
    img = np.zeros((5, 5), np.uint8)
    img[0:4, 0:2] = 3
    img[3, 0:4] = 3
    c = polygonize.np_polygonize(img, 4)
    assert len(c) == 1
    ring = c[0]["wkt"]
    n_pts = ring.count(",")  # closed ring: corners == commas
    assert n_pts == 6


def test_sieve_absorbs_small_components(spark):
    from gdal_scripts_spark import codecs
    import pandas as pd

    img = np.zeros((10, 10), np.uint8)
    img[2:8, 2:8] = 5          # big blob (36 px)
    img[4, 4] = 9              # 1-px speck inside it
    img[0, 0] = 7              # 1-px speck on background
    out = polygonize.np_sieve(img, threshold=3)
    assert out[4, 4] == 5      # absorbed into surrounding blob
    assert out[0, 0] == 0      # absorbed into background
    assert (out[2:8, 2:8] == 5).all()
    # threshold=1 keeps everything
    assert np.array_equal(polygonize.np_sieve(img, threshold=1), img)
    # spark path matches numpy
    pdf = pd.DataFrame([{
        "image_id": "s0", "bytes": codecs.encode(img, "pgm"), "w": 10, "h": 10,
        "fmt": "pgm", "caption": "x", "phash": 0, "lon": 0.0, "lat": 0.0,
    }])
    df = spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA)
    row = polygonize.sieve(df, threshold=3).collect()[0]
    assert np.array_equal(codecs.decode(bytes(row["bytes"]), "pgm"), out)


def test_sieve_iterates_to_fixpoint():
    # chain: absorbing one speck creates a new small component scenario
    img = np.zeros((6, 6), np.uint8)
    img[0:2, 0:2] = 3          # 4 px
    img[2, 0] = 8              # 1 px below it
    out = polygonize.np_sieve(img, threshold=3)
    assert 8 not in out
    assert (out == 3).sum() >= 4


def test_sieve_fast_matches_bfs_oracle():
    rng = np.random.default_rng(7)
    for _ in range(25):
        h, w = rng.integers(3, 18, 2)
        img = rng.integers(0, 4, (h, w)).astype(np.uint8)
        for conn in (4, 8):
            for thr in (2, 4):
                assert np.array_equal(
                    polygonize.np_sieve(img, thr, conn),
                    polygonize.np_sieve_fast(img, thr, conn),
                ), (conn, thr, img)


def test_donut_holes_cross_tile_seam(spark):
    # donut whose hole straddles the 10x10 seam corner: the Spark path
    # must emit POLYGON ((exterior), (hole)) matching the BFS oracle
    img = np.zeros((20, 20), np.uint8)
    img[3:17, 3:17] = 6        # crosses both seams
    img[8:12, 8:12] = 0        # hole centered on the seam corner
    rows = polygonize.polygonize(_image_df(spark, [img]), connectivity=4).collect()
    assert len(rows) == 1
    oracle = polygonize.np_polygonize(img, 4)[0]
    assert rows[0]["wkt"] == oracle["wkt"]
    assert oracle["wkt"].count("(") == 3  # exterior + one interior ring


def test_nested_component_inside_hole(spark):
    img = np.zeros((16, 16), np.uint8)
    img[2:14, 2:14] = 5
    img[6:10, 6:10] = 0
    img[7:9, 7:9] = 3          # island inside the hole
    rows = {r["value"]: r["wkt"] for r in
            polygonize.polygonize(_image_df(spark, [img]), connectivity=4).collect()}
    want = {c["value"]: c["wkt"] for c in polygonize.np_polygonize(img, 4)}
    assert rows == want
    assert rows[5].count("(") == 3     # donut has a hole ring
    assert rows[3].count("(") == 2     # island is a plain polygon


def test_vectorized_kernels_are_fast():
    # 256x256 worst-case-ish random label image: the old per-pixel kernels
    # took O(seconds). The host clock drifts up to ~10x (BENCH/BASELINE.md),
    # so wall-clock thresholds are only a generous regression backstop; the
    # real guard is relative: vectorized CCL must beat the per-pixel BFS
    # oracle on the same input.
    import time

    rng = np.random.default_rng(3)
    big = rng.integers(0, 5, (256, 256)).astype(np.uint8)
    t0 = time.time()
    polygonize._tile_ccl(big, 4)
    t_ccl = time.time() - t0
    t0 = time.time()
    polygonize.np_sieve_fast(big, 4, 4)
    t_sieve = time.time() - t0
    small = rng.integers(0, 5, (64, 64)).astype(np.uint8)
    t0 = time.time()
    polygonize.np_sieve_fast(small, 4, 4)
    t_fast = time.time() - t0
    t0 = time.time()
    polygonize.np_sieve(small, 4, 4)
    t_oracle = time.time() - t0
    assert t_fast < t_oracle, (t_fast, t_oracle)
    assert t_ccl < 30.0, t_ccl       # backstop only
    assert t_sieve < 60.0, t_sieve   # backstop only
