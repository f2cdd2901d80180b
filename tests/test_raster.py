"""Raster operators vs sequential numpy references (independent loop-style
implementations inside the tests, mirroring GDAL autotest's golden style)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import cells, codecs, fixtures, raster

N = 24


@pytest.fixture(scope="module")
def images(spark):
    df = fixtures.images_spark(spark, n=N).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def pdf():
    return fixtures.make_images_pdf(N)


def _decoded(pdf):
    out = {}
    for _, r in pdf.iterrows():
        img = codecs.decode(r["bytes"], r["fmt"])
        out[r["image_id"]] = img if img.ndim == 3 else img[:, :, None]
    return out


def test_global_stats_match_numpy(images, pdf):
    got = {r["band"]: r for r in raster.global_band_stats(images).collect()}
    dec = _decoded(pdf)
    for band in range(3):
        vals = np.concatenate([img[:, :, band].ravel() for img in dec.values()]).astype(np.float64)
        g = got[band]
        assert g["n"] == vals.size
        assert g["vmin"] == vals.min() and g["vmax"] == vals.max()
        assert abs(g["mean"] - vals.mean()) < 1e-9
        assert abs(g["stddev"] - vals.std()) < 1e-6


def test_histogram_matches_numpy(images, pdf):
    got = {r["bin"]: r["count"] for r in raster.histogram(images, band=0).collect()}
    dec = _decoded(pdf)
    exp = np.zeros(256, np.int64)
    for img in dec.values():
        exp += np.bincount(img[:, :, 0].ravel(), minlength=256)
    for b in range(256):
        assert got.get(b, 0) == exp[b]


def test_checksums_match(images, pdf):
    got = {r["image_id"]: r["checksum"] for r in raster.checksums(images).collect()}
    dec = _decoded(pdf)
    for iid, img in dec.items():
        assert got[iid] == codecs.gdal_style_checksum(img)


def test_retile_roundtrip(images, pdf):
    tiles = raster.retile(images, tile_w=10, tile_h=10).collect()
    dec = _decoded(pdf)
    by_img: dict[str, list] = {}
    for r in tiles:
        by_img.setdefault(r["image_id"], []).append(r)
    for iid, img in dec.items():
        h, w, c = img.shape
        ncols = (w + 9) // 10
        nrows = (h + 9) // 10
        assert len(by_img[iid]) == ncols * nrows
        canvas = np.zeros((nrows * 10, ncols * 10, c), np.uint8)
        for t in by_img[iid]:
            a = np.frombuffer(t["tile_bytes"], np.uint8).reshape(10, 10, c)
            canvas[t["tile_row"] * 10 : t["tile_row"] * 10 + 10,
                   t["tile_col"] * 10 : t["tile_col"] * 10 + 10] = a
        assert np.array_equal(canvas[:h, :w], img)
        assert (canvas[h:] == 0).all() and (canvas[:, w:] == 0).all()


def test_assign_tiles_matches_numpy(images, pdf):
    z = 12
    rows = raster.assign_tiles(images, z).select("image_id", "tx", "ty", "y_xyz").collect()
    got: dict[str, set] = {}
    for r in rows:
        got.setdefault(r["image_id"], set()).add((r["tx"], r["ty"]))
        assert r["y_xyz"] == (1 << z) - 1 - r["ty"]
    n = 1 << z
    for _, r in pdf.iterrows():
        mx0, my1 = cells.np_lonlat_to_meters(r["lon"], r["lat"])
        mx1 = mx0 + r["w"] * raster.DEFAULT_PIX_M
        my0 = my1 - r["h"] * raster.DEFAULT_PIX_M
        txa, tya = cells.np_meters_to_tile(mx0, my0, z)
        txb, tyb = cells.np_meters_to_tile(mx1, my1, z)
        exp = {
            (tx, ty)
            for tx in range(max(int(txa), 0), min(int(txb), n - 1) + 1)
            for ty in range(max(int(tya), 0), min(int(tyb), n - 1) + 1)
        }
        assert got[r["image_id"]] == exp, r["image_id"]


def _seq_nearest_tile(img, mx0, my1, pix_m, tx, ty, z):
    """Independent scalar-loop nearest-resample reference."""
    h, w, c = img.shape
    res = cells.resolution(z)
    txmin = tx * 256 * res - cells.ORIGIN_SHIFT
    tymax = (ty + 1) * 256 * res - cells.ORIGIN_SHIFT
    out = np.zeros((256, 256, c), np.uint8)
    for j in range(256):
        for i in range(256):
            mx = txmin + (i + 0.5) * res
            my = tymax - (j + 0.5) * res
            u = int(np.floor((mx - mx0) / pix_m))
            v = int(np.floor((my1 - my) / pix_m))
            if 0 <= u < w and 0 <= v < h:
                out[j, i] = img[v, u]
    return out


def test_cut_base_tiles_nearest_matches_scalar_reference(spark):
    # one synthetic image, z chosen so the image spans a few tiles
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8)
    lon, lat = 10.0, 45.0
    pdf = pd.DataFrame(
        [{
            "image_id": "t0", "bytes": codecs.encode(img, "ppm"), "w": 56, "h": 40,
            "fmt": "ppm", "caption": "x", "phash": 0, "lon": lon, "lat": lat,
        }]
    )
    df = spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA)
    z = 14
    tiles = raster.cut_base_tiles(df, z=z, resampling="nearest").collect()
    assert len(tiles) >= 1
    mx0, my1 = (float(x) for x in cells.np_lonlat_to_meters(lon, lat))
    for t in tiles:
        exp = _seq_nearest_tile(img, mx0, my1, raster.DEFAULT_PIX_M,
                                t["tx"], t["ty"], z)
        got = codecs.decode_png(bytes(t["tile_bytes"]))
        assert np.array_equal(got, exp), (t["tx"], t["ty"])
        assert t["checksum"] == codecs.gdal_style_checksum(exp)
        assert t["y_xyz"] == (1 << z) - 1 - t["ty"]


def test_mosaic_last_wins_order(spark):
    # two images covering the same tile; img B (later id) must win on overlap
    a = np.full((20, 20, 3), 50, np.uint8)
    b = np.full((20, 20, 3), 200, np.uint8)
    lon, lat = 10.0, 45.0
    rows = []
    for iid, img in (("a_img", a), ("b_img", b)):
        rows.append({
            "image_id": iid, "bytes": codecs.encode(img, "ppm"), "w": 20, "h": 20,
            "fmt": "ppm", "caption": "x", "phash": 0, "lon": lon, "lat": lat,
        })
    df = spark.createDataFrame(pd.DataFrame(rows), schema=fixtures.IMAGES_SCHEMA)
    z = 14
    tiles = raster.cut_base_tiles(df, z=z, resampling="nearest").collect()
    assert all(t["n_src"] == 2 for t in tiles)
    seen200 = False
    for t in tiles:
        img = codecs.decode_png(bytes(t["tile_bytes"]))
        vals = set(np.unique(img).tolist())
        assert 50 not in vals  # b overwrote a everywhere (same footprint)
        seen200 |= 200 in vals
    assert seen200


def test_pyramid_orientation_and_average(spark):
    # image spanning >= 2x2 tiles at base zoom; one overview step must equal
    # the sequential compose-and-average, with TMS y-up orientation.
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    lon, lat = 10.0, 45.0
    pdf = pd.DataFrame([{
        "image_id": "p0", "bytes": codecs.encode(img, "ppm"), "w": 64, "h": 64,
        "fmt": "ppm", "caption": "x", "phash": 0, "lon": lon, "lat": lat,
    }])
    df = spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA)
    z = 15
    base = raster.cut_base_tiles(df, z=z, resampling="nearest")
    levels = raster.build_pyramid(base, z_base=z, z_min=z - 1)
    base_rows = {(r["tx"], r["ty"]): codecs.decode_png(bytes(r["tile_bytes"]))
                 for r in levels[z].collect()}
    for r in levels[z - 1].collect():
        ptx, pty = r["tx"], r["ty"]
        canvas = np.zeros((512, 512, 3), np.float64)
        for (ctx, cty), cimg in base_rows.items():
            if ctx // 2 == ptx and cty // 2 == pty:
                dx, dy = ctx - 2 * ptx, cty - 2 * pty
                row0 = (1 - dy) * 256
                canvas[row0:row0 + 256, dx * 256:(dx + 1) * 256] = cimg
        exp = np.clip(np.rint(canvas.reshape(256, 2, 256, 2, 3).mean(axis=(1, 3))),
                      0, 255).astype(np.uint8)
        got = codecs.decode_png(bytes(r["tile_bytes"]))
        assert np.array_equal(got, exp), (ptx, pty)


def test_band_calc_and_translate(images, pdf):
    got = {r["image_id"]: r for r in raster.band_calc(images, "minimum(A*2+B, 255)").collect()}
    dec = _decoded(pdf)
    for iid, img in dec.items():
        exp = np.minimum(img[:, :, 0].astype(np.float64) * 2 + img[:, :, 1], 255)
        out = codecs.decode(bytes(got[iid]["bytes"]), "pgm")
        assert np.array_equal(out, np.clip(np.rint(exp), 0, 255).astype(np.uint8))
    conv = {r["image_id"]: r for r in raster.translate(images, "png").collect()}
    for iid, img in dec.items():
        out = codecs.decode(bytes(conv[iid]["bytes"]), "png")
        assert np.array_equal(out if out.ndim == 3 else out[:, :, None], img)


def test_to_xyz(spark):
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    pdf = pd.DataFrame([{
        "image_id": "x0", "bytes": codecs.encode(img, "pgm"), "w": 4, "h": 3,
        "fmt": "pgm", "caption": "x", "phash": 0, "lon": 0.0, "lat": 0.0,
    }])
    df = spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA)
    rows = raster.to_xyz(df).collect()
    assert len(rows) == 12
    for r in rows:
        assert r["value"] == img[r["py"], r["px"]]


def test_proximity_matches_bruteforce_oracle():
    import numpy as np
    from gdal_scripts_spark import raster

    rng = np.random.default_rng(9)
    img = (rng.random((24, 31)) < 0.06).astype(np.uint8)  # sparse targets=1
    got = raster.np_proximity(img, targets=(1,))
    ty, tx = np.nonzero(img == 1)
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            want = np.sqrt(((ty - y) ** 2 + (tx - x) ** 2).min())
            assert abs(got[y, x] - want) < 1e-9, (y, x)
    # max_dist cap -> nodata
    capped = raster.np_proximity(img, targets=(1,), max_dist=2.0, nodata=-1.0)
    assert ((capped == -1.0) == (got > 2.0)).all()
    # no targets anywhere -> all nodata
    empty = raster.np_proximity(np.zeros((4, 4), np.uint8), targets=(7,))
    assert (empty == -1.0).all()


def test_fillnodata_matches_sequential_oracle():
    import numpy as np
    from gdal_scripts_spark import raster

    rng = np.random.default_rng(3)
    img = rng.integers(1, 200, (16, 17)).astype(np.uint8)
    holes = rng.random(img.shape) < 0.3
    img[holes] = 0
    got = raster.np_fillnodata(img, nodata=0, max_search=5)

    # sequential reference: 4 axis-nearest valid neighbors, IDW 1/d
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            if img[y, x] != 0:
                assert got[y, x] == img[y, x]
                continue
            ws = vs = 0.0
            for dy, dx in ((0, -1), (0, 1), (-1, 0), (1, 0)):
                for d in range(1, 6):
                    yy, xx = y + dy * d, x + dx * d
                    if 0 <= yy < h and 0 <= xx < w and img[yy, xx] != 0:
                        ws += 1.0 / d
                        vs += img[yy, xx] / d
                        break
            want = vs / ws if ws > 0 else 0.0
            assert abs(got[y, x] - want) < 1e-9, (y, x, got[y, x], want)


def test_fillnodata_smoothing_touches_only_filled():
    import numpy as np
    from gdal_scripts_spark import raster

    img = np.full((8, 8), 100, np.uint8)
    img[3:5, 3:5] = 0
    out = raster.np_fillnodata(img, nodata=0, max_search=4, smoothing=2)
    assert (out[img != 0] == 100).all()          # valid pixels untouched
    assert (out[3:5, 3:5] == 100).all()          # hole filled from uniform


def test_vrt_transfer_function():
    import numpy as np
    from gdal_scripts_spark import vrt

    a = np.array([[0, 100, 200, 255]], np.uint8)
    # scale/offset only
    s = vrt.VrtSpec(scale=0.5, offset=10)
    assert vrt.np_vrt_apply(a, s).ravel().tolist() == [10, 60, 110, 138]
    # LUT (linear stretch 50..200 -> 0..255) applied before scale
    s2 = vrt.VrtSpec(lut=[(50, 0), (200, 255)])
    out = vrt.np_vrt_apply(a, s2).ravel()
    assert out.tolist() == [0, 85, 255, 255]
    # nodata passthrough
    s3 = vrt.VrtSpec(scale=2.0, nodata=0, nodata_out=255)
    assert vrt.np_vrt_apply(a, s3).ravel()[0] == 255


def test_vrt_is_lazy_and_composes(spark):
    from gdal_scripts_spark import fixtures, raster, vrt

    imgs = fixtures.labels_spark(spark, n=4)
    v = vrt.vrt_apply(imgs, vrt.VrtSpec(scale=30.0))  # no action yet
    # compose a downstream op on the unevaluated VRT: one single plan
    stats = raster.global_band_stats(v)
    rows = {r["band"]: r for r in stats.collect()}
    assert 0 in rows and rows[0]["vmax"] <= 255.0
    # the transfer really applied (labels are small ints; x30 spreads them)
    assert rows[0]["vmax"] >= 30.0


# ---------------------------------------------------------------------------
# A5 round 3: overview kernels beyond 2x2 average — closed-form oracles
# ---------------------------------------------------------------------------

def test_downsample2x_closed_forms():
    from gdal_scripts_spark.raster import np_downsample2x

    # 4x4 single-band with known 2x2 blocks
    a = np.array([
        [10, 20, 0, 0],
        [30, 40, 0, 4],
        [7, 7, 255, 255],
        [7, 9, 255, 253],
    ], np.uint8)[:, :, None]
    # block (255,255,255,253): mean 254.5 -> rint half-to-even -> 254
    assert np_downsample2x(a, "average")[:, :, 0].tolist() == [[25, 1], [8, 254]]
    assert np_downsample2x(a, "nearest")[:, :, 0].tolist() == [[10, 0], [7, 255]]
    # rms block1: sqrt((100+400+900+1600)/4) = sqrt(750) = 27.386 -> 27
    # rms block (255,255,255,253): sqrt(64771) = 254.501 -> 255
    rms = np_downsample2x(a, "rms")[:, :, 0]
    assert rms[0, 0] == 27 and rms[1, 1] == 255
    # mode: block (7,7,7,9) -> 7; block (0,0,0,4) -> 0;
    # all-distinct block (10,20,30,40) ties at count 1 -> smallest = 10
    md = np_downsample2x(a, "mode")[:, :, 0]
    assert md[1, 0] == 7 and md[0, 1] == 0 and md[0, 0] == 10


def test_downsample2x_integer_average_equals_float_rint():
    from gdal_scripts_spark.raster import np_downsample2x

    def float_avg(c):
        q = [c[i::2, j::2].astype(np.float64) for i in (0, 1) for j in (0, 1)]
        return np.clip(np.rint(sum(q) / 4.0), 0, 255).astype(np.uint8)

    # one 2x2 block per sum 0..1020, values filled greedily up to 255
    s = np.arange(1021)
    q = np.stack([np.clip(s - 255 * k, 0, 255) for k in range(4)], axis=1)
    blocks = q.reshape(-1, 2, 2).astype(np.uint8)
    canvas = blocks.transpose(1, 0, 2).reshape(2, 2 * len(s))[:, :, None]
    out = np_downsample2x(canvas, "average")[0, :, 0]
    assert out.tolist() == np.rint(s / 4.0).astype(int).tolist()
    assert np.array_equal(out, float_avg(canvas)[0, :, 0])
    rng = np.random.default_rng(7)
    for shape in [(2, 2, 1), (6, 10, 3), (512, 512, 3)]:
        c = rng.integers(0, 256, shape).astype(np.uint8)
        got = np_downsample2x(c, "average")
        assert got.dtype == np.uint8
        assert np.array_equal(got, float_avg(c))


def test_downsample2x_gauss_properties():
    from gdal_scripts_spark.raster import np_downsample2x

    const = np.full((16, 16, 3), 99, np.uint8)
    assert np.array_equal(np_downsample2x(const, "gauss"), const[0::2, 0::2])
    # symmetric 3x3 kernel reproduces a linear ramp exactly at interior
    ys, xs = np.mgrid[0:32, 0:32]
    ramp = (2 * xs + 3 * ys + 10).astype(np.float64)
    img = np.clip(ramp, 0, 255).astype(np.uint8)
    out = np_downsample2x(img[:, :, None], "gauss")[:, :, 0]
    want = img[0::2, 0::2]
    inner = (slice(1, -1), slice(1, -1))
    sel = want[inner] < 250  # avoid the clipped region
    assert np.array_equal(out[inner][sel], want[inner][sel])


def test_overview_modes_spark_roundtrip(spark):
    imgs = fixtures.labels_spark(spark, n=3)
    base = raster.cut_base_tiles(imgs, z=10, resampling="nearest")
    for m in ("gauss", "mode", "rms"):
        rows = raster.overview_tiles(base, 10, resampling=m).collect()
        assert rows and all(0 <= r.checksum < 65536 for r in rows), m


# ---------------------------------------------------------------------------
# nearblack (apps/nearblack_lib.cpp analog)
# ---------------------------------------------------------------------------


def test_nearblack_mask_hand_oracle():
    from gdal_scripts_spark import raster

    img = np.array(
        [
            [0, 0, 9, 9, 9],
            [0, 9, 9, 0, 9],   # the 0 at (1,3) is interior on its row/col
            [9, 9, 0, 9, 0],   # (2,4) touches the right edge
            [0, 0, 0, 0, 0],   # full bottom collar row
        ],
        dtype=np.uint8,
    )
    mask = raster.np_nearblack_mask(img, near=2)
    want = np.array(
        [
            [1, 1, 0, 0, 0],
            [1, 0, 0, 0, 0],
            [0, 0, 1, 0, 1],
            [1, 1, 1, 1, 1],
        ],
        dtype=bool,
    )
    # (1,3): not a straight-line run to any edge -> NOT collar; (2,2) IS
    # collar (vertical run from the bottom edge through (3,2)); col 3's
    # bottom run stops at row 2 (value 9) so (1,3) stays interior
    np.testing.assert_array_equal(mask, want)
    out = raster.np_nearblack(img, near=2)
    assert out[1, 3] == 0 and (out[3] == 0).all()


def test_nearblack_white_mode_and_rgb():
    from gdal_scripts_spark import raster

    img = np.full((3, 4, 3), 100, dtype=np.uint8)
    img[:, 0] = 250      # near-white left column
    img[1, 1] = 254      # second column only on row 1 -> extends the run
    out = raster.np_nearblack(img, near=10, white=True)
    assert (out[:, 0] == 255).all()
    assert (out[1, 1] == 255).all()
    assert (out[0, 1] == 100).all()          # not collar
    # interior near-white pixel surrounded by non-near is untouched
    img2 = np.full((3, 3), 50, dtype=np.uint8)
    img2[1, 1] = 255
    assert raster.np_nearblack(img2, near=5, white=True)[1, 1] == 255  # unchanged value
    assert raster.np_nearblack_mask(img2, near=5, white=True)[1, 1] == False  # noqa: E712


def test_nearblack_spark_matches_numpy(spark):
    from gdal_scripts_spark import codecs, fixtures, raster

    labels = fixtures.labels_spark(spark, n=4)
    rows = {r.image_id: r for r in raster.nearblack(labels, near=2).collect()}
    src = labels.select("image_id", "bytes", "fmt").collect()
    assert len(rows) == 4
    for s in src:
        img = codecs.decode(bytes(s.bytes), s.fmt)
        z = img if img.ndim == 2 else img
        mask = raster.np_nearblack_mask(z, near=2)
        out = raster.np_nearblack(z, near=2)
        r = rows[s.image_id]
        assert r.n_collar_px == int(mask.sum())
        band0 = out[:, :, 0] if out.ndim == 3 else out
        assert r.checksum == codecs.gdal_style_checksum(band0)


# ---------------------------------------------------------------------------
# hist_equalize / morphology3 — hand-computed twins on tiny images, plus the
# closed-form fixture law (the DuckDB-regenerable contract)
# ---------------------------------------------------------------------------

def _tiny_images_df(spark, arrays):
    rows = []
    for i, a in enumerate(arrays):
        a = np.asarray(a, dtype=np.uint8)
        rows.append(
            {
                "image_id": f"t{i:02d}", "bytes": codecs.encode(a, "pgm"),
                "w": a.shape[1], "h": a.shape[0], "fmt": "pgm",
                "caption": "", "phash": 0, "lon": 0.0, "lat": 0.0,
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows), schema=fixtures.IMAGES_SCHEMA)


def test_hist_equalize_two_level_hand_case(spark):
    # pixels [0,0,1,1]: cdf = (2,4), cdf_min=2, denom=2
    # out(0) = floor(0*255/2+0.5) = 0 ; out(1) = floor(2*255/2+0.5) = 255
    df = _tiny_images_df(spark, [np.array([[0, 0], [1, 1]])])
    got = {r["v_out"]: r["n"] for r in raster.hist_equalize(df).collect()}
    assert got == {0: 2, 255: 2}


def test_hist_equalize_constant_image_maps_to_zero(spark):
    df = _tiny_images_df(spark, [np.full((3, 5), 77)])
    got = raster.hist_equalize(df).collect()
    assert len(got) == 1 and got[0]["v_out"] == 0 and got[0]["n"] == 15


def test_hist_equalize_matches_sequential_numpy(spark):
    imgs = fixtures.formula_images_spark(spark, n=12)
    got = {(r["image_id"], r["v_out"]): r["n"]
           for r in raster.hist_equalize(imgs).collect()}
    want = {}
    for _, r in fixtures.make_formula_images_pdf(12).iterrows():
        img = codecs.decode(r["bytes"], r["fmt"])
        flat = img.ravel().astype(np.int64)
        hist = np.bincount(flat, minlength=256)
        cdf = hist.cumsum()
        cdf_min = int(cdf[np.flatnonzero(hist)[0]])
        out = np.floor((cdf - cdf_min) * 255.0 / (flat.size - cdf_min) + 0.5)
        for v, c in zip(*np.unique(out[flat].astype(np.int64),
                                   return_counts=True)):
            want[(r["image_id"], int(v))] = int(c)
    assert got == want


def test_morphology3_hand_case(spark):
    img = np.array([[1, 2, 3, 4], [5, 6, 7, 8], [9, 10, 11, 12]])
    df = _tiny_images_df(spark, [img])
    got = {(r["op"], r["val"]): r["n"] for r in raster.morphology3(df).collect()}
    # interior centers (1,1) and (1,2): erode = min of each full 3x3 window,
    # dilate = max — windows are cols 0..2 and 1..3 of the whole image
    assert got == {("erode", 1): 1, ("erode", 2): 1,
                   ("dilate", 11): 1, ("dilate", 12): 1}


def test_morphology3_matches_closed_form(spark):
    imgs = fixtures.formula_images_spark(spark, n=12)
    got = {(r["image_id"], r["op"], r["val"]): r["n"]
           for r in raster.morphology3(imgs).collect()}
    want = {}
    for i in range(12):
        w, h = 24 + 4 * (i % 3), 18 + 6 * (i % 2)
        ys, xs = np.mgrid[0:h, 0:w]
        img = (xs * xs + 3 * ys * ys + i * 37) % 97 + 40
        for op, red in (("erode", np.min), ("dilate", np.max)):
            res = np.array([
                [red(img[y - 1:y + 2, x - 1:x + 2])
                 for x in range(1, w - 1)]
                for y in range(1, h - 1)
            ])
            for v, c in zip(*np.unique(res, return_counts=True)):
                want[(f"fim{i:04d}", op, int(v))] = int(c)
    assert got == want


def test_value_hist_counts_every_pixel(spark):
    df = _tiny_images_df(spark, [np.array([[5, 5, 9], [9, 9, 0]])])
    got = {r["val"]: r["n"] for r in raster.value_hist(df).collect()}
    assert got == {0: 1, 5: 2, 9: 3}


def test_warp_bilinear_x2_rint_half_even(spark):
    # 1x2 image [10, 11] at 2x -> out u = (X+0.5)/2 - 0.5 for X=0..3:
    # clamped samples 10, 10.25, 10.75, 11 -> rint: 10, 10, 11, 11
    # (10.25 -> 10 and 10.75 -> 11 by nearest; no .5 tie in this row)
    # and [10, 13]: samples 10, 10.75, 12.25, 13 -> 10, 11, 12, 13
    # tie case [9, 11]: 9, 9.5, 10.5, 11 -> half-to-even: 9, 10, 10, 11
    df = _tiny_images_df(spark, [np.array([[9, 11]])])
    out = raster.warp_resize(df, scale=2.0, method="bilinear", out_fmt="pgm")
    got = {r["val"]: r["n"] for r in raster.value_hist(out).collect()}
    assert got == {9: 2, 10: 4, 11: 2}


def test_formula_images_fixture_pinned():
    """The formula_images pixel law is load-bearing for four cross-engine
    oracles (hist_equalize, morph_erode_dilate, warp_bilinear_x2,
    warp_cubic_x2): any change to the law or the PGM encoder shows up here
    before it breaks oracle parity."""
    import hashlib

    pdf = fixtures.make_formula_images_pdf(12)
    assert list(pdf["w"][:3]) == [24, 28, 32]
    assert list(pdf["h"][:2]) == [18, 24]
    img0 = codecs.decode(pdf["bytes"][0], "pgm")
    assert img0[0, 0] == 40 and img0[2, 3] == (9 + 12) % 97 + 40
    digest = hashlib.md5(b"".join(pdf["bytes"])).hexdigest()
    assert digest == "8f03095e0ae35833e006f1c216227253"


def test_scale_stretch_tie_half_even(spark):
    # v in {10, 11, 12}: stretch -> 0, 127.5, 255; rint tie -> 128 (even)
    df = _tiny_images_df(spark, [np.array([[10, 11, 12]])])
    got = {r["v_out"]: r["n"] for r in raster.scale_stretch(df).collect()}
    assert got == {0: 1, 128: 1, 255: 1}


def test_scale_stretch_constant_image(spark):
    df = _tiny_images_df(spark, [np.full((2, 4), 200)])
    got = raster.scale_stretch(df).collect()
    assert len(got) == 1 and got[0]["v_out"] == 0 and got[0]["n"] == 8


def test_gcps_to_geotransform_exact_recovery_and_degenerate():
    # exact affine: gx = 10 + 2px + py, gy = -5 + px - 3py
    pts = [(0, 0), (7, 0), (0, 5), (7, 5), (3, 2)]
    g = np.array([[px, py, 10 + 2 * px + py, -5 + px - 3 * py]
                  for px, py in pts], dtype=float)
    M = raster.gcps_to_geotransform(g)
    assert np.allclose(M, [[10, 2, 1], [-5, 1, -3]], atol=1e-9)
    with pytest.raises(ValueError, match="collinear"):
        raster.gcps_to_geotransform(
            np.array([[0, 0, 0, 0], [1, 1, 1, 1], [2, 2, 2, 2]], float))
    with pytest.raises(ValueError, match="shape"):
        raster.gcps_to_geotransform(np.zeros((2, 4)))


def test_np_warp_gcp_nearest_identity_and_nodata():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    # pure translation: geo = (100 + px, 200 + py) -> identity resample
    M = np.array([[100.0, 1.0, 0.0], [200.0, 0.0, 1.0]])
    out, x0, y0 = raster.np_warp_gcp_nearest(img, M)
    assert (x0, y0) == (100, 200)
    assert out.shape == (3, 4)
    assert np.array_equal(out, img[:, :, 0].astype(np.int64))
    # det-5 shear: footprint grows, outside pixels get the nodata count
    M2 = np.array([[0.0, 3.0, 1.0], [0.0, 1.0, 2.0]])
    out2, _, _ = raster.np_warp_gcp_nearest(img, M2, nodata=-1)
    assert out2.shape == (2 * 2 + 3 + 1, 3 * 3 + 2 + 1)  # (w-1)+2(h-1), 3(w-1)+(h-1) +1
    assert (out2 == -1).any() and (out2 >= 0).any()
    # every source pixel value appears (det>0 affine is injective on centers)
    assert set(np.unique(img)) <= set(np.unique(out2))


def test_tps_interpolates_gcps_exactly_and_degenerates_to_affine():
    g = np.array([[0, 0, 0, 0], [20, 0, 60, 22], [0, 15, 17, 33],
                  [20, 15, 80, 55], [10, 7, 42, 30.5]])
    fit = raster.np_tps_fit(g[:, 0:2], g[:, 2:4])
    u, v = raster.np_tps_eval(fit, g[:, 0], g[:, 1])
    assert np.max(np.abs(u - g[:, 2])) < 1e-9
    assert np.max(np.abs(v - g[:, 3])) < 1e-9
    # purely-affine GCPs: kernel weights vanish, TPS == the affine map
    ga = np.array([[0., 0, 100, 200], [10, 0, 120, 210],
                   [0, 8, 108, 184], [10, 8, 128, 194]])
    f2 = raster.np_tps_fit(ga[:, 0:2], ga[:, 2:4])
    xs, ys = np.array([3.3, 7.1]), np.array([2.2, 5.5])
    u2, v2 = raster.np_tps_eval(f2, xs, ys)
    assert np.allclose(u2, 100 + 2 * xs + ys, atol=1e-9)
    assert np.allclose(v2, 200 + xs - 2 * ys, atol=1e-9)
    with pytest.raises(ValueError, match="singular"):
        raster.np_tps_fit(np.zeros((3, 2)), np.zeros((3, 2)))


def test_warp_tps_affine_gcps_matches_affine_warp():
    # with corner-only (exact affine) GCPs, -tps must reproduce -order 1
    img = ((np.arange(72).reshape(8, 9) * 7) % 97).astype(np.uint8)[:, :, None]
    h, w = 8, 9
    gcps = np.array([
        [px, py, 3 * px + py, px + 2 * py]
        for px, py in ((0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1))
    ], dtype=float)
    out_tps = raster.np_warp_tps_nearest(img, gcps)
    M = raster.gcps_to_geotransform(gcps)
    out_aff, _, _ = raster.np_warp_gcp_nearest(img, M)
    assert np.array_equal(out_tps, out_aff)
