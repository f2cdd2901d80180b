"""The tile, rasterize and zonal stages run as Arrow UDFs: their plans hold
no pandas node, and edge inputs (empty images, a covering that burns no
pixel, a single-band image) keep the declared output schemas."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from gdal_scripts_spark import codecs, fixtures, geom, joins, raster, rasterize, zonal

PYRAMID_TYPES = [
    ("z", T.IntegerType()), ("tx", T.LongType()), ("ty", T.LongType()),
    ("y_xyz", T.LongType()), ("tile_bytes", T.BinaryType()),
    ("checksum", T.IntegerType()), ("n_src", T.IntegerType()),
]
BURN_TYPES = [
    ("z", T.IntegerType()), ("tx", T.LongType()), ("ty", T.LongType()),
    ("y_xyz", T.LongType()), ("tile_bytes", T.BinaryType()),
]


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _images(spark, img, fmt, lon=10.0, lat=45.0):
    h, w = img.shape[:2]
    row = ("i0", codecs.encode(img, fmt), w, h, fmt, "x", 0, lon, lat)
    return spark.createDataFrame([row], schema=fixtures.IMAGES_SCHEMA)


@pytest.fixture(scope="module")
def square_pack():
    sq = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
    return geom.PolygonPack.from_rings([(1, [sq])])


def test_stage_plans_have_no_pandas_node(spark, square_pack):
    rng = np.random.default_rng(3)
    imgs = _images(spark, rng.integers(0, 256, (20, 24, 3), dtype=np.uint8), "ppm")
    base = raster.cut_base_tiles(imgs, z=14)
    zin = spark.createDataFrame(
        [("i0", codecs.encode(np.zeros((4, 4), np.uint8), "pgm"), "pgm", 0.0, 4.0)],
        schema="image_id string, bytes binary, fmt string, x0 double, y1 double",
    )
    stages = {
        "cut_base_tiles": (base, True),
        "overview_tiles": (raster.overview_tiles(base, 14), True),
        "rasterize_tiles": (rasterize.rasterize_tiles(square_pack, spark, z=8), True),
        "zonal_partials": (zonal.zonal_partials(zin, square_pack), False),
    }
    for name, (df, grouped) in stages.items():
        plan = _plan(df)
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "MapInArrow" in plan, name
        assert ("FlatMapGroupsInArrow" in plan) == grouped, name
    # the covering is an Arrow-backed local table, not a Python RDD that
    # every job would re-run in Python workers
    assert "ExistingRDD" not in _plan(stages["rasterize_tiles"][0])


def test_empty_images_give_empty_typed_tiles(spark):
    empty = spark.createDataFrame([], schema=fixtures.IMAGES_SCHEMA)
    base = raster.cut_base_tiles(empty, z=11, resampling="bilinear")
    ov = raster.overview_tiles(base, 11)
    for df in (base, ov):
        assert _types(df) == PYRAMID_TYPES
        assert df.count() == 0


def test_covering_that_burns_no_pixel_gives_no_tile(spark):
    # a 1e-4 degree square between the z8 pixel centers (pixel ~0.0055 deg)
    sq = np.array([(1e-4, 1e-4), (2e-4, 1e-4), (2e-4, 2e-4), (1e-4, 2e-4)])
    pack = geom.PolygonPack.from_rings([(7, [sq])])
    assert len(joins.polygon_cover_cells(pack, 8)) > 0
    df = rasterize.rasterize_tiles(pack, spark, z=8)
    assert _types(df) == BURN_TYPES
    assert df.count() == 0


def test_single_band_pyramid_matches_numpy_average(spark):
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    z = 15
    base = raster.cut_base_tiles(_images(spark, img, "pgm"), z=z,
                                 resampling="nearest").persist()
    over = raster.overview_tiles(base, z)
    assert _types(base) == PYRAMID_TYPES and _types(over) == PYRAMID_TYPES
    kids = {(r["tx"], r["ty"]): codecs.decode_png(bytes(r["tile_bytes"]))
            for r in base.collect()}
    assert len(kids) >= 4 and all(k.shape == (256, 256) for k in kids.values())
    parents = over.collect()
    assert len(parents) >= 1
    for r in parents:
        ptx, pty = r["tx"], r["ty"]
        canvas = np.zeros((512, 512), np.float64)
        n = 0
        for (ctx, cty), cimg in kids.items():
            if ctx // 2 == ptx and cty // 2 == pty:
                dx, dy = ctx - 2 * ptx, cty - 2 * pty
                row0 = (1 - dy) * 256
                canvas[row0:row0 + 256, dx * 256:(dx + 1) * 256] = cimg
                n += 1
        exp = np.clip(np.rint(canvas.reshape(256, 2, 256, 2).mean(axis=(1, 3))),
                      0, 255).astype(np.uint8)
        got = codecs.decode_png(bytes(r["tile_bytes"]))
        assert np.array_equal(got, exp), (ptx, pty)
        assert r["checksum"] == codecs.gdal_style_checksum(exp)
        assert r["n_src"] == n and r["z"] == z - 1
    base.unpersist()
