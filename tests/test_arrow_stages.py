"""Per-row stages run through ``arrowrows.map_rows`` and the tile stages
as Arrow UDFs: their plans hold no pandas node, ``map_rows`` keeps its
contract (declared schema on empty input, NULLs in, no casting out, rows
in order), and edge inputs (empty images, a covering that burns no pixel,
a single-band image) keep the declared output schemas."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import types as T

from gdal_scripts_spark import (
    arrowrows, codecs, fixtures, geom, info, joins, palette, polygonize, raster,
    rasterize, viewshed, zonal,
)

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
    polys = fixtures.polygons_spark(spark, p=2)
    stages = {
        "cut_base_tiles": (base, True),
        "overview_tiles": (raster.overview_tiles(base, 14), True),
        "rasterize_tiles": (rasterize.rasterize_tiles(square_pack, spark, z=8), True),
        "zonal_partials": (zonal.zonal_partials(zin, square_pack), False),
        "polygonize": (polygonize.polygonize(imgs), False),
        "footprint": (raster.footprint(imgs), False),
        "raster_info": (info.raster_info(imgs), False),
        "s2_cover_regions_from_table": (joins.s2_cover_regions_from_table(polys), False),
        "warp_reproject": (raster.warp_reproject(imgs), False),
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


def _python_inputs(df, node: str) -> list[str]:
    """Input attributes of the plan's first ``node`` (e.g. MapInArrow)
    Python node, without their expression ids."""
    plan = _plan(df)
    (args,) = re.findall(node + r" \w+\(([^)]*)\)", plan)[:1]
    return re.sub(r"#\d+L?", "", args).split(", ")


def test_stages_ship_only_the_columns_they_read(spark):
    # the full images table (9 columns) plus the viewshed observer columns
    dem = _images(spark, np.arange(30, dtype=np.uint8).reshape(5, 6), "pgm")
    dem = dem.selectExpr("*", "2 AS orow", "3 AS ocol", "1.5d AS obs_h")
    assert len(dem.columns) == 12
    assert _python_inputs(raster.footprint(dem), "MapInArrow") == [
        "image_id", "bytes", "fmt"]
    assert _python_inputs(info.raster_info(dem), "MapInArrow") == [
        "image_id", "bytes", "fmt"]
    assert _python_inputs(viewshed.viewshed_cells(dem), "MapInArrow") == [
        "image_id", "bytes", "fmt", "orow", "ocol", "obs_h"]
    assert _python_inputs(palette.rgb_histogram(dem), "MapInArrow") == [
        "bytes", "fmt"]


def _collect_in_order(df):
    return [tuple(r) for r in df.coalesce(1).collect()]


def test_map_rows_empty_input_keeps_declared_schema(spark):
    empty = spark.createDataFrame([], "a long, b string")
    out = arrowrows.map_rows(empty, lambda a, b: [(a, b, 1.5)],
                             "a long, b string, c double")
    assert _types(out) == [("a", T.LongType()), ("b", T.StringType()),
                           ("c", T.DoubleType())]
    assert out.collect() == []


def test_map_rows_kernel_that_returns_nothing(spark):
    src = spark.range(0, 10, 1, 2)

    def none_or_empty(i):
        if i % 2:
            return None
        yield from ()

    assert arrowrows.map_rows(src, none_or_empty, "i long").count() == 0
    assert arrowrows.map_rows(src, lambda i: [], "i long").count() == 0


def test_map_rows_fans_one_row_out_past_the_chunk_in_order(spark):
    n = 3 * arrowrows.CHUNK + 5
    src = spark.range(0, 3, 1, 1)

    def fan(i):
        return [(i, j) for j in range(n)] if i != 1 else []

    out = arrowrows.map_rows(src, fan, "i long, j int")
    assert _collect_in_order(out) == [(i, j) for i in (0, 2) for j in range(n)]


def test_map_rows_passes_null_as_none(spark):
    src = spark.createDataFrame(
        [(1, None, 0.5), (None, "x", None)], "a long, b string, c double")

    def kern(a, b, c):
        yield a is None, b is None, c is None, repr((a, b, c))

    out = arrowrows.map_rows(
        src, kern, "a_null boolean, b_null boolean, c_null boolean, r string")
    assert sorted(_collect_in_order(out)) == [
        (False, True, False, "(1, None, 0.5)"),
        (True, False, True, "(None, 'x', None)"),
    ]


def test_map_rows_raises_instead_of_casting(spark):
    src = spark.range(0, 2, 1, 1)
    with pytest.raises(Exception, match="convert|Expected"):
        arrowrows.map_rows(src, lambda i: [(str(i),)], "i long").collect()
    with pytest.raises(Exception, match="convert|Expected"):
        arrowrows.map_rows(src, lambda i: [(i,)], "s string").collect()
    # a non-integral float for an integer column raises instead of
    # truncating; an integral one converts
    with pytest.raises(Exception, match="truncated"):
        arrowrows.map_rows(src, lambda i: [(i + 0.5,)], "i long").collect()
    out = arrowrows.map_rows(src, lambda i: [(i + 1.0,)], "i int").collect()
    assert sorted(r.i for r in out) == [1, 2]


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
