"""Spatial join paths (broadcast PiP; the S2 covering join's parity-fold
refine) must match the sequential numpy oracle exactly (BASELINE
north_star: join result rows exact)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import fixtures, geom, joins

N_IMG = 400
N_POLY = 25


@pytest.fixture(scope="module")
def world(spark):
    images = fixtures.images_spark(spark, n=N_IMG).persist()
    images.count()
    pack = fixtures.polygons_pack(p=N_POLY)
    pdf = fixtures.make_images_pdf(N_IMG)
    oracle_pairs = {
        (pdf["image_id"].iloc[i], pid)
        for i, pid in geom.np_pip_pairs(
            pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pack
        )
    }
    return images, pack, oracle_pairs


def _collect_pairs(df):
    return {(r["image_id"], r["poly_id"]) for r in df.collect()}


def test_broadcast_join_matches_oracle(world):
    images, pack, oracle = world
    got = _collect_pairs(joins.spatial_join_broadcast(images, pack))
    assert len(oracle) > 20  # fixture really produces hits
    assert got == oracle


def test_semi_anti_partition(world):
    images, pack, oracle = world
    inside_ids = {i for i, _ in oracle}
    semi = {r["image_id"] for r in joins.spatial_semi_join(images, pack).collect()}
    anti = {r["image_id"] for r in joins.spatial_anti_join(images, pack).collect()}
    assert semi == inside_ids
    assert semi | anti == {f"img{i:08d}" for i in range(N_IMG)}
    assert semi & anti == set()


def test_semi_anti_keep_rows_not_ids(spark):
    """Each row is kept or dropped on its own coordinates: of two rows
    sharing an id, the one inside a polygon is semi-joined and the one
    outside is anti-joined."""
    square = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    pack = geom.PolygonPack.from_rings([(3, [square])])
    rows = [("a", 5.0, 5.0), ("a", 20.0, 5.0), ("b", 20.0, 20.0), ("c", 1.0, 9.0)]
    pts = spark.createDataFrame(rows, "image_id string, lon double, lat double")
    semi = {tuple(r) for r in joins.spatial_semi_join(pts, pack).collect()}
    anti = {tuple(r) for r in joins.spatial_anti_join(pts, pack).collect()}
    assert semi == {("a", 5.0, 5.0), ("c", 1.0, 9.0)}
    assert anti == {("a", 20.0, 5.0), ("b", 20.0, 20.0)}


def test_broadcast_join_fans_out_per_point_rows(spark):
    """The per-point hit arrays explode to exactly the oracle's pairs on
    overlapping polygons (most hit points fall in several), with
    duplicate ids, a partition with no hits and several Arrow batches per
    task. The explode runs in the JVM above an ``ArrowEvalPython`` that
    takes only lon and lat, so an id of any type (here a struct of a
    string, a decimal and a timestamp) comes back unchanged."""
    import re
    from collections import Counter

    pack = fixtures.polygons_pack(p=200)
    pdf = fixtures.make_images_pdf(N_IMG)[["image_id", "lon", "lat"]]
    pdf["row"] = np.arange(N_IMG)
    # rows 0-49 reuse the ids of rows 50-99 at other coordinates
    pdf.loc[:49, "image_id"] = pdf["image_id"].iloc[50:100].to_numpy()
    nohit = pdf.iloc[:30].assign(lon=170.0, lat=-80.0)
    schema = "image_id string, lon double, lat double, row long"
    pts = spark.createDataFrame(pdf, schema).union(
        spark.createDataFrame(nohit, schema).coalesce(1)
    ).withColumn("key", F.struct(
        "image_id",
        (F.col("row") + F.lit(0.125)).cast("decimal(12,3)").alias("d"),
        F.timestamp_micros(F.lit(1_577_836_800_000_123) + F.col("row") * 1_000_003)
        .alias("t"),
    ))
    keys = {r["row"]: r["key"] for r in pts.select("row", "key").collect()}
    pairs = geom.np_pip_pairs(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pack)
    oracle = Counter((pdf["image_id"].iloc[i], pid) for i, pid in pairs)
    hits = Counter(i for i, _ in oracle)
    assert sum(oracle.values()) > 2 * len(hits)  # overlapping polygons
    assert any(n > 1 for n in Counter(pdf["image_id"]).values())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "17")
    try:
        df = joins.spatial_join_broadcast(pts, pack)
        got = Counter((r["image_id"], r["poly_id"]) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        by_key = joins.spatial_join_broadcast(pts, pack, id_col="key")
        got_keys = Counter((r["key"], r["poly_id"]) for r in by_key.collect())
    finally:
        spark.conf.set(key, old)
    assert got == oracle
    assert got_keys == Counter((keys[i], pid) for i, pid in pairs)
    lines = plan.splitlines()
    gen = [k for k, ln in enumerate(lines) if "Generate explode(" in ln]
    aep = [k for k, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert gen and aep and gen[0] < aep[0], plan
    (args,) = re.findall(r"ArrowEvalPython \[\w+\(([^)]*)\)", lines[aep[0]])
    assert re.sub(r"#\d+", "", args) == "lon, lat", plan


def test_hits_by_point_builds_one_list_per_row(monkeypatch):
    """One list per input row, in hit order, empty for rows with no hit;
    a batch whose hits overflow the int32 list offsets is refused."""
    import pyarrow as pa

    def lists(n, idx, pid):
        arr = joins._hits_by_point(
            n, np.array(idx, dtype=np.int64), np.array(pid, dtype=np.int64))
        assert arr.type == pa.list_(pa.int64())
        return arr.to_pylist()

    assert lists(3, [], []) == [[], [], []]
    assert lists(3, [2, 2], [7, 5]) == [[], [], [7, 5]]
    idx, pid = [2, 0, 2, 3, 0, 2], [10, 11, 12, 13, 14, 15]
    want = [[11, 14], [], [10, 12, 15], [13]]
    assert lists(4, idx, pid) == want
    monkeypatch.setattr(joins, "_MAX_BATCH_HITS", 6)
    assert lists(4, idx, pid) == want
    with pytest.raises(ValueError, match="maxRecordsPerBatch"):
        lists(4, idx + [1], pid + [16])


def test_points_spark_is_generated_in_tasks(spark):
    """The cached points carry no driver-built local relation, and each
    partition holds the slice of ``make_points_pdf`` that
    ``createDataFrame`` would give it."""
    n = 5000
    df = fixtures.points_spark(spark, n).persist()
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in plan, plan
        got = df.withColumn("part", F.spark_partition_id()).toPandas()
    finally:
        df.unpersist()
    want = fixtures.make_points_pdf(n)
    k = spark.sparkContext.defaultParallelism
    assert got["part"].nunique() == k
    for i in range(k):
        part = got[got["part"] == i].drop(columns="part").reset_index(drop=True)
        assert part.equals(want.iloc[i * n // k:(i + 1) * n // k].reset_index(drop=True))


def test_join_tables_are_not_python_rdds(spark):
    """The covering, prefilter and edges tables built on the driver are
    Arrow-backed local relations, not Python RDDs that every job reading
    them would run again in the workers."""
    pack = fixtures.polygons_pack(p=N_POLY)
    pts = fixtures.points_spark(spark, 500)
    for df in (
        joins.s2_cover_regions(spark, pack),
        joins.pack_edges_df(spark, pack),
        joins.spatial_join_s2(pts, pack, prefilter_z=6),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan


def test_polygon_cover_is_conservative(world):
    _, pack, _ = world
    cover = joins.polygon_cover_cells(pack, z=8)
    # every polygon appears, and the cover contains the cell of its centroid
    pids = {p for p, _ in cover}
    assert pids == set(int(x) for x in pack.poly_ids)
    from gdal_scripts_spark import cells as C

    for p in range(pack.n_polys):
        cx = (pack.bbox[p, 0] + pack.bbox[p, 2]) / 2
        cy = (pack.bbox[p, 1] + pack.bbox[p, 3]) / 2
        c = int(C.np_cell_id(np.array([cx]), np.array([cy]), 8)[0])
        assert (int(pack.poly_ids[p]), c) in set(cover)


def test_no_python_udf_in_cell_key_stage(world):
    images, _, _ = world
    plan = joins.with_cell(images, 8)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_native_join_holed_polygon_parity():
    """The JVM parity fold (spatial_join_s2 with pack=None) runs over all
    rings: a point in the hole is OUTSIDE, a point in the annulus is
    inside — on a constructed donut, not just the random fixtures."""
    from gdal_scripts_spark.session import get_spark

    spark = get_spark()
    outer = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    hole = np.array([[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0]])
    pack = geom.PolygonPack.from_rings([(7, [outer, hole])])
    pts = spark.createDataFrame(
        [("in_annulus", 1.5, 5.0), ("in_hole", 5.0, 5.0), ("outside", 11.0, 5.0)],
        schema="image_id string, lon double, lat double",
    )
    # the solid square's covering, every cell boundary: all three points
    # are candidates and only the fold over the donut's edges decides
    solid = geom.PolygonPack.from_rings([(7, [outer])])
    regions = joins.s2_cover_regions(spark, solid).withColumn(
        "interior", F.lit(False))
    got = _collect_pairs(joins.spatial_join_s2(
        pts, None, regions=regions, edges=joins.pack_edges_df(spark, pack)))
    assert got == {("in_annulus", 7)}
