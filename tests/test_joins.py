"""Spatial join paths (broadcast PiP, salted cell-keyed equi-join) must all
match the sequential numpy oracle exactly (BASELINE north_star: join result
rows exact)."""

from __future__ import annotations

import re

import numpy as np
import pytest

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


@pytest.mark.parametrize("broadcast", [True, False],
                         ids=["broadcast", "shuffle"])
def test_cell_join_salted_matches_oracle(spark, world, broadcast):
    """Salted cell join matches the oracle, both when Catalyst may
    broadcast the small cover side and when broadcasting is disabled —
    then the candidate join must run as a shuffle join on (cell, salt)."""
    images, pack, oracle = world
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if not broadcast:
        spark.conf.set(key, "-1")
    try:
        df = joins.spatial_join_cells(
            images, pack, z=8, hot_cell_threshold=5, n_salts=4
        )
        got = _collect_pairs(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert got == oracle
    if not broadcast:
        assert re.search(
            r"(SortMergeJoin|ShuffledHashJoin) \[cell#\d+L, salt#\d+L\]", plan
        ), plan


def test_semi_anti_partition(world):
    images, pack, oracle = world
    inside_ids = {i for i, _ in oracle}
    semi = {r["image_id"] for r in joins.spatial_semi_join(images, pack).collect()}
    anti = {r["image_id"] for r in joins.spatial_anti_join(images, pack).collect()}
    assert semi == inside_ids
    assert semi | anti == {f"img{i:08d}" for i in range(N_IMG)}
    assert semi & anti == set()


def test_broadcast_join_fans_out_per_point_rows(spark):
    """The per-point rows explode to exactly the oracle's pairs on
    overlapping polygons (most hit points fall in several), with
    duplicate ids, a partition with no hits and several Arrow batches per
    task; the explode runs in the JVM, above the MapInArrow."""
    from collections import Counter

    pack = fixtures.polygons_pack(p=200)
    pdf = fixtures.make_images_pdf(N_IMG)[["image_id", "lon", "lat"]]
    # rows 0-49 reuse the ids of rows 50-99 at other coordinates
    pdf.loc[:49, "image_id"] = pdf["image_id"].iloc[50:100].to_numpy()
    nohit = pdf.iloc[:30].assign(lon=170.0, lat=-80.0)
    schema = "image_id string, lon double, lat double"
    pts = spark.createDataFrame(pdf, schema).union(
        spark.createDataFrame(nohit, schema).coalesce(1))
    oracle = Counter(
        (pdf["image_id"].iloc[i], pid)
        for i, pid in geom.np_pip_pairs(
            pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pack)
    )
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
    finally:
        spark.conf.set(key, old)
    assert got == oracle
    lines = plan.splitlines()
    gen = [k for k, ln in enumerate(lines) if "Generate explode(" in ln]
    mia = [k for k, ln in enumerate(lines) if "MapInArrow" in ln]
    assert gen and mia and gen[0] < mia[0], plan


def test_per_point_batches_split_between_points(monkeypatch):
    """Hits group into one row per point; batches split only between
    points once a list column would exceed its value budget."""
    import pyarrow as pa

    ids = pa.array(["a", "b", "c", "d"])
    idx = np.array([2, 0, 2, 3, 0, 2])
    pid = np.array([10, 11, 12, 13, 14, 15])
    rows = [
        {"id": "a", "poly_ids": [11, 14]},
        {"id": "c", "poly_ids": [10, 12, 15]},
        {"id": "d", "poly_ids": [13]},
    ]
    (one,) = joins._per_point_batches(ids, idx, pid, "id")
    assert one.to_pylist() == rows
    monkeypatch.setattr(joins, "_LIST_MAX_VALUES", 2)
    batches = list(joins._per_point_batches(ids, idx, pid, "id"))
    assert [b.to_pylist() for b in batches] == [[r] for r in rows]


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
    """The JVM parity fold (spatial_join_s2 refine="native") runs over all
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
    got = _collect_pairs(joins.spatial_join_s2(pts, pack, refine="native"))
    assert got == {("in_annulus", 7)}
