#!/usr/bin/env python
"""Headline benchmark — prints ONE JSON line for the driver.

Workloads (the north-star pipeline + operator families):
  tile_assign      cell/tile/quadkey encode, native columns (map-only)
  spatial_join_bc  broadcast PiP join (flagship plan: the dim side fits)
  spatial_join_salted  cell-keyed equi-join + hot-cell salting (scale plan)
  knn              grid kNN with ring expansion
  tile_cut         decode + clip + resample + mosaic -> PNG tiles + 1 overview
  minhash_lsh      document near-dup candidates (banded minhash)
  cosine_topk      embedding ANN (LSH) vs corpus
  sql_q1           TPC-H-ish Q1 aggregation on lineitem

value = images/sec of the flagship spatial-join + tile-assignment pipeline
(BASELINE.json : metric), i.e. N_points / (t_tile_assign + t_spatial_join_bc)
— the realistic Catalyst plan for a broadcastable polygon side; the salted
cell-keyed path is timed alongside as the both-sides-large plan.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_N (default 400000).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from gdal_scripts_spark import fixtures, joins, knn, raster, textops, vectorops
from gdal_scripts_spark.cells import cell_id, lonlat_to_tile_tms, quadkey, tms_to_xyz_y
from gdal_scripts_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_POINTS = int(os.environ.get("SPARK_GRAFT_BENCH_N", "400000"))
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "8000"))


def timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def control_unit_s() -> float:
    """No-Spark numpy+zlib unit wall — this VM's effective speed drifts up
    to ~10x across hours (BENCH/BASELINE.md), so absolute query walls are
    only comparable across rounds when normalized by this control."""
    import zlib

    import numpy as np

    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        rng = np.random.default_rng(0)
        for _i in range(30):
            a = (rng.random((256, 256, 3)) * 255).astype(np.uint8)
            zlib.compress(a.tobytes(), 3)
        best = min(best, time.time() - t0)
    return round(best, 4)


def main() -> None:
    ctrl_pre = control_unit_s()
    spark = get_spark(app_name="gdal_scripts_spark_bench", cpus=CPUS,
                      shuffle_partitions=2 * CPUS)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    times: dict[str, float] = {}

    points = fixtures.points_spark(spark, N_POINTS, partitions=2 * CPUS).persist()
    points.count()
    pack = fixtures.polygons_pack(p=200)

    def q_tile_assign():
        tx, ty = lonlat_to_tile_tms(F.col("lon"), F.col("lat"), 12)
        return points.select(
            "image_id", tx.alias("tx"), ty.alias("ty"),
            tms_to_xyz_y(ty, 12).alias("y_xyz"),
            quadkey(tx, ty, 12).alias("qk"),
            cell_id(F.col("lon"), F.col("lat"), 8).alias("cell"),
        ).agg(F.count("*"), F.min("cell"), F.max("qk")).collect()

    times["tile_assign"], _ = timed(q_tile_assign)

    def q_s2_assign():
        # north-star "batched S2 cell encoding": one Arrow-batched leaf
        # encode, parent snap + rollup in codegen (s2.py)
        from gdal_scripts_spark import s2 as s2mod

        leaf = s2mod.s2_cell_id(F.col("lon"), F.col("lat"), 30)
        enc = points.select("image_id", leaf.alias("leaf"))
        enc = enc.withColumn("c12", s2mod.s2_parent(F.col("leaf"), 12))
        return enc.agg(F.count("*"), F.min("leaf"), F.max("c12")).collect()

    times["s2_assign"], _ = timed(q_s2_assign)

    times["spatial_join_bc"], _ = timed(
        lambda: joins.spatial_join_broadcast(points, pack).count()
    )
    times["spatial_join_salted"], _ = timed(
        lambda: joins.spatial_join_cells(
            points, pack, z=8, hot_cell_threshold=20_000, n_salts=8
        ).count()
    )

    # the co-located plan a 100-TB deployment runs: both sides bucketed on
    # the cell key at WRITE time (one shuffle at ingest, zero per join).
    # Timed separately: the one-time bucketed write vs the shuffle-free join
    # (measured 11.5x vs plain parquet in the round-3 A/B; here it rides the
    # headline bench so every round records it next to the salted path).
    from gdal_scripts_spark import bucketing

    pts_cells = joins.with_cell(points, z=8)
    dim_cells = (
        pts_cells.groupBy("cell").count()
        .withColumn("weight", F.pmod(F.col("cell"), F.lit(97)))
        .drop("count")
    )
    spark.sql("DROP TABLE IF EXISTS bench_pts_b")
    spark.sql("DROP TABLE IF EXISTS bench_dim_b")
    times["bucketed_write"], _ = timed(lambda: (
        bucketing.write_bucketed(pts_cells, "bench_pts_b", key="cell",
                                 n_buckets=2 * CPUS),
        bucketing.write_bucketed(dim_cells, "bench_dim_b", key="cell",
                                 n_buckets=2 * CPUS),
    ))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    co = bucketing.bucketed_join(spark, "bench_pts_b", "bench_dim_b", "cell")
    n_exchanges = bucketing.count_exchanges(co)
    times["spatial_join_bucketed"], _ = timed(co.count)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.sql("DROP TABLE IF EXISTS bench_pts_b")
    spark.sql("DROP TABLE IF EXISTS bench_dim_b")

    queries = fixtures.query_points_spark(spark, q=2000)
    times["knn"], _ = timed(lambda: knn.knn_join(queries, points, k=5).count())

    images = fixtures.synth_images_spark(spark, N_IMAGES, partitions=4 * CPUS).persist()
    images.count()

    def q_tile_cut():
        base = raster.cut_base_tiles(images, z=11, resampling="bilinear")
        base = base.persist()
        n = base.count()
        raster.overview_tiles(base, 11).count()
        return n

    times["tile_cut"], _ = timed(q_tile_cut)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    times["minhash_lsh"], _ = timed(
        lambda: textops.minhash_lsh_pairs(docs, num_hashes=32, bands=8, n=8).count()
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()
    emb.count()
    times["cosine_topk"], _ = timed(
        lambda: vectorops.cosine_topk_lsh(emb.limit(200), emb, k=5).count()
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    times["sql_q1"], _ = timed(
        lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.sum("l_extendedprice"), F.avg("l_discount"),
             F.count("*"))
        .collect()
    )

    flagship = times["tile_assign"] + times["spatial_join_bc"]
    print(
        json.dumps(
            {
                "metric": "spatial-join + tile-assignment throughput",
                "value": round(N_POINTS / flagship, 1),
                "unit": "images/sec",
                "queries": {k: round(v, 3) for k, v in times.items()},
                "sf": float(sf),
                "n_points": N_POINTS,
                "n_images": N_IMAGES,
                "cpus": CPUS,
                "bucketed_join_exchanges": n_exchanges,
                "control_unit_s": round(min(ctrl_pre, control_unit_s()), 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
