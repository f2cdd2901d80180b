#!/usr/bin/env python
"""Scale-stability evidence (round 5): the headline pipeline + kNN at
1x / 3x / 10x input rows on local[32], same plans, one JVM.

Round-4 verdict: every bench number was sf0.1-scale only; this run
retires the "only measured at toy scale" objection by showing walls grow
~linearly in rows (sublinear per-row cost is fine — fixed overheads
amortize; superlinear growth would flag a plan that breaks at 100x).
Workloads are the bench.py headline family over the deterministic
fixtures generators (no external data): tile_assign (map-only codegen),
spatial_join_bc (broadcast Arrow pip), spatial_join_salted (cell
equi-join + hot-cell salting + AQE), knn (grid ring-expansion).

Writes BENCH/scale_stability_r5.json and prints a markdown table to
append to BENCH/BASELINE.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from gdal_scripts_spark import fixtures, joins, knn  # noqa: E402
from gdal_scripts_spark.cells import (  # noqa: E402
    cell_id, lonlat_to_tile_tms, quadkey, tms_to_xyz_y,
)
from gdal_scripts_spark.session import get_spark  # noqa: E402

BASE_N = 400_000
SCALES = (1, 3, 10)
CPUS = 32

spark = get_spark(app_name="scale_stability", cpus=CPUS,
                  shuffle_partitions=2 * CPUS)


def timed(fn):
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


pack = fixtures.polygons_pack(p=200)
queries = fixtures.query_points_spark(spark, q=2000).persist()
queries.count()

results = []
for s in SCALES:
    n = BASE_N * s
    points = fixtures.points_spark(spark, n, partitions=2 * CPUS).persist()
    points.count()

    def q_tile_assign():
        tx, ty = lonlat_to_tile_tms(F.col("lon"), F.col("lat"), 12)
        points.select(
            "image_id", tx.alias("tx"), ty.alias("ty"),
            tms_to_xyz_y(ty, 12).alias("y_xyz"),
            quadkey(tx, ty, 12).alias("qk"),
            cell_id(F.col("lon"), F.col("lat"), 8).alias("cell"),
        ).agg(F.count("*"), F.min("cell"), F.max("qk")).collect()

    row = {"scale": s, "n_points": n}
    row["tile_assign"] = timed(q_tile_assign)
    row["spatial_join_bc"] = timed(
        lambda: joins.spatial_join_broadcast(points, pack).count())
    row["spatial_join_salted"] = timed(
        lambda: joins.spatial_join_cells(
            points, pack, z=8, hot_cell_threshold=20_000, n_salts=8).count())
    row["knn"] = timed(lambda: knn.knn_join(queries, points, k=5).count())
    row["headline_img_per_s"] = round(
        n / (row["tile_assign"] + row["spatial_join_bc"]), 1)
    results.append(row)
    points.unpersist()
    print(json.dumps(row), flush=True)

# per-row cost ratios vs 1x (1.0 = perfectly linear; <1 = economies of
# scale from amortized fixed costs; >>1 = a plan that degrades)
base = results[0]
for row in results:
    for q in ("tile_assign", "spatial_join_bc", "spatial_join_salted", "knn"):
        row[f"{q}_per_row_vs_1x"] = round(
            (row[q] / row["n_points"]) / (base[q] / base["n_points"]), 2)

out = {
    "workload": "headline pipeline + knn at 1x/3x/10x rows, local[32], one JVM",
    "base_n_points": BASE_N,
    "rows": results,
}
with open(os.path.join(REPO, "BENCH", "scale_stability_r5.json"), "w") as f:
    json.dump(out, f, indent=2)
print(json.dumps(out))

print("\n| scale | rows | tile_assign | join_bc | join_salted | knn | img/s |")
print("|---|---|---|---|---|---|---|")
for r in results:
    print(f"| {r['scale']}x | {r['n_points']:,} | {r['tile_assign']} s "
          f"| {r['spatial_join_bc']} s | {r['spatial_join_salted']} s "
          f"| {r['knn']} s | {r['headline_img_per_s']:,} |")
spark.stop()
