#!/usr/bin/env python
"""Headline-pair job for the STANDALONE-CLUSTER scaling bench — submitted
via ``spark-submit --py-files`` (the north rule's deployment shape) by
``tools/bench_standalone_r5.py``, once per cluster size.

Workloads are the headline pair of ``BENCH/scaling.json`` (the
BASELINE.json metric: "spatial-join + tile-assignment"):

  assign       tile/cell/quadkey/morton encode over spark.range rows —
               pure whole-stage-codegen map work
  salted_join  Zipf-hot (80% of rows on one cell) salted cell equi-join,
               shuffle-hash, JVM-only agg — the both-sides-large
               spatial-join plan; on a multi-executor cluster the shuffle
               crosses EXECUTOR PROCESSES through the block manager's
               netty path, not an intra-JVM queue

Prints one JSON line: {"cores": c, "execs": e, "walls": {wl: [s, ...]},
"ns": {wl: n}, "control": [s, ...]}.  Input is synthesized
deterministically from spark.range — no external data.
"""
from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from gdal_scripts_spark.cells import (
    cell_id, lonlat_to_tile_tms, morton_interleave, tms_to_xyz_y,
)


def control_unit() -> float:
    """No-Spark host-speed unit (same kernel as the other benches): the
    box's effective clock drifts across minutes, this pins each trial to
    a same-process yardstick."""
    import zlib

    import numpy as np

    t0 = time.time()
    a = np.arange(6_000_000, dtype=np.int64)
    for _ in range(3):
        a = (a * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
    zlib.crc32(a.tobytes())
    return round(time.time() - t0, 4)


def main() -> None:
    n_assign = int(sys.argv[1])
    n_join = int(sys.argv[2])
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = SparkSession.builder.appName("cluster_headline").getOrCreate()
    sc = spark.sparkContext
    # defaultParallelism races executor registration at startup; the core
    # cap is the submit-time contract, so read it from the conf
    cores = int(spark.conf.get("spark.cores.max"))
    execs = None  # filled from the executor-memory status map below

    u = lambda k: (
        F.xxhash64(F.col("id"), F.lit(k)).cast("double") / F.lit(float(1 << 63))
        + F.lit(1.0)
    ) / F.lit(2.0)
    lonw = F.when(u(1) < 0.8, F.lit(139.7) + (u(2) - 0.5) * 1.0).otherwise(
        (u(3) - 0.5) * 359.0
    )
    latw = F.when(u(1) < 0.8, F.lit(35.6) + (u(4) - 0.5) * 1.0).otherwise(
        (u(5) - 0.5) * 167.0
    )

    def synth_pts(m):
        return spark.range(0, m, 1, 4 * cores).select(
            F.col("id"), lonw.alias("lon"), latw.alias("lat")
        )

    tx, ty = lonlat_to_tile_tms(F.col("lon"), F.col("lat"), 12)

    def job_assign():
        return (
            synth_pts(n_assign)
            .select(
                "id",
                tx.alias("tx"),
                tms_to_xyz_y(ty, 12).alias("y_xyz"),
                morton_interleave(tx, ty).alias("qkm"),
                cell_id(F.col("lon"), F.col("lat"), 8).alias("cell"),
            )
            .agg(F.count("*"), F.min("cell"), F.max("qkm"))
            .collect()
        )

    pts = synth_pts(n_join).persist()
    pts.count()
    dim = spark.range(200).select(
        F.col("id").alias("poly_id"),
        F.explode(F.array(*[F.lit(i * 37) for i in range(40)])).alias("cell"),
    )

    def job_join():
        enc = pts.select(
            "id",
            F.pmod(cell_id(F.col("lon"), F.col("lat"), 8), F.lit(100000)).alias(
                "cell"
            ),
        )
        s = enc.withColumn("s", F.pmod(F.xxhash64("id", F.lit(2)), F.lit(16)))
        d2 = dim.withColumn(
            "s", F.explode(F.array(*[F.lit(i) for i in range(16)]))
        )
        joined = s.join(d2.hint("shuffle_hash"), ["cell", "s"])
        return (
            joined.select(F.xxhash64("id", "poly_id").alias("h"))
            .agg(F.sum(F.col("h") % 1000), F.count("*"))
            .collect()
        )

    # executor count, read from the live block-manager map (minus driver)
    execs = sc._jsc.sc().getExecutorMemoryStatus().size() - 1

    walls = {"assign": [], "salted_join": []}
    ctrl = []
    for name, job in (("assign", job_assign), ("salted_join", job_join)):
        job()  # warm: codegen + JIT + (for the join) the persisted scan
        for _ in range(trials):
            ctrl.append(control_unit())
            t0 = time.time()
            job()
            walls[name].append(round(time.time() - t0, 3))
    print(
        json.dumps(
            {
                "cores": cores,
                "execs": execs,
                "walls": walls,
                "ns": {"assign": n_assign, "salted_join": n_join},
                "control": ctrl,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
