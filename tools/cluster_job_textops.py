#!/usr/bin/env python
"""Text-pipeline job for the STANDALONE-CLUSTER scaling bench — submitted
via ``spark-submit --py-files``, once per cluster size (the A/B script
that submitted it was removed; ``BENCH/textops_standalone_r5c.json`` keeps
its verdict). Workloads are the session's two heaviest new
operators over the amplified corpus (worst case: every gram frequent,
every position duplicated):

  decontam   word-3-gram benchmark decontamination (distinct gram-hash
             shuffle + broadcast bench-index join)
  dupspan    exact-substring k-gram duplication islands (per-position
             hash explode + corpus count + per-doc window)

Prints one JSON line {"cores": c, "walls": {...}, "rows": {...},
"control": [s, ...]}. Input derives from the driver testdata parquet
(same box, file:// path) amplified deterministically in-plan.
"""
from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def control_unit() -> float:
    import zlib

    import numpy as np

    t0 = time.time()
    a = np.arange(6_000_000, dtype=np.int64)
    for _ in range(3):
        a = (a * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
    zlib.crc32(a.tobytes())
    return round(time.time() - t0, 4)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 150
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    from gdal_scripts_spark import textops

    spark = SparkSession.builder.getOrCreate()
    cores = int(spark.conf.get("spark.cores.max"))
    base = spark.read.parquet("file:///root/testdata/sf0.1/documents.parquet")
    docs = (
        base.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .select(
            (F.col("doc_id") + F.col("rep") * 1000000).alias("doc_id"),
            F.concat("text", F.lit(" rep"), F.col("rep")).alias("text"),
        )
        .repartition(4 * cores)
    )
    walls = {"decontam": [], "dupspan": []}
    rows = {}
    controls = []
    for _ in range(trials):
        controls.append(control_unit())
        t = time.time()
        rows["decontam"] = textops.decontaminate(
            docs, n=3, broadcast_bench=False).count()
        walls["decontam"].append(round(time.time() - t, 3))
        t = time.time()
        rows["dupspan"] = textops.dup_substring_spans(docs, k=24).count()
        walls["dupspan"].append(round(time.time() - t, 3))
    print(json.dumps({"cores": cores, "walls": walls, "rows": rows,
                      "control": controls}))


if __name__ == "__main__":
    main()
