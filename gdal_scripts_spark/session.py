"""SparkSession factory.

Local-mode tuning notes (tests run on one JVM, ``local[N]``):
- shuffle partitions default to core count, not 200 — at 100 TB deployment
  this is overridden per-job to ~2-3x total cores or managed by AQE.
- Arrow batching is governed by BOTH knobs: ``maxRecordsPerBatch`` high
  (131072 — skinny candidate rows need big batches or per-batch Python
  round-trip overhead dominates; round-3 A/B: 10k->131k batches cut the
  PiP-refine wall 25% at local[8] and let the kernel overlap fully into
  the serDe floor) while ``maxBytesPerBatch`` (32 MB) caps fat
  image-payload rows, bounding Python-worker memory (SURVEY.md §4
  "Physical-execution decisions") — fat rows hit the bytes cap long
  before the row cap, so raising the row cap is free for them.
- AQE on: runtime coalescing + skew-join splitting of the shuffled joins
  (e.g. :func:`gdal_scripts_spark.joins.spatial_join_s2` with
  ``broadcast_regions=False``).
- Per-task Python cost: a reused Python worker starts every task with
  ``importlib.invalidate_caches()`` (``pyspark/worker_util.py:144``). On
  CPython 3.11 each zipimporter then re-reads its whole archive directory
  (``zipimport.py:329-336``; 3.13 defers this, ``zipimport.py:276-278``):
  16 importers over ``pyspark.zip``, the py4j zip and the Spark core jar,
  117-228 ms of CPU per task on 4 cores, paid by every Python stage.
  :mod:`gdal_scripts_spark.zipcache`, installed when a worker imports this
  package, skips the archives whose stat stamp did not change; no conf is
  involved.
- Python stages are all Arrow UDFs; only the stateful streaming
  operator (``streaming``) keeps ``applyInPandasWithState``, which has no
  Arrow form. Per-row stages (a kernel reads one input row — an image, a
  polygon pair, a covering cell — and returns zero or more output rows:
  the raster operators, the fragment passes of the tile stages,
  rasterize, zonal partials, overlays of candidate pairs) run through
  :func:`gdal_scripts_spark.arrowrows.map_rows`, one ``mapInArrow`` with
  Python scalars in and Arrow tables out. Scalar column codecs (S2
  encode, WKT/WKB, PQ codes, the IVF bucket kernel) are ``arrow_udf``;
  batch- and column-shaped stages (``knn``, the ``vectorops`` scans,
  ``graph``, the ``sketches`` KMV partial, ``raster.to_xyz``,
  ``viewshed.viewshed_cells``) are ``mapInArrow``; grouped stages (the tile mosaics and overviews, the
  ``dem`` halo assembly, ``formats.convex_hull_agg``, the ``gridops``
  cogroup) are ``applyInArrow``. No pandas frame sits between a kernel
  and the JVM. Per-group Python cost is the reason: ``applyInPandas``
  builds and tears down a pandas frame per group, about 4 ms of worker
  CPU. Two ``raster.overview_tiles`` levels over the ``raster_tiles``
  benchmark's seed-1 base tiles (305 groups, 4 cores) used 2.97 worker
  CPU-s as ``applyInPandas`` and 1.77 as ``applyInArrow`` (median of 5
  warm runs; decode, downsample, encode and checksum included).
- A DataFrame made by ``spark.createDataFrame`` from a Python list scans a
  Python RDD, so every job that reads it runs Python tasks again (about
  1 CPU-s per job for 900 rows on 4 cores, against 0.1-0.2 for the same
  rows from a ``pyarrow.Table``). Small driver-built inputs that jobs
  re-read are built from Arrow tables (``rasterize._cover``).
- A table built on the driver, as a ``LocalRelation`` (``createDataFrame``
  from pandas or Arrow below
  ``spark.sql.execution.arrow.localRelationThreshold``) or as a
  parallelized collection, rides serialized in every task that reads it,
  even when it is cached: each
  partition object holds its slice of the rows, and a task over the cache
  still ships its partition. Spark warns "task of very large size". A
  ``count()`` of the 480k cached benchmark points cost 1.2-1.8 CPU-s
  (process tree, median 1.31) that way, against 0.6-0.9 (median 0.70)
  generated in the executors
  (:func:`gdal_scripts_spark.fixtures.points_spark`, 4 cores). Only small
  tables, such as the join coverings, should be driver-built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# SQL/Arrow conf shared by the local factory and the spark-submit session
# (cli.cluster_spark); the Arrow batch caps are explained above
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
    "spark.sql.execution.arrow.maxBytesPerBatch": "32m",
}


def get_spark(
    app_name: str = "gdal_scripts_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    ``cpus`` controls ``local[N]``; on a real cluster the same conf block is
    passed to ``spark-submit`` and master/executor counts come from the
    cluster manager — nothing here is local-mode-only except the master URL.
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in {**SQL_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
