"""Per-partition lineage/metrics manifest + exact resume (SURVEY.md §2.10).

Reference semantics: ``osgeo_utils/gdal2tiles.py : options.resume checks
(≈L1950)`` — skip tiles whose output file already exists. The north_rule
upgrades this to "resumable from checkpoint with per-partition lineage +
metrics", which maps Spark-first to a MANIFEST TABLE instead of a filesystem
stat: each work unit (a partition of the job's key space) commits one row

    (run_id, unit_id, input_fingerprint, rows_in, rows_out, wall_ms, status)

and resume is an anti-join of the unit universe against committed manifest
rows — the same idempotent-writer pattern Structured Streaming uses for
exactly-once sinks (write data first, commit manifest last; data writes are
partition-overwrite so replays are idempotent).

input_fingerprint is an order-insensitive xxhash64 aggregate of the unit's
input rows: on resume, a unit whose input changed since the committed run is
re-run (exact resume, not blind skip).

wall_ms is NOT a per-unit time: all units of a run are transformed and
written by one Spark job, so every unit committed by a run carries that
run's whole wall time (from finding the pending units to the manifest
commit), the ``wall_ms`` that ``resumable_run`` returns.

At 100 TB: the manifest is tiny (one row per unit, units sized to thousands
of input partitions); the anti-join broadcasts it. A failed executor re-runs
its Spark task natively; a failed/killed JOB resumes at unit granularity.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "run_id string, unit_id string, input_fingerprint long, rows_in long, "
    "rows_out long, wall_ms long, status string, committed_at double"
)


def unit_fingerprints(df: DataFrame, unit_col: str, fp_cols: list[str]) -> DataFrame:
    """(unit_id, input_fingerprint, rows_in) — order-insensitive hash agg."""
    h = F.xxhash64(*[F.col(c) for c in fp_cols])
    # order-insensitive sum of the row hashes, kept as four sums of their
    # 16-bit quarters: a long sum of values < 2^16 overflows (an error
    # under ANSI mode) only past 2^47 rows in one unit. The four sums fold
    # into one long. Unlike a bit_xor, identical rows do not cancel.
    quarters = [F.shiftright(h, 16 * k).bitwiseAND(F.lit(0xFFFF)) for k in range(4)]
    return df.groupBy(F.col(unit_col).cast("string").alias("unit_id")).agg(
        F.xxhash64(*[F.sum(q) for q in quarters]).alias("input_fingerprint"),
        F.count("*").alias("rows_in"),
    )


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    if os.path.exists(manifest_path):
        return spark.read.parquet(manifest_path)
    return spark.createDataFrame([], schema=MANIFEST_SCHEMA)


def pending_units(
    df: DataFrame, unit_col: str, fp_cols: list[str], manifest_path: str
) -> DataFrame:
    """Units not yet committed OR whose input fingerprint changed."""
    spark = df.sparkSession
    fps = unit_fingerprints(df, unit_col, fp_cols)
    from pyspark.sql import Window

    latest = Window.partitionBy("unit_id").orderBy(F.col("committed_at").desc())
    done = (
        read_manifest(spark, manifest_path)
        .filter(F.col("status") == "committed")
        .withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .select(
            "unit_id",
            F.col("input_fingerprint").alias("fp_done"),
            F.col("rows_in").alias("rows_done"),
        )
    )
    return (
        fps.join(F.broadcast(done), "unit_id", "left")
        .filter(
            F.col("fp_done").isNull()
            | (F.col("fp_done") != F.col("input_fingerprint"))
            | (F.col("rows_done") != F.col("rows_in"))
        )
        .select("unit_id", "input_fingerprint", "rows_in")
    )


def _drop_unit_partitions(spark: SparkSession, out_path: str, unit_ids: list[str]) -> None:
    """Delete the ``_unit=<id>`` output partitions of units about to re-run.
    Dynamic overwrite replaces only the partitions a write produces, so a
    re-run unit whose transform now yields no rows would otherwise keep
    its stale output (and its stale ``rows_out``)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(out_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    for uid in unit_ids:
        if uid is not None:
            fs.delete(jvm.org.apache.hadoop.fs.Path(root, f"_unit={escape(uid)}"), True)


def resumable_run(
    df: DataFrame,
    unit_col: str,
    fp_cols: list[str],
    transform,
    out_path: str,
    manifest_path: str,
    run_id: str | None = None,
) -> dict:
    """Run ``transform(subset_df)`` over only the pending units; write output
    partitioned by unit (dynamic overwrite → idempotent replay), then commit
    manifest rows. Returns a metrics dict.

    transform: DataFrame -> DataFrame; must preserve the unit column.

    The returned ``wall_ms`` is the whole run's wall time, and every
    manifest row the run commits carries that same value; the units are not
    timed one by one.
    """
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    todo = pending_units(df, unit_col, fp_cols, manifest_path).persist()
    n_todo = todo.count()
    total_units = df.select(unit_col).distinct().count()
    if n_todo == 0:
        return {"run_id": run_id, "units_total": total_units, "units_run": 0,
                "rows_out": 0, "resumed": True}

    subset = df.join(
        F.broadcast(todo.select(F.col("unit_id"))),
        df[unit_col].cast("string") == F.col("unit_id"),
        "left_semi",
    )
    out = transform(subset)
    _drop_unit_partitions(
        spark, out_path, [r["unit_id"] for r in todo.select("unit_id").collect()]
    )
    (
        out.withColumn("_unit", F.col(unit_col).cast("string"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_unit")
        .parquet(out_path)
    )
    # explicit schema: a transform that wrote no rows leaves a directory
    # with no parquet files, whose schema Spark cannot infer; its units
    # then commit with rows_out = 0
    rows_out = (
        spark.read.schema("_unit string").parquet(out_path)
        .groupBy(F.col("_unit").alias("unit_id"))
        .count()
        .withColumnRenamed("count", "rows_out")
    )
    wall_ms = int((time.time() - t0) * 1000)
    manifest_rows = (
        todo.join(rows_out, "unit_id", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            "unit_id",
            "input_fingerprint",
            "rows_in",
            F.coalesce("rows_out", F.lit(0)).alias("rows_out"),
            F.lit(wall_ms).alias("wall_ms"),
            F.lit("committed").alias("status"),
            F.lit(time.time()).alias("committed_at"),
        )
    )
    manifest_rows.write.mode("append").parquet(manifest_path)
    total_out = manifest_rows.agg(F.sum("rows_out")).collect()[0][0]
    return {
        "run_id": run_id, "units_total": total_units, "units_run": n_todo,
        "rows_out": int(total_out or 0), "resumed": False, "wall_ms": wall_ms,
    }


def run_metrics(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Per-run metrics rollup from the manifest (lineage audit surface).

    ``wall_ms`` is the run's wall time: the units of one run all carry it,
    so their max is that value, not the slowest unit's time."""
    m = read_manifest(spark, manifest_path)
    return m.groupBy("run_id").agg(
        F.count("*").alias("units"),
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_out").alias("rows_out"),
        F.max("wall_ms").alias("wall_ms"),
        F.min("committed_at").alias("first_commit"),
        F.max("committed_at").alias("last_commit"),
    )
