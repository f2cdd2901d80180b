"""Manifest resume semantics: skip committed units, re-run changed inputs,
idempotent replay; streaming AvailableNow incremental ingest."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_scripts_spark import checkpoint, fixtures, streaming


def _transform(df):
    # simple per-unit transform preserving the unit column
    return df.select("bucket", "image_id", (F.length("caption")).alias("cap_len"))


@pytest.fixture()
def images(spark):
    return fixtures.images_spark(spark, n=120).withColumn(
        "bucket", F.pmod(F.xxhash64("image_id"), F.lit(6))
    ).select("bucket", "image_id", "caption", "lon", "lat").persist()


def test_resume_skips_committed_units(spark, images, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    m1 = checkpoint.resumable_run(
        images, "bucket", ["image_id", "caption"], _transform, out, man, run_id="r1"
    )
    assert m1["units_run"] == 6 and m1["units_total"] == 6
    n1 = spark.read.parquet(out).count()
    assert n1 == 120
    # immediate re-run: nothing pending
    m2 = checkpoint.resumable_run(
        images, "bucket", ["image_id", "caption"], _transform, out, man, run_id="r2"
    )
    assert m2["resumed"] is True and m2["units_run"] == 0
    assert spark.read.parquet(out).count() == 120


def test_changed_input_reruns_only_that_unit(spark, images, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    checkpoint.resumable_run(
        images, "bucket", ["image_id", "caption"], _transform, out, man, run_id="r1"
    )
    # mutate the caption of rows in exactly one bucket
    changed = images.withColumn(
        "caption",
        F.when(F.col("bucket") == 3, F.concat(F.col("caption"), F.lit("!"))).otherwise(
            F.col("caption")
        ),
    )
    m = checkpoint.resumable_run(
        changed, "bucket", ["image_id", "caption"], _transform, out, man, run_id="r3"
    )
    assert m["units_run"] == 1
    # output stays complete and reflects the overwrite (idempotent replay)
    res = spark.read.parquet(out)
    assert res.count() == 120
    bucket3 = res.filter(F.col("_unit") == "3").count()
    assert bucket3 == images.filter("bucket = 3").count()


def test_empty_output_commits_units_with_zero_rows(spark, images, tmp_path):
    """A transform that filters every row out still commits its units
    (rows_out = 0), so a re-run resumes instead of redoing them."""
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")

    def drop_all(df):
        return _transform(df).filter(F.lit(False))

    m1 = checkpoint.resumable_run(
        images, "bucket", ["image_id"], drop_all, out, man, run_id="r1"
    )
    assert m1["units_run"] == 6 and m1["rows_out"] == 0
    rows = checkpoint.read_manifest(spark, man).collect()
    assert len(rows) == 6
    assert {(r["status"], r["rows_out"]) for r in rows} == {("committed", 0)}
    m2 = checkpoint.resumable_run(
        images, "bucket", ["image_id"], drop_all, out, man, run_id="r2"
    )
    assert m2["resumed"] is True and m2["units_run"] == 0


def test_rerun_unit_with_empty_output_drops_stale_partition(spark, images, tmp_path):
    """A re-run unit whose transform now yields no rows loses its old
    output partition, and its manifest row reads rows_out = 0."""
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")

    def unmarked(df):
        return _transform(df.filter(~F.col("caption").endswith("!")))

    checkpoint.resumable_run(
        images, "bucket", ["image_id", "caption"], unmarked, out, man, run_id="r1"
    )
    n3 = images.filter("bucket = 3").count()
    assert spark.read.parquet(out).filter(F.col("_unit") == "3").count() == n3 > 0
    marked = images.withColumn(
        "caption",
        F.when(F.col("bucket") == 3, F.concat(F.col("caption"), F.lit("!")))
        .otherwise(F.col("caption")),
    )
    m = checkpoint.resumable_run(
        marked, "bucket", ["image_id", "caption"], unmarked, out, man, run_id="r2"
    )
    assert m["units_run"] == 1 and m["rows_out"] == 0
    res = spark.read.parquet(out)
    assert res.filter(F.col("_unit") == "3").count() == 0
    assert res.count() == 120 - n3
    r2 = checkpoint.read_manifest(spark, man).filter(F.col("run_id") == "r2").collect()
    assert [(r["unit_id"], r["rows_out"]) for r in r2] == [("3", 0)]


def test_fingerprint_sees_swapped_duplicate_rows(spark, tmp_path):
    """Rows A, A, C becoming B, B, C keep rows_in and would keep a
    bit_xor of row hashes; the fingerprint still changes, so the unit
    re-runs."""
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    schema = "unit long, v string"
    before = spark.createDataFrame([(1, "A"), (1, "A"), (1, "C"), (2, "D")], schema)
    after = spark.createDataFrame([(1, "B"), (1, "B"), (1, "C"), (2, "D")], schema)

    def fps(df):
        return {r["unit_id"]: (r["input_fingerprint"], r["rows_in"])
                for r in checkpoint.unit_fingerprints(df, "unit", ["v"]).collect()}

    fb, fa = fps(before), fps(after)
    assert fb["2"] == fa["2"]
    assert fb["1"][1] == fa["1"][1] == 3 and fb["1"][0] != fa["1"][0]
    checkpoint.resumable_run(before, "unit", ["v"], lambda d: d, out, man, run_id="r1")
    m = checkpoint.resumable_run(after, "unit", ["v"], lambda d: d, out, man, run_id="r2")
    assert m["units_run"] == 1
    got = sorted(r["v"] for r in spark.read.parquet(out).filter("_unit = '1'").collect())
    assert got == ["B", "B", "C"]


def test_run_metrics_rollup(spark, images, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    ret = checkpoint.resumable_run(
        images, "bucket", ["image_id"], _transform, out, man, run_id="rX"
    )
    m = {r["run_id"]: r for r in checkpoint.run_metrics(spark, man).collect()}
    assert m["rX"]["units"] == 6
    assert m["rX"]["rows_in"] == 120 and m["rX"]["rows_out"] == 120
    # wall_ms is the run's wall time, carried by every unit of the run
    units = checkpoint.read_manifest(spark, man).select("wall_ms").collect()
    assert {r["wall_ms"] for r in units} == {ret["wall_ms"]}
    assert m["rX"]["wall_ms"] == ret["wall_ms"]


def test_streaming_available_now_incremental(spark, tmp_path):
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pdf1 = fixtures.make_images_pdf(30, seed=1)
    spark.createDataFrame(pdf1, schema=fixtures.IMAGES_SCHEMA).write.parquet(
        str(src / "batch1")
    )
    streaming.stream_cell_encode(spark, str(src / "*"), out, ckpt, z=8)
    n1 = spark.read.parquet(out).count()
    assert n1 == 30
    # new files arrive; second drain processes ONLY them
    pdf2 = fixtures.make_images_pdf(20, seed=2)
    spark.createDataFrame(pdf2, schema=fixtures.IMAGES_SCHEMA).write.parquet(
        str(src / "batch2")
    )
    streaming.stream_cell_encode(spark, str(src / "*"), out, ckpt, z=8)
    res = spark.read.parquet(out)
    assert res.count() == 50
    # encoded columns are present and consistent with the batch path
    row = res.filter(F.col("image_id") == "img00000003").collect()[0]
    from gdal_scripts_spark import cells
    i = 3
    exp = int(cells.np_cell_id(np.array([row["lon"]]), np.array([row["lat"]]), 8)[0])
    assert row["cell"] == exp


def test_stream_windowed_counts_watermark(spark, tmp_path):
    import pandas as pd

    src = str(tmp_path / "ev_in"); out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ck")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    ev.write.parquet(src)
    streaming.stream_windowed_counts(
        spark, src, out, ckpt, window="10 minutes", watermark="30 minutes")
    got = spark.read.parquet(out)
    # append mode emits only FINALIZED windows: win_end <= max_ts - watermark
    row = ev.agg(F.max("ts").alias("m")).collect()[0]
    cutoff = row["m"] - __import__("datetime").timedelta(minutes=30)
    want = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.end") <= F.lit(cutoff))
    )
    got_d = {(r["win_start"], r["event_type"]): r["n"] for r in got.collect()}
    want_d = {(r["w"]["start"], r["event_type"]): r["n"] for r in want.collect()}
    assert got_d == want_d
    assert len(got_d) > 0


def test_stream_first_seen_stateful_dedup(spark, tmp_path):
    import pandas as pd

    src = str(tmp_path / "fs_in"); out = str(tmp_path / "fs_out")
    ckpt = str(tmp_path / "fs_ck")
    imgs = fixtures.make_images_pdf(n=30)
    base = imgs[["image_id", "caption", "phash"]]
    # drain 1: 30 uniques + 10 in-batch duplicates
    batch1 = pd.concat([imgs, imgs.iloc[:10]], ignore_index=True)
    spark.createDataFrame(batch1, schema=fixtures.IMAGES_SCHEMA) \
        .write.mode("overwrite").parquet(src)
    streaming.stream_first_seen(spark, src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 30  # in-batch duplicates suppressed
    # drain 2: re-send 15 old ids (cross-restart duplicates) + 5 new
    imgs2 = fixtures.make_images_pdf(n=35, seed=fixtures.SEED)
    newpart = imgs2.iloc[30:]
    batch2 = pd.concat([imgs.iloc[:15], newpart], ignore_index=True)
    spark.createDataFrame(batch2, schema=fixtures.IMAGES_SCHEMA) \
        .write.mode("append").parquet(src)
    streaming.stream_first_seen(spark, src, out, ckpt)
    final = spark.read.parquet(out)
    assert final.count() == 35  # only the 5 new ids got through round 2
    assert final.select("image_id").distinct().count() == 35
