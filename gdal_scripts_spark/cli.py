"""spark-submit entry point (BASELINE.json : north_rule — "run via
``spark-submit --py-files`` on a multi-executor cluster at sizes N and 4N").

Usage (cluster):

    zip -r gdal_scripts_spark.zip gdal_scripts_spark
    spark-submit --py-files gdal_scripts_spark.zip \
        --num-executors N --executor-cores C \
        -m gdal_scripts_spark.cli  <job> [options]     # via python -m
    # or: spark-submit --py-files ... path/to/repo/gdal_scripts_spark/cli.py <job> ...

Under spark-submit the session comes from ``getOrCreate()`` WITHOUT a
forced master, so ``--master/--num-executors`` govern; locally (no
SPARK_GRAFT_CLUSTER) the tuned ``local[N]`` factory is used, making every
job runnable in tests. Jobs:

    query      run ANY driver-registry entry (--query NAME) over --sf-dir,
               write parquet to --output (the full 100+-operator surface
               through one spark-submit command)
    tile-cut   read an images parquet (--input), cut z-level XYZ tiles
               (--z), write tiles parquet to --output
    tile-sink  same, through the exact-resume lineage-manifest sink
               (--manifest; re-submitting after a failure resumes at unit
               granularity — north_rule checkpoint story)
    assign     cell/tile/quadkey-encode an images parquet -> parquet
    pyramid    build overview levels --z-base -> --z-min (--resampling)
    stream     incremental cell-encode drain of a parquet dir
               (Trigger.AvailableNow; exactly-once via --checkpoint)
"""

from __future__ import annotations

import argparse
import os
import sys


def cluster_spark(app_name: str):
    """Session for spark-submit: no master override, conf from the
    submitter; falls back to the tuned local factory outside a cluster."""
    from .session import SQL_CONF, get_spark

    if os.environ.get("SPARK_GRAFT_CLUSTER") or "SPARK_EXECUTOR_CORES" in os.environ:
        from pyspark.sql import SparkSession

        b = SparkSession.builder.appName(app_name)
        for k, v in SQL_CONF.items():
            b = b.config(k, v)
        return b.getOrCreate()
    return get_spark(app_name=app_name)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gdal_scripts_spark", description=__doc__)
    p.add_argument("job", choices=["query", "tile-cut", "tile-sink", "assign",
                                   "pyramid", "stream"])
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p.add_argument("--query", help="registry entry name (job=query)")
    p.add_argument("--input", help="input parquet path (images schema)")
    p.add_argument("--output", help="output parquet path")
    p.add_argument("--manifest", help="lineage manifest path (tile-sink)")
    p.add_argument("--checkpoint", help="streaming checkpoint dir (stream)")
    p.add_argument("--z", type=int, default=11)
    p.add_argument("--z-base", type=int, default=11)
    p.add_argument("--z-min", type=int, default=8)
    p.add_argument("--n-units", type=int, default=32)
    p.add_argument("--resampling", default="average",
                   choices=["average", "gauss", "mode", "rms", "nearest",
                            "bilinear", "cubic"])
    p.add_argument("--show", type=int, default=0,
                   help="print N rows instead of requiring --output")
    return p


def main(argv: list[str] | None = None, *, stop_session: bool = False) -> int:
    """``stop_session=True`` only when invoked as the script entry point —
    a library/test caller shares the process-wide session (getOrCreate)."""
    args = build_parser().parse_args(argv)
    spark = cluster_spark(f"gdal_scripts_spark_{args.job}")

    def sink(df):
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.output}")
        elif args.show:
            df.show(args.show, truncate=False)
        else:
            print(f"rows: {df.count()}")

    if args.job == "query":
        if not args.query:
            raise SystemExit("--query NAME required (see __spark_entry__.queries())")
        from .queries import all_queries

        sink(all_queries()[args.query](spark, args.sf_dir))
    elif args.job == "assign":
        from pyspark.sql import functions as F

        from . import cells

        images = spark.read.parquet(args.input or f"{args.sf_dir}/../images")
        tx, ty = cells.lonlat_to_tile_tms(F.col("lon"), F.col("lat"), args.z)
        sink(images.select(
            "image_id", tx.alias("tx"), ty.alias("ty"),
            cells.tms_to_xyz_y(ty, args.z).alias("y_xyz"),
            cells.quadkey(tx, ty, args.z).alias("quadkey"),
            cells.cell_id(F.col("lon"), F.col("lat"), 8).alias("cell"),
        ))
    elif args.job == "tile-cut":
        from . import raster

        images = spark.read.parquet(args.input)
        # warp kernels for tile cutting; pyramid-only modes (average/gauss/
        # mode/rms) fall back to bilinear here
        method = args.resampling if args.resampling in (
            "nearest", "bilinear", "cubic") else "bilinear"
        sink(raster.cut_image_tiles(images, z=args.z, resampling=method))
    elif args.job == "tile-sink":
        from . import probe

        if not (args.input and args.output and args.manifest):
            raise SystemExit("tile-sink needs --input --output --manifest")
        images = spark.read.parquet(args.input)
        m = probe.write_tiles(images, args.output, args.manifest, z=args.z,
                              n_units=args.n_units)
        print(m)
    elif args.job == "pyramid":
        from . import raster

        images = spark.read.parquet(args.input)
        base = raster.cut_base_tiles(images, z=args.z_base, resampling="nearest")
        levels = raster.build_pyramid(base, args.z_base, args.z_min,
                                      resampling=args.resampling)
        out = None
        for _zz, df in sorted(levels.items()):
            part = df.select("z", "tx", "ty", "y_xyz", "checksum")
            out = part if out is None else out.unionByName(part)
        sink(out)
    elif args.job == "stream":
        from . import streaming

        if not (args.input and args.output and args.checkpoint):
            raise SystemExit("stream needs --input --output --checkpoint")
        streaming.stream_cell_encode(spark, args.input, args.output,
                                     args.checkpoint, z=args.z)
        print(f"drained {args.input} -> {args.output}")
    if stop_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(stop_session=True))
