"""The benchmark workloads: GDAL_scripts-style batch jobs driven only
through ``gdal_scripts_spark``'s public functions.

``broadcast_join`` and ``raster_tiles`` are the workloads the runner
offers. ``ShuffleJoinResume`` is no workload of its own: the traced
``broadcast_join`` run runs one of its jobs to measure the ``checkpoint``
layer and the S2 covering.

Each workload owns its seeded input generation (``setup``), one job
(``job``, timed by the runner), the per-job repeat check and a once-per-run
oracle check (``check``), and the traced per-layer breakdown (``layers``).
Every call into a package module from a job sits in a span named after the
module, so a traced run maps Spark stages back to modules.

Sizes are the ``scale=1`` sizes; the smoke test runs the same code at a
tiny scale.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_scripts_spark import (
    cells,
    checkpoint,
    codecs,
    etl,
    fixtures,
    geom,
    joins,
    polygonize,
    raster,
    rasterize,
    s2,
    zonal,
)

from tracing import plan_counts, timed

LAYER_REPEATS = 3


def _median_time(fn, k: int = LAYER_REPEATS) -> float:
    return statistics.median(timed(fn)[0] for _ in range(k))


def _pair_sig(df, id_col: str):
    """(count, order-insensitive checksum) of distinct (id, poly_id) pairs."""
    r = df.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({id_col}, poly_id))").alias("chk"),
    ).collect()[0]
    return int(r["n"]), int(r["chk"] or 0)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _identity_arrow(batches):
    yield from batches


class Workload:
    """Common state: the session, a scratch directory, the seed, nproc."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int, scale: float, nproc: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.scale = scale
        self.nproc = nproc
        self.setup_parts: dict[str, float] = {}
        self.first_sig = None
        self.plan: dict = {}
        self.checks: list[str] = []   # names of the output checks that ran

    def finish(self, res: dict) -> None:
        """Untimed bookkeeping after a job: output size, cleanup."""

    def check_repeat(self, res: dict) -> bool:
        """Every job of a run must give the same result signature."""
        if self.first_sig is None:
            self.first_sig = res["sig"]
            self.checks.append(f"{self.name}.repeat")
        return res["sig"] == self.first_sig


# ---------------------------------------------------------------------------
# broadcast_join
# ---------------------------------------------------------------------------

class BroadcastJoin(Workload):
    """Zipf-skewed points, cached; tile/quadkey/cell + S2 leaf/parent keys;
    broadcast PiP join against 200 polygons; per-polygon count collected."""

    name = "broadcast_join"
    Z = 12          # XYZ / quadkey zoom
    CELL_Z = 8      # Morton cell zoom
    S2_PARENT = 12
    SAMPLE = 2000   # oracle sample of point ids

    def __init__(self, *a):
        super().__init__(*a)
        self.n_points = max(int(480_000 * self.scale), 2000)
        self.n_polys = 200
        self.sizes = {"points": self.n_points, "polygons": self.n_polys}
        self.points = None

    def setup(self) -> None:
        if self.points is not None:
            self.points.unpersist(blocking=True)
        t0 = time.perf_counter()
        # the polygon layer is the fixture's fixed one; the points come from
        # the seed (createDataFrame slices them into nproc partitions)
        self.pack = fixtures.polygons_pack(p=self.n_polys)
        self.points = fixtures.points_spark(self.spark, self.n_points, seed=self.seed).persist()
        t_gen = time.perf_counter() - t0
        t_cache, _ = timed(self.points.count)
        self.setup_parts = {"fixtures.gen_s": t_gen, "persist_s": t_cache}

    def _encoded(self, tr, points):
        lon, lat = F.col("lon"), F.col("lat")
        with tr.span("cells"):
            tx, ty = cells.lonlat_to_tile_tms(lon, lat, self.Z)
            keys = [
                tx.alias("tx"),
                cells.tms_to_xyz_y(ty, self.Z).alias("ty_xyz"),
                cells.quadkey(tx, ty, self.Z).alias("qk"),
                cells.cell_id(lon, lat, self.CELL_Z).alias("cell"),
            ]
        with tr.span("s2"):
            leaf = s2.s2_cell_id(lon, lat, 30).alias("leaf")
            parent = s2.s2_parent(F.col("leaf"), self.S2_PARENT).alias("s2_parent")
        enc = points.select("image_id", "lon", "lat", *keys, leaf)
        # the keys ride the join's id column, so the encodes are part of the
        # join stage and cannot be pruned away
        return enc.select(
            F.struct("image_id", "tx", "ty_xyz", "qk", "cell", "leaf", parent).alias("key"),
            "lon", "lat",
        )

    def _pairs(self, tr, enc):
        with tr.span("joins.spatial_join_broadcast"):
            return joins.spatial_join_broadcast(enc, self.pack, id_col="key")

    def job(self, tr) -> dict:
        pairs = self._pairs(tr, self._encoded(tr, self.points))
        per_poly = pairs.groupBy("poly_id").agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(key, poly_id))").alias("chk"),
        )
        with tr.span("collect"):
            table = per_poly.toArrow()
        self._last = per_poly
        n = int(sum(table.column("n").to_pylist()))
        chk = 0
        for c in table.column("chk").to_pylist():
            chk ^= c
        return {"rows": self.n_points, "out_bytes": table.nbytes,
                "sig": (n, chk), "pairs": n}

    def check(self, tr) -> list[str]:
        """Pairs and tile keys of a seeded sample of points against the
        numpy oracle run on the Spark driver."""
        self.plan = plan_counts(self._last)
        rng = np.random.default_rng(self.seed + 7)
        ids = [f"img{i}" for i in rng.choice(self.n_points, self.SAMPLE, replace=False)]
        # the join is per point, so joining the sample alone gives the
        # sample's pairs of the full join
        sample_df = self.points.filter(F.col("image_id").isin(ids))
        sample = sample_df.toPandas()
        got = self._pairs(tr, self._encoded(tr, sample_df)).select(
            "key.*", "poly_id").toPandas()
        px, py = sample["lon"].to_numpy(), sample["lat"].to_numpy()
        want = set()
        for p in range(self.pack.n_polys):
            hit = geom.pip_even_odd(px, py, self.pack.rings_of(p))
            want.update((i, int(self.pack.poly_ids[p]))
                        for i in sample["image_id"].to_numpy()[hit])
        errors = []
        self.checks += ["broadcast_join.sample_pairs", "broadcast_join.sample_tile_keys"]
        if set(zip(got["image_id"], got["poly_id"].astype(int))) != want:
            errors.append("broadcast_join: sample pairs differ from the PiP oracle")
        if len(got):
            by_id = sample.set_index("image_id").loc[got["image_id"]]
            lon, lat = by_id["lon"].to_numpy(), by_id["lat"].to_numpy()
            tx, ty = cells.np_lonlat_to_tile_tms(lon, lat, self.Z)
            leaf = s2.np_s2_cell_id(lon, lat, 30)
            oracle = {
                "tx": tx,
                "ty_xyz": (1 << self.Z) - 1 - ty,
                "qk": np.array([cells.np_quadkey(a, b, self.Z) for a, b in zip(tx, ty)]),
                "cell": cells.np_cell_id(lon, lat, self.CELL_Z),
                "leaf": leaf,
                "s2_parent": s2.np_s2_parent(leaf, self.S2_PARENT),
            }
            for k, v in oracle.items():
                if not np.array_equal(got[k].to_numpy(), np.asarray(v).astype(got[k].dtype)):
                    errors.append(f"broadcast_join: sample {k} differs from the numpy oracle")
        return errors

    def layers(self, tr, res: dict) -> tuple[dict, list[str]]:
        out = {}
        enc = self._encoded(tr, self.points).persist()
        try:
            enc.count()
            with tr.span("layer.scan"):
                base = _median_time(lambda: self.points.agg(
                    F.count("*"), F.sum("lon"), F.max("image_id")).collect())
            with tr.span("layer.cells"):
                lon, lat = F.col("lon"), F.col("lat")
                tx, ty = cells.lonlat_to_tile_tms(lon, lat, self.Z)
                out["cells.encode_s"] = _median_time(lambda: self.points.select(
                    tx.alias("tx"), cells.quadkey(tx, ty, self.Z).alias("qk"),
                    cells.cell_id(lon, lat, self.CELL_Z).alias("cell"),
                ).agg(F.max("tx"), F.max("qk"), F.max("cell")).collect()) - base
            with tr.span("layer.s2"):
                out["s2.encode_s"] = _median_time(lambda: self.points.select(
                    s2.s2_cell_id(lon, lat, 30).alias("leaf")
                ).select(s2.s2_parent(F.col("leaf"), self.S2_PARENT).alias("p"))
                    .agg(F.max("p")).collect()) - base
            with tr.span("layer.enc_scan"):
                enc_base = _median_time(lambda: enc.agg(
                    F.count("*"), F.sum("lon"), F.max("key")).collect())
            with tr.span("layer.arrow"):
                out["arrow.passthrough_s"] = _median_time(lambda: enc.mapInArrow(
                    _identity_arrow, schema=enc.schema
                ).agg(F.count("*"), F.sum("lon"), F.max("key")).collect()) - enc_base
            with tr.span("layer.joins"):
                out["joins.join_s"] = _median_time(
                    lambda: _pair_sig(self._pairs(tr, enc), "key")) - enc_base
        finally:
            enc.unpersist()
        lonlat = self.points.select("lon", "lat").toPandas()
        px, py = lonlat["lon"].to_numpy(), lonlat["lat"].to_numpy()
        _pip_layer(self.pack, px, py, self.seed, out)
        bb = self.pack.bbox
        cand = sum(int(np.count_nonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)))
                   for x0, y0, x1, y1 in bb)
        out["joins.candidates"] = cand
        out["joins.pairs"] = res["pairs"]
        out["joins.refine_yield"] = res["pairs"] / cand if cand else 0.0
        # the checkpoint layer and the S2 covering, from one
        # shuffle_join_resume job on this run's seed
        sub = ShuffleJoinResume(self.spark, os.path.join(self.work, "resume"),
                                self.seed, self.scale, self.nproc)
        with tr.span("layer.shuffle_join_resume"):
            sub.setup()
            sub_res = sub.job(tr)
            sub.finish(sub_res)
            sub.check_repeat(sub_res)
            errors = sub.check(tr)
            out.update(sub.checkpoint_layers(tr, sub_res))
        self.checks += sub.checks
        return out, errors


def _pip_layer(pack, px, py, seed: int, out: dict, n: int = 50_000) -> None:
    """``geom`` kernel cost from calls on the Spark driver over a seeded sample."""
    rng = np.random.default_rng(seed + 11)
    idx = rng.choice(len(px), min(n, len(px)), replace=False)
    sx, sy = px[idx], py[idx]

    def fresh():
        return geom.PolygonPack(pack.coords, pack.ring_starts, pack.poly_rings,
                                pack.poly_ids, pack.bbox)

    grids, pips = [], []
    for _ in range(LAYER_REPEATS):
        pk = fresh()
        grids.append(timed(pk.build_grid)[0])
        pips.append(timed(lambda: geom.pip_batch(sx, sy, pk))[0])
    out["geom.grid_build_s"] = statistics.median(grids)
    out["geom.pip_ns_per_pt"] = statistics.median(pips) / len(sx) * 1e9


# ---------------------------------------------------------------------------
# shuffle_join_resume
# ---------------------------------------------------------------------------

class ShuffleJoinResume(Workload):
    """Helper of the traced ``broadcast_join`` run. High-latitude points
    plus Zipf hot clusters in parquet; small rect polygons with an S2 ring
    covering; ``checkpoint.resumable_run`` over a coarse-grid unit column
    with the shuffled S2 join as its transform, then a resume pass after
    ~5% of the units changed."""

    name = "shuffle_join_resume"
    LAT0, LAT1, LON0, LON1 = 55.0, 85.0, -60.0, 60.0
    UNIT_DLON, UNIT_DLAT = 7.5, 3.0     # 16 x 10 = 160 units
    SIDE = 0.08                          # polygon rect side, degrees
    FP_COLS = ["pid", "lon", "lat"]
    CHANGED_FRAC = 0.05

    def __init__(self, *a):
        super().__init__(*a)
        # the floors keep a tiny-scale run's join non-empty:
        # checkpoint.resumable_run raises (reading back an output directory
        # with no parquet files) when its transform writes no rows
        self.n_points = max(int(60_000 * self.scale), 20_000)
        self.n_polys = max(int(40 * self.scale), 20)
        self.sizes = {"points": self.n_points, "polygons": self.n_polys}
        self.regions = None
        self._k = 0

    def _make_inputs(self):
        rng = np.random.default_rng(self.seed)
        n = self.n_points
        hot = rng.uniform([self.LON0 + 5, self.LAT0 + 2], [self.LON1 - 5, self.LAT1 - 2], (8, 2))
        w = 1.0 / np.arange(1, 9) ** fixtures.ZIPF_S
        n_hot = n // 5
        ci = rng.choice(8, n_hot, p=w / w.sum())
        lon = np.concatenate([rng.uniform(self.LON0, self.LON1, n - n_hot),
                              hot[ci, 0] + rng.normal(0, 0.3, n_hot)])
        lat = np.concatenate([rng.uniform(self.LAT0, self.LAT1, n - n_hot),
                              hot[ci, 1] + rng.normal(0, 0.3, n_hot)])
        lon = np.clip(lon, self.LON0, self.LON1 - 1e-9)
        lat = np.clip(lat, self.LAT0, self.LAT1 - 1e-9)
        unit = (np.floor((lon - self.LON0) / self.UNIT_DLON) * 100
                + np.floor((lat - self.LAT0) / self.UNIT_DLAT)).astype(np.int64)
        pid = (unit << 32) | np.arange(n, dtype=np.int64)
        base = pd.DataFrame({"pid": pid, "unit": unit, "lon": lon, "lat": lat})
        units = np.unique(unit)
        self.changed_units = sorted(rng.choice(
            units, max(1, int(round(self.CHANGED_FRAC * len(units)))), replace=False).tolist())
        self.n_units = len(units)
        # polygons: 70% uniform over the band, 30% over the hot clusters
        k = self.n_polys
        n_hot_p = k * 3 // 10
        cx = np.concatenate([rng.uniform(self.LON0 + 1, self.LON1 - 1, k - n_hot_p),
                             hot[rng.choice(8, n_hot_p, p=w / w.sum()), 0]
                             + rng.normal(0, 0.3, n_hot_p)])
        cy = np.concatenate([rng.uniform(self.LAT0 + 1, self.LAT1 - 1, k - n_hot_p),
                             hot[rng.choice(8, n_hot_p, p=w / w.sum()), 1]
                             + rng.normal(0, 0.3, n_hot_p)])
        h = self.SIDE / 2
        pack = geom.PolygonPack.from_rings([
            (i, [np.array([[x - h, y - h], [x + h, y - h], [x + h, y + h], [x - h, y + h]])])
            for i, (x, y) in enumerate(zip(cx, cy))
        ])
        return base, pack

    def setup(self) -> None:
        if self.regions is not None:
            self.regions.unpersist(blocking=True)
        t_gen, (base, self.pack) = timed(self._make_inputs)
        self.in_base = os.path.join(self.work, "in_base.parquet")
        t_write, _ = timed(lambda: self.spark.createDataFrame(
            base, schema="pid long, unit long, lon double, lat double"
        ).repartition(self.nproc).write.mode("overwrite").parquet(self.in_base))

        def cover():
            self.regions = joins.s2_cover_regions(
                self.spark, self.pack, max_level=12, cover="rings").persist()
            return self.regions.count()

        t_cover, self.region_cells = timed(cover)
        self.setup_parts = {"fixtures.gen_s": t_gen, "parquet_write_s": t_write,
                            "s2.cover_s": t_cover}

    def base_input(self):
        return self.spark.read.parquet(self.in_base)

    def changed_input(self):
        """The base input after a fingerprinted column moved in ~5% of the
        units (the input a resume pass sees)."""
        lon = F.col("lon")
        return self.base_input().withColumn("lon", F.when(
            F.col("unit").isin(self.changed_units), lon + 0.013).otherwise(lon))

    def transform(self, df):
        return joins.spatial_join_s2(
            df, self.pack, id_col="pid", regions=self.regions, prefilter_z=12,
            broadcast_regions=False,
        ).withColumn("unit", F.shiftright("pid", 32))

    def _run(self, tr, src, out: str, man: str) -> dict:
        with tr.span("checkpoint.resumable_run"):
            return checkpoint.resumable_run(
                src, "unit", self.FP_COLS, self.transform, out, man)

    def job(self, tr) -> dict:
        self._k += 1
        out = os.path.join(self.work, f"out{self._k}")
        man = os.path.join(self.work, f"manifest{self._k}")
        with tr.span("first_run"):
            t1, r1 = timed(lambda: self._run(tr, self.base_input(), out, man))
        with tr.span("resume"):
            t2, r2 = timed(lambda: self._run(tr, self.changed_input(), out, man))
        return {"rows": self.n_points, "dirs": (out, man), "units": (r1, r2),
                "first_run_s": t1, "resume_s": t2, "units_run": r2["units_run"]}

    def finish(self, res: dict) -> None:
        out, man = res.pop("dirs")
        r1, r2 = res.pop("units")
        res["out_bytes"] = dir_bytes(out) + dir_bytes(man)
        res["sig"] = (r1["units_run"], r2["units_run"],
                      _pair_sig(self.spark.read.parquet(out), "pid"))
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(man, ignore_errors=True)

    def check(self, tr) -> list[str]:
        """The S2 join's pairs equal the broadcast join's over the base
        input; every job's first run ran every unit, its resume pass re-ran
        exactly the changed units, and the resumed output equals the
        broadcast join over the changed input (checksums, as the jobs all
        repeat the first job's signature)."""
        def bc(df):
            return _pair_sig(joins.spatial_join_broadcast(df, self.pack, id_col="pid"), "pid")
        self.ref_base = bc(self.base_input())
        ref_changed = bc(self.changed_input())
        df = self.transform(self.base_input())
        errors = []
        self.checks += ["shuffle_join_resume.s2_vs_broadcast",
                        "shuffle_join_resume.units_rerun",
                        "shuffle_join_resume.resume_vs_scratch"]
        if _pair_sig(df, "pid") != self.ref_base:
            errors.append("shuffle_join_resume: S2 join pairs differ from the broadcast join")
        self.plan = plan_counts(df)
        r1, r2, sig = self.first_sig
        if r1 != self.n_units or r2 != len(self.changed_units):
            errors.append(f"shuffle_join_resume: units run {r1}/{r2}, expected "
                          f"{self.n_units}/{len(self.changed_units)}")
        if sig != ref_changed:
            errors.append("shuffle_join_resume: resumed output differs from a "
                          "from-scratch join of the changed input")
        return errors

    def checkpoint_layers(self, tr, res: dict) -> dict:
        """``checkpoint`` busy times (the fingerprint action, the partitioned
        write over a no-op write) and the job's unit counts."""
        out = {
            "checkpoint.first_run_s": res["first_run_s"],
            "checkpoint.resume_s": res["resume_s"],
            "checkpoint.units_run": res["units_run"],
            "checkpoint.rerun_ratio": res["units_run"] / len(self.changed_units),
            "s2.cover_s": self.setup_parts["s2.cover_s"],
            "s2.region_cells": self.region_cells,
        }
        man = os.path.join(self.work, "layer_manifest")
        dst = os.path.join(self.work, "layer_out")
        written = os.path.join(self.work, "layer_write")
        with tr.span("layer.checkpoint_first"):
            self._run(tr, self.base_input(), dst, man)
        with tr.span("layer.fingerprint"):
            out["checkpoint.fingerprint_s"] = _median_time(lambda: checkpoint.pending_units(
                self.changed_input(), "unit", self.FP_COLS, man).count())
        pairs = self.transform(self.base_input()).withColumn(
            "_unit", F.col("unit").cast("string"))
        with tr.span("layer.checkpoint_write"):
            noop = _median_time(lambda: pairs.write.format("noop").mode("overwrite").save())
            wr = _median_time(lambda: pairs.write.mode("overwrite").partitionBy(
                "_unit").parquet(written))
        out["checkpoint.write_s"] = wr - noop
        for d in (man, dst, written):
            shutil.rmtree(d, ignore_errors=True)
        return out


# ---------------------------------------------------------------------------
# raster_tiles
# ---------------------------------------------------------------------------

def _lattice_pack(seed: int, k: int, cell: float = 0.4) -> geom.PolygonPack:
    """``k`` seeded convex polygons, one per lattice cell around the
    fixture hot centers, so no two overlap: each burned pixel then belongs
    to exactly one polygon and per-value totals are sums of per-polygon
    counts."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(fixtures.HOT_CENTERS) + 1) ** fixtures.ZIPF_S
    used, polys = set(), []
    while len(polys) < k:
        c = fixtures.HOT_CENTERS[rng.choice(len(w), p=w / w.sum())]
        i, j = (int(v) for v in rng.integers(-6, 7, 2))
        key = (float(c[0]), float(c[1]), i, j)
        if key in used:
            continue
        used.add(key)
        cx, cy = c[0] + i * cell, c[1] + j * cell
        m = int(rng.integers(5, 11))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        r = rng.uniform(0.3, 0.45, m) * cell
        polys.append((len(polys), [np.column_stack([cx + r * np.cos(ang),
                                                    cy + r * np.sin(ang)])]))
    return geom.PolygonPack.from_rings(polys)


def _burned(tile_bytes) -> np.ndarray:
    return np.frombuffer(tile_bytes, np.int32).reshape(rasterize.TILE, rasterize.TILE)


def _value_totals(batches):
    """Burned int32 tiles -> (value, pixels) per burn value."""
    for b in batches:
        v, n = np.unique(np.concatenate([_burned(t).ravel() for t in b["tile_bytes"]]
                                        or [np.zeros(0, np.int32)]), return_counts=True)
        keep = v != 0
        yield pd.DataFrame({"value": v[keep].astype(np.int64), "px": n[keep].astype(np.int64)})


def _tiles_to_pgm(batches):
    """Burned int32 tiles -> 8-bit PGM images for polygonize (values fit:
    burn values are at most 255)."""
    for b in batches:
        yield pd.DataFrame({
            "image_id": [f"{z}/{x}/{y}" for z, x, y in zip(b["z"], b["tx"], b["y_xyz"])],
            "bytes": [codecs.encode(_burned(t).astype(np.uint8), "pgm") for t in b["tile_bytes"]],
            "fmt": "pgm",
        })


class RasterTiles(Workload):
    """Synthetic image payloads, cached: base tiles at z=11 (bilinear), two
    overview levels, the tile table written with ``etl.write_table``; then
    polygons rasterized at z=8 and zonal stats of the same polygons over the
    images. The polygonize round trip of the burned tiles runs in the traced
    run (see ``layers``)."""

    name = "raster_tiles"
    Z = 11
    RZ = 8
    PIX = 0.004   # zonal pixel size in degrees

    def __init__(self, *a):
        super().__init__(*a)
        self.n_images = max(int(480 * self.scale), 20)
        self.n_polys = max(int(600 * self.scale), 10)
        self.sizes = {"images": self.n_images, "polygons": self.n_polys}
        self.images = None
        self._k = 0

    def setup(self) -> None:
        if self.images is not None:
            self.images.unpersist(blocking=True)
        # a fixed polygon layer; the images come from the seed
        t_pack, self.pack = timed(lambda: _lattice_pack(fixtures.SEED + 1, self.n_polys))
        # polygonize reads 8-bit images, so burn values are 1..255 and
        # polygons share them; per-value totals still add up per pixel
        self.burn = {int(p): int(p) % 255 + 1 for p in self.pack.poly_ids}
        self.images = fixtures.synth_images_spark(
            self.spark, self.n_images, partitions=self.nproc,
            start=self.seed * 1_000_000).persist()
        t_gen, _ = timed(self.images.count)
        self.setup_parts = {"fixtures.gen_s": t_pack + t_gen}

    def _zonal_input(self):
        return self.images.select("image_id", "bytes", "fmt",
                                  F.col("lon").alias("x0"), F.col("lat").alias("y1"))

    def _burned_tiles(self, tr):
        with tr.span("rasterize.rasterize_tiles"):
            return rasterize.rasterize_tiles(self.pack, self.spark, z=self.RZ,
                                             burn_attr=self.burn)

    def job(self, tr) -> dict:
        self._k += 1
        dst = os.path.join(self.work, f"tiles{self._k}")
        with tr.span("raster.cut_base_tiles"):
            base = raster.cut_base_tiles(self.images, z=self.Z,
                                         resampling="bilinear").persist()
            b = base.agg(F.count("*").alias("n"), F.expr(
                "bit_xor(xxhash64(tx, ty, checksum))").alias("chk")).collect()[0]
        with tr.span("raster.overview_tiles"):
            ov1 = raster.overview_tiles(base, self.Z).persist()
            ov2 = raster.overview_tiles(ov1, self.Z - 1).persist()
            n_ov = ov1.count() + ov2.count()
        with tr.span("etl.write_table"):
            etl.write_table(base.unionByName(ov1).unionByName(ov2), dst,
                            partition_by=["z"])
        burned = self._burned_tiles(tr)
        with tr.span("rasterize.collect"):
            totals = burned.mapInPandas(_value_totals, schema="value long, px long").groupBy(
                "value").agg(F.sum("px").alias("px")).collect()
        with tr.span("zonal.zonal_stats"):
            zs = zonal.zonal_stats(self._zonal_input(), self.pack, pix=self.PIX).collect()
        for df in (base, ov1, ov2):
            df.unpersist()
        value_totals = tuple(sorted((int(r["value"]), int(r["px"])) for r in totals))
        zsig = tuple(sorted((int(r["zone_id"]), int(r["n_pixels"]), float(r["v_sum"]),
                             float(r["v_min"]), float(r["v_max"])) for r in zs))
        return {
            "rows": self.n_images, "dir": dst,
            "sig": (int(b["n"]), int(b["chk"]), value_totals, zsig),
            "tiles": int(b["n"]) + n_ov,
            "zonal_pixels": sum(z[1] for z in zsig),
        }

    def finish(self, res: dict) -> None:
        dst = res.pop("dir")
        res["out_bytes"] = dir_bytes(dst)
        shutil.rmtree(dst, ignore_errors=True)

    def _expected_totals(self) -> dict:
        """Burned pixels per burn value from ``rasterize.rasterize_counts``
        (the polygons do not overlap, so each pixel has one value)."""
        counts = rasterize.rasterize_counts(self.pack, self.spark, z=self.RZ)
        totals: dict[int, int] = {}
        for r in counts.groupBy("poly_id").agg(F.sum("burned").alias("b")).collect():
            v = self.burn[int(r["poly_id"])]
            totals[v] = totals.get(v, 0) + int(r["b"])
        return {v: n for v, n in totals.items() if n}

    def check(self, tr) -> list[str]:
        self.expected = want = self._expected_totals()
        self.burned_total = sum(want.values())
        self.checks.append("raster_tiles.burn_totals")
        if want != dict(self.first_sig[2]):
            return ["raster_tiles: burned per-value totals differ from rasterize_counts"]
        return []

    def layers(self, tr, res: dict) -> tuple[dict, list[str]]:
        out, errors = {}, []
        sample = self.images.select("bytes", "fmt", "w", "h").limit(200).collect()
        t_dec = _median_time(lambda: [codecs.decode(bytes(r["bytes"]), r["fmt"]) for r in sample])
        out["codecs.decode_ns_per_px"] = t_dec / sum(r["w"] * r["h"] for r in sample) * 1e9
        base = raster.cut_base_tiles(self.images, z=self.Z, resampling="bilinear")
        pngs = [bytes(r["tile_bytes"]) for r in base.select("tile_bytes").limit(50).collect()]
        arrs = [codecs.decode_png(p) for p in pngs]
        px = sum(a.shape[0] * a.shape[1] for a in arrs)
        t_enc = _median_time(lambda: [codecs.encode_png(a) for a in arrs])
        out["codecs.png_encode_ns_per_px"] = t_enc / px * 1e9
        out["codecs.png_bytes_per_px"] = sum(len(p) for p in pngs) / px
        out["raster.tiles"] = res["tiles"]
        out["etl.bytes_written"] = res["out_bytes"]
        with tr.span("layer.rasterize"):
            out["rasterize.burn_s"] = _median_time(lambda: rasterize.rasterize_tiles(
                self.pack, self.spark, z=self.RZ, burn_attr=self.burn).agg(
                F.count("*"), F.sum(F.length("tile_bytes"))).collect())
        frags = len(joins.polygon_cover_cells(self.pack, self.RZ))
        out["rasterize.fragments"] = frags
        out["rasterize.pixels_tested"] = frags * rasterize.TILE * rasterize.TILE
        out["rasterize.burn_ratio"] = self.burned_total / out["rasterize.pixels_tested"]
        # polygonize round trip: the burned tiles back to components, whose
        # per-value pixel totals must equal rasterize_counts
        imgs = self._burned_tiles(tr).mapInPandas(
            _tiles_to_pgm, schema="image_id string, bytes binary, fmt string").persist()
        try:
            with tr.span("layer.polygonize"):
                scan = _median_time(lambda: imgs.agg(
                    F.count("*"), F.sum(F.length("bytes"))).collect())
                # one timed call: its label fixpoint is tens of Spark jobs
                t_poly, comps = timed(lambda: polygonize.polygonize(
                    imgs, tile=rasterize.TILE).groupBy("value").agg(
                    F.sum("pixel_count").alias("px"), F.count("*").alias("n")).collect())
                out["polygonize.polygonize_s"] = t_poly - scan
        finally:
            imgs.unpersist()
        out["polygonize.components"] = sum(int(r["n"]) for r in comps)
        self.checks.append("raster_tiles.polygonize_totals")
        if {int(r["value"]): int(r["px"]) for r in comps} != self.expected:
            errors.append("raster_tiles: polygonized per-value totals differ from "
                          "rasterize_counts")
        zin = self._zonal_input()
        with tr.span("layer.zonal"):
            scan = _median_time(lambda: zin.agg(F.count("*"), F.sum(F.length("bytes"))).collect())
            out["zonal.stats_s"] = _median_time(
                lambda: zonal.zonal_stats(zin, self.pack, pix=self.PIX).collect()) - scan
        tested = self.images.agg(F.sum(F.col("w") * F.col("h"))).collect()[0][0]
        out["zonal.pixels_tested"] = int(tested)
        out["zonal.hit_ratio"] = res["zonal_pixels"] / tested
        # the kernel's cost on uniform points over the polygons' extent
        rng = np.random.default_rng(self.seed + 3)
        bb = self.pack.bbox
        _pip_layer(self.pack,
                   rng.uniform(bb[:, 0].min(), bb[:, 2].max(), 200_000),
                   rng.uniform(bb[:, 1].min(), bb[:, 3].max(), 200_000),
                   self.seed, out)
        return out, errors


WORKLOADS = {w.name: w for w in (BroadcastJoin, RasterTiles)}
