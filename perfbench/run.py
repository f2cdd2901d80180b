#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload broadcast_join --seed 1 --seconds 1 --trace 0

Run it from the repository root: the package is imported from the current
directory. One client in a closed loop submits a job, waits for it, and
submits the next, on a ``local[nproc]`` session. The run prints a context
line (seed, sizes, nproc, versions, plan counts, the no-Spark control unit)
and, last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. It exits non-zero if any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))

SETUP_REPEATS = 3
MIN_WARM = 2



def metric_units() -> tuple[dict, dict]:
    """``{name: unit}`` of the end-to-end and per-layer metrics, from
    ``BENCHMARK.json`` at the repository root."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def control_unit_s() -> float:
    """No-Spark numpy+zlib unit (the same unit as ``bench.py``'s): context
    for machine-speed drift between runs, never a bound."""
    import zlib

    import numpy as np

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        rng = np.random.default_rng(0)
        for _i in range(30):
            a = (rng.random((256, 256, 3)) * 255).astype(np.uint8)
            zlib.compress(a.tobytes(), 3)
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_steal() -> tuple[int, int]:
    """(all, steal) jiffies of the machine since boot: the share stolen by
    the hypervisor during a run is context for its timings."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["broadcast_join", "raster_tiles"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured window of warm jobs")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the smoke test runs tiny sizes)")
    return p.parse_args(argv)


def _prepare(root: str, run_dir: str) -> None:
    """Import path for the Spark driver and the Python workers, and every
    temporary directory inside the run directory."""
    sys.path[:0] = [root, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # no hsperfdata in /tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _spark_conf(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    from tracing import tree_alive

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while tree_alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree_alive():
        os.kill(pid, signal.SIGKILL)
    while tree_alive() and time.time() < deadline + 10:
        time.sleep(0.2)


def run(args, root: str, run_dir: str) -> tuple[dict, dict, int, int]:
    import numpy as np
    import pyarrow
    import pyspark

    from gdal_scripts_spark.session import get_spark

    import tracing
    from workloads import WORKLOADS

    end_to_end, per_layer = metric_units()
    nproc = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    ctx = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": nproc,
        "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "numpy": np.__version__},
        "control_unit_s": control_unit_s(),
    }
    attempted = failed = 0
    walls: dict[str, list[float]] = {"untraced": [], "traced": []}
    traced_roots: list[dict] = []
    cpu0 = cpu_steal()
    with tracing.MemorySampler(enabled=trace) as mem:
        session_wall, session_cpu, spark = tracing.measured(lambda: get_spark(
            app_name=f"perfbench-{args.workload}", cpus=nproc,
            extra_conf=_spark_conf(run_dir, trace)))
        try:
            tracer = tracing.Tracer(uuid.uuid4().hex[:8], spark.sparkContext, enabled=trace)
            off = tracing.Tracer(tracer.run_id, enabled=False)
            wl = WORKLOADS[args.workload](spark, os.path.join(run_dir, "work"),
                                          args.seed, args.scale, nproc)
            setups, parts = [], []
            for _ in range(SETUP_REPEATS):
                setups.append(tracing.measured(wl.setup)[:2])
                parts.append(wl.setup_parts)
            setup_wall = session_wall + statistics.median(w for w, _ in setups)
            setup_cpu = session_cpu + statistics.median(c for _, c in setups)
            ctx["setup_wall_s"] = setup_wall
            ctx["sizes"] = wl.sizes
            ctx["setup_parts"] = parts

            def job(kind: str, traced: bool):
                nonlocal attempted, failed
                tr = tracer if traced else off
                attempted += 1
                try:
                    mem.start_window()
                    with tr.span(f"job.{kind}") as root_span:
                        t, cpu, res = tracing.measured(lambda: wl.job(tr))
                    mem.sample()
                    res["cpu_s"], res["pss_bytes"] = cpu, mem.window_peak
                    wl.finish(res)
                    ok = wl.check_repeat(res)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    return None
                if not ok:
                    print(f"perfbench: {kind} job result differs from the first job's",
                          file=sys.stderr)
                    failed += 1
                if traced and kind == "warm":
                    traced_roots.append(root_span)
                res["wall_s"] = t
                return res

            def enough() -> bool:
                if trace:
                    return min(len(walls["untraced"]), len(walls["traced"])) >= 1
                return len(walls["untraced"]) >= MIN_WARM

            # the cold job is the discarded warm-up of the warm window
            cold = job("cold", trace)
            warm: list[dict] = []
            if cold is not None:
                t_end = time.perf_counter() + args.seconds
                while not (time.perf_counter() >= t_end and enough()):
                    # a traced run alternates untraced and traced jobs
                    traced = trace and len(walls["untraced"]) > len(walls["traced"])
                    res = job("warm", traced)
                    if res is None:
                        break
                    walls["traced" if traced else "untraced"].append(res["wall_s"])
                    warm.append(res)
            attempted += 1
            errors = wl.check(off) if warm else ["no warm job completed"]
            for e in errors:
                print(f"perfbench: {e}", file=sys.stderr)
            failed += bool(errors)
            ctx["plan"] = wl.plan
            ctx["job_walls_s"] = walls
            ctx["job_cpu_s"] = [r["cpu_s"] for r in warm]
            ctx["cold_job_s"] = cold and cold["wall_s"]
            layers = {}
            if trace and warm:
                attempted += 1
                layers, errors = wl.layers(tracer, warm[-1])
                for e in errors:
                    print(f"perfbench: {e}", file=sys.stderr)
                failed += bool(errors)
            ctx["checks"] = wl.checks
        finally:
            _stop(spark)
    cpu1 = cpu_steal()
    ctx["steal_frac"] = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
    if not warm:
        return ctx, {}, attempted, failed

    job_s = statistics.median(walls["untraced"])
    if not trace:
        # untraced run: every warm job is untraced
        job_cpu_s = statistics.median(r["cpu_s"] for r in warm)
        metrics = {
            "setup_s": setup_cpu,
            "cold_job_cpu_s": cold["cpu_s"],
            "job_cpu_s": job_cpu_s,
            "rows_per_cpu_s": warm[-1]["rows"] / job_cpu_s,
            "out_bytes": statistics.median(r["out_bytes"] for r in warm),
        }
        return ctx, {k: {"value": metrics[k], "unit": u} for k, u in end_to_end.items()}, \
            attempted, failed

    m = {k: 0.0 for k in per_layer}
    m.update(layers)
    m["session.start_s"] = session_wall
    m["wall.setup_s"] = setup_wall
    m["fixtures.gen_s"] = statistics.median(p["fixtures.gen_s"] for p in parts)
    m["trace.overhead_s"] = statistics.median(walls["traced"]) - job_s
    m["wall.job_s"] = job_s
    m["wall.cold_job_s"] = cold["wall_s"]
    m["exec.peak_pss_mb"] = statistics.median(r["pss_bytes"] for r in warm) / 2**20
    if wl.plan:
        m["joins.exchanges"] = wl.plan["exchanges"]
    _event_log_metrics(tracer, traced_roots, os.path.join(run_dir, "eventlog"), m)
    if args.workload == "raster_tiles":
        m["raster.overview_s"] = _span_median(tracer, traced_roots, "raster.overview_tiles")
        m["etl.write_s"] = _span_median(tracer, traced_roots, "etl.write_table")
    trace_dir = os.path.join(os.path.dirname(run_dir), "trace")
    os.makedirs(trace_dir, exist_ok=True)
    spans_path = os.path.join(trace_dir, os.path.basename(run_dir) + ".spans.json")
    tracer.write(spans_path)
    ctx["spans"] = os.path.relpath(spans_path, root)
    return ctx, {k: {"value": m[k], "unit": u} for k, u in per_layer.items()}, \
        attempted, failed


def _children(tracer, root: dict, name: str) -> list[dict]:
    return [s for s in tracer.descendants(root) if s["name"] == name]


def _span_median(tracer, roots: list[dict], name: str) -> float:
    return statistics.median(
        sum(s["end"] - s["start"] for s in _children(tracer, r, name)) for r in roots)


def _event_log_metrics(tracer, roots: list[dict], log_dir: str, m: dict) -> None:
    """Stage metrics of each traced warm job from the event log; the
    median over those jobs is reported."""
    import tracing

    log = tracing.read_event_log(log_dir)
    per_job = []
    for r in roots:
        groups = {tracer.group_of(s) for s in tracer.descendants(r)}
        sm = tracing.stage_metrics(log, groups)
        base = _children(tracer, r, "raster.cut_base_tiles")
        if base:
            frag = mosaic = 0.0
            gs = {tracer.group_of(s) for b in base for s in tracer.descendants(b)}
            for sid, g in log["groups"].items():
                st = log["stages"].get(sid)
                if g in gs and st and st["tasks"]:
                    if any(t["sh_write"] for t in st["tasks"]):
                        frag += st.get("wall_s", 0.0)
                    else:
                        mosaic += st.get("wall_s", 0.0)
            sm["fragment_s"], sm["mosaic_s"] = frag, mosaic
        per_job.append(sm)

    def med(k):
        return statistics.median(j[k] for j in per_job)

    m.update({
        "arrow.bytes_to_python": med("py_sent"),
        "arrow.bytes_from_python": med("py_recv"),
        "shuffle.write_bytes": med("write_bytes"),
        "shuffle.read_bytes": med("read_bytes"),
        "shuffle.fetch_wait_s": med("fetch_wait_s"),
        "shuffle.spill_bytes": med("spill_bytes"),
        "shuffle.task_skew": med("task_skew"),
        "exec.run_s": med("run_s"),
        "exec.cpu_s": med("cpu_s"),
        "exec.gc_s": med("gc_s"),
        "exec.tasks_failed": sum(
            t["failed"] for st in log["stages"].values() for t in st["tasks"]),
    })
    if "fragment_s" in per_job[0]:
        m["raster.fragment_s"] = med("fragment_s")
        m["raster.mosaic_s"] = med("mosaic_s")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gdal_scripts_spark", "__init__.py")):
        print("perfbench: gdal_scripts_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    out_root = os.path.join(root, ".perfbench_out")
    run_dir = os.path.join(
        out_root, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare(root, run_dir)
    try:
        ctx, metrics, attempted, failed = run(args, root, run_dir)
    finally:
        for d in ("tmp", "work", "warehouse", "eventlog"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        if os.path.isdir(run_dir) and not os.listdir(run_dir):
            os.rmdir(run_dir)
    print(json.dumps(ctx, default=str))
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
