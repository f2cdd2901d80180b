#!/usr/bin/env python
"""N vs 4N EXECUTORS on a real Spark standalone cluster — the north rule's
deployment shape, run end-to-end inside this box.

Every earlier scaling number in BENCH/BASELINE.md is a local[8]-vs-local[32]
stand-in: ONE JVM growing its thread pool, so the 4N arm inherits
single-JVM artifacts a real cluster does not have (one shared heap + GC,
one task-result pipe, intra-process shuffle). This bench removes the
stand-in: a standalone master + one 32-core worker run as daemons, and the
SAME job (tools/cluster_job.py, the headline assign + salted_join pair) is
submitted via ``spark-submit --py-files gdal_scripts_spark.zip`` twice —

  N  = --executor-cores 8  --conf spark.cores.max=8   -> 1 executor JVM
  4N = --executor-cores 8  --conf spark.cores.max=32  -> 4 executor JVMs

Each executor is its own JVM with its own heap, GC, and Python workers;
per-executor memory is CONSTANT across arms (total memory scales with
executor count, as on a real cluster); the salted join's shuffle crosses
executor processes through the block manager's netty path. Arms are
interleaved (N, 4N, N, 4N), fresh driver+executors per submit,
min-of-trials per arm, with the standard no-Spark control unit per trial.

Writes BENCH/standalone_cluster_r5.json.
Usage: python tools/bench_standalone_r5.py [n_assign] [n_join]
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.path.join(
    os.path.dirname(os.__file__), "site-packages", "pyspark"
)
MASTER = "spark://127.0.0.1:7077"
N_ASSIGN = int(sys.argv[1]) if len(sys.argv) > 1 else 2_400_000_000
N_JOIN = int(sys.argv[2]) if len(sys.argv) > 2 else 12_000_000


def ensure_cluster() -> None:
    """Idempotently start the standalone master + one 32-core worker as
    daemons (survives across submits; left running on exit)."""
    import urllib.request

    def master_alive() -> bool:
        try:
            urllib.request.urlopen("http://127.0.0.1:8091", timeout=3)
            return True
        except Exception:
            return False

    env = dict(
        os.environ,
        SPARK_HOME=SPARK_HOME,
        SPARK_LOG_DIR="/tmp/spark-standalone-logs",
        SPARK_PID_DIR="/tmp/spark-standalone-pids",
        PYTHONPATH=REPO,
    )
    os.makedirs("/tmp/spark-standalone-logs", exist_ok=True)
    spark_class = os.path.join(SPARK_HOME, "bin", "spark-class")
    if not master_alive():
        subprocess.Popen(
            [spark_class, "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7077",
             "--webui-port", "8091"],
            env=env,
            stdout=open("/tmp/spark-master.log", "ab"),
            stderr=subprocess.STDOUT,
        )
        time.sleep(8)
        subprocess.Popen(
            [spark_class, "org.apache.spark.deploy.worker.Worker", MASTER,
             "--cores", "32", "--memory", "96g", "--webui-port", "8092"],
            env=env,
            stdout=open("/tmp/spark-worker.log", "ab"),
            stderr=subprocess.STDOUT,
        )
        time.sleep(8)


def submit(cores_max: int, trials: int = 2) -> dict:
    """One spark-submit at the given total-core cap (8 -> 1 executor,
    32 -> 4 executors at --executor-cores 8)."""
    zip_path = "/tmp/gdal_scripts_spark.zip"
    subprocess.run(
        ["zip", "-qrFS", zip_path, "gdal_scripts_spark"], cwd=REPO, check=True
    )
    conf = [
        "--master", MASTER,
        "--deploy-mode", "client",
        "--executor-cores", "8",
        "--executor-memory", "12g",
        "--driver-memory", "8g",
        "--conf", f"spark.cores.max={cores_max}",
        "--conf", f"spark.sql.shuffle.partitions={2 * cores_max}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--py-files", zip_path,
    ]
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-graft-standalone"
        os.makedirs(shm, exist_ok=True)
        # tmpfs + no-compress stand-in for the local runs: a single-node
        # host's ONE disk is an artifact a real cluster doesn't share; executor
        # local dirs are set through the WORKER env at daemon start, so
        # here it only affects the driver — harmless either way
        conf += ["--conf", f"spark.local.dir={shm}",
                 "--conf", "spark.shuffle.compress=false",
                 "--conf", "spark.shuffle.spill.compress=false"]
    out = subprocess.run(
        [os.path.join(SPARK_HOME, "bin", "spark-submit"), *conf,
         os.path.join(REPO, "tools", "cluster_job.py"),
         str(N_ASSIGN), str(N_JOIN), str(trials)],
        capture_output=True, text=True, timeout=2400,
        env=dict(os.environ, SPARK_HOME=SPARK_HOME),
    )
    lines = [
        l for l in out.stdout.replace("\r", "\n").splitlines()
        if l.startswith("{")
    ]
    if not lines:
        raise RuntimeError(
            f"submit cores_max={cores_max} produced no JSON:\n"
            f"{out.stderr[-3000:]}"
        )
    return json.loads(lines[-1])


def main() -> None:
    ensure_cluster()
    blocks = []
    for cores_max in (8, 32, 8, 32):
        b = submit(cores_max)
        b["cores_max"] = cores_max
        blocks.append(b)
        print(json.dumps(b), flush=True)

    def arm(cm, wl):
        return [w for b in blocks if b["cores_max"] == cm
                for w in b["walls"][wl]]

    res = {
        "shape": ("spark-submit --py-files on a standalone cluster: "
                  "N = 1 executor x 8 cores, 4N = 4 executors x 8 cores, "
                  "separate JVM + heap + GC + Python workers per executor, "
                  "inter-executor netty shuffle; per-executor memory "
                  "constant (12g) so total memory scales with executors"),
        "ns": blocks[0]["ns"],
        "controls": [c for b in blocks for c in b["control"]],
        "workloads": {},
    }
    for wl in ("assign", "salted_join"):
        w8, w32 = arm(8, wl), arm(32, wl)
        res["workloads"][wl] = {
            "wall_1exec": min(w8), "wall_4exec": min(w32),
            "walls_1exec": w8, "walls_4exec": w32,
            "rows_per_s_4exec": round(res["ns"][wl] / min(w32), 1),
            "efficiency": round((min(w8) / min(w32)) / 4.0, 3),
        }
    h8 = min(arm(8, "assign")) + min(arm(8, "salted_join"))
    h32 = min(arm(32, "assign")) + min(arm(32, "salted_join"))
    res["headline_efficiency"] = round((h8 / h32) / 4.0, 3)
    with open(os.path.join(REPO, "BENCH", "standalone_cluster_r5.json"),
              "w") as f:
        json.dump(res, f, indent=2)
    print(json.dumps({"headline_efficiency": res["headline_efficiency"],
                      "per_workload": {
                          wl: res["workloads"][wl]["efficiency"]
                          for wl in res["workloads"]}}))


if __name__ == "__main__":
    main()
