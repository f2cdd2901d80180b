"""Smoke test of the benchmark at tiny sizes: every metric named in
``BENCHMARK.json`` is emitted with its unit, every output check runs and
passes, a traced run writes linked spans, and a directory without the
package is refused. Run from the repository root (a few minutes on 4
cores; each run starts its own Spark session):

    python3 -m pytest -q perfbench/smoke.py

The file is not named ``test_*.py``, so a plain ``pytest`` from the
repository root does not collect it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

RESUME_CHECKS = {"shuffle_join_resume.repeat", "shuffle_join_resume.s2_vs_broadcast",
                 "shuffle_join_resume.units_rerun", "shuffle_join_resume.resume_vs_scratch"}
CHECKS = {
    ("broadcast_join", 0): {"broadcast_join.repeat", "broadcast_join.sample_pairs",
                            "broadcast_join.sample_tile_keys"},
    ("raster_tiles", 0): {"raster_tiles.repeat", "raster_tiles.burn_totals"},
}
CHECKS[("broadcast_join", 1)] = CHECKS[("broadcast_join", 0)] | RESUME_CHECKS
CHECKS[("raster_tiles", 1)] = CHECKS[("raster_tiles", 0)] | {"raster_tiles.polygonize_totals"}

# per-layer counts that must be non-zero where the layer is used
USED = {
    "broadcast_join": ["joins.pairs", "joins.candidates", "joins.exchanges",
                       "arrow.bytes_from_python", "s2.region_cells", "checkpoint.units_run",
                       "checkpoint.resume_s", "exec.run_s", "exec.peak_pss_mb"],
    "raster_tiles": ["raster.tiles", "raster.fragment_s", "raster.mosaic_s",
                     "rasterize.fragments", "polygonize.components", "zonal.pixels_tested",
                     "etl.bytes_written", "shuffle.write_bytes", "codecs.png_bytes_per_px"],
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.01"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["broadcast_join", "raster_tiles"])
def test_metrics_and_checks(workload: str, trace: int):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    ctx, res = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    assert CHECKS[(workload, trace)] <= set(ctx["checks"])
    assert {"seed", "sizes", "nproc", "versions", "control_unit_s", "plan"} <= set(ctx)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    for name in USED[workload]:
        assert res["metrics"][name]["value"] > 0, name
    with open(os.path.join(ROOT, ctx["spans"])) as f:
        spans = json.load(f)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] in ids for s in spans if s["parent"] is not None)
    assert any(s["parent"] is not None for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)


def test_refuses_without_package():
    bare = os.path.join(ROOT, ".perfbench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(bare, "broadcast_join", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
