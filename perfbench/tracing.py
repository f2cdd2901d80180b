"""Measurement plumbing: spans, Spark event-log stage metrics, plan counts,
and the CPU seconds and peak PSS of the benchmark's process tree.

Everything here lives in the benchmark, outside the package: spans wrap the
benchmark's own calls into ``gdal_scripts_spark`` modules, and per-stage
metrics come from Spark's event log, turned on only for a traced run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time


def timed(fn):
    """``(seconds, fn())``."""
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def measured(fn):
    """``(wall seconds, process-tree CPU seconds, fn())``."""
    c0 = tree_cpu_s()
    wall, out = timed(fn)
    return wall, tree_cpu_s() - c0, out


class Tracer:
    """In-memory spans ``(run, id, parent, name, start, end)``.

    While a span is open, its id is the Spark job group of the calling
    thread, so every stage Spark runs inside it maps back to the span. A
    disabled tracer records nothing and sets no job group: the untraced
    jobs run the same code with it.
    """

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_of(sp), sp["name"])

    def group_of(self, sp: dict) -> str:
        return f"{self.run_id}:{sp['id']}"

    def descendants(self, sp: dict) -> list[dict]:
        """``sp`` and every span below it."""
        out, todo = [], [sp["id"]]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(s["id"] for s in self.spans if s["parent"] == i)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this process
    and its live descendants: the Spark driver, the JVM, its Python workers."""
    stats, children = {}, {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(path.split("/")[2])
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats and stats[pid][0] != "Z":
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, children that have
    exited and been reaped included."""
    return sum(sum(int(v) for v in f[11:15]) for f in _process_tree().values()) / _TICK


def tree_alive() -> list[int]:
    """Pids of this process's live descendants."""
    return [p for p in _process_tree() if p != os.getpid()]


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak proportional set size (PSS) of the process tree, sampled on a
    daemon thread; ``window_peak`` is the peak since the last ``start_window``.
    PSS splits a shared page among the processes mapping it, so the
    libraries every forked Python worker maps count once and the total does
    not grow with the number of idle workers.

    Sampling runs in the Spark driver process and its CPU time lands in
    ``tree_cpu_s``, so a disabled sampler (every untraced run) starts no
    thread and reads nothing."""

    def __init__(self, enabled: bool = True, interval_s: float = 0.1):
        self.enabled = enabled
        self.interval_s = interval_s
        self.window_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self._stop.set()
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start_window(self) -> None:
        self.window_peak = 0
        self.sample()

    def sample(self) -> None:
        if self.enabled:
            self.window_peak = max(self.window_peak, sum(map(_pss_bytes, _process_tree())))


# ---------------------------------------------------------------------------
# executed-plan counts
# ---------------------------------------------------------------------------

_JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
_EXCHANGE_NODES = ("Exchange", "BroadcastExchange", "ReusedExchange")
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)")


def plan_counts(df) -> dict:
    """Exchanges and join strategies of ``df``'s executed (final, after AQE)
    physical plan. Call after an action on ``df`` has run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    nodes = [m.group(1) for m in map(_NODE.match, plan.toString().splitlines()) if m]
    return {
        "exchanges": sum(n in _EXCHANGE_NODES for n in nodes),
        "joins": {j: nodes.count(j) for j in _JOIN_NODES if j in nodes},
    }


# ---------------------------------------------------------------------------
# event log -> per-span stage metrics
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed) event log(s) in ``log_dir`` into
    ``{"groups": {stage_id: job_group}, "stages": {stage_id: {...}}}``
    with per-stage task lists and wall times."""
    groups: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", ()):
                        groups[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"tasks": []})
                    st["tasks"].append(_task_row(ev))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"tasks": []})
                    st["wall_s"] = (info.get("Completion Time", 0)
                                    - info.get("Submission Time", 0)) / 1e3
    return {"groups": groups, "stages": stages}


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", ())}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "sh_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_ms": sr.get("Fetch Wait Time", 0),
        "sh_write": sw.get("Shuffle Bytes Written", 0),
        "py_sent": int(acc.get(_PY_SENT) or 0),
        "py_recv": int(acc.get(_PY_RECV) or 0),
        "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
    }


def stage_metrics(log: dict, groups: set[str]) -> dict:
    """Stage metrics summed over every stage whose job group is in
    ``groups``; ``task_skew`` is slowest / median task run time of the stage
    with the most tasks."""
    sel = [log["stages"][s] for s, g in log["groups"].items()
           if g in groups and s in log["stages"]]
    tasks = [t for st in sel for t in st["tasks"]]

    def tot(k):
        return sum(t[k] for t in tasks)

    skew = 1.0
    if sel:
        widest = max(sel, key=lambda st: len(st["tasks"]))
        runs = [t["run_ms"] for t in widest["tasks"]]
        med = statistics.median(runs) if runs else 0
        skew = max(runs) / med if med > 0 else 1.0
    return {
        "run_s": tot("run_ms") / 1e3,
        "cpu_s": tot("cpu_ns") / 1e9,
        "gc_s": tot("gc_ms") / 1e3,
        "spill_bytes": tot("spill"),
        "read_bytes": tot("sh_read"),
        "write_bytes": tot("sh_write"),
        "fetch_wait_s": tot("fetch_ms") / 1e3,
        "py_sent": tot("py_sent"),
        "py_recv": tot("py_recv"),
        "tasks_failed": sum(t["failed"] for t in tasks),
        "task_skew": skew,
    }
