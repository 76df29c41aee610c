"""Measurement from outside the program: spans around the benchmark's
own calls into each layer, Spark's event log folded into per-layer
totals, delta_lite commit statistics read from ``_delta_log``, process-
tree RSS and co-tenant CPU sampled from ``/proc``."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end, parent span id, run id. A
    disabled tracer records nothing, so untraced runs pay one branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({
                "id": sid, "name": name, "start": t0,
                "end": time.perf_counter(), "parent": parent,
                "run": self.run_id,
            })

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ------------------------------------------------------------ event log

_PY_SENT = "data sent to Python workers"
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    _PY_SENT: "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of output rows": "python.rows_returned",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_python_accumulators(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Accumulator id -> (metric, scale) for every Python-worker node of
    a SQL plan tree (the nodes carrying "data sent to Python workers")."""
    metrics = plan.get("metrics") or []
    if any(m.get("name") == _PY_SENT for m in metrics):
        for m in metrics:
            name = _PY_METRICS.get(m.get("name"))
            if name is not None:
                out[int(m["accumulatorId"])] = (
                    name, _TIME_SCALE.get(m.get("metricType"), 1.0)
                )
    for child in plan.get("children") or []:
        _plan_python_accumulators(child, out)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    busy, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        busy += hi - max(lo, end)
        end = hi
    return busy


def fold_event_log(log_dir: str, group_prefix: str) -> dict:
    """Totals over every job whose job group starts with
    ``group_prefix``: stage busy time (union of stage intervals), task
    metrics, and the Python-worker SQL metrics of the plans they ran."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    py_acc: dict[int, tuple[str, float]] = {}
    stage_of_interest: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(group_prefix):
                stage_of_interest.update(ev.get("Stage IDs") or [])
        elif "sparkPlanInfo" in ev:  # SQL execution start / AQE update
            _plan_python_accumulators(ev["sparkPlanInfo"], py_acc)

    out = {k: 0.0 for k in (
        "exec.stage_busy_s", "exec.task_s", "exec.cpu_s", "exec.gc_s",
        "exec.input_bytes", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.fetch_wait_s", "exec.spill_bytes",
        "exec.peak_exec_mem_bytes", "exec.failed_tasks", "driver.stages",
        "driver.tasks", *_PY_METRICS.values(),
    )}
    intervals: list[tuple[float, float]] = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] not in stage_of_interest:
                continue
            out["driver.stages"] += 1
            if "Submission Time" in info and "Completion Time" in info:
                intervals.append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_of_interest:
                continue
            out["driver.tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                out["exec.failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            out["exec.task_s"] += m.get("Executor Run Time", 0) / 1e3
            out["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            out["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            out["exec.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            out["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["exec.peak_exec_mem_bytes"] = max(
                out["exec.peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                hit = py_acc.get(int(acc.get("ID", -1)))
                if hit is not None and acc.get("Update") is not None:
                    out[hit[0]] += float(acc["Update"]) * hit[1]
    out["exec.stage_busy_s"] = _union_seconds(intervals)
    return out


# ------------------------------------------------------- delta_lite log


def delta_log_stats(table: str) -> dict:
    """Per-table totals from the commit files: commits, files and bytes
    added/removed, log bytes, and for the DML commits (MERGE, DELETE)
    the files they rewrote against the files live before them, and the
    rows they changed (``commitInfo.operationMetrics``)."""
    log_dir = os.path.join(table, "_delta_log")
    commits = sorted(glob.glob(os.path.join(log_dir, "*.json")))
    st = {"commits": 0, "files_added": 0, "files_removed": 0,
          "bytes_added": 0, "log_bytes": 0, "dml_bytes_added": 0,
          "dml_rows_changed": 0, "dml_files_rewritten": 0,
          "dml_files_live_before": 0}
    live: set[str] = set()
    for path in commits:
        st["commits"] += 1
        st["log_bytes"] += os.path.getsize(path)
        adds, removes, op, metrics = [], [], "", {}
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds.append(action["add"])
                elif "remove" in action:
                    removes.append(action["remove"])
                elif "commitInfo" in action:
                    op = action["commitInfo"].get("operation", "")
                    metrics = action["commitInfo"].get("operationMetrics") or {}
        added = sum(int(a.get("size") or 0) for a in adds)
        st["files_added"] += len(adds)
        st["files_removed"] += len(removes)
        st["bytes_added"] += added
        if op in ("MERGE", "DELETE"):
            st["dml_bytes_added"] += added
            st["dml_files_live_before"] += len(live)
            st["dml_files_rewritten"] += len(
                {r["path"] for r in removes} - {a["path"] for a in adds}
            )
            st["dml_rows_changed"] += sum(
                int(metrics.get(k) or 0) for k in (
                    "numTargetRowsUpdated", "numTargetRowsInserted",
                    "numTargetRowsDeleted", "numDeletedRows",
                )
            )
        live -= {r["path"] for r in removes}
        live |= {a["path"] for a in adds}
    return st


# ----------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, rss pages)."""
    procs = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as fh:
                s = fh.read()
        except OSError:
            continue  # raced with process exit
        rest = s[s.rindex(b")") + 2:].split()
        procs[int(p)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            int(rest[21]),
        )
    return procs


def _tree(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for q, (pp, _, _) in procs.items():
        kids.setdefault(pp, []).append(q)
    out, stack = [], [root]
    while stack:
        q = stack.pop()
        if q in procs:
            out.append(q)
            stack.extend(kids.get(q, []))
    return out


def _busy_jiffies() -> int:
    with open("/proc/stat") as fh:
        vals = list(map(int, fh.readline().split()[1:]))
    return sum(vals) - vals[3] - vals[4]  # minus idle and iowait


class TreeSampler:
    """Background sampler of the whole process tree (Python driver, JVM,
    Python workers): peak summed RSS, and external cores, i.e. busy CPU
    of the machine (hypervisor steal included) minus this tree's CPU per
    wall second, the reading that tells contention apart from self-load."""

    def __init__(self, interval: float = 0.2) -> None:
        self._interval = interval
        self._pid = os.getpid()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._hz = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0

    def tree_cpu_s(self) -> float:
        """CPU seconds of the process tree so far, reaped children
        included; time the hypervisor steals is not in it."""
        return self._tree_cpu_rss()[0] / self._hz

    def _tree_cpu_rss(self) -> tuple[int, int]:
        procs = _proc_table()
        members = _tree(procs, self._pid)
        return (sum(procs[q][1] for q in members),
                sum(procs[q][2] for q in members) * self._page)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.peak_rss = max(self.peak_rss, self._tree_cpu_rss()[1])

    def start(self) -> None:
        self.peak_rss = 0
        self._busy0 = _busy_jiffies()
        self._tree0 = self._tree_cpu_rss()[0]
        self._wall0 = time.perf_counter()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stops sampling; returns the window's external cores."""
        self._stop.set()
        self._thread.join(timeout=5)
        cpu, rss = self._tree_cpu_rss()
        self.peak_rss = max(self.peak_rss, rss)
        wall = max(time.perf_counter() - self._wall0, 1e-6)
        ext = (_busy_jiffies() - self._busy0) - (cpu - self._tree0)
        return max(ext / self._hz / wall, 0.0)
