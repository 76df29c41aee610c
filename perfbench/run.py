"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One closed-loop client: a single driver
process at ``local[4]`` runs one op after another. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries the
run's detail (input sizes, per-pass times, checks, contention).

Everything the run writes stays under ``.perfbench_work/`` in the
current directory: generated inputs (cached by seed and scale), Spark
local and warehouse dirs, the event log, and the trace spans.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

CORES = 4
SCALE = {
    "tpch_analytics": {"sf": 0.01},
    "llm_curation": {"base_docs": 1000, "base_vecs": 2000, "replicas": 5},
    "lcr_ingest": {"sf": 0.01, "base_rows": 1000, "batches": 1,
                   "batch_rows": 250},
}
GEN_VERSION = 3
KEEP_CACHED = 3


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _hermetic(root: str, work: str) -> None:
    """Point every writer at the run's own directories before the JVM
    starts, and let Python workers import the package from ``root``."""
    for d in ("tmp", "local", "warehouse", "derby", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _spark_conf(work: str, event_log: bool) -> dict[str, str]:
    # the event-log switch is always explicit: SparkSession.builder is one
    # object per process and keeps options across the run's sessions
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _inputs(cache: str, workload: str, seed: int) -> dict:
    """Generated inputs for (workload, seed, scale), built once and
    reused; older cache entries beyond KEEP_CACHED are dropped."""
    from perfbench import gen

    scale = SCALE[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(scale.items()))
    out = os.path.join(cache, f"{workload}-v{GEN_VERSION}-s{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "tpch_analytics":
            rows = gen.gen_tpch(out, seed, scale["sf"])
            meta = {"rows": rows}
        elif workload == "llm_curation":
            rows = gen.gen_llm(out, seed, scale["base_docs"], scale["base_vecs"],
                               scale["replicas"])
            meta = {"rows": rows, "replicas": scale["replicas"]}
        else:
            from lcr_etl_upgrade_spark.schemas import LEAD

            orders = os.path.join(out, "orders")
            gen.gen_tpch(orders, seed, scale["sf"])
            rows = gen.gen_leads(out, seed, f"{orders}/orders.parquet",
                                 scale["base_rows"], scale["batches"],
                                 scale["batch_rows"], list(LEAD.mapping))
            shutil.rmtree(orders)
            meta = {"rows": rows}
        meta["gen_s"] = time.perf_counter() - t0
        meta["bytes"] = {
            os.path.relpath(os.path.join(dp, f), out): os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
        }
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)
    entries = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    os.utime(out)
    for old in entries[KEEP_CACHED:]:
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["dir"] = out
    return meta


class Runner:
    """Sessions, passes and checks of one run."""

    def __init__(self, workload, work: str, run_id: str) -> None:
        self.workload = workload
        self.work = work
        self.run_id = run_id
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.results: dict = {}

    def session(self, event_log: bool):
        from lcr_etl_upgrade_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
            extra_conf=_spark_conf(self.work, event_log),
        )
        return self.spark

    def one_pass(self, tracer, tag: str):
        from perfbench.workloads import PassContext

        ctx = PassContext(self.spark, tracer, tag, self.work, self.results)
        t0 = time.perf_counter()
        with tracer.span("pass"):
            self.workload.run_pass(ctx)
        ctx.wall = time.perf_counter() - t0
        self.attempted += ctx.attempted
        self.failed += ctx.failed
        return ctx

    def passes(self, tracer, seconds: float, prefix: str) -> list:
        """Whole passes until ``seconds`` have elapsed (at least one); each
        collects the query results the checks compare."""
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass(tracer, f"{self.run_id}-{prefix}{len(out)}"))
        return out

    def check(self) -> list[dict]:
        self.spark.sparkContext.setJobGroup(f"{self.run_id}-check", "check")
        try:
            checks = self.workload.check(self.spark, self.results)
        except Exception as exc:  # noqa: BLE001 - a crashed check is a failed check
            import traceback

            traceback.print_exc(file=sys.stderr)
            checks = [{"op": "check", "ok": False, "error": repr(exc)}]
        self.failed += sum(1 for c in checks if not c["ok"])
        return checks


def _become_subreaper() -> None:
    """Orphaned descendants (Python workers of the JVM) are re-parented
    to this process instead of init, so ``_stop_processes`` can reap
    them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _stop_processes(timeout: float = 60.0) -> None:
    """Ends the gateway JVM and waits until it and every process under it
    have ended and been reaped. Left alone, the JVM outlives this process
    by a moment and is then left for init to reap."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.close()  # this side's connections only
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits on end of file on its standard input
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left, so no descendants either
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in os.listdir("/proc"):
                if p.isdigit() and _ppid(int(p)) == os.getpid():
                    with contextlib.suppress(OSError):
                        os.kill(int(p), signal.SIGKILL)
        time.sleep(0.05)


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            s = fh.read()
    except OSError:
        return -1
    return int(s[s.rindex(b")") + 2:].split()[1])


def _median(values):
    return statistics.median(values) if values else 0.0


def app_run(runner: Runner, tracer, seconds: float, prefix: str) -> dict:
    """One application run as a scheduled batch job sees it: the session
    start is the set-up, the first pass on the fresh session the work.
    Times are kept twice: wall time, and CPU seconds of the process tree,
    which the hypervisor's steal on a shared host does not inflate."""
    from perfbench.probes import TreeSampler

    sampler = TreeSampler()
    c0, t0 = sampler.tree_cpu_s(), time.perf_counter()
    runner.session(event_log=tracer.enabled)
    setup_wall = time.perf_counter() - t0
    c1 = sampler.tree_cpu_s()
    sampler.start()
    passes = runner.passes(tracer, seconds, prefix)
    ext_cores = sampler.stop()
    first = passes[0]
    return {
        "passes": passes,
        "setup_cpu_s": c1 - c0,
        "setup_wall_s": setup_wall,
        "cpu_s": sampler.tree_cpu_s() - c1,
        "wall_s": first.wall,
        "rows_per_s": runner.workload.input_rows / first.wall,
        "batch_p50_s": _median(first.batches or list(first.ops.values())),
        "peak_rss_mb": sampler.peak_rss / 2**20,
        "ext_cores": ext_cores,
    }


def _run_detail(run: dict, detail: dict) -> None:
    detail.update({k: v for k, v in run.items() if k != "passes"})
    detail["pass_wall_s"] = [p.wall for p in run["passes"]]
    detail["op_s"] = run["passes"][0].ops


def end_to_end(runner: Runner, seconds: float, detail: dict) -> dict:
    from perfbench.probes import Tracer

    run = app_run(runner, Tracer(runner.run_id, enabled=False), seconds, "pass")
    _run_detail(run, detail)
    return {
        "setup_s": (run["setup_cpu_s"], "s"),
        "cpu_s": (run["cpu_s"], "s"),
    }


def _log_overhead_s(runner: Runner, jobs: int = 30) -> float:
    """Wall time the event log adds to one small job: the fastest job on a
    session with the log on minus the fastest with it off (the fastest is
    the one host contention delayed least)."""
    best = {}
    for on in (False, True):
        spark = runner.session(event_log=on)
        walls = []
        for _ in range(jobs):
            t0 = time.perf_counter()
            spark.range(1000).selectExpr("sum(id)").collect()
            walls.append(time.perf_counter() - t0)
        best[on] = min(walls)
    return best[True] - best[False]


def per_layer(runner: Runner, seconds: float, detail: dict) -> dict:
    """The same application run with the event log on and spans recorded;
    then the event log's cost per job, for the tracing overhead."""
    from perfbench.probes import Tracer, fold_event_log

    tracer = Tracer(runner.run_id, enabled=True)
    run = app_run(runner, tracer, seconds, "traced")
    _run_detail(run, detail)
    traced = run["passes"]
    n = len(traced)
    per_pass = lambda v: v / n  # noqa: E731

    log_dir = os.path.join(runner.work, "eventlog")
    ev = fold_event_log(log_dir, f"{runner.run_id}-traced")
    m: dict[str, tuple[float, str]] = {
        "pass.wall_s": (run["wall_s"], "s"),
        "pass.rows_per_s": (run["rows_per_s"], "rows/s"),
        "pass.batch_p50_s": (run["batch_p50_s"], "s"),
        "pass.peak_rss_mb": (run["peak_rss_mb"], "MB"),
        "session.start_s": (run["setup_wall_s"], "s"),
    }
    jobs = per_pass(sum(p.jobs for p in traced))
    per_job = _log_overhead_s(runner)
    m["trace.overhead_s"] = (per_job * jobs, "s")
    m["plans.build_s"] = (per_pass(tracer.total("plans.build")), "s")
    m["driver.jobs"] = (jobs, "count")
    m["driver.stages"] = (per_pass(ev["driver.stages"]), "count")
    m["driver.tasks"] = (per_pass(ev["driver.tasks"]), "count")
    m["driver.idle_s"] = (
        per_pass(sum(p.wall for p in traced) - ev["exec.stage_busy_s"]), "s")
    units = {"bytes": "bytes", "tasks": "count", "rows": "count"}
    for k, v in ev.items():
        if k.startswith(("exec.", "python.")):
            unit = next((u for s, u in units.items() if s in k), "s")
            m[k] = (v if k == "exec.peak_exec_mem_bytes" else per_pass(v), unit)

    counters: dict[str, float] = {}
    for p in traced:
        for k, v in p.counters.items():
            counters[k] = counters.get(k, 0.0) + v
    m["sync.sync_table_s"] = (per_pass(tracer.total("sync.sync_table")), "s")
    m["sync.reconciled_ratio"] = (
        counters.get("sync.reconciled", 0) / max(counters.get("sync.tables", 0), 1),
        "ratio")
    m["pipeline.transform_table_s"] = (
        per_pass(tracer.total("pipeline.transform_table")), "s")
    m["incremental.selected_ratio"] = (
        counters.get("incremental.selected", 0)
        / max(counters.get("incremental.scanned", 0), 1), "ratio")
    for cmd in ("merge_rows", "write", "read", "replay_log"):
        m[f"delta_lite.{cmd}_s"] = (per_pass(tracer.total(f"delta_lite.{cmd}")), "s")

    tables = runner.workload.table_stats()
    tot = {k: sum(t[k] for t in tables.values()) for k in (
        "commits", "files_added", "files_removed", "bytes_added", "log_bytes")}
    for k, v in tot.items():
        m[f"delta_lite.{k}"] = (float(v), "bytes" if "bytes" in k else "count")
    stg = tables.get("stg")
    changed_bytes = 0.0
    if stg and stg["dml_rows_changed"]:
        rows = runner.workload.input_rows
        raw_bytes = tables["raw"]["bytes_added"]
        changed_bytes = stg["dml_rows_changed"] * raw_bytes / max(rows, 1)
    m["delta_lite.write_amp"] = (
        stg["dml_bytes_added"] / changed_bytes if changed_bytes else 0.0, "ratio")
    m["delta_lite.touched_ratio"] = (
        stg["dml_files_rewritten"] / stg["dml_files_live_before"]
        if stg and stg["dml_files_live_before"] else 0.0, "ratio")

    from perfbench.workloads import LcrIngest, TpchAnalytics

    # every op metric BENCHMARK.json lists, so each traced run reports
    # the same keys; ops a workload does not run read 0
    ops = TpchAnalytics.ops + LcrIngest.ops + runner.workload.ops
    for name in dict.fromkeys(ops):
        m[f"op.{name}_s"] = (
            per_pass(sum(p.ops.get(name, 0.0) for p in traced)), "s")
    tracer.dump(os.path.join(runner.work, "..", f"trace-{runner.workload.name}.json"))
    detail.update({"traced_passes": n, "log_overhead_per_job_s": per_job,
                   "delta_tables": tables, "spans": len(tracer.spans)})
    return m


def main() -> int:
    args = _parse()
    root = os.getcwd()
    base = os.path.join(root, ".perfbench_work")
    run_id = f"r{os.getpid()}"
    work = os.path.join(base, run_id)
    sys.path.insert(0, root)
    try:
        import lcr_etl_upgrade_spark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    _hermetic(root, work)
    _become_subreaper()
    # a terminated run still takes the ``finally`` path that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(base, "cache"), exist_ok=True)
    runner = None
    try:
        t_start = time.perf_counter()
        data = _inputs(os.path.join(base, "cache"), args.workload, args.seed)
        t_inputs = time.perf_counter()
        workload = WORKLOADS[args.workload](data)
        runner = Runner(workload, work, run_id)
        detail = {"workload": args.workload, "seed": args.seed, "cores": CORES,
                  "inputs": {"rows": data["rows"], "bytes": data["bytes"]},
                  "load_avg_start": os.getloadavg()[0]}
        if args.trace:
            metrics = per_layer(runner, args.seconds, detail)
        else:
            metrics = end_to_end(runner, args.seconds, detail)
        t_measured = time.perf_counter()
        checks = runner.check()
        detail["phase_s"] = {
            "inputs": t_inputs - t_start,
            "measure": t_measured - t_inputs,
            "check": time.perf_counter() - t_measured,
        }
        detail["checks"] = checks
        attempted, failed = runner.attempted, runner.failed
        if not args.trace:
            metrics["op_success_ratio"] = (1.0 - failed / max(attempted, 1), "ratio")
    finally:
        try:
            if runner is not None and runner.spark is not None:
                runner.spark.stop()
        finally:
            _stop_processes()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
