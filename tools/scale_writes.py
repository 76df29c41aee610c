#!/usr/bin/env python
"""Measured scale points for the delta_lite write commands (round 12,
verdict ask #2 — the r11 UPDATE/VACUUM additions shipped with
proportionality ARGUMENTS; the house standard is measured. MERGE is
measured in the same run since it landed this round).

What is measured, all on local[$SPARK_GRAFT_CPUS] (default 32), fresh
table copy per run, best-of-N alternating configs, load-gated like
bench.py:

  update_rows on a 5M-row / 32-file table at TWO selectivities
    (~1% and ~50% matched), CDF off and on. The SCALE.md claim under
    test: cost tracks TOUCHED files and change volume tracks MATCHED
    rows — at 1% selectivity with 32 uniformly-spread files every file
    is touched (uniform keys are the worst case for file pruning), so
    the comparison that matters is CDF overhead vs matched volume:
    the +CDF delta at 1% must be far below the +CDF delta at 50%.
  update_rows on a CLUSTERED layout (same 5M rows range-partitioned on
    id) at ~3% selectivity via a RANGE predicate — the 100 TB shape:
    only ~1/32 of files contain matches, so cost must drop
    proportionally vs the uniform-key table.
  merge_rows upsert-shaped (50% of a 250k-row source updates, 50%
    inserts), CDF off/on: one match pass + touched rewrites + insert
    append in ONE commit.
  delete_rows at ~1% selectivity, CDF off and on: deletion vectors on
    every file plus (with CDF) the delete change rows, in ONE scan.
  the deletion-vector paths on two more layouts: a row-tracked table
    hive-partitioned 8 ways (32 files whose part-file names repeat
    across partition directories) under a 1% DV update and a 1%
    delete spanning every partition, CDF off and on; and a table
    whose every file already carries a deletion vector under a 1% DV
    update (CDF off and on) and a 1% DV merge, so the new masks union
    with the old.
  vacuum(retain_hours=1) with ~64 and ~512 expired files (appends
    backdated past the horizon, then overwritten dead): wall-time must
    scale with the file count at unlink cost, never opening data.

Output: one JSON artifact (default BENCH_writes_r12.json) with
per-config best/spread, touched-file, deletion-vector, added-byte and
change-row counts, plus the Spark jobs one command ran.

Usage: python tools/scale_writes.py [--reps 3] [--out BENCH_writes_r12.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

N_ROWS = 5_000_000
N_FILES = 32


IDLE_BAR = 1.0


def _gate(idle_bar: float = IDLE_BAR, max_wait: int = 300) -> float:
    waited = 0
    while os.getloadavg()[0] > idle_bar and waited < max_wait:
        time.sleep(5)
        waited += 5
    return round(os.getloadavg()[0], 2)


def _gated(rec: dict, key: str, fn, *a, **k) -> None:
    """Re-gate on the idle bar before EVERY config (r13, verdict ask
    #2: the r12 artifact gated once at start and the box degraded
    mid-run — merge spread hit 8.5x). The bench's own 32-core work
    inflates the 1-min load average, so between configs we wait for it
    to decay; what we must NOT start under is load we didn't create."""
    load = _gate()
    out = fn(*a, **k)
    out["load_at_start"] = load
    rec[key] = out
    print(key, out, flush=True)


def _build_template(spark, out: str, clustered: bool) -> None:
    from pyspark.sql import functions as F

    from lcr_etl_upgrade_spark.delta_lite import write_delta_lite

    df = spark.range(0, N_ROWS).select(
        "id",
        (F.col("id") % 997).alias("v"),
        F.sha1(F.col("id").cast("string")).alias("s"),
    )
    if clustered:
        df = df.repartitionByRange(N_FILES, "id")
    else:
        df = df.repartition(N_FILES)  # uniform keys in every file
    write_delta_lite(df, out)


def _enable_cdf(path: str) -> None:
    from pyspark.sql import SparkSession

    from lcr_etl_upgrade_spark.delta_lite import replay_log

    spark = SparkSession.getActiveSession()
    st = replay_log(spark, path)
    meta = dict(st.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.enableChangeDataFeed"] = "true"
    meta["configuration"] = cfg
    proto = st.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    feats = set(proto.get("writerFeatures") or ())
    feats |= {"changeDataFeed", "appendOnly", "invariants"}
    pact = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        **(
            {"readerFeatures": proto["readerFeatures"]}
            if proto.get("readerFeatures")
            else {}
        ),
        "writerFeatures": sorted(feats),
    }
    with open(
        os.path.join(path, "_delta_log", f"{st.version + 1:020d}.json"),
        "w",
    ) as fh:
        fh.write(json.dumps({"protocol": pact}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")


def _enable_dvs(path: str) -> None:
    """Flip delta.enableDeletionVectors=true (update_rows' DV-write
    gate, same as delta-spark's) via a config-only commit."""
    from pyspark.sql import SparkSession

    from lcr_etl_upgrade_spark.delta_lite import replay_log

    spark = SparkSession.getActiveSession()
    st = replay_log(spark, path)
    meta = dict(st.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.enableDeletionVectors"] = "true"
    meta["configuration"] = cfg
    proto = st.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    rfeats = set(proto.get("readerFeatures") or ())
    wfeats = set(proto.get("writerFeatures") or ())
    rfeats.add("deletionVectors")
    wfeats |= {"deletionVectors", "appendOnly", "invariants"}
    pact = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rfeats),
        "writerFeatures": sorted(wfeats),
    }
    with open(
        os.path.join(path, "_delta_log", f"{st.version + 1:020d}.json"),
        "w",
    ) as fh:
        fh.write(json.dumps({"protocol": pact}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")


def _enable_row_tracking(path: str) -> None:
    """List rowTracking (+ domainMetadata) in the protocol and set
    delta.enableRowTracking via a config-only commit; files written
    afterwards get baseRowId ranges."""
    from pyspark.sql import SparkSession

    from lcr_etl_upgrade_spark.delta_lite import replay_log

    spark = SparkSession.getActiveSession()
    st = replay_log(spark, path)
    meta = dict(st.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.enableRowTracking"] = "true"
    meta["configuration"] = cfg
    proto = st.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    feats = set(proto.get("writerFeatures") or ())
    feats |= {"rowTracking", "domainMetadata", "appendOnly", "invariants"}
    pact = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": sorted(feats),
    }
    with open(
        os.path.join(path, "_delta_log", f"{st.version + 1:020d}.json"),
        "w",
    ) as fh:
        fh.write(json.dumps({"protocol": pact}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")


def _build_partitioned_template(spark, out: str) -> None:
    """The row-tracked, 8-way hive-partitioned table: 4 write tasks
    each cover every partition, so each part-file name appears in all
    8 partition directories."""
    from pyspark.sql import functions as F

    from lcr_etl_upgrade_spark.delta_lite import write_delta_lite

    def rows(n):
        return spark.range(0, n).select(
            "id",
            (F.col("id") % 997).alias("v"),
            F.sha1(F.col("id").cast("string")).alias("s"),
            (F.col("id") % 8).cast("int").alias("p"),
        )

    write_delta_lite(rows(1), out, partition_by=("p",))
    _enable_row_tracking(out)
    write_delta_lite(
        rows(N_ROWS).repartition(4), out, mode="overwrite",
        partition_by=("p",),
    )


def _build_dv_template(spark, uniform: str, out: str) -> None:
    """The uniform table with deletion vectors enabled and a ~1%
    delete already masked into every file."""
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    shutil.copytree(uniform, out)
    _enable_dvs(out)
    delete_rows(spark, out, "id % 100 = 1")


def measure_dv_layouts(spark, uniform: str, scratch: str, reps: int,
                       rec: dict) -> None:
    """The deletion-vector paths on the partitioned and the
    DV-bearing layouts (configs ``*_part_*`` and ``*_dvtable_*``)."""
    part = os.path.join(scratch, "template-partitioned")
    _build_partitioned_template(spark, part)
    dvtable = os.path.join(scratch, "template-dvtable")
    _build_dv_template(spark, uniform, dvtable)
    # % 101 hits every partition (a multiple of 100 is even)
    for cdf in (False, True):
        tag = "cdf" if cdf else "nocdf"
        _gated(
            rec, f"update_1pct_dv_part_{tag}", measure_update,
            spark, part, scratch, "id % 101 = 0", cdf, reps, dvs=True,
        )
        _gated(
            rec, f"delete_1pct_part_{tag}", measure_delete,
            spark, part, scratch, "id % 101 = 0", cdf, reps,
        )
        _gated(
            rec, f"update_1pct_dv_dvtable_{tag}", measure_update,
            spark, dvtable, scratch, "id % 100 = 0", cdf, reps,
        )
    _gated(
        rec, "merge_1pct_dv_dvtable_nocdf", measure_merge,
        spark, dvtable, scratch, False, reps, sel="1pct",
    )


def _fresh_copy(template: str, scratch: str) -> str:
    dst = os.path.join(scratch, f"run-{time.monotonic_ns()}")
    shutil.copytree(template, dst)
    return dst


def _bytes_added(path: str, before: set, after) -> int:
    """Bytes the commit ADDED (new data files + DV bitmaps): the 100 TB
    discriminator — wall-seconds converge at 5M page-cached rows, but a
    rewrite writes O(touched file bytes) while the DV path writes
    O(matched rows + bitmap)."""
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in set(after.files) - before
        if os.path.exists(os.path.join(path, f))
    )
    for dv in after.dvs.values():
        if isinstance(dv, dict):  # bitmap size, inline or on-disk
            total += int(dv.get("sizeInBytes") or 0)
    return total


def _timed_jobs(spark, fn):
    """Run ``fn`` under its own job group: (result, seconds, Spark jobs
    it ran)."""
    sc = spark.sparkContext
    group = f"scale-writes-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.monotonic()
        out = fn()
        dt = time.monotonic() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, dt, len(sc.statusTracker().getJobIdsForGroup(group))


def _measure_dml(spark, template, scratch, cdf, reps, dvs, command,
                 change_type=None):
    """Best/worst wall time of ``command(path) -> version`` over ``reps``
    fresh copies, with the last run's touched-file, DV-file, added-byte
    and Spark-job counts (and, on CDF tables, its ``change_type``
    change rows)."""
    from lcr_etl_upgrade_spark.delta_lite import (
        read_delta_changes,
        replay_log,
    )
    from pyspark.sql import functions as F

    best, worst = float("inf"), 0.0
    rec: dict = {}
    for _ in range(reps):
        path = _fresh_copy(template, scratch)
        if cdf:
            _enable_cdf(path)
        if dvs:
            _enable_dvs(path)
        before = set(replay_log(spark, path).files)
        v, dt, jobs = _timed_jobs(spark, lambda: command(path))
        best, worst = min(best, dt), max(worst, dt)
        after = replay_log(spark, path)
        rec = {
            # rewritten files leave the live set; DV'd files stay (same
            # path, remove(old)+add(same path + deletionVector))
            "touched_files": len(before - set(after.files)),
            "dv_files": len(after.dvs),
            "bytes_added": _bytes_added(path, before, after),
            "jobs": jobs,
        }
        if change_type is not None:
            rec["change_rows"] = (
                read_delta_changes(spark, path, v, v)
                .filter(F.col("_change_type") == change_type)
                .count()
                if cdf
                else None
            )
        shutil.rmtree(path, ignore_errors=True)
    return {"best_sec": round(best, 3), "worst_sec": round(worst, 3), **rec}


def measure_update(spark, template, scratch, pred, cdf, reps, dvs=False):
    from lcr_etl_upgrade_spark.delta_lite import update_rows
    from pyspark.sql import functions as F

    return _measure_dml(
        spark, template, scratch, cdf, reps, dvs,
        lambda path: update_rows(spark, path, pred, {"v": F.col("v") + 1}),
        change_type="update_postimage",
    )


def measure_delete(spark, template, scratch, pred, cdf, reps):
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    return _measure_dml(
        spark, template, scratch, cdf, reps, False,
        lambda path: delete_rows(spark, path, pred),
        change_type="delete",
    )


def measure_merge(spark, template, scratch, cdf, reps, dvs=False, sel="half"):
    from lcr_etl_upgrade_spark.delta_lite import merge_rows
    from pyspark.sql import functions as F

    if sel == "half":
        # 250k-row source: half hits existing ids (update), half is new
        src = spark.range(0, 250_000).select(
            F.when(
                F.col("id") % 2 == 0, F.col("id") * 20
            )  # existing ids, spread over the full range
            .otherwise(N_ROWS + F.col("id"))  # fresh ids
            .alias("k"),
            (F.col("id") % 31).alias("nv"),
        )
    elif sel == "1pct":
        # 100k-row source: 50k existing ids = 1% of the target, spread
        # over the full range (~1% of every file — inside the per-file
        # DV routing fraction), plus 50k inserts
        src = spark.range(0, 100_000).select(
            F.when(F.col("id") % 2 == 0, F.col("id") * 50)
            .otherwise(N_ROWS + F.col("id"))
            .alias("k"),
            (F.col("id") % 31).alias("nv"),
        )
    else:
        raise ValueError(f"unknown merge selectivity {sel!r}")
    src = src.persist()
    src.count()
    out = _measure_dml(
        spark, template, scratch, cdf, reps, dvs,
        lambda path: merge_rows(
            spark,
            path,
            src,
            "t.id = s.k",
            matched=(("update", None, {"v": "s.nv"}),),
            not_matched=(
                ("insert", None, {"id": "s.k", "v": "s.nv", "s": "'new'"}),
            ),
        ),
    )
    src.unpersist()
    return out


def measure_vacuum(spark, scratch, n_dead, reps):
    from pyspark.sql import functions as F

    from lcr_etl_upgrade_spark.delta_lite import (
        replay_log,
        vacuum,
        write_delta_lite,
    )

    # template: n_dead tiny appended files, all made dead by one
    # overwrite, every old commit backdated past the horizon.
    # repartitionByRange on k distinct ids gives EXACTLY k one-row
    # files (round-robin repartition leaves empty partitions); batch
    # 128 keeps the commit count under CHECKPOINT_INTERVAL so no
    # checkpoint legitimately pins early files into the keep set
    template = os.path.join(scratch, f"vac-template-{n_dead}")
    path0 = os.path.join(template, "t")
    write_delta_lite(
        spark.range(0, 1).select("id"), path0
    )
    batch = 128
    appended = 0
    while appended < n_dead:
        k = min(batch, n_dead - appended)
        write_delta_lite(
            spark.range(0, k).repartitionByRange(k, "id").select("id"),
            path0,
            mode="append",
        )
        appended += k
    write_delta_lite(
        spark.range(0, 10).select("id").coalesce(1),
        path0,
        mode="overwrite",
    )
    # backdate EVERY commit so far (the overwrite's remove actions are
    # themselves references — they must age out too), then land one
    # fresh commit so the table has a current snapshot
    log = os.path.join(path0, "_delta_log")
    last = max(
        int(f[:20]) for f in os.listdir(log) if f.endswith(".json")
    )
    for v in range(last + 1):
        cpath = os.path.join(log, f"{v:020d}.json")
        lines = [json.loads(ln) for ln in open(cpath) if ln.strip()]
        stamped = False
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = 1000
                stamped = True
        if not stamped:
            lines.insert(0, {"commitInfo": {"timestamp": 1000}})
        with open(cpath, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")
    write_delta_lite(
        spark.range(0, 1).select("id"), path0, mode="append"
    )
    best, worst = float("inf"), 0.0
    removed = None
    for _ in range(reps):
        path = _fresh_copy(template, scratch) + "/t"
        t0 = time.monotonic()
        out = vacuum(spark, path, retain_hours=1.0)
        dt = time.monotonic() - t0
        best, worst = min(best, dt), max(worst, dt)
        removed = len(out)
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    shutil.rmtree(template, ignore_errors=True)
    return {
        "best_sec": round(best, 3),
        "worst_sec": round(worst, 3),
        "files_removed": removed,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="BENCH_writes_r12.json")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    scratch = tempfile.mkdtemp(prefix="scale_writes_")
    rec: dict = {
        "rows": N_ROWS,
        "files": N_FILES,
        "reps": args.reps,
        "cpus": int(cpus),
        "load_avg_start": _gate(),
    }
    try:
        uniform = os.path.join(scratch, "template-uniform")
        _build_template(spark, uniform, clustered=False)
        clustered = os.path.join(scratch, "template-clustered")
        _build_template(spark, clustered, clustered=True)

        # JIT warm-up (r13): the first update ever run in the session
        # pays codegen/classload for the whole command machinery — the
        # r12/r13 artifacts recorded it INSIDE update_1pct (making 1%
        # read slower than 50%). One unrecorded warm pass on a scratch
        # copy, mirroring bench.py's warm-up.
        measure_update(spark, uniform, scratch, "id % 1000 = 7", True, 1)
        for sel, pred in (("1pct", "id % 100 = 0"), ("50pct", "id % 2 = 0")):
            for cdf in (False, True):
                _gated(
                    rec, f"update_{sel}_{'cdf' if cdf else 'nocdf'}",
                    measure_update,
                    spark, uniform, scratch, pred, cdf, args.reps,
                )
        # DV write path (r13): same 1% update with deletionVectors
        # enabled — low-selectivity files take DV + appended-replacement
        # commits instead of rewrites (the 100 TB shape)
        for cdf in (False, True):
            _gated(
                rec, f"update_1pct_dv_{'cdf' if cdf else 'nocdf'}",
                measure_update,
                spark, uniform, scratch, "id % 100 = 0", cdf,
                args.reps, dvs=True,
            )
        # clustered layout, range predicate: the file-pruning shape
        _gated(
            rec, "update_range_clustered_nocdf",
            measure_update,
            spark, clustered, scratch,
            f"id >= 0 AND id < {N_ROWS // 32}", False, args.reps,
        )
        for cdf in (False, True):
            _gated(
                rec, f"merge_upsert_{'cdf' if cdf else 'nocdf'}",
                measure_merge, spark, uniform, scratch, cdf, args.reps,
            )
        # MERGE DV cost curve (r14): 1%-selectivity merge with and
        # without deletionVectors — merge_rows gained the per-file DV
        # routing in r13 but the bench only exercised DV for UPDATE.
        # bytes_added is the discriminator: the DV path commits
        # O(matched rows + bitmaps + inserts), the rewrite path
        # O(touched file bytes).
        for dvs in (False, True):
            for cdf in (False, True):
                _gated(
                    rec,
                    f"merge_1pct{'_dv' if dvs else ''}"
                    f"_{'cdf' if cdf else 'nocdf'}",
                    measure_merge, spark, uniform, scratch, cdf,
                    args.reps, dvs=dvs, sel="1pct",
                )
        # DELETE at ~1%: deletion vectors on every file from one scan
        for cdf in (False, True):
            _gated(
                rec, f"delete_1pct_{'cdf' if cdf else 'nocdf'}",
                measure_delete,
                spark, uniform, scratch, "id % 100 = 0", cdf, args.reps,
            )
        measure_dv_layouts(spark, uniform, scratch, args.reps, rec)
        for n_dead in (64, 512):
            _gated(
                rec, f"vacuum_{n_dead}_dead",
                measure_vacuum, spark, scratch, n_dead, args.reps,
            )
        rec["load_avg_end"] = round(os.getloadavg()[0], 2)
        rec["idle_bar_met"] = all(
            v.get("load_at_start", 0.0) <= IDLE_BAR
            for v in rec.values()
            if isinstance(v, dict)
        )
        with open(args.out, "w") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
