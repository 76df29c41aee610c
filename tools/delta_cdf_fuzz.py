#!/usr/bin/env python
"""Randomized differential for the change-data-feed reader.

Each case builds a fresh delta_lite table (35% of them CDF-ENABLED, so
the engine's deletes must write _change_data files + cdc actions and
both readers must serve them instead of deriving) and drives a random
operation sequence — overwrite, append, DV delete, the engine's
rewrite-path UPDATE (r11: authoritative update_pre/postimage change
files on CDF tables), the engine's transactional MERGE (r12: ONE
commit mixing rewrites, deletes, and inserts with authoritative mixed
change files), dataChange=false compaction, DV-clearing restore,
the engine's own OPTIMIZE (bin-pack + DV-materializing rewrite), and
the engine's RESTORE TO VERSION AS OF aimed at a random prior version —
then checks SNAPSHOT ALGEBRA for every
window [i, j] of the history:

    multiset(read @ i-1) + window inserts - window deletes
        == multiset(read @ j)

TWO oracles: the snapshot reader itself (log replay + DV filtering, a
code path that never touches the CDF diff logic), and cdf_arrow — the
pure-pyarrow change materializer, whose row layer shares nothing with
the Spark reader — so an error in either
direction (missed delete, phantom insert, DV-diff off-by-one,
compaction visibility) breaks the equation. Rows are compared as full
tuples (multiset), so value corruption is caught, not just counts.

Extra pins per case: change rows only carry protocol _change_type
values (update_postimage counts as an insert and update_preimage as a
delete in the algebra); _commit_version stays inside the window;
compaction commits contribute zero rows; every final table layout must
pass the independent cdf_write_validator. Odd cases run with
``MAX_DV_POSITIONS`` at 0, so their deletion vectors take the Python
worker route instead of the driver one.

--mutate ignore_dv_diff simulates a reader that treats DV updates as
invisible (drops their change rows in the checker): the battery must
detect it on every case whose sequence contains an effective delete —
harness-power evidence, same convention as the other fuzzers.
--mutate restore_skip_remove simulates a restore_table that forgot one
remove action (post-edits the commit it wrote): the rollback
state-equality pin must flag the divergence on cases where the dropped
remove is not superseded by a same-path re-add.
--mutate merge_drop_cdc simulates a MERGE writer that forgot its
change files (strips the cdc actions from the first cdc-carrying MERGE
commit): readers fall back to add/remove derivation, which
double-counts the rewrite — the snapshot algebra must flag every case
whose history has a modifying CDF merge.

Usage: python tools/delta_cdf_fuzz.py [--seed N] [--n CASES] [--mutate M]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections import Counter

import numpy as np

sys.path.insert(0, "/root/repo")

MUTATE: str | None = None


def _rand_df(spark, rng, lo: int):
    n = int(rng.integers(1, 40))
    rows = [
        (
            int(rng.integers(lo, lo + 60)),
            int(rng.integers(0, 5)),
            str(rng.integers(0, 3)),
        )
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, "id long, v long, s string")


def _compact(path: str) -> bool:
    """Rewrite one active DV-free file under a new name with
    dataChange=false (what OPTIMIZE emits). Returns False when no
    eligible file exists."""
    from lcr_etl_upgrade_spark.delta_lite import replay_log

    log = os.path.join(path, "_delta_log")
    # replay via the module to find active files + their DVs
    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    eligible = [r for r in sorted(state.files) if r not in state.dvs]
    if not eligible:
        return False
    rel = eligible[0]
    # keep the rewrite inside the source's partition directory: on a
    # partitioned table a root-level copy would break the hive layout
    # the engine's delete_rows contract requires (correct refusal the
    # first battery run hit)
    new_rel = os.path.join(
        os.path.dirname(rel), f"compact_{state.version + 1}.parquet"
    ).lstrip("/")
    shutil.copy(os.path.join(path, rel), os.path.join(path, new_rel))
    size = os.path.getsize(os.path.join(path, new_rel))
    actions = [
        {"remove": {"path": rel, "dataChange": False,
                    "deletionTimestamp": 1}},
        {"add": {"path": new_rel,
                 "partitionValues": dict(state.files[rel]),
                 "size": size, "modificationTime": 1,
                 "dataChange": False}},
    ]
    with open(os.path.join(
            log, f"{state.version + 1:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return True


def _restore(path: str) -> bool:
    """Clear one file's deletion vector (remove+add with dataChange),
    restoring its deleted rows. Returns False when no file carries a
    DV."""
    from lcr_etl_upgrade_spark.delta_lite import replay_log

    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    if not state.dvs:
        return False
    rel = sorted(state.dvs)[0]
    size = os.path.getsize(os.path.join(path, rel))
    actions = [
        {"remove": {"path": rel, "dataChange": True,
                    "deletionTimestamp": 1,
                    "deletionVector": state.dvs[rel]}},
        {"add": {"path": rel,
                 "partitionValues": dict(state.files[rel]),
                 "size": size, "modificationTime": 1,
                 "dataChange": True}},
    ]
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(
            log, f"{state.version + 1:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return True


def run_case(spark, rng, i: int) -> dict | None:
    from pyspark.sql import functions as F

    from lcr_etl_upgrade_spark.delta_lite import (
        delete_rows,
        read_delta_changes,
        read_delta_lite,
        write_delta_lite,
    )

    tmp = tempfile.mkdtemp(prefix="cdf_fuzz_")
    path = os.path.join(tmp, "t")
    try:
        part = bool(rng.random() < 0.3)
        mapping = "name" if rng.random() < 0.25 else None
        write_delta_lite(
            _rand_df(spark, rng, 0),
            path,
            partition_by=("s",) if part else (),
            column_mapping=mapping,
        )
        cdf_enabled = rng.random() < 0.35
        if cdf_enabled:
            # CDF-enabled table: the engine's deletes must now WRITE
            # change files + cdc actions, and both readers must serve
            # them — the snapshot algebra below validates the written
            # cdc rows end to end against two independent row layers
            from lcr_etl_upgrade_spark.delta_lite import replay_log

            st = replay_log(spark, path)
            meta = dict(st.metadata)
            cfg = dict(meta.get("configuration") or {})
            cfg["delta.enableChangeDataFeed"] = "true"
            meta["configuration"] = cfg
            proto = st.protocol or {
                "minReaderVersion": 1, "minWriterVersion": 2,
            }
            feats = set(proto.get("writerFeatures") or ())
            feats |= {"changeDataFeed", "appendOnly", "invariants"}
            if mapping:
                feats.add("columnMapping")
            pact = {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": 7,
                "writerFeatures": sorted(feats),
            }
            if proto.get("readerFeatures"):
                pact["readerFeatures"] = proto["readerFeatures"]
            with open(os.path.join(
                    path, "_delta_log",
                    f"{st.version + 1:020d}.json"), "w") as fh:
                fh.write(json.dumps({"protocol": pact}) + "\n")
                fh.write(json.dumps({"metaData": meta}) + "\n")
        ops = ["op:create"]
        # (restored_to, committed_version) pairs from rollback ops: the
        # post-restore snapshot must EQUAL the target snapshot — checked
        # against the snapshot reader after snaps are materialized, the
        # one property the windowed CDF algebra alone cannot see (it
        # validates changes against whatever the log says, not against
        # the state restore_table INTENDED to produce)
        rollbacks: list[tuple[int, int]] = []
        n_ops = int(rng.integers(2, 7))
        for _ in range(n_ops):
            op = ["append", "delete", "compact", "restore", "optimize",
                  "rollback", "update", "merge"][int(rng.integers(0, 8))]
            if op == "append":
                write_delta_lite(
                    _rand_df(spark, rng, int(rng.integers(0, 100))),
                    path, mode="append",
                )
            elif op == "delete":
                pred = (F.col("id") % int(rng.integers(2, 6))) == 0
                delete_rows(spark, path, pred)
            elif op == "update":
                # the engine's rewrite-path UPDATE (r11): on CDF tables
                # it must write authoritative update_pre/postimage
                # change files the algebra then validates against both
                # readers and the layout validator
                from lcr_etl_upgrade_spark.delta_lite import update_rows

                m = int(rng.integers(2, 6))
                # use_dvs draw (r13): None = auto per-file routing,
                # True = force the DV write path (mask + append) —
                # both must serve identical CDF/e2e state
                update_rows(
                    spark, path, F.col("id") % m == 1,
                    {"v": F.col("v") + int(rng.integers(1, 50))},
                    use_dvs=True if rng.random() < 0.4 else None,
                )
            elif op == "merge":
                # the engine's transactional MERGE (r12): one commit
                # mixing rewrites, deletes, and inserts — on CDF tables
                # it must write authoritative mixed change files the
                # algebra, both readers, and the layout validator all
                # agree on. Source distinct on the key (duplicate
                # modifying matches are a documented refusal the
                # dedicated tests pin).
                from lcr_etl_upgrade_spark.delta_lite import merge_rows

                src = (
                    _rand_df(spark, rng, int(rng.integers(0, 100)))
                    .dropDuplicates(["id"])
                    .withColumnsRenamed(
                        {"id": "k", "v": "nv", "s": "ns"}
                    )
                )
                matched = []
                if rng.random() < 0.8:
                    cond = (
                        f"s.nv % {int(rng.integers(2, 4))} = 0"
                        if rng.random() < 0.5
                        else None
                    )
                    matched.append(
                        ("update", cond, {"v": "t.v + s.nv"})
                    )
                if rng.random() < 0.5:
                    matched.append(("delete", None))
                not_matched = []
                if rng.random() < 0.8:
                    not_matched.append(
                        (
                            "insert",
                            None,
                            {"id": "s.k", "v": "s.nv", "s": "s.ns"},
                        )
                    )
                if not (matched or not_matched):
                    continue
                merge_rows(
                    spark, path, src, "t.id = s.k",
                    matched=tuple(matched),
                    not_matched=tuple(not_matched),
                )
            elif op == "compact":
                if not _compact(path):
                    continue
            elif op == "restore":
                # the hand-authored DV-clearing remove+add simulates a
                # FOREIGN writer; on a CDF-enabled table that shape is
                # writer-non-conformant (the protocol demands cdc
                # actions there — the engine's own restore_table
                # REFUSES it for exactly that reason), and the round-11
                # layout validator would rightly flag it (W8, found on
                # seed 5151307). The readers' derivation for foreign DV
                # commits keeps its coverage on non-CDF tables.
                if cdf_enabled or not _restore(path):
                    continue
            elif op == "optimize":
                # the ENGINE's own dataChange=false rewrite (bin-pack +
                # DV materialization) — change feed must stay blind to it
                from lcr_etl_upgrade_spark.delta_lite import optimize

                if optimize(spark, path,
                            target_file_bytes=1 << 20)["version"] is None:
                    continue
            elif op == "rollback":
                # the engine's RESTORE TO VERSION AS OF, aimed at a
                # random prior version
                from lcr_etl_upgrade_spark.delta_lite import (
                    latest_version,
                    restore_table,
                )

                cur_v = latest_version(path)
                if cur_v < 1:
                    continue
                target = int(rng.integers(0, cur_v))
                try:
                    res = restore_table(spark, path, target)
                except NotImplementedError:
                    # documented refusal: DV-reverting restore on a
                    # CDF-enabled table needs change files
                    continue
                if res["version"] is None:  # byte-identical state
                    continue
                if MUTATE == "restore_skip_remove":
                    # simulate a restore that forgot one remove: drop
                    # the first remove action from the commit it wrote
                    cpath = os.path.join(
                        path, "_delta_log", f"{res['version']:020d}.json"
                    )
                    with open(cpath) as fh:
                        lines = [json.loads(l) for l in fh if l.strip()]
                    keep, dropped = [], False
                    for a in lines:
                        if "remove" in a and not dropped:
                            dropped = True
                            continue
                        keep.append(a)
                    with open(cpath, "w") as fh:
                        for a in keep:
                            fh.write(json.dumps(a) + "\n")
                rollbacks.append((target, res["version"]))
            ops.append(f"op:{op}")
        log = os.path.join(path, "_delta_log")
        latest = max(
            int(f[:20]) for f in os.listdir(log) if f.endswith(".json")
        )
        if MUTATE == "merge_drop_cdc":
            # simulate a MERGE writer that forgot its change files:
            # strip the cdc actions from the first cdc-carrying MERGE
            # commit. Readers then fall back to add/remove derivation,
            # which double-counts the rewrite — the snapshot algebra
            # must flag every case whose history has a CDF merge.
            for v_ in range(latest + 1):
                cpath = os.path.join(log, f"{v_:020d}.json")
                lines = [json.loads(l) for l in open(cpath) if l.strip()]
                is_merge = any(
                    (a.get("commitInfo") or {}).get("operation") == "MERGE"
                    for a in lines
                )
                if is_merge and any("cdc" in a for a in lines):
                    with open(cpath, "w") as fh:
                        for a in lines:
                            if "cdc" not in a:
                                fh.write(json.dumps(a) + "\n")
                    break
        if MUTATE == "cdc_size_lie":
            # corrupt the first cdc action's size claim: the layout
            # validator below must catch it on every case that wrote one
            for v_ in range(latest + 1):
                cpath = os.path.join(log, f"{v_:020d}.json")
                lines = [json.loads(l) for l in open(cpath) if l.strip()]
                hit = False
                for a in lines:
                    if "cdc" in a:
                        a["cdc"]["size"] = int(a["cdc"]["size"]) + 1
                        hit = True
                        break
                if hit:
                    with open(cpath, "w") as fh:
                        for a in lines:
                            fh.write(json.dumps(a) + "\n")
                    break
        # round-11 post-sequence invariant: the INDEPENDENT structural
        # validator (pyarrow+json only, no engine imports) must accept
        # every _change_data layout the sequence produced
        from tools.cdf_write_validator import validate_table

        layout_violations = validate_table(path)
        if layout_violations:
            return {"kind": "cdc_layout_invalid", "ops": ops,
                    "violations": layout_violations[:5]}
        cols = ["id", "v", "s"]

        def snap(v):
            if v < 0:
                return Counter()
            df = read_delta_lite(spark, path, version=v)
            return Counter(
                tuple(r[c] for c in cols) for r in df.collect()
            )

        snaps = {v: snap(v) for v in range(-1, latest + 1)}
        for target, committed in rollbacks:
            if snaps[committed] != snaps[target]:
                return {"kind": "rollback_state_mismatch", "ops": ops,
                        "target": target, "committed": committed,
                        "want": sum(snaps[target].values()),
                        "got": sum(snaps[committed].values())}
        # every window, single-commit ones first (best localization)
        windows = [(v, v) for v in range(latest + 1)]
        windows += [(0, latest)]
        if latest >= 2:
            lo = int(rng.integers(0, latest))
            hi = int(rng.integers(lo, latest + 1))
            windows.append((lo, hi))
        from lcr_etl_upgrade_spark.cdf_arrow import (
            arrow_changes,
            change_schema,
        )

        arrow_names = [f.name for f in change_schema(path).fields]
        for lo, hi in windows:
            ch = read_delta_changes(spark, path, lo, hi).collect()
            # SECOND oracle: the pure-pyarrow materializer must emit the
            # identical multiset (data cols + type + version)
            key_cols = cols + ["_change_type", "_commit_version"]
            spark_ms = Counter(
                tuple(r[c] for c in key_cols) for r in ch
            )
            aidx = [arrow_names.index(c) for c in key_cols]
            arrow_ms = Counter(
                tuple(t[i] for i in aidx)
                for t in arrow_changes(path, lo, hi)
            )
            if spark_ms != arrow_ms:
                diff = set(spark_ms.items()) ^ set(arrow_ms.items())
                return {"kind": "arrow_divergence", "ops": ops,
                        "window": [lo, hi],
                        "diff": sorted(map(str, diff))[:5]}
            bad_type = [
                r for r in ch
                if r["_change_type"] not in (
                    "insert", "delete",
                    "update_preimage", "update_postimage",
                )
            ]
            if bad_type:
                return {"kind": "bad_change_type", "ops": ops,
                        "window": [lo, hi]}
            if any(
                not (lo <= r["_commit_version"] <= hi) for r in ch
            ):
                return {"kind": "version_out_of_window", "ops": ops,
                        "window": [lo, hi]}
            if MUTATE == "ignore_dv_diff":
                # simulate a reader blind to DV updates: drop change
                # rows from commits that were pure DV updates
                dv_commits = {
                    r["_commit_version"] for r in ch
                } - {0}  # crude: non-create commits may be DV updates
                ch = [
                    r for r in ch
                    if not (
                        r["_change_type"] == "delete"
                        and r["_commit_version"] in dv_commits
                    )
                ]
            ins = Counter(
                tuple(r[c] for c in cols)
                for r in ch
                if r["_change_type"] in ("insert", "update_postimage")
            )
            dels = Counter(
                tuple(r[c] for c in cols)
                for r in ch
                if r["_change_type"] in ("delete", "update_preimage")
            )
            if snaps[lo - 1] + ins - dels != snaps[hi]:
                return {
                    "kind": "snapshot_algebra", "ops": ops,
                    "window": [lo, hi],
                    "before": sum(snaps[lo - 1].values()),
                    "after": sum(snaps[hi].values()),
                    "ins": sum(ins.values()),
                    "dels": sum(dels.values()),
                }
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    global MUTATE
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=20260816)
    ap.add_argument("--n", type=int, default=25)
    ap.add_argument("--mutate", default=None)
    ap.add_argument("--case", type=int, default=None)
    args = ap.parse_args()
    MUTATE = args.mutate

    import lcr_etl_upgrade_spark.delta_lite as dl
    from lcr_etl_upgrade_spark.session import get_session

    spark = get_session("delta_cdf_fuzz")
    bound = dl.MAX_DV_POSITIONS
    failures = []
    for i in range(args.n):
        if args.case is not None and i != args.case:
            continue
        rng = np.random.default_rng(args.seed * 1_000_003 + i)
        # odd cases run with the deletion-vector positions bound at 0:
        # their vectors are read and written in Python workers instead
        # of on the driver, so both routes stay fuzzed
        dl.MAX_DV_POSITIONS = 0 if i % 2 else bound
        try:
            rec = run_case(spark, rng, i)
        finally:
            dl.MAX_DV_POSITIONS = bound
        if rec is not None:
            failures.append({"i": i, **rec})
            print(f"FAIL case {i}: {json.dumps(failures[-1])[:500]}",
                  file=sys.stderr)
    print(json.dumps({
        "seed": args.seed, "n": args.n, "mutate": MUTATE,
        "failures": failures, "ok": not failures,
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
