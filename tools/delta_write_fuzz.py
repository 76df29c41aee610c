#!/usr/bin/env python
"""Randomized differential for the delta_lite WRITE surface: schema
evolution (merge_schema), CHECK-constraint enforcement, and identity
generation — the round-10 semantics that otherwise rest on fixed tests.

Each case builds a fresh table and drives a random op sequence while a
pure-Python oracle maintains the EXPECTED state (rows as dicts, the
expected column set, the active constraint list, identity bookkeeping):

  - append          rows over the current columns
  - evolve          merge_schema append adding a fresh column (old rows
                    must read it as null)
  - omit            merge_schema append omitting a nullable column
                    (the new rows must read it as null)
  - constrain       raw ALTER-style commit adding delta.constraints.*
                    ``cK >= t`` (NULL violates, delta-spark semantics)
  - risky_append    rows that MAY violate the active constraints: the
                    oracle predicts refuse-vs-commit per the documented
                    semantics; a disagreement in EITHER direction fails
                    (engine accepted a violating write, or refused a
                    clean one) and state must be byte-unchanged on
                    refusal
  - bad_type        append with a column retyped long->string: must
                    refuse with the type-mismatch error
  - merge           (r12) transactional MERGE vs the oracle's own
                    per-key clause routing: update (nv % m == 0,
                    first-wins) / delete (nv % d == 0) / insert for
                    unmatched source rows; constraint refusal predicted
                    over the changed + inserted rows, state
                    byte-unchanged on refusal; drawn only on tables
                    whose existing rows all satisfy the active
                    constraints (the ALTER-without-validate corner
                    makes whole-group revalidation unmodellable)

plus an identity family (separate tables): generated values must be
unique, on the start/step lattice, and strictly advancing across
appends; explicit inserts refuse under GENERATED ALWAYS and sync the
watermark under BY DEFAULT.

plus a row-tracking family: a hive-partitioned, row-tracked table with
deletion vectors enabled, every write one task across all partitions
(so part-file names repeat across partition directories), driven by
random append / update_rows / delete_rows / merge_rows (use_dvs
None, True or False). After every op the rows must equal the oracle's,
every row keeps the row id it was first read with, and no two rows
share an id. Every other row-tracking case (i % 16 == 9) runs with
``MAX_DV_POSITIONS`` at 0, so its deletion vectors take the Python
worker route instead of the driver one.

The final read (read_delta_lite) must equal the oracle's multiset over
the expected column set — old files reading evolved columns as null is
part of what the compare checks.

--mutate constraint_nulls_pass simulates an oracle believing
SQL-standard CHECK (nulls pass): the battery must detect it on every
case where a null-bearing risky_append was refused by the engine —
harness-power evidence, same convention as the other fuzzers.

Usage: python tools/delta_write_fuzz.py [--seed N] [--n CASES]
                                        [--mutate M] [--case I]
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


def _raw_commit(path: str, actions: list[dict]) -> None:
    from lcr_etl_upgrade_spark.delta_lite import replay_log

    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _add_constraint(path: str, name: str, sql: str) -> None:
    from lcr_etl_upgrade_spark.delta_lite import replay_log

    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    meta = dict(state.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg[f"delta.constraints.{name}"] = sql
    meta["configuration"] = cfg
    _raw_commit(path, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        {"metaData": meta},
    ])


def _mk_rows(rng, cols: list[str], n: int, null_rate=0.15) -> list[dict]:
    rows = []
    for _ in range(n):
        r = {}
        for c in cols:
            if rng.random() < null_rate:
                r[c] = None
            elif c == "s":
                r[c] = str(rng.integers(0, 50))
            else:
                r[c] = int(rng.integers(-40, 60))
        rows.append(r)
    return rows


def _df_from(spark, rows: list[dict], cols: list[str]):
    from pyspark.sql import types as T

    fields = [
        T.StructField(
            c, T.StringType() if c == "s" else T.LongType(), True
        )
        for c in cols
    ]
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows],
        T.StructType(fields),
    )


def _violates(row: dict, constraints: list[tuple[str, int]],
              nulls_pass: bool) -> bool:
    for c, t in constraints:
        v = row.get(c)  # absent column reads/writes as null
        if v is None:
            if not nulls_pass:
                return True
            continue
        if not (v >= t):
            return True
    return False


def run_case(spark, rng, i: int) -> dict | None:
    from lcr_etl_upgrade_spark.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    tmp = tempfile.mkdtemp(prefix="write_fuzz_")
    path = os.path.join(tmp, "t")
    nulls_pass = MUTATE == "constraint_nulls_pass"
    try:
        all_long = [f"c{k}" for k in range(5)]
        cols = sorted(
            rng.choice(all_long, size=int(rng.integers(1, 4)),
                       replace=False).tolist()
        ) + ["s"]
        expected: list[dict] = _mk_rows(rng, cols, int(rng.integers(1, 15)))
        write_delta_lite(_df_from(spark, expected, cols), path)
        constraints: list[tuple[str, int]] = []
        unused = [c for c in all_long if c not in cols]
        ops = [f"create({','.join(cols)})"]
        for _ in range(int(rng.integers(3, 9))):
            op = ["append", "evolve", "omit", "constrain",
                  "risky_append", "bad_type", "merge"][
                int(rng.integers(0, 7))
            ]
            if op == "append":
                rows = _mk_rows(rng, cols, int(rng.integers(1, 12)))
                if any(_violates(r, constraints, nulls_pass)
                       for r in rows):
                    op = "risky_append"  # fall through to the predictor
                else:
                    try:
                        write_delta_lite(
                            _df_from(spark, rows, cols), path,
                            mode="append",
                        )
                    except ValueError as exc:
                        # the oracle called this write CLEAN: an engine
                        # refusal is a semantics disagreement (under
                        # --mutate constraint_nulls_pass, the expected
                        # detection signal)
                        return {"kind": "unexpected_refusal",
                                "ops": ops, "err": str(exc)[:200]}
                    expected += rows
            if op == "evolve":
                if not unused:
                    continue
                newc = unused.pop(0)
                rows = _mk_rows(rng, cols + [newc],
                                int(rng.integers(1, 8)))
                if any(_violates(r, constraints, nulls_pass)
                       for r in rows):
                    continue  # keep evolution cases clean
                try:
                    write_delta_lite(
                        _df_from(spark, rows, cols + [newc]), path,
                        mode="append", merge_schema=True,
                    )
                except ValueError as exc:
                    return {"kind": "unexpected_refusal", "ops": ops,
                            "err": str(exc)[:200]}
                cols = cols + [newc]
                expected += rows  # old rows lack newc -> None via .get
            if op == "omit":
                omit = [c for c in cols if c != "s"]
                if not omit:
                    continue
                drop = omit[int(rng.integers(0, len(omit)))]
                kept = [c for c in cols if c != drop]
                rows = _mk_rows(rng, kept, int(rng.integers(1, 8)))
                # the omitted column writes as null: predict through
                # the SAME constraint semantics
                if any(_violates(r, constraints, nulls_pass)
                       for r in rows):
                    continue
                try:
                    write_delta_lite(
                        _df_from(spark, rows, kept), path,
                        mode="append", merge_schema=True,
                    )
                except ValueError as exc:
                    return {"kind": "unexpected_refusal", "ops": ops,
                            "err": str(exc)[:200]}
                expected += rows
            if op == "constrain":
                candidates = [c for c in cols if c != "s"]
                c = candidates[int(rng.integers(0, len(candidates)))]
                t = int(rng.integers(-45, 20))
                constraints.append((c, t))
                _add_constraint(
                    path, f"k{len(constraints)}", f"{c} >= {t}"
                )
            if op == "risky_append":
                rows = _mk_rows(rng, cols, int(rng.integers(1, 10)))
                should_refuse = constraints and any(
                    _violates(r, constraints, nulls_pass) for r in rows
                )
                before = Counter(
                    tuple(sorted(os.listdir(path)))
                ) if should_refuse else None
                try:
                    write_delta_lite(
                        _df_from(spark, rows, cols), path, mode="append"
                    )
                    refused = False
                except ValueError:
                    refused = True
                if refused != bool(should_refuse):
                    return {
                        "kind": "constraint_disagreement", "ops": ops,
                        "engine_refused": refused,
                        "oracle_refuses": bool(should_refuse),
                        "constraints": constraints,
                    }
                if refused:
                    after = Counter(tuple(sorted(os.listdir(path))))
                    if after != before:
                        return {"kind": "refusal_left_debris",
                                "ops": ops}
                else:
                    expected += rows
            if op == "merge":
                # r12 transactional MERGE vs a pure-Python oracle:
                # per-key first-wins clause routing (update if
                # nv % m == 0, else delete if nv % d == 0, else
                # unchanged; unmatched source rows insert with typed
                # nulls), with constraint refusal PREDICTED over the
                # changed/inserted rows only (untouched rows already
                # satisfied the active set). nv is kept non-negative so
                # Python % and SQL % agree.
                from lcr_etl_upgrade_spark.delta_lite import merge_rows

                if any(
                    _violates(r, constraints, nulls_pass)
                    for r in expected
                ):
                    # the fuzzer's ALTER-style constrain op does not
                    # validate existing rows, but a merge rewrite
                    # re-validates every row of a touched GROUP — which
                    # rows share a file with a matched one is not
                    # modellable here, so only merge into clean tables
                    continue
                kc_cands = [c for c in cols if c != "s"]
                kc = kc_cands[int(rng.integers(0, len(kc_cands)))]
                vc_cands = [c for c in kc_cands if c != kc] or [kc]
                vc = vc_cands[int(rng.integers(0, len(vc_cands)))]
                seen_keys: set[int] = set()
                src_rows: list[dict] = []
                for _k in range(int(rng.integers(1, 10))):
                    if rng.random() < 0.15:
                        k = None
                    else:
                        k = int(rng.integers(-50, 20))
                        if k in seen_keys:
                            continue
                        seen_keys.add(k)
                    src_rows.append(
                        {"k": k, "nv": int(rng.integers(0, 40))}
                    )
                if not src_rows:
                    continue
                m = int(rng.integers(2, 4))
                d = int(rng.integers(2, 4))
                ins_vals = {kc: "s.k", vc: "s.nv", "s": "'ins'"}
                # ---- python oracle -------------------------------------
                by_key = {
                    r["k"]: r for r in src_rows if r["k"] is not None
                }
                tgt_keys = {
                    row.get(kc)
                    for row in expected
                    if row.get(kc) is not None
                }
                post, changed = [], []
                for row in expected:
                    srow = (
                        by_key.get(row.get(kc))
                        if row.get(kc) is not None
                        else None
                    )
                    if srow is None:
                        post.append(row)
                    elif srow["nv"] % m == 0:
                        nr = dict(row)
                        nr["s"] = "upd"
                        nr[vc] = srow["nv"]
                        post.append(nr)
                        changed.append(nr)
                    elif srow["nv"] % d == 0:
                        pass  # deleted
                    else:
                        post.append(row)
                inserts = []
                for r in src_rows:
                    if r["k"] is not None and r["k"] in tgt_keys:
                        continue
                    nr = {c: None for c in cols}
                    nr[kc] = r["k"]
                    nr[vc] = r["nv"]
                    nr["s"] = "ins"
                    # mirror the engine's dict-build order: vc overwrote
                    # kc when they are the same column
                    if vc == kc:
                        nr[kc] = r["nv"]
                    inserts.append(nr)
                should_refuse = bool(constraints) and any(
                    _violates(r, constraints, nulls_pass)
                    for r in changed + inserts
                )
                before = (
                    Counter(tuple(sorted(os.listdir(path))))
                    if should_refuse
                    else None
                )
                src_df = spark.createDataFrame(
                    [(r["k"], r["nv"]) for r in src_rows],
                    "k long, nv long",
                )
                try:
                    merge_rows(
                        spark, path, src_df, f"t.`{kc}` = s.k",
                        matched=(
                            (
                                "update",
                                f"s.nv % {m} = 0",
                                {"s": "'upd'", vc: "s.nv"},
                            ),
                            ("delete", f"s.nv % {d} = 0"),
                        ),
                        not_matched=(("insert", None, ins_vals),),
                        # r13: the DV write path (mask + append) must
                        # produce the same end state as the rewrite
                        use_dvs=True if rng.random() < 0.4 else None,
                    )
                    refused = False
                except ValueError as exc:
                    if "constraint" not in str(exc):
                        return {"kind": "unexpected_refusal",
                                "ops": ops, "err": str(exc)[:200]}
                    refused = True
                if refused != should_refuse:
                    return {
                        "kind": "merge_constraint_disagreement",
                        "ops": ops,
                        "engine_refused": refused,
                        "oracle_refuses": should_refuse,
                        "constraints": constraints,
                    }
                if refused:
                    after = Counter(tuple(sorted(os.listdir(path))))
                    if after != before:
                        return {"kind": "refusal_left_debris",
                                "ops": ops}
                else:
                    expected = post + inserts
            if op == "bad_type":
                victim = [c for c in cols if c != "s"]
                if not victim:
                    continue
                c = victim[0]
                rows = _mk_rows(rng, cols, 2)
                bad = [dict(r, **{c: "oops"}) for r in rows]
                from pyspark.sql import types as T

                fields = [
                    T.StructField(
                        k,
                        T.StringType() if k in ("s", c) else T.LongType(),
                        True,
                    )
                    for k in cols
                ]
                bdf = spark.createDataFrame(
                    [tuple(r.get(k) for k in cols) for r in bad],
                    T.StructType(fields),
                )
                try:
                    write_delta_lite(bdf, path, mode="append")
                    return {"kind": "bad_type_accepted", "ops": ops,
                            "col": c}
                except ValueError:
                    pass
            ops.append(f"op:{op}")

        got = Counter(
            tuple(r[c] for c in cols)
            for r in read_delta_lite(spark, path).select(*cols).collect()
        )
        want = Counter(
            tuple(r.get(c) for c in cols) for r in expected
        )
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            return {"kind": "state_mismatch", "ops": ops,
                    "got_n": sum(got.values()),
                    "want_n": sum(want.values()),
                    "diff": sorted(map(str, diff))[:5]}
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_identity_case(spark, rng, i: int) -> dict | None:
    from pyspark.sql import types as T

    from lcr_etl_upgrade_spark.delta_lite import (
        read_delta_lite,
        replay_log,
        write_delta_lite,
    )

    tmp = tempfile.mkdtemp(prefix="write_fuzz_id_")
    path = os.path.join(tmp, "t")
    try:
        start = int(rng.integers(-20, 20))
        step = int(rng.choice([-3, -1, 1, 2, 5]))
        allow = bool(rng.random() < 0.5)
        schema = T.StructType([
            T.StructField("v", T.StringType(), True),
            T.StructField("id", T.LongType(), True, {
                "delta.identity.start": start,
                "delta.identity.step": step,
                "delta.identity.allowExplicitInsert": allow,
            }),
        ])
        write_delta_lite(spark.createDataFrame([], schema), path)
        n_expected = 0
        explicit: list[int] = []
        ops = [f"create(start={start},step={step},allow={allow})"]
        prev_gen_frontier: int | None = None
        for _ in range(int(rng.integers(2, 6))):
            if rng.random() < 0.3:
                # explicit insert attempt
                vals = [int(rng.integers(-100, 100))
                        for _ in range(int(rng.integers(1, 4)))]
                df = spark.createDataFrame(
                    [(str(v), v) for v in vals], "v string, id long"
                )
                try:
                    write_delta_lite(df, path, mode="append")
                    ok = True
                except ValueError:
                    ok = False
                if ok != allow:
                    return {"kind": "explicit_gate_wrong", "ops": ops,
                            "allowed": allow, "engine_accepted": ok}
                if ok:
                    n_expected += len(vals)
                    explicit += vals
                ops.append(f"op:explicit({len(vals)})")
            else:
                n = int(rng.integers(1, 20))
                write_delta_lite(
                    spark.createDataFrame(
                        [(str(k),) for k in range(n)], "v string"
                    ).repartition(int(rng.integers(1, 4))),
                    path, mode="append",
                )
                n_expected += n
                ops.append(f"op:generate({n})")
        rows = read_delta_lite(spark, path).collect()
        ids = [r["id"] for r in rows]
        if len(rows) != n_expected:
            return {"kind": "row_count", "ops": ops,
                    "got": len(rows), "want": n_expected}
        if any(v is None for v in ids):
            return {"kind": "null_identity", "ops": ops}
        # generated values must be unique AMONG THEMSELVES; a LATER
        # explicit insert may legitimately equal an earlier generated
        # value (delta-spark documents identity uniqueness as holding
        # for generated values only) -> multiset-subtract the explicits
        gen_ms = Counter(ids) - Counter(explicit)
        if any(c > 1 for c in gen_ms.values()):
            return {"kind": "identity_collision", "ops": ops,
                    "dups": [v for v, c in gen_ms.items() if c > 1][:5]}
        gen = list(gen_ms.elements())
        off_lattice = [v for v in gen if (v - start) % step != 0]
        if off_lattice:
            return {"kind": "off_lattice", "ops": ops,
                    "vals": off_lattice[:5]}
        # committed watermark covers the furthest value in step
        # direction among everything the table holds
        state = replay_log(spark, path)
        meta = state.schema["id"].metadata
        if ids and "delta.identity.highWaterMark" in meta:
            hwm = int(meta["delta.identity.highWaterMark"])
            frontier = max(ids) if step > 0 else min(ids)
            covered = hwm >= frontier if step > 0 else hwm <= frontier
            if not covered:
                return {"kind": "watermark_behind", "ops": ops,
                        "hwm": hwm, "frontier": frontier}
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_alter_case(spark, rng, i: int) -> dict | None:
    """ALTER family (r12): random add/rename/drop-column and
    constraint add/drop sequences on a column-MAPPED table, mirrored by
    a pure-Python schema+rows model. Invariants: the final read equals
    the model under the final logical names; renames never move data
    (values follow the column); dropped-then-re-added names come back
    NULL (never resurrect); constraint adds refuse iff the model says
    existing rows violate."""
    from lcr_etl_upgrade_spark.delta_lite import (
        add_check_constraint,
        add_columns,
        drop_check_constraint,
        drop_column,
        read_delta_lite,
        rename_column,
        write_delta_lite,
    )
    from pyspark.sql import types as T

    tmp = tempfile.mkdtemp(prefix="alter_fuzz_")
    path = os.path.join(tmp, "t")
    try:
        cols = ["c0", "c1"]
        rows: list[dict] = [
            {c: int(rng.integers(-20, 20)) for c in cols}
            for _ in range(int(rng.integers(2, 12)))
        ]
        write_delta_lite(
            _df_from(spark, rows, cols), path, column_mapping="name"
        )
        constraints: dict[str, str] = {}  # name -> column it guards
        next_col = 2
        ops = [f"create({','.join(cols)})"]
        for _ in range(int(rng.integers(4, 12))):
            op = ["append", "add", "rename", "drop", "constrain",
                  "deconstrain"][int(rng.integers(0, 6))]
            if op == "append":
                new = [
                    {c: int(rng.integers(-20, 20)) for c in cols}
                    for _ in range(int(rng.integers(1, 6)))
                ]
                guarded = {constraints[k] for k in constraints}
                if any(
                    r[c] < -25 for r in new for c in guarded if c in r
                ):
                    continue  # keep appends constraint-clean (t=-25)
                write_delta_lite(
                    _df_from(spark, new, cols), path, mode="append"
                )
                rows += new
            elif op == "add":
                name = f"c{next_col}"
                next_col += 1
                add_columns(
                    spark, path, [T.StructField(name, T.LongType(), True)]
                )
                cols.append(name)
                for r in rows:
                    r[name] = None
            elif op == "rename":
                old = cols[int(rng.integers(0, len(cols)))]
                if old in constraints.values():
                    try:
                        rename_column(spark, path, old, f"x_{old}")
                        return {"kind": "rename_referenced_accepted",
                                "ops": ops, "col": old}
                    except ValueError:
                        continue
                new = f"r{next_col}"
                next_col += 1
                rename_column(spark, path, old, new)
                cols[cols.index(old)] = new
                for r in rows:
                    r[new] = r.pop(old)
            elif op == "drop":
                if len(cols) < 2:
                    continue
                victim = cols[int(rng.integers(0, len(cols)))]
                if victim in constraints.values():
                    try:
                        drop_column(spark, path, victim)
                        return {"kind": "drop_referenced_accepted",
                                "ops": ops, "col": victim}
                    except ValueError:
                        continue
                drop_column(spark, path, victim)
                cols.remove(victim)
                for r in rows:
                    r.pop(victim, None)
            elif op == "constrain":
                c = cols[int(rng.integers(0, len(cols)))]
                # numbered by the ops so far: a count of the live
                # constraints repeats a live name after a deconstrain
                name = f"k{len(ops)}_{next_col}"
                should_refuse = any(
                    r.get(c) is None or r[c] < -25 for r in rows
                )
                try:
                    add_check_constraint(spark, path, name, f"{c} >= -25")
                    refused = False
                except ValueError:
                    refused = True
                if refused != should_refuse:
                    return {
                        "kind": "alter_constraint_disagreement",
                        "ops": ops, "col": c,
                        "engine_refused": refused,
                        "oracle_refuses": should_refuse,
                    }
                if not refused:
                    constraints[name] = c
            elif op == "deconstrain":
                if not constraints:
                    continue
                name = sorted(constraints)[0]
                drop_check_constraint(spark, path, name)
                constraints.pop(name)
            ops.append(f"op:{op}")
        got = Counter(
            tuple(r[c] for c in cols)
            for r in read_delta_lite(spark, path).select(*cols).collect()
        )
        want = Counter(tuple(r.get(c) for c in cols) for r in rows)
        if got != want:
            return {"kind": "alter_state_divergence", "ops": ops,
                    "cols": cols,
                    "got": sum(got.values()), "want": sum(want.values())}
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_rowtrack_case(spark, rng, i: int) -> dict | None:
    from pyspark.sql import functions as F

    from lcr_etl_upgrade_spark.delta_lite import (
        delete_rows,
        merge_rows,
        read_delta_lite,
        read_row_ids,
        replay_log,
        set_table_properties,
        update_rows,
        write_delta_lite,
    )

    tmp = tempfile.mkdtemp(prefix="rowtrack_fuzz_")
    path = os.path.join(tmp, "t")
    n_parts = int(rng.integers(2, 5))
    ops: list[str] = []

    def frame(ids):
        # one task writes every partition: basenames repeat per dir
        return spark.createDataFrame(
            [(k, k % n_parts, k % 7) for k in ids], "id long, p int, v long"
        ).coalesce(1)

    try:
        write_delta_lite(frame([0]), path, partition_by=("p",))
        state = replay_log(spark, path)
        meta = dict(state.metadata)
        meta["configuration"] = {
            **(meta.get("configuration") or {}),
            "delta.enableRowTracking": "true",
        }
        _raw_commit(path, [
            {"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 7,
                "writerFeatures": ["appendOnly", "domainMetadata",
                                   "invariants", "rowTracking"],
            }},
            {"metaData": meta},
        ])
        n0 = int(rng.integers(8, 40))
        write_delta_lite(
            frame(range(n0)), path, mode="overwrite", partition_by=("p",)
        )
        set_table_properties(
            spark, path, {"delta.enableDeletionVectors": "true"}
        )
        expected = {k: k % 7 for k in range(n0)}
        next_id = n0
        row_id: dict[int, int] = {}
        ops.append(f"create(n={n0}, parts={n_parts})")

        def check() -> dict | None:
            got = {
                r["id"]: r["v"]
                for r in read_delta_lite(spark, path).collect()
            }
            if got != expected:
                return {"kind": "rowtrack_state_mismatch", "ops": ops,
                        "got_n": len(got), "want_n": len(expected)}
            ids = {
                r["id"]: r["_row_id"]
                for r in read_row_ids(spark, path).collect()
            }
            if len(set(ids.values())) != len(ids):
                return {"kind": "row_id_reused", "ops": ops}
            moved = sorted(
                k for k, rid in row_id.items()
                if k in ids and ids[k] != rid
            )
            if moved:
                return {"kind": "row_id_changed", "ops": ops,
                        "ids": moved[:5]}
            row_id.update(ids)
            return None

        for _ in range(int(rng.integers(3, 8))):
            rec = check()
            if rec is not None:
                return rec
            op = ["append", "update", "delete", "merge"][
                int(rng.integers(0, 4))
            ]
            use_dvs = [None, True, False][int(rng.integers(0, 3))]
            k, r = int(rng.integers(2, 8)), int(rng.integers(0, 8))
            pred = F.col("id") % k == r % k
            if op == "append":
                new = list(range(next_id, next_id + int(rng.integers(1, 9))))
                next_id = new[-1] + 1
                write_delta_lite(frame(new), path, mode="append")
                expected.update({n: n % 7 for n in new})
            elif op == "update":
                update_rows(
                    spark, path, pred, {"v": F.col("v") + 1},
                    use_dvs=use_dvs,
                )
                for n in expected:
                    if n % k == r % k:
                        expected[n] += 1
            elif op == "delete":
                delete_rows(spark, path, pred)
                expected = {
                    n: v for n, v in expected.items() if n % k != r % k
                }
            else:
                hits = [n for n in sorted(expected) if rng.random() < 0.3]
                new = list(range(next_id, next_id + int(rng.integers(0, 4))))
                next_id += len(new)
                src_rows = [(n, n % n_parts, 100 + n) for n in hits + new]
                if not src_rows:
                    continue
                merge_rows(
                    spark, path,
                    spark.createDataFrame(
                        src_rows, "k long, kp int, nv long"
                    ),
                    "t.id = s.k",
                    matched=(("update", None, {"v": "s.nv"}),),
                    not_matched=(
                        ("insert", None,
                         {"id": "s.k", "p": "s.kp", "v": "s.nv"}),
                    ),
                    use_dvs=use_dvs,
                )
                expected.update({n: 100 + n for n in hits + new})
            ops.append(f"op:{op}(k={k},r={r % k},dvs={use_dvs})")
        return check()
    except Exception as exc:  # noqa: BLE001 — any raise is a finding
        return {"kind": "rowtrack_raised", "ops": ops,
                "err": f"{type(exc).__name__}: {exc}"[:300]}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    global MUTATE
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=424242)
    ap.add_argument("--n", type=int, default=20)
    ap.add_argument("--mutate", default=None)
    ap.add_argument("--case", type=int, default=None)
    args = ap.parse_args()
    MUTATE = args.mutate

    from lcr_etl_upgrade_spark.session import get_session

    import lcr_etl_upgrade_spark.delta_lite as dl

    spark = get_session("delta_write_fuzz")
    bound = dl.MAX_DV_POSITIONS
    failures = []
    for i in range(args.n):
        if args.case is not None and i != args.case:
            continue
        rng = np.random.default_rng(args.seed * 7_000_003 + i)
        if i % 8 == 5:
            rec = run_alter_case(spark, rng, i)
        elif i % 8 == 1:
            # every other row-tracking case runs with the deletion-vector
            # positions bound at 0: its vectors are read and written in
            # Python workers instead of on the driver, so both routes
            # stay fuzzed
            dl.MAX_DV_POSITIONS = 0 if i % 16 == 9 else bound
            try:
                rec = run_rowtrack_case(spark, rng, i)
            finally:
                dl.MAX_DV_POSITIONS = bound
        elif i % 4 == 3:
            rec = run_identity_case(spark, rng, i)
        else:
            rec = run_case(spark, rng, i)
        if rec is not None:
            failures.append({"i": i, **rec})
            print(f"FAIL case {i}: {json.dumps(failures[-1])[:400]}",
                  file=sys.stderr)
    print(json.dumps({
        "seed": args.seed, "n": args.n, "mutate": MUTATE,
        "failures": failures, "ok": not failures,
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
