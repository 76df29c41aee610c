"""read_delta_changes: the emulated change-data-feed reader.

Ground truth is snapshot algebra: for any window, the end snapshot must
equal the start snapshot plus the window's inserts minus its deletes
(multiset semantics via full-row tuples) — checked across appends,
DV deletes, overwrites and multi-commit windows. Plus the contract
edges: dataChange=false invisibility, cdc refusal, schema-change
refusal, timestamps, and column-mapped tables.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    read_delta_changes,
    read_delta_lite,
    replay_log,
    write_delta_lite,
)


def _rows(df, data_cols):
    return Counter(tuple(r[c] for c in data_cols) for r in df.collect())


def _changes(spark, path, lo, hi, data_cols):
    ch = read_delta_changes(spark, path, lo, hi)
    ins = _rows(ch.filter(F.col("_change_type") == "insert"), data_cols)
    dels = _rows(ch.filter(F.col("_change_type") == "delete"), data_cols)
    return ch, ins, dels


def _snapshot_algebra_holds(spark, path, lo, hi, data_cols):
    before = (
        _rows(read_delta_lite(spark, path, version=lo - 1), data_cols)
        if lo > 0
        else Counter()
    )
    after = _rows(read_delta_lite(spark, path, version=hi), data_cols)
    _, ins, dels = _changes(spark, path, lo, hi, data_cols)
    assert before + ins - dels == after, (before, ins, dels, after)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("g")
    )
    write_delta_lite(df, path)  # v0: 10 inserts
    write_delta_lite(
        spark.range(10, 14).select(F.col("id"), (F.col("id") % 3).alias("g")),
        path,
        mode="append",
    )  # v1: 4 inserts
    delete_rows(spark, path, F.col("id") % 2 == 0)  # v2: DV delete of evens
    return path


def test_insert_only_commit(spark, table):
    ch, ins, dels = _changes(spark, table, 1, 1, ["id", "g"])
    assert not dels
    assert ins == Counter({(i, i % 3): 1 for i in range(10, 14)})
    assert set(
        r["_commit_version"] for r in ch.collect()
    ) == {1}


def test_dv_delete_commit_yields_exact_deleted_rows(spark, table):
    _, ins, dels = _changes(spark, table, 2, 2, ["id", "g"])
    assert not ins
    assert dels == Counter({(i, i % 3): 1 for i in range(0, 14, 2)})


def test_overwrite_is_full_delete_plus_insert(spark, table):
    write_delta_lite(
        spark.range(100, 103).select(
            F.col("id"), F.lit(9).cast("long").alias("g")
        ),
        table,
    )  # v3 overwrite
    _, ins, dels = _changes(spark, table, 3, 3, ["id", "g"])
    live_before = {(i, i % 3) for i in range(14) if i % 2 == 1}
    assert dels == Counter({t: 1 for t in live_before})
    assert ins == Counter({(i, 9): 1 for i in range(100, 103)})


@pytest.mark.parametrize("window", [(0, 2), (1, 2), (0, 0), (2, 2)])
def test_snapshot_algebra_across_windows(spark, table, window):
    _snapshot_algebra_holds(spark, table, *window, ["id", "g"])


def test_second_dv_delete_only_reports_newly_deleted(spark, table):
    delete_rows(spark, table, F.col("id") % 3 == 0)  # v3: 3,9 newly (0,6,12 already gone)
    _, ins, dels = _changes(spark, table, 3, 3, ["id", "g"])
    assert not ins
    assert dels == Counter({(3, 0): 1, (9, 0): 1})
    _snapshot_algebra_holds(spark, table, 3, 3, ["id", "g"])


def test_cdf_columns_and_timestamp(spark, table):
    ch = read_delta_changes(spark, table, 0, 2)
    assert ch.columns[-3:] == [
        "_change_type",
        "_commit_version",
        "_commit_timestamp",
    ]
    assert ch.filter(F.col("_commit_timestamp").isNull()).count() == 0


def test_empty_window_returns_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id"), path)
    import json
    import os

    # v1: a metadata-only commit (no data change)
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, "00000000000000000000.json")) as fh:
        meta = next(
            json.loads(ln)["metaData"]
            for ln in fh
            if '"metaData"' in ln
        )
    with open(os.path.join(log, "00000000000000000001.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    ch = read_delta_changes(spark, path, 1, 1)
    assert ch.count() == 0
    assert ch.columns == [
        "id",
        "_change_type",
        "_commit_version",
        "_commit_timestamp",
    ]


def test_datachange_false_commits_are_invisible(spark, tmp_path):
    """A compaction-style rewrite (remove+add with dataChange=false)
    must produce NO change rows."""
    import glob
    import json
    import os
    import shutil

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(6).select("id"), path)
    log = os.path.join(path, "_delta_log")
    # fabricate a dataChange=false rewrite: copy the active files under
    # new names, remove+add in one commit
    with open(os.path.join(log, "00000000000000000000.json")) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    new_actions = []
    for i, a in enumerate(adds):
        new_rel = f"compacted_{i}.parquet"
        shutil.copy(
            os.path.join(path, a["path"]), os.path.join(path, new_rel)
        )
        new_actions.append(
            {"remove": {"path": a["path"], "dataChange": False,
                        "deletionTimestamp": 1}}
        )
        new_actions.append(
            {"add": {"path": new_rel, "partitionValues": {},
                     "size": a["size"], "modificationTime": 1,
                     "dataChange": False}}
        )
    with open(os.path.join(log, "00000000000000000001.json"), "w") as fh:
        for a in new_actions:
            fh.write(json.dumps(a) + "\n")
    ch = read_delta_changes(spark, path, 1, 1)
    assert ch.count() == 0
    # and the table still reads fine afterwards
    assert read_delta_lite(spark, path).count() == 6


def test_foreign_cdc_actions_consumed_not_derived(spark, tmp_path):
    """A delta-spark UPDATE on a CDF table commits remove+add of the
    rewritten file PLUS cdc actions carrying the precise pre/postimage
    rows; the reader must serve the change files exclusively — deriving
    from add/remove too would report every carried-over row as
    delete+insert (round 10 upgraded the old refusal to consumption)."""
    import json
    import os

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id").coalesce(1), path)
    # the foreign UPDATE: id=1 -> id=11; rewritten data file + cdc file
    new_rel = "part-update.parquet"
    spark.createDataFrame([(0,), (11,), (2,)], "id long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    import shutil

    part = next(
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    )
    shutil.copy(tmp_path / "stage" / part, os.path.join(path, new_rel))
    cdc_rel = "_change_data/cdc-0.parquet"
    os.makedirs(os.path.join(path, "_change_data"), exist_ok=True)
    spark.createDataFrame(
        [(1, "update_preimage"), (11, "update_postimage")],
        "id long, _change_type string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage2")
    )
    part2 = next(
        f for f in os.listdir(tmp_path / "stage2")
        if f.endswith(".parquet")
    )
    shutil.copy(
        tmp_path / "stage2" / part2, os.path.join(path, cdc_rel)
    )
    old_rel = sorted(replay_log(spark, path).files)[0]
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, "00000000000000000001.json"), "w") as fh:
        for a in [
            {"cdc": {"path": cdc_rel, "partitionValues": {},
                     "size": 1, "dataChange": False}},
            {"remove": {"path": old_rel, "dataChange": True,
                        "deletionTimestamp": 1}},
            {"add": {"path": new_rel, "partitionValues": {},
                     "size": os.path.getsize(
                         os.path.join(path, new_rel)),
                     "modificationTime": 1, "dataChange": True}},
        ]:
            fh.write(json.dumps(a) + "\n")
    rows = read_delta_changes(spark, path, 1, 1).collect()
    got = {(r["id"], r["_change_type"]) for r in rows}
    assert got == {(1, "update_preimage"), (11, "update_postimage")}
    # the snapshot advanced to the rewritten file regardless
    assert {
        r.id for r in read_delta_lite(spark, path).collect()
    } == {0, 11, 2}
    # and the pyarrow oracle agrees
    from lcr_etl_upgrade_spark.cdf_arrow import arrow_changes

    arrows = {(t[0], t[1]) for t in arrow_changes(path, 1, 1)}
    assert arrows == got


def test_schema_change_in_window_is_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id"), path)  # v0
    write_delta_lite(
        spark.range(3).select("id", F.lit("x").alias("s")), path
    )  # v1: overwrite with a NEW schema
    with pytest.raises(NotImplementedError, match="schema"):
        read_delta_changes(spark, path, 0, 1)
    # the schema-change commit itself is unreadable too: its deletes
    # are old-schema rows, its inserts new-schema rows — no coherent
    # single output schema exists
    with pytest.raises(NotImplementedError, match="schema"):
        read_delta_changes(spark, path, 1, 1)
    # before the change everything reads
    assert read_delta_changes(spark, path, 0, 0).count() == 3


def test_metadata_only_schema_change_then_append_is_readable(spark, tmp_path):
    """The precision case: a pure-metadata schema change (no file
    actions) inside the window must NOT poison it — the only rows read
    are the later append's, all under the new schema."""
    import json
    import os

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(3).select("id", F.lit("a").alias("s")), path
    )  # v0
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, "00000000000000000000.json")) as fh:
        meta = next(
            json.loads(ln)["metaData"] for ln in fh if '"metaData"' in ln
        )
    sch = json.loads(meta["schemaString"])
    sch["fields"][1]["nullable"] = True  # widen: same identity
    meta2 = {**meta, "schemaString": json.dumps(sch)}
    with open(os.path.join(log, "00000000000000000001.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta2}) + "\n")
    write_delta_lite(
        spark.range(3, 5).select("id", F.lit("b").alias("s")),
        path,
        mode="append",
    )  # v2
    ch = read_delta_changes(spark, path, 1, 2)
    assert _rows(ch, ["id", "s", "_change_type"]) == Counter(
        {(3, "b", "insert"): 1, (4, "b", "insert"): 1}
    )


def test_column_mapped_table_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(5).select(F.col("id"), F.lit("a").alias("s"))
    write_delta_lite(df, path, column_mapping="name")  # v0
    delete_rows(spark, path, F.col("id") >= 3)  # v1
    _, ins, dels = _changes(spark, path, 0, 1, ["id", "s"])
    assert ins == Counter({(i, "a"): 1 for i in range(5)})
    assert dels == Counter({(3, "a"): 1, (4, "a"): 1})
    _snapshot_algebra_holds(spark, path, 0, 1, ["id", "s"])


def test_partitioned_table_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(8).select(
        F.col("id"), (F.col("id") % 2).cast("long").alias("p")
    )
    write_delta_lite(df, path, partition_by=("p",))  # v0
    delete_rows(spark, path, F.col("id") < 2)  # v1
    _, ins, dels = _changes(spark, path, 0, 1, ["id", "p"])
    assert ins == Counter({(i, i % 2): 1 for i in range(8)})
    assert dels == Counter({(0, 0): 1, (1, 1): 1})
    _snapshot_algebra_holds(spark, path, 0, 1, ["id", "p"])


def test_partitioned_change_classes_read_one_relation(spark, tmp_path):
    """On a hive-layout partitioned table every change class is ONE
    parquet scan, however many partitions it spans: an overwrite's
    deletes and inserts, and a deletion-vector delete's diff with its
    one position join."""
    from lcr_etl_upgrade_spark.delta_lite import set_table_properties

    path = str(tmp_path / "t")

    def rows(lo, hi):
        return spark.range(lo, hi, numPartitions=1).select(
            F.col("id"), (F.col("id") % 16).cast("long").alias("p")
        )

    write_delta_lite(rows(0, 160), path, partition_by=("p",))  # v0
    set_table_properties(
        spark, path, {"delta.enableDeletionVectors": "true"}
    )  # v1
    write_delta_lite(
        rows(0, 320), path, mode="overwrite", partition_by=("p",)
    )  # v2
    delete_rows(spark, path, F.col("id") % 7 == 3)  # v3
    state = replay_log(spark, path)
    assert len({pv["p"] for pv in state.files.values()}) == 16
    assert len(state.dvs) == len(state.files) == 16
    for v, classes in ((2, 2), (3, 1)):
        plan = (
            read_delta_changes(spark, path, v, v)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Scan parquet") <= classes, plan
        _snapshot_algebra_holds(spark, path, v, v, ["id", "p"])
    plan = (
        read_delta_changes(spark, path, 3, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") <= 1, plan


def test_invalid_windows_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id"), path)
    with pytest.raises(ValueError, match="invalid change window"):
        read_delta_changes(spark, path, 1, 0)
    with pytest.raises(ValueError, match="invalid change window"):
        read_delta_changes(spark, path, 0, 99)


def test_dv_shrink_reports_restored_rows_as_inserts(spark, tmp_path):
    """A commit that REPLACES a file's DV with nothing (a restore)
    yields the previously-deleted rows as inserts (old minus new)."""
    import json
    import os

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(6).coalesce(1).select("id"), path
    )  # v0: one file
    delete_rows(spark, path, F.col("id") < 2)  # v1: DV marks 0,1
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, "00000000000000000001.json")) as fh:
        add = next(
            json.loads(ln)["add"] for ln in fh if '"add"' in ln
        )
    restore = [
        {"remove": {"path": add["path"], "dataChange": True,
                    "deletionTimestamp": 9,
                    "deletionVector": add["deletionVector"]}},
        {"add": {**{k: v for k, v in add.items()
                    if k != "deletionVector"}, "dataChange": True}},
    ]
    with open(os.path.join(log, "00000000000000000002.json"), "w") as fh:
        for a in restore:
            fh.write(json.dumps(a) + "\n")
    _, ins, dels = _changes(spark, path, 2, 2, ["id"])
    assert not dels
    assert ins == Counter({(0,): 1, (1,): 1})
    _snapshot_algebra_holds(spark, path, 2, 2, ["id"])


def test_cdf_scans_only_changed_files(spark, tmp_path):
    """Plan-level scale evidence: a window's change scan reads ONLY the
    files its commits touched — an append's change feed must not input
    the base table's files."""
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(1000).select("id").repartition(4), path
    )  # v0: 4 files
    write_delta_lite(
        spark.range(1000, 1010).select("id").coalesce(1),
        path,
        mode="append",
    )  # v1: 1 file
    ch = read_delta_changes(spark, path, 1, 1)
    files = ch.inputFiles()
    assert len(files) == 1, files
    base_files = read_delta_lite(spark, path, version=0).inputFiles()
    assert not set(files) & set(base_files)


def test_consume_delta_changes_loop(spark, tmp_path):
    """The CDC consumption composition: version-cursor watermark, whole
    windows, advance-after-process, crash replay."""
    from lcr_etl_upgrade_spark.operators.incremental import (
        WatermarkStore,
        consume_delta_changes,
    )

    path = str(tmp_path / "t")
    store = WatermarkStore(str(tmp_path / "wm"))
    seen: list[tuple] = []

    def collect(df, window):
        seen.append((window, _rows(df, ["id", "_change_type"])))

    write_delta_lite(spark.range(3).select("id"), path)  # v0
    assert consume_delta_changes(spark, path, store, "t", collect) == (0, 0)
    assert seen[-1][1] == Counter({(i, "insert"): 1 for i in range(3)})
    # nothing new -> no-op, process not called
    assert consume_delta_changes(spark, path, store, "t", collect) is None
    assert len(seen) == 1
    # two more commits consumed as one window
    write_delta_lite(spark.range(3, 5).select("id"), path, mode="append")
    delete_rows(spark, path, F.col("id") == 0)
    assert consume_delta_changes(spark, path, store, "t", collect) == (1, 2)
    assert seen[-1][1] == Counter(
        {(3, "insert"): 1, (4, "insert"): 1, (0, "delete"): 1}
    )
    # a crashing processor must NOT advance the cursor; the retry
    # replays the same window
    write_delta_lite(spark.range(5, 6).select("id"), path, mode="append")

    def boom(df, window):
        raise RuntimeError("consumer crash")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        consume_delta_changes(spark, path, store, "t", boom)
    assert consume_delta_changes(spark, path, store, "t", collect) == (3, 3)
    assert seen[-1][1] == Counter({(5, "insert"): 1})
