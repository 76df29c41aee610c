"""update_rows' deletion-vector write path (r13) + set_table_properties.

The r12 verdict's #1 scale ask: a 1%-selectivity UPDATE was rewriting
32/32 files — at 100 TB that's rewriting ~everything to change 1% of
rows. Now, on tables with deletion vectors enabled, low-selectivity
files commit a DV (mask the old positions) plus appended replacement
rows instead of a rewrite; routing is per file, so one command mixes
both shapes. Mirrors delta-spark's DV-based UPDATE
(``delta.enableDeletionVectors`` gate, remove(oldDv)+add(newDv) commit
shape).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    read_delta_changes,
    read_delta_lite,
    read_row_ids,
    replay_log,
    set_table_properties,
    table_history,
    update_rows,
    write_delta_lite,
)


def _t(spark, path, n=4000, files=4, dv=True):
    df = (
        spark.range(0, n)
        .select(
            "id",
            (F.col("id") % 100).cast("int").alias("v"),
            F.lit("x").alias("s"),
        )
        .repartition(files)
    )
    write_delta_lite(df, path)
    if dv:
        set_table_properties(
            spark, path, {"delta.enableDeletionVectors": "true"}
        )


def test_low_selectivity_update_writes_dvs_not_rewrites(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path)
    before = set(replay_log(spark, path).files)
    update_rows(spark, path, "v = 7", {"s": F.lit("upd")})
    st = replay_log(spark, path)
    # every original file is STILL live (masked, not rewritten)
    assert before <= set(st.files)
    assert len(st.dvs) == 4
    m = table_history(path)[0]["operationMetrics"]
    assert m["numRemovedFiles"] == "0"
    assert m["numDeletionVectorsAdded"] == "4"
    # a DV mask pair is not a file add: only the one replacement file
    assert m["numAddedFiles"] == "1"
    assert m["numUpdatedRows"] == "40"
    got = read_delta_lite(spark, path)
    assert got.count() == 4000
    assert got.filter("s = 'upd'").count() == 40
    assert got.filter("v = 7 and s <> 'upd'").count() == 0


def test_high_selectivity_update_still_rewrites(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path)
    before = set(replay_log(spark, path).files)
    update_rows(spark, path, "v < 60", {"s": F.lit("upd")})  # 60% match
    st = replay_log(spark, path)
    assert not (before & set(st.files)), "high-selectivity must rewrite"
    assert not st.dvs
    got = read_delta_lite(spark, path)
    assert got.count() == 4000
    assert got.filter("s = 'upd'").count() == 2400


def test_plain_table_never_auto_writes_dvs(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    update_rows(spark, path, "v = 7", {"s": F.lit("upd")})
    st = replay_log(spark, path)
    assert not st.dvs
    feats = set((st.protocol or {}).get("writerFeatures") or ())
    assert "deletionVectors" not in feats


def test_use_dvs_true_forces_and_upgrades(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    update_rows(
        spark, path, "v < 60", {"s": F.lit("upd")}, use_dvs=True
    )
    st = replay_log(spark, path)
    assert len(st.dvs) == 4
    assert "deletionVectors" in set(st.protocol["readerFeatures"])
    got = read_delta_lite(spark, path)
    assert got.count() == 4000
    assert got.filter("s='upd'").count() == 2400


def test_use_dvs_false_forces_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path)
    before = set(replay_log(spark, path).files)
    update_rows(spark, path, "v = 7", {"s": F.lit("upd")}, use_dvs=False)
    st = replay_log(spark, path)
    assert not (before & set(st.files))
    assert not st.dvs


def test_mixed_routing_one_commit(spark, tmp_path):
    """One file mostly matching rewrites; the others take DVs."""
    path = str(tmp_path / "t")
    # range-partitioned so file 0 holds ids 0..999 etc.
    df = spark.range(0, 4000).select(
        "id", (F.col("id") % 100).cast("int").alias("v"),
        F.lit("x").alias("s"),
    ).repartitionByRange(4, "id")
    write_delta_lite(df, path)
    set_table_properties(
        spark, path, {"delta.enableDeletionVectors": "true"}
    )
    before = replay_log(spark, path)
    # match ALL of the file holding id<1000, plus 1% of the rest
    update_rows(
        spark, path, "id < 1000 or v = 99", {"s": F.lit("upd")}
    )
    st = replay_log(spark, path)
    survivors = set(before.files) & set(st.files)
    assert len(survivors) == 3, "3 low-fraction files masked"
    assert len(st.dvs) == 3
    assert len(set(before.files) - set(st.files)) == 1, "1 rewritten"
    got = read_delta_lite(spark, path)
    assert got.count() == 4000
    assert got.filter("s='upd'").count() == 1000 + 30


def test_dv_update_cdf_images(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    set_table_properties(
        spark,
        path,
        {
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    v = update_rows(spark, path, "v = 7", {"s": F.lit("upd")})
    ch = read_delta_changes(spark, path, v, v)
    pre = ch.filter("_change_type = 'update_preimage'")
    post = ch.filter("_change_type = 'update_postimage'")
    assert pre.count() == 40 and post.count() == 40
    assert {r["s"] for r in pre.collect()} == {"x"}
    assert {r["s"] for r in post.collect()} == {"upd"}
    assert {r["v"] for r in post.collect()} == {7}


def test_dv_update_after_delete_does_not_resurrect(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path)
    delete_rows(spark, path, "v = 7")  # 40 rows masked
    update_rows(spark, path, "v in (7, 8)", {"s": F.lit("upd")})
    got = read_delta_lite(spark, path)
    assert got.count() == 3960, "deleted rows must stay deleted"
    assert got.filter("v = 7").count() == 0
    assert got.filter("s = 'upd'").count() == 40  # only the v=8 rows
    st = replay_log(spark, path)
    # union: each file's DV covers both the deleted and updated rows
    total_card = sum(int(d["cardinality"]) for d in st.dvs.values())
    assert total_card == 80


def test_dv_update_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path)
    v0 = replay_log(spark, path).version
    update_rows(spark, path, "v = 7", {"s": F.lit("upd")})
    old = read_delta_lite(spark, path, version=v0)
    assert old.filter("s = 'upd'").count() == 0
    assert old.count() == 4000


def _enable_row_tracking(path: str) -> None:
    """Protocol edit enabling rowTracking (mirrors the rowtracking
    suite's helper: enable on an empty table, then append so every
    data file draws a baseRowId range)."""
    import os

    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    feats = set(proto.get("writerFeatures") or ())
    feats |= {"rowTracking", "appendOnly", "invariants", "domainMetadata"}
    meta = dict(state.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.enableRowTracking"] = "true"
    meta["configuration"] = cfg
    log = os.path.join(path, "_delta_log")
    with open(
        os.path.join(log, f"{state.version + 1:020d}.json"), "w"
    ) as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            **({"readerFeatures": proto["readerFeatures"]}
               if proto.get("readerFeatures") else {}),
            "writerFeatures": sorted(feats),
        }}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")


def test_dv_update_row_tracking_preserves_ids(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 2000).select(
        "id", (F.col("id") % 100).cast("int").alias("v"),
        F.lit("x").alias("s"),
    ).repartition(2)
    write_delta_lite(df.limit(0), path)
    _enable_row_tracking(path)
    write_delta_lite(df, path, mode="append")
    set_table_properties(
        spark, path, {"delta.enableDeletionVectors": "true"}
    )
    ids_before = {
        r["id"]: r["_row_id"] for r in read_row_ids(spark, path).collect()
    }
    v = update_rows(spark, path, "v = 7", {"s": F.lit("upd")})
    after = read_row_ids(spark, path)
    rows = after.collect()
    assert len(rows) == 2000
    for r in rows:
        assert r["_row_id"] == ids_before[r["id"]], "row id must survive"
        if r["s"] == "upd":
            assert r["_row_commit_version"] == v
        else:
            assert r["_row_commit_version"] < v


def test_dv_update_few_replacement_files(spark, tmp_path):
    """A 1% update must append ~1 right-sized file, not one sliver per
    scan partition."""
    path = str(tmp_path / "t")
    _t(spark, path, n=8000, files=8)
    before = set(replay_log(spark, path).files)
    update_rows(spark, path, "v = 3", {"s": F.lit("upd")})
    st = replay_log(spark, path)
    new_files = set(st.files) - before
    assert len(new_files) == 1, new_files


# ---------------------------------------------------------------- props


def test_set_properties_roundtrip_and_unset(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    set_table_properties(
        spark, path, {"custom.owner": "team-a", "custom.tier": "gold"}
    )
    cfg = replay_log(spark, path).metadata["configuration"]
    assert cfg["custom.owner"] == "team-a"
    set_table_properties(spark, path, unset=["custom.tier"])
    cfg = replay_log(spark, path).metadata["configuration"]
    assert "custom.tier" not in cfg and cfg["custom.owner"] == "team-a"
    ops = [h["operation"] for h in table_history(path)[:2]]
    assert ops == ["UNSET TBLPROPERTIES", "SET TBLPROPERTIES"]


def test_set_properties_cdf_upgrades_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    v = set_table_properties(
        spark, path, {"delta.enableChangeDataFeed": "true"}
    )
    st = replay_log(spark, path)
    assert "changeDataFeed" in set(st.protocol["writerFeatures"])
    # writer-only feature: reader version must NOT be raised
    assert int(st.protocol["minReaderVersion"]) == 1
    # and the gate actually works end-to-end
    delete_rows(spark, path, "v = 7")
    ch = read_delta_changes(spark, path, v + 1, v + 1)
    assert ch.filter("_change_type = 'delete'").count() == 40


def test_set_properties_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    with pytest.raises(NotImplementedError, match="migration"):
        set_table_properties(
            spark, path, {"delta.columnMapping.mode": "name"}
        )
    with pytest.raises(ValueError, match="add_check_constraint"):
        set_table_properties(
            spark, path, {"delta.constraints.posv": "v >= 0"}
        )
    with pytest.raises(NotImplementedError, match="row tracking"):
        set_table_properties(
            spark, path, {"delta.enableRowTracking": "true"}
        )


# ---------------------------------------------------------------- merge


def test_merge_low_selectivity_writes_dvs(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import merge_rows

    path = str(tmp_path / "t")
    _t(spark, path, n=8000, files=8)
    before = set(replay_log(spark, path).files)
    src = spark.createDataFrame(
        [(5, "U"), (1777, "U"), (9001, "I"), (333, "D")],
        "k long, act string",
    )
    merge_rows(
        spark,
        path,
        src,
        "t.id = s.k",
        matched=(
            ("delete", "s.act = 'D'"),
            ("update", None, {"s": "concat('m-', s.act)"}),
        ),
        not_matched=(
            (
                "insert",
                None,
                {
                    "id": "s.k",
                    "v": "cast(s.k % 100 as int)",
                    "s": "s.act",
                },
            ),
        ),
    )
    st = replay_log(spark, path)
    assert before <= set(st.files), "merge must mask, not rewrite"
    m = table_history(path)[0]["operationMetrics"]
    assert m["numTargetFilesRemoved"] == "0"
    assert int(m["numDeletionVectorsAdded"]) >= 1
    assert m["numTargetRowsUpdated"] == "2"
    assert m["numTargetRowsDeleted"] == "1"
    assert m["numTargetRowsInserted"] == "1"
    got = read_delta_lite(spark, path)
    assert got.count() == 8000
    assert got.filter("id = 333").count() == 0
    assert got.filter("s = 'm-U'").count() == 2
    assert got.filter("id = 9001 and s = 'I'").count() == 1


def test_merge_dv_cdf_mixed_images(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import merge_rows

    path = str(tmp_path / "t")
    _t(spark, path, dv=False)
    set_table_properties(
        spark,
        path,
        {
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    src = spark.createDataFrame(
        [(5, "U"), (333, "D"), (9001, "I")], "k long, act string"
    )
    v = merge_rows(
        spark,
        path,
        src,
        "t.id = s.k",
        matched=(
            ("delete", "s.act = 'D'"),
            ("update", None, {"s": "s.act"}),
        ),
        not_matched=(
            (
                "insert",
                None,
                {
                    "id": "s.k",
                    "v": "cast(s.k % 100 as int)",
                    "s": "s.act",
                },
            ),
        ),
    )
    st = replay_log(spark, path)
    assert st.dvs, "low-selectivity CDF merge should take the DV path"
    ch = read_delta_changes(spark, path, v, v)
    by_type = {
        r["_change_type"]: r["id"]
        for r in ch.select("_change_type", "id").collect()
    }
    assert by_type == {
        "update_preimage": 5,
        "update_postimage": 5,
        "delete": 333,
        "insert": 9001,
    }


def test_merge_dv_sequential_batches_union(spark, tmp_path):
    """The incremental-load shape: repeated small merges against the
    same files must union DVs and never resurrect or drop rows."""
    from lcr_etl_upgrade_spark.delta_lite import merge_rows

    path = str(tmp_path / "t")
    _t(spark, path)
    for batch in range(3):
        src = spark.createDataFrame(
            [(i + batch * 10, batch) for i in range(5)],
            "k long, b int",
        )
        merge_rows(
            spark,
            path,
            src,
            "t.id = s.k",
            matched=(("update", None, {"v": "cast(s.b as int)"}),),
            not_matched=(
                (
                    "insert",
                    None,
                    {"id": "s.k", "v": "cast(s.b as int)", "s": "'i'"},
                ),
            ),
        )
    got = read_delta_lite(spark, path)
    assert got.count() == 4000
    # batch 2 overwrote the overlap of batch 1's keys (20..24)
    vals = {
        r["id"]: r["v"]
        for r in got.filter("id < 35").select("id", "v").collect()
    }
    for k in range(5):
        assert vals[k] == 0
    for k in range(10, 15):
        assert vals[k] == 1
    for k in range(20, 25):
        assert vals[k] == 2
