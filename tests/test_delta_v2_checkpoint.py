"""Round-9 ask #3: v2 checkpoint WRITES (UUID-named manifest +
add-action sidecar) and the rowTracking checkpoint gate opening.

Layout per the public Delta protocol's "V2 spec": a table listing the
``v2Checkpoint`` reader feature must be checkpointed as
``{v}.checkpoint.{uuid}.parquet`` whose add/remove content may live in
``_delta_log/_sidecars/*.parquet`` files referenced by ``sidecar``
actions, with a ``checkpointMetadata`` action carrying the version.
The reader half has existed since round 6 (delta_lite._read_checkpoint
reads all three layouts); these tests close the write→read loop with
everything engine-authored, plus log truncation (replay from the
checkpoint ONLY) and vacuum interaction.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    enable_v2_checkpoint,
    read_delta_lite,
    replay_log,
    vacuum,
    write_checkpoint,
    write_delta_lite,
)

V2_NAME = re.compile(
    r"^\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet$"
)


def _log_files(path):
    return sorted(os.listdir(os.path.join(path, "_delta_log")))


def test_v2_checkpoint_round_trip_dv_mapped_table(spark, tmp_path):
    """The headline round-trip: a column-mapped table with deletion
    vectors, v2-checkpointed by this engine, replayed from the
    checkpoint ALONE after every JSON commit is removed."""
    path = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id", "id * 10 as v")
    write_delta_lite(df, path, column_mapping="name")
    delete_rows(spark, path, "id < 5")
    v = enable_v2_checkpoint(spark, path)
    cp_v = write_checkpoint(spark, path)
    assert cp_v == v

    log = _log_files(path)
    v2 = [f for f in log if V2_NAME.match(f)]
    assert len(v2) == 1, log
    assert not any(
        f.endswith(".checkpoint.parquet") for f in log
    ), "classic layout must not be written for a v2Checkpoint table"
    sidecars = os.listdir(os.path.join(path, "_delta_log", "_sidecars"))
    assert len(sidecars) == 1 and sidecars[0].endswith(".parquet")

    expected = {(r.id, r.v) for r in read_delta_lite(spark, path).collect()}
    assert expected == {(i, i * 10) for i in range(5, 20)}

    # log truncation: replay must come from the checkpoint only
    for f in _log_files(path):
        if f.endswith(".json"):
            os.remove(os.path.join(path, "_delta_log", f))
    state = replay_log(spark, path)
    assert state.version == cp_v
    got = {(r.id, r.v) for r in read_delta_lite(spark, path).collect()}
    assert got == expected


def test_v2_checkpoint_discovered_without_hint(spark, tmp_path):
    """_last_checkpoint is a hint; a deleted hint must not orphan the
    v2 files (listing-based discovery)."""
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(8).selectExpr("id"), path)
    enable_v2_checkpoint(spark, path)
    write_checkpoint(spark, path)
    os.remove(os.path.join(path, "_delta_log", "_last_checkpoint"))
    for f in _log_files(path):
        if f.endswith(".json"):
            os.remove(os.path.join(path, "_delta_log", f))
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(8))


def test_writes_continue_on_v2_checkpoint_table(spark, tmp_path):
    """v2Checkpoint is in _SUPPORTED_WRITER_FEATURES: append and delete
    keep working after the upgrade, and the auto-checkpoint hook emits
    the v2 layout."""
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(10).selectExpr("id"), path)
    enable_v2_checkpoint(spark, path)
    write_delta_lite(
        spark.range(10, 15).selectExpr("id"), path, mode="append"
    )
    delete_rows(spark, path, "id = 3")
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(15)) - {3}
    write_checkpoint(spark, path)
    assert any(V2_NAME.match(f) for f in _log_files(path))


def test_enable_v2_checkpoint_idempotent_and_feature_preserving(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(5).selectExpr("id", "id * 2 as v"),
        path,
        column_mapping="id",
    )
    v1 = enable_v2_checkpoint(spark, path)
    assert enable_v2_checkpoint(spark, path) == v1  # no second commit
    proto = replay_log(spark, path).protocol
    assert "columnMapping" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    # the legacy implicit writer-v2 features came along on the upgrade
    # path that starts from writer version 2
    write_delta_lite(
        spark.range(5).selectExpr("id", "id * 2 as v"), path,
        mode="append",
    )
    assert read_delta_lite(spark, path).count() == 10


def test_vacuum_keeps_v2_checkpoint_referenced_files(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(10).selectExpr("id"), path)
    enable_v2_checkpoint(spark, path)
    write_checkpoint(spark, path)
    for f in _log_files(path):
        if f.endswith(".json"):
            os.remove(os.path.join(path, "_delta_log", f))
    removed = vacuum(spark, path)
    assert removed == []
    assert read_delta_lite(spark, path).count() == 10


def test_rowtracking_table_checkpoints_losslessly(spark, tmp_path):
    """A foreign rowTracking table (per-file baseRowId /
    defaultRowCommitVersion + the delta.rowTracking domain) now
    checkpoints instead of refusing, and replay from the checkpoint
    preserves those fields byte-for-byte. Data WRITES to such a table
    allocate fresh row-id ranges past the foreign watermark (r10)."""
    path = tmp_path / "rt"
    (path / "_delta_log").mkdir(parents=True)
    sub = path / "stage"
    spark.range(6).selectExpr("id").coalesce(1).write.parquet(str(sub))
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(sub / f, path / "part-0.parquet")
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}},
        ]}),
        "partitionColumns": [], "configuration": {},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": [],
            "writerFeatures": ["rowTracking", "domainMetadata"]}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "baseRowId": 42, "defaultRowCommitVersion": 0}}) + "\n")
        fh.write(json.dumps({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps({"rowIdHighWaterMark": 47}),
            "removed": False}}) + "\n")
    p = str(path)
    write_checkpoint(spark, p)
    os.remove(path / "_delta_log" / f"{0:020d}.json")
    state = replay_log(spark, p)
    assert state.adds["part-0.parquet"]["baseRowId"] == 42
    assert state.adds["part-0.parquet"]["defaultRowCommitVersion"] == 0
    assert state.domains["delta.rowTracking"]["configuration"] == (
        json.dumps({"rowIdHighWaterMark": 47})
    )
    assert set(r.id for r in read_delta_lite(spark, p).collect()) == set(
        range(6)
    )
    # r10: rowTracking WRITES are implemented — the append allocates a
    # fresh baseRowId range past the foreign watermark and advances it
    write_delta_lite(spark.range(6, 9).selectExpr("id"), p, mode="append")
    state2 = replay_log(spark, p)
    new_adds = [
        e for r, e in state2.adds.items() if r != "part-0.parquet"
    ]
    assert new_adds and all(e["baseRowId"] > 47 for e in new_adds)
    hwm = json.loads(
        state2.domains["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"]
    assert hwm >= max(e["baseRowId"] for e in new_adds)


def test_v2_checkpoint_composes_with_later_commits_and_time_travel(
    spark, tmp_path
):
    """A v2 checkpoint is a replay SHORTCUT, not a wall: commits after
    it replay on top, and time travel both AT and BELOW the checkpoint
    version still resolves."""
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(5).selectExpr("id"), path)        # v0
    v_en = enable_v2_checkpoint(spark, path)                       # v1
    cp_v = write_checkpoint(spark, path)
    assert cp_v == v_en
    write_delta_lite(
        spark.range(5, 8).selectExpr("id"), path, mode="append"    # v2
    )
    delete_rows(spark, path, "id = 0")                             # v3
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(1, 8))
    # at the checkpoint version
    assert set(
        r.id for r in read_delta_lite(spark, path, version=cp_v).collect()
    ) == set(range(5))
    # below it (JSON commits still present)
    assert set(
        r.id for r in read_delta_lite(spark, path, version=0).collect()
    ) == set(range(5))


def test_two_v2_checkpoints_discovery_picks_right_version(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(4).selectExpr("id"), path)        # v0
    enable_v2_checkpoint(spark, path)                              # v1
    v_a = write_checkpoint(spark, path)                            # cp@1
    write_delta_lite(
        spark.range(4, 9).selectExpr("id"), path, mode="overwrite"  # v2
    )
    v_b = write_checkpoint(spark, path)                            # cp@2
    assert (v_a, v_b) == (1, 2)
    log_dir = os.path.join(path, "_delta_log")
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    for f in list(os.listdir(log_dir)):
        if f.endswith(".json"):
            os.remove(os.path.join(log_dir, f))
    # latest from the newest discovered v2 checkpoint
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(4, 9))
    # time travel to the OLDER checkpointed version, commits gone
    assert set(
        r.id for r in read_delta_lite(spark, path, version=v_a).collect()
    ) == set(range(4))


def test_auto_checkpoint_hook_writes_v2_on_upgraded_table(
    spark, tmp_path, monkeypatch
):
    """The best-effort every-CHECKPOINT_INTERVAL hook is the commit
    tail's, so EVERY command reaches it — here OPTIMIZE and an ALTER
    land the checkpoint versions — and it emits the v2 layout once the
    feature is on. Every commit carries a commitInfo, the v2 enablement
    included."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    monkeypatch.setattr(dl, "CHECKPOINT_INTERVAL", 3)
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).selectExpr("id"), path)        # v0
    enable_v2_checkpoint(spark, path)                              # v1
    write_delta_lite(
        spark.range(3, 5).selectExpr("id"), path, mode="append"    # v2
    )
    assert dl.optimize(spark, path)["version"] == 3                # v3
    write_delta_lite(
        spark.range(5, 6).selectExpr("id"), path, mode="append"    # v4
    )
    write_delta_lite(
        spark.range(6, 7).selectExpr("id"), path, mode="append"    # v5
    )
    assert dl.set_table_properties(spark, path, {"owner": "etl"}) == 6
    log = os.listdir(os.path.join(path, "_delta_log"))
    for v in (3, 6):
        assert any(
            f.startswith(f"{v:020d}.checkpoint.") and V2_NAME.match(f)
            for f in log
        ), (v, log)
    ops = [h["operation"] for h in dl.table_history(path)]
    assert None not in ops, ops
    assert ops[-2] == "SET TBLPROPERTIES", ops
    assert {r.id for r in read_delta_lite(spark, path).collect()} == set(
        range(7)
    )


# ---- cleanup_log ----------------------------------------------------------


def test_cleanup_log_bounds_the_log(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import cleanup_log

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(4).selectExpr("id"), path)         # v0
    write_delta_lite(spark.range(4, 6).selectExpr("id"), path,
                     mode="append")                                 # v1
    write_checkpoint(spark, path)                                   # cp@1
    write_delta_lite(spark.range(6, 9).selectExpr("id"), path,
                     mode="append")                                 # v2
    v_cp = write_checkpoint(spark, path)                            # cp@2
    write_delta_lite(spark.range(9, 10).selectExpr("id"), path,
                     mode="append")                                 # v3
    removed = cleanup_log(spark, path)
    log = _log_files(path)
    # commits and checkpoint below the horizon (v2) are gone
    assert f"{0:020d}.json" in removed and f"{1:020d}.json" in removed
    assert f"{1:020d}.checkpoint.parquet" in removed
    # the horizon checkpoint and the post-horizon commit remain
    assert f"{v_cp:020d}.checkpoint.parquet" in log
    assert f"{3:020d}.json" in log
    # latest replays (checkpoint + retained commits)
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(10))
    # time travel AT the horizon still works from the checkpoint alone
    assert set(
        r.id for r in read_delta_lite(spark, path, version=v_cp).collect()
    ) == set(range(9))
    # below the horizon: clear refusal, not silence
    with pytest.raises(ValueError):
        read_delta_lite(spark, path, version=0)
    # idempotent
    assert cleanup_log(spark, path) == []


def test_cleanup_log_gc_unreferenced_sidecars_only(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import cleanup_log

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(5).selectExpr("id"), path)         # v0
    enable_v2_checkpoint(spark, path)                               # v1
    write_checkpoint(spark, path)                                   # v2 cp@1
    write_delta_lite(spark.range(5, 7).selectExpr("id"), path,
                     mode="append")                                 # v2
    write_checkpoint(spark, path)                                   # cp@2
    side_dir = os.path.join(path, "_delta_log", "_sidecars")
    assert len(os.listdir(side_dir)) == 2
    removed = cleanup_log(spark, path)
    # the old checkpoint's sidecar is GC'd, the retained one survives
    assert len(os.listdir(side_dir)) == 1
    assert sum(1 for r in removed if r.startswith("_sidecars/")) == 1
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(7))
    # and the retained state survives full log truncation semantics:
    # replay uses the horizon checkpoint
    for f in _log_files(path):
        if f.endswith(".json"):
            os.remove(os.path.join(path, "_delta_log", f))
    assert read_delta_lite(spark, path).count() == 7


def test_cleanup_log_noop_without_checkpoint(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import cleanup_log

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).selectExpr("id"), path)
    assert cleanup_log(spark, path) == []
    assert read_delta_lite(spark, path).count() == 3


def test_vacuum_and_cleanup_skip_corrupt_stray_checkpoint(spark, tmp_path):
    """A garbage checkpoint file that replay skips (every reader falls
    back past it) is skipped by vacuum and cleanup_log too: both work
    from the checkpoint replay actually starts from, instead of failing
    on the stray file."""
    from lcr_etl_upgrade_spark.delta_lite import cleanup_log

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(4).selectExpr("id"), path)         # v0
    write_delta_lite(spark.range(4, 6).selectExpr("id"), path,
                     mode="append")                                 # v1
    stray = f"{1:020d}.checkpoint.parquet"
    with open(os.path.join(path, "_delta_log", stray), "wb") as fh:
        fh.write(b"not a parquet file")
    assert read_delta_lite(spark, path).count() == 6
    assert vacuum(spark, path) == []
    # replay starts from no checkpoint: nothing to clean below
    assert cleanup_log(spark, path) == []
    assert stray in _log_files(path)
    write_delta_lite(spark.range(6, 9).selectExpr("id"), path,
                     mode="append")                                 # v2
    v_cp = write_checkpoint(spark, path)                            # cp@2
    removed = cleanup_log(spark, path)
    assert stray in removed and f"{1:020d}.json" in removed
    assert f"{v_cp:020d}.checkpoint.parquet" in _log_files(path)
    assert vacuum(spark, path) == []
    assert {r.id for r in read_delta_lite(spark, path).collect()} == set(
        range(9)
    )


def test_checkpoint_policy_property_governs_layout(spark, tmp_path):
    """delta.checkpointPolicy is the switch real writers key off:
    enable_v2_checkpoint sets it (verified), policy 'classic' on a
    feature-listed table keeps the classic layout, and an explicit
    'v2' policy alone (foreign enablement) selects v2."""
    from lcr_etl_upgrade_spark.delta_lite import replay_log as _replay

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(4).selectExpr("id"), path)
    enable_v2_checkpoint(spark, path)
    st = _replay(spark, path)
    assert st.metadata["configuration"]["delta.checkpointPolicy"] == "v2"
    assert "v2Checkpoint" in st.protocol["readerFeatures"]

    # feature listed but policy EXPLICITLY classic -> classic layout
    path2 = str(tmp_path / "u")
    write_delta_lite(spark.range(4).selectExpr("id"), path2)
    enable_v2_checkpoint(spark, path2)
    st2 = _replay(spark, path2)
    meta = dict(st2.metadata)
    meta["configuration"] = dict(
        meta["configuration"], **{"delta.checkpointPolicy": "classic"}
    )
    with open(os.path.join(path2, "_delta_log",
                           f"{st2.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    v = write_checkpoint(spark, path2)
    log = _log_files(path2)
    assert f"{v:020d}.checkpoint.parquet" in log
    assert not any(
        V2_NAME.match(f) and f.startswith(f"{v:020d}.") for f in log
    )
    assert read_delta_lite(spark, path2).count() == 4


def test_overwrite_preserves_table_configuration(spark, tmp_path):
    """Overwrite replaces schema+data but must PRESERVE configuration
    (delta.checkpointPolicy, user properties) — round-9 review finding:
    the metaData rebuild used to strip every non-columnMapping key."""
    from lcr_etl_upgrade_spark.delta_lite import replay_log as _replay

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(4).selectExpr("id"), path)
    enable_v2_checkpoint(spark, path)
    # inject a user property the way an external tool would
    st = _replay(spark, path)
    meta = dict(st.metadata)
    meta["configuration"] = dict(
        meta["configuration"], **{"user.prop": "keepme"}
    )
    with open(os.path.join(path, "_delta_log",
                           f"{st.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")

    write_delta_lite(
        spark.range(9).selectExpr("id", "id * 2 as v"), path,
        mode="overwrite",
    )
    cfg = _replay(spark, path).metadata["configuration"]
    assert cfg["delta.checkpointPolicy"] == "v2"
    assert cfg["user.prop"] == "keepme"
    # and the checkpoint layout decision survives the overwrite
    v = write_checkpoint(spark, path)
    assert any(
        V2_NAME.match(f) and f.startswith(f"{v:020d}.")
        for f in _log_files(path)
    )
