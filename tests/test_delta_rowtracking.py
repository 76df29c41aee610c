"""rowTracking WRITE support: fresh adds get baseRowId ranges allocated
from the delta.rowTracking domain's rowIdHighWaterMark using each
file's own footer numRecords, plus defaultRowCommitVersion; the
advanced watermark commits as a domainMetadata action in the same
version. Ranges never overlap (row ids are never reused), delete_rows
re-adds preserve the original assignment (the file's bytes are
unchanged), and row-tracked appends are single-writer (a blind retry
could reuse ranges the racing writer allocated). The read side (r9)
already carried this state losslessly through checkpoints.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    read_delta_lite,
    replay_log,
    write_delta_lite,
    write_checkpoint,
)


def _enable_row_tracking(path: str) -> None:
    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    feats = set(proto.get("writerFeatures") or ())
    feats |= {"rowTracking", "appendOnly", "invariants",
              "domainMetadata"}
    meta = dict(state.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.enableRowTracking"] = "true"
    meta["configuration"] = cfg
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            **({"readerFeatures": proto["readerFeatures"]}
               if proto.get("readerFeatures") else {}),
            "writerFeatures": sorted(feats),
        }}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")


def _ranges(state):
    """[(baseRowId, numRecords, defaultRowCommitVersion)] per add that
    carries an assignment."""
    out = []
    for rel in sorted(state.files):
        extras = state.adds.get(rel) or {}
        if "baseRowId" in extras:
            n = json.loads(extras["stats"])["numRecords"]
            out.append((int(extras["baseRowId"]), int(n),
                        int(extras["defaultRowCommitVersion"])))
    return out


def test_append_allocates_disjoint_ranges_and_domain(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(0, 7).select("id"), path)
    _enable_row_tracking(path)
    v = write_delta_lite(
        spark.range(7, 20).select("id").repartition(3),
        path, mode="append",
    )
    state = replay_log(spark, path)
    rngs = _ranges(state)
    assert rngs, "appended files must carry baseRowId"
    # disjoint, and every assignment stamped with the committed version
    spans = sorted((b, b + n) for b, n, _ in rngs)
    for (a1, e1), (a2, e2) in zip(spans, spans[1:]):
        assert e1 <= a2
    assert all(dv == v for _, _, dv in rngs)
    total = sum(n for _, n, _ in rngs)
    assert total == 13
    dom = state.domains["delta.rowTracking"]
    hwm = json.loads(dom["configuration"])["rowIdHighWaterMark"]
    assert hwm == max(e for _, e in [(a, b - 1) for a, b in spans])
    # second append continues beyond the watermark
    v2 = write_delta_lite(
        spark.range(20, 25).select("id"), path, mode="append"
    )
    state2 = replay_log(spark, path)
    new = [r for r in _ranges(state2) if r[2] == v2]
    assert new and all(b > hwm for b, _, _ in new)
    hwm2 = json.loads(
        state2.domains["delta.rowTracking"]["configuration"]
    )["rowIdHighWaterMark"]
    assert hwm2 == max(b + n - 1 for b, n, _ in new)


def test_delete_preserves_assignment(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(0, 2).select("id"), path)
    _enable_row_tracking(path)
    write_delta_lite(
        spark.range(2, 12).select("id").coalesce(1), path, mode="append"
    )
    before = {
        rel: dict(extras)
        for rel, extras in replay_log(spark, path).adds.items()
        if "baseRowId" in extras
    }
    assert before

    def _hwm(state):
        return json.loads(
            state.domains["delta.rowTracking"]["configuration"]
        )["rowIdHighWaterMark"]

    hwm_before = _hwm(replay_log(spark, path))
    v = delete_rows(spark, path, F.col("id") == 5)
    after = replay_log(spark, path)
    # a DV delete adds no rows: its commit draws no ids and names no
    # materialized columns — no metaData, no domainMetadata
    log = os.path.join(path, "_delta_log", f"{v:020d}.json")
    kinds = {k for line in open(log) for k in json.loads(line)}
    assert not kinds & {"metaData", "domainMetadata"}
    assert _hwm(after) == hwm_before
    for rel, extras in before.items():
        got = after.adds.get(rel) or {}
        assert got.get("baseRowId") == extras["baseRowId"]
        assert got.get("defaultRowCommitVersion") == (
            extras["defaultRowCommitVersion"]
        )
    assert {r.id for r in read_delta_lite(spark, path).collect()} == (
        set(range(12)) - {5}
    )


def test_row_tracked_append_single_writer(spark, tmp_path, monkeypatch):
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(0, 3).select("id"), path)
    _enable_row_tracking(path)
    real = dl._write_commit_file
    calls = {"n": 0}

    def racing(commit_path, actions):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileExistsError(commit_path)
        real(commit_path, actions)

    monkeypatch.setattr(dl, "_write_commit_file", racing)
    with pytest.raises(FileExistsError, match="row-tracked"):
        write_delta_lite(
            spark.range(3, 5).select("id"), path, mode="append"
        )
    assert calls["n"] == 1


def test_checkpoint_roundtrips_assignments(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(0, 3).select("id"), path)
    _enable_row_tracking(path)
    write_delta_lite(spark.range(3, 9).select("id"), path, mode="append")
    before = replay_log(spark, path)
    write_checkpoint(spark, path)
    # drop pre-checkpoint commits so replay must come from the
    # checkpoint alone
    from lcr_etl_upgrade_spark.delta_lite import cleanup_log

    cleanup_log(spark, path)
    after = replay_log(spark, path)
    assert {
        rel: extras.get("baseRowId")
        for rel, extras in after.adds.items()
    } == {
        rel: extras.get("baseRowId")
        for rel, extras in before.adds.items()
    }
    assert after.domains["delta.rowTracking"] == (
        before.domains["delta.rowTracking"]
    )


# ---- row-ID-preserving OPTIMIZE (round 11) --------------------------------


def _row_ids(spark, path):
    from lcr_etl_upgrade_spark.delta_lite import read_row_ids

    return {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_row_ids(spark, path).collect()
    }


def _tracked_table(spark, path, parts=4, n=40):
    """Table whose EVERY active file carries a rowTracking assignment:
    seeded, feature-enabled, then overwritten + appended."""
    write_delta_lite(spark.range(0, 1).select("id"), path)
    _enable_row_tracking(path)
    write_delta_lite(
        spark.range(0, n // 2).select("id").repartition(parts),
        path,
        mode="overwrite",
    )
    write_delta_lite(
        spark.range(n // 2, n).select("id").repartition(parts),
        path,
        mode="append",
    )


def test_read_row_ids_resolves_base_plus_position(spark, tmp_path):
    path = str(tmp_path / "t")
    _tracked_table(spark, path)
    ids = _row_ids(spark, path)
    assert len(ids) == 40
    rid_values = [v[0] for v in ids.values()]
    assert len(set(rid_values)) == 40  # unique, never reused
    assert all(v[0] is not None and v[1] is not None for v in ids.values())
    # ids reconstruct from the logged ranges exactly
    state = replay_log(spark, path)
    spans = _ranges(state)
    legal = set()
    for b, ncount, _ in spans:
        legal |= set(range(b, b + ncount))
    assert set(rid_values) <= legal


def test_optimize_preserves_row_ids(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import optimize

    path = str(tmp_path / "t")
    _tracked_table(spark, path)
    before = _row_ids(spark, path)
    res = optimize(spark, path, target_file_bytes=1 << 30)
    assert res["version"] is not None and res["rewritten"] >= 2
    after = _row_ids(spark, path)
    assert after == before  # identity stable across the rewrite
    # the table configured materialized shadow columns
    state = replay_log(spark, path)
    cfg = state.metadata["configuration"]
    assert "delta.rowTracking.materializedRowIdColumnName" in cfg
    assert (
        "delta.rowTracking.materializedRowCommitVersionColumnName" in cfg
    )
    # rewritten adds carry FRESH ranges above the prior watermark, and
    # the watermark advanced
    dom = json.loads(
        state.domains["delta.rowTracking"]["configuration"]
    )
    assert dom["rowIdHighWaterMark"] >= max(v[0] for v in before.values())
    # normal reads stay blind to the shadow columns
    from lcr_etl_upgrade_spark.delta_lite import read_delta_lite

    assert read_delta_lite(spark, path).columns == ["id"]


def test_optimize_preserves_ids_through_dv_delete(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import delete_rows, optimize

    path = str(tmp_path / "t")
    _tracked_table(spark, path)
    delete_rows(spark, path, F.col("id") % 3 == 0)
    before = _row_ids(spark, path)
    assert all(k % 3 != 0 for k in before)
    res = optimize(spark, path, target_file_bytes=1 << 30)
    assert res["version"] is not None
    assert _row_ids(spark, path) == before
    # the rewrite materialized the DVs away
    state = replay_log(spark, path)
    assert not state.dvs


def test_second_optimize_prefers_materialized_ids(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import optimize

    path = str(tmp_path / "t")
    _tracked_table(spark, path)
    before = _row_ids(spark, path)
    assert optimize(spark, path, target_file_bytes=1 << 30)["version"]
    # drip more files and compact again: previously-materialized ids
    # must override the second rewrite's fresh baseRowId defaults
    write_delta_lite(
        spark.range(100, 110).select("id").repartition(2),
        path,
        mode="append",
    )
    mid = _row_ids(spark, path)
    assert {k: v for k, v in mid.items() if k < 100} == before
    assert optimize(spark, path, target_file_bytes=1 << 30)["version"]
    assert _row_ids(spark, path) == mid


def test_zorder_optimize_preserves_ids(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import optimize

    path = str(tmp_path / "t")
    _tracked_table(spark, path)
    before = _row_ids(spark, path)
    res = optimize(spark, path, zorder_by=["id"])
    assert res["version"] is not None
    assert _row_ids(spark, path) == before


def test_read_row_ids_refuses_untracked_files(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import read_row_ids

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(0, 5).select("id"), path)
    _enable_row_tracking(path)
    # v0's file never got an assignment and nothing is materialized
    with pytest.raises(ValueError, match="no baseRowId"):
        read_row_ids(spark, path)


def test_partitioned_dv_dml_keeps_row_ids(spark, tmp_path):
    """One task writing several partitions gives every partition
    directory a part file of the SAME basename; row identity must key
    on the full path, or DV-routed UPDATE/MERGE spanning two partitions
    of a row-tracked table mixes (or refuses) those files' ids."""
    from lcr_etl_upgrade_spark.delta_lite import (
        merge_rows,
        read_row_ids,
        set_table_properties,
        update_rows,
    )

    path = str(tmp_path / "t")

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            "id",
            (F.col("id") % 2).cast("int").alias("p"),
            F.lit("x").alias("s"),
        )

    write_delta_lite(rows(0, 1), path, partition_by=("p",))
    _enable_row_tracking(path)
    write_delta_lite(
        rows(0, 400).coalesce(1), path, mode="overwrite",
        partition_by=("p",),
    )
    set_table_properties(
        spark, path, {"delta.enableDeletionVectors": "true"}
    )
    names = [os.path.basename(r) for r in replay_log(spark, path).files]
    assert len(names) == 2 and len(set(names)) == 1

    def ids():
        return {
            r["id"]: r["_row_id"]
            for r in read_row_ids(spark, path).collect()
        }

    before = ids()
    assert len(set(before.values())) == 400
    # 8 of 400 rows, four in each partition: DV routing on both files
    update_rows(spark, path, F.col("id") % 100 < 2, {"s": F.lit("u")})
    st = replay_log(spark, path)
    assert len(st.dvs) == 2
    assert ids() == before
    src = spark.createDataFrame([(10, "m"), (11, "m")], "k long, s2 string")
    merge_rows(
        spark, path, src, "t.id = s.k",
        matched=(("update", None, {"s": "s.s2"}),),
        use_dvs=True,
    )
    assert ids() == before
    got = {r.id: r.s for r in read_delta_lite(spark, path).collect()}
    assert len(got) == 400
    assert {i for i, s in got.items() if s == "u"} == {
        0, 1, 100, 101, 200, 201, 300, 301
    }
    assert {i for i, s in got.items() if s == "m"} == {10, 11}
