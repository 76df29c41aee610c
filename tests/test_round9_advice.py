"""Round-9 regression tests for the four ADVICE.md findings:

1. delete_rows on a column-mapped table must run the same
   physical-name footer check read_delta_lite does (a foreign id-mode
   table would otherwise scan all-NULL and a `col IS NULL` predicate
   would silently mask every row).
2. A delete whose matches are ALL already masked by existing DVs must
   be a no-op (same version, no commit, no new .bin files), not a
   byte-identical DV rewrite under a fresh uuid.
3. An overwrite (or fresh create) whose incoming DataFrame schema
   carries delta.invariants field metadata must never commit
   UNVALIDATED rows under it — originally by refusal; since round 10
   the writer evaluates the expressions on the incoming rows, so the
   test asserts enforce-or-unstage instead.
4. write_checkpoint losslessness — those cases live with the other
   checkpoint tests in test_delta_lite.py.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    read_delta_lite,
    replay_log,
    write_delta_lite,
)


# ---- 1: delete_rows physical-name verification ---------------------------


def test_delete_rows_refuses_foreign_id_mode_table(spark, tmp_path):
    path = tmp_path / "idforeign"
    (path / "_delta_log").mkdir(parents=True)
    sub = path / "stage"
    # parquet columns do NOT carry the physical names from the log
    spark.createDataFrame([(1, "a")], "`c1` long, `c2` string").coalesce(
        1
    ).write.parquet(str(sub))
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(sub / f, path / "part-0.parquet")
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "name", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ]}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "id"},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"]}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    # before the fix this would silently mask EVERY row (all columns
    # scan as NULL, so `id IS NULL` matches everything)
    with pytest.raises(NotImplementedError, match="field-id"):
        delete_rows(spark, str(path), "id IS NULL")


def test_delete_rows_still_works_on_engine_written_mapped_table(
    spark, tmp_path
):
    path = str(tmp_path / "mapped")
    df = spark.range(10).selectExpr("id", "id * 10 as v")
    write_delta_lite(df, path, column_mapping="name")
    delete_rows(spark, path, "id < 3")
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(3, 10))


# ---- 2: no-op deletes don't commit ---------------------------------------


def test_delete_already_masked_rows_is_a_noop(spark, tmp_path):
    path = str(tmp_path / "noop")
    write_delta_lite(
        spark.range(10).selectExpr("id", "id * 10 as v"), path
    )
    v1 = delete_rows(spark, path, "id < 3")
    base_bins = sorted(
        f for f in os.listdir(path) if f.endswith(".bin")
    )
    commits = sorted(os.listdir(os.path.join(path, "_delta_log")))
    # same predicate again: every match is already masked
    v2 = delete_rows(spark, path, "id < 3")
    assert v2 == v1
    assert sorted(os.listdir(os.path.join(path, "_delta_log"))) == commits
    assert sorted(
        f for f in os.listdir(path) if f.endswith(".bin")
    ) == base_bins
    # a strict subset of already-masked rows is also a no-op
    assert delete_rows(spark, path, "id = 1") == v1
    # but a WIDER predicate still commits, unioning old+new positions
    v3 = delete_rows(spark, path, "id < 5")
    assert v3 == v1 + 1
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(5, 10))


# ---- 3: overwrite/create with invariant-bearing incoming schema ----------


def test_incoming_invariants_metadata_enforced_not_refused(spark, tmp_path):
    """The r9 rule was refuse-on-unevaluated-invariants; round 10 keeps
    the PRINCIPLE (never commit rows under an enforcement promise nobody
    kept) by EVALUATING the invariant on the incoming rows instead:
    satisfying frames commit with the metadata intact, violating frames
    unstage and raise before any commit."""
    from lcr_etl_upgrade_spark.delta_lite import read_delta_lite, replay_log

    schema = T.StructType([
        T.StructField(
            "a", T.LongType(), True,
            {"delta.invariants":
             '{"expression": {"expression": "a > 0"}}'},
        )
    ])
    ok = spark.createDataFrame([(1,)], schema)
    bad = spark.createDataFrame([(1,), (-5,)], schema)
    fresh = str(tmp_path / "fresh")
    write_delta_lite(ok, fresh)  # satisfying create commits
    state = replay_log(spark, fresh)
    assert "delta.invariants" in (state.schema["a"].metadata or {})
    with pytest.raises(ValueError, match="invariant"):
        write_delta_lite(bad, str(tmp_path / "fresh2"))
    # existing plain table: a violating overwrite raises BEFORE commit,
    # a satisfying one commits the invariant-bearing schema
    path = str(tmp_path / "existing")
    write_delta_lite(spark.range(3).selectExpr("id as a"), path)
    with pytest.raises(ValueError, match="invariant"):
        write_delta_lite(bad, path, mode="overwrite")
    assert {r.a for r in read_delta_lite(spark, path).collect()} == {
        0, 1, 2,
    }
    write_delta_lite(ok, path, mode="overwrite")
    # and the invariant now binds future appends
    with pytest.raises(ValueError, match="invariant"):
        write_delta_lite(
            spark.createDataFrame([(-1,)], "a long"), path, mode="append"
        )


# ---- DELETE_MAX_TOTAL_DV_BYTES valve --------------------------------------


def _multi_file_table(spark, path, files=6):
    """Table with ``files`` single-row-group parquet files via append."""
    for i in range(files):
        write_delta_lite(
            spark.range(i * 10, (i + 1) * 10).selectExpr(
                "id", "id * 10 as v"
            ).coalesce(1),
            path,
            mode="overwrite" if i == 0 else "append",
        )


def test_delete_total_dv_bytes_valve_new_blobs(spark, tmp_path,
                                               monkeypatch):
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "valve_new")
    _multi_file_table(spark, path)
    monkeypatch.setattr(dl, "DELETE_MAX_TOTAL_DV_BYTES", 64)
    # one row from EVERY file -> many small DVs whose SUM exceeds the cap
    with pytest.raises(ValueError, match="DELETE_MAX_TOTAL_DV_BYTES"):
        delete_rows(spark, path, "id % 10 = 0")
    # nothing committed, no staged .bin leftovers
    assert not [f for f in os.listdir(path) if f.endswith(".bin")]
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == set(range(60))


def test_delete_total_dv_bytes_valve_old_blobs(spark, tmp_path,
                                               monkeypatch):
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "valve_old")
    _multi_file_table(spark, path, files=4)
    v = delete_rows(spark, path, "id % 10 = 1")  # seed DVs on every file
    monkeypatch.setattr(dl, "DELETE_MAX_TOTAL_DV_BYTES", 8)
    with pytest.raises(ValueError, match="existing deletion vectors"):
        delete_rows(spark, path, "id % 10 = 2")
    # prior state intact
    from lcr_etl_upgrade_spark.delta_lite import replay_log

    assert replay_log(spark, path).version == v


def test_delete_under_valve_still_works(spark, tmp_path):
    path = str(tmp_path / "valve_ok")
    _multi_file_table(spark, path, files=3)
    delete_rows(spark, path, "id % 10 = 0")
    assert set(
        r.id for r in read_delta_lite(spark, path).collect()
    ) == {i for i in range(30) if i % 10 != 0}


def test_delete_valve_mid_iteration_rolls_back_staged_bins(
    spark, tmp_path, monkeypatch
):
    """The new-blob valve can trip AFTER some u-storage .bin files were
    already staged (streaming writes them immediately): the rollback
    must remove every staged file and leave the table state untouched."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "valve_mid")
    _multi_file_table(spark, path, files=5)
    # inline_threshold=0 forces EVERY blob to u-storage; cap admits the
    # first blob (~30-60 B) but not the sum of five
    monkeypatch.setattr(dl, "DELETE_MAX_TOTAL_DV_BYTES", 70)
    with pytest.raises(ValueError, match="DELETE_MAX_TOTAL_DV_BYTES"):
        delete_rows(spark, path, "id % 10 < 2", inline_threshold=0)
    assert not [f for f in os.listdir(path) if f.endswith(".bin")]
    assert replay_log(spark, path).dvs == {}
    assert read_delta_lite(spark, path).count() == 50
