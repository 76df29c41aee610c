"""Identity columns (delta.identity.* field metadata, legacy writer
version 6 / the identityColumns table feature).

Generation: omitted identity columns get base + monotonically_
increasing_id()*step — unique with NO shuffle and no global ordering
(the protocol allows gaps); the realized furthest value rides the
staging write as an observe() metric and becomes the new
highWaterMark, committed as a metaData action in the same version, so
the NEXT writer generates past this one. GENERATED ALWAYS refuses
explicit inserts; GENERATED BY DEFAULT accepts them, enforces NOT
NULL, and syncs the watermark over provided values. Identity-
generating appends are single-writer (a blind retry could reuse
values the racing writer generated).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.delta_lite import (
    read_delta_lite,
    replay_log,
    write_delta_lite,
)


def _identity_schema(allow_explicit=False, start=1, step=1):
    return T.StructType([
        T.StructField("v", T.StringType(), True),
        T.StructField(
            "id", T.LongType(), True,
            {
                "delta.identity.start": start,
                "delta.identity.step": step,
                "delta.identity.allowExplicitInsert": allow_explicit,
            },
        ),
    ])


def _create_empty(spark, path, **kw):
    empty = spark.createDataFrame([], _identity_schema(**kw))
    write_delta_lite(empty, path)


def _ids(spark, path):
    return [
        (r["v"], r["id"])
        for r in read_delta_lite(spark, path).collect()
    ]


def test_generated_always_appends_unique_on_lattice(spark, tmp_path):
    path = str(tmp_path / "t")
    _create_empty(spark, path, start=10, step=3)
    write_delta_lite(
        spark.createDataFrame(
            [("a",), ("b",), ("c",)], "v string"
        ).repartition(3),
        path,
        mode="append",
    )
    rows = _ids(spark, path)
    ids = [i for _, i in rows]
    assert len(set(ids)) == 3  # unique
    assert all(i >= 10 and (i - 10) % 3 == 0 for i in ids)  # lattice
    # watermark committed and second append generates PAST it
    hwm1 = int(
        replay_log(spark, path).schema["id"]
        .metadata["delta.identity.highWaterMark"]
    )
    assert hwm1 == max(ids)
    write_delta_lite(
        spark.createDataFrame([("d",), ("e",)], "v string"),
        path,
        mode="append",
    )
    rows2 = _ids(spark, path)
    ids2 = [i for _, i in rows2]
    assert len(set(ids2)) == 5
    assert all(i > hwm1 for i in ids2 if i not in ids)
    hwm2 = int(
        replay_log(spark, path).schema["id"]
        .metadata["delta.identity.highWaterMark"]
    )
    assert hwm2 == max(ids2)


def test_generated_always_refuses_explicit(spark, tmp_path):
    path = str(tmp_path / "t")
    _create_empty(spark, path)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta_lite(
            spark.createDataFrame([("a", 5)], "v string, id long"),
            path,
            mode="append",
        )
    # creating NON-empty with the identity column refuses too
    df = spark.createDataFrame([("a", 5)], _identity_schema())
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta_lite(df, str(tmp_path / "t2"))
    # but an EMPTY create (the delta-spark DDL shape) works
    _create_empty(spark, str(tmp_path / "t3"))


def test_generated_by_default_explicit_syncs_watermark(spark, tmp_path):
    path = str(tmp_path / "t")
    _create_empty(spark, path, allow_explicit=True, start=1, step=1)
    write_delta_lite(
        spark.createDataFrame([("a", 100)], "v string, id long"),
        path,
        mode="append",
    )
    hwm = int(
        replay_log(spark, path).schema["id"]
        .metadata["delta.identity.highWaterMark"]
    )
    assert hwm == 100
    # generation continues past the explicit value: no collision
    write_delta_lite(
        spark.createDataFrame([("b",)], "v string"), path, mode="append"
    )
    ids = [i for _, i in _ids(spark, path)]
    assert len(set(ids)) == 2 and max(ids) > 100


def test_explicit_null_violates_not_null(spark, tmp_path):
    path = str(tmp_path / "t")
    _create_empty(spark, path, allow_explicit=True)
    with pytest.raises(ValueError, match="identity-notnull"):
        write_delta_lite(
            spark.createDataFrame(
                [("a", None)], "v string, id long"
            ),
            path,
            mode="append",
        )


def test_negative_step_descends(spark, tmp_path):
    path = str(tmp_path / "t")
    _create_empty(spark, path, start=0, step=-2)
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",)], "v string"),
        path,
        mode="append",
    )
    ids = [i for _, i in _ids(spark, path)]
    assert all(i <= 0 and i % 2 == 0 for i in ids)
    hwm = int(
        replay_log(spark, path).schema["id"]
        .metadata["delta.identity.highWaterMark"]
    )
    assert hwm == min(ids)
    write_delta_lite(
        spark.createDataFrame([("c",)], "v string"), path, mode="append"
    )
    ids2 = [i for _, i in _ids(spark, path)]
    assert len(set(ids2)) == 3 and min(ids2) < hwm


def test_legacy_writer_v6_accepted_v8_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(1, 3).select("id"), path)
    log = os.path.join(path, "_delta_log")
    state = replay_log(spark, path)
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 6,
        }}) + "\n")
    write_delta_lite(spark.range(3, 5).select("id"), path, mode="append")
    state = replay_log(spark, path)
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 8,
        }}) + "\n")
    with pytest.raises(NotImplementedError, match="minWriterVersion=8"):
        write_delta_lite(
            spark.range(5, 6).select("id"), path, mode="append"
        )


def test_identity_generating_append_single_writer(
    spark, tmp_path, monkeypatch
):
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    _create_empty(spark, path)
    real = dl._write_commit_file
    calls = {"n": 0}

    def racing(commit_path, actions):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileExistsError(commit_path)
        real(commit_path, actions)

    monkeypatch.setattr(dl, "_write_commit_file", racing)
    with pytest.raises(FileExistsError, match="identity-generating"):
        write_delta_lite(
            spark.createDataFrame([("a",)], "v string"),
            path,
            mode="append",
        )
    assert calls["n"] == 1
    assert read_delta_lite(spark, path).count() == 0


def test_identity_with_column_mapping(spark, tmp_path):
    path = str(tmp_path / "t")
    empty = spark.createDataFrame([], _identity_schema(start=5, step=5))
    write_delta_lite(empty, path, column_mapping="name")
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",)], "v string"),
        path,
        mode="append",
    )
    ids = [i for _, i in _ids(spark, path)]
    assert len(set(ids)) == 2
    assert all(i >= 5 and i % 5 == 0 for i in ids)
    # mapping metadata intact next to the advanced watermark
    f = replay_log(spark, path).schema["id"]
    assert "delta.columnMapping.physicalName" in f.metadata
    assert int(f.metadata["delta.identity.highWaterMark"]) == max(ids)


def test_merge_schema_cannot_add_identity_column(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([("a",)], "v string"), path
    )
    new = spark.createDataFrame(
        [("b", 1)],
        T.StructType([
            T.StructField("v", T.StringType(), True),
            T.StructField(
                "id", T.LongType(), True,
                {"delta.identity.start": 1, "delta.identity.step": 1},
            ),
        ]),
    )
    with pytest.raises(ValueError, match="delta.identity"):
        write_delta_lite(new, path, mode="append", merge_schema=True)


def test_update_refuses_identity_assignment(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import update_rows

    path = str(tmp_path / "t")
    _create_empty(spark, path)
    # an empty table returns before any assignment is checked
    v = replay_log(spark, path).version
    assert update_rows(spark, path, "v = 'a'", {"id": F.lit(9)}) == v
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",)], "v string"),
        path,
        mode="append",
    )
    with pytest.raises(
        ValueError,
        match="IDENTITY column; its values are row identity and cannot be "
        "reassigned",
    ):
        update_rows(spark, path, "v = 'a'", {"id": F.lit(9)})
