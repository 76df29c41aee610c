"""merge_rows — transactional MERGE INTO (round 12; completes the
DELETE/UPDATE/MERGE write trio on delta_lite).

Pins: clause semantics (ordered first-wins, per-clause conditions,
update/delete/insert, not-matched-by-source), SQL evaluation rules
(conditions and RHS see the ORIGINAL row), the
multiple-source-rows-match refusal, single-commit CDF with
authoritative mixed insert/update_pre-postimage/delete change rows
(snapshot algebra + independent layout validator), rowTracking
preservation (updated rows keep ids, inserts draw fresh ranges),
generated/partition/identity refusals, CHECK-constraint rollback, and
partitioned + column-mapped layouts.

Reference anchor: the incremental upsert load the reference performs
batch-wise (/root/reference/ingest.py:802-822) is the pattern MERGE
productionizes at 100 TB.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.delta_lite import (
    merge_rows,
    read_delta_changes,
    read_delta_lite,
    read_row_ids,
    replay_log,
    table_history,
    write_delta_lite,
)
from tests.test_cdf_write_validator import _enable_cdf
from tests.test_delta_rowtracking import _enable_row_tracking


def _tgt(spark, n=10):
    return spark.range(0, n).select(
        "id",
        (F.col("id") * 10).cast("int").alias("v"),
        F.lit("old").alias("tag"),
    )


def _src(spark, lo=5, hi=15):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") + 1000).cast("int").alias("nv"),
    )


def _snap(spark, path):
    return sorted(
        (r["id"], r["v"], r["tag"])
        for r in read_delta_lite(spark, path).collect()
    )


def test_merge_clause_semantics_and_history(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark), path)
    v = merge_rows(
        spark,
        path,
        _src(spark),
        "t.id = s.k",
        matched=(
            ("update", "s.k % 2 = 0", {"v": "s.nv", "tag": "'upd'"}),
            ("delete", None),
        ),
        not_matched=(
            ("insert", "s.k < 13", {"id": "s.k", "v": "s.nv", "tag": "'ins'"}),
        ),
    )
    assert v == 1
    got = _snap(spark, path)
    want = (
        [(i, i * 10, "old") for i in range(5)]
        + [(i, i + 1000, "upd") for i in (6, 8)]
        + [(i, i + 1000, "ins") for i in (10, 11, 12)]
    )
    assert got == sorted(want)
    top = table_history(path)[0]
    assert top["operation"] == "MERGE"
    params = top["operationParameters"]
    assert params["predicate"] == "t.id = s.k"
    mp = json.loads(params["matchedPredicates"])
    assert mp == [
        {"predicate": "s.k % 2 = 0", "actionType": "update"},
        {"actionType": "delete"},
    ]
    assert json.loads(params["notMatchedPredicates"]) == [
        {"predicate": "s.k < 13", "actionType": "insert"}
    ]


def test_merge_first_clause_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 4), path)
    merge_rows(
        spark,
        path,
        _src(spark, 0, 4),
        "t.id = s.k",
        matched=(
            ("update", "t.id < 2", {"tag": "'first'"}),
            ("update", None, {"tag": "'second'"}),
        ),
    )
    got = {r[0]: r[2] for r in _snap(spark, path)}
    assert got == {0: "first", 1: "first", 2: "second", 3: "second"}


def test_merge_rhs_sees_original_row(spark, tmp_path):
    """SQL UPDATE semantics inside MERGE: swap t.v with t.id*1000 while
    the predicate references the assigned column."""
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(0, 6).select(
            "id",
            F.col("id").cast("int").alias("v"),
            F.col("id").cast("int").alias("w"),
        ),
        path,
    )
    src = spark.range(0, 6).select(F.col("id").alias("k"))
    merge_rows(
        spark,
        path,
        src,
        "t.id = s.k",
        matched=(
            ("update", "t.v > 2", {"v": F.lit(0), "w": "t.v + 100"}),
        ),
    )
    got = {
        r["id"]: (r["v"], r["w"])
        for r in read_delta_lite(spark, path).collect()
    }
    for i in range(6):
        want = (0, i + 100) if i > 2 else (i, i)
        assert got[i] == want, (i, got[i])


def test_merge_multiple_source_match_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 3), path)
    dup = spark.createDataFrame([(1, 7), (1, 8)], "k long, nv int")
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_rows(
            spark, path, dup, "t.id = s.k",
            matched=(("update", None, {"v": "s.nv"}),),
        )
    assert replay_log(spark, path).version == 0
    # duplicates that modify NOTHING (clause condition false) are fine
    v = merge_rows(
        spark, path, dup, "t.id = s.k",
        matched=(("update", "s.nv > 100", {"v": "s.nv"}),),
    )
    assert v == 0  # nothing matched any clause -> no commit


@pytest.mark.parametrize("route", ["rewrite", "dv", "by_source"])
def test_merge_one_of_two_matches_modifies(spark, tmp_path, route):
    """A target row matched by two source rows of which only ONE
    satisfies the update clause is not ambiguous: it takes that row's
    values, whichever order the pairs arrive in."""
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 3), path)
    dup = spark.createDataFrame(
        [(1, 7), (1, 200), (2, 300), (2, 8)], "k long, nv int"
    )
    v = merge_rows(
        spark, path, dup, "t.id = s.k",
        matched=(("update", "s.nv > 100", {"v": "s.nv", "tag": "'upd'"}),),
        not_matched_by_source=(
            (("update", None, {"tag": "'gone'"}),)
            if route == "by_source"
            else ()
        ),
        use_dvs=route == "dv",
    )
    assert v == 1
    assert _snap(spark, path) == [
        (0, 0, "gone" if route == "by_source" else "old"),
        (1, 200, "upd"),
        (2, 300, "upd"),
    ]
    adds = [
        a["add"]
        for a in map(json.loads, open(
            os.path.join(path, "_delta_log", f"{v:020d}.json")
        ))
        if "add" in a
    ]
    assert any("deletionVector" in a for a in adds) == (route == "dv")


def test_merge_noop_returns_unchanged(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 3), path)
    v = merge_rows(
        spark, path, _src(spark, 100, 105), "t.id = s.k",
        matched=(("update", None, {"v": "s.nv"}),),
    )
    assert v == 0
    assert replay_log(spark, path).version == 0


def test_merge_not_matched_by_source(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 6), path)
    v = merge_rows(
        spark,
        path,
        _src(spark, 0, 2),
        "t.id = s.k",
        matched=(("update", None, {"tag": "'kept'"}),),
        not_matched_by_source=(
            ("update", "t.id < 4", {"tag": "'stale'"}),
            ("delete", None),
        ),
    )
    assert v == 1
    got = {r[0]: r[2] for r in _snap(spark, path)}
    assert got == {0: "kept", 1: "kept", 2: "stale", 3: "stale"}


def test_merge_cdf_snapshot_algebra_and_validator(spark, tmp_path):
    from tools.cdf_write_validator import validate_table

    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark), path)
    _enable_cdf(path)
    v = merge_rows(
        spark,
        path,
        _src(spark),
        "t.id = s.k",
        matched=(
            ("update", "s.k % 2 = 0", {"v": "s.nv", "tag": "'upd'"}),
            ("delete", None),
        ),
        not_matched=(
            ("insert", None, {"id": "s.k", "v": "s.nv", "tag": "'ins'"}),
        ),
    )
    cols = ["id", "v", "tag"]
    ch = read_delta_changes(spark, path, v, v).collect()
    kinds = Counter(r["_change_type"] for r in ch)
    assert kinds == {
        "update_preimage": 2,
        "update_postimage": 2,
        "delete": 3,
        "insert": 5,
    }
    before = Counter(
        tuple(r[c] for c in cols)
        for r in read_delta_lite(spark, path, version=v - 1).collect()
    )
    after = Counter(
        tuple(r[c] for c in cols)
        for r in read_delta_lite(spark, path).collect()
    )
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
    assert before + ins - dels == after
    assert validate_table(path) == []


def test_merge_partitioned_mapped_cdf_both_readers(spark, tmp_path):
    from lcr_etl_upgrade_spark.cdf_arrow import arrow_changes, change_schema
    from tools.cdf_write_validator import validate_table

    path = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        "id",
        (F.col("id") % 3).cast("long").alias("v"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    write_delta_lite(df, path, partition_by=("p",), column_mapping="name")
    _enable_cdf(path)
    src = spark.range(15, 25).select(
        F.col("id").alias("k"),
        F.lit(777).cast("long").alias("nv"),
        (F.col("id") % 2).cast("string").alias("np"),
    )
    v = merge_rows(
        spark,
        path,
        src,
        "t.id = s.k",
        matched=(("update", None, {"v": "s.nv"}),),
        not_matched=(
            ("insert", None, {"id": "s.k", "v": "s.nv", "p": "s.np"}),
        ),
    )
    got = {r["id"]: (r["v"], r["p"]) for r in read_delta_lite(spark, path).collect()}
    assert len(got) == 25
    for i in range(15):
        assert got[i] == (i % 3, str(i % 2))
    for i in range(15, 25):
        assert got[i] == (777, str(i % 2))
    cols = ["id", "v", "p", "_change_type", "_commit_version"]
    ch = read_delta_changes(spark, path, v, v).collect()
    spark_ms = Counter(tuple(r[c] for c in cols) for r in ch)
    names = [f.name for f in change_schema(path).fields]
    idx = [names.index(c) for c in cols]
    arrow_ms = Counter(
        tuple(t[i] for i in idx) for t in arrow_changes(path, v, v)
    )
    assert spark_ms == arrow_ms
    kinds = Counter(r["_change_type"] for r in ch)
    assert kinds == {
        "update_preimage": 5,
        "update_postimage": 5,
        "insert": 5,
    }
    assert validate_table(path) == []


def test_merge_preserves_row_ids(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 1), path)
    _enable_row_tracking(path)
    w = write_delta_lite(_tgt(spark), path, mode="overwrite")
    ids_before = {
        r["id"]: r["_row_id"] for r in read_row_ids(spark, path).collect()
    }
    v = merge_rows(
        spark,
        path,
        _src(spark),
        "t.id = s.k",
        matched=(
            ("update", "s.k % 2 = 0", {"v": "s.nv"}),
            ("delete", None),
        ),
        not_matched=(
            ("insert", None, {"id": "s.k", "v": "s.nv", "tag": "'ins'"}),
        ),
    )
    rows = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_row_ids(spark, path).collect()
    }
    # survivors keep their ids; updated rows bump rcv to this commit
    for i in range(5):
        assert rows[i] == (ids_before[i], w), (i, rows[i])
    for i in (6, 8):
        assert rows[i] == (ids_before[i], v), (i, rows[i])
    # deleted rows gone; inserted rows have FRESH ids above the old set
    assert set(rows) == {0, 1, 2, 3, 4, 6, 8, 10, 11, 12, 13, 14}
    old_ids = set(ids_before.values())
    for i in (10, 11, 12, 13, 14):
        assert rows[i][0] not in old_ids
        assert rows[i][1] == v
    all_ids = [r[0] for r in rows.values()]
    assert len(set(all_ids)) == len(all_ids)


def test_merge_generated_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField(
                "g",
                T.IntegerType(),
                metadata={"delta.generationExpression": "v + 1"},
            ),
        ]
    )
    write_delta_lite(
        spark.createDataFrame([(i, i, i + 1) for i in range(6)], schema),
        path,
    )
    src = spark.range(4, 9).select(
        F.col("id").alias("k"), (F.col("id") * 100).cast("int").alias("nv")
    )
    merge_rows(
        spark,
        path,
        src,
        "t.id = s.k",
        matched=(("update", None, {"v": "s.nv"}),),
        not_matched=(("insert", None, {"id": "s.k", "v": "s.nv"}),),
    )
    got = {
        r["id"]: (r["v"], r["g"])
        for r in read_delta_lite(spark, path).collect()
    }
    for i in range(4):
        assert got[i] == (i, i + 1)
    for i in range(4, 9):
        assert got[i] == (i * 100, i * 100 + 1), (i, got[i])
    # direct assignment to the generated column refuses
    with pytest.raises(ValueError, match="GENERATED"):
        merge_rows(
            spark, path, src, "t.id = s.k",
            matched=(("update", None, {"g": F.lit(0)}),),
        )


def test_merge_check_constraint_rolls_back(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 5), path)
    # add a CHECK constraint via configuration
    st = replay_log(spark, path)
    meta = dict(st.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.constraints.v_small"] = "v < 1000"
    meta["configuration"] = cfg
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{st.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    before = _snap(spark, path)
    with pytest.raises(ValueError, match="constraint"):
        merge_rows(
            spark, path, _src(spark, 0, 3), "t.id = s.k",
            matched=(("update", None, {"v": "s.nv"}),),  # 1000+ violates
        )
    assert replay_log(spark, path).version == st.version + 1
    assert _snap(spark, path) == before
    # insert-side violation rolls back too
    with pytest.raises(ValueError, match="constraint"):
        merge_rows(
            spark, path, _src(spark, 50, 53), "t.id = s.k",
            not_matched=(
                ("insert", None, {"id": "s.k", "v": "s.nv", "tag": "'x'"}),
            ),
        )
    assert _snap(spark, path) == before


def test_merge_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        "id",
        (F.col("id") % 2).cast("string").alias("p"),
        F.col("id").cast("int").alias("v"),
    )
    write_delta_lite(df, path, partition_by=("p",))
    src = _src(spark, 0, 3)
    with pytest.raises(NotImplementedError, match="partition"):
        merge_rows(
            spark, path, src, "t.id = s.k",
            matched=(("update", None, {"p": "'9'"}),),
        )
    with pytest.raises(ValueError, match="unknown column"):
        merge_rows(
            spark, path, src, "t.id = s.k",
            matched=(("update", None, {"nope": "1"}),),
        )
    with pytest.raises(ValueError, match="at least one clause"):
        merge_rows(spark, path, src, "t.id = s.k")
    with pytest.raises(ValueError, match="clause kind"):
        merge_rows(
            spark, path, src, "t.id = s.k", matched=(("insert", None, {}),)
        )
    # inserting into a table with non-nullable omitted column refuses
    path2 = str(tmp_path / "t2")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("v", T.IntegerType()),
        ]
    )
    write_delta_lite(
        spark.createDataFrame([(0, 0)], schema), path2
    )
    with pytest.raises(ValueError, match="non-nullable"):
        merge_rows(
            spark, path2, src, "t.id = s.k",
            not_matched=(("insert", None, {"v": "s.nv"}),),
        )


def test_merge_insert_omitted_nullable_is_null(spark, tmp_path):
    path = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    write_delta_lite(
        spark.createDataFrame([(0, 0, "old"), (1, 10, "old")], schema),
        path,
    )
    merge_rows(
        spark, path, _src(spark, 5, 7), "t.id = s.k",
        not_matched=(("insert", None, {"id": "s.k"}),),
    )
    got = {r[0]: (r[1], r[2]) for r in _snap(spark, path)}
    assert got[5] == (None, None)
    assert got[6] == (None, None)


def test_merge_empty_table_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 5), path)
    # empty the table, then merge-insert into the 0-file snapshot
    write_delta_lite(
        _tgt(spark, 5).filter("id < 0"), path, mode="overwrite"
    )
    assert replay_log(spark, path).files == {}
    v = merge_rows(
        spark, path, _src(spark, 1, 4), "t.id = s.k",
        matched=(("update", None, {"v": "s.nv"}),),
        not_matched=(
            ("insert", None, {"id": "s.k", "v": "s.nv", "tag": "'ins'"}),
        ),
    )
    assert v == 2
    assert _snap(spark, path) == [
        (1, 1001, "ins"), (2, 1002, "ins"), (3, 1003, "ins")
    ]


# ---- operators/merge.py rebased onto merge_rows for path targets ----------


def test_upsert_path_matches_dataframe_emulation(spark, tmp_path):
    from lcr_etl_upgrade_spark.operators.merge import upsert

    path = str(tmp_path / "t")
    cur = _tgt(spark)
    write_delta_lite(cur, path)
    updates = spark.range(7, 13).select(
        "id",
        (F.col("id") + 500).cast("int").alias("v"),
        F.lit("new").alias("tag"),
    )
    via_df = sorted(
        tuple(r) for r in upsert(cur, updates, ["id"]).collect()
    )
    via_path = sorted(tuple(r) for r in upsert(path, updates, ["id"]).collect())
    assert via_path == via_df
    assert table_history(path)[0]["operation"] == "MERGE"
    # duplicate update keys refuse on the transactional path
    dup = updates.unionByName(updates)
    with pytest.raises(ValueError, match="multiple source rows"):
        upsert(path, dup, ["id"])


def test_scd2_path_matches_dataframe_emulation(spark, tmp_path):
    from lcr_etl_upgrade_spark.operators.merge import scd2_apply

    path = str(tmp_path / "d")
    dim = spark.createDataFrame(
        [
            (1, "a", "2020-01-01 00:00:00", None, True),
            (1, "a0", "2019-01-01 00:00:00", "2020-01-01 00:00:00", False),
            (2, "b", "2020-01-01 00:00:00", None, True),
            (3, "c", "2020-01-01 00:00:00", None, None),  # NULL flag
        ],
        "k int, val string, VALID_FROM string, VALID_TO string, "
        "IS_CURRENT boolean",
    ).withColumns(
        {
            "VALID_FROM": F.col("VALID_FROM").cast("timestamp_ntz"),
            "VALID_TO": F.col("VALID_TO").cast("timestamp_ntz"),
        }
    )
    write_delta_lite(dim, path)
    updates = spark.createDataFrame(
        [(1, "a2"), (4, "d")], "k int, val string"
    )
    as_of = "2021-06-01 00:00:00"
    via_df = sorted(
        tuple(r)
        for r in scd2_apply(dim, updates, ["k"], as_of).collect()
    )
    via_path = sorted(
        tuple(r)
        for r in scd2_apply(path, updates, ["k"], as_of).collect()
    )
    assert via_path == via_df
    assert table_history(path)[0]["operation"] == "MERGE"
    got = {
        (r["k"], str(r["VALID_FROM"])): (r["val"], r["IS_CURRENT"])
        for r in read_delta_lite(spark, path).collect()
    }
    assert got[(1, as_of)] == ("a2", True)
    assert got[(1, "2020-01-01 00:00:00")] == ("a", False)
    assert got[(4, as_of)] == ("d", True)
    assert got[(3, "2020-01-01 00:00:00")] == ("c", None)  # never lost


def test_merge_releases_all_caches(spark, tmp_path):
    """merge persists source/decisions/group frames internally; none
    may outlive the command (success or failure path)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark), path)
    _enable_cdf(path)
    merge_rows(
        spark, path, _src(spark), "t.id = s.k",
        matched=(("update", None, {"v": "s.nv"}), ("delete", "s.k > 11")),
        not_matched=(
            ("insert", None, {"id": "s.k", "v": "s.nv", "tag": "'i'"}),
        ),
    )
    dup = spark.createDataFrame([(1, 7), (1, 8)], "k long, nv int")
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_rows(
            spark, path, dup, "t.id = s.k",
            matched=(("update", None, {"v": "s.nv"}),),
        )
    after = set(sc._jsc.getPersistentRDDs().keySet())
    assert after <= before, "merge left persisted RDDs behind"


# ---- schema evolution (r12, delta-spark withSchemaEvolution parity) -------


def test_merge_schema_evolution_insert_and_update(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 6), path)
    v = merge_rows(
        spark,
        path,
        _src(spark, 3, 9),
        "t.id = s.k",
        matched=(("update", None, {"v": "s.nv", "extra": "s.nv * 2"}),),
        not_matched=(
            ("insert", None,
             {"id": "s.k", "v": "s.nv", "tag": "'i'", "extra": "s.nv"}),
        ),
        schema_evolution=True,
    )
    assert v == 1
    st = replay_log(spark, path)
    assert [f.name for f in st.schema.fields] == ["id", "v", "tag", "extra"]
    assert st.schema["extra"].dataType.typeName() in ("long", "integer")
    got = {
        r["id"]: (r["v"], r["extra"])
        for r in read_delta_lite(spark, path).collect()
    }
    for i in range(3):
        assert got[i] == (i * 10, None), (i, got[i])  # untouched: null
    for i in (3, 4, 5):
        assert got[i] == (i + 1000, (i + 1000) * 2)
    for i in (6, 7, 8):
        assert got[i] == (i + 1000, i + 1000)


def test_merge_schema_evolution_mapped_cdf(spark, tmp_path):
    from lcr_etl_upgrade_spark.cdf_arrow import arrow_changes, change_schema

    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 4), path, column_mapping="name")
    _enable_cdf(path)
    before_max = int(
        replay_log(spark, path).metadata["configuration"][
            "delta.columnMapping.maxColumnId"
        ]
    )
    v = merge_rows(
        spark, path, _src(spark, 2, 6), "t.id = s.k",
        matched=(("update", None, {"nv2": "s.nv"}),),
        not_matched=(
            ("insert", None,
             {"id": "s.k", "v": "s.nv", "tag": "'i'", "nv2": "s.nv"}),
        ),
        schema_evolution=True,
    )
    st = replay_log(spark, path)
    meta = st.schema["nv2"].metadata
    assert int(meta["delta.columnMapping.id"]) > before_max
    assert int(
        st.metadata["configuration"]["delta.columnMapping.maxColumnId"]
    ) >= int(meta["delta.columnMapping.id"])
    got = {
        r["id"]: r["nv2"] for r in read_delta_lite(spark, path).collect()
    }
    assert got == {0: None, 1: None, 2: 1002, 3: 1003, 4: 1004, 5: 1005}
    # both change readers serve the evolved column identically
    cols = ["id", "nv2", "_change_type"]
    ch = read_delta_changes(spark, path, v, v).collect()
    spark_ms = Counter(tuple(r[c] for c in cols) for r in ch)
    names = [f.name for f in change_schema(path).fields]
    idx = [names.index(c) for c in cols]
    arrow_ms = Counter(
        tuple(t[i] for i in idx) for t in arrow_changes(path, v, v)
    )
    assert spark_ms == arrow_ms
    assert (2, 1002, "update_postimage") in spark_ms


def test_merge_schema_evolution_refusals_and_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_tgt(spark, 3), path)
    # case clash refuses
    with pytest.raises(ValueError, match="differ only in case"):
        merge_rows(
            spark, path, _src(spark, 0, 2), "t.id = s.k",
            matched=(("update", None, {"TAG": "'x'"}),),
            schema_evolution=True,
        )
    # evolution off: unknown column still refuses
    with pytest.raises(ValueError, match="unknown column"):
        merge_rows(
            spark, path, _src(spark, 0, 2), "t.id = s.k",
            matched=(("update", None, {"extra": "1"}),),
        )
    # a merge that changes no rows commits no schema change
    v = merge_rows(
        spark, path, _src(spark, 100, 102), "t.id = s.k",
        matched=(("update", None, {"extra": "s.nv"}),),
        schema_evolution=True,
    )
    assert v == 0
    assert [f.name for f in replay_log(spark, path).schema.fields] == [
        "id", "v", "tag",
    ]
