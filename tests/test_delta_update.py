"""update_rows — the rewrite-path UPDATE command (round 11; completes
the CDC write surface next to delete_rows/optimize/restore).

Pins: value semantics incl. assignment casts and no-op returns; touched
files rewritten with DV-masked rows excluded (never resurrected);
authoritative update_preimage/postimage change files on CDF tables
served identically by BOTH readers and accepted by the independent
layout validator; generated columns recomputed (direct assignment
refused); CHECK constraints enforced with full rollback; rowTracking
rewrites preserve row ids and bump row_commit_version only for the
rows actually updated; appendOnly/identity/partition-column refusals.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    read_delta_changes,
    read_delta_lite,
    replay_log,
    table_history,
    update_rows,
    write_delta_lite,
)


def _df(spark, n=20):
    return spark.range(0, n).select(
        "id",
        (F.col("id") % 3).alias("v"),
        (F.col("id") % 2).cast("string").alias("s"),
    )


def _snap(spark, path):
    return {
        r["id"]: (r["v"], r["s"])
        for r in read_delta_lite(spark, path).collect()
    }


def test_update_values_and_history(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark), path)
    v = update_rows(spark, path, "id % 5 = 0", {"v": F.col("v") + 100})
    assert v == 1
    got = _snap(spark, path)
    assert len(got) == 20
    for i in range(20):
        want = i % 3 + (100 if i % 5 == 0 else 0)
        assert got[i] == (want, str(i % 2)), (i, got[i])
    top = table_history(path)[0]
    assert top["operation"] == "UPDATE"
    assert top["operationParameters"] == {"predicate": "id % 5 = 0"}
    # string-valued SQL expression assignments work too, with the cast
    update_rows(spark, path, "id = 1", {"v": "id * 10 + 0.9"})
    assert _snap(spark, path)[1][0] == 10  # cast long truncates


def test_update_no_match_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark), path)
    assert update_rows(spark, path, "id = 999", {"v": F.lit(0)}) == 0
    assert replay_log(spark, path).version == 0


def test_update_only_touched_files_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, 10).coalesce(1), path)
    write_delta_lite(
        spark.range(100, 110).select(
            "id", (F.col("id") % 3).alias("v"),
            (F.col("id") % 2).cast("string").alias("s"),
        ).coalesce(1),
        path,
        mode="append",
    )
    before = set(replay_log(spark, path).files)
    update_rows(spark, path, "id = 105", {"v": F.lit(0).cast("long")})
    after = set(replay_log(spark, path).files)
    # exactly one file replaced; the untouched one survives verbatim
    assert len(before & after) == 1 and len(after - before) == 1


def test_update_excludes_dv_masked_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark).coalesce(2), path)
    delete_rows(spark, path, F.col("id") < 5)
    # the predicate matches deleted rows too: they must NOT resurrect
    update_rows(spark, path, "id < 8", {"v": F.lit(50).cast("long")})
    got = _snap(spark, path)
    assert set(got) == set(range(5, 20))
    for i in range(5, 8):
        assert got[i][0] == 50
    # rewrite materialized the DVs of touched files away
    assert not replay_log(spark, path).dvs


def test_update_partitioned_and_mapped_cdf_both_readers(spark, tmp_path):
    from lcr_etl_upgrade_spark.cdf_arrow import arrow_changes, change_schema
    from tests.test_cdf_write_validator import _enable_cdf
    from tools.cdf_write_validator import validate_table

    path = str(tmp_path / "t")
    write_delta_lite(
        _df(spark), path, partition_by=("s",), column_mapping="name"
    )
    _enable_cdf(path)
    v = update_rows(spark, path, "id % 4 = 1", {"v": F.lit(777).cast("long")})
    cols = ["id", "v", "s", "_change_type", "_commit_version"]
    ch = read_delta_changes(spark, path, v, v).collect()
    spark_ms = Counter(tuple(r[c] for c in cols) for r in ch)
    names = [f.name for f in change_schema(path).fields]
    idx = [names.index(c) for c in cols]
    arrow_ms = Counter(
        tuple(t[i] for i in idx) for t in arrow_changes(path, v, v)
    )
    assert spark_ms == arrow_ms
    kinds = Counter(r["_change_type"] for r in ch)
    assert kinds["update_preimage"] == kinds["update_postimage"] == 5
    assert set(kinds) == {"update_preimage", "update_postimage"}
    pre = {r["id"]: r["v"] for r in ch
           if r["_change_type"] == "update_preimage"}
    post = {r["id"]: r["v"] for r in ch
            if r["_change_type"] == "update_postimage"}
    assert set(pre) == set(post) == {1, 5, 9, 13, 17}
    assert all(v == 777 for v in post.values())
    assert pre == {i: i % 3 for i in pre}
    # the independent layout validator accepts the written shape
    assert validate_table(path) == []


def test_update_snapshot_algebra_with_cdf(spark, tmp_path):
    from tests.test_cdf_write_validator import _enable_cdf

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark), path)
    _enable_cdf(path)
    v = update_rows(spark, path, "id >= 15", {"v": F.lit(9).cast("long")})
    cols = ["id", "v", "s"]
    before = Counter(
        tuple(r[c] for c in cols)
        for r in read_delta_lite(spark, path, version=v - 1).collect()
    )
    after = Counter(
        tuple(r[c] for c in cols)
        for r in read_delta_lite(spark, path).collect()
    )
    ch = read_delta_changes(spark, path, v, v).collect()
    ins = Counter(
        tuple(r[c] for c in cols) for r in ch
        if r["_change_type"] in ("insert", "update_postimage")
    )
    dels = Counter(
        tuple(r[c] for c in cols) for r in ch
        if r["_change_type"] in ("delete", "update_preimage")
    )
    assert before + ins - dels == after


def test_update_recomputes_generated_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    gen_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField(
                "v2",
                T.LongType(),
                True,
                {"delta.generationExpression": "v * 2"},
            ),
        ]
    )
    df = spark.range(0, 6).select(
        "id", F.col("id").alias("v"), (F.col("id") * 2).alias("v2")
    )
    write_delta_lite(spark.createDataFrame(df.collect(), gen_schema), path)
    update_rows(spark, path, "id = 3", {"v": F.lit(30).cast("long")})
    got = {r["id"]: (r["v"], r["v2"])
           for r in read_delta_lite(spark, path).collect()}
    assert got[3] == (30, 60)  # generated column recomputed
    assert got[2] == (2, 4)
    with pytest.raises(ValueError, match="GENERATED"):
        update_rows(spark, path, "id = 1", {"v2": F.lit(5)})


def test_update_enforces_check_constraints(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark), path)
    st = replay_log(spark, path)
    meta = dict(st.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.constraints.v_small"] = "v < 10"
    meta["configuration"] = cfg
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{st.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants",
                               "checkConstraints"],
        }}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
    files_before = set(replay_log(spark, path).files)
    with pytest.raises(ValueError, match="v_small"):
        update_rows(spark, path, "id = 2", {"v": F.lit(99).cast("long")})
    # nothing committed, nothing staged left behind
    st2 = replay_log(spark, path)
    assert set(st2.files) == files_before
    assert _snap(spark, path)[2][0] == 2
    # a conforming update passes
    update_rows(spark, path, "id = 2", {"v": F.lit(7).cast("long")})
    assert _snap(spark, path)[2][0] == 7


def test_update_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark), path, partition_by=("s",))
    with pytest.raises(
        NotImplementedError, match="update_rows cannot assign partition column"
    ):
        update_rows(spark, path, "id = 1", {"s": F.lit("9")})
    with pytest.raises(ValueError, match="^assignment to unknown column"):
        update_rows(spark, path, "id = 1", {"nope": F.lit(1)})
    # appendOnly refusal
    st = replay_log(spark, path)
    meta = dict(st.metadata)
    cfg = dict(meta.get("configuration") or {})
    cfg["delta.appendOnly"] = "true"
    meta["configuration"] = cfg
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{st.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(ValueError, match="appendOnly"):
        update_rows(spark, path, "id = 1", {"v": F.lit(1).cast("long")})


def test_update_preserves_row_ids(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import read_row_ids
    from tests.test_delta_rowtracking import _enable_row_tracking

    path = str(tmp_path / "t")
    write_delta_lite(spark.range(0, 1).select("id"), path)
    _enable_row_tracking(path)
    write_delta_lite(
        spark.range(0, 30).select("id").repartition(3),
        path,
        mode="overwrite",
    )
    before = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_row_ids(spark, path).collect()
    }
    v = update_rows(spark, path, "id % 10 = 0", {"id": F.col("id") + 1000})
    after = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_row_ids(spark, path).collect()
    }
    assert len(after) == 30
    for old_id, (rid, rcv) in before.items():
        if old_id % 10 == 0:
            # updated row: SAME row id, commit version bumped to v
            assert after[old_id + 1000][0] == rid
            assert after[old_id + 1000][1] == v
        else:
            # untouched rows of rewritten files keep id AND version
            assert after[old_id] == (rid, rcv), old_id
