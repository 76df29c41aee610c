"""The DML kernel's SQL-text projections (``delta_lite._dml``,
``_TableRead.scan``, ``_TableWrite.to_phys``).

Every per-column projection of the kernel is one ``selectExpr`` of SQL
text: identifiers go through one quoting helper, each type is rendered
once by the JVM's ``DataType.sql`` and Column-typed ``on`` /
conditions / assignments are attached once under generated names. Pins:
Column-typed clauses give the same table as their string spelling;
decimal, array and struct columns and names with dots, backticks and
spaces round-trip through MERGE and UPDATE on plain and column-mapped
tables; a mapped table's written parquet carries its field ids; and an
upsert MERGE on a 101-column DV+CDF table stays inside a py4j command
budget, so per-column Column chains cannot creep back in.
"""

from __future__ import annotations

import decimal
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    merge_rows,
    read_delta_changes,
    read_delta_lite,
    set_table_properties,
    update_rows,
    write_delta_lite,
)


def _rows(spark, path):
    return sorted(
        tuple(r) for r in read_delta_lite(spark, path).collect()
    )


def test_column_typed_clauses_match_string_spelling(spark, tmp_path):
    tgt = spark.range(0, 6).select(
        "id",
        (F.col("id") * 10).cast("int").alias("v"),
        F.lit("old").alias("tag"),
    )
    src = spark.range(3, 9).select(
        F.col("id").alias("k"), (F.col("id") + 100).cast("int").alias("nv")
    )
    spellings = {
        "str": dict(
            on="t.id = s.k",
            matched=(
                ("delete", "s.k = 5"),
                ("update", "s.nv > 103", {"v": "s.nv * 2", "tag": "'upd'"}),
            ),
            not_matched=(
                ("insert", "s.k < 8", {"id": "s.k", "v": "s.nv",
                                        "tag": "'ins'"}),
            ),
            not_matched_by_source=(
                ("update", "t.id < 2", {"tag": "'stale'", "v": "t.v + 1"}),
            ),
        ),
        "col": dict(
            on=F.col("t.id") == F.col("s.k"),
            matched=(
                ("delete", F.col("s.k") == 5),
                ("update", F.col("s.nv") > 103,
                 {"v": F.col("s.nv") * 2, "tag": F.lit("upd")}),
            ),
            not_matched=(
                ("insert", F.col("s.k") < 8,
                 {"id": F.col("s.k"), "v": F.col("s.nv"),
                  "tag": F.lit("ins")}),
            ),
            not_matched_by_source=(
                ("update", F.col("t.id") < 2,
                 {"tag": F.lit("stale"), "v": F.col("t.v") + 1}),
            ),
        ),
    }
    got = {}
    for name, kw in spellings.items():
        path = str(tmp_path / name)
        write_delta_lite(tgt, path)
        merge_rows(spark, path, src, kw.pop("on"), **kw)
        got[name] = _rows(spark, path)
    assert got["col"] == got["str"]
    assert got["str"] == [
        (0, 1, "stale"), (1, 11, "stale"), (2, 20, "old"), (3, 30, "old"),
        (4, 208, "upd"), (6, 106, "ins"), (7, 107, "ins"),
    ]
    # UPDATE's Column condition and assignment take the same path
    path = str(tmp_path / "upd")
    write_delta_lite(tgt, path)
    update_rows(spark, path, F.col("id") >= 4, {"v": F.col("v") - 1})
    assert [r[1] for r in _rows(spark, path)] == [0, 10, 20, 30, 39, 49]


# names that are only legal quoted: a dot, a backtick, a space
_ODD = ("a.b", "c`d", "e f")


def _odd_table(spark, ids):
    return spark.createDataFrame(
        [
            (
                i,
                decimal.Decimal(f"{i}.125"),
                [i, i + 1],
                (i, f"n{i}"),
            )
            for i in ids
        ],
        "id long, `a.b` decimal(12,3), `c``d` array<int>, "
        "`e f` struct<`x.y`: int, `q``r s`: string>",
    )


def _odd_expect(i, upd):
    if upd:
        return (i, decimal.Decimal(f"{i}.125") * 2, [i, i + 1, 0],
                (i + 1, f"n{i}!"))
    return (i, decimal.Decimal(f"{i}.125"), [i, i + 1], (i, f"n{i}"))


@pytest.mark.parametrize("mapping", [None, "name"])
def test_odd_names_and_nested_types_round_trip(spark, tmp_path, mapping):
    path = str(tmp_path / "t")
    write_delta_lite(_odd_table(spark, range(4)), path,
                     column_mapping=mapping)
    set_table_properties(spark, path, {
        "delta.enableChangeDataFeed": "true",
        "delta.enableDeletionVectors": "true",
    })
    assign = {
        "a.b": "s.`a.b` * 2",
        "c`d": "concat(s.`c``d`, array(0))",
        "e f": "named_struct('x.y', s.`e f`.`x.y` + 1, "
               "'q`r s', concat(s.`e f`.`q``r s`, '!'))",
    }
    v = merge_rows(
        spark, path, _odd_table(spark, [2, 3, 4, 5]), "t.id = s.id",
        matched=(("update", "s.id = 3", assign),),
        not_matched=(("insert", None, {"id": "s.id", **{
            c: f"s.{'`' + c.replace('`', '``') + '`'}" for c in _ODD
        }}),),
        use_dvs=True,
    )
    assert _rows(spark, path) == [
        _odd_expect(0, False), _odd_expect(1, False), _odd_expect(2, False),
        _odd_expect(3, True), _odd_expect(4, False), _odd_expect(5, False),
    ]
    assert sorted(
        (r["_change_type"], r["id"])
        for r in read_delta_changes(spark, path, v, v).collect()
    ) == [("insert", 4), ("insert", 5),
          ("update_postimage", 3), ("update_preimage", 3)]
    # the rewrite route and UPDATE project the same columns
    update_rows(spark, path, "id = 0", {"a.b": "`a.b` + 1"}, use_dvs=False)
    got = dict((r[0], r) for r in _rows(spark, path))
    assert got[0][1] == decimal.Decimal("1.125")
    assert got[3] == _odd_expect(3, True)
    if mapping:
        _assert_field_ids(path)


def _assert_field_ids(path):
    """Every data file the log holds carries each top-level column's
    columnMapping id as its parquet field id, under its physical name."""
    log = os.path.join(path, "_delta_log")
    meta = None
    for name in sorted(os.listdir(log)):
        if name.endswith(".json"):
            for line in open(os.path.join(log, name)):
                a = json.loads(line)
                if "metaData" in a:
                    meta = a["metaData"]
    want = {
        f["metadata"]["delta.columnMapping.physicalName"]:
            f["metadata"]["delta.columnMapping.id"]
        for f in json.loads(meta["schemaString"])["fields"]
    }
    files = [
        os.path.join(root, f)
        for root, _d, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and "_delta_log" not in root
    ]
    assert len(files) >= 3  # the load, the merge's rows, the rewrite
    for f in files:
        schema = pq.read_schema(f)
        got = {
            fld.name: int(fld.metadata[b"PARQUET:field_id"])
            for fld in schema
            if fld.name in want
        }
        assert got == want, f


def test_upsert_py4j_command_budget(spark, tmp_path):
    """An upsert MERGE (half updates, half inserts) on a 101-column
    DV+CDF table: the kernel's projections are SQL text, so the driver's
    py4j commands do not grow with a Column chain per column. Measured
    at 1,656 commands (4 cores); the Column-chain kernel it replaced
    took 14,970, and one 101-column projection of ``F.col(..).cast(..)
    .alias(..)`` alone costs about 3,900."""
    from py4j import clientserver

    cols = [f"c{i}" for i in range(100)]
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(0, 200).selectExpr(
            "id", *[f"CAST(id * {i} AS STRING) AS c{i}" for i in range(100)]
        ),
        path,
    )
    set_table_properties(spark, path, {
        "delta.enableChangeDataFeed": "true",
        "delta.enableDeletionVectors": "true",
    })
    src = spark.range(150, 250).selectExpr(
        "id", *[f"CAST(id * {i} + 1 AS STRING) AS c{i}" for i in range(100)]
    )
    assign = {c: f"s.{c}" for c in ["id", *cols]}
    sent = [0]
    orig = clientserver.ClientServerConnection.send_command

    def counted(self, *a, **k):
        sent[0] += 1
        return orig(self, *a, **k)

    clientserver.ClientServerConnection.send_command = counted
    try:
        v = merge_rows(spark, path, src, "t.id = s.id",
                       matched=(("update", None, assign),),
                       not_matched=(("insert", None, assign),))
    finally:
        clientserver.ClientServerConnection.send_command = orig
    assert v == 2
    assert read_delta_lite(spark, path).count() == 250
    assert sent[0] < 2500, sent[0]
