"""Round-11 regression tests for the merge_schema ADVICE.md finding:
merge_schema append must refuse evolved columns carrying
delta.generationExpression (not just invariants/identity) —
pre-existing rows would read the generated column as null and
retroactively violate the generation contract.

The round's TIMESTAMP AS OF cases live in test_delta_timestamp_asof.py;
its RESTORE operationParameters case was an exact duplicate of the
string-encoding assertion in test_delta_restore.py's
test_restore_reverts_appends and was dropped.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.delta_lite import (
    read_delta_lite,
    write_delta_lite,
)


def test_merge_schema_refuses_evolved_generated_column(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(1, "a")], "id long, name string"), path
    )
    evolved = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField(
                "id2",
                T.LongType(),
                True,
                {"delta.generationExpression": "id * 2"},
            ),
        ]
    )
    df = spark.createDataFrame([(2, "b", 4)], evolved)
    with pytest.raises(ValueError, match="generationExpression"):
        write_delta_lite(
            df, path, mode="append", merge_schema=True
        )
    # invariants/identity refusals still hold alongside (no regression)
    inv = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField(
                "pos",
                T.LongType(),
                True,
                {
                    "delta.invariants": json.dumps(
                        {"expression": {"expression": "pos > 0"}}
                    )
                },
            ),
        ]
    )
    with pytest.raises(ValueError, match="invariants"):
        write_delta_lite(
            spark.createDataFrame([(2, "b", 1)], inv),
            path,
            mode="append",
            merge_schema=True,
        )


def test_merge_schema_plain_evolution_still_allowed(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(1, "a")], "id long, name string"), path
    )
    write_delta_lite(
        spark.createDataFrame([(2, "b", 7)], "id long, name string, n long"),
        path,
        mode="append",
        merge_schema=True,
    )
    got = read_delta_lite(spark, path)
    assert got.count() == 2 and "n" in got.columns
