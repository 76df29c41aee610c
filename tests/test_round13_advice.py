"""Round-13 regression tests for the five ADVICE.md findings:

1. (high) historical physicalNames (the table's own pre-DROP lineage)
   were rebuilt only from metaData actions seen during replay, but a
   checkpoint carries just the LATEST metaData — after drop_column +
   add_columns + write_checkpoint + cleanup_log the pre-drop files
   tripped the foreign-writer guard and the table became permanently
   unreadable. Now: the union of lost names persists in the
   checkpoint-durable table configuration
   (lcrspark.columnMapping.historicalPhysicalNames) and replay merges
   it back (the checkpoint + cleanup case lives with the other
   checkpoint tests in test_delta_lite.py).
2. (medium) convert_to_delta inferred the schema from ONE sample file;
   schema-evolved parquet directories silently lost columns present
   only in non-sample files. Now: mergeSchema across every footer.
3. (low) apply_changes excluded sequence_col from the business-column
   set even when it is a real target column (sequencing by a business
   timestamp) — updates never set it, inserts left it NULL. Now: only
   the protocol metadata columns are excluded.
4. (low) merge_rows persisted the source and unconditionally
   unpersisted in the finally — evicting the CALLER's cache when they
   had persisted the frame themselves. Now: only releases what it
   pinned.
5. (low) convert_to_delta's hive completeness check substring-matched
   (f"{c}=" in rel), so partition column 'a' false-passed against
   directory token 'aa=1' and values were then mis-extracted. Now:
   segment-exact.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.delta_lite import (
    convert_to_delta,
    drop_column,
    merge_rows,
    read_delta_lite,
    replay_log,
    write_delta_lite,
)
from lcr_etl_upgrade_spark.operators.merge import apply_changes


# ---------------------------------------------------------------- 1


def _mapped(spark, path, n=8):
    df = spark.range(0, n).select(
        "id",
        (F.col("id") % 3).cast("int").alias("v"),
        F.lit("keep").alias("w"),
    )
    write_delta_lite(df, path, column_mapping="name")


def test_lineage_key_written_on_drop(spark, tmp_path):
    path = str(tmp_path / "t")
    _mapped(spark, path)
    before = replay_log(spark, path)
    phys_v = before.schema["v"].metadata[
        "delta.columnMapping.physicalName"
    ]
    drop_column(spark, path, "v")
    import json

    cfg = replay_log(spark, path).metadata["configuration"]
    hist = json.loads(
        cfg["lcrspark.columnMapping.historicalPhysicalNames"]
    )
    assert phys_v in hist


# ---------------------------------------------------------------- 2


def _single_parquet_into(spark, df, dest_dir, name):
    """Write df as exactly one parquet file named ``name`` in dest_dir."""
    tmp = dest_dir + f".__stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.makedirs(dest_dir, exist_ok=True)
    shutil.copy(os.path.join(tmp, part), os.path.join(dest_dir, name))
    shutil.rmtree(tmp)


def test_convert_merges_heterogeneous_footers(spark, tmp_path):
    """A column present only in the NON-sample file must survive."""
    d = str(tmp_path / "lake")
    _single_parquet_into(
        spark,
        spark.range(0, 5).select("id"),
        d,
        "a_first.parquet",  # sorts first -> the old sample file
    )
    _single_parquet_into(
        spark,
        spark.range(5, 9).select("id", F.lit("x").alias("extra")),
        d,
        "b_second.parquet",
    )
    convert_to_delta(spark, d)
    got = read_delta_lite(spark, d)
    assert set(got.columns) == {"id", "extra"}
    vals = {r["id"]: r["extra"] for r in got.collect()}
    assert vals[7] == "x" and vals[1] is None


# ---------------------------------------------------------------- 3


def test_apply_changes_business_sequence_column_lands(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame(
            [(1, "old", 100), (2, "keep", 100)],
            "k int, val string, updated_at long",
        ),
        path,
    )
    changes = spark.createDataFrame(
        [
            (1, "new", 250, "update_postimage"),
            (3, "ins", 300, "insert"),
        ],
        "k int, val string, updated_at long, _change_type string",
    )
    apply_changes(path, changes, keys=["k"], sequence_col="updated_at")
    got = {
        r["k"]: (r["val"], r["updated_at"])
        for r in read_delta_lite(spark, path).collect()
    }
    # pre-fix: updated_at stayed 100 on the update and NULL on the insert
    assert got[1] == ("new", 250)
    assert got[3] == ("ins", 300)
    assert got[2] == ("keep", 100)


# ---------------------------------------------------------------- 4


def test_merge_does_not_evict_caller_cache(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(0, 6).select("id", F.lit(0).alias("v")), path
    )
    src = spark.range(3, 9).select("id", F.lit(1).alias("v")).persist()
    try:
        src.count()
        assert src.storageLevel.useMemory or src.storageLevel.useDisk
        merge_rows(
            spark,
            path,
            src,
            "t.id = s.id",
            matched=(("update", None, {"v": "s.v"}),),
            not_matched=(("insert", None, {"id": "s.id", "v": "s.v"}),),
        )
        lvl = src.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "merge_rows evicted the caller's persisted source"
        )
        got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
        assert got == {i: (1 if i >= 3 else 0) for i in range(9)}
    finally:
        src.unpersist()


# ---------------------------------------------------------------- 5


def test_convert_hive_check_is_segment_exact(spark, tmp_path):
    """Partition column 'a' vs directory 'aa=1': must refuse, not
    mis-extract every value as NULL."""
    d = str(tmp_path / "lake")
    _single_parquet_into(
        spark,
        spark.range(0, 4).select("id"),
        os.path.join(d, "aa=1"),
        "part-0.parquet",
    )
    with pytest.raises(ValueError, match="hive partition layout"):
        convert_to_delta(
            spark,
            d,
            partition_schema=T.StructType(
                [T.StructField("a", T.StringType(), True)]
            ),
        )
    # and the true-positive still converts
    d2 = str(tmp_path / "lake2")
    _single_parquet_into(
        spark,
        spark.range(0, 4).select("id"),
        os.path.join(d2, "a=1"),
        "part-0.parquet",
    )
    convert_to_delta(
        spark,
        d2,
        partition_schema=T.StructType(
            [T.StructField("a", T.StringType(), True)]
        ),
    )
    got = read_delta_lite(spark, d2)
    assert {r["a"] for r in got.collect()} == {"1"}
