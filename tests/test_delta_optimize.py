"""delta_lite.optimize: bin-packing compaction + OPTIMIZE ZORDER.

Invariants: the snapshot is IDENTICAL before and after (full-row
multisets), the change feed sees nothing, time travel to the
pre-optimize version still works, file counts actually drop, DVs
materialize away, and the z-order variant clusters footer stats.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    optimize,
    read_delta_changes,
    read_delta_lite,
    replay_log,
    write_delta_lite,
)


def _snap(spark, path, cols, version=None):
    df = read_delta_lite(spark, path, version=version)
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _drip(spark, path, n_appends=5):
    write_delta_lite(spark.range(0, 100).select("id").coalesce(1), path)
    for i in range(1, n_appends):
        write_delta_lite(
            spark.range(i * 100, i * 100 + 100).select("id").coalesce(1),
            path,
            mode="append",
        )


def test_compaction_preserves_rows_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _drip(spark, path)
    before = _snap(spark, path, ["id"])
    v_pre = replay_log(spark, path).version
    n_files_before = len(replay_log(spark, path).files)
    res = optimize(spark, path)
    assert res["version"] == v_pre + 1
    assert res["rewritten"] == n_files_before
    state = replay_log(spark, path)
    assert len(state.files) < n_files_before
    assert _snap(spark, path, ["id"]) == before
    # time travel to the pre-optimize version still reads
    assert _snap(spark, path, ["id"], version=v_pre) == before
    # the change feed sees NOTHING
    assert read_delta_changes(spark, path, res["version"],
                              res["version"]).count() == 0


def test_optimize_materializes_deletion_vectors(spark, tmp_path):
    path = str(tmp_path / "t")
    _drip(spark, path, n_appends=3)
    delete_rows(spark, path, F.col("id") % 7 == 0)
    before = _snap(spark, path, ["id"])
    state = replay_log(spark, path)
    assert state.dvs  # the delete produced DVs
    res = optimize(spark, path)
    after_state = replay_log(spark, path)
    assert not after_state.dvs  # materialized away
    assert _snap(spark, path, ["id"]) == before
    assert read_delta_changes(spark, path, res["version"],
                              res["version"]).count() == 0


def test_optimize_noop_when_nothing_to_do(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(10).select("id").coalesce(1), path)
    res = optimize(spark, path)
    assert res == {"version": None, "rewritten": 0, "added": 0}
    assert replay_log(spark, path).version == 0  # no commit written


def test_optimize_respects_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(40).select(
        "id", (F.col("id") % 2).cast("long").alias("p")
    )
    write_delta_lite(df.coalesce(1), path, partition_by=("p",))
    write_delta_lite(
        spark.range(40, 80)
        .select("id", (F.col("id") % 2).cast("long").alias("p"))
        .coalesce(1),
        path,
        mode="append",
    )
    before = _snap(spark, path, ["id", "p"])
    optimize(spark, path)
    state = replay_log(spark, path)
    assert _snap(spark, path, ["id", "p"]) == before
    # rewritten files stay inside their hive partition directories and
    # never mix partition values
    for rel, pvals in state.files.items():
        assert f"p={pvals['p']}" in rel


def _two_partitions_one_deleted(spark, path):
    """Two partitions of two files each; every row of p=1 is then
    masked by deletion vectors."""
    for lo in (0, 40):
        write_delta_lite(
            spark.range(lo, lo + 40)
            .select("id", (F.col("id") % 2).cast("long").alias("p"))
            .coalesce(1),
            path,
            mode="append",
            partition_by=("p",),
        )
    delete_rows(spark, path, "p = 1")


def _commit_actions(path, version):
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def test_optimize_drops_zero_row_rewrites(spark, tmp_path):
    """A rewrite group whose rows are all deleted commits no add — the
    zero-row rule every other writer follows — and ``added`` counts
    only the files that hold rows."""
    path = str(tmp_path / "t")
    _two_partitions_one_deleted(spark, path)
    before = _snap(spark, path, ["id", "p"])
    res = optimize(spark, path)
    adds = [a["add"] for a in _commit_actions(path, res["version"])
            if "add" in a]
    assert res["rewritten"] == 4
    assert res["added"] == len(adds) == 1
    assert adds[0]["partitionValues"] == {"p": "0"}
    assert json.loads(adds[0]["stats"])["numRecords"] == 40
    assert _snap(spark, path, ["id", "p"]) == before
    assert not replay_log(spark, path).dvs


def test_optimize_rolls_back_on_lost_commit_race(
    spark, tmp_path, monkeypatch
):
    """A lost version race unstages every rewritten file: the table
    directory holds exactly the files it held before."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    _two_partitions_one_deleted(spark, path)

    def _data_files():
        return sorted(
            os.path.relpath(f, path)
            for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                               recursive=True)
            if "_delta_log" not in f
        )

    before = _data_files()

    def _lose_race(commit_path, actions):
        raise FileExistsError(commit_path)

    monkeypatch.setattr(dl, "_write_commit_file", _lose_race)
    with pytest.raises(FileExistsError):
        optimize(spark, path)
    assert _data_files() == before


def _external_log(path, meta, adds):
    """Hand-write version 0 of an externally authored table."""
    os.makedirs(os.path.join(path, "_delta_log"))
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": meta.pop("reader", 1),
            "minWriterVersion": meta.pop("writer", 2),
        }}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for rel, pvals in adds:
            fh.write(json.dumps({"add": {
                "path": rel, "partitionValues": pvals,
                "size": os.path.getsize(os.path.join(path, rel)),
                "modificationTime": 0, "dataChange": True,
            }}) + "\n")


def _flat_file(spark, path, name, df):
    sub = os.path.join(path, f"stage-{name}")
    df.coalesce(1).write.parquet(sub)
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(os.path.join(sub, f), os.path.join(path, name))


def _field(name, dtype, phys=None, fid=None):
    meta = {} if phys is None else {
        "delta.columnMapping.physicalName": phys,
        "delta.columnMapping.id": fid,
    }
    return {"name": name, "type": dtype, "nullable": True, "metadata": meta}


def test_optimize_compacts_non_hive_partitioned_layout(spark, tmp_path):
    """A partitioned table whose file paths do not encode the partition
    values (flat data-N.parquet files) compacts: the rewrite reads the
    data columns only and takes partitionValues from the log."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    adds = []
    for i, part in enumerate((1, 1, 2, 2)):
        _flat_file(spark, path, f"data-{i}.parquet",
                   spark.range(10 * i, 10 * i + 5).select("id"))
        adds.append((f"data-{i}.parquet", {"part": str(part)}))
    _external_log(path, {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            _field("id", "long"), _field("part", "integer")]}),
        "partitionColumns": ["part"], "configuration": {},
    }, adds)
    before = _snap(spark, path, ["id", "part"])
    res = optimize(spark, path)
    assert (res["rewritten"], res["added"]) == (4, 2)
    state = replay_log(spark, path)
    assert sorted(v["part"] for v in state.files.values()) == ["1", "2"]
    assert _snap(spark, path, ["id", "part"]) == before


def test_optimize_refuses_mapped_files_without_physical_names(
    spark, tmp_path
):
    """On a column-mapped table whose files carry other names than the
    physical ones (a foreign writer resolving by field id), OPTIMIZE
    refuses like every other command that scans files, instead of
    rewriting every column as NULL."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    adds = []
    for i in range(2):
        _flat_file(spark, path, f"data-{i}.parquet",
                   spark.range(i * 5, i * 5 + 5).select("id"))
        adds.append((f"data-{i}.parquet", {}))
    _external_log(path, {
        "reader": 2, "writer": 5,
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            _field("id", "long", "col-aaa", 1)]}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "id",
                          "delta.columnMapping.maxColumnId": "1"},
    }, adds)
    with pytest.raises(NotImplementedError, match="field-id resolution"):
        optimize(spark, path)
    assert replay_log(spark, path).version == 0


def test_optimize_zorder_clusters_footers(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(40_000).select(
        (F.pmod(F.hash(F.col("id") * 2 + 1), 10_000)).cast("double").alias("x"),
        (F.pmod(F.hash(F.col("id") * 2), 10_000)).cast("double").alias("y"),
    )
    write_delta_lite(df.repartition(8), path)
    before = _snap(spark, path, ["x", "y"])
    res = optimize(
        spark, path, target_file_bytes=40_000, zorder_by=["x", "y"]
    )
    assert res["added"] > 1  # clustering kept multiple files
    assert _snap(spark, path, ["x", "y"]) == before
    state = replay_log(spark, path)

    def mean_span(col):
        spans, n = 0.0, 0
        for rel in state.files:
            md = pq.ParquetFile(os.path.join(path, rel)).metadata
            for rg in range(md.num_row_groups):
                r = md.row_group(rg)
                for i in range(r.num_columns):
                    c = r.column(i)
                    if c.path_in_schema == col and c.statistics:
                        spans += c.statistics.max - c.statistics.min
                        n += 1
        return spans / n

    assert mean_span("x") < 10_000 * 0.6
    assert mean_span("y") < 10_000 * 0.6


def test_optimize_zorder_rejects_partition_and_unknown_columns(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    df = spark.range(10).select(
        "id", (F.col("id") % 2).cast("long").alias("p")
    )
    write_delta_lite(df, path, partition_by=("p",))
    with pytest.raises(ValueError, match="partition columns"):
        optimize(spark, path, zorder_by=["p"])
    with pytest.raises(ValueError, match="not in schema"):
        optimize(spark, path, zorder_by=["nope"])


def test_optimize_column_mapped_table(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(20).select("id", F.lit("a").alias("s")).coalesce(1),
        path,
        column_mapping="name",
    )
    write_delta_lite(
        spark.range(20, 40).select("id", F.lit("b").alias("s")).coalesce(1),
        path,
        mode="append",
    )
    before = _snap(spark, path, ["id", "s"])
    res = optimize(spark, path)
    assert res["rewritten"] == 2
    assert _snap(spark, path, ["id", "s"]) == before


def test_optimize_refuses_row_tracking_extras(spark, tmp_path):
    import json

    path = str(tmp_path / "t")
    _drip(spark, path, n_appends=2)
    # graft a baseRowId onto one add via a synthetic re-add commit
    state = replay_log(spark, path)
    rel = sorted(state.files)[0]
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{state.version + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"add": {
            "path": rel, "partitionValues": {}, "size": 1,
            "modificationTime": 1, "dataChange": False, "baseRowId": 7,
        }}) + "\n")
    with pytest.raises(NotImplementedError, match="baseRowId"):
        optimize(spark, path)


def test_full_maintenance_lifecycle(spark, tmp_path):
    """The whole long-lived-table cycle composed: drip appends -> DV
    delete -> OPTIMIZE -> checkpoint -> log cleanup -> vacuum. The
    optimize-retired small files are referenced only by cleaned-up
    commits, so vacuum reclaims them; live files survive; the latest
    snapshot and checkpoint-version time travel keep working."""
    from lcr_etl_upgrade_spark.delta_lite import (
        cleanup_log,
        vacuum,
        write_checkpoint,
    )

    path = str(tmp_path / "t")
    _drip(spark, path, n_appends=3)  # v0..v2: 3 small files
    delete_rows(spark, path, F.col("id") % 5 == 0)  # v3: DVs
    expected = _snap(spark, path, ["id"])
    res = optimize(spark, path)  # v4: rewrites + materializes DVs
    assert res["version"] == 4
    write_checkpoint(spark, path)
    assert cleanup_log(spark, path)  # drops commits < 4
    # FIRST vacuum is conservative-correct: the optimize commit itself
    # (v4) survived cleanup and its remove actions still reference the
    # retired files, so nothing is reclaimed yet
    assert not any(
        r.endswith(".parquet") for r in vacuum(spark, path)
    )
    # the NEXT maintenance cycle retires commit 4 itself...
    write_delta_lite(
        spark.range(900, 903).select("id").coalesce(1), path, mode="append"
    )  # v5
    expected = expected + Counter({(i,): 1 for i in range(900, 903)})
    # change feed readable while v4's checkpoint still exists (after
    # the next cleanup, windows must start AT the new horizon — the
    # pre-horizon snapshot is retired with its checkpoint)
    assert read_delta_changes(spark, path, 5, 5).count() == 3
    cp_v = write_checkpoint(spark, path)
    assert cleanup_log(spark, path)
    pre_files = set(replay_log(spark, path).files)
    removed = vacuum(spark, path)
    # ...and NOW the three retired originals are reclaimable
    assert sum(r.endswith(".parquet") for r in removed) >= 3
    # live set untouched, snapshot identical, time travel to the
    # checkpointed version works
    assert set(replay_log(spark, path).files) == pre_files
    assert _snap(spark, path, ["id"]) == expected
    assert _snap(spark, path, ["id"], version=cp_v) == expected
