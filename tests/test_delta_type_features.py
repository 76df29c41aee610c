"""Type-borne protocol features + full legacy-tier feature carry.

A TIMESTAMP_NTZ (or VARIANT) column demands reader v3 + the
timestampNtz/variantType feature — a v1 reader would silently misread
NTZ as UTC-adjusted values — so write_delta_lite stamps the protocol
from the post-write schema on create, overwrite AND merge_schema
evolution. Protocol upgrades from legacy writer tiers v3-v6 must carry
the FULL implicit feature set of their tier (not just v2's
appendOnly/invariants — a latent gap while those tiers were refused,
reachable now that they are writable).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    delete_rows,
    enable_v2_checkpoint,
    read_delta_lite,
    replay_log,
    set_table_properties,
    write_delta_lite,
)


def _ntz_df(spark, n=3):
    return spark.sql(
        f"select id, timestamp_ntz'2026-01-01 10:00:00' + make_interval"
        f"(0,0,0,0,0,0,id) as t from range({n})"
    )


def test_ntz_create_stamps_feature(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_ntz_df(spark), path)
    proto = replay_log(spark, path).protocol
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "timestampNtz" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    got = read_delta_lite(spark, path)
    assert got.schema["t"].dataType.typeName() == "timestamp_ntz"
    assert got.count() == 3
    # appends inherit; no second protocol action needed
    v = write_delta_lite(_ntz_df(spark), path, mode="append")
    with open(os.path.join(path, "_delta_log",
                           f"{v:020d}.json")) as fh:
        assert not any(
            "protocol" in json.loads(l) for l in fh if l.strip()
        )


def test_ntz_via_merge_schema_upgrades(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id"), path)
    assert replay_log(spark, path).protocol["minReaderVersion"] == 1
    write_delta_lite(
        spark.sql(
            "select id, timestamp_ntz'2026-02-02 00:00:00' as seen "
            "from range(3, 5)"
        ),
        path,
        mode="append",
        merge_schema=True,
    )
    proto = replay_log(spark, path).protocol
    assert "timestampNtz" in proto["readerFeatures"]
    assert read_delta_lite(spark, path).count() == 5


def test_plain_tables_stay_protocol_v1(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id"), path)
    assert replay_log(spark, path).protocol == {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }


# the writer features each legacy tier implies (protocol table)
_TIER = {
    4: {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns"},
    5: {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping"},
    6: {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping", "identityColumns"},
}

# every command that upgrades a legacy table to table features, with
# the feature it adds
_UPGRADES = {
    "delete_rows": (
        lambda spark, path: delete_rows(spark, path, F.col("id") < 3),
        "deletionVectors",
    ),
    "set_table_properties": (
        lambda spark, path: set_table_properties(
            spark, path, {"delta.enableDeletionVectors": "true"}
        ),
        "deletionVectors",
    ),
    "enable_v2_checkpoint": (enable_v2_checkpoint, "v2Checkpoint"),
}


def _check_upgrade(spark, path, command, reader_v, writer_v):
    """A legacy (reader_v, writer_v) UNMAPPED table upgraded by
    ``command`` lists exactly its tier's implicit writer features plus
    the new one, and — reader v2 being column mapping — columnMapping
    in BOTH lists whenever it came from reader v2, whichever command
    did the upgrade."""
    write_delta_lite(spark.range(10).select("id").coalesce(1), path)
    state = replay_log(spark, path)
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": reader_v, "minWriterVersion": writer_v,
        }}) + "\n")
    upgrade, feature = _UPGRADES[command]
    upgrade(spark, path)
    proto = replay_log(spark, path).protocol
    readers = {feature} | ({"columnMapping"} if reader_v == 2 else set())
    assert proto["minReaderVersion"] == 3, (command, proto)
    assert proto["minWriterVersion"] == 7, (command, proto)
    assert set(proto["readerFeatures"]) == readers, (command, proto)
    assert set(proto["writerFeatures"]) == _TIER[writer_v] | readers, (
        command, proto,
    )


def test_legacy_tier_carry_on_dv_upgrade(spark, tmp_path):
    """Both deletion-vector upgrades (delete_rows' first vector and SET
    TBLPROPERTIES delta.enableDeletionVectors) carry a legacy v4 table's
    implicit checkConstraints/changeDataFeed/generatedColumns (and v2's
    appendOnly/invariants) into the explicit writerFeatures list, and
    list columnMapping the same way for a reader-v2 table."""
    for command in ("delete_rows", "set_table_properties"):
        for reader_v, writer_v in ((1, 4), (2, 5)):
            _check_upgrade(
                spark, str(tmp_path / f"{command}-{reader_v}-{writer_v}"),
                command, reader_v, writer_v,
            )


def test_legacy_tier_carry_on_v2_checkpoint_upgrade(spark, tmp_path):
    for reader_v, writer_v in ((1, 6), (2, 5)):
        _check_upgrade(
            spark, str(tmp_path / f"v2-{reader_v}-{writer_v}"),
            "enable_v2_checkpoint", reader_v, writer_v,
        )


def test_property_enablement_lists_feature_on_table_features_protocol(
    spark, tmp_path
):
    """On a table-features (writer 7) table nothing is implied by the
    version number: enabling the change feed or appendOnly lists its
    writer feature, whatever other features the table has."""
    path = str(tmp_path / "t")
    write_delta_lite(
        spark.range(3).select("id"), path, column_mapping="name"
    )
    assert replay_log(spark, path).protocol["writerFeatures"] == [
        "columnMapping"
    ]
    set_table_properties(spark, path, {
        "delta.enableChangeDataFeed": "true", "delta.appendOnly": "true",
    })
    proto = replay_log(spark, path).protocol
    assert set(proto["writerFeatures"]) == {
        "appendOnly", "changeDataFeed", "columnMapping",
    }
    assert proto["readerFeatures"] == ["columnMapping"]


def test_vacuum_protocol_check_feature_writable(spark, tmp_path):
    """delta-spark commonly lists vacuumProtocolCheck; the obligation
    (a protocol check before vacuuming) is met — vacuum() replays the
    log first — so such tables stay writable here."""
    path = str(tmp_path / "t")
    write_delta_lite(spark.range(3).select("id"), path)
    state = replay_log(spark, path)
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{state.version + 1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "invariants",
                               "vacuumProtocolCheck"],
        }}) + "\n")
    write_delta_lite(spark.range(3, 6).select("id"), path, mode="append")
    assert read_delta_lite(spark, path).count() == 6
