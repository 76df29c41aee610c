"""Pure-Python (pyarrow) change-feed materializer — no SparkSession.

Two consumers:

- the ``delta_cdf_lite`` STREAMING source (streaming/cdf_source.py):
  Spark's Python Data Source simple stream reader materializes each
  micro-batch driver-side, where no SparkSession is available, so the
  rows must come straight from parquet + the transaction log;
- ``tools/delta_cdf_fuzz.py``: a SECOND, independently-built CDF
  implementation (pyarrow row filtering vs Spark anti/semi joins) to
  differential-test ``read_delta_changes`` against.

Shares the LOG layer with delta_lite (``_Log``'s listing, commit
parsing and commit times, TableState / _apply_action / _diff_commit —
the protocol semantics must be identical by construction) and
reimplements the ROW layer: pyarrow parquet reads, deletion-vector
position sets from roaring_lite, partition-literal injection,
physical->logical renames.

State replay (including CLASSIC AND V2 CHECKPOINTS) runs through
delta_lite's ``_Log.replay`` itself, driven by a pyarrow-backed duck
type of the two Spark calls it makes (``spark.read.parquet(...).collect()`` +
``Row.asDict``) — zero protocol logic is duplicated, so the two
readers cannot drift. Windows whose JSON commits were cleaned up
still refuse (their row-level changes are genuinely unrecoverable),
but a checkpointed HISTORY no longer blocks replaying the pre-window
state.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import urllib.parse

from lcr_etl_upgrade_spark.delta_lite import (
    TableState,
    _column_mapping_mode,
    _diff_commit,
    _local,
    _Log,
    _physicalize,
    _resolve_dv_blob,
    _schema_identity,
)
from lcr_etl_upgrade_spark.roaring_lite import iter_roaring_bitmap_array


def _arrow_value(obj, atype):
    """pyarrow -> Spark-Row-shaped python: MapArray pylists are
    key/value pair lists, but _apply_action (via Row.asDict) expects
    dicts — convert by the ARROW type, recursively."""
    import pyarrow as pa

    if obj is None:
        return None
    if pa.types.is_map(atype):
        return {
            k: _arrow_value(v, atype.item_type) for k, v in obj
        }
    if pa.types.is_struct(atype):
        return {
            f.name: _arrow_value(obj.get(f.name), f.type) for f in atype
        }
    if pa.types.is_list(atype) or pa.types.is_large_list(atype):
        return [_arrow_value(x, atype.value_type) for x in obj]
    return obj


class _ArrowRow:
    def __init__(self, d: dict):
        self._d = d

    def asDict(self, recursive: bool = False) -> dict:
        return self._d


class _ArrowRelation:
    def __init__(self, files):
        self._files = files

    def collect(self):
        import pyarrow.parquet as pq

        rows = []
        for f in self._files:
            table = pq.read_table(f)
            raw = table.to_pylist()
            for rec in raw:
                rows.append(
                    _ArrowRow(
                        {
                            field.name: _arrow_value(
                                rec.get(field.name), field.type
                            )
                            for field in table.schema
                        }
                    )
                )
        return rows


class _ArrowSparkShim:
    """Duck type of the TWO SparkSession touchpoints log replay uses
    (checkpoint parquet reads), backed by pyarrow — lets the full
    protocol replay (checkpoint discovery, sidecars, gap errors) run
    without a SparkSession."""

    class _Reader:
        def parquet(self, *files):
            return _ArrowRelation(files)

    read = _Reader()


def replay_json_state(log: _Log, version: int) -> TableState:
    """Replay to ``version`` (-1 = empty pre-table state) without a
    SparkSession — delta_lite's ``_Log.replay`` over the pyarrow shim,
    so checkpointed histories replay too."""
    if version < 0:
        return TableState()
    return log.replay(_ArrowSparkShim(), version)


def _dv_positions_set(base: str, dv: dict | None) -> set[int]:
    if not dv:
        return set()
    out: set[int] = set()
    for container in iter_roaring_bitmap_array(_resolve_dv_blob(base, dv)):
        out.update(int(x) for x in container)
    return out


def _typed_partition_value(value: str | None, dtype):
    from pyspark.sql import types as T

    if value is None:
        return None
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, T.StringType):
        return value
    if isinstance(dtype, T.BooleanType):
        return value == "true"
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(value)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime.fromisoformat(value)
    raise NotImplementedError(
        f"partition value type {dtype.simpleString()} not supported by "
        "the arrow change reader"
    )


def change_schema(path: str):
    """The logical table schema + CDF columns, from the latest JSON
    metadata."""
    from pyspark.sql import types as T

    log = _Log(path)
    state = replay_json_state(log, log.latest())
    if state.metadata is None:
        raise ValueError(f"no metaData action found in {path!r}")
    fields = list(
        T.StructType.fromJson(json.loads(state.metadata["schemaString"]))
    )
    return T.StructType(
        fields
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )


def change_plan(
    path: str, start_version: int, end_version: int
) -> list[dict]:
    """The window's changes as PER-FILE TASKS — each a picklable dict
    (file, partition values, change type, keep/drop DV descriptors,
    commit version/timestamp, schema context) that ``materialize_rows``
    turns into tuples. One task = one parquet file = one unit of
    parallelism for the partition-planned stream reader."""
    log = _Log(path)
    latest = log.latest()
    if not (0 <= start_version <= end_version <= latest):
        raise ValueError(
            f"invalid change window [{start_version}, {end_version}] "
            f"(latest commit: {latest})"
        )
    state = replay_json_state(log, start_version - 1)

    def _key(meta):
        return (
            _schema_identity(meta["schemaString"]),
            meta["schemaString"],
            tuple(meta.get("partitionColumns") or []),
            _column_mapping_mode(meta),
        )

    branches = []
    schema_keys = set()
    for v in range(start_version, end_version + 1):
        if v not in log.commits:
            raise ValueError(
                f"commit {v} is missing from {path!r}'s log"
            )
        actions = list(log.actions(v))
        cdc_files = {
            urllib.parse.unquote(a["cdc"]["path"]): (
                a["cdc"].get("partitionValues") or {}
            )
            for a in actions
            if "cdc" in a
        }
        key_before = (
            _key(state.metadata) if state.metadata is not None else None
        )
        inserted, deleted, dv_changed = _diff_commit(state, actions)
        state.version = v
        ts_ms = log.info(v, actions)["timestamp"]
        if cdc_files:
            # cdc actions are authoritative for their commit: serve the
            # change files, skip derivation (mirrors read_delta_changes)
            assert state.metadata is not None
            schema_keys.add(_key(state.metadata))
            branches.append((v, ts_ms, None, None, None, cdc_files))
            continue
        if not (inserted or deleted or dv_changed):
            continue
        assert state.metadata is not None
        if inserted:
            schema_keys.add(_key(state.metadata))
        if deleted or dv_changed:
            assert key_before is not None
            schema_keys.add(key_before)
        branches.append((v, ts_ms, inserted, deleted, dv_changed, None))
    if not branches:
        return []
    if len({(sid, pc, mm) for sid, _, pc, mm in schema_keys}) > 1:
        raise NotImplementedError(
            "schema / partitioning / column-mapping changed inside the "
            "change window; split the read at the metadata-change commit"
        )
    _, schema_str, part_cols, mapping = next(iter(schema_keys))
    ctx = {
        "schema_str": schema_str,
        "part_cols": list(part_cols),
        "mapping": mapping,
    }
    tasks: list[dict] = []

    def _task(rel, pvals, ctype, keep, drop, v, ts_ms):
        tasks.append(
            {
                "rel": rel,
                "pvals": dict(pvals or {}),
                "ctype": ctype,
                "keep_dv": keep,
                "drop_dv": drop,
                "version": v,
                "ts_ms": ts_ms,
                **ctx,
            }
        )

    for v, ts_ms, inserted, deleted, dv_changed, cdc_files in branches:
        if cdc_files:
            # ctype=None = "read _change_type from the change file"
            for rel, pvals in sorted(cdc_files.items()):
                _task(rel, pvals, None, None, None, v, ts_ms)
            continue
        for rel, (pvals, dv) in sorted(inserted.items()):
            _task(rel, pvals, "insert", None, dv, v, ts_ms)
        for rel, (pvals, dv) in sorted(deleted.items()):
            _task(rel, pvals, "delete", None, dv, v, ts_ms)
        for rel, (pvals, old, new) in sorted(dv_changed.items()):
            # keep_dv=None means "keep ALL rows" in materialize_rows
            # (the case-A/B shape), so an EMPTY side must skip its task
            # instead of passing None: a DV-clearing restore has no
            # newly-deleted rows, and a first DV has no restores.
            # (The fuzzer's arrow-vs-spark oracle caught exactly this:
            # a restore commit emitted every live row as a phantom
            # delete on the arrow side — seed 20260817 case 16.)
            if new:
                _task(rel, pvals, "delete", new, old, v, ts_ms)
            if old:
                _task(rel, pvals, "insert", old, new, v, ts_ms)
    return tasks


def materialize_rows(path: str, task: dict) -> list[tuple]:
    """One task -> output tuples in ``change_schema`` order. Runs
    anywhere the table path is reachable (driver for the simple stream
    reader and the batch helper; EXECUTORS for the partition-planned
    reader)."""
    import json as _json

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    base = _local(path)
    schema = T.StructType.fromJson(_json.loads(task["schema_str"]))
    mapping = task["mapping"]
    part_cols = task["part_cols"]
    phys_schema = _physicalize(schema) if mapping != "none" else schema
    phys_by_logical = {
        f.name: pf.name
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    types_by_logical = {f.name: f.dataType for f in schema.fields}
    out_names = [f.name for f in schema.fields]

    keep = (
        _dv_positions_set(base, task["keep_dv"])
        if task["keep_dv"]
        else None
    )
    drop = _dv_positions_set(base, task["drop_dv"])
    if keep is not None:
        keep = keep - drop
        if not keep:
            return []
    table = pq.read_table(
        os.path.join(base, urllib.parse.unquote(task["rel"]))
    )
    records = table.to_pylist()
    ts = _dt.datetime.fromtimestamp(task["ts_ms"] / 1000.0)
    out: list[tuple] = []
    is_cdc = task["ctype"] is None  # change file: _change_type per row
    for idx, rec in enumerate(records):
        if not is_cdc:
            if keep is not None:
                if idx not in keep:
                    continue
            elif idx in drop:
                continue
        row = []
        for name in out_names:
            if name in part_cols:
                row.append(
                    _typed_partition_value(
                        task["pvals"].get(phys_by_logical[name]),
                        types_by_logical[name],
                    )
                )
            else:
                row.append(rec.get(phys_by_logical[name]))
        ctype = rec.get("_change_type") if is_cdc else task["ctype"]
        out.append(tuple(row) + (ctype, task["version"], ts))
    return out


def arrow_changes(
    path: str, start_version: int, end_version: int
) -> list[tuple]:
    """Row-level changes in [start_version, end_version] as plain Python
    tuples in ``change_schema`` order. Same semantics as
    delta_lite.read_delta_changes (same _diff_commit classification;
    independent row materialization)."""
    out: list[tuple] = []
    for task in change_plan(path, start_version, end_version):
        out.extend(materialize_rows(path, task))
    return out
