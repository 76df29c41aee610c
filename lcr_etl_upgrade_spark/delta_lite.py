"""Minimal Delta Lake table support from the PUBLIC transaction-log
protocol — no ``delta-spark`` dependency.

The reference reads and writes Delta everywhere (its sync stage lands
JDBC extracts as Delta RAW, ``/root/reference/sync.py:112-114``, and the
ingest stage reads them back, ``/root/reference/ingest.py:644-650``).
The ``delta-spark`` package cannot be installed in this container (no
package index — recorded in COVERAGE.md), but the Delta transaction log
is an open, documented format (delta.io PROTOCOL.md): a ``_delta_log/``
directory of ordered JSON commits (plus optional parquet checkpoints)
whose ``add``/``remove`` actions name the active parquet data files.

So this module implements the protocol directly, Spark-first:

- READ = log replay (driver-side, small) + one plain ``spark.read
  .parquet`` over the active file set with the schema from ``metaData``.
  Every command reads the log through ``_Log``: one listing of
  ``_delta_log`` gives the commits and the complete checkpoints, and
  replay starts from the newest checkpoint that parses (the
  ``_last_checkpoint`` hint is written for other readers, never read).
  Partitioned tables whose files are hive-layout (everything this
  writer produces) read as ONE ``basePath``-discovered relation, so
  Spark's native partition pruning applies inside a single scan node
  and the plan does not grow with partition count; non-hive external
  logs fall back to a per-partition-group union whose branches
  constant-fold away under partition filters. Time travel = replay to
  ``version``.
- WRITE = stage parquet files, move them into the table, publish one
  JSON commit whole: written to a temp file, then hard-linked onto the
  version name (``_write_commit_file``). Readers never see a partial
  commit, and a concurrent writer loses the link with a clear error
  instead of corrupting the log. Tables written here are valid protocol
  v1 tables (reader 1 / writer 2) readable by any real Delta reader.

Deliberate limits (clear errors, not wrong answers):
- protocol reader versions 1 and 2 (column mapping: physical->logical
  name resolution for modes ``name``/``id``) read natively, as does
  version 3 when every readerFeature is supported (``v2Checkpoint``,
  ``columnMapping``, ``timestampNtz``, ``deletionVectors`` — roaring
  bitmaps integrity-checked driver-side via a streaming count, then
  applied as a ``_metadata.row_index`` anti-join: at or below
  MAX_DV_POSITIONS total cardinality the positions are decoded on the
  driver into a broadcast local relation, above it they expand in
  Python workers (mapInPandas over the descriptors) and the join
  shuffles — any cardinality reads correctly; ``variantType`` and
  ``typeWidening``
  via Spark's native parquet handling — each combination verified);
  unimplemented features refuse with the feature named;
- all three checkpoint layouts read (classic single-part, classic
  multi-part, v2 UUID-named parquet/json incl. ``sidecar`` files); the
  writer emits classic single-part — or, on tables listing the
  ``v2Checkpoint`` feature (see ``enable_v2_checkpoint``), the v2
  UUID-named manifest + add-action sidecar the feature's write rule
  mandates (r9);
- the writer is local-filesystem only; overwrite is single-writer, while
  append retries a lost version race at the next version (bounded
  optimistic concurrency — safe because append file sets are disjoint
  and carry no metadata change, per the public protocol's conflict
  rules).

When ``delta-spark`` IS importable, ``sources.read_delta`` and the
``delta_overwrite`` sink use it instead; this module is the fallback
that keeps Delta semantics runnable (and tested) here.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import struct
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.roaring_lite import (
    count_roaring_bitmap_array,
    iter_roaring_bitmap_array,
    parse_roaring_bitmap_array,
    serialize_roaring_bitmap_array,
    z85_decode,
    z85_encode,
)

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_SINGLE = "{v:020d}.checkpoint.parquet"
# classic checkpoints: single-part and multi-part {v}.checkpoint.{i}.{n}
_CHECKPOINT_SINGLE_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CHECKPOINT_MULTI_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
# v2 checkpoints (public protocol "V2 spec"): UUID-named, parquet or json
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(parquet|json)$"
)
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class TableState:
    """Replayed log state: the active file set and table metadata."""

    version: int = -1  # last applied commit version; -1 = no table
    # relative (decoded) file path -> partitionValues map from its add
    files: dict[str, dict[str, str | None]] = field(default_factory=dict)
    # relative file path -> deletionVector descriptor (only for files
    # whose latest add carries one)
    dvs: dict[str, dict] = field(default_factory=dict)
    # relative file path -> OPTIONAL add-action fields beyond the core
    # set (stats, tags, rowTracking's baseRowId, ...): no effect on
    # scans, but checkpoint STATE — write_checkpoint re-emits the ones
    # its schema represents and REFUSES on any it cannot, instead of
    # silently dropping them relative to JSON-log replay
    adds: dict[str, dict] = field(default_factory=dict)
    metadata: dict | None = None
    protocol: dict | None = None
    # setTransaction watermarks (appId -> latest txn action) and
    # domainMetadata (domain -> latest action incl. tombstones): no
    # effect on scans, but checkpoint STATE — a checkpoint that dropped
    # them would un-idempotify streaming writers and erase domain config
    txns: dict[str, dict] = field(default_factory=dict)
    domains: dict[str, dict] = field(default_factory=dict)
    # every delta.columnMapping.physicalName declared by ANY metaData
    # version seen during replay — a file carrying one of these is this
    # table's own lineage (e.g. a DROPPED column's data), not a foreign
    # field-id writer (r12, unlocked by DROP/RENAME COLUMN)
    historical_physical_names: set[str] = field(default_factory=set)

    @property
    def schema(self) -> T.StructType:
        assert self.metadata is not None
        return T.StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        assert self.metadata is not None
        return list(self.metadata.get("partitionColumns") or [])


def _log_dir(path: str) -> str:
    return os.path.join(_local(path), "_delta_log")


def _local(path: str) -> str:
    """file: URIs -> plain paths (this module is local-fs by contract)."""
    return path[len("file:") :] if path.startswith("file:") else path


# Table features (minReaderVersion=3) this reader actually implements.
# Per the public protocol, a reader may open a version-3 table iff it
# supports EVERY listed readerFeature — anything else must refuse.
# - v2Checkpoint: UUID-named checkpoints (read in _Log.checkpoint)
# - columnMapping: physical->logical name mapping (read_delta_lite)
# - timestampNtz: TIMESTAMP_NTZ columns — Spark's parquet reader and
#   StructType.fromJson ('timestamp_ntz') handle the type natively
# - deletionVectors: roaring-bitmap row masks applied via a
#   _metadata.row_index broadcast anti-join (roaring_lite.py)
# - variantType: Spark 4's native VariantType — StructType.fromJson
#   parses 'variant' and the parquet reader handles the physical
#   struct<metadata,value> encoding (verified on this Spark); the
#   -preview alias is what delta 4.0-preview writers declared
# - typeWidening: metaData declares the WIDE type, old files carry the
#   narrow physical type; Spark's parquet reader upcasts every widening
#   the delta spec allows (byte->short->int->long, int->long/double/
#   decimal, float->double, decimal precision, date->timestampNtz —
#   each verified empirically on this Spark before admitting)
# - vacuumProtocolCheck: constrains VACUUM implementations, requires no
#   reader behavior; delta_lite's own vacuum is orphan-only (strictly
#   more conservative than any retention rule)
_SUPPORTED_READER_FEATURES = frozenset(
    {
        "v2Checkpoint",
        "columnMapping",
        "timestampNtz",
        "deletionVectors",
        "variantType",
        "variantType-preview",
        "typeWidening",
        "typeWidening-preview",
        "vacuumProtocolCheck",
    }
)


def _check_protocol(protocol: dict | None) -> None:
    if not protocol:
        return
    reader = int(protocol.get("minReaderVersion", 1))
    if reader <= 1:
        return
    if reader == 2:
        return  # protocol v2 = column mapping, implemented in the reader
    features = set(protocol.get("readerFeatures") or [])
    if reader == 3 and features <= _SUPPORTED_READER_FEATURES:
        return
    raise NotImplementedError(
        "delta_lite implements protocol reader versions 1-2 (plus reader "
        f"features {sorted(_SUPPORTED_READER_FEATURES)}); this table "
        f"requires minReaderVersion={reader} with readerFeatures="
        f"{sorted(features) or None}. Install delta-spark to read tables "
        "using those features."
    )


def _dv_uid(dv: dict | None) -> str | None:
    """Identity of a deletionVector descriptor, mirroring delta-spark's
    uniqueId (storageType + pathOrInlineDv + offset): log reconciliation
    keys file actions by (path, DV identity), NOT path alone."""
    if not dv:
        return None
    return f"{dv.get('storageType')}:{dv.get('pathOrInlineDv')}@{dv.get('offset') or 0}"


# add-action fields TableState tracks structurally; everything else
# (stats, tags, baseRowId, ...) lands in TableState.adds for the
# checkpoint writer to re-emit or refuse on
_ADD_CORE = frozenset(
    {"path", "partitionValues", "size", "modificationTime", "dataChange",
     "deletionVector"}
)
# checkpoint-only DERIVED columns delta-spark materializes alongside the
# raw fields they duplicate (stats/partitionValues); dropping them is
# lossless ONLY while the duplicated raw field is present — see
# _drop_derived (a checkpoint written with writeStatsAsJson=false
# carries stats_parsed WITHOUT stats, and dropping it there would
# silently erase per-file statistics, the exact class the
# lossless-or-refuse gate refuses)
_ADD_DERIVED = frozenset({"stats_parsed", "partitionValues_parsed"})


def _derived_droppable(a: dict, k: str) -> bool:
    if k == "stats_parsed":
        return a.get("stats") is not None
    # partitionValues is a REQUIRED add field: its parsed twin is
    # always a duplicate
    return k == "partitionValues_parsed"


def _apply_action(state: TableState, action: dict) -> None:
    if "add" in action:
        a = action["add"]
        rel = urllib.parse.unquote(a["path"])
        # `or {}`: a checkpoint row's partitionValues struct field can
        # surface as an explicit null, not just an absent key
        state.files[rel] = a.get("partitionValues") or {}
        # a re-add REPLACES the file's deletion vector (or clears it):
        # the protocol's DV updates work by re-adding the same path with
        # a new descriptor
        dv = a.get("deletionVector")
        if dv:
            state.dvs[rel] = dv
        else:
            state.dvs.pop(rel, None)
        # optional add fields (stats, tags, ...) follow the same
        # latest-add-wins rule; explicit nulls from checkpoint structs
        # are absence
        extra = {
            k: v
            for k, v in a.items()
            if k not in _ADD_CORE
            and v is not None
            and not (k in _ADD_DERIVED and _derived_droppable(a, k))
        }
        if extra:
            state.adds[rel] = extra
        else:
            state.adds.pop(rel, None)
    elif "remove" in action:
        r = action["remove"]
        rel = urllib.parse.unquote(r["path"])
        # a DV update commits remove(path, oldDv) + add(path, newDv) for
        # the SAME path, in UNSPECIFIED order within the commit — so a
        # remove only retires the file when its DV identity matches the
        # currently-tracked one (delta-spark's InMemoryLogReplay keys by
        # the (path, dvUniqueId) tuple for exactly this reason); applied
        # after the add, a stale-DV remove must NOT erase the re-added
        # file
        if _dv_uid(r.get("deletionVector")) == _dv_uid(state.dvs.get(rel)):
            state.files.pop(rel, None)
            state.dvs.pop(rel, None)
            state.adds.pop(rel, None)
    elif "metaData" in action:
        state.metadata = action["metaData"]
        try:
            state.historical_physical_names |= _physical_name_set(
                T.StructType.fromJson(
                    json.loads(state.metadata["schemaString"])
                )
            )
        except Exception:
            pass  # unreadable schemaString surfaces at scan time
        # checkpoint-durable lineage (HISTORICAL_NAMES_KEY): a
        # checkpoint carries only the LATEST metaData, so names dropped
        # before it exist nowhere else after log cleanup
        hist = (state.metadata.get("configuration") or {}).get(
            "lcrspark.columnMapping.historicalPhysicalNames"
        )
        if hist:
            try:
                state.historical_physical_names |= set(json.loads(hist))
            except Exception:
                pass
    elif "protocol" in action:
        state.protocol = action["protocol"]
        _check_protocol(state.protocol)
    elif "txn" in action:
        t = action["txn"]
        if t.get("appId") is not None:
            state.txns[t["appId"]] = t
    elif "domainMetadata" in action:
        d = action["domainMetadata"]
        if d.get("domain") is not None:
            state.domains[d["domain"]] = d
    # commitInfo / cdc: transient, no effect on scan or checkpoint state


# the state-bearing action keys a checkpoint carries (plus ``sidecar``
# references of the v2 layout)
_CP_KEYS = ("add", "remove", "metaData", "protocol", "txn",
            "domainMetadata", "sidecar")


class _Log:
    """One listing of a table's ``_delta_log`` and everything read from
    it: the only place this module lists the log, parses its JSON,
    decodes checkpoints or dates a commit.

    The listing holds the commit versions and the COMPLETE checkpoint
    sets, newest first: classic single-part, classic multi-part with
    every part present, and v2 UUID-named (parquet or json). At one
    version the single-file layouts come before a part set (nothing to
    assemble) and the lexically-last v2 UUID first. Commit files are
    published whole (``_write_commit_file``), so every listed commit is
    complete."""

    def __init__(self, path: str):
        self.path = path
        self.dir = _log_dir(path)
        if not os.path.isdir(self.dir):
            raise FileNotFoundError(
                f"not a Delta table: {path!r} has no _delta_log directory"
            )
        self.commits: dict[int, str] = {}  # version -> file name
        # every commit and checkpoint file name -> its version
        self.versions: dict[str, int] = {}
        cands: list[tuple[tuple, list[str]]] = []
        parts: dict[tuple[int, int], set[int]] = {}
        for f in os.listdir(self.dir):
            if m := _COMMIT_RE.match(f):
                self.commits[int(m.group(1))] = f
            elif m := _CHECKPOINT_SINGLE_RE.match(f):
                cands.append(((int(m.group(1)), 2, f), [f]))
            elif m := _CHECKPOINT_V2_RE.match(f):
                cands.append(((int(m.group(1)), 1, f), [f]))
            elif m := _CHECKPOINT_MULTI_RE.match(f):
                parts.setdefault(
                    (int(m.group(1)), int(m.group(3))), set()
                ).add(int(m.group(2)))
            else:
                continue
            self.versions[f] = int(m.group(1))
        # version -> the first missing part of an incomplete part set
        self.incomplete: dict[int, str] = {}
        for (v, n), got in parts.items():
            names = [
                f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
                for i in range(1, n + 1)
            ]
            missing = [f for i, f in enumerate(names, 1) if i not in got]
            if missing:
                self.incomplete[v] = missing[0]
            else:
                cands.append(((v, 0, ""), names))
        self.checkpoints: list[tuple[int, list[str]]] = [
            (key[0], files) for key, files in sorted(cands, reverse=True)
        ]
        # checkpoint files -> decoded actions, or the error decoding
        # raised: each checkpoint is read once per command
        self._decoded: dict[tuple[str, ...], list[dict] | Exception] = {}
        # the checkpoint version the last ``replay`` started from
        self.used: int | None = None

    def latest(self) -> int:
        """Newest commit version; raises on a log without commits."""
        if not self.commits:
            raise FileNotFoundError(f"empty _delta_log in {self.path!r}")
        return max(self.commits)

    def _lines(self, name: str):
        with open(os.path.join(self.dir, name)) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)

    def actions(self, v: int):
        """Commit ``v``'s actions, parsed line by line."""
        return self._lines(self.commits[v])

    def info(self, v: int, actions=None) -> dict:
        """Commit ``v``'s commitInfo (``{}`` without one) with its
        ``timestamp`` resolved: the header's own, else the commit
        file's mtime (older tables, foreign writers)."""
        info = next(
            (a["commitInfo"] for a in (
                self.actions(v) if actions is None else actions
            ) if "commitInfo" in a),
            None,
        ) or {}
        ts = info.get("timestamp")
        if ts is None:
            ts = os.path.getmtime(
                os.path.join(self.dir, self.commits[v])
            ) * 1000
        return {**info, "timestamp": int(ts)}

    def times(self) -> dict[int, int]:
        """Canonical commit times, version -> ms: the running max of
        ``info`` times over ascending versions — delta-spark's
        clock-skew adjustment, so timestamp -> version is monotone."""
        out: dict[int, int] = {}
        running = -(1 << 62)
        for v in sorted(self.commits):
            running = max(running, self.info(v)["timestamp"])
            out[v] = running
        return out

    def checkpoint(self, spark: SparkSession, files: list[str]) -> list[dict]:
        """One checkpoint's files -> action dicts (``_CP_KEYS``, one per
        non-null struct of each row): parquet, or json for the v2
        layout. A v2 ``sidecar`` action stays in the list, followed by
        the add/remove actions of the parquet file it names (relative
        paths under ``_sidecars/``, per the public protocol). Decoded
        once per ``_Log``; an unreadable checkpoint raises its decode
        error on every call."""
        got = self._decoded.get(tuple(files))
        if got is None:
            try:
                got = self._decode(spark, files)
            except Exception as exc:
                got = exc
            self._decoded[tuple(files)] = got
        if isinstance(got, Exception):
            raise got
        return got

    def _decode(self, spark: SparkSession, files: list[str]) -> list[dict]:

        def parquet(paths: list[str]) -> list[dict]:
            out = []
            for row in spark.read.parquet(*paths).collect():
                d = row.asDict(recursive=True)
                out += [{k: d[k]} for k in _CP_KEYS if d.get(k) is not None]
            return out

        if files[0].endswith(".json"):
            actions = [
                a for a in self._lines(files[0])
                if any(a.get(k) is not None for k in _CP_KEYS)
            ]
        else:
            actions = parquet([os.path.join(self.dir, f) for f in files])
        out: list[dict] = []
        for a in actions:
            out.append(a)
            sc = a.get("sidecar")
            if sc is None:
                continue
            p = urllib.parse.unquote(sc["path"])
            full = p if os.path.isabs(p) else os.path.join(
                self.dir, "_sidecars", p
            )
            if not os.path.exists(full):
                raise ValueError(
                    f"v2 checkpoint sidecar {sc['path']!r} missing from "
                    f"{self.dir}/_sidecars"
                )
            out += parquet([full])
        return out

    def replay(
        self, spark: SparkSession, version: int | None = None
    ) -> TableState:
        """State at ``version`` (default: latest): the newest complete
        checkpoint at or below it that parses, then the JSON commits
        after it. An unreadable checkpoint (a stray or corrupt file from
        a crashed external writer) falls back to the next older one,
        then to the JSON chain from version 0; with neither, its own
        error — or an incomplete part set's — is raised instead of a
        misleading gap."""
        state = TableState()
        failure: Exception | None = None
        for cp_version, files in self.checkpoints:
            if version is not None and cp_version > version:
                continue
            try:
                actions = self.checkpoint(spark, files)
            except Exception as exc:
                failure = failure or exc
                continue
            for action in actions:
                _apply_action(state, action)
            state.version = self.used = cp_version
            break
        # existence of ``version`` is validated AFTER replay (below): it
        # may be reconstructible from a checkpoint alone when its JSON
        # commit was cleaned up
        commits = sorted(
            v for v in self.commits
            if v > state.version and (version is None or v <= version)
        )
        if state.version < 0 and commits[:1] != [0]:
            if failure is not None:
                raise failure
            bad = max(
                (v for v in self.incomplete if version is None or v <= version),
                default=None,
            )
            if bad is not None:
                raise ValueError(
                    f"multi-part checkpoint for version {bad} in "
                    f"{self.dir} is incomplete ({self.incomplete[bad]} "
                    "missing), and no other complete checkpoint or full "
                    "JSON chain can reconstruct the table state"
                )
        for v in commits:
            if v != state.version + 1:
                # a GAP means commits were deleted (e.g. log cleanup
                # after a checkpoint) — replaying a partial log would
                # silently reconstruct a WRONG file set, so refuse
                raise ValueError(
                    f"cannot reconstruct version "
                    f"{version if version is not None else 'latest'} of "
                    f"{self.path!r}: commit {state.version + 1} is missing "
                    f"(log starts at {v}; earlier commits were removed "
                    "after a checkpoint?)"
                )
            for action in self.actions(v):
                _apply_action(state, action)
            state.version = v
        if version is not None and state.version != version:
            raise ValueError(
                f"version {version} not found in {self.dir} "
                f"(latest eligible: "
                f"{state.version if state.version >= 0 else 'none'})"
            )
        if state.version < 0:
            self.latest()  # no commit and no checkpoint: the empty-log error
        if state.metadata is None:
            raise ValueError(f"no metaData action found in {self.dir}")
        _check_protocol(state.protocol)
        return state


def replay_log(
    spark: SparkSession, path: str, version: int | None = None
) -> TableState:
    """Reconstruct table state at ``version`` (default: latest) by replaying
    the newest usable checkpoint plus subsequent JSON commits in order
    (``_Log.replay``)."""
    return _Log(path).replay(spark, version)


# ---- deletion vectors (deletionVectors reader feature) ------------------

# Route bound, NOT a capability cap: any cardinality reads and writes
# correctly. At or below this many positions (a read: the in-scan
# vectors' verified cardinalities; a DML mask pass: its decided rows
# plus the old vectors', see _dv_union_blobs) deletion vectors are
# decoded, unioned and serialized on the DRIVER and the deleted-row
# relation is a broadcast local relation (the common case: DVs are
# tiny next to the table). Above it they are expanded and serialized
# in Python workers, one task per vector or file, and the anti-join
# shuffles instead of forcing a multi-hundred-MB broadcast build side
# onto every executor. Measured at local[4], 8 files, delete_rows then
# read_delta_lite().count() of the same positions on both routes (two
# runs each, driver / workers):
#   1.0M positions of  4M rows: delete 2.9-3.2 / 3.4-7.5 s,
#                               read 3.0-3.9 / 3.3-5.5 s;
#   2.5M positions of 10M rows: delete 6.3 / 7.5-11.0 s,
#                               read 7.8-8.1 / 7.5-8.9 s;
#   5.0M positions of 10M rows: delete 10.6-13.2 / 13.1-17.4 s,
#                               read 12.3-14.4 / 9.8-11.1 s,
# with 0.54 GB (2.5M) and 0.96 GB (5M) peak driver Python memory. So the
# bound sits at the largest measured count where the driver route is no
# slower either way (it was 10M while it only chose the join strategy).
MAX_DV_POSITIONS = 2_500_000

# Characters a Java URI keeps RAW in its path component (unreserved +
# sub-delims + ":@/"); everything else ASCII is percent-encoded
# uppercase, and non-ASCII is kept raw by Hadoop's Path rendering
# (verified empirically — see _apply_dv_filter).
_URI_PATH_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-_.~!$&'()*+,;=:@/"
)


def _hadoop_path_encode(path: str) -> str:
    """Encode a local path the way Hadoop renders it in
    ``_metadata.file_path`` (minus the ``file:`` scheme)."""
    return "".join(
        c if (ord(c) > 127 or c in _URI_PATH_SAFE) else f"%{ord(c):02X}"
        for c in path
    )


def _file_key(base: str, rel: str) -> str:
    """The table file ``rel`` as ``_metadata.file_path`` names it
    (scheme stripped): the per-file join key of row identity, row
    tracking and deletion vectors."""
    return _hadoop_path_encode(os.path.abspath(os.path.join(base, rel)))


def _resolve_dv_blob(base: str, dv: dict) -> bytes:
    """DeletionVector descriptor -> serialized RoaringBitmapArray bytes,
    per the public protocol's three storage types: ``i`` inline (Z85 of
    the bitmap), ``u`` UUID-named file under the table root (optional
    random prefix + Z85 of the 16-byte UUID), ``p`` absolute path. File
    storage carries a 1-byte format version, then at ``offset`` a u32
    big-endian size, the bitmap data, and a u32 big-endian CRC-32 of the
    data — all verified."""
    import zlib

    storage = dv["storageType"]
    size = int(dv["sizeInBytes"])
    if storage == "i":
        data = z85_decode(dv["pathOrInlineDv"])
        if len(data) < size:
            raise ValueError(
                f"inline deletion vector shorter than sizeInBytes "
                f"({len(data)} < {size})"
            )
        return data[:size]  # z85 decodes in 4-byte groups; trim padding
    if storage == "u":
        enc = dv["pathOrInlineDv"]
        prefix, uuid_z85 = enc[:-20], enc[-20:]
        uuid_hex = z85_decode(uuid_z85).hex()
        name = (
            f"{uuid_hex[0:8]}-{uuid_hex[8:12]}-{uuid_hex[12:16]}-"
            f"{uuid_hex[16:20]}-{uuid_hex[20:32]}"
        )
        path = os.path.join(
            base, *( [prefix] if prefix else [] ), f"deletion_vector_{name}.bin"
        )
    elif storage == "p":
        path = _local(dv["pathOrInlineDv"])
    else:
        raise NotImplementedError(
            f"unknown deletion-vector storageType {storage!r}"
        )
    offset = int(dv.get("offset") or 0)
    with open(path, "rb") as fh:
        blob = fh.read()
    if not blob or blob[0] != 1:
        raise ValueError(
            f"deletion-vector file {path!r} has unsupported format "
            f"version {blob[0] if blob else 'EMPTY'}"
        )
    if offset + 8 + size > len(blob):
        raise ValueError(f"deletion vector at {offset} overruns {path!r}")
    (stored_size,) = struct.unpack_from(">I", blob, offset)
    if stored_size != size:
        raise ValueError(
            f"deletion-vector size mismatch in {path!r}: descriptor says "
            f"{size}, file says {stored_size}"
        )
    data = blob[offset + 4 : offset + 4 + size]
    (crc,) = struct.unpack_from(">I", blob, offset + 4 + size)
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"deletion-vector checksum mismatch in {path!r}")
    return data


def _dv_verify(base: str, dvs: dict[str, dict]) -> dict[str, tuple[dict, int]]:
    """Eager driver-side integrity pass over every file's deletion
    vector: resolve the blob (format-version / size / CRC checks in
    ``_resolve_dv_blob``) and verify the descriptor's cardinality with a
    streaming O(one-container)-memory count — so corrupt tables fail at
    ``read_delta_lite`` time, loudly, regardless of DV size, before any
    position is used. Positions are NOT materialized here; the scan's
    ``_dv_positions`` decodes them on the driver or in Python workers,
    by MAX_DV_POSITIONS. Returns rel -> (descriptor, cardinality)."""
    out: dict[str, tuple[dict, int]] = {}
    for rel, dv in dvs.items():
        n = count_roaring_bitmap_array(_resolve_dv_blob(base, dv))
        card = dv.get("cardinality")
        if card is not None and int(card) != n:
            raise ValueError(
                f"deletion vector for {rel!r}: descriptor cardinality "
                f"{card} != {n} parsed positions"
            )
        out[rel] = (dv, n)
    return out


def _dv_array(base: str, dv: dict, n: int):
    """One verified deletion vector's positions as numpy int64, decoded
    on the driver; ``n`` is its verified cardinality, which also bounds
    the decode in case the blob changed since it was verified."""
    import itertools

    import numpy as np

    pos = np.fromiter(
        itertools.chain.from_iterable(
            iter_roaring_bitmap_array(_resolve_dv_blob(base, dv), max_values=n)
        ),
        dtype=np.int64,
    )
    if len(pos) != n:
        raise ValueError(
            f"deletion vector changed since it was verified: {len(pos)} "
            f"positions, {n} verified"
        )
    return pos


def _dv_positions(
    spark: SparkSession,
    base: str,
    verified: dict[str, tuple[dict, int]],
    files_in_scan: list[str],
):
    """The (encoded file URI, row index) relation of all marked rows in
    ``files_in_scan``'s deletion vectors, with the broadcast-vs-shuffle
    hint already applied (see _apply_dv_filter for the full story).
    None when no in-scan vector marks any row."""
    in_scan = set(files_in_scan)
    relevant = sorted(
        (rel, dv, n)
        for rel, (dv, n) in verified.items()
        if rel in in_scan and n > 0
    )
    if not relevant:
        return None
    # abspath, NOT realpath: Spark qualifies the path it was given
    # without resolving symlinks, so resolving here would desync the
    # join key for tables reached through a symlink. The path is then
    # encoded exactly as Hadoop renders _metadata.file_path (verified
    # empirically on this Spark: Java-URI path rules — space/%/# etc
    # percent-encoded uppercase, sub-delims and non-ASCII kept raw).
    # A failed match here would FAIL OPEN (deleted rows silently
    # resurrected), so the encoding equivalence is pinned by tests
    # over hostile partition-dir names. Keys are computed on the DRIVER
    # on both routes, so those pins cover both.
    keys = [_file_key(base, rel) for rel, _, _ in relevant]
    total = sum(n for _, _, n in relevant)
    if total <= MAX_DV_POSITIONS:
        # driver route: decode each vector once into int64 positions
        # and hand them to the JVM as ONE Arrow table, one row per file
        # (its path once, its positions as an array) exploded there —
        # no Python worker, and no per-position path string or python
        # object on the driver. Measured at local[4], 1M positions in
        # 8 files: 0.5 s to build and anti-join against 4M rows, where
        # one (path ordinal, position) row per position took 4-6 s (a
        # local relation of 1M rows is shipped row by row in the tasks)
        import pyarrow as pa

        local = spark.createDataFrame(
            pa.table(
                {
                    "__dv_file": keys,
                    "__dv_idx": pa.array(
                        [_dv_array(base, dv, n) for _, dv, n in relevant],
                        type=pa.list_(pa.int64()),
                    ),
                }
            )
        )
        return F.broadcast(
            local.select(
                "__dv_file", F.explode("__dv_idx").alias("__dv_idx")
            )
        )
    desc_rows = [
        (key, json.dumps(dv), int(n))
        for key, (_, dv, n) in zip(keys, relevant)
    ]
    desc = spark.createDataFrame(
        desc_rows, "__dv_file string, __dv_json string, __dv_card long"
    )

    def _expand(batches):
        import numpy as np
        import pandas as pd

        CHUNK = 1_000_000
        for pdf in batches:
            for key, dv_json, card in zip(
                pdf["__dv_file"], pdf["__dv_json"], pdf["__dv_card"]
            ):
                # STREAMED expansion: per-container batches (<=65,536
                # values each) re-chunked into bounded Arrow frames, so
                # even a single multi-hundred-million-row DV never
                # materializes whole in this worker. The cardinality was
                # driver-verified against these bytes; the bound
                # re-guards the (pathological) case of the blob changing
                # between plan and execution.
                buf: list[int] = []
                for container in iter_roaring_bitmap_array(
                    _resolve_dv_blob(base, json.loads(dv_json)),
                    max_values=int(card),
                ):
                    buf.extend(container)
                    if len(buf) >= CHUNK:
                        yield pd.DataFrame(
                            {
                                "__dv_file": key,
                                "__dv_idx": np.asarray(buf, dtype=np.int64),
                            }
                        )
                        buf = []
                if buf:
                    yield pd.DataFrame(
                        {
                            "__dv_file": key,
                            "__dv_idx": np.asarray(buf, dtype=np.int64),
                        }
                    )

    return (
        desc.repartition(len(desc_rows))
        .mapInPandas(_expand, "__dv_file string, __dv_idx long")
        .hint("shuffle_hash")
    )


def _apply_dv_filter(
    spark: SparkSession,
    df: DataFrame,
    base: str,
    verified: dict[str, tuple[dict, int]],
    files_in_scan: list[str],
    how: str = "left_anti",
) -> DataFrame:
    """Drop deleted rows: anti-join (file URI, row index) pairs against
    the scan's ``__file`` / ``__pos`` row identity. (``how="left_semi"``
    inverts the filter — KEEP only the rows the vectors mark — which is
    how the change-feed reader materializes the rows a DV update
    deleted.) The vectors were integrity-verified by ``_dv_verify``.

    At or below MAX_DV_POSITIONS total cardinality the deleted-row
    relation is built on the DRIVER: each vector decodes once into
    int64 positions, which travel to the JVM as one Arrow table with
    one row per file, are exploded there and join broadcast (no shuffle
    of the fact side, no Python worker — the common case). Above it a
    tiny descriptor
    DataFrame (one row per vector) expands to positions inside
    ``mapInPandas``, one task per vector, so positions of arbitrary
    cardinality never materialize on the driver; that route needs the
    table root reachable from executors, the same shared-storage
    assumption the reader makes for the parquet files. Its explicit
    shuffle_hash hint forces a shuffled hash join: Catalyst's size
    estimate for the mapInPandas output derives from the tiny
    descriptor relation, so merely DROPPING the broadcast hint would
    still statically plan a broadcast join of the expanded positions —
    the exact oversized build table the bound exists to prevent."""
    deleted = _dv_positions(spark, base, verified, files_in_scan)
    if deleted is None:
        # no marked rows: anti keeps everything, semi keeps nothing
        return df if how == "left_anti" else df.filter(F.lit(False))
    return df.join(
        deleted,
        (F.col("__file") == deleted["__dv_file"])
        & (F.col("__pos") == deleted["__dv_idx"]),
        how,
    )


# ---- column mapping (protocol v2 / columnMapping feature) ---------------


def _column_mapping_mode(metadata: dict) -> str:
    return (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )


def _physicalize(dt: T.DataType) -> T.DataType:
    """Logical schema -> the PHYSICAL schema the parquet files carry:
    every struct field renamed to its ``delta.columnMapping.physicalName``
    (recursively — nested structs, array elements, map values carry
    mapped names too). The protocol assigns a physicalName to EVERY
    field once mapping is enabled, so a field missing the key means a
    corrupt/hand-edited log — raise instead of silently keeping the
    logical name, which Spark's schema-by-name parquet read would
    resolve to all-NULL columns."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            phys = (f.metadata or {}).get("delta.columnMapping.physicalName")
            if phys is None:
                raise ValueError(
                    f"column mapping is enabled but field {f.name!r} has "
                    "no delta.columnMapping.physicalName metadata — "
                    "corrupt or hand-edited log"
                )
            fields.append(
                T.StructField(phys, _physicalize(f.dataType), f.nullable)
            )
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physicalize(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physicalize(dt.keyType),
            _physicalize(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier — the one quoting of column
    names in SQL text: physical names may contain dots (legal in Delta),
    which a bare name would parse as nested access."""
    return "`" + name.replace("`", "``") + "`"


_TYPE_SQL: dict[str, str] = {}


def _type_sql(spark: SparkSession, dt: T.DataType) -> str:
    """``dt`` as SQL type text, rendered ONCE per distinct type by the
    JVM's ``DataType.sql`` — quoted nested field names, NOT NULL struct
    fields and decimal precision included, so every type takes the same
    path into a ``CAST``."""
    key = dt.json()
    if key not in _TYPE_SQL:
        jtypes = spark._jvm.org.apache.spark.sql.types
        _TYPE_SQL[key] = jtypes.DataType.fromJson(key).sql()
    return _TYPE_SQL[key]


def _mapped_schema(
    schema: T.StructType, prior: T.StructType | None, next_id: list[int]
) -> T.StructType:
    """WRITE-side mapping assignment: return ``schema`` with
    ``delta.columnMapping.id`` / ``delta.columnMapping.physicalName``
    metadata on every field, recursively (nested struct fields get their
    own ids and physical names, per the protocol). Fields whose logical
    name exists at the same position-path in ``prior`` KEEP their prior
    assignment — the protocol requires physical names to be stable
    across schema evolution so old parquet files stay resolvable; new
    fields draw fresh ids from the shared ``next_id`` counter."""

    def walk(dt: T.DataType, prior_dt: T.DataType | None) -> T.DataType:
        if isinstance(dt, T.StructType):
            prior_fields = (
                {f.name: f for f in prior_dt.fields}
                if isinstance(prior_dt, T.StructType)
                else {}
            )
            out = []
            for f in dt.fields:
                pf = prior_fields.get(f.name)
                meta = dict(f.metadata or {})
                if pf is not None and "delta.columnMapping.id" in (
                    pf.metadata or {}
                ):
                    meta["delta.columnMapping.id"] = pf.metadata[
                        "delta.columnMapping.id"
                    ]
                    meta["delta.columnMapping.physicalName"] = pf.metadata[
                        "delta.columnMapping.physicalName"
                    ]
                else:
                    meta["delta.columnMapping.id"] = next_id[0]
                    meta["delta.columnMapping.physicalName"] = (
                        f"col-{uuid.uuid4()}"
                    )
                    next_id[0] += 1
                out.append(
                    T.StructField(
                        f.name,
                        walk(f.dataType, pf.dataType if pf else None),
                        f.nullable,
                        meta,
                    )
                )
            return T.StructType(out)
        if isinstance(dt, T.ArrayType):
            prior_el = (
                prior_dt.elementType
                if isinstance(prior_dt, T.ArrayType)
                else None
            )
            return T.ArrayType(walk(dt.elementType, prior_el), dt.containsNull)
        if isinstance(dt, T.MapType):
            pk = prior_dt.keyType if isinstance(prior_dt, T.MapType) else None
            pv = (
                prior_dt.valueType
                if isinstance(prior_dt, T.MapType)
                else None
            )
            return T.MapType(
                walk(dt.keyType, pk),
                walk(dt.valueType, pv),
                dt.valueContainsNull,
            )
        return dt

    return walk(schema, prior)  # type: ignore[return-value]


def _max_mapped_id(dt: T.DataType) -> int:
    """Largest delta.columnMapping.id anywhere in the schema tree."""
    if isinstance(dt, T.StructType):
        out = 0
        for f in dt.fields:
            fid = int((f.metadata or {}).get("delta.columnMapping.id", 0))
            out = max(out, fid, _max_mapped_id(f.dataType))
        return out
    if isinstance(dt, T.ArrayType):
        return _max_mapped_id(dt.elementType)
    if isinstance(dt, T.MapType):
        return max(_max_mapped_id(dt.keyType), _max_mapped_id(dt.valueType))
    return 0


def _physical_name_set(dt: T.DataType) -> set[str]:
    """Every delta.columnMapping.physicalName anywhere in the schema
    tree (top level and nested)."""
    out: set[str] = set()
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            p = (f.metadata or {}).get("delta.columnMapping.physicalName")
            if p:
                out.add(p)
            out |= _physical_name_set(f.dataType)
    elif isinstance(dt, T.ArrayType):
        out |= _physical_name_set(dt.elementType)
    elif isinstance(dt, T.MapType):
        out |= _physical_name_set(dt.keyType)
        out |= _physical_name_set(dt.valueType)
    return out


# Table-configuration key carrying every physicalName a PAST metaData
# declared that the CURRENT schema no longer does (JSON-encoded sorted
# list). Checkpoints persist only the latest metaData, so after
# DROP COLUMN + checkpoint + log cleanup the replay would otherwise
# forget that pre-drop files are this table's own lineage and trip the
# foreign-writer guard (r13 ADVICE high). The latest metaData IS
# checkpoint state, so a config key survives where replay history does
# not. Non-"delta." prefix: foreign writers carry unknown keys through.
HISTORICAL_NAMES_KEY = "lcrspark.columnMapping.historicalPhysicalNames"


def _fold_lineage_names(meta_out: dict, known: set[str]) -> dict:
    """Fold physical names absent from ``meta_out``'s schema — but part
    of the table's lineage (``known``) — into HISTORICAL_NAMES_KEY so a
    checkpoint-only replay still recognises pre-drop files as this
    table's own. Returns ``meta_out`` (mutated) for chaining."""
    cfg = dict(meta_out.get("configuration") or {})
    prior: set[str] = set()
    if cfg.get(HISTORICAL_NAMES_KEY):
        try:
            prior = set(json.loads(cfg[HISTORICAL_NAMES_KEY]))
        except Exception:
            prior = set()
    try:
        current = _physical_name_set(
            T.StructType.fromJson(json.loads(meta_out["schemaString"]))
        )
    except Exception:
        return meta_out
    lost = (known | prior) - current
    if lost != prior:
        cfg[HISTORICAL_NAMES_KEY] = json.dumps(sorted(lost))
        meta_out["configuration"] = cfg
    return meta_out


def _verify_physical_names(
    spark: SparkSession,
    sample_file: str,
    expect: list[str],
    known: set[str] | None = None,
) -> None:
    """One driver-side parquet-footer peek: the physical DATA column
    names the file carries must come from the table's expected set.
    delta-spark writes physicalName-named parquet for both 'name' and
    'id' modes, but a foreign id-mode writer may store different column
    names (resolving by parquet field id, which this reader does not
    implement) — Spark's schema-by-name read would then return silent
    all-NULL columns, so verify and refuse loudly instead.

    A file carrying a strict SUBSET of the expected names is fine: a
    merge_schema evolution adds columns the pre-evolution files
    legitimately lack (they read as null, the evolution contract). The
    foreign-writer hazard shows as names OUTSIDE the expected set while
    expected ones are missing — physical names are col-<uuid>, so a
    subset match can only come from this table's own lineage. Names in
    ``known`` (every physicalName any HISTORICAL metaData version
    declared — r12, DROP/RENAME COLUMN) are this table's own lineage
    too: a pre-drop file legitimately carries the dropped column."""
    actual = set(spark.read.parquet(sample_file).schema.fieldNames())
    missing = [c for c in expect if c not in actual]
    foreign = sorted(actual - set(expect) - (known or set()))
    if missing and foreign:
        raise NotImplementedError(
            f"column-mapped table's parquet files do not carry the "
            f"expected physical column names (missing {missing}, file has "
            f"{sorted(actual)}); the table likely requires parquet "
            "field-id resolution — use delta-spark"
        )


def _typed_partition_lit(value: str | None, dtype: T.DataType):
    if value is None or value == HIVE_NULL:
        return F.lit(None).cast(dtype)
    return F.lit(value).cast(dtype)


def _hive_encoded_values(rel: str, part_cols: list[str]) -> dict[str, str]:
    """Partition values a hive-layout path segment-encodes, ONLY for keys
    the path actually carries (unlike ``_partition_values_from_rel``,
    which fills absent keys with None)."""
    values: dict[str, str] = {}
    for seg in rel.split(os.sep)[:-1]:
        k, eq, v = seg.partition("=")
        if eq and k in part_cols:
            values[k] = urllib.parse.unquote(v)
    return values


def _all_files_hive_layout(
    files: dict[str, dict[str, str | None]], part_cols: list[str]
) -> bool:
    """True iff every active file's path encodes EXACTLY the log's
    partitionValues hive-style (``k=v/part-*.parquet``), so Spark's own
    partition discovery would reconstruct the same values the log
    declares. Files our writer stages always satisfy this; externally-
    authored logs may carry arbitrary paths and must take the union
    fallback."""
    for rel, pvals in files.items():
        enc = _hive_encoded_values(rel, part_cols)
        if set(enc) != set(part_cols):
            return False
        for c in part_cols:
            v = None if enc[c] == HIVE_NULL else enc[c]
            if v != pvals.get(c):
                return False
    return True


def _stats_exclude(stats_json: str | None, bounds: dict) -> bool:
    """True iff the file's stats PROVE it holds no row in ``bounds``
    ({phys col: (lo|None, hi|None)} inclusive intervals). Missing or
    unparsable stats keep the file — skipping must fail open."""
    if not stats_json:
        return False
    try:
        st = json.loads(stats_json)
        mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
    except (ValueError, AttributeError):
        return False
    for col, (lo, hi) in bounds.items():
        fmin, fmax = mins.get(col), maxs.get(col)
        if fmin is None or fmax is None:
            continue
        try:
            if hi is not None and fmin > hi:
                return True
            if lo is not None and fmax < lo:
                return True
        except TypeError:
            continue  # incomparable caller value: fail open
    return False


def version_at_timestamp(
    path: str, timestamp, allow_future: bool = False
) -> int:
    """TIMESTAMP AS OF resolution: the greatest version whose commit
    timestamp is <= ``timestamp`` (delta-spark's rule). Commit times
    come from each commit's commitInfo header when present, else the
    commit file's mtime — the same log-authoritative fallback
    table_history and the change feed use — and are CANONICALIZED to be
    non-decreasing across versions (running max), mirroring delta-spark's
    adjustment for clock skew between writers so the mapping
    timestamp -> version is well-defined.

    ``timestamp`` accepts epoch MILLISECONDS (int/float — the log's own
    unit), an ISO-8601 string (naive = UTC), or a datetime (naive =
    UTC). Raises when it precedes version 0's commit (nothing existed).
    A timestamp PAST the latest commit raises too by default — that is
    delta-spark's read-path rule, and silently serving current data for
    a mistyped future time would hide the typo; ``allow_future=True``
    (the RESTORE path) resolves it to the latest version instead,
    matching delta-spark's permissive RESTORE rule."""
    import datetime as _dt

    if isinstance(timestamp, str):
        ts = _dt.datetime.fromisoformat(timestamp)
    else:
        ts = timestamp
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        ts_ms = int(ts.timestamp() * 1000)
    else:
        ts_ms = int(ts)
    log = _Log(path)
    latest = log.latest()
    times = log.times()
    best = max((v for v, t in times.items() if t <= ts_ms), default=None)
    if best is not None and not allow_future and ts_ms > times[latest]:
        raise ValueError(
            f"timestamp {ts_ms} (epoch ms) is after the latest commit to "
            f"{path!r} (version {latest} at {times[latest]} ms); "
            "reads refuse future timestamps (delta-spark parity) — pass "
            "the latest version explicitly, or use restore_table, whose "
            "permissive rule resolves future times to latest"
        )
    if best is None:
        first = min(times)
        raise ValueError(
            f"timestamp {ts_ms} (epoch ms) precedes the first commit to "
            f"{path!r} (version {first} at {times[first]} ms); nothing "
            "existed to read"
        )
    return best


def read_delta_lite(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
    timestamp=None,
) -> DataFrame:
    """Scan a Delta table via log replay (time travel via ``version``
    or ``timestamp`` — TIMESTAMP AS OF, resolved by
    ``version_at_timestamp``; passing both raises).

    ``prune`` is LOG-LEVEL DATA SKIPPING: {logical column: (lo, hi)}
    inclusive intervals (None = unbounded side) evaluated against each
    file's add-action ``stats`` — files provably outside every interval
    are dropped before the scan is even planned, so a z-ordered table
    (optimize(zorder_by=...)) skips files on ANY clustered column
    without opening a footer. A SKIPPING HINT, not a filter: files
    without stats are kept, so the caller must still apply the real
    predicate (which then also prunes row groups inside kept files).
    Values compare as the stats were written: numbers natively,
    strings lexicographically, dates/timestamps as ISO strings.

    Partitioned tables read through ``_TableRead.scan``'s layout rule:
    tables this writer produced (hive-layout paths, ``_stage_and_move``)
    are ONE ``basePath``-discovered parquet relation whose partition
    filters prune inside the scan, so the plan does not grow with
    partition count (the reference reads partitioned Delta as a single
    relation too, /root/reference/ingest.py:644-650 via delta-spark);
    externally-authored logs whose ``add.path`` does not encode the
    partition values take the typed-literal union per partition group.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "pass either version or timestamp, not both"
            )
        version = version_at_timestamp(path, timestamp)
    state = replay_log(spark, path, version)
    tr = _TableRead(spark, path, state)
    rels = tr.rels
    if prune:
        unknown = [c for c in prune if c not in tr.logical_to_phys]
        if unknown:
            raise ValueError(f"prune columns not in schema: {unknown}")
        bounds = {tr.logical_to_phys[c]: v for c, v in prune.items()}
        rels = [
            rel
            for rel in rels
            if not _stats_exclude(
                (state.adds.get(rel) or {}).get("stats"), bounds
            )
        ]
    if not rels:
        return spark.createDataFrame([], tr.schema)
    return tr.scan(rels, ids=False)


def _stage_and_move(
    df: DataFrame, base: str, partition_by: tuple[str, ...]
) -> list[tuple[str, int]]:
    """Write ``df`` as parquet into a staging dir under the table root and
    move the data files into place, returning [(relative path, size)].
    Part-file names carry the job UUID, so moves cannot collide with
    existing table files."""
    staging = os.path.join(base, f"_staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    moved: list[tuple[str, int]] = []
    try:
        for root, _dirs, names in os.walk(staging):
            for name in names:
                if not name.endswith(".parquet"):
                    continue  # _SUCCESS, .crc, ...
                src = os.path.join(root, name)
                rel = os.path.relpath(src, staging)
                dst = os.path.join(base, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                size = os.path.getsize(src)
                shutil.move(src, dst)
                moved.append((rel, size))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return moved


def _partition_values_from_rel(
    rel: str, part_cols: list[str]
) -> dict[str, str | None]:
    """Recover partitionValues from the hive-style path the parquet writer
    produced (``k=v/.../part-*.parquet``); values are dir-escaped the same
    way URIs are (``%3A`` etc.), so unquote restores them."""
    values: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        k, _, v = seg.partition("=")
        if k in part_cols:
            v = urllib.parse.unquote(v)
            values[k] = None if v == HIVE_NULL else v
    return {c: values.get(c) for c in part_cols}


# Writer-side table features (minWriterVersion=7) this writer actually
# honors. columnMapping: it writes physicalName-named parquet, carries
# id/physicalName field metadata through metaData, and keys
# partitionValues by physical name (_mapped_schema/_TableWrite.to_phys).
# deletionVectors: delete_rows writes spec-format DVs (roaring_lite
# serializer, inline or u-storage files), DV updates commit the
# protocol's remove(oldDv)+add(newDv) pair, and overwrite's removes echo
# each file's tracked descriptor so DV-bearing files actually retire.
# appendOnly / invariants: honored by ENFORCEMENT — non-append writes
# refuse when delta.appendOnly=true, and any write refuses when the
# schema declares delta.invariants expressions (we cannot evaluate
# them, so refusal is the only compliant behavior) — see
# _check_write_obligations. They must be listed here because upgrading
# a legacy writer-v2 table to table features carries them over (the
# protocol's implicit-legacy-features rule), and a writer that cannot
# honor a listed feature must not write at all.
# Everything else (constraints, CDF, rowTracking, ...) must refuse: a
# writer must honor EVERY listed writerFeature.
_SUPPORTED_WRITER_FEATURES = frozenset(
    {"columnMapping", "deletionVectors", "appendOnly", "invariants",
     # v2Checkpoint's writer obligation is writing the v2 LAYOUT when
     # checkpointing — write_checkpoint does (r9)
     "v2Checkpoint",
     # delta.constraints.* expressions are EVALUATED on every write
     # (_attach_constraint_observer), violations roll the staging back
     "checkConstraints",
     # provided values validated against delta.generationExpression via
     # the same observer; omitted generated columns are COMPUTED
     "generatedColumns",
     # CDF writer obligations: appends/overwrites derive exactly from
     # add/remove; delete_rows writes _change_data files + cdc actions;
     # the one unsupported shape (DV-reverting restore) refuses
     "changeDataFeed",
     # omitted identity columns GENERATE on the watermark lattice;
     # explicit inserts honor allowExplicitInsert and sync the watermark
     "identityColumns",
     # fresh adds get baseRowId ranges from the delta.rowTracking
     # domain watermark + per-file numRecords; delete_rows re-adds
     # carry the original assignment (extras preserved); OPTIMIZE and
     # update_rows rewrite row-ID-preservingly via the materialized
     # shadow columns (r11)
     "rowTracking",
     # rowTracking's dependency: domain metadata replays, persists
     # losslessly through checkpoints (r9), and is written for the
     # delta.rowTracking domain; this writer never DROPS a domain
     "domainMetadata",
     # type-borne features: Spark's parquet writer emits TIMESTAMP_NTZ
     # and VARIANT natively; the obligation beyond that is declaring
     # the feature, which write_delta_lite stamps from the schema
     "timestampNtz", "variantType",
     # obligation is a protocol check before vacuuming: vacuum()
     # replays the log first, which runs _check_protocol
     "vacuumProtocolCheck",
     # clustered tables (r11): clustering columns live in the
     # delta.clustering domain (set_cluster_by); optimize() defaults
     # its Z-order rewrite to them, which is the writer obligation's
     # honest spelling here (delta-spark's clustering implementations
     # are also space-filling-curve layouts)
     "clusteredTable"}
)

# What each legacy writer tier implicitly enables ON TOP of the tier
# below it — an upgrade to version 7 (table features) must list the
# FULL implicit set of the version it came from, or downstream writers
# silently stop enforcing those semantics (the v2-only carry was a
# latent gap while versions 3-6 were refused; they are writable now).
_LEGACY_TIER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _implicit_legacy_writer_features(writer_v: int) -> set[str]:
    """Every writer feature a legacy ``minWriterVersion`` implies."""
    out: set[str] = set()
    for v, feats in _LEGACY_TIER_FEATURES.items():
        if writer_v >= v:
            out.update(feats)
    return out


# Features a READER must understand too: listed in readerFeatures AND
# writerFeatures (reader version 3). Every other feature is writer-only.
_READER_WRITER_FEATURES = frozenset(
    {"columnMapping", "deletionVectors", "timestampNtz", "typeWidening",
     "v2Checkpoint", "vacuumProtocolCheck", "variantType"}
)


def _protocol_with(state: TableState, features: set[str]) -> dict | None:
    """The protocol a commit needing ``features`` must carry: None when
    the table already lists (or its legacy writer tier implies) all of
    them; a new table always gets one (1/2 when nothing is needed). The
    one upgrade rule, in three parts:

    - reader+writer features (_READER_WRITER_FEATURES) go into both
      lists at reader v3; every other feature is writer-only;
    - a legacy writer tier upgrading to 7 lists the FULL implicit
      feature set of its tier, or downstream writers stop enforcing it;
    - a column-mapped or legacy reader-v2 table (reader v2 IS column
      mapping) moving to reader features lists columnMapping explicitly,
      or feature-gated readers resolve columns by logical name and read
      NULLs."""
    new = state.version < 0
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    reader_v = int(proto.get("minReaderVersion", 1))
    writer_v = int(proto.get("minWriterVersion", 2))
    readers = set(proto.get("readerFeatures") or ())
    writers = set(proto.get("writerFeatures") or ())
    if writer_v < 7 and not new:
        writers |= _implicit_legacy_writer_features(writer_v)
    want_r = set(features) & _READER_WRITER_FEATURES
    if want_r and (
        reader_v == 2
        or _column_mapping_mode(state.metadata or {}) != "none"
    ):
        want_r.add("columnMapping")
    want_w = set(features) | want_r
    if not (want_w - writers or want_r - (readers if reader_v >= 3 else set())):
        return {"minReaderVersion": 1, "minWriterVersion": 2} if new else None
    readers |= want_r
    out: dict = {
        "minReaderVersion": 3 if readers else reader_v,
        "minWriterVersion": 7,
    }
    if readers:
        out["readerFeatures"] = sorted(readers)
    out["writerFeatures"] = sorted(writers | want_w)
    return out


def _schema_type_features(dt: T.DataType) -> set[str]:
    """Table features the SCHEMA itself demands: timestampNtz for any
    TIMESTAMP_NTZ column, variantType for any VARIANT column (per the
    protocol, a v1 reader would misread NTZ values as UTC-adjusted and
    cannot decode variants, so both require reader v3 + the feature)."""
    out: set[str] = set()
    variant_t = getattr(T, "VariantType", None)

    def walk(t: T.DataType) -> None:
        if isinstance(t, T.TimestampNTZType):
            out.add("timestampNtz")
        elif variant_t is not None and isinstance(t, variant_t):
            out.add("variantType")
        elif isinstance(t, T.StructType):
            for f in t.fields:
                walk(f.dataType)
        elif isinstance(t, T.ArrayType):
            walk(t.elementType)
        elif isinstance(t, T.MapType):
            walk(t.keyType)
            walk(t.valueType)

    walk(dt)
    return out

# Writer features whose STATE the checkpoint schema represents
# (files + DVs + optional add fields incl. rowTracking's per-file
# baseRowId/defaultRowCommitVersion (r9) + metadata + protocol + txn +
# domainMetadata). Anything else must refuse — a checkpoint that drops
# a feature's state silently erases it once pre-checkpoint commits are
# cleaned up.
_CHECKPOINT_SAFE = frozenset(
    {
        "columnMapping",
        "deletionVectors",
        "rowTracking",
        "v2Checkpoint",
        "timestampNtz",
        "typeWidening",
        "typeWidening-preview",
        "variantType",
        "variantType-preview",
        "vacuumProtocolCheck",
        "appendOnly",
        "invariants",
        "checkConstraints",
        "generatedColumns",
        "identityColumns",
        "changeDataFeed",
        "domainMetadata",
        # clusteredTable's whole state is the delta.clustering domain,
        # which domainMetadata replay carries losslessly (r9)
        "clusteredTable",
    }
)


# Exactly the fields write_checkpoint's fixed from_json structs carry;
# anything beyond these in the replayed state makes the checkpoint
# refuse (lossless-or-refuse) instead of silently dropping the field.
_CP_ADD_OPTIONAL = frozenset(
    {"stats", "tags", "baseRowId", "defaultRowCommitVersion"}
)
_CP_DV_KEYS = frozenset(
    {"storageType", "pathOrInlineDv", "offset", "sizeInBytes",
     "cardinality", "maxRowIndex"}
)
_CP_META_KEYS = frozenset(
    {"id", "name", "description", "format", "schemaString",
     "partitionColumns", "configuration", "createdTime"}
)
_CP_TXN_KEYS = frozenset({"appId", "version", "lastUpdated"})
_CP_DOMAIN_KEYS = frozenset({"domain", "configuration", "removed"})


def _schema_declares_invariants(dt: T.DataType) -> bool:
    """True if any field, recursively, carries a delta.invariants
    expression in its metadata."""
    if isinstance(dt, T.StructType):
        return any(
            "delta.invariants" in (f.metadata or {})
            or _schema_declares_invariants(f.dataType)
            for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _schema_declares_invariants(dt.elementType)
    if isinstance(dt, T.MapType):
        return _schema_declares_invariants(
            dt.keyType
        ) or _schema_declares_invariants(dt.valueType)
    return False


def _table_constraints(
    metadata: dict | None, schema: T.StructType
) -> list[tuple[str, str]]:
    """Every row-level write obligation the table declares, as
    ``(name, SQL expression)`` pairs: CHECK constraints from
    ``delta.constraints.<name>`` configuration keys (the
    ``checkConstraints`` feature / legacy writer version 3) plus legacy
    column invariants from ``delta.invariants`` field metadata (the
    JSON ``{"expression": {"expression": "<sql>"}}`` envelope, per the
    protocol)."""
    out: list[tuple[str, str]] = []
    config = (metadata or {}).get("configuration") or {}
    for k in sorted(config):
        if k.startswith("delta.constraints."):
            out.append((k[len("delta.constraints."):], config[k]))

    def walk(dt: T.DataType, prefix: str) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                inv = (f.metadata or {}).get("delta.invariants")
                if inv:
                    expr = json.loads(inv)["expression"]["expression"]
                    out.append((f"invariant({prefix}{f.name})", expr))
                walk(f.dataType, f"{prefix}{f.name}.")

    walk(schema, "")
    # generated columns (delta.generationExpression, top-level like
    # delta-spark): a PROVIDED value must equal the expression — <=> so
    # a null generated value only passes when the expression is null too
    for name, expr in _generated_columns(schema):
        quoted = name.replace("`", "``")
        out.append((f"generated({name})", f"`{quoted}` <=> ({expr})"))
    # identity columns are NOT NULL by construction (delta-spark
    # declares them so); generated values trivially satisfy this,
    # explicit inserts are validated by it
    for ident in _identity_columns(schema):
        quoted = ident["name"].replace("`", "``")
        out.append(
            (f"identity-notnull({ident['name']})", f"`{quoted}` IS NOT NULL")
        )
    return out


def _generated_columns(schema: T.StructType) -> list[tuple[str, str]]:
    """Top-level ``delta.generationExpression`` declarations as
    (column, SQL) pairs — nested generated columns do not exist in the
    protocol (delta-spark rejects them at declaration time)."""
    return [
        (f.name, (f.metadata or {})["delta.generationExpression"])
        for f in schema.fields
        if "delta.generationExpression" in (f.metadata or {})
    ]


def _identity_columns(schema: T.StructType) -> list[dict]:
    """Top-level identity declarations: ``delta.identity.start`` /
    ``.step`` / ``.allowExplicitInsert`` / ``.highWaterMark`` field
    metadata (the identityColumns feature, legacy writer version 6)."""
    out = []
    for f in schema.fields:
        meta = f.metadata or {}
        if "delta.identity.start" in meta or (
            "delta.identity.step" in meta
        ):
            step = int(meta.get("delta.identity.step", 1))
            if step == 0:
                raise ValueError(
                    f"identity column {f.name!r} declares step=0"
                )
            out.append({
                "name": f.name,
                "start": int(meta.get("delta.identity.start", 1)),
                "step": step,
                "allow_explicit": bool(
                    meta.get("delta.identity.allowExplicitInsert", False)
                ),
                "hwm": (
                    int(meta["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in meta
                    else None
                ),
                "dtype": f.dataType,
            })
    return out


def _with_identity_hwm(
    schema: T.StructType, hwms: dict[str, int]
) -> T.StructType:
    """``schema`` with ``delta.identity.highWaterMark`` updated on the
    named top-level fields (everything else byte-identical)."""
    fields = []
    for f in schema.fields:
        if f.name in hwms:
            meta = dict(f.metadata or {})
            meta["delta.identity.highWaterMark"] = int(hwms[f.name])
            fields.append(
                T.StructField(f.name, f.dataType, f.nullable, meta)
            )
        else:
            fields.append(f)
    return T.StructType(fields)


def _attach_constraint_observer(
    df: DataFrame,
    table_schema: T.StructType,
    constraints: list[tuple[str, str]],
    path: str,
):
    """Wire write-time constraint VALIDATION into the staging plan: one
    ``observe()`` metric per constraint counting rows where the
    expression is not <=> TRUE — delta-spark's semantics (a NULL result
    VIOLATES, for both CHECK constraints and invariants; SQL-standard
    CHECK would pass nulls — deviation matches the reference
    implementation, not the standard). Columns the incoming frame omits
    (merge_schema) evaluate as the nulls they will read back as. The
    metrics ride the staging write itself — enforcement costs ZERO extra
    passes over the data; the caller checks the observation after the
    write and rolls the staged files back on any violation.

    Returns ``(df_with_observer, observation, metric_name -> constraint
    name)``. Raises with the constraint named when its expression no
    longer analyzes against the table schema (e.g. an overwrite dropped
    a referenced column — drop the constraint first, as delta-spark
    requires)."""
    from pyspark.sql import Observation

    present = set(df.columns)
    aug = df
    for f in table_schema.fields:
        if f.name not in present:
            aug = aug.withColumn(f.name, F.lit(None).cast(f.dataType))
    metrics = []
    name_map: dict[str, str] = {}
    for i, (name, sql) in enumerate(constraints):
        key = f"c{i}"
        name_map[key] = name
        try:
            metric = F.coalesce(
                F.sum(
                    F.when(
                        ~F.expr(sql).eqNullSafe(F.lit(True)), F.lit(1)
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias(key)
            obs_test = aug.select(F.expr(sql))  # eager analysis check
            del obs_test
        except Exception as exc:
            raise ValueError(
                f"constraint {name!r} on {path!r} ({sql!r}) does not "
                f"analyze against the write's schema: {exc}. Drop the "
                "constraint before changing the columns it references."
            ) from exc
        metrics.append(metric)
    obs = Observation()
    observed = aug.observe(obs, *metrics).select(*df.columns)
    return observed, obs, name_map


# The commands delta.appendOnly=true refuses: the ones that retire
# live rows. Appends, OPTIMIZE (a dataChange=false rewrite) and the
# metadata-only ALTER family stay allowed.
_APPEND_ONLY_REFUSED = frozenset(
    {"overwrite", "delete", "update", "merge", "restore"}
)


def _check_write_obligations(state: TableState, path: str,
                             operation: str) -> None:
    """Enforce the legacy/listed features whose semantics this writer
    honors by REFUSAL: appendOnly (delta.appendOnly=true forbids every
    _APPEND_ONLY_REFUSED operation). Row-level obligations —
    delta.invariants field metadata and delta.constraints.* CHECK
    constraints — are EVALUATED, not refused: staging wires them as
    observe() metrics into the write (_attach_constraint_observer) and
    rolls back on violation; deletes add no rows, so delete_rows and
    restore_table have nothing to evaluate."""
    config = (state.metadata or {}).get("configuration") or {}
    if str(config.get("delta.appendOnly", "")).lower() == "true" and (
        operation in _APPEND_ONLY_REFUSED
    ):
        raise ValueError(
            f"the table at {path!r} sets delta.appendOnly=true; "
            f"{operation} is not an append"
        )


def _check_writer_protocol(protocol: dict | None, path: str) -> None:
    """WRITER compliance is separate from reader compliance: a
    v2Checkpoint table is READABLE here (reader feature implemented) but
    this writer implements every LEGACY writer tier — version 6
    (appendOnly, invariants, CHECK constraints, change data feed,
    generated columns, column mapping, identity columns) — and refuses
    only unknown future versions, which would violate the protocol's
    "a writer must support every writerFeature" rule and produce a log
    real Delta tooling may reject. The ONE exception is version 7 (table
    features), where the demanded capabilities are listed explicitly —
    writable iff every listed feature is implemented here
    (_SUPPORTED_WRITER_FEATURES). Checked on the initial replay AND on
    every append retry: a concurrent writer may UPGRADE the protocol
    between our replay and the commit race."""
    if not protocol:
        return
    writer_v = int(protocol.get("minWriterVersion", 2))
    if writer_v == 7:
        unsupported = (
            set(protocol.get("writerFeatures") or ())
            - _SUPPORTED_WRITER_FEATURES
        )
        if unsupported:
            raise NotImplementedError(
                f"the table at {path!r} demands writerFeatures "
                f"{sorted(unsupported)} this writer does not implement. "
                "Use delta-spark to write it."
            )
        return
    if writer_v > 6:
        raise NotImplementedError(
            "delta_lite implements every legacy writer tier "
            "(appendOnly, invariants, CHECK constraints, change data "
            "feed, generated columns, column mapping, identity "
            f"columns — versions 2 through 6); the table at {path!r} "
            f"claims minWriterVersion={writer_v}, which is not a "
            "version the protocol defines (7 is table features, "
            "handled above). Refusing an unknown future protocol."
        )


def _file_stats_json(full_path: str) -> str | None:
    """Per-file Delta ``stats`` (numRecords / minValues / maxValues /
    nullCount) from the parquet footer — the log-level data-skipping
    input (``read_delta_lite(prune=...)`` and real Delta readers prune
    files on these BEFORE opening any footer). Top-level primitive
    columns only; None when the footer has nothing usable.

    Scale note: computed on the committing node with one footer read
    per NEW file — bounded by the commit's own output, not table size
    (delta-spark collects the same stats from write-task metrics)."""
    import datetime as _dt2

    import pyarrow.parquet as pq

    def _plain(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (_dt2.datetime, _dt2.date)):
            return v.isoformat()
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            return None  # NaN/inf are not orderable stats
        if isinstance(v, (int, float, str, bool)):
            return v
        return None

    try:
        md = pq.ParquetFile(full_path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    ok_cols: set[str] = set()
    for rg in range(md.num_row_groups):
        r = md.row_group(rg)
        for i in range(r.num_columns):
            c = r.column(i)
            name = c.path_in_schema
            if "." in name:
                continue  # nested leaves: skip (top-level only)
            st = c.statistics
            try:
                # pyarrow cannot convert some physical stats (decimals
                # stored as INT32/INT64): such a column has no stats
                lo, hi = (
                    (_plain(st.min), _plain(st.max))
                    if st is not None and st.has_min_max
                    else (None, None)
                )
            except NotImplementedError:
                lo = hi = None
            if lo is None or hi is None:
                mins.pop(name, None)
                maxs.pop(name, None)
                ok_cols.discard(name)
                continue
            if rg == 0 or name in ok_cols:
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
                nulls[name] = nulls.get(name, 0) + (st.null_count or 0)
                ok_cols.add(name)
    # numRecords is ALWAYS known from the footer, and valuable alone
    # (COUNT pushdown; rowTracking sizes baseRowId ranges from it —
    # empty part-files included): emit it even when no column produced
    # usable min/max (delta-spark's minimum stats are numRecords too)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: mins[k] for k in sorted(ok_cols)},
            "maxValues": {k: maxs[k] for k in sorted(ok_cols)},
            "nullCount": {k: nulls.get(k, 0) for k in sorted(ok_cols)},
        }
    )


def _write_commit_file(commit_path: str, actions: list[dict]) -> None:
    """Publish one commit whole: write the actions to a temp file in the
    log directory, then ``os.link`` it onto the version name — the
    commit point. The link is atomic, so a reader lists either no
    version file or the complete commit, and it raises FileExistsError
    when the version race was LOST (the winner's file is never
    touched). The temp name matches no log pattern; it is removed
    either way, and a hard kill leaves at most that stray file, never a
    truncated commit."""
    log_dir, name = os.path.split(commit_path)
    tmp = os.path.join(log_dir, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x") as fh:
            for action in actions:
                fh.write(json.dumps(action) + "\n")
        os.link(tmp, commit_path)
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass


def _remove_action(
    state: TableState, rel: str, now_ms: int, data_change: bool = True
) -> dict:
    """The remove action retiring ``rel``. It echoes the file's tracked
    deletion-vector descriptor: log replay retires a file only when the
    remove's DV identity matches (_apply_action), so a bare remove
    would leave a DV-bearing file alive."""
    remove = {
        "path": urllib.parse.quote(rel, safe="/="),
        "deletionTimestamp": now_ms,
        "dataChange": data_change,
    }
    if rel in state.dvs:
        remove["deletionVector"] = state.dvs[rel]
    return {"remove": remove}


_MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_MAT_ROW_CV_KEY = (
    "delta.rowTracking.materializedRowCommitVersionColumnName"
)


@dataclass
class _RowIds:
    """rowTracking bookkeeping for one commit that adds files (every
    writer: append/overwrite, the DML kernel, optimize). When the table
    lists the feature, every fresh add carries a baseRowId range that
    collides with nothing — allocated from the ``delta.rowTracking``
    domain's rowIdHighWaterMark using each file's own numRecords — plus
    defaultRowCommitVersion, and the advanced watermark commits as a
    domainMetadata action in the same version (delta-spark's scheme:
    ranges, never per-row state, so allocation is O(files) driver
    work). Rewrites also need the materialized row-id /
    row-commit-version column names, named by table configuration and
    created on first use (``new_config`` is then the configuration that
    must commit with them)."""

    on: bool
    rid_col: str | None
    rcv_col: str | None
    new_config: dict | None
    next_id: int
    drawn: bool = False

    @classmethod
    def of(cls, state: TableState,
           metadata: dict | None = None) -> "_RowIds":
        cfg = dict(
            ((metadata or state.metadata) or {}).get("configuration") or {}
        )
        on = "rowTracking" in set(
            (state.protocol or {}).get("writerFeatures") or ()
        )
        new_config = None
        for key, prefix in (
            (_MAT_ROW_ID_KEY, "_row-id-col-"),
            (_MAT_ROW_CV_KEY, "_row-commit-version-col-"),
        ):
            if cfg.get(key) is None:
                # without the feature a name no file carries: a row-id
                # scan then resolves baseRowId + position
                cfg[key] = f"{prefix}{uuid.uuid4().hex}"
                new_config = cfg
        if not on:
            return cls(
                False, cfg[_MAT_ROW_ID_KEY], cfg[_MAT_ROW_CV_KEY], None, 0
            )
        next_id = 0
        domain = state.domains.get("delta.rowTracking")
        if domain and not domain.get("removed"):
            next_id = int(
                json.loads(domain.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            ) + 1
        return cls(
            True, cfg[_MAT_ROW_ID_KEY], cfg[_MAT_ROW_CV_KEY], new_config,
            next_id,
        )

    def assign(self, add: dict, stats: str | None, version: int,
               path: str) -> None:
        """Give a fresh ``add`` its baseRowId range and
        defaultRowCommitVersion (no-op without the feature)."""
        if not self.on:
            return
        if stats is None:
            raise NotImplementedError(
                f"the table at {path!r} demands rowTracking but the new "
                f"file {add['path']!r} yielded no readable footer "
                "statistics to size its baseRowId range; refusing rather "
                "than committing colliding row ids"
            )
        add["baseRowId"] = self.next_id
        # rowTracking commits are single-writer, so the version
        # computed before staging IS the committed one
        add["defaultRowCommitVersion"] = version
        self.next_id += int(json.loads(stats)["numRecords"])
        self.drawn = True

    def watermark(self) -> dict:
        return {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": self.next_id - 1}
                ),
                "removed": False,
            }
        }


def write_delta_lite(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    column_mapping: str | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> int:
    """Commit ``df`` to a Delta table; returns the committed version.

    overwrite = K1 with overwriteSchema semantics (the reference's write
    disposition, sync.py:112-114): new files added, every previously
    active file removed, metaData rewritten from ``df``'s schema.
    append = K2/K4: files added under the EXISTING table schema; a column
    -name mismatch raises instead of silently writing an unreadable mix.

    merge_schema=True (append only — overwrite already replaces the
    schema) is delta-spark's mergeSchema: columns in ``df`` that the
    table lacks are ADDED to the table schema as nullable in the same
    commit (old files read them as null), and ``df`` may OMIT nullable
    non-partition table columns (the written files simply lack them; the
    declared-schema scan fills null — under column mapping they are
    staged as typed nulls instead, because the physicalizing select is
    positional over the full mapped field list). Type CHANGES still
    refuse — widening is a separate protocol feature (typeWidening) this
    writer does not commit. New columns that differ only in case from
    existing ones refuse (Delta resolves names case-insensitively), as
    do omitted non-nullable columns and new columns declaring
    delta.invariants. A schema-evolving append carries a metaData
    action, so it is single-writer: losing the commit race refuses
    instead of retrying (a retried add-only commit would silently drop
    the evolution).

    column_mapping: ``"name"`` or ``"id"`` writes a COLUMN-MAPPED table
    (protocol 3/7 with the columnMapping table feature): parquet files,
    hive path segments and partitionValues carry generated physical
    names (``col-<uuid>``), metaData carries the logical schema with
    id/physicalName field metadata, and parquet footers get field ids
    stamped for top-level columns. ``None`` (default) inherits the
    existing table's mode (appends and overwrites of a mapped table stay
    mapped — physical names are REUSED per logical name on overwrite, as
    the protocol's stability rule requires; fresh columns draw ids above
    maxColumnId). Enabling mapping on an existing unmapped table is an
    overwrite-time protocol upgrade; DISABLING it, or switching
    name<->id, is protocol-forbidden and raises. Nested fields get ids
    and physical names at every level; parquet field-id stamping is
    top-level only (name-based resolution covers nested fields — the
    documented seam is foreign readers that resolve NESTED columns
    strictly by field id).

    Row-level obligations are ENFORCED, not refused: delta.constraints.*
    CHECK constraints (table configuration, preserved across overwrites)
    and delta.invariants field metadata are evaluated as observe()
    metrics riding the staging write itself (zero extra data passes);
    any violating row unstages everything and raises with the constraint
    named, before a commit is attempted. NULL expression results count
    as violations — delta-spark's semantics for both kinds, not SQL-
    standard CHECK. This makes legacy minWriterVersion=3 tables and
    v7 tables listing checkConstraints writable here.

    The commit is published whole by hard-linking a temp file onto the
    version name — the link is the commit point, and a concurrent
    writer gets FileExistsError (single-writer semantics made explicit
    rather than log corruption).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if merge_schema and mode != "append":
        raise ValueError(
            "merge_schema only applies to mode='append'; overwrite "
            "already replaces the schema"
        )
    if column_mapping not in (None, "name", "id"):
        raise ValueError(
            f"column_mapping must be None|'name'|'id', got {column_mapping!r}"
        )
    spark = df.sparkSession
    tw = _TableWrite(spark, path, mode, create=True)
    prior = tw.state if tw.state.version >= 0 else None
    if txn is not None and prior is not None:
        # idempotent-writer watermark (the protocol's setTransaction):
        # a (appId, version) at or below the table's recorded watermark
        # was ALREADY applied — skip without staging anything. This is
        # what makes a foreachBatch sink exactly-once across restarts.
        seen = prior.txns.get(txn[0])
        if seen is not None and int(seen.get("version", -1)) >= int(txn[1]):
            return prior.version
    # an overwrite (or fresh create) whose incoming schema DECLARES
    # delta.invariants commits that metadata into the table — legal,
    # because this writer EVALUATES invariants and CHECK constraints on
    # every write (stage_rows); the rows of THIS write are validated
    # too, so the enforcement promise the metadata makes to real
    # readers is kept from version one

    prior_mapping = (
        _column_mapping_mode(prior.metadata) if prior is not None else "none"
    )
    if column_mapping is None:
        mapping = prior_mapping
    else:
        if prior_mapping != "none" and column_mapping != prior_mapping:
            raise ValueError(
                f"the table at {path!r} has "
                f"delta.columnMapping.mode={prior_mapping!r}; switching to "
                f"{column_mapping!r} is protocol-forbidden (physical names "
                "must stay stable)"
            )
        if mode == "append" and prior is not None and (
            prior_mapping == "none" and column_mapping != "none"
        ):
            raise ValueError(
                "enabling column mapping is a metadata+protocol change; "
                "use mode='overwrite'"
            )
        mapping = column_mapping

    evolved: list[T.StructField] = []  # merge_schema: columns to ADD
    if prior is not None and mode == "append":
        partition_by = tuple(prior.partition_columns)
        # generated columns the frame omits are COMPUTED (delta-spark
        # parity) before any schema check, so generated partition
        # columns and plain appends work without the caller
        # materializing them; provided values are validated against the
        # expression by the constraint observer below
        for gname, gexpr in _generated_columns(prior.schema):
            if gname not in df.columns:
                df = df.withColumn(
                    gname,
                    F.expr(gexpr).cast(prior.schema[gname].dataType),
                )
        # identity columns: omitted -> GENERATE on the watermark lattice
        # (base + monotonically_increasing_id()*step: unique without a
        # shuffle or a global ordering; the protocol allows gaps, and
        # the realized maximum rides the staging write as an observe()
        # metric to become the new highWaterMark). Provided -> explicit
        # insert, legal only under allowExplicitInsert=true.
        for ident in _identity_columns(prior.schema):
            if ident["name"] not in df.columns:
                if ident["hwm"] is None:
                    gen_base = ident["start"]
                else:
                    # the SMALLEST lattice point strictly past the
                    # watermark in step direction: an EXPLICIT insert
                    # (BY DEFAULT tables) can park the watermark OFF
                    # the start+k*step lattice, and hwm+step would then
                    # generate off-lattice values forever (found by
                    # tools/delta_write_fuzz.py seed 77 case 3);
                    # floor-division handles both step signs, and
                    # max(k, 0) clamps watermarks BEHIND start
                    k = (ident["hwm"] - ident["start"]) // ident[
                        "step"
                    ] + 1
                    gen_base = ident["start"] + max(k, 0) * ident["step"]
                df = df.withColumn(
                    ident["name"],
                    (
                        F.lit(gen_base)
                        + F.monotonically_increasing_id()
                        * F.lit(ident["step"])
                    ).cast(ident["dtype"]),
                )
            elif not ident["allow_explicit"]:
                if not df.isEmpty():
                    raise ValueError(
                        f"identity column {ident['name']!r} on {path!r} "
                        "is GENERATED ALWAYS "
                        "(delta.identity.allowExplicitInsert=false); "
                        "omit the column and let the writer generate "
                        "its values"
                    )
        want = [f.name for f in prior.schema.fields]
        got = df.columns
        if not merge_schema and sorted(want) != sorted(got):
            raise ValueError(
                f"append schema mismatch: table has columns {sorted(want)}, "
                f"DataFrame has {sorted(got)}; use mode='overwrite' to "
                "replace the schema, or merge_schema=True to evolve it"
            )
        if merge_schema:
            first_lower: dict[str, str] = {}
            for c in want:
                first_lower.setdefault(c.lower(), c)
            clash = sorted(
                c for c in got
                if c not in want and c.lower() in first_lower
            )
            if clash:
                raise ValueError(
                    f"merge_schema: new columns {clash} differ only in "
                    "case from existing table columns "
                    f"{[first_lower[c.lower()] for c in clash]}; Delta "
                    "resolves column names case-insensitively — rename "
                    "them or match the table's casing"
                )
            missing_parts = sorted(
                c for c in partition_by if c not in got
            )
            if missing_parts:
                raise ValueError(
                    f"append is missing partition columns {missing_parts}"
                )
            non_null_missing = sorted(
                f.name for f in prior.schema.fields
                if f.name not in got and not f.nullable
            )
            if non_null_missing:
                raise ValueError(
                    "merge_schema append omits non-nullable table "
                    f"columns {non_null_missing}; old rows could not be "
                    "distinguished from the nulls this write would imply"
                )
            evolved = [
                T.StructField(f.name, f.dataType, True, f.metadata)
                for f in df.schema.fields
                if f.name not in want
            ]
            if evolved and (
                _schema_declares_invariants(T.StructType(evolved))
                or _identity_columns(T.StructType(evolved))
                or _generated_columns(T.StructType(evolved))
            ):
                raise ValueError(
                    f"the new columns this merge_schema append adds to "
                    f"{path!r} carry delta.invariants, delta.identity, "
                    "or delta.generationExpression field metadata; the "
                    "table's EXISTING rows read the new columns as null "
                    "and would retroactively violate them — add the "
                    "column first, backfill, then add the obligation "
                    "(delta-spark refuses this too)"
                )
        # names AND types (nullability aside), mirroring the retry-path
        # gate: staging casts to the table type,
        # which would turn a wrong-typed append into silent NULLs
        # instead of the documented refusal; under merge_schema the
        # check runs on the SHARED columns (new ones have no table type
        # yet, omitted ones no incoming type). Compare simpleString, not
        # DataType equality: a mapped table's nested struct fields carry
        # columnMapping METADATA the incoming frame never has, and
        # DataType equality includes nested metadata (latent false
        # refusal, found when legacy-v5 appends unlocked)
        want_types = {
            f.name: f.dataType.simpleString()
            for f in prior.schema.fields
            if f.name in got
        }
        got_types = {
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if f.name in want_types
        }
        mismatched = sorted(
            n for n in want_types if want_types[n] != got_types[n]
        )
        if mismatched:
            raise ValueError(
                f"append type mismatch on columns {mismatched}: table has "
                + ", ".join(f"{n}:{want_types[n]}" for n in mismatched)
                + "; DataFrame has "
                + ", ".join(f"{n}:{got_types[n]}" for n in mismatched)
                + " — cast explicitly or use mode='overwrite'"
            )
        # name-based mapping, like the K2 sink: table order for the
        # shared columns, evolved columns after (their schema position)
        df = df.select(
            *[c for c in want if c in got], *[f.name for f in evolved]
        )

    part_cols = list(partition_by)

    # the LOGICAL schema the table's metaData declares after this
    # commit: the incoming schema for create/overwrite; for appends the
    # prior schema, extended (nullable) by merge_schema's new columns
    if prior is not None and mode == "append":
        table_schema = (
            T.StructType(list(prior.schema.fields) + evolved)
            if evolved
            else prior.schema
        )
    else:
        table_schema = df.schema

    identity_cols = _identity_columns(table_schema)
    identity_obs = None
    if identity_cols and (prior is None or mode == "overwrite"):
        # create/overwrite always carries the column (the schema comes
        # from df), so rows here are EXPLICIT inserts
        blocked = sorted(
            i["name"] for i in identity_cols if not i["allow_explicit"]
        )
        if blocked and not df.isEmpty():
            raise ValueError(
                f"identity columns {blocked} are GENERATED ALWAYS "
                "(delta.identity.allowExplicitInsert=false); create the "
                "table empty and append with the column omitted so "
                "values are generated"
            )
    if identity_cols:
        # the realized furthest value per identity column rides the
        # staging write (same zero-extra-pass pattern as constraints)
        # and becomes the new highWaterMark after it
        from pyspark.sql import Observation

        identity_obs = Observation()
        df = df.observe(
            identity_obs,
            *[
                (F.max if i["step"] > 0 else F.min)(
                    F.col(_q(i["name"]))
                ).alias(f"i{k}")
                for k, i in enumerate(identity_cols)
            ],
        )

    # Column mapping: everything the FILES see (parquet schema, hive
    # partition dirs, partitionValues keys) is physical; everything the
    # LOG's metaData sees (schemaString field names, partitionColumns)
    # stays logical — mirroring read_delta_lite's contract exactly.
    # schema_out is the schemaString this commit leaves: the logical
    # schema, with id/physicalName assignments under mapping
    schema_out, max_id = table_schema, 0
    if mapping != "none":
        prior_cfg = tw.config if prior is not None else {}
        if mode == "append" and prior is not None:
            # existing fields KEEP their ids/physical names (stability
            # rule), evolved columns draw fresh ids above the recorded
            # maxColumnId
            max_id = int(prior_cfg.get(
                "delta.columnMapping.maxColumnId",
                _max_mapped_id(prior.schema),
            ))
            schema_out = prior.schema  # assignments live in the schema
            if evolved:
                schema_out = _mapped_schema(
                    table_schema, prior.schema, [max_id + 1]
                )
        else:
            prior_mapped = (
                prior.schema
                if prior is not None and prior_mapping != "none"
                else None
            )
            if prior_mapped is not None:
                # seed ABOVE the configured maxColumnId, not just above
                # the ids still present in the schema: a column dropped
                # by an earlier overwrite keeps its id reserved forever,
                # or a later column would reuse it and id-tracking
                # readers would silently read the new data as the old
                # column (protocol monotonic-id rule)
                max_id = max(
                    int(prior_cfg.get("delta.columnMapping.maxColumnId", 0)),
                    _max_mapped_id(prior_mapped),
                )
            schema_out = _mapped_schema(df.schema, prior_mapped, [max_id + 1])
        max_id = max(_max_mapped_id(schema_out), max_id)

    if prior is None or mode == "overwrite":
        # overwrite REPLACES schema and data but PRESERVES table
        # configuration (delta.checkpointPolicy, user properties, ...)
        # — the real overwriteSchema contract; rebuilding it from
        # scratch silently stripped properties other components key off
        # (found in the round-9 review pass)
        configuration = dict(tw.config) if prior is not None else {}
        if mapping != "none":
            configuration.update({
                "delta.columnMapping.mode": mapping,
                "delta.columnMapping.maxColumnId": str(max_id),
            })
        tw.set_metadata({
            "id": prior.metadata["id"] if prior else str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_out.json(),
            "partitionColumns": part_cols,
            "configuration": configuration,
            "createdTime": tw.now_ms,
        })
        tw.actions.extend(
            _remove_action(prior, rel, tw.now_ms)
            for rel in (prior.files if prior is not None else ())
        )
    elif evolved:
        # schema-evolving append: the prior metaData verbatim except the
        # extended schemaString (and maxColumnId under mapping) — id,
        # createdTime, partitioning and every configuration key survive
        meta = dict(prior.metadata)
        meta["schemaString"] = schema_out.json()
        if mapping != "none":
            meta["configuration"] = {
                **(prior.metadata.get("configuration") or {}),
                "delta.columnMapping.maxColumnId": str(max_id),
            }
        tw.set_metadata(meta)
    # features this commit's table state DEMANDS: column mapping, and
    # the type-borne ones the post-write schema carries (an NTZ or
    # variant column under protocol 1/2 would hand v1 readers silently
    # wrong values, so the spec gates them on reader v3 + the feature)
    tw.features |= _schema_type_features(table_schema)
    if mapping != "none":
        tw.features.add("columnMapping")
    # fresh adds carry no materialized row-id columns, so a WRITE names
    # none (the rewriting commands name them on first use)
    tw.rows.new_config = None
    # a merge_schema append may OMIT nullable columns: a mapped table
    # stages them as typed nulls, an unmapped one leaves them out of
    # its files (both read back as null)
    absent = [f for f in tw.schema.fields if f.name not in df.columns]
    if absent and mapping != "none":
        df = df.select(
            "*",
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in absent],
        )
    else:
        tw.omitted = {f.name for f in absent}

    with tw:
        tw.stage_rows(df, "write")
        identity_hwms: dict[str, int] = {}
        if identity_obs is not None:
            vals = identity_obs.get
            for k, ident in enumerate(identity_cols):
                v = vals.get(f"i{k}")
                if v is None:
                    continue  # empty write: nothing generated or provided
                v = int(v)
                cur_h = ident["hwm"]
                if cur_h is None or (
                    v > cur_h if ident["step"] > 0 else v < cur_h
                ):
                    identity_hwms[ident["name"]] = v
        if identity_hwms:
            # the watermark lives in field metadata: re-emit metaData
            # with it advanced, so the NEXT writer generates past this
            # write
            meta = dict(tw.meta_out or prior.metadata)
            meta["schemaString"] = _with_identity_hwm(
                schema_out, identity_hwms
            ).json()
            tw.meta_out = meta
        if txn is not None:
            tw.actions.append(
                {
                    "txn": {
                        "appId": txn[0],
                        "version": int(txn[1]),
                        "lastUpdated": tw.now_ms,
                    }
                }
            )
        retries = [0]

        def _rebase() -> int | None:
            # Append commits carry a disjoint file set (UUID-named
            # parts) and no metadata change, so losing the version race
            # is not a logical conflict per the public protocol's
            # optimistic-concurrency rules: re-replay, confirm
            # schema/partitioning still match, and re-commit at the next
            # version. Overwrite keeps single-writer semantics (two
            # concurrent overwrites ARE a logical conflict).
            single = bool(evolved or identity_hwms or tw.rows.on)
            retries[0] += 1
            if mode != "append" or single or retries[0] > _APPEND_RETRIES:
                raise FileExistsError(
                    f"concurrent commit to {path!r} at version "
                    f"{tw.version}; "
                    + (
                        "a schema-evolving, identity-generating or "
                        "row-tracked append carries metaData/"
                        "domainMetadata state and is single-writer — "
                        "re-read the table and retry (retrying blind "
                        "could reuse identity values or row-id ranges "
                        "the racing writer also allocated)"
                        if single
                        else "append retries exhausted — retry after "
                        "the other commits settle"
                        if mode == "append"
                        else "overwrite is single-writer — retry after "
                        "the other commit"
                    )
                )
            current = replay_log(spark, path)
            # the racing commit may have UPGRADED the protocol (e.g.
            # delta-spark enabling writer features) or flipped
            # delta.appendOnly / added invariants: our retried add-only
            # commit would then be non-compliant
            _check_writer_protocol(current.protocol, path)
            _check_write_obligations(current, path, mode)
            # compare names AND types: a racing overwrite that changed a
            # column's TYPE must refuse too, or the retried append would
            # commit parquet files whose physical type contradicts the
            # table's metaData schema (nullability aside). A
            # merge_schema append that OMITTED nullable columns retries
            # as long as its columns are a type-matching subset and
            # every column it lacks is still nullable
            cur_types = {
                f.name: f.dataType.simpleString()
                for f in current.schema.fields
            }
            df_types = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }
            if merge_schema:
                same_schema = all(
                    cur_types.get(n) == t for n, t in df_types.items()
                ) and all(
                    f.nullable
                    for f in current.schema.fields
                    if f.name not in df_types
                )
            else:
                same_schema = cur_types == df_types
            # the racing commit may also have changed the COLUMN-MAPPING
            # state (enabled it, or reassigned physical names via an
            # overwrite): our staged files carry the OLD physical layout
            # and committing them would make the whole table unreadable
            # (_verify_physical_names refuses at read time)
            same_mapping = _column_mapping_mode(current.metadata) == (
                mapping
            ) and (
                mapping == "none"
                or [
                    f.name
                    for f in _TableRead(spark, path, current)
                    .phys_schema.fields
                ]
                == [f.name for f in tw.phys_schema.fields]
            )
            # a racing commit may also have ADDED or changed row-level
            # obligations (delta.constraints.*, delta.invariants): our
            # staged rows were validated against the PRIOR set only
            same_constraints = _table_constraints(
                current.metadata, current.schema
            ) == tw.constraints
            if (
                not same_schema
                or current.partition_columns != part_cols
                or not same_mapping
                or not same_constraints
            ):
                raise FileExistsError(
                    f"concurrent commit to {path!r} changed the table's "
                    "schema, partitioning, column mapping or "
                    "constraints; this append no longer applies cleanly "
                    "— re-read the table and retry"
                )
            if txn is not None:
                # the race may have been OUR OWN appId (a concurrent
                # instance of the same idempotent writer): if its commit
                # advanced the watermark past this version, this batch
                # is already in the table — unstage and report success
                seen = current.txns.get(txn[0])
                if seen is not None and int(
                    seen.get("version", -1)
                ) >= int(txn[1]):
                    return current.version
            tw.version = current.version + 1
            return None

        tw.rebase = _rebase
        return tw.commit("WRITE", {"mode": mode})


CHECKPOINT_INTERVAL = 10  # delta-spark's default cadence
_APPEND_RETRIES = 10  # bounded optimistic-concurrency retries for append

# inline ('i' storage, Z85 in the log) below this many bitmap bytes,
# u-storage .bin file at the table root otherwise — small DVs shouldn't
# cost a file per delete, huge ones shouldn't bloat the JSON log
DV_INLINE_THRESHOLD = 512

# The DV mask pass materializes ONE file's deleted positions where it
# serializes that file's DV — the driver, or a Python worker above
# MAX_DV_POSITIONS (a python set, ~60 B/position; 2^25 is ~2 GiB worst
# case). Past this, most of the file is deleted and a rewrite
# (overwrite) is the right physical operation anyway — the valve
# raises with that remedy instead of running out of memory.
DELETE_MAX_FILE_POSITIONS = 1 << 25

# The DV mask pass funnels DV bytes through the DRIVER on both routes:
# old blobs are loaded and verified there, and new per-file blobs are
# built there (at or below MAX_DV_POSITIONS) or stream back from the
# Python workers, one partition at a time, for the log commit. Per-file
# size is bounded by DELETE_MAX_FILE_POSITIONS, but the SUM across
# files is not — this caps it (raise-with-remedy, same contract as the
# per-file valve). New blobs are turned into descriptors one at a time
# with u-storage .bin files written immediately, so peak driver memory
# is the collected positions (driver route) or one blob (worker route)
# + the retained inline descriptors; the cap still bounds the total
# work a single commit is allowed to funnel driver-side.
DELETE_MAX_TOTAL_DV_BYTES = 256 << 20


def _dv_union(
    key: str, positions, old_blob: bytes | None
) -> tuple[str, bytes, int] | None:
    """One file's new deletion vector: the union of its old vector's
    positions and ``positions`` (the rows this command masks),
    serialized — or None when the union did not grow (every match was
    ALREADY masked: the predicate runs over the raw scan, and emitting
    would commit a byte-identical DV under a fresh uuid, so a fully
    no-op command returns state.version uncommitted). Shared by both
    routes of ``_dv_union_blobs``."""
    positions = set(positions)
    old_n = 0
    if old_blob:
        old = parse_roaring_bitmap_array(
            old_blob, max_values=DELETE_MAX_FILE_POSITIONS
        )
        old_n = len(old)
        positions |= old
    if len(positions) == old_n:
        return None
    if len(positions) > DELETE_MAX_FILE_POSITIONS:
        raise ValueError(
            f"{len(positions)} deleted positions for one file "
            f"exceed DELETE_MAX_FILE_POSITIONS "
            f"({DELETE_MAX_FILE_POSITIONS}); with most of a file "
            "deleted, rewrite it via overwrite instead of masking"
        )
    return key, serialize_roaring_bitmap_array(positions), len(positions)


def _dv_union_blobs(
    spark: SparkSession,
    base: str,
    matched: DataFrame,
    old_dvs: dict[str, dict],
    bound: int | None,
):
    """(__file hadoop-encoded path, __pos) matched row positions ->
    (__file, dv blob, card) per touched file: each file's new deletion
    vector is the UNION of its existing DV (verified here first: size,
    CRC, cardinality) and the matched positions (``_dv_union``). Files
    whose position set did not grow emit nothing, so a fully-no-op
    command can skip committing. The DML kernel's deletion-vector mask
    pass (every DELETE, and the masked files of UPDATE and MERGE).

    ``bound`` is the a-priori number of positions the pass can hold
    (matched rows plus old vectors; None when unknown). At or below
    MAX_DV_POSITIONS the matched pairs are collected as one Arrow table
    and every union is built on the DRIVER. Above it (or unknown) the
    unions are serialized EXECUTOR-side, one task per file: old blobs
    travel through a COGROUP, each exactly once to the task that needs
    it, and the results stream back partition by partition."""
    old_rows = []
    old_total = 0
    for rel, dv in sorted(old_dvs.items()):
        blob = _resolve_dv_blob(base, dv)
        old_total += len(blob)
        if old_total > DELETE_MAX_TOTAL_DV_BYTES:
            raise ValueError(
                f"existing deletion vectors total more than "
                f"DELETE_MAX_TOTAL_DV_BYTES ({DELETE_MAX_TOTAL_DV_BYTES}) "
                "bytes; delete in smaller batches (narrower predicates) "
                "or compact the table via overwrite first"
            )
        n = count_roaring_bitmap_array(blob)
        card = dv.get("cardinality")
        if card is not None and int(card) != n:
            raise ValueError(
                f"deletion vector for {rel!r}: descriptor cardinality "
                f"{card} != {n} parsed positions"
            )
        old_rows.append((_file_key(base, rel), bytearray(blob)))

    if bound is not None and bound <= MAX_DV_POSITIONS:
        old = dict(old_rows)
        per_file = (
            matched.toArrow()
            .group_by("__file")
            .aggregate([("__pos", "list")])
        )
        # positions become python ints one file at a time
        for key, positions in zip(
            per_file["__file"].to_pylist(), per_file["__pos_list"]
        ):
            row = _dv_union(key, positions.as_py(), old.get(key))
            if row is not None:
                yield row
        return

    old_df = spark.createDataFrame(
        old_rows or [("", bytearray(b""))], "__file string, old binary"
    )

    def _serialize(left, right):
        import pandas as pd

        row = None
        if not left.empty:  # else an old DV whose file had no new matches
            row = _dv_union(
                left["__file"].iloc[0],
                left["__pos"].tolist(),
                bytes(right["old"].iloc[0]) if not right.empty else None,
            )
        if row is None:
            return pd.DataFrame({"__file": [], "dv": [], "card": []})
        return pd.DataFrame(
            {"__file": [row[0]], "dv": [row[1]], "card": [row[2]]}
        )

    for r in (
        matched.groupBy("__file")
        .cogroup(old_df.groupBy("__file"))
        .applyInPandas(_serialize, "__file string, dv binary, card long")
        .toLocalIterator()
    ):
        yield r["__file"], bytes(r["dv"]), int(r["card"])


def _materialize_dv_descriptors(
    base: str,
    blobs,
    enc_to_rel: dict[str, str],
    inline_threshold: int,
    dv_written: list[str],
) -> list[tuple[str, dict]]:
    """Turn _dv_union_blobs' (__file, blob, card) stream into DV
    descriptors one blob at a time: u-storage blobs land on disk
    IMMEDIATELY (staged names appended to ``dv_written`` for rollback)
    and only compact descriptors (plus inline blobs, each <=
    inline_threshold) stay driver-side — with a hard cap on the total
    bytes a single commit may funnel through."""
    import zlib

    per_file: list[tuple[str, dict]] = []
    new_total = 0
    for key, blob, card in blobs:
        rel = enc_to_rel.get(key)
        if rel is None:  # file vanished between replay and scan?
            raise ValueError(
                f"scan produced an unknown file key {key!r}"
            )
        new_total += len(blob)
        if new_total > DELETE_MAX_TOTAL_DV_BYTES:
            raise ValueError(
                f"this command's new deletion vectors total more "
                f"than DELETE_MAX_TOTAL_DV_BYTES "
                f"({DELETE_MAX_TOTAL_DV_BYTES}) bytes across files; "
                "mask in smaller batches (narrower predicates) or "
                "rewrite via overwrite instead"
            )
        if len(blob) <= inline_threshold:
            pad = (-len(blob)) % 4  # z85 encodes 4-byte groups
            descriptor = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(blob + b"\x00" * pad),
                "offset": None,
                "sizeInBytes": len(blob),
                "cardinality": card,
            }
        else:
            dv_uuid = uuid.uuid4()
            name = f"deletion_vector_{dv_uuid}.bin"
            framed = (
                b"\x01"
                + struct.pack(">I", len(blob))
                + blob
                + struct.pack(">I", zlib.crc32(blob))
            )
            with open(os.path.join(base, name), "wb") as fh:
                fh.write(framed)
            dv_written.append(name)
            descriptor = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                "offset": 1,
                "sizeInBytes": len(blob),
                "cardinality": card,
            }
        per_file.append((rel, descriptor))
    return per_file


def _predicate_sql(condition: Column | str) -> str:
    """The expression string delta-spark records in
    ``operationParameters`` (r12 ADVICE fix): string predicates pass
    through; ``Column`` predicates unwrap to the underlying expression
    string (e.g. ``(v > 5)``) instead of PySpark's ``Column<'...'>``
    repr, which history-parsing tools that assume delta-spark's
    encoding cannot read."""
    if isinstance(condition, str):
        return condition
    try:
        return condition._jc.toString()  # classic mode: JVM expr string
    except Exception:
        m = re.match(r"^Column<'(.*)'>$", repr(condition), re.DOTALL)
        return m.group(1) if m else str(condition)


DV_WRITE_MAX_FRACTION = 0.25


def delete_rows(
    spark: SparkSession,
    path: str,
    predicate: Column | str,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """DELETE FROM the table at ``path`` WHERE ``predicate`` (evaluated
    over the LOGICAL schema) — without rewriting any parquet file: the
    matching row positions are committed as DELETION VECTORS, unioned
    with each file's existing vector (remove(oldDv) + add(newDv) on the
    same path, stats/tags/rowTracking fields kept). The first delete
    upgrades the protocol to 3/7 with deletionVectors in both feature
    lists; CDF tables get ``delete`` change files. Vectors below
    ``inline_threshold`` bitmap bytes are stored inline in the log,
    larger ones as ``deletion_vector_<uuid>.bin`` files. Returns the
    committed version (the current one, uncommitted, when no live row
    matched). Single-writer: a lost commit race raises.

    This is ``merge_rows`` with no source and one by-source delete
    clause, with deletion-vector routing forced; see ``merge_rows`` for
    the shared mechanics. All-delete with forced routing keeps a
    single scan: no touched-count pass, no replacement write."""
    return _dml(
        _TableWrite(spark, path, "delete_rows"),
        "DELETE",
        {},
        lambda c: {
            "numDeletedRows": str(c["deleted"] or 0),
            "numDeletionVectorsAdded": str(c["dv_files"]),
        },
        nmbs=[("delete", predicate, None)],
        use_dvs=True,
        inline_threshold=inline_threshold,
    )


def update_rows(
    spark: SparkSession,
    path: str,
    condition: Column | str,
    assignments: dict[str, Column | str],
    use_dvs: bool | None = None,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """UPDATE the table at ``path`` SET ``assignments`` WHERE
    ``condition`` with SQL semantics: the condition and every
    assignment see the ORIGINAL row (one simultaneous projection),
    values cast to the column's declared type; deletion-vector-masked
    rows never match; GENERATED columns recompute from their
    expressions (assigning one, an identity column, or a partition
    column refuses); CHECK constraints and invariants are enforced
    with the whole commit rolled back on violation; CDF tables get
    ``update_preimage`` / ``update_postimage`` change files for the
    matched rows only; rowTracking tables keep every row's id and
    move updated rows' commit version to this commit. Returns the
    committed version (unchanged if nothing matched). Single-writer: a
    lost commit race raises.

    Each touched file is either REWRITTEN or — on tables with deletion
    vectors enabled, when its matched fraction is at most
    DV_WRITE_MAX_FRACTION — MASKED with a deletion vector while only
    the updated rows are appended. ``use_dvs=True`` masks every touched
    file (upgrading the protocol if needed), ``False`` always rewrites,
    ``None`` routes per file.

    This is ``merge_rows`` with no source and one by-source update
    clause; see ``merge_rows`` for the shared mechanics."""
    return _dml(
        _TableWrite(spark, path, "update_rows"),
        "UPDATE",
        # delta-spark string-encodes operationParameters values (and
        # records the expression SQL, not the Column repr)
        {"predicate": _predicate_sql(condition)},
        lambda c: {
            "numUpdatedRows": str(c["updated"]),
            "numRemovedFiles": str(c["files_removed"]),
            # a DV mask pair is not a file add or remove
            "numAddedFiles": str(c["files_added"]),
            **(
                {"numDeletionVectorsAdded": str(c["dv_files"])}
                if c["dv_files"]
                else {}
            ),
            **(
                {"numCopiedRows": str(c["copied"])}
                if c["copied"] is not None
                else {}
            ),
        },
        nmbs=[("update", condition, dict(assignments))],
        use_dvs=use_dvs,
        inline_threshold=inline_threshold,
    )


def _merge_norm_clauses(
    raw, kinds: tuple[str, ...], label: str
) -> list[tuple[str, object, dict | None]]:
    """Normalize MERGE clause tuples to (kind, condition|None,
    values|None) and validate their shape."""
    out = []
    for cl in raw or ():
        if not isinstance(cl, (tuple, list)) or not cl:
            raise ValueError(
                f"{label} clause must be a (kind, condition[, values]) "
                f"tuple, got {cl!r}"
            )
        kind = cl[0]
        if kind not in kinds:
            raise ValueError(
                f"{label} clause kind must be one of {kinds}, got {kind!r}"
            )
        cond = cl[1] if len(cl) > 1 else None
        values = cl[2] if len(cl) > 2 else None
        if kind in ("update", "insert"):
            if not isinstance(values, dict) or not values:
                raise ValueError(
                    f"{label} {kind} clause needs a non-empty "
                    "column->expression dict as its third element"
                )
        elif values is not None:
            raise ValueError(f"{label} delete clause takes no assignments")
        out.append((kind, cond, values))
    return out


def _clause_sql(clauses, prefix: str):
    """The SQL text of clause conditions and values: None is TRUE, a
    string is its own (parenthesized) text, and a Column is a reference
    to a generated name ``<prefix><n>`` — returned with its Column, for
    the caller to attach to the clause's frame in ONE ``withColumns``.
    Returns ``([(condition_sql, {column: value_sql} | None)],
    {generated name: Column})``."""
    attach: dict[str, Column] = {}

    def sql(e) -> str:
        if e is None:
            return "TRUE"
        if isinstance(e, Column):
            name = f"{prefix}{len(attach)}"
            attach[name] = e
            return _q(name)
        return f"({e})"

    return [
        (
            sql(cond),
            None
            if values is None
            else {c: sql(v) for c, v in values.items()},
        )
        for _k, cond, values in clauses
    ], attach


def _first_of(conds: list[str]) -> str:
    """SQL: the index of the first of ``conds`` that holds, NULL when
    none does (ordered first-wins clause semantics)."""
    if not conds:
        return "CAST(NULL AS INT)"
    return (
        "CASE "
        + " ".join(f"WHEN {c} THEN {i}" for i, c in enumerate(conds))
        + " END"
    )


def _in(col: str, idx: list[int]) -> str:
    return f"{col} IN ({', '.join(map(str, idx))})"


def merge_rows(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: Column | str,
    matched: tuple = (),
    not_matched: tuple = (),
    not_matched_by_source: tuple = (),
    schema_evolution: bool = False,
    use_dvs: bool | None = None,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """Transactional MERGE INTO the table at ``path`` USING ``source``
    ON ``on`` — delta-spark's merge command re-expressed on the public
    protocol, and the production spelling of the reference's
    incremental upsert load (the reference's ingest.py:802-822). ONE
    commit carries every rewrite, insert, and (on CDF tables) the
    authoritative mixed insert / update_preimage / update_postimage /
    delete change files. Returns the committed version (unchanged if
    nothing changed).

    Clause lists are ORDERED, delta-spark style — for a given row the
    FIRST clause whose condition holds wins and later clauses are not
    considered:

    - ``matched``: ``("update", cond, {col: expr})`` or
      ``("delete", cond)`` — applied to target rows with a source
      match; ``cond``/``expr`` reference the target as ``t.<col>`` and
      the source as ``s.<col>``.
    - ``not_matched``: ``("insert", cond, {col: expr})`` — applied to
      source rows with no target match; expressions reference
      ``s.<col>`` only. Omitted nullable columns insert as typed nulls;
      omitted non-nullable columns refuse.
    - ``not_matched_by_source``: ``("update", cond, {col: expr})`` or
      ``("delete", cond)`` — applied to target rows with NO source
      match; expressions reference ``t.<col>`` only.

    Pass ``cond=None`` for an unconditional clause. ``on`` is a SQL
    string (recommended) or Column over the ``t``/``s`` aliases.

    ``schema_evolution=True`` (delta-spark's withSchemaEvolution):
    assignments to columns the target lacks ADD them — nullable, typed
    from the assigning expression (analysis-only probe, no job), fresh
    columnMapping ids above maxColumnId on mapped tables, committed as
    the same commit's metaData. Old files read the new columns as
    null, exactly the merge_schema append rule; case-clashes with
    existing columns refuse. A merge that changes no rows commits no
    schema change.

    SQL semantics throughout: every clause condition and update RHS
    sees the ORIGINAL row (new values are computed in one simultaneous
    projection); generated columns recompute from their expressions on
    updated and inserted rows (direct assignment refused);
    partition/identity columns refuse assignment; CHECK constraints
    ride the staging writes as observe() metrics and roll the whole
    commit back on violation.

    This is the one DML kernel: ``update_rows`` and ``delete_rows`` are
    source-less merges over the same table-write context
    (``_TableWrite``) and commit tail. Mechanics:
    - the source is persisted for the command's duration (delta-spark
      materializes merge sources for the same reason: a
      non-deterministic source must see ONE consistent snapshot across
      the match, rewrite, and insert phases);
    - matches are computed ONCE as a distributed decision frame of the
      MODIFYING (file, row position) pairs only: the first matched
      clause that holds plus the new values of the update-assigned
      columns, evaluated against the pristine pair — no aggregate.
      The ambiguity check and the per-file touched counts come from
      one aggregate over (file, position) alone, and only its per-FILE
      rows reach the driver; by-source clauses add the matched set as
      a distinct (file, position) frame and one per-file count pass
      over the live target;
    - every per-column projection is one SQL-text ``selectExpr``
      (quoted identifiers, types rendered once by the JVM); Column-
      typed ``on``, conditions and assignments are attached once under
      generated names and referenced by name;
    - a target row matched by MORE THAN ONE modifying source row
      raises (delta's multiple-source-rows-match error) BEFORE any
      file is staged;
    - cost is proportional to TOUCHED files (rows modified by some
      clause): untouched files are neither read twice nor rewritten;
      inserts append new files;
    - each touched file is REWRITTEN (one new file set per partition
      group, carrying every surviving row) or MASKED: on tables with
      deletion vectors enabled (the feature active, or
      ``delta.enableDeletionVectors=true`` — delta-spark's gate) a file
      whose modified-row fraction is at most DV_WRITE_MAX_FRACTION
      commits a deletion vector over its updated+deleted positions
      (the union with any existing vector; per-file bitmaps serialize
      on the driver, or above MAX_DV_POSITIONS in Python workers that
      stream them back, capped by
      DELETE_MAX_FILE_POSITIONS / DELETE_MAX_TOTAL_DV_BYTES) plus
      appended replacement rows for the updates, so a small batch
      against a huge target writes data proportional to the BATCH.
      ``use_dvs=True`` masks every touched file, ``False`` always
      rewrites, ``None`` routes per file;
    - rowTracking tables rewrite row-ID-preservingly (resolved ids
      materialize into the configured shadow columns; updated rows'
      commit version falls to this commit; new files draw fresh
      baseRowId ranges above the domain watermark);
    - single-writer commit: a lost race raises.
    """
    matched = _merge_norm_clauses(matched, ("update", "delete"), "matched")
    not_matched = _merge_norm_clauses(
        not_matched, ("insert",), "not_matched"
    )
    nmbs = _merge_norm_clauses(
        not_matched_by_source,
        ("update", "delete"),
        "not_matched_by_source",
    )
    if not (matched or not_matched or nmbs):
        raise ValueError("merge_rows needs at least one clause")

    def _evolve(state: TableState, mapping: str):
        schema = state.schema
        existing = {f.name for f in schema.fields}
        first_lower: dict[str, str] = {}
        for c in existing:
            first_lower.setdefault(c.lower(), c)
        new_assign: dict[str, object] = {}
        for _k, _c, values in (*matched, *nmbs, *not_matched):
            for name, val in (values or {}).items():
                if name not in existing and name not in new_assign:
                    new_assign[name] = val
        clash = sorted(c for c in new_assign if c.lower() in first_lower)
        if clash:
            raise ValueError(
                f"schema_evolution: new columns {clash} differ only in "
                "case from existing table columns "
                f"{[first_lower[c.lower()] for c in clash]}; Delta "
                "resolves column names case-insensitively — rename them "
                "or match the table's casing"
            )
        if not new_assign:
            return None, set()
        # type each new column from its assigning expression —
        # analysis only, no job runs
        probe = spark.createDataFrame([], schema).alias("t").join(
            source.limit(0).alias("s"), F.lit(True), "cross"
        )
        new_fields = []
        for name, val in new_assign.items():
            expr = val if isinstance(val, Column) else F.expr(val)
            dt = probe.select(expr.alias("__x")).schema[0].dataType
            new_fields.append(T.StructField(name, dt, True))
        schema = T.StructType(list(schema.fields) + new_fields)
        meta_out = dict(state.metadata)
        cfg2 = dict(meta_out.get("configuration") or {})
        if mapping != "none":
            prior_max = max(
                int(cfg2.get("delta.columnMapping.maxColumnId", 0)),
                _max_mapped_id(state.schema),
            )
            counter = [prior_max + 1]
            schema = _mapped_schema(schema, state.schema, counter)
            # table configuration is a string -> string map
            cfg2["delta.columnMapping.maxColumnId"] = str(
                max(_max_mapped_id(schema), prior_max)
            )
            meta_out["configuration"] = cfg2
        meta_out["schemaString"] = schema.json()
        return meta_out, set(new_assign)

    def _clauses(clauses) -> str:
        # delta-spark string-encodes every value; clause lists are JSON
        # arrays of {predicate?, actionType}
        return json.dumps(
            [
                {
                    **(
                        {"predicate": _predicate_sql(c)}
                        if c is not None
                        else {}
                    ),
                    "actionType": k,
                }
                for k, c, _v in clauses
            ]
        )

    tw = _TableWrite(spark, path, "merge_rows")
    if schema_evolution:
        meta_out, new_names = _evolve(tw.state, tw.mapping)
        if meta_out is not None:
            tw.set_metadata(meta_out, evolved=new_names)
    return _dml(
        tw,
        "MERGE",
        {
            "predicate": _predicate_sql(on),
            "matchedPredicates": _clauses(matched),
            "notMatchedPredicates": _clauses(not_matched),
            "notMatchedBySourcePredicates": _clauses(nmbs),
        },
        lambda c: {
            "numSourceRows": str(c["source_rows"]),
            "numTargetRowsUpdated": str(c["updated"]),
            "numTargetRowsInserted": str(c["inserted"]),
            # a DV mask pair is not a file add or remove
            "numTargetFilesRemoved": str(c["files_removed"]),
            "numTargetFilesAdded": str(c["files_added"]),
            **(
                {"numDeletionVectorsAdded": str(c["dv_files"])}
                if c["dv_files"]
                else {}
            ),
            **(
                {"numTargetRowsDeleted": str(c["deleted"])}
                if c["deleted"] is not None
                else {}
            ),
        },
        source=source,
        on=on,
        matched=matched,
        not_matched=not_matched,
        nmbs=nmbs,
        use_dvs=use_dvs,
        inline_threshold=inline_threshold,
    )


class _TableRead:
    """The one table-read context: the schema view of one metaData and
    the one scan over the table's files. Every reader and every
    committing command reads through it — ``read_delta_lite``,
    ``read_row_ids``, ``read_delta_changes`` and ``cluster_columns``
    directly, the writers as ``_TableWrite``. The view is the
    column-mapping mode (an unknown mode refuses), the physical schema,
    the logical->physical map, the physical partition columns and the
    rowTracking column names; ``files`` maps every file a scan may read
    to its logged partitionValues (the replayed active set unless the
    caller passes its own). The hive-layout decision, the verified
    deletion vectors and the ``_verify_physical_names`` footer peek are
    computed on first use, so metadata-only callers never open a
    file."""

    def __init__(self, spark: SparkSession, path: str, state: TableState,
                 meta: dict | None = None,
                 files: dict[str, dict] | None = None):
        self.spark, self.path, self.state = spark, path, state
        self.base = _local(path)
        self.files = state.files if files is None else files
        self.rels = sorted(self.files)
        self.evolved: set[str] = set()  # columns existing files predate
        self._files_checked = False  # the footer peek ran
        meta = meta or state.metadata
        if meta is not None:
            self._view(meta)

    def _view(self, meta: dict) -> None:
        """Derive the schema view of metaData ``meta``."""
        self.config = dict(meta.get("configuration") or {})
        self.mapping = mapping = _column_mapping_mode(meta)
        if mapping not in ("none", "name", "id"):
            raise NotImplementedError(
                f"unknown delta.columnMapping.mode {mapping!r}"
            )
        self.schema = schema = T.StructType.fromJson(
            json.loads(meta["schemaString"])
        )
        self.phys_schema = (
            _physicalize(schema) if mapping != "none" else schema
        )
        self.logical_to_phys = {
            f.name: pf.name
            for f, pf in zip(schema.fields, self.phys_schema.fields)
        }
        self.phys_part_cols = [
            self.logical_to_phys[c]
            for c in meta.get("partitionColumns") or []
            if c in self.logical_to_phys
        ]
        self.rows = _RowIds.of(self.state, meta)

    @functools.cached_property
    def enc_to_rel(self) -> dict[str, str]:
        # row identity = (encoded full path, row position) — basenames
        # alone collide across hive partition directories
        return {_file_key(self.base, rel): rel for rel in self.rels}

    @functools.cached_property
    def dv_ver(self) -> dict:
        return _dv_verify(self.base, self.state.dvs) if self.state.dvs else {}

    @functools.cached_property
    def hive_layout(self) -> bool:
        return _all_files_hive_layout(self.files, self.phys_part_cols)

    def _check_files(self, parts: bool) -> None:
        """The refusals of a scan of the table's files."""
        if not self.rels or self._files_checked:
            return
        if self.mapping != "none":
            # on a mapped table whose files do NOT carry physical names
            # (foreign id-mode writers relying on parquet field-id
            # resolution) every data column would scan as NULL and a
            # predicate like `col IS NULL` would match the whole table
            # — refuse instead. Evolved columns are absent from
            # pre-evolution files by definition.
            _verify_physical_names(
                self.spark,
                os.path.join(self.base, self.rels[0]),
                [
                    pf.name
                    for f, pf in zip(
                        self.schema.fields, self.phys_schema.fields
                    )
                    if pf.name not in self.phys_part_cols
                    and f.name not in self.evolved
                ],
                known=self.state.historical_physical_names,
            )
        self._files_checked = True

    def scan(self, rels: list[str], live: bool = True,
             row_ids: bool = False, ids: bool = True,
             parts: bool = True, cdc: bool = False) -> DataFrame:
        """The logical rows of ``rels`` — the only read of table
        parquet files. ``parts=False`` reads the data columns only, so
        any file layout will do; with partition columns the layout
        comes from the log: ONE relation when every file's path
        hive-encodes its logged partitionValues (``basePath`` partition
        discovery, so the plan does not grow with partition count and a
        partition filter prunes inside the scan), else one relation per
        partition group with the values injected as typed literals,
        unioned (a partition filter constant-folds per branch and
        Catalyst drops the other scans at plan time).

        ``ids`` keeps the ``__file`` / ``__pos`` row identity (the
        encoded path and parquet row position); a scan that selects
        ``_metadata`` builds it for every row even when nothing
        downstream reads it, so it is selected only when ``ids``, the
        deletion vectors or the row ids need it. ``live`` drops rows
        masked by deletion vectors; ``row_ids`` adds the resolved
        rowTracking columns under their materialized names (the file's
        materialized value when non-null, else baseRowId + position /
        defaultRowCommitVersion, joined from a one-row-per-file
        descriptor). ``cdc`` reads change files under ``_change_data/``
        with the ``_change_type`` column they carry."""
        self._check_files(parts)
        spark, base = self.spark, self.base
        marked = {
            r: self.dv_ver[r]
            for r in rels
            if live and r in self.dv_ver and self.dv_ver[r][1] > 0
        }
        need_ids = ids or row_ids or bool(marked)
        part_cols = self.phys_part_cols if parts else []
        fields = [
            (f, pf)
            for f, pf in zip(self.schema.fields, self.phys_schema.fields)
            if parts or pf.name not in self.phys_part_cols
        ]
        data = [pf for _, pf in fields if pf.name not in part_cols]
        rid, rcv = self.rows.rid_col, self.rows.rcv_col
        extra = (
            [T.StructField("_change_type", T.StringType())] if cdc else []
        ) + (
            [T.StructField(c, T.LongType()) for c in (rid, rcv)]
            if row_ids
            else []
        )

        def read(files: list[str], schema: list, base_path=None):
            reader = spark.read.schema(T.StructType(schema + extra))
            if base_path:
                reader = reader.option("basePath", base_path)
            df = reader.parquet(*[os.path.join(base, r) for r in files])
            if need_ids:
                df = df.selectExpr(
                    "*",
                    # Hadoop renders local paths as file:/abs or
                    # file:///abs depending on the constructor —
                    # normalize the scheme away
                    "regexp_replace(_metadata.file_path, '^file:/+', '/')"
                    " AS __file",
                    "_metadata.row_index AS __pos",
                )
            return df

        if not part_cols:
            df = read(rels, data)
        elif self.hive_layout:
            df = read(
                rels,
                [pf for _, pf in fields],
                os.path.join(base, "_change_data") if cdc else base,
            )
        else:
            types = {pf.name: pf.dataType for _, pf in fields}
            groups: dict[tuple, list[str]] = {}
            for rel in rels:
                pvals = self.files[rel] or {}
                groups.setdefault(
                    tuple(pvals.get(c) for c in part_cols), []
                ).append(rel)
            df = functools.reduce(DataFrame.unionByName, [
                read(group, data).withColumns({
                    c: _typed_partition_lit(v, types[c])
                    for c, v in zip(part_cols, key)
                })
                for key, group in sorted(
                    groups.items(), key=lambda kv: str(kv[0])
                )
            ])
        if marked:
            df = _apply_dv_filter(spark, df, base, marked, rels)
        row_cols = []
        if row_ids:
            desc = spark.createDataFrame(
                [
                    (
                        _file_key(base, rel),
                        (self.state.adds.get(rel) or {}).get("baseRowId"),
                        (self.state.adds.get(rel) or {}).get(
                            "defaultRowCommitVersion"
                        ),
                    )
                    for rel in rels
                ],
                "__file string, __rt_rid bigint, __rt_dcv bigint",
            )
            df = df.join(F.broadcast(desc), "__file", "left")
            row_cols = [
                f"coalesce({_q(rid)}, __rt_rid + __pos) AS {_q(rid)}",
                f"coalesce({_q(rcv)}, __rt_dcv) AS {_q(rcv)}",
            ]
        return df.selectExpr(
            *[
                # under column mapping the files, the hive path segments
                # AND the log's partitionValues keys all carry PHYSICAL
                # names (the protocol's contract), so the scan runs
                # physical and renames once here — a positional cast,
                # which renames nested fields too
                f"CAST({_q(pf.name)} AS {_type_sql(spark, f.dataType)})"
                f" AS {_q(f.name)}"
                if self.mapping != "none"
                else _q(f.name)
                for f, pf in fields
            ],
            *(["_change_type"] if cdc else []),
            *row_cols,
            *(["__file", "__pos"] if ids else []),
        )


class _TableWrite(_TableRead):
    """The one table-write context. Every committing command — WRITE
    (create / append / overwrite), the DML kernel, OPTIMIZE, RESTORE,
    CONVERT TO DELTA, CLUSTER BY and the ALTER family — builds it ONCE
    from ``replay_log`` (``create`` lets a missing table start from the
    empty state): the writer-protocol and appendOnly obligations, then
    the read context's schema view of the table's metaData
    (``set_metadata`` swaps in the metaData the commit writes) plus the
    CDF / deletion-vector flags and the row-level constraints. Its
    scans add one refusal to the read context's: the DML's
    non-hive-layout partitioned table.

    It then accumulates the command's commit — ``actions``, the table
    ``features`` it needs, plus every file ``staged`` on the way — and
    ``commit()`` is the one commit tail. Used as a context manager: any
    exception rolls the staged files back, and the frames the command
    pinned are released."""

    def __init__(self, spark: SparkSession, path: str, cmd: str,
                 create: bool = False):
        self.cmd = cmd
        self.verb = cmd.split("_")[0]  # append / delete / optimize / ...
        try:
            state = replay_log(spark, path)
        except FileNotFoundError:
            if not create:
                raise
            state = TableState()
        _check_writer_protocol(state.protocol, path)
        _check_write_obligations(state, path, self.verb)
        self.version = state.version + 1
        self.now_ms = int(time.time() * 1000)
        self.actions: list[dict] = []
        self.features: set[str] = set()  # table features the commit needs
        self.meta_out: dict | None = None  # the metaData the commit writes
        # columns the staged frame may leave out (an unmapped
        # merge_schema append; files without them read back as null)
        self.omitted: set[str] = set()
        # lost-race hook: returns a version when the commit already
        # landed, None after moving ``version`` forward; unset = raise
        self.rebase = None
        self.staged: list[str] = []  # table-relative, for rollback
        self.persisted: list[DataFrame] = []  # released on exit
        super().__init__(spark, path, state)

    def _view(self, meta: dict) -> None:
        super()._view(meta)
        config, schema = self.config, self.schema
        self.cdf_on = (
            str(config.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        )
        self.dv_feature_on = "deletionVectors" in set(
            (self.state.protocol or {}).get("readerFeatures") or ()
        ) or str(config.get("delta.enableDeletionVectors", "")).lower() == (
            "true"
        )
        self.gen_cols = dict(_generated_columns(schema))
        self.ident_names = {d["name"] for d in _identity_columns(schema)}
        self.constraints = _table_constraints(meta, schema)

    def set_metadata(self, meta: dict, evolved=()) -> None:
        """Make ``meta`` (lineage names folded in) the metaData this
        commit writes, and the schema view everything after reads;
        ``evolved`` names the columns the table's files predate."""
        self.meta_out = _fold_lineage_names(
            meta, self.state.historical_physical_names
        )
        self.evolved = set(evolved)
        self._view(self.meta_out)

    def _check_files(self, parts: bool) -> None:
        super()._check_files(parts)
        if (
            parts and self.rels and self.phys_part_cols
            and not self.hive_layout
        ):
            raise NotImplementedError(
                f"{self.cmd} on a partitioned table whose file paths do "
                "not hive-encode the logged partitionValues (externally "
                "authored layout) — rewrite via overwrite instead"
            )

    def __enter__(self) -> "_TableWrite":
        return self

    def __exit__(self, exc_type, *_exc) -> bool:
        if exc_type is not None:
            self.rollback()
        for frame in self.persisted:
            frame.unpersist(blocking=False)
        return False

    def rollback(self) -> None:
        for rel in self.staged:
            try:
                os.remove(os.path.join(self.base, rel))
            except OSError:
                pass
        self.staged.clear()

    def to_phys(self, frame: DataFrame, parts: bool = True,
                row_ids: bool = False) -> DataFrame:
        """Logical rows -> the physical parquet layout: physical names
        (stamped with their parquet field ids on mapped tables — what
        id-mode readers resolve by), partition columns dropped unless
        ``parts``, a ``_change_type`` column riding along — one SQL-text
        projection. Every table column must be in the frame except the
        ``omitted`` ones. A column whose type already reads as the
        physical one (nullability aside) is written as it is: Spark
        refuses to cast a nullable array element or struct field to a
        non-nullable one, and parquet does not care."""
        have = {
            f.name: f.dataType.simpleString() for f in frame.schema.fields
        }
        kept = [
            (f, pf)
            for f, pf in zip(self.schema.fields, self.phys_schema.fields)
            if (parts or pf.name not in self.phys_part_cols)
            and f.name not in self.omitted
        ]
        mapped = self.mapping != "none"
        # a mapped table's columns first project under temporary names
        # that the field ids attach to, then rename to physical names
        names = [
            f"__fid{i}" if mapped else _q(pf.name)
            for i, (_f, pf) in enumerate(kept)
        ]
        rest = [
            *(
                [_q(self.rows.rid_col), _q(self.rows.rcv_col)]
                if row_ids
                else []
            ),
            *(
                ["_change_type"]
                if "_change_type" in have
                and "_change_type" not in self.logical_to_phys
                else []
            ),
        ]
        out = frame.selectExpr(
            *[
                (
                    _q(f.name)
                    if have.get(f.name) == pf.dataType.simpleString()
                    else f"CAST({_q(f.name)} AS "
                    f"{_type_sql(self.spark, pf.dataType)})"
                )
                + f" AS {name}"
                for (f, pf), name in zip(kept, names)
            ],
            *rest,
        )
        if not mapped:
            return out
        # SQL text carries no column metadata: ``to`` stamps the field
        # ids onto the temporary columns (same names and types, so it
        # only attaches metadata), and the renaming alias on top
        # inherits them into the written parquet schema
        ids = {
            name: int(f.metadata["delta.columnMapping.id"])
            for (f, _pf), name in zip(kept, names)
        }
        out = out.to(
            T.StructType(
                [
                    T.StructField(
                        g.name,
                        g.dataType,
                        g.nullable,
                        {"parquet.field.id": ids[g.name]}
                        if g.name in ids
                        else g.metadata,
                    )
                    for g in out.schema.fields
                ]
            )
        )
        return out.selectExpr(
            *[
                f"{name} AS {_q(pf.name)}"
                for (_f, pf), name in zip(kept, names)
            ],
            *rest,
        )

    def stage_rows(self, rows: DataFrame, what: str,
                   group: list[str] | None = None, row_ids: bool = False,
                   n_files: int | None = None,
                   data_change: bool = True) -> int | None:
        """Write logical ``rows`` as new data files and append their
        adds: into ``group``'s partition directory under its logged
        partitionValues (a rewrite), else hive-partitioned on the
        partition columns. Rows that change data carry the table's
        CHECK constraints / invariants as observe() metrics riding the
        write (zero extra passes), and a violation raises before
        anything commits; a ``data_change=False`` rewrite (OPTIMIZE)
        moves rows the table already holds. Zero-row part files never
        commit; on rowTracking tables every add draws a fresh baseRowId
        range. Returns the rows added, None when some file's footer was
        unreadable."""
        obs = None
        if self.constraints and data_change:
            rows, obs, name_map = _attach_constraint_observer(
                rows, self.schema, self.constraints, self.path
            )
        out = self.to_phys(rows, parts=group is None, row_ids=row_ids)
        if n_files:
            out = out.coalesce(n_files)
        if group is None:
            moved = _stage_and_move(out, self.base, tuple(self.phys_part_cols))
        else:
            part_dir = os.path.dirname(group[0])
            moved = [
                (os.path.join(part_dir, rel), size)
                for rel, size in _stage_and_move(
                    out, os.path.join(self.base, part_dir), ()
                )
            ]
        self.staged.extend(rel for rel, _ in moved)
        if obs is not None:
            violated = {
                name_map[k]: int(v) for k, v in obs.get.items() if v
            }
            if violated:
                by_name = dict(self.constraints)
                detail = "; ".join(
                    f"{n!r} ({by_name[n]!r}): {c} row(s)"
                    for n, c in sorted(violated.items())
                )
                raise ValueError(
                    f"{what} to {self.path!r} violates table constraints "
                    f"— {detail}. NULL results count as violations "
                    "(delta-spark semantics); nothing was committed."
                )
        total: int | None = 0
        for rel, size in moved:
            dst = os.path.join(self.base, rel)
            stats = _file_stats_json(dst)
            n = json.loads(stats)["numRecords"] if stats else None
            if n == 0:
                os.remove(dst)
                continue
            add = {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": (
                    dict(self.state.files[group[0]] or {})
                    if group is not None
                    else _partition_values_from_rel(rel, self.phys_part_cols)
                ),
                "size": size,
                "modificationTime": self.now_ms,
                "dataChange": data_change,
            }
            if stats is not None:
                add["stats"] = stats
            self.rows.assign(add, stats, self.version, self.path)
            self.actions.append({"add": add})
            total = None if total is None or n is None else total + int(n)
        return total

    def stage_changes(self, changes: DataFrame) -> None:
        """Stage logical change rows (with ``_change_type``) under
        ``_change_data/``, hive-partitioned like the data, and append
        their cdc actions — the protocol's authoritative change record,
        which readers prefer over add/remove derivation (a DV mask is a
        remove+add of the SAME path, a rewrite re-adds unchanged rows).
        Zero-row files never commit."""
        import pyarrow.parquet as pq

        cdc_dir = os.path.join(self.base, "_change_data")
        os.makedirs(cdc_dir, exist_ok=True)
        for rel, size in _stage_and_move(
            self.to_phys(changes), cdc_dir, tuple(self.phys_part_cols)
        ):
            full_rel = f"_change_data/{rel}"
            self.staged.append(full_rel)
            dst = os.path.join(cdc_dir, rel)
            if pq.ParquetFile(dst).metadata.num_rows == 0:
                os.remove(dst)
                continue
            self.actions.append(
                {
                    "cdc": {
                        "path": urllib.parse.quote(full_rel, safe="/="),
                        "partitionValues": _partition_values_from_rel(
                            rel, self.phys_part_cols
                        ),
                        "size": size,
                        "dataChange": False,
                    }
                }
            )

    def commit(self, operation: str, parameters: dict,
               op_metrics=None) -> int:
        """The one commit tail: commitInfo (``op_metrics`` maps the
        commit's add / remove counts to the command's
        operationMetrics), the protocol upgrade ``features`` need
        (_protocol_with), the metaData the command changed (plus newly
        named materialized rowTracking columns once rows drew ids), the
        actions, the rowTracking watermark; then the atomic log write —
        a lost version race goes to ``rebase`` when the command set one
        and raises otherwise — and the best-effort checkpoint hook."""
        info = {
            "timestamp": self.now_ms,
            "operation": operation,
            "operationParameters": parameters,
        }
        if op_metrics is not None:
            info["operationMetrics"] = op_metrics(
                sum(1 for a in self.actions if "add" in a),
                sum(1 for a in self.actions if "remove" in a),
            )
        head: list[dict] = [{"commitInfo": info}]
        protocol = _protocol_with(self.state, self.features)
        if protocol is not None:
            head.append({"protocol": protocol})
        meta = self.meta_out
        if self.rows.drawn and self.rows.new_config is not None:
            # ONE metaData action carries both a changed schema and the
            # newly named materialized rowTracking columns
            meta = dict(meta or self.state.metadata)
            meta["configuration"] = self.rows.new_config
        if meta is not None:
            head.append({"metaData": meta})
        tail = [self.rows.watermark()] if self.rows.drawn else []
        actions = head + self.actions + tail
        os.makedirs(_log_dir(self.path), exist_ok=True)
        while True:
            try:
                _write_commit_file(
                    os.path.join(
                        _log_dir(self.path), f"{self.version:020d}.json"
                    ),
                    actions,
                )
                break
            except FileExistsError:
                if self.rebase is None:
                    raise
                landed = self.rebase()
                if landed is not None:
                    self.rollback()
                    return landed
            # the re-based commit is the add actions, the txn stamp and
            # the commitInfo header — never protocol or metaData
            actions = [
                a for a in actions
                if "add" in a or "txn" in a or "commitInfo" in a
            ]
        self.staged.clear()
        if self.version > 0 and self.version % CHECKPOINT_INTERVAL == 0:
            # best-effort (a failed checkpoint never fails the commit —
            # the JSON log alone is authoritative); bounds replay to at
            # most CHECKPOINT_INTERVAL commits however long the table
            # lives
            try:
                write_checkpoint(self.spark, self.path)
            except Exception:
                pass
        return self.version


def _dml(
    tw: _TableWrite,
    operation: str,
    parameters: dict,
    op_metrics,
    source: DataFrame | None = None,
    on: Column | str | None = None,
    matched=(),
    not_matched=(),
    nmbs=(),
    use_dvs: bool | None = None,
    inline_threshold: int = DV_INLINE_THRESHOLD,
) -> int:
    """The decision -> rewrite / DV-mask -> insert kernel behind
    merge_rows (and, source-less, update_rows and delete_rows): see
    merge_rows for the semantics. ``op_metrics`` maps the kernel's
    counts to the command's operationMetrics names."""
    from pyspark.sql import Observation

    with tw:
        state, schema = tw.state, tw.schema
        rels = tw.rels
        gen_cols = tw.gen_cols
        if source is None and not rels:
            return state.version  # UPDATE / DELETE on an empty table

        # ---- static clause validation over the table schema ------------
        def _check_assign(values: dict, label: str, insert=False) -> None:
            for name in values:
                if name not in tw.logical_to_phys:
                    raise ValueError(
                        f"{label} assigns unknown column {name!r}"
                        if source is not None
                        else f"assignment to unknown column {name!r}"
                    )
                if name in state.partition_columns and not insert:
                    raise NotImplementedError(
                        f"{label} cannot assign partition column {name!r} "
                        "(rows would move between partitions — rewrite "
                        "via overwrite instead)"
                    )
                if name in gen_cols:
                    raise ValueError(
                        f"column {name!r} is GENERATED "
                        f"({gen_cols[name]!r}); it is recomputed from its "
                        "expression — assign its inputs instead"
                    )
                if name in tw.ident_names:
                    raise ValueError(
                        f"column {name!r} is an IDENTITY column; its "
                        + (
                            "values cannot be assigned"
                            if source is not None
                            else "values are row identity and cannot be "
                            "reassigned"
                        )
                    )

        def _label(kind: str, i: int) -> str:
            return f"{kind}[{i}]" if source is not None else tw.cmd

        upd_assign_cols: set[str] = set()
        for i, (kind, _c, values) in enumerate(matched):
            if kind == "update":
                _check_assign(values, _label("matched", i))
                upd_assign_cols |= set(values)
        for j, (kind, _c, values) in enumerate(nmbs):
            if kind == "update":
                _check_assign(values, _label("not_matched_by_source", j))
        if not_matched and tw.ident_names:
            raise NotImplementedError(
                f"merge_rows cannot INSERT into the table at {tw.path!r}: "
                f"its IDENTITY column(s) {sorted(tw.ident_names)} need "
                "generated values this writer does not allocate — use "
                "append with explicit identity handling instead"
            )
        for k, (_kind, _c, values) in enumerate(not_matched):
            _check_assign(values, f"not_matched[{k}]", insert=True)
            for f in schema.fields:
                if (
                    not f.nullable
                    and f.name not in values
                    and f.name not in gen_cols
                ):
                    raise ValueError(
                        f"not_matched[{k}] omits non-nullable column "
                        f"{f.name!r}"
                    )

        def _kind_idx(clauses, kind: str) -> list[int]:
            return [i for i, (k, _c, _v) in enumerate(clauses) if k == kind]

        upd_idx = _kind_idx(matched, "update")
        del_idx = _kind_idx(matched, "delete")
        nmbs_upd_idx = _kind_idx(nmbs, "update")
        nmbs_del_idx = _kind_idx(nmbs, "delete")
        new_names = {
            c: f"__mrg_new_{n}" for n, c in enumerate(sorted(upd_assign_cols))
        }
        assigners = {
            c: [i for i in upd_idx if c in (matched[i][2] or {})]
            for c in upd_assign_cols
        }
        has_updates = bool(upd_idx or nmbs_upd_idx)

        src = None
        n_source_rows = 0
        if source is not None:
            # if the CALLER already persisted the source, persist() is a
            # no-op returning the same plan — unpersisting on exit would
            # evict THEIR cache (r13 ADVICE low); only release what this
            # command pinned
            lvl = source.storageLevel
            if lvl.useMemory or lvl.useDisk:
                src = source
            else:
                src = source.persist()
                tw.persisted.append(src)
            n_source_rows = src.count()  # materializes the cached source
            on_cond = on if isinstance(on, Column) else F.expr(on)

        m_sql, m_cols = _clause_sql(matched, "__mrg_m")
        b_sql, b_cols = _clause_sql(nmbs, "__mrg_b")
        i_sql, i_cols = _clause_sql(not_matched, "__mrg_i")

        def _cast(sql: str, dt: T.DataType) -> str:
            return f"CAST({sql} AS {_type_sql(tw.spark, dt)})"

        # ---- decision pass: one match pass ------------------------------
        # ``dec`` holds the MODIFYING (file, position) pairs only: the
        # first matched clause that holds plus the new values of the
        # update-assigned columns, computed against the pristine pair.
        # ``hit`` (by-source clauses only) is every matched position.
        dec = hit = None
        touched_counts: dict[str, int] = {}
        if src is not None and rels and (matched or nmbs):
            pairs = tw.scan(rels).alias("t").join(
                src.alias("s"), on_cond, "inner"
            )
            proj = pairs
            if matched:
                if m_cols:
                    pairs = pairs.withColumns(m_cols)
                proj = pairs.selectExpr(
                    "*", f"{_first_of([c for c, _v in m_sql])} AS __mrg_clause"
                )
                if not nmbs:
                    # matched-but-unmodified pairs only tell "matched"
                    # from "not matched by source" — drop them early
                    proj = proj.filter("__mrg_clause IS NOT NULL")
                proj = proj.selectExpr(
                    "__file",
                    "__pos",
                    "__mrg_clause",
                    *[
                        "CASE __mrg_clause "
                        + " ".join(
                            f"WHEN {i} THEN "
                            + _cast(m_sql[i][1][c], schema[c].dataType)
                            for i in assigners[c]
                        )
                        + f" END AS {nm}"
                        for c, nm in new_names.items()
                    ],
                ).persist()
                tw.persisted.append(proj)
                dec = proj.filter("__mrg_clause IS NOT NULL") if nmbs else proj
                # ambiguity and touched counts from the positions alone:
                # modifying pairs per position, then max / count per file
                per_file = (
                    dec.groupBy("__file", "__pos")
                    .count()
                    .groupBy("__file")
                    .agg(
                        F.max("count").alias("mx"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .collect()
                )
                if any(int(r["mx"]) > 1 for r in per_file):
                    raise ValueError(
                        "merge_rows: multiple source rows match (and would "
                        "modify) the same target row — deduplicate the "
                        "source on the merge keys first (delta-spark raises "
                        "the same error)"
                    )
                # per-file MODIFIED-row counts: the touched set and the
                # DV-vs-rewrite routing input
                touched_counts = {
                    tw.enc_to_rel[r["__file"]]: int(r["n"])
                    for r in per_file
                    if r["__file"] in tw.enc_to_rel
                }
            if nmbs:
                hit = (
                    proj.select("__file", "__pos")
                    .distinct()
                    .selectExpr("*", "TRUE AS __mrg_matched")
                    .persist()
                )
                tw.persisted.append(hit)

        # all-delete with forced DV routing: every file is a candidate
        # and the mask pass itself finds the matches (the union with the
        # old vector drops files with nothing new) — no count pass
        mask_all = src is None and use_dvs is True and not has_updates
        if mask_all:
            touched = list(rels)
        else:
            if nmbs and rels:
                tgt = tw.scan(rels).alias("t")
                if b_cols:
                    tgt = tgt.withColumns(b_cols)
                if hit is not None:
                    tgt = tgt.join(
                        hit.select("__file", "__pos"),
                        ["__file", "__pos"],
                        "left_anti",
                    )
                for r in (
                    tgt.filter(" OR ".join(c for c, _v in b_sql))
                    .groupBy("__file")
                    .count()
                    .collect()
                ):
                    rel_b = tw.enc_to_rel.get(r["__file"])
                    if rel_b is not None:
                        touched_counts[rel_b] = touched_counts.get(
                            rel_b, 0
                        ) + int(r["count"])
            touched = sorted(touched_counts)

        # ---- per-file routing: deletion-vector mask vs rewrite ----------
        def _dv_card(rel: str) -> int:
            return int((state.dvs.get(rel) or {}).get("cardinality", 0))

        def _num_records(rel: str) -> int | None:
            stats_json = (state.adds.get(rel) or {}).get("stats")
            try:
                return int(json.loads(stats_json)["numRecords"])
            except (ValueError, KeyError, TypeError):
                return None  # no footer stats to judge selectivity by

        def _live_rows(rel: str) -> int | None:
            n_rec = _num_records(rel)
            return None if n_rec is None else n_rec - _dv_card(rel)

        def _mask(rel: str) -> bool:
            if use_dvs is not None:
                return use_dvs
            if not tw.dv_feature_on:
                return False
            live_n = _live_rows(rel)
            return live_n is not None and 0 < live_n and (
                touched_counts[rel] <= DV_WRITE_MAX_FRACTION * live_n
            )

        masked = {r: _mask(r) for r in touched}
        touched_dv = [r for r in touched if masked[r]]
        touched_rw = [r for r in touched if not masked[r]]
        if touched_dv:
            tw.features.add("deletionVectors")

        counts = {
            "updated": 0, "inserted": 0, "rewritten_rows": 0,
            "dv_rewritten": 0, "dv_mask_growth": 0, "dv_files": 0,
            "derivable": True,
        }

        def _decide(frame: DataFrame) -> DataFrame:
            """Per-row decisions: the matched clause (joined from ``dec``
            on file + position), the by-source clause, and the
            __mrg_deleted / __mrg_updated flags."""
            j = frame.alias("t")
            # no broadcast hints: dec / hit are proportional to matched
            # rows — AQE flips to BHJ when they are actually small
            if dec is not None:
                j = j.join(dec, ["__file", "__pos"], "left")
            if hit is not None:
                j = j.join(hit, ["__file", "__pos"], "left")
            if b_cols:
                j = j.withColumns(b_cols)
            nmbs_clause = _first_of([c for c, _v in b_sql])
            if hit is not None:
                nmbs_clause = (
                    f"CASE WHEN __mrg_matched IS NULL THEN {nmbs_clause} END"
                )
            j = j.selectExpr(
                "*",
                *(
                    []
                    if dec is not None
                    else ["CAST(NULL AS INT) AS __mrg_clause"]
                ),
                f"{nmbs_clause} AS __mrg_nmbs",
            )
            deleted = [_in("__mrg_clause", del_idx)] if del_idx else []
            if nmbs_del_idx:
                deleted.append(_in("__mrg_nmbs", nmbs_del_idx))
            updated = [_in("__mrg_clause", upd_idx)] if upd_idx else []
            if nmbs_upd_idx:
                updated.append(_in("__mrg_nmbs", nmbs_upd_idx))
            return j.selectExpr(
                "*",
                f"coalesce({' OR '.join(deleted) or 'FALSE'}, FALSE)"
                " AS __mrg_deleted",
                f"coalesce({' OR '.join(updated) or 'FALSE'}, FALSE)"
                " AS __mrg_updated",
            )

        def _new_values(kept: DataFrame, row_ids: bool) -> DataFrame:
            """ONE simultaneous projection: every new value sees the
            ORIGINAL row (matched-update values were computed against
            the pristine pair in ``dec``; by-source updates evaluate
            here over the original target columns). Generated columns
            then recompute over the post-assignment values; updated
            rows' materialized commit version falls to this commit."""
            rid, rcv = _q(tw.rows.rid_col), _q(tw.rows.rcv_col)
            out_cols = []
            for f in schema.fields:
                c = f.name
                whens = (
                    [
                        f"WHEN {_in('__mrg_clause', assigners[c])} "
                        f"THEN {new_names[c]}"
                    ]
                    if assigners.get(c)
                    else []
                ) + [
                    f"WHEN __mrg_nmbs = {jx} THEN "
                    + _cast(b_sql[jx][1][c], f.dataType)
                    for jx in nmbs_upd_idx
                    if c in b_sql[jx][1]
                ]
                out_cols.append(
                    f"CASE {' '.join(whens)} ELSE {_q(c)} END AS {_q(c)}"
                    if whens
                    else _q(c)
                )
            upd = kept.selectExpr(
                *out_cols,
                *(
                    [
                        rid,
                        "CASE WHEN __mrg_updated THEN CAST(NULL AS BIGINT) "
                        f"ELSE {rcv} END AS {rcv}",
                    ]
                    if row_ids
                    else []
                ),
                "__mrg_updated",
            )
            if gen_cols:
                upd = upd.selectExpr(
                    *[
                        "CASE WHEN __mrg_updated THEN "
                        + _cast(f"({gen_cols[f.name]})", f.dataType)
                        + f" ELSE {_q(f.name)} END AS {_q(f.name)}"
                        if f.name in gen_cols
                        else _q(f.name)
                        for f in schema.fields
                    ],
                    *([rid, rcv] if row_ids else []),
                    "__mrg_updated",
                )
            return upd

        def _observe_updates(upd: DataFrame):
            obs = Observation()
            return upd.observe(
                obs,
                F.expr(
                    "coalesce(sum(CAST(__mrg_updated AS BIGINT)), 0)"
                ).alias("u"),
            ), obs

        has_deletes = bool(del_idx or nmbs_del_idx)

        def _changes(j: DataFrame, upd: DataFrame | None) -> DataFrame:
            """The modified rows' change images: originals of updated
            rows (read BEFORE the rewrite projection), their new values,
            and the deleted rows — only the kinds some clause produces,
            since each image is one more read of ``j``."""
            def img(frame, flag, kind):
                return frame.filter(flag).selectExpr(
                    *[_q(f.name) for f in schema.fields],
                    f"'{kind}' AS _change_type",
                )

            images = []
            if has_updates:
                images += [
                    img(j, "__mrg_updated", "update_preimage"),
                    img(upd, "__mrg_updated", "update_postimage"),
                ]
            if has_deletes:
                images.append(img(j, "__mrg_deleted", "delete"))
            return functools.reduce(DataFrame.unionByName, images)

        # ---- rewrite: one new file set per touched partition group -----
        by_part: dict[tuple, list[str]] = {}
        for rel in touched_rw:
            key = tuple(sorted((state.files[rel] or {}).items()))
            by_part.setdefault(key, []).append(rel)
        for _key, group in sorted(by_part.items()):
            j = _decide(
                tw.scan(
                    group,
                    row_ids=tw.rows.on,
                    ids=dec is not None or hit is not None,
                )
            )
            if tw.cdf_on and (dec is not None or hit is not None):
                # the decided group frame feeds the rewrite AND the
                # change images — persist it for the group's duration
                # instead of re-running the scan + source join per
                # image. A source-less decision is a plain filter, so
                # there the images re-scan rather than cache every row
                # of the group (measured: caching 5M rows made a 1%
                # CDF UPDATE 2.3x slower at local[4])
                j = j.persist()
                tw.persisted.append(j)
            new = _new_values(j.filter("NOT __mrg_deleted"), tw.rows.on)
            # the change images read the UNOBSERVED projection: an
            # observe() node would block pushing their filters below it
            changes = _changes(j, new) if tw.cdf_on else None
            upd, obs_u = _observe_updates(new)
            n = tw.stage_rows(upd, tw.verb, group=group, row_ids=tw.rows.on)
            if n is None:
                counts["derivable"] = False
            else:
                counts["rewritten_rows"] += n
            counts["updated"] += int(obs_u.get["u"] or 0)
            if changes is not None:
                tw.stage_changes(changes)
                j.unpersist(blocking=False)
            tw.actions.extend(
                _remove_action(state, rel, tw.now_ms) for rel in group
            )

        # ---- DV mask: one pass over every masked file ------------------
        def _affected(rels: list[str], live: bool) -> DataFrame:
            row_ids = live and tw.rows.on and has_updates
            return _decide(
                tw.scan(rels, live=live, row_ids=row_ids)
            ).filter("__mrg_deleted OR __mrg_updated")

        if touched_dv:
            if has_updates:
                # positions, replacement rows and change images all read
                # the AFFECTED live rows: cache them (proportional to the
                # modified fraction, not to the masked files)
                j = _affected(touched_dv, live=True).persist()
                tw.persisted.append(j)
            else:
                # positions alone need no liveness (the union with the
                # old vector absorbs already-masked rows): one raw scan
                j = _affected(touched_dv, live=False)
            # a-priori positions bound of the mask pass: the decided
            # rows plus the old vectors' (a raw scan may re-match rows
            # they already mask); the all-delete pass has no counts, so
            # every row of its candidate files, when their stats say
            if mask_all:
                recs = [_num_records(r) for r in touched_dv]
                bound = None if None in recs else sum(recs)
            else:
                bound = sum(
                    touched_counts.get(r, 0) + _dv_card(r) for r in touched_dv
                )
            per_file_dv = _materialize_dv_descriptors(
                tw.base,
                _dv_union_blobs(
                    tw.spark,
                    tw.base,
                    j.select("__file", "__pos"),
                    {r: state.dvs[r] for r in touched_dv if r in state.dvs},
                    bound,
                ),
                tw.enc_to_rel,
                inline_threshold,
                tw.staged,
            )
            if per_file_dv:
                new = changes = None
                if has_updates:
                    new = _new_values(j.filter("__mrg_updated"), tw.rows.on)
                elif tw.cdf_on:
                    # delete images: the live matches of the files whose
                    # vector grew
                    j = _affected(sorted(r for r, _ in per_file_dv), True)
                if tw.cdf_on:
                    changes = _changes(j, new)
                if new is not None:
                    upd, obs_u = _observe_updates(new)
                    # replacement rows are a small fraction of the masked
                    # files by construction — coalesce to roughly the
                    # table's own rows-per-file
                    avg_live = max(
                        1,
                        sum(_live_rows(r) or 0 for r in touched_dv)
                        // len(touched_dv),
                    )
                    modified = sum(
                        touched_counts.get(r, 0) for r in touched_dv
                    )
                    n = tw.stage_rows(
                        upd,
                        tw.verb,
                        row_ids=tw.rows.on,
                        n_files=max(
                            1, min(len(touched_dv), -(-modified // avg_live))
                        ),
                    )
                    if n is None:
                        counts["derivable"] = False
                    else:
                        counts["dv_rewritten"] += n
                    counts["updated"] += int(obs_u.get["u"] or 0)
                if changes is not None:
                    tw.stage_changes(changes)
            # remove(oldDv) + add(newDv) on the untouched bytes: stats,
            # tags and rowTracking assignment stay valid
            for rel, descriptor in sorted(per_file_dv):
                counts["dv_mask_growth"] += max(
                    0, int(descriptor["cardinality"]) - _dv_card(rel)
                )
                counts["dv_files"] += 1
                tw.actions.append(_remove_action(state, rel, tw.now_ms))
                tw.actions.append(
                    {
                        "add": {
                            "path": urllib.parse.quote(rel, safe="/="),
                            "partitionValues": state.files[rel],
                            "size": os.path.getsize(
                                os.path.join(tw.base, rel)
                            ),
                            "modificationTime": tw.now_ms,
                            "dataChange": True,
                            "deletionVector": descriptor,
                            **state.adds.get(rel, {}),
                        }
                    }
                )

        # ---- WHEN NOT MATCHED inserts ----------------------------------
        if not_matched:
            ins = src.alias("s")  # empty table: every source row inserts
            if rels:
                ins = ins.join(
                    tw.scan(rels, ids=False).alias("t"), on_cond, "left_anti"
                )
            if i_cols:
                ins = ins.withColumns(i_cols)
            ins = ins.selectExpr(
                "*", f"{_first_of([c for c, _v in i_sql])} AS __mrg_ins"
            ).filter("__mrg_ins IS NOT NULL")
            # simultaneous projection: every value expression sees the
            # source row; omitted columns insert as typed nulls;
            # generated columns compute after, from the inserted values
            val_cols = []
            for f in schema.fields:
                if f.name in gen_cols:
                    continue
                whens = [
                    f"WHEN {k} THEN {_cast(values[f.name], f.dataType)}"
                    for k, (_c, values) in enumerate(i_sql)
                    if f.name in values
                ]
                val_cols.append(
                    (
                        f"CASE __mrg_ins {' '.join(whens)} END"
                        if whens
                        else _cast("NULL", f.dataType)
                    )
                    + f" AS {_q(f.name)}"
                )
            new_rows = ins.selectExpr(*val_cols)
            if gen_cols:
                new_rows = new_rows.selectExpr(
                    *[
                        _cast(f"({gen_cols[f.name]})", f.dataType)
                        + f" AS {_q(f.name)}"
                        if f.name in gen_cols
                        else _q(f.name)
                        for f in schema.fields
                    ]
                )
            if tw.cdf_on:
                # reused by the cdc insert staging — one anti-join, not two
                new_rows = new_rows.persist()
                tw.persisted.append(new_rows)
            n = tw.stage_rows(new_rows, "merge insert")
            if n is None:
                counts["derivable"] = False
            else:
                counts["inserted"] += n
            if tw.cdf_on:
                tw.stage_changes(
                    new_rows.selectExpr("*", "'insert' AS _change_type")
                )

        # ---- operationMetrics (delta-spark history parity) -------------
        # rewrites conserve non-deleted rows, so deletes fall out of the
        # arithmetic — no extra pass. Masked files: mask growth counts
        # updated+deleted positions, and the replacement rows are
        # exactly the updates
        removed_live = 0
        for rel in touched_rw:
            n = _live_rows(rel)
            if n is None:
                try:
                    import pyarrow.parquet as pq

                    n = pq.ParquetFile(
                        os.path.join(tw.base, rel)
                    ).metadata.num_rows - _dv_card(rel)
                except Exception:
                    counts["derivable"] = False
                    break
            removed_live += max(0, n)

        def _metrics(n_adds: int, n_removes: int) -> dict:
            ok = counts["derivable"]
            dv_files = counts["dv_files"]
            return op_metrics(
                {
                    "source_rows": n_source_rows,
                    "updated": counts["updated"],
                    "inserted": counts["inserted"],
                    "dv_files": dv_files,
                    "files_added": n_adds - dv_files,
                    "files_removed": n_removes - dv_files,
                    "deleted": (
                        max(0, removed_live - counts["rewritten_rows"])
                        + max(
                            0,
                            counts["dv_mask_growth"]
                            - counts["dv_rewritten"],
                        )
                        if ok
                        else None
                    ),
                    "copied": (
                        max(
                            0,
                            counts["rewritten_rows"]
                            + counts["dv_rewritten"]
                            - counts["updated"],
                        )
                        if ok
                        else None
                    ),
                }
            )

        if not tw.actions:
            # nothing added or removed: commit nothing — not even an
            # evolved schema or a protocol upgrade
            tw.rollback()
            return state.version
        return tw.commit(operation, parameters, _metrics)


def _dv_bin_rel(base: str, dv: dict | None) -> str | None:
    """The table-relative path of a u-storage deletion vector's .bin
    file, None for inline/absent descriptors (retention accounting —
    the same uuid derivation _resolve_dv_blob reads through)."""
    if not dv or dv.get("storageType") != "u":
        return None
    enc = dv["pathOrInlineDv"]
    prefix, uuid_z85 = enc[:-20], enc[-20:]
    uuid_hex = z85_decode(uuid_z85).hex()
    name = (
        f"{uuid_hex[0:8]}-{uuid_hex[8:12]}-{uuid_hex[12:16]}-"
        f"{uuid_hex[16:20]}-{uuid_hex[20:32]}"
    )
    return os.path.join(
        *([prefix] if prefix else []), f"deletion_vector_{name}.bin"
    )


def vacuum(
    spark: SparkSession, path: str, retain_hours: float | None = None
) -> list[str]:
    """Reclaim dead files. Two modes:

    - ``retain_hours=None`` (default, unchanged): remove ONLY ORPHANS —
      data files referenced by NO version of the log (a writer that
      crashed between staging and commit, or a concurrent-commit loser
      whose rollback was interrupted) plus leftover ``_staging-*``
      directories. Files referenced by any historical version are kept,
      so time travel to every committed version keeps working.
    - ``retain_hours=H`` (r11): ALSO remove files whose every log
      reference is OLDER than the horizon (now - H, against the same
      canonicalized non-decreasing commit timestamps TIMESTAMP AS OF
      resolves with) and which the current snapshot does not use —
      delta-spark's retention VACUUM semantics, except STRICTER: every
      file referenced by any retained-window commit is kept too, so
      time travel AND change-feed reads within the retention window
      keep working by construction (delta-spark only guarantees the
      current snapshot). Time travel PAST the horizon breaks, exactly
      as documented for delta-spark. Deletion-vector ``.bin`` files
      join the referenced-set accounting (live DVs and DVs referenced
      in the window are kept; expired ones reclaim); ``_change_data``
      files reclaim with their commits. Without a fresh checkpoint the
      log itself still references old versions — run ``write_checkpoint``
      + ``cleanup_log`` for the full lifecycle.

    Returns the removed paths (relative to the table root). Orphaned DV
    bins are still never reclaimed (an in-flight delete_rows stages its
    .bin BEFORE committing; reclaiming those would corrupt the racing
    writer) — only log-referenced-then-expired ones are."""
    base = _local(path)
    log = _Log(path)
    state = log.replay(spark)  # validates before touching files
    horizon_ms = (
        None
        if retain_hours is None
        else int(time.time() * 1000) - int(retain_hours * 3_600_000)
    )
    referenced: set[str] = set()
    last_ref_ms: dict[str, int] = {}
    keep: set[str] = set()
    # current snapshot: data files + their live DV bins are untouchable
    keep.update(state.files)
    for dv in state.dvs.values():
        rel = _dv_bin_rel(base, dv)
        if rel:
            keep.add(rel)
    for v, ts_ms in log.times().items():
        retained = horizon_ms is not None and ts_ms >= horizon_ms
        for action in log.actions(v):
            # cdc change files are referenced ONLY by their commit's
            # cdc actions (never by checkpoints — cdc is transient log
            # state): missing them here would reclaim live change data
            # out from under CDF readers. Once cleanup_log removes the
            # commit, its window is unreadable anyway and the
            # then-orphaned cdc files reclaim correctly.
            a = (
                action.get("add")
                or action.get("remove")
                or action.get("cdc")
            )
            if not a:
                continue
            for rel in (
                urllib.parse.unquote(a["path"]),
                _dv_bin_rel(base, a.get("deletionVector")),
            ):
                if rel:
                    referenced.add(rel)
                    last_ref_ms[rel] = ts_ms
                    if retained:  # a retained-window commit's files stay
                        keep.add(rel)
    # every complete checkpoint (single-part, multi-part AND v2
    # UUID-named incl. sidecars): a table whose pre-checkpoint commits
    # were cleaned up is referenced ONLY here — missing any would delete
    # every active file it names. Checkpoint state is always live. One
    # that cannot be read is skipped, as replay skips it: no version
    # reads through it, and the one replay used is already decoded.
    for _v, files in log.checkpoints:
        try:
            actions = log.checkpoint(spark, files)
        except Exception:
            continue
        for action in actions:
            add = action.get("add")
            if not add:
                continue
            for rel in (
                urllib.parse.unquote(add["path"]),
                _dv_bin_rel(base, add.get("deletionVector")),
            ):
                if rel:
                    referenced.add(rel)
                    keep.add(rel)
    removed: list[str] = []
    for entry in os.listdir(base):
        if entry.startswith("_staging-"):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
            removed.append(entry)
    for root, dirs, names in os.walk(base):
        dirs[:] = [
            d for d in dirs
            if d != "_delta_log" and not d.startswith("_staging-")
        ]
        for name in names:
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, name), base)
            if rel not in referenced:
                os.remove(os.path.join(root, name))
                removed.append(rel)
    if horizon_ms is not None:
        # referenced-but-expired: every log reference precedes the
        # horizon and the retained window does not use the file
        for rel in sorted(referenced - keep):
            if last_ref_ms.get(rel, horizon_ms) >= horizon_ms:
                continue
            full = os.path.join(base, rel)
            if os.path.isfile(full):
                os.remove(full)
                removed.append(rel)
    return removed


_CP_ADD_STRUCT = (
    "struct<path:string,partitionValues:map<string,string>,"
    "size:long,modificationTime:long,dataChange:boolean,"
    "stats:string,tags:map<string,string>,"
    "baseRowId:long,defaultRowCommitVersion:long,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:int,sizeInBytes:int,cardinality:long,maxRowIndex:long>>"
)
_CP_STATE_STRUCTS = (
    "metaData struct<id:string,name:string,description:string,"
    "format:struct<provider:string,"
    "options:map<string,string>>,schemaString:string,"
    "partitionColumns:array<string>,configuration:map<string,string>,"
    "createdTime:long>,"
    "protocol struct<minReaderVersion:int,minWriterVersion:int,"
    "readerFeatures:array<string>,writerFeatures:array<string>>,"
    "txn struct<appId:string,version:long,lastUpdated:long>,"
    "domainMetadata struct<domain:string,configuration:string,"
    "removed:boolean>"
)


def _write_actions_parquet(
    spark: SparkSession, log_dir: str, rows: list[dict], schema: str,
    dest: str,
) -> None:
    """Serialize action dicts through from_json into ONE parquet file at
    ``dest`` (stage-and-move, like every other commit artifact here)."""
    staging = os.path.join(log_dir, f"_cp-staging-{uuid.uuid4().hex}")
    (
        spark.createDataFrame([(json.dumps(r),) for r in rows], "raw string")
        .select(F.from_json("raw", schema).alias("a"))
        .select("a.*")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging)
    )
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), dest)
    shutil.rmtree(staging, ignore_errors=True)


def enable_v2_checkpoint(spark: SparkSession, path: str) -> int:
    """Enable the v2 checkpoint layout: ``set_table_properties`` with
    ``delta.checkpointPolicy=v2`` — the property real writers key the
    layout off — whose one protocol rule adds the ``v2Checkpoint``
    table feature (reader AND writer lists, carrying a legacy tier's
    implicit features and an implicit columnMapping) in the same
    commit, the way delta-spark's enablement does; subsequent
    ``write_checkpoint`` calls emit the UUID-named v2 layout the policy
    mandates. No-op returning the current version if both halves are
    already in place."""
    tw = _TableWrite(spark, path, "enable_v2_checkpoint")
    if tw.config.get("delta.checkpointPolicy") == "v2" and (
        _protocol_with(tw.state, {"v2Checkpoint"}) is None
    ):
        return tw.state.version
    return _set_properties(tw, {"delta.checkpointPolicy": "v2"}, ())


def cleanup_log(spark: SparkSession, path: str) -> list[str]:
    """The protocol's METADATA-CLEANUP counterpart to write_checkpoint:
    delete JSON commits and checkpoint files strictly BELOW the newest
    complete checkpoint, plus ``_sidecars/`` parquet files no retained
    checkpoint references — so a long-lived table's ``_delta_log`` stays
    bounded by checkpoint cadence instead of growing forever.

    Safety contract, checked before anything is deleted: the horizon
    is the checkpoint that replay of the latest version actually starts
    from — the newest one that PARSES — so a present-but-corrupt file
    (skipped by replay, as by every reader) never becomes the only
    route to the state. After cleanup,
    replay_log reconstructs (a) the latest state and (b) time travel AT
    any retained checkpoint version from checkpoints alone; versions
    below the horizon become unreachable with the existing clear
    gap/missing-version errors — the same contract as delta-spark's log
    cleanup, minus wall-clock retention (the caller decides WHEN).
    Returns removed names relative to ``_delta_log``. No-op (``[]``)
    when replay starts from no checkpoint."""
    log = _Log(path)
    log.replay(spark)
    if log.used is None:
        return []
    horizon = log.used
    removed: list[str] = []
    for f, v in sorted(log.versions.items()):
        if v < horizon:
            os.remove(os.path.join(log.dir, f))
            removed.append(f)
    # sidecar GC: keep exactly the files some RETAINED v2 checkpoint
    # references (an older v2 checkpoint just deleted may have been the
    # only referent of its sidecars)
    side_dir = os.path.join(log.dir, "_sidecars")
    if os.path.isdir(side_dir):
        referenced: set[str] = set()
        for v, files in log.checkpoints:
            if v < horizon or not _CHECKPOINT_V2_RE.match(files[0]):
                continue
            try:
                actions = log.checkpoint(spark, files)
            except Exception:
                continue  # unreadable: replay skips it too
            for a in actions:
                sc = a.get("sidecar")
                if sc:
                    p = urllib.parse.unquote(sc["path"])
                    referenced.add(p)
                    # a foreign manifest may reference by absolute path;
                    # keep the file either way
                    referenced.add(os.path.basename(p))
        for f in sorted(os.listdir(side_dir)):
            if f.endswith(".parquet") and f not in referenced:
                os.remove(os.path.join(side_dir, f))
                removed.append(os.path.join("_sidecars", f))
    return removed


def write_checkpoint(spark: SparkSession, path: str) -> int:
    """Materialize the current replayed state as a parquet checkpoint +
    the ``_last_checkpoint`` hint for other readers (``_Log`` finds
    checkpoints by listing): subsequent reads replay from here instead
    of from version 0, so
    log-replay cost stays bounded by CHECKPOINT_INTERVAL no matter how
    many commits the table accumulates. Returns the checkpointed
    version.

    Layout follows the protocol's own rule: tables listing the
    ``v2Checkpoint`` reader feature get the V2 layout (r9) — a
    UUID-named top-level ``{v}.checkpoint.{uuid}.parquet`` holding the
    checkpointMetadata/protocol/metaData/txn/domainMetadata actions
    plus ONE ``sidecar`` reference whose ``_sidecars/{uuid}.parquet``
    carries the add actions — everything ``_Log.checkpoint`` (and
    delta-spark's v2 reader) resolves. Every other table gets the
    feature-aware CLASSIC single-part layout (r8). Both carry the full
    state: files + DVs (descriptors incl. maxRowIndex) + stats/tags +
    rowTracking's per-file baseRowId/defaultRowCommitVersion + metadata
    + protocol + txn + domainMetadata."""
    state = replay_log(spark, path)
    proto = state.protocol or {}
    # layout switch: delta.checkpointPolicy is the property real
    # writers key off ('v2' mandates the v2 layout; 'classic' mandates
    # classic even with the feature listed); a feature-listed table
    # with NO explicit policy (some foreign enablements) defaults to v2
    # — the layout every v2Checkpoint-supporting reader must handle
    _policy = str(
        ((state.metadata or {}).get("configuration") or {}).get(
            "delta.checkpointPolicy", ""
        )
    )
    _has_v2_feature = "v2Checkpoint" in (proto.get("readerFeatures") or ())
    if _policy == "v2" and not _has_v2_feature:
        # the protocol gates WRITING v2 checkpoints on the table
        # feature; a foreign/malformed table saying policy=v2 without
        # listing it would strand feature-gated readers on a layout the
        # protocol never told them to support — refuse, don't guess
        raise NotImplementedError(
            "delta.checkpointPolicy=v2 is set but the v2Checkpoint "
            "reader feature is not listed; refusing to emit a v2 "
            "checkpoint the protocol does not authorize (run "
            "enable_v2_checkpoint, or fix the table's protocol)"
        )
    use_v2 = _has_v2_feature and _policy != "classic"
    # state-bearing gate: a checkpoint must REPRESENT every feature's
    # state (files+DVs+optional add fields+metadata+protocol+txn+
    # domainMetadata here); features whose state lives elsewhere or
    # that we've never seen must refuse, or cleanup of pre-checkpoint
    # commits silently erases them.
    unsafe = set(proto.get("writerFeatures") or ()) - _CHECKPOINT_SAFE
    if unsafe:
        raise NotImplementedError(
            f"writerFeatures {sorted(unsafe)} carry state this "
            "checkpoint writer does not represent (use delta-spark)"
        )
    # lossless-or-refuse gate (vs silent from_json field drops): every
    # key present in the replayed state must be representable by the
    # fixed checkpoint schema below, else replay-from-checkpoint would
    # diverge from JSON-log replay (delta-spark-authored add.stats/tags,
    # DV maxRowIndex, metaData name/description ARE represented; e.g. a
    # foreign writer's add.baseRowId or clusteringProvider is not)
    bad: set[str] = set()
    for rel in state.files:
        bad |= set(state.adds.get(rel, ())) - _CP_ADD_OPTIONAL
    for dv in state.dvs.values():
        bad |= {f"deletionVector.{k}" for k in set(dv) - _CP_DV_KEYS}
    bad |= {
        f"metaData.{k}" for k in set(state.metadata or ()) - _CP_META_KEYS
    }
    for t in state.txns.values():
        bad |= {f"txn.{k}" for k in set(t) - _CP_TXN_KEYS}
    for d in state.domains.values():
        bad |= {f"domainMetadata.{k}" for k in set(d) - _CP_DOMAIN_KEYS}
    if bad:
        raise NotImplementedError(
            f"replayed state of {path!r} carries action fields the "
            f"classic checkpoint schema does not represent: "
            f"{sorted(bad)}; refusing rather than writing a checkpoint "
            "that loses them relative to JSON-log replay (use "
            "delta-spark)"
        )

    base = _local(path)
    log_dir = _log_dir(path)

    def _size(rel: str) -> int:
        try:
            return os.path.getsize(os.path.join(base, rel))
        except OSError:
            return 0

    add_rows = [
        {
            "add": {
                "path": urllib.parse.quote(rel, safe="/="),
                "partitionValues": pv,
                "size": _size(rel),
                "modificationTime": 0,
                "dataChange": False,
                "deletionVector": state.dvs.get(rel),
                **state.adds.get(rel, {}),
            },
        }
        for rel, pv in sorted(state.files.items())
    ]
    state_rows: list[dict] = [
        {"metaData": state.metadata},
        {
            "protocol": state.protocol
            or {"minReaderVersion": 1, "minWriterVersion": 2},
        },
    ]
    for app_id in sorted(state.txns):
        state_rows.append({"txn": state.txns[app_id]})
    for domain in sorted(state.domains):
        state_rows.append({"domainMetadata": state.domains[domain]})

    if use_v2:
        sidecar_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sidecar_dir, exist_ok=True)
        top_rows = [
            {"checkpointMetadata": {"version": state.version}}
        ] + state_rows
        sidecar_written: str | None = None
        if add_rows:
            sidecar_name = f"{uuid.uuid4()}.parquet"
            sidecar_path = os.path.join(sidecar_dir, sidecar_name)
            _write_actions_parquet(
                spark, log_dir,
                [{**r, "remove": None} for r in add_rows],
                f"add {_CP_ADD_STRUCT},"
                "remove struct<path:string,deletionTimestamp:long,"
                "dataChange:boolean>",
                sidecar_path,
            )
            sidecar_written = sidecar_path
            top_rows.append({
                "sidecar": {
                    "path": sidecar_name,
                    "sizeInBytes": os.path.getsize(sidecar_path),
                    "modificationTime": int(time.time() * 1000),
                }
            })
        cp_path = os.path.join(
            log_dir,
            f"{state.version:020d}.checkpoint.{uuid.uuid4()}.parquet",
        )
        try:
            _write_actions_parquet(
                spark, log_dir, top_rows,
                "checkpointMetadata struct<version:long,"
                "tags:map<string,string>>,"
                f"{_CP_STATE_STRUCTS},"
                "sidecar struct<path:string,sizeInBytes:long,"
                "modificationTime:long>",
                cp_path,
            )
        except BaseException:
            if sidecar_written:  # don't strand a referenced-by-nothing
                try:             # sidecar on a failed manifest write
                    os.remove(sidecar_written)
                except OSError:
                    pass
            raise
        size = len(top_rows) + len(add_rows)
    else:
        cp_path = os.path.join(
            log_dir, _CHECKPOINT_SINGLE.format(v=state.version)
        )
        _write_actions_parquet(
            spark, log_dir,
            [{**r, "metaData": None} for r in add_rows] + state_rows,
            f"add {_CP_ADD_STRUCT},{_CP_STATE_STRUCTS}",
            cp_path,
        )
        size = len(add_rows) + len(state_rows)
    tmp = os.path.join(log_dir, f"_last_checkpoint.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump({"version": state.version, "size": size}, fh)
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return state.version


# ---- change data feed (emulated reader) ----------------------------------


def _diff_commit(state: TableState, actions: list[dict]) -> tuple:
    """Apply one commit's actions to ``state`` and categorize its
    row-level file changes (pure Python, no Spark):

    returns (inserted {rel: (pvals, new_dv)}, deleted {rel: (pvals,
    old_dv)}, dv_changed {rel: (pvals, old_dv, new_dv)}).
    dataChange=false actions (layout rewrites) never contribute."""
    files_b, dvs_b = dict(state.files), dict(state.dvs)
    data_change: dict[str, bool] = {}
    for a in actions:
        act = a.get("add") or a.get("remove")
        if act is not None:
            rel = urllib.parse.unquote(act["path"])
            data_change[rel] = data_change.get(rel, False) or bool(
                act.get("dataChange", True)
            )
        _apply_action(state, a)
    inserted: dict[str, tuple] = {}
    deleted: dict[str, tuple] = {}
    dv_changed: dict[str, tuple] = {}
    for rel in state.files.keys() - files_b.keys():
        if data_change.get(rel):
            inserted[rel] = (state.files[rel], state.dvs.get(rel))
    for rel in files_b.keys() - state.files.keys():
        if data_change.get(rel):
            deleted[rel] = (files_b[rel], dvs_b.get(rel))
    for rel in state.files.keys() & files_b.keys():
        if data_change.get(rel) and _dv_uid(
            state.dvs.get(rel)
        ) != _dv_uid(dvs_b.get(rel)):
            dv_changed[rel] = (
                state.files[rel],
                dvs_b.get(rel),
                state.dvs.get(rel),
            )
    return inserted, deleted, dv_changed


def _schema_identity(schema_str: str) -> str:
    """Schema identity for change-window compatibility: field NAMES and
    TYPES, positionally, with nullability and field metadata stripped —
    a nullable-widened rewrite of the same columns is read-compatible
    and must not split a change window."""

    def strip(node):
        if isinstance(node, dict):
            return {
                k: strip(v)
                for k, v in node.items()
                if k not in ("nullable", "metadata")
            }
        if isinstance(node, list):
            return [strip(x) for x in node]
        return node

    return json.dumps(strip(json.loads(schema_str)), sort_keys=True)


def read_delta_changes(
    spark: SparkSession,
    path: str,
    start_version: int,
    end_version: int | None = None,
) -> DataFrame:
    """Row-level changes in ``[start_version, end_version]`` — the CDC
    primitive an incremental 100 TB consumer needs: read ONLY what a
    commit touched instead of diffing full snapshots.

    Computed from add/remove actions (the Delta spec's own fallback
    semantics for insert-only/delete-only commits), refined with
    deletion-vector diffs so a DV update yields exactly the rows it
    deleted (or restored), not a whole-file churn:

    - new file (dataChange)            -> its live rows as ``insert``
    - retired file (dataChange)        -> its previously-live rows as
      ``delete``
    - same file, DV changed            -> rows in (new minus old) as
      ``delete``; rows in (old minus new) as ``insert`` (restore)
    - ``dataChange=false`` actions (compaction/optimize rewrites) are
      layout moves, not changes: skipped entirely.

    Output: the table columns plus ``_change_type``, ``_commit_version``
    and ``_commit_timestamp`` (commitInfo timestamp, else the commit
    file's mtime). Commits carrying writer-materialized ``cdc`` actions
    (delta-spark UPDATE/MERGE/DELETE on a CDF-enabled table, or this
    writer's own delete_rows when delta.enableChangeDataFeed=true) are
    served FROM their change files exclusively — the spec's rule; their
    add/remove actions advance state but contribute no derived rows, so
    nothing double-counts. Change-file rows pass their ``_change_type``
    through verbatim, so ``update_preimage``/``update_postimage`` appear
    for foreign updates; commits WITHOUT cdc actions derive
    'insert'|'delete' as below (this writer's own appends/overwrites
    never need change files — their add/remove derivation is exact).

    Refuses on schema / partitioning / column-mapping changes inside a
    window that produces rows (per-commit schemas would otherwise union
    incoherently): split the read at the schema-change commit.

    Scale shape: one ``_TableRead.scan`` per (commit, change class)
    over ONLY the changed files, under the window's one schema view and
    the main reader's layout rule — one relation per change class on
    hive-layout tables, however many partitions the class spans; DV
    diffs filter that scan with the main reader's position relation
    and route bound. Driver-side state is the file/DV descriptors, plus
    the decoded positions when they are at or below MAX_DV_POSITIONS —
    the main reader's contract.
    """
    base = _local(path)
    log = _Log(path)
    latest = log.latest()
    end = latest if end_version is None else end_version
    if not (0 <= start_version <= end <= latest):
        raise ValueError(
            f"invalid change window [{start_version}, {end}] "
            f"(latest commit: {latest})"
        )
    state = (
        log.replay(spark, start_version - 1)
        if start_version > 0
        else TableState()
    )

    def _key(meta):
        return (
            _schema_identity(meta["schemaString"]),
            meta["schemaString"],
            tuple(meta.get("partitionColumns") or []),
            _column_mapping_mode(meta),
        )

    branches: list[tuple] = []
    # schema key -> a metaData carrying it, for every schema the
    # window's change classes read files under
    window: dict[tuple, dict] = {}
    files: dict[str, dict] = {}  # every file the window reads
    for v in range(start_version, end + 1):
        if v not in log.commits:
            raise ValueError(
                f"commit {v} is missing from {log.dir} (cleaned up?) — "
                "row-level changes for it are unrecoverable"
            )
        actions = list(log.actions(v))
        cdc_files = {
            urllib.parse.unquote(a["cdc"]["path"]): (
                a["cdc"].get("partitionValues") or {}
            )
            for a in actions
            if "cdc" in a
        }
        meta_before = state.metadata
        inserted, deleted, dv_changed = _diff_commit(state, actions)
        state.version = v
        ts_ms = log.info(v, actions)["timestamp"]
        if cdc_files:
            # cdc actions are AUTHORITATIVE for their commit (the
            # spec's rule): serve the change files, ignore derivation —
            # deriving too would double-count
            assert state.metadata is not None
            window.setdefault(_key(state.metadata), state.metadata)
            files.update(cdc_files)
            branches.append((v, ts_ms, None, None, None, cdc_files))
            continue
        if not (inserted or deleted or dv_changed):
            continue
        assert state.metadata is not None
        # each change class reads files written under a specific schema:
        # inserts under the post-commit one, deletes/DV-diffs under the
        # pre-commit one (those files predate this commit)
        if inserted:
            window.setdefault(_key(state.metadata), state.metadata)
        if deleted or dv_changed:
            assert meta_before is not None
            window.setdefault(_key(meta_before), meta_before)
        for changed in (inserted, deleted, dv_changed):
            files.update({rel: c[0] for rel, c in changed.items()})
        branches.append((v, ts_ms, inserted, deleted, dv_changed, None))

    change_cols = [
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
        T.StructField("_commit_timestamp", T.TimestampType()),
    ]
    if not branches:
        if state.metadata is None:
            raise ValueError(f"no metaData action found in {log.dir}")
        tr = _TableRead(spark, path, state)
        return spark.createDataFrame(
            [], T.StructType(list(tr.schema) + change_cols)
        )

    if len({(sid, pc, mm) for sid, _, pc, mm in window}) > 1:
        raise NotImplementedError(
            "schema / partitioning / column-mapping changed inside the "
            "change window (nullability-insensitive compare); split the "
            "read at the metadata-change commit"
        )
    tr = _TableRead(
        spark, path, state, meta=next(iter(window.values())), files=files
    )
    out: list[DataFrame] = []
    for v, ts_ms, inserted, deleted, dv_changed, cdc_files in branches:
        commit_cols = [
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(int(ts_ms))).alias("_commit_timestamp"),
        ]
        if cdc_files:
            out.append(
                tr.scan(sorted(cdc_files), live=False, ids=False, cdc=True)
                .select("*", *commit_cols)
            )
            continue
        # (change type, files, the deletion-vector filters its rows
        # pass in order): a DV diff deletes the rows in (new minus old)
        # and restores, when an old vector existed, (old minus new)
        classes = []
        if inserted:
            new = {r: dv for r, (_, dv) in inserted.items()}
            classes.append(("insert", new, [(new, "left_anti")]))
        if deleted:
            old = {r: dv for r, (_, dv) in deleted.items()}
            classes.append(("delete", old, [(old, "left_anti")]))
        if dv_changed:
            old = {r: o for r, (_, o, _) in dv_changed.items()}
            new = {r: nw for r, (_, _, nw) in dv_changed.items()}
            classes.append(
                ("delete", new, [(new, "left_semi"), (old, "left_anti")])
            )
            if any(old.values()):
                classes.append(
                    ("insert", old, [(old, "left_semi"), (new, "left_anti")])
                )
        for ctype, changed, dv_filters in classes:
            df = tr.scan(sorted(changed), live=False)
            for dvs, how in dv_filters:
                present = {r: d for r, d in dvs.items() if d}
                df = _apply_dv_filter(
                    spark, df, base, _dv_verify(base, present),
                    list(present), how,
                )
            out.append(
                df.drop("__file", "__pos").select(
                    "*", F.lit(ctype).alias("_change_type"), *commit_cols
                )
            )
    return functools.reduce(DataFrame.unionByName, out)


def latest_version(path: str) -> int:
    """Newest commit version present in the log (no replay)."""
    return _Log(path).latest()


# ---- OPTIMIZE (bin-packing compaction + Z-order clustering) --------------


def set_cluster_by(
    spark: SparkSession, path: str, columns: list[str]
) -> int:
    """ALTER TABLE ... CLUSTER BY (r11, the clusteredTable feature):
    record the clustering columns in the ``delta.clustering`` domain —
    PHYSICAL names under columnMapping, as the protocol stores them —
    and upgrade the protocol to list clusteredTable (+ its
    domainMetadata dependency). ``optimize()`` then defaults its
    Z-order rewrite to these columns, so a plain OPTIMIZE call is a
    clustering rewrite, delta-spark's contract. Pass ``[]`` to remove
    the clustering spec (CLUSTER BY NONE). Returns the committed
    version."""
    tw = _TableWrite(spark, path, "set_cluster_by")
    bad = [c for c in columns if c not in tw.logical_to_phys]
    if bad:
        raise ValueError(f"cluster-by columns not in schema: {bad}")
    in_part = [c for c in columns if c in tw.state.partition_columns]
    if in_part:
        raise ValueError(
            f"cluster-by columns {in_part} are partition columns — "
            "constant within every file, nothing to cluster"
        )
    tw.features |= {"clusteredTable", "domainMetadata"}
    tw.actions.append({
        "domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps(
                # physical names, nested-path arrays — the protocol's
                # stored form (top-level columns only here: nested
                # clustering keys don't exist in this engine's tables)
                {"clusteringColumns": [
                    [tw.logical_to_phys[c]] for c in columns
                ]}
            ),
            "removed": False,
        }
    })
    return tw.commit(
        "CLUSTER BY", {"clusteringColumns": json.dumps(list(columns))}
    )


def cluster_columns(spark: SparkSession, path: str) -> list[str]:
    """The table's clustering columns as LOGICAL names ([] when not a
    clustered table) — the delta.clustering domain's stored physical
    names translated back through the schema."""
    tr = _TableRead(spark, path, replay_log(spark, path))
    domain = tr.state.domains.get("delta.clustering")
    if not domain or domain.get("removed"):
        return []
    stored = json.loads(domain.get("configuration") or "{}").get(
        "clusteringColumns"
    ) or []
    phys_to_logical = {p: c for c, p in tr.logical_to_phys.items()}
    out = []
    for parts in stored:
        name = parts[0] if isinstance(parts, list) else parts
        out.append(phys_to_logical.get(name, name))
    return out


def read_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table's rows (logical schema) plus ``_row_id`` and
    ``_row_commit_version`` resolved per the rowTracking protocol rule:
    a file's materialized shadow-column value when non-null (written by
    row-id-preserving OPTIMIZE), else baseRowId + position within the
    file / defaultRowCommitVersion. Deletion vectors apply as in the
    normal reader, and a surviving row keeps the id it was assigned at
    ingest — across deletes, compactions and Z-ORDER rewrites.

    Plan shape: ``read_delta_lite``'s scan plus one broadcast join
    against a one-row-per-file descriptor frame — no per-file plan
    growth. Refuses tables where some file carries NO assignment and NO
    materialized ids (foreign writer that ignored the feature)."""
    tr = _TableRead(spark, path, replay_log(spark, path, version))
    if not tr.rels:
        return spark.createDataFrame([], T.StructType(
            list(tr.schema.fields)
            + [
                T.StructField("_row_id", T.LongType()),
                T.StructField("_row_commit_version", T.LongType()),
            ]
        ))
    for rel in tr.rels:
        extras = tr.state.adds.get(rel) or {}
        if "baseRowId" not in extras and tr.config.get(
            _MAT_ROW_ID_KEY
        ) is None:
            raise ValueError(
                f"file {rel!r} carries no baseRowId and the table "
                "configures no materialized row-id column — row ids "
                "are undefined (was rowTracking ever enabled?)"
            )
    return tr.scan(tr.rels, row_ids=True, ids=False).withColumnsRenamed({
        tr.rows.rid_col: "_row_id",
        tr.rows.rcv_col: "_row_commit_version",
    })


def optimize(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> dict:
    """Rewrite the table's physical layout without changing its rows:
    small files bin-pack toward ``target_file_bytes`` per partition, and
    with ``zorder_by`` every partition rewrites clustered on the Morton
    curve of those (logical) columns (operators/layout.py — the
    OPTIMIZE ZORDER composition). On a CLUSTERED table (set_cluster_by /
    the clusteredTable feature) a plain call defaults ``zorder_by`` to
    the declared clustering columns — delta-spark's contract that
    OPTIMIZE on a clustered table IS the clustering rewrite. Deletion vectors are MATERIALIZED:
    rewritten files carry only live rows and drop their DVs.

    The commit is remove+add with ``dataChange=false`` — invisible to
    the change feed (read_delta_changes skips it, by test), snapshots
    identical before and after, and the retired files stay on disk for
    time travel until a cleanup. At 100 TB this is the small-files
    remedy: scans pay per-file open cost and footer round trips, so a
    drip-fed table degrades until someone compacts it.

    rowTracking tables rewrite row-ID-PRESERVINGLY (r11): each row's
    resolved identity (its file's materialized shadow-column value when
    non-null, else baseRowId + position) is written into the protocol's
    materialized row-id / row-commit-version columns — named by the
    ``delta.rowTracking.materializedRowIdColumnName`` /
    ``...RowCommitVersionColumnName`` configuration, created on first
    use — and the rewritten adds take fresh baseRowId ranges from the
    ``delta.rowTracking`` domain watermark (delta-spark's scheme: the
    materialized values override the per-file defaults, so logical row
    ids survive merging and reordering; ``read_row_ids`` pins it).
    Derived stats/tags are droppable. Only same-partitionValues files
    ever merge. Returns ``{"version", "rewritten", "added"}`` (version
    None = nothing to do).
    """
    with _TableWrite(spark, path, "optimize") as tw:
        state = tw.state
        if zorder_by is None:
            # clusteredTable writer obligation (r11): a plain OPTIMIZE on
            # a clustered table IS a clustering rewrite on the declared
            # columns (set_cluster_by / the delta.clustering domain)
            domain = state.domains.get("delta.clustering")
            if domain and not domain.get("removed"):
                phys_to_logical = {
                    p: c for c, p in tw.logical_to_phys.items()
                }
                cols = [
                    phys_to_logical.get(p, p)
                    for p in (
                        s[0] if isinstance(s, list) else s
                        for s in json.loads(
                            domain.get("configuration") or "{}"
                        ).get("clusteringColumns") or []
                    )
                ]
                if cols:
                    zorder_by = cols
        if zorder_by:
            bad = [c for c in zorder_by if c not in tw.logical_to_phys]
            if bad:
                raise ValueError(f"zorder_by columns not in schema: {bad}")
            in_part = [c for c in zorder_by if c in state.partition_columns]
            if in_part:
                raise ValueError(
                    f"zorder_by columns {in_part} are partition columns — "
                    "they are constant within every rewrite group"
                )

        sizes = {
            rel: int((state.adds.get(rel) or {}).get("size", 0))
            for rel in state.files
        }
        # fall back to the filesystem when the add didn't carry size
        for rel in sizes:
            if sizes[rel] <= 0:
                try:
                    sizes[rel] = os.path.getsize(os.path.join(tw.base, rel))
                except OSError:
                    sizes[rel] = 0

        by_part: dict[tuple, list[str]] = {}
        for rel, pvals in state.files.items():
            key = tuple(sorted((pvals or {}).items()))
            by_part.setdefault(key, []).append(rel)

        groups: list[list[str]] = []  # same-partitionValues rewrites
        for _key, rels in sorted(by_part.items()):
            if zorder_by:
                groups.append(sorted(rels))
                continue
            small = sorted(
                r for r in rels
                if sizes[r] < target_file_bytes or r in state.dvs
            )
            # bin-pack: rewrite when something merges or a DV materializes
            if len(small) >= 2 or any(r in state.dvs for r in small):
                groups.append(small)

        if not groups:
            return {"version": None, "rewritten": 0, "added": 0}

        # row-ID-PRESERVING rewrite (r11): each row's resolved identity
        # (materialized value, else baseRowId + position) is written
        # into the protocol's materialized shadow columns — invisible to
        # normal reads (every reader scans with the table schema, so
        # parquet prunes them). The rewritten adds then take FRESH
        # baseRowId ranges (delta-spark's scheme: the materialized
        # values override the defaults, so logical ids survive any
        # reordering or merging)
        if not tw.rows.on and any(
            k in (state.adds.get(rel) or {})
            for rels in groups
            for rel in rels
            for k in ("baseRowId", "defaultRowCommitVersion")
        ):
            # ids without the feature: a foreign anomaly this writer
            # cannot rewrite protocol-correctly (no feature, no config
            # keys)
            raise NotImplementedError(
                "optimize would rewrite files carrying baseRowId/"
                "defaultRowCommitVersion on a table whose protocol does "
                "not list rowTracking — cannot preserve row identity "
                "without the feature's materialized-column machinery"
            )
        for rels in groups:
            # data columns only: the rewrite takes partitionValues from
            # the log, so any file layout compacts
            df = tw.scan(rels, row_ids=tw.rows.on, ids=False, parts=False)
            n_out = max(1, -(-sum(sizes[r] for r in rels) // target_file_bytes))
            if zorder_by:
                from lcr_etl_upgrade_spark.operators.layout import (
                    optimize_layout,
                )

                df = optimize_layout(df, zorder_by, n_out, bits=zorder_bits)
            # rewritten files land in the group's own hive directory, so
            # the layout invariant every reader fast-path relies on holds
            tw.stage_rows(
                df,
                "optimize",
                group=rels,
                row_ids=tw.rows.on,
                n_files=None if zorder_by else n_out,
                data_change=False,
            )
            tw.actions.extend(
                _remove_action(state, rel, tw.now_ms, data_change=False)
                for rel in rels
            )
        n_added = sum(1 for a in tw.actions if "add" in a)
        n_removed = sum(1 for a in tw.actions if "remove" in a)
        version = tw.commit(
            "OPTIMIZE",
            {
                "targetFileBytes": int(target_file_bytes),
                "zorderBy": list(zorder_by or []),
            },
            lambda adds, removes: {
                "numRemovedFiles": str(removes),
                "numAddedFiles": str(adds),
            },
        )
    return {"version": version, "rewritten": n_removed, "added": n_added}


# ---------------------------------------------------------------------------
# ALTER TABLE commands (round 12): pure-metadata schema/constraint
# changes. None of these touches a data file — add/rename/drop column
# are one metaData commit (rename/drop REQUIRE column mapping, the
# protocol's rule: physical parquet names must stay resolvable), and
# ADD CONSTRAINT validates the EXISTING rows first (one scan), which
# delta-spark also requires — an unvalidated constraint would make
# every later rewrite of an old file fail retroactively.
# ---------------------------------------------------------------------------


def _identifier_referenced(name: str, sql: str) -> bool:
    """Crude-but-safe word-boundary check for a column identifier in a
    constraint / generation expression. Errs toward refusal."""
    return re.search(
        rf"(?i)(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_`])", sql
    ) is not None


def _schema_references(
    schema: T.StructType, metadata: dict, name: str
) -> list[str]:
    """Human-readable list of constraint/generated-column expressions
    that reference ``name``."""
    refs = []
    for key, sql in (metadata.get("configuration") or {}).items():
        if key.startswith("delta.constraints.") and _identifier_referenced(
            name, sql
        ):
            refs.append(f"CHECK constraint {key.split('.', 2)[2]!r} ({sql!r})")
    for gname, gexpr in _generated_columns(schema):
        if gname != name and _identifier_referenced(name, gexpr):
            refs.append(f"generated column {gname!r} ({gexpr!r})")
    return refs


def add_columns(
    spark: SparkSession, path: str, fields: list[T.StructField]
) -> int:
    """ALTER TABLE ... ADD COLUMNS: extend the schema with nullable
    columns in one metaData commit; every existing file reads them as
    null. Same gates as merge_schema appends: case clashes refuse, as
    do new columns carrying invariants / identity / generation
    metadata (existing rows would retroactively violate them) and
    non-nullable fields. Under column mapping new fields draw fresh
    ids above maxColumnId. Returns the committed version."""
    if not fields:
        raise ValueError("add_columns needs at least one field")
    tw = _TableWrite(spark, path, "add_columns")
    state = tw.state
    schema = state.schema
    mapping = tw.mapping
    existing = {f.name for f in schema.fields}
    first_lower: dict[str, str] = {}
    for c in existing:
        first_lower.setdefault(c.lower(), c)
    for f in fields:
        if f.name in existing:
            raise ValueError(f"column {f.name!r} already exists")
        if f.name.lower() in first_lower:
            raise ValueError(
                f"new column {f.name!r} differs only in case from "
                f"existing column {first_lower[f.name.lower()]!r}"
            )
        if not f.nullable:
            raise ValueError(
                f"new column {f.name!r} is non-nullable; existing rows "
                "could not be distinguished from the nulls they read as"
            )
    probe = T.StructType(list(fields))
    if (
        _schema_declares_invariants(probe)
        or _identity_columns(probe)
        or _generated_columns(probe)
    ):
        raise ValueError(
            "new columns carry delta.invariants, delta.identity, or "
            "delta.generationExpression metadata; existing rows read "
            "them as null and would retroactively violate them — add "
            "the column, backfill, then add the obligation"
        )
    new_schema = T.StructType(list(schema.fields) + list(fields))
    meta_out = dict(state.metadata)
    if mapping != "none":
        cfg = dict(meta_out.get("configuration") or {})
        prior_max = max(
            int(cfg.get("delta.columnMapping.maxColumnId", 0)),
            _max_mapped_id(schema),
        )
        counter = [prior_max + 1]
        new_schema = _mapped_schema(new_schema, schema, counter)
        # table configuration is a string -> string map
        cfg["delta.columnMapping.maxColumnId"] = str(
            max(_max_mapped_id(new_schema), prior_max)
        )
        meta_out["configuration"] = cfg
    meta_out["schemaString"] = new_schema.json()
    tw.set_metadata(meta_out)
    return tw.commit(
        "ADD COLUMNS", {"columns": json.dumps([f.name for f in fields])}
    )


def rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN: a pure-metadata rename — the
    field keeps its columnMapping id and physicalName, so every
    existing parquet file stays resolvable and TIME TRAVEL still reads
    the old name at old versions. REQUIRES column mapping (the
    protocol's rule: without it the logical name IS the parquet name).
    Refuses when a CHECK constraint or generated-column expression
    references the old name (drop/redefine those first, as delta-spark
    requires). Returns the committed version."""
    tw = _TableWrite(spark, path, "rename_column")
    state = tw.state
    if tw.mapping not in ("name", "id"):
        raise NotImplementedError(
            "RENAME COLUMN requires delta.columnMapping.mode name/id "
            "(without mapping the logical name is the physical parquet "
            "name); enable column mapping first"
        )
    schema = state.schema
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    lower = {c.lower() for c in names if c != old}
    if new.lower() in lower:
        raise ValueError(
            f"new name {new!r} differs only in case from an existing "
            "column"
        )
    refs = _schema_references(schema, state.metadata, old)
    if refs:
        raise ValueError(
            f"column {old!r} is referenced by {'; '.join(refs)} — drop "
            "or redefine those first"
        )
    new_fields = [
        T.StructField(
            new if f.name == old else f.name,
            f.dataType,
            f.nullable,
            f.metadata,
        )
        for f in schema.fields
    ]
    meta_out = dict(state.metadata)
    meta_out["schemaString"] = T.StructType(new_fields).json()
    if old in (state.partition_columns or []):
        meta_out["partitionColumns"] = [
            new if c == old else c for c in state.partition_columns
        ]
    tw.set_metadata(meta_out)
    return tw.commit(
        "RENAME COLUMN", {"oldColumnPath": old, "newColumnPath": new}
    )


def drop_column(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN: pure-metadata drop — the physical
    parquet data stays on disk (time travel still reads it at old
    versions) but the column leaves the schema. REQUIRES column
    mapping; a column re-added later under the SAME logical name draws
    a FRESH id and physical name, so it never resurrects the dropped
    data (the protocol's rule). Refuses for partition columns, columns
    referenced by constraints / generated columns, and the last
    remaining column. Returns the committed version."""
    tw = _TableWrite(spark, path, "drop_column")
    state = tw.state
    if tw.mapping not in ("name", "id"):
        raise NotImplementedError(
            "DROP COLUMN requires delta.columnMapping.mode name/id "
            "(without mapping, readers would resolve the physical "
            "column by its logical name again); enable mapping first"
        )
    schema = state.schema
    names = [f.name for f in schema.fields]
    if name not in names:
        raise ValueError(f"no column {name!r} in {names}")
    if name in (state.partition_columns or []):
        raise ValueError(
            f"column {name!r} is a partition column; repartition via "
            "overwrite instead"
        )
    if len(names) == 1:
        raise ValueError("cannot drop the last remaining column")
    refs = _schema_references(schema, state.metadata, name)
    if refs:
        raise ValueError(
            f"column {name!r} is referenced by {'; '.join(refs)} — drop "
            "or redefine those first"
        )
    meta_out = dict(state.metadata)
    meta_out["schemaString"] = T.StructType(
        [f for f in schema.fields if f.name != name]
    ).json()
    tw.set_metadata(meta_out)
    return tw.commit("DROP COLUMNS", {"columns": json.dumps([name])})


def add_check_constraint(
    spark: SparkSession, path: str, name: str, sql: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT: validate the EXISTING rows (one
    scan — a row violates when the expression is not <=> TRUE,
    delta-spark's null-violates semantics), then commit the
    ``delta.constraints.<name>`` configuration, upgrading the writer
    protocol to cover checkConstraints (legacy tier 3, or the feature
    on v7 tables). Every later write enforces it via the staging-write
    observer. Returns the committed version."""
    tw = _TableWrite(spark, path, "add_check_constraint")
    state = tw.state
    key = f"delta.constraints.{name.lower()}"
    cfg = dict((state.metadata or {}).get("configuration") or {})
    if key in cfg:
        raise ValueError(f"constraint {name!r} already exists")
    live = read_delta_lite(spark, path)
    try:
        bad = live.filter(
            ~F.expr(sql).eqNullSafe(F.lit(True))
        ).count()
    except Exception as exc:
        raise ValueError(
            f"constraint expression {sql!r} does not analyze against "
            f"the table schema: {exc}"
        ) from exc
    if bad:
        raise ValueError(
            f"{bad} existing row(s) violate {sql!r}; backfill first "
            "(delta-spark refuses unvalidated constraints too)"
        )
    cfg[key] = sql
    meta_out = dict(state.metadata)
    meta_out["configuration"] = cfg
    tw.set_metadata(meta_out)
    proto = state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    if int(proto.get("minWriterVersion", 2)) < 3:
        # a legacy table moves up one tier, not to table features
        tw.actions.append({"protocol": {**proto, "minWriterVersion": 3}})
    else:
        tw.features.add("checkConstraints")
    return tw.commit(
        "ADD CONSTRAINT", {"name": name.lower(), "expr": sql}
    )


def drop_check_constraint(
    spark: SparkSession, path: str, name: str
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT. Returns the committed
    version."""
    tw = _TableWrite(spark, path, "drop_check_constraint")
    state = tw.state
    key = f"delta.constraints.{name.lower()}"
    cfg = dict((state.metadata or {}).get("configuration") or {})
    if key not in cfg:
        raise ValueError(f"no constraint {name!r} on {path!r}")
    cfg.pop(key)
    meta_out = dict(state.metadata)
    meta_out["configuration"] = cfg
    tw.set_metadata(meta_out)
    return tw.commit("DROP CONSTRAINT", {"name": name.lower()})


# Properties whose ENABLING value obligates a table feature the commit
# must also declare (delta-spark's SET TBLPROPERTIES does the same
# implicit protocol upgrade; _protocol_with decides reader+writer vs
# writer-only and whether the table already has it).
_PROPERTY_FEATURES: dict[str, tuple[str, str]] = {
    "delta.enablechangedatafeed": ("true", "changeDataFeed"),
    "delta.enabledeletionvectors": ("true", "deletionVectors"),
    "delta.appendonly": ("true", "appendOnly"),
    "delta.checkpointpolicy": ("v2", "v2Checkpoint"),
}


def set_table_properties(
    spark: SparkSession,
    path: str,
    set_props: dict[str, str] | None = None,
    unset: tuple[str, ...] | list[str] = (),
) -> int:
    """ALTER TABLE ... SET/UNSET TBLPROPERTIES (r13): one metaData
    commit updating the table configuration. Completes the ALTER family
    — and is the public enablement path for the feature-gated write
    behaviors (``delta.enableChangeDataFeed`` for CDF writes,
    ``delta.enableDeletionVectors`` for update_rows' DV path,
    ``delta.appendOnly``, ``delta.checkpointPolicy=v2``): enabling one
    of those upgrades the protocol to carry its feature in the same
    commit, exactly as delta-spark's SET TBLPROPERTIES does implicitly.

    Refusals (each names the right tool): ``delta.columnMapping.*``
    (mode changes are a migration, not a property set),
    ``delta.constraints.*`` (add_check_constraint validates existing
    rows first), ``delta.enableRowTracking`` (enablement requires a
    baseRowId backfill this command does not perform — write the table
    with row tracking instead). Returns the committed version."""
    return _set_properties(
        _TableWrite(spark, path, "set_table_properties"),
        dict(set_props or {}),
        unset,
    )


def _set_properties(tw: _TableWrite, set_props: dict, unset) -> int:
    """set_table_properties' commit on an already-built context."""
    cfg = dict(tw.config)
    for key in list(set_props) + list(unset):
        low = key.lower()
        if low.startswith("delta.columnmapping."):
            raise NotImplementedError(
                f"{key!r}: column-mapping mode changes are a table "
                "migration, not a property set — create the table with "
                "column_mapping= instead"
            )
        if low.startswith("delta.constraints."):
            raise ValueError(
                f"{key!r}: use add_check_constraint / "
                "drop_check_constraint (constraints must validate "
                "existing rows)"
            )
        if low == "delta.enablerowtracking":
            raise NotImplementedError(
                f"{key!r}: enabling row tracking on an existing table "
                "requires a baseRowId backfill; write the table with "
                "row tracking from the start instead"
            )
    for key in unset:
        # delta-spark's UNSET is lenient about absent keys; matching
        # case-insensitively would mutate keys we don't own, so exact
        cfg.pop(key, None)
    cfg.update({str(k): str(v) for k, v in set_props.items()})
    for k, v in set_props.items():
        value, feature = _PROPERTY_FEATURES.get(k.lower(), (None, None))
        if str(v).lower() == value:
            tw.features.add(feature)
    tw.set_metadata({**tw.state.metadata, "configuration": cfg})
    return tw.commit(
        "SET TBLPROPERTIES" if set_props else "UNSET TBLPROPERTIES",
        {
            "properties": json.dumps(set_props)
            if set_props
            else json.dumps(sorted(unset)),
        },
    )


def table_detail(spark: SparkSession, path: str) -> dict:
    """DESCRIBE DETAIL parity: one dict from the replayed state —
    format/id/name/description, location, created/modified times,
    partition columns, active file count and total bytes, table
    properties, protocol versions and features, clustering columns.
    Pure metadata plus the add-action sizes already in the log; no data
    file is opened."""
    log = _Log(path)
    state = log.replay(spark)
    meta = state.metadata or {}
    cfg = dict(meta.get("configuration") or {})
    proto = state.protocol or {}
    created = log.info(0)["timestamp"] if 0 in log.commits else None
    last_modified = (
        log.info(max(log.commits))["timestamp"] if log.commits else None
    )
    sizes = 0
    for rel in state.files:
        extras = state.adds.get(rel) or {}
        s = extras.get("size")
        if s is None:
            try:
                s = os.path.getsize(os.path.join(_local(path), rel))
            except OSError:
                s = 0
        sizes += int(s)
    clustering = None
    dom = state.domains.get("delta.clustering")
    if dom and not dom.get("removed"):
        try:
            clustering = json.loads(dom.get("configuration") or "{}").get(
                "clusteringColumns"
            )
        except Exception:
            clustering = None
    return {
        "format": "delta",
        "id": meta.get("id"),
        "name": meta.get("name"),
        "description": meta.get("description"),
        "location": os.path.abspath(_local(path)),
        "createdAt": created,
        "lastModified": last_modified,
        "partitionColumns": list(state.partition_columns or []),
        "clusteringColumns": clustering,
        "numFiles": len(state.files),
        "sizeInBytes": sizes,
        "properties": cfg,
        "minReaderVersion": proto.get("minReaderVersion"),
        "minWriterVersion": proto.get("minWriterVersion"),
        "tableFeatures": sorted(
            set(proto.get("readerFeatures") or ())
            | set(proto.get("writerFeatures") or ())
        ),
        "version": state.version,
    }


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_schema: T.StructType | None = None,
) -> int:
    """CONVERT TO DELTA: generate a transaction log IN PLACE for an
    existing parquet directory — no data file is read row-wise, moved,
    or rewritten (footer peeks only, for schema and stats), which is
    the entire point at 100 TB: onboarding a parquet lake into the
    transactional world costs metadata, not a copy.

    - flat directories convert as-is; hive-partitioned layouts need
      ``partition_schema`` declaring the partition columns and their
      types (delta-spark's requirement too — directory names cannot be
      typed reliably on their own);
    - every ``*.parquet`` file under the root (excluding ``_delta_log``
      and files starting with ``_`` or ``.``) becomes an add action
      with size, modificationTime, and footer stats;
    - the data schema comes from Spark's parquet schema inference over
      the directory, partition columns appended from
      ``partition_schema``;
    - refuses when a ``_delta_log`` already exists.

    Returns the committed version (0)."""
    base = _local(path)
    if os.path.isdir(_log_dir(path)) and _Log(path).versions:
        raise ValueError(
            f"{path!r} already has a _delta_log; CONVERT TO DELTA only "
            "initializes plain parquet directories"
        )
    part_cols = [f.name for f in (partition_schema or T.StructType())]
    rels: list[tuple[str, dict]] = []
    for root, dirs, names in os.walk(base):
        dirs[:] = [
            d for d in dirs if not d.startswith((".", "_"))
        ]
        for name in sorted(names):
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            rel = os.path.relpath(os.path.join(root, name), base)
            pvals = (
                _partition_values_from_rel(rel, part_cols)
                if part_cols
                else {}
            )
            rels.append((rel, pvals))
    if not rels:
        raise ValueError(f"no parquet files under {path!r}")
    if not part_cols:
        hive_like = [
            rel
            for rel, _pv in rels
            if re.search(r"(^|/)[^/=]+=[^/]*/", rel.replace(os.sep, "/"))
        ]
        if hive_like:
            raise ValueError(
                "the directory looks hive-partitioned "
                f"(e.g. {hive_like[0]!r}); pass partition_schema= with "
                "the partition columns and their types — converting "
                "without it would silently drop them"
            )
    if part_cols:
        # segment-exact: a directory token 'aa=1' must NOT satisfy a
        # declared partition column 'a' (substring matching mis-passed
        # suffix-named columns and then mis-extracted values — r13
        # ADVICE low)
        missing = [
            rel
            for rel, pv in rels
            if any(
                not any(
                    seg.startswith(f"{c}=")
                    for seg in rel.replace(os.sep, "/").split("/")[:-1]
                )
                for c in part_cols
            )
        ]
        if missing:
            raise ValueError(
                f"files outside the hive partition layout for "
                f"{part_cols}: {missing[:3]}"
            )
    # schema across ALL footers, not one sample file: schema-evolved
    # directories carry columns only some files have, and delta-spark's
    # CONVERT merges every footer. mergeSchema runs the footer reads as
    # a distributed job (no row data is read); genuinely incompatible
    # footers (int vs string) fail loudly here instead of silently
    # losing columns (r13 ADVICE medium).
    data_schema = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(base, rel) for rel, _pv in rels])
        .schema
    )
    clash = [f.name for f in data_schema.fields if f.name in part_cols]
    if clash:
        raise ValueError(
            f"partition columns {clash} also present inside the parquet "
            "files; a hive layout stores them only in directory names"
        )
    full_schema = T.StructType(
        list(data_schema.fields)
        + list((partition_schema or T.StructType()).fields)
    )
    tw = _TableWrite(spark, path, "convert_to_delta", create=True)
    tw.set_metadata({
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": full_schema.json(),
        "partitionColumns": part_cols,
        "configuration": {},
        "createdTime": tw.now_ms,
    })
    for rel, pvals in rels:
        full = os.path.join(base, rel)
        add = {
            "path": urllib.parse.quote(rel.replace(os.sep, "/"), safe="/="),
            "partitionValues": pvals,
            "size": os.path.getsize(full),
            "modificationTime": int(os.path.getmtime(full) * 1000),
            "dataChange": True,
        }
        stats = _file_stats_json(full)
        if stats is not None:
            add["stats"] = stats
        tw.actions.append({"add": add})
    return tw.commit(
        "CONVERT",
        {"numFiles": str(len(rels)), "partitionedBy": json.dumps(part_cols)},
    )


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY parity: one record per commit, newest first,
    from each commit's commitInfo header (operation, timestamp,
    operationParameters). Commits without one (older tables, foreign
    writers) report operation None with the commit file's mtime — the
    same fallback the change feed uses. Pure metadata: no data files
    are touched."""
    log = _Log(path)
    out: list[dict] = []
    for v in sorted(log.commits, reverse=True):
        info = log.info(v)
        out.append(
            {
                "version": v,
                "timestamp": info["timestamp"],
                "operation": info.get("operation"),
                "operationParameters": info.get("operationParameters"),
                "operationMetrics": info.get("operationMetrics"),
            }
        )
    return out


def restore_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF ``version`` (or TO TIMESTAMP
    AS OF ``timestamp``, resolved by ``version_at_timestamp``; exactly
    one of the two must be given) — revert the
    table's LATEST state to an earlier snapshot with ONE forward commit
    (delta-spark's RestoreTableCommand semantics, re-expressed on the
    public protocol): files in the target snapshot but absent from the
    current one are re-added, files only in the current one are removed,
    and the target ``metaData`` is re-committed when it changed. Every
    action is ``dataChange=true``, so the change feed sees exactly the
    row-level revert, and nothing is deleted from the log — every
    intermediate version stays time-travelable until a later
    ``cleanup_log``/``vacuum`` retires it.

    File identity is ``(path, deletionVector uniqueId)`` — the key the
    log-replay reconciliation itself uses — so a file whose DV changed
    since the target version reverts via remove(current DV) +
    add(target DV) in the same commit, and the re-add carries the
    target's optional add state (stats, tags, rowTracking ids) so a
    restore loses nothing a checkpoint would have to represent.

    Refuses when: the target snapshot references data files or DV blobs
    no longer on disk (vacuumed — committing would leave dangling
    references); the table sets ``delta.appendOnly=true`` (restore
    removes files); the column-mapping mode differs between target and
    current metadata (mapping can never be disabled or switched, per the
    protocol's physical-name stability rule); or the current writer
    protocol demands features this writer does not implement. Restoring
    to the current version (or a byte-identical state) is a no-op and
    commits nothing.

    Returns ``{"version", "added", "removed", "metadata_restored"}``
    (``version`` None = no-op). Scale shape: pure log metadata plus one
    ``os.path.getsize`` per re-added file — no data file is read or
    moved, so a 100 TB revert costs what the log costs.
    """
    if (version is None) == (timestamp is None):
        raise ValueError(
            "pass exactly one of version or timestamp"
        )
    if timestamp is not None:
        version = version_at_timestamp(path, timestamp, allow_future=True)
    tw = _TableWrite(spark, path, "restore_table")
    cur = tw.state
    version = int(version)
    if version > cur.version:
        raise ValueError(
            f"cannot restore {path!r} to version {version}: latest is "
            f"{cur.version} (restore only goes backward)"
        )
    tgt = cur if version == cur.version else replay_log(
        spark, path, version=version
    )
    cur_map = _column_mapping_mode(cur.metadata)
    tgt_map = _column_mapping_mode(tgt.metadata)
    if cur_map != tgt_map:
        raise ValueError(
            f"restoring {path!r} to version {version} would change "
            f"delta.columnMapping.mode from {cur_map!r} back to "
            f"{tgt_map!r}; the protocol forbids disabling or switching "
            "column mapping once enabled (physical-name stability)"
        )

    cur_ids = {(rel, _dv_uid(cur.dvs.get(rel))) for rel in cur.files}
    tgt_ids = {(rel, _dv_uid(tgt.dvs.get(rel))) for rel in tgt.files}
    to_add = sorted(
        rel for rel in tgt.files
        if (rel, _dv_uid(tgt.dvs.get(rel))) not in cur_ids
    )
    to_remove = sorted(
        rel for rel in cur.files
        if (rel, _dv_uid(cur.dvs.get(rel))) not in tgt_ids
    )
    overlap = set(to_add) & set(to_remove)
    if overlap and str(
        (cur.metadata.get("configuration") or {}).get(
            "delta.enableChangeDataFeed", ""
        )
    ).lower() == "true":
        # same-path DV-changed re-adds are the one restore shape whose
        # add/remove derivation double-counts for CDF readers — the
        # protocol wants change files for it, which this restore does
        # not materialize (delete_rows does; its rows are in hand there)
        raise NotImplementedError(
            f"restoring {path!r} to version {version} reverts deletion "
            f"vectors on {len(overlap)} file(s) of a CDF-enabled table; "
            "that commit shape requires change files this restore does "
            "not write — unset delta.enableChangeDataFeed or use "
            "delta-spark"
        )
    meta_changed = tgt.metadata != cur.metadata
    if not to_add and not to_remove and not meta_changed:
        return {
            "version": None, "added": 0, "removed": 0,
            "metadata_restored": False,
        }

    base = _local(path)
    missing = [
        rel for rel in to_add
        if not os.path.exists(os.path.join(base, rel))
    ]
    if missing:
        raise ValueError(
            f"cannot restore {path!r} to version {version}: data files "
            f"{missing[:5]}{'...' if len(missing) > 5 else ''} referenced "
            "by that snapshot are no longer on disk (vacuumed?); the "
            "restore would commit dangling file references"
        )
    for rel in to_add:
        dv = tgt.dvs.get(rel)
        if dv:
            try:
                _resolve_dv_blob(base, dv)
            except Exception as exc:
                raise ValueError(
                    f"cannot restore {path!r} to version {version}: the "
                    f"deletion vector for {rel!r} at that snapshot is "
                    f"unresolvable ({exc}); was it vacuumed?"
                ) from exc

    if meta_changed:
        tw.meta_out = tgt.metadata
    # removes first, adds second: _apply_action retires a file only when
    # the remove's DV identity matches the tracked one, so either order
    # reconciles to the same state — this one also nets correctly under
    # a naive sequential applier
    tw.actions.extend(_remove_action(cur, rel, tw.now_ms) for rel in to_remove)
    for rel in to_add:
        add = {
            "path": urllib.parse.quote(rel, safe="/="),
            "partitionValues": dict(tgt.files[rel]),
            "size": os.path.getsize(os.path.join(base, rel)),
            "modificationTime": tw.now_ms,
            "dataChange": True,
        }
        if rel in tgt.dvs:
            add["deletionVector"] = tgt.dvs[rel]
        # the target snapshot's optional add state (stats, tags,
        # baseRowId, ...) travels with the re-add — latest-add-wins
        # replay would otherwise erase it relative to the snapshot
        # being restored
        add.update(tgt.adds.get(rel) or {})
        tw.actions.append({"add": add})
    return {
        "version": tw.commit(
            "RESTORE",
            # delta-spark serializes every operationParameters value as
            # a string; history-parsing tools assume that encoding
            {"version": str(version)},
            lambda _adds, _removes: {
                "numRestoredFiles": str(len(to_add)),
                "numRemovedFiles": str(len(to_remove)),
            },
        ),
        "added": len(to_add),
        "removed": len(to_remove),
        "metadata_restored": meta_changed,
    }
