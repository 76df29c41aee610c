"""Minimal Avro Object Container File support from the PUBLIC Avro
specification (avro.apache.org/docs — file container format + binary
encoding) — no spark-avro jar, no avro/fastavro package.

The spark-avro datasource needs a Maven-resolved jar this container
cannot fetch (no network; recorded in COVERAGE.md). The format itself is
open and simple: a header (magic ``Obj\\x01``, metadata map carrying the
writer schema JSON and codec, 16-byte sync marker) followed by data
blocks (row count, byte length, binary-encoded rows, sync marker).

Spark-first split, mirroring ``delta_lite``:
- READ: one driver-side header peek resolves the writer schema to a
  Spark ``StructType``; the files then stream through ``binaryFile`` +
  ``mapInPandas``, each task decoding whole container files (bounded-
  file contract, like ``read_text_documents``). The DECODE loop is
  per-row Python — correct, but orders slower than the JVM datasource;
  at cluster scale the spark-avro jar remains the fast path and every
  error message says so.
- WRITE: ``df.foreachPartition`` writes one container file per non-empty
  partition into the target directory (distributed; local-filesystem
  contract, same as delta_lite) with the schema translated from the
  DataFrame's.

Supported types (both directions): null, boolean, int, long, float,
double, bytes, string, record, array, map, enum (as string symbols) and
fixed (as exact-size binary),
logical date (int days) and timestamp-micros (long). Unions read on
all shapes: ``[null, T]`` is nullable T; multi-branch all-numeric
unions widen along Avro's promotion chain (int->long->float->double);
any other multi-branch union reads as ``string`` with a documented
per-branch rendering (verbatim strings, base64 bytes, canonical JSON
otherwise). The WRITE side emits ``[null, T]`` from Spark schemas, and
``encode_container`` additionally writes MULTI-branch unions with
value-driven branch selection (first matching branch; bool before int,
32-bit range respected, int->float/double promotion as a fallback —
logical-typed branches inside multi-branch unions refuse),
logical date (int days) and timestamp-micros (long). Codecs: ``null``
and ``deflate``, both directions (deflate = raw RFC 1951 block, no
zlib wrapper, per the spec). Anything else raises NotImplementedError
naming the spark-avro remedy.
"""

from __future__ import annotations

import base64
import datetime
import io
import json
import os
import struct
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
_REMEDY = "use the spark-avro datasource (spark.jars.packages) for this"


# ---------------------------------------------------------------- binary --


# A 64-bit zigzag value needs at most 10 varint bytes, and the 10th
# may carry only bit 63. Every decode path (the row decoder, the block
# skipper, the vectorized decoder) rejects anything longer or wider
# with this same error instead of truncating or wrapping it.
_VARINT_OVERFLOW = "avro varint longer than 10 bytes or wider than 64 bits"


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint (the int/long wire format)."""
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        if shift == 63 and b[0] > 1:
            raise ValueError(_VARINT_OVERFLOW)
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_long(out: io.BytesIO, n: int) -> None:
    # out-of-range zigzag is not a bigger varint, it is CORRUPTION: a
    # >64-bit positive emits an out-of-spec >10-byte encoding conforming
    # readers reject, and the `n >> 63` sign fold mis-encodes any
    # negative below -2**63 — refuse loudly on both
    if not -(2**63) <= n < 2**63:
        raise ValueError(
            f"value {n} outside 64-bit range for an avro long varint"
        )
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while True:
        if n & ~0x7F:
            out.write(bytes([(n & 0x7F) | 0x80]))
            n >>= 7
        else:
            out.write(bytes([n]))
            return


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _write_bytes(out: io.BytesIO, data: bytes) -> None:
    _write_long(out, len(data))
    out.write(data)


# ---------------------------------------------------------------- schema --


def _logical(schema: dict) -> str | None:
    return schema.get("logicalType") if isinstance(schema, dict) else None


# Avro's own schema-resolution promotion chain (spec "Schema Resolution"):
# int -> long -> float -> double. A union of numeric branches resolves to
# the widest member.
_NUMERIC_WIDENING = ("int", "long", "float", "double")
_NUMERIC_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
}


def _union_branches(schema: list) -> list:
    return [s for s in schema if s != "null"]


# logical types the decoder TRANSFORMS into non-numeric Python objects
# (date/datetime); every other logicalType is unknown to this reader and
# — per the spec's "ignore unknown logical types" rule, which _decoder
# follows — decodes as its underlying primitive
_TRANSFORMING_LOGICALS = frozenset(
    {"date", "timestamp-micros", "local-timestamp-micros"}
)


def _plain_numeric(s) -> str | None:
    """Branch schema -> primitive numeric name, honoring the spec's
    ``{"type": "long"}`` wrapper form. Branches whose logicalType the
    decoder transforms (date, timestamps -> date/datetime objects) are
    NOT plain numerics; unknown logical types decode as the underlying
    primitive and therefore widen normally."""
    if isinstance(s, dict) and _logical(s) not in _TRANSFORMING_LOGICALS:
        s = s.get("type")
    if isinstance(s, str) and s in _NUMERIC_WIDENING:
        return s
    return None


def _union_numeric_type(schema: list) -> T.DataType | None:
    """Widest Spark type for an all-numeric multi-branch union, else None."""
    branches = [_plain_numeric(s) for s in _union_branches(schema)]
    if all(b is not None for b in branches):
        widest = max(branches, key=_NUMERIC_WIDENING.index)
        return _NUMERIC_SPARK[widest]
    return None


def avro_to_spark_type(schema) -> T.DataType:
    """Avro schema (parsed JSON) -> Spark type.

    Unions: ``[null, T]`` maps to nullable T (the common encoding);
    multi-branch unions have no faithful Spark column type, so they
    resolve by DOCUMENTED rule — all-numeric branches widen along Avro's
    own promotion chain (int->long->float->double), anything else
    becomes ``string`` with per-branch rendering (string branches pass
    through; bytes/fixed render base64; every other branch renders as
    canonical JSON — see ``_union_render``)."""
    if isinstance(schema, str):
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if schema in prim:
            return prim[schema]
        raise NotImplementedError(f"avro type {schema!r}: {_REMEDY}")
    if isinstance(schema, list):
        non_null = _union_branches(schema)
        if len(non_null) == 1:
            return avro_to_spark_type(non_null[0])
        if not non_null:
            return T.NullType()
        return _union_numeric_type(schema) or T.StringType()
    t = schema["type"]
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"], avro_to_spark_type(f["type"]), nullable=True
                )
                for f in schema["fields"]
            ]
        )
    if t == "array":
        return T.ArrayType(avro_to_spark_type(schema["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(schema["values"]))
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    if t == "int" and _logical(schema) == "date":
        return T.DateType()
    if t == "long" and _logical(schema) == "timestamp-micros":
        return T.TimestampType()
    if t == "long" and _logical(schema) == "local-timestamp-micros":
        return T.TimestampNTZType()
    if isinstance(t, (str, list, dict)):
        return avro_to_spark_type(t)  # {"type": "string"} wrapper form
    raise NotImplementedError(f"avro schema {schema!r}: {_REMEDY}")


def spark_to_avro_schema(dt: T.DataType, name: str = "row"):
    prim = {
        T.BooleanType(): "boolean",
        T.IntegerType(): "int",
        T.ShortType(): "int",
        T.ByteType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.BinaryType(): "bytes",
        T.StringType(): "string",
    }
    if dt in prim:
        return prim[dt]
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.StructType):
        return {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": f.name,
                    "type": ["null", spark_to_avro_schema(f.dataType, f.name)],
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "array",
            "items": ["null", spark_to_avro_schema(dt.elementType, name)],
        }
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise NotImplementedError(f"avro maps need string keys: {_REMEDY}")
        return {
            "type": "map",
            "values": ["null", spark_to_avro_schema(dt.valueType, name)],
        }
    raise NotImplementedError(f"no avro mapping for {dt}: {_REMEDY}")


# ---------------------------------------------------------------- decode --


def _jsonable(v):
    """Decoded avro value -> JSON-serializable: bytes to base64, logical
    date/timestamp values to ISO-8601, nested containers recursively
    (record/map keys are already strings)."""
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v


def _union_render(v):
    """String-fallback union rendering (documented rule): null stays
    NULL, string branches pass through verbatim, bytes/fixed render
    base64, logical date/timestamp branches render ISO-8601, everything
    else becomes canonical JSON (sorted keys, no whitespace) — so
    ``["int","string"]`` yields '5' for int 5 and 'five' for the string."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return json.dumps(_jsonable(v), separators=(",", ":"), sort_keys=True)


def _decoder(schema):
    """Compile an avro schema into ``f(BytesIO) -> python value``."""
    if isinstance(schema, str):
        simple = {
            "null": lambda b: None,
            "boolean": lambda b: b.read(1) == b"\x01",
            "int": _read_long,
            "long": _read_long,
            "float": lambda b: struct.unpack("<f", b.read(4))[0],
            "double": lambda b: struct.unpack("<d", b.read(8))[0],
            "bytes": _read_bytes,
            "string": lambda b: _read_bytes(b).decode("utf-8"),
        }
        return simple[schema]
    if isinstance(schema, list):
        subs = [_decoder(s) for s in schema]
        non_null = _union_branches(schema)
        n = len(subs)

        # A corrupt zigzag varint can decode to any long; without the
        # range check a negative index would silently select a branch
        # via Python negative indexing and misdecode instead of failing
        # loudly like every other corrupt-container path in this module.
        def branch(b):
            i = _read_long(b)
            if i < 0 or i >= n:
                raise ValueError(
                    f"avro union branch index {i} out of range 0..{n - 1}"
                )
            return subs[i]

        if len(non_null) > 1 and _union_numeric_type(schema) is None:
            # string-fallback union: the column type is string, so each
            # branch value renders per the documented rule
            def union_str(b):
                return _union_render(branch(b)(b))

            return union_str

        def union(b):
            return branch(b)(b)

        return union
    t = schema["type"]
    if t == "record":
        fields = [(f["name"], _decoder(f["type"])) for f in schema["fields"]]

        def record(b):
            return {name: dec(b) for name, dec in fields}

        return record
    if t == "array":
        item = _decoder(schema["items"])

        def array(b):
            out = []
            while True:
                n = _read_long(b)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(b)  # block byte size: unused when decoding all
                out.extend(item(b) for _ in range(n))

        return array
    if t == "map":
        val = _decoder(schema["values"])

        def mp(b):
            out = {}
            while True:
                n = _read_long(b)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(b)
                for _ in range(n):
                    # key must be read BEFORE the value: in `d[k] = v`
                    # Python evaluates the RHS first, which would consume
                    # the value bytes ahead of the key bytes
                    key = _read_bytes(b).decode("utf-8")
                    out[key] = val(b)
            return out

        return mp
    if t == "enum":
        symbols = schema["symbols"]
        return lambda b: symbols[_read_long(b)]
    if t == "fixed":
        size = schema["size"]
        return lambda b: b.read(size)
    if t == "int" and _logical(schema) == "date":
        import datetime as dt

        epoch = dt.date(1970, 1, 1)
        return lambda b: epoch + dt.timedelta(days=_read_long(b))
    if t == "long" and _logical(schema) in (
        "timestamp-micros",
        "local-timestamp-micros",
    ):
        import datetime as dt

        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return lambda b: (
            epoch + dt.timedelta(microseconds=_read_long(b))
        ).replace(tzinfo=None)
    if isinstance(t, (str, list, dict)):
        return _decoder(t)
    raise NotImplementedError(f"avro schema {schema!r}: {_REMEDY}")


def _read_header(buf: io.BytesIO) -> tuple[dict, str, bytes]:
    """-> (writer schema (parsed), codec, sync marker)."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long(buf)
        for _ in range(n):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec!r}: {_REMEDY}")
    schema = json.loads(meta["avro.schema"])
    return schema, codec, buf.read(16)


def decode_container(data: bytes) -> tuple[dict, list]:
    """One container file -> (writer schema, decoded rows)."""
    buf = io.BytesIO(data)
    schema, codec, sync = _read_header(buf)
    dec = _decoder(schema)
    rows = []
    while buf.tell() < len(data):
        n_rows = _read_long(buf)
        block = _read_bytes(buf)
        if codec == "deflate":
            block = zlib.decompress(block, -15)  # raw DEFLATE per spec
        bb = io.BytesIO(block)
        rows.extend(dec(bb) for _ in range(n_rows))
        if bb.tell() != len(block):
            # count/length disagreement = corruption; silently dropping
            # the excess would decode a truncated row set as success
            raise ValueError(
                f"avro block declared {n_rows} rows but carries "
                f"{len(block) - bb.tell()} undecoded trailing bytes"
            )
        if buf.read(16) != sync:
            raise ValueError("avro block sync marker mismatch")
    return schema, rows


# ----------------------------------------------------- vectorized decode --
#
# The row decoder above is the reference semantics (and the path exotic
# schemas still take), but it pays per-row Python for every field:
# BytesIO reads, lambda dispatch, dict construction, datetime objects.
# For FLAT records of primitive-ish fields the block can be decoded in
# two phases instead (guide: do the heavy lifting in native code):
#
#   1. a compiled "skipper" walks the block once recording each field's
#      byte OFFSET per row (the only sequentially-dependent work — avro
#      varints and length-prefixed strings make offsets data-dependent),
#      touching no values and building no objects;
#   2. numpy gathers and decodes every column in bulk from the offset
#      arrays (vectorized zigzag-varint, strided float views, one
#      gather + offsets array for strings a la Arrow), producing
#      pyarrow arrays directly — no Python value objects ever exist.
#
# Supported: flat records whose fields are boolean/int/long/float/
# double/bytes/string, enum, fixed, date / timestamp-micros logicals,
# and ``["null", T]`` unions of those. Nested records, arrays, maps and
# multi-branch unions fall back to the row decoder.

_VEC_WIDTHS = {"boolean": 1, "float": 4, "double": 8}
_VEC_VARINTS = {"int", "long", "date", "ts", "ts_ntz", "enum"}


def _vec_leaf(s):
    """Non-union schema -> vector kind (str or (kind, extra)) or None."""
    if isinstance(s, str):
        return s if s in (
            "boolean", "int", "long", "float", "double", "bytes", "string"
        ) else None
    if isinstance(s, dict):
        t = s["type"]
        if t == "enum":
            return ("enum", tuple(s["symbols"]))
        if t == "fixed":
            return ("fixed", int(s["size"]))
        if t in ("record", "array", "map"):
            return None
        if t == "int" and _logical(s) == "date":
            return "date"
        if t == "long" and _logical(s) == "timestamp-micros":
            return "ts"
        if t == "long" and _logical(s) == "local-timestamp-micros":
            return "ts_ntz"
        if isinstance(t, (str, dict)):
            # wrapper form / unknown logical: decodes as the underlying
            # primitive (same rule the row decoder follows)
            return _vec_leaf(t)
    return None


def _vec_spec(fs):
    """Field schema -> (kind, n_branches, null_idx, val_idx) or None.
    n_branches is None for a bare (non-union) field."""
    if isinstance(fs, list):
        non_null = _union_branches(fs)
        if len(non_null) != 1:
            return None  # multi-branch / all-null: row path
        kind = _vec_leaf(non_null[0])
        if kind is None:
            return None
        null_idx = fs.index("null") if "null" in fs else None
        return (kind, len(fs), null_idx, fs.index(non_null[0]))
    kind = _vec_leaf(fs)
    return None if kind is None else (kind, None, None, None)


# Per-field skip templates. Offsets are appended to ONE flat
# array('q') (A = out.append): array('q') appends cost the same as
# list appends but the result converts to int64 numpy for free via
# np.frombuffer — np.array() over 200k Python tuples cost ~0.1 s.
# The end-finding walk is the skipper's hot loop (a timestamp-micros
# varint is 8-9 bytes); an unrolled comparison chain beats the
# read-byte/test/increment loop ~25% because each arm is one index +
# compare with no byte store. >10 bytes is out of spec (64-bit zigzag).
_SKIP_VARINT = """\
A(p)
if mv[p] < 128: p += 1
elif mv[p + 1] < 128: p += 2
elif mv[p + 2] < 128: p += 3
elif mv[p + 3] < 128: p += 4
elif mv[p + 4] < 128: p += 5
elif mv[p + 5] < 128: p += 6
elif mv[p + 6] < 128: p += 7
elif mv[p + 7] < 128: p += 8
elif mv[p + 8] < 128: p += 9
elif mv[p + 9] < 128: p += 10
else: raise ValueError(%r)
""" % _VARINT_OVERFLOW

_SKIP_FIXED = """\
A(p)
p += {w}
"""

# fixed-width field whose start is derivable from an earlier recorded
# offset plus a constant — nothing to record
_SKIP_FIXED_DERIVED = """\
p += {w}
"""

# single-byte fast path: lengths < 64 encode in one byte
_SKIP_LENDATA = """\
b = mv[p]
p += 1
if b < 128:
    ln = (b >> 1) ^ -(b & 1)
else:
    acc = b & 127
    sh = 7
    while True:
        b = mv[p]
        p += 1
        acc |= (b & 127) << sh
        if b < 128:
            break
        sh += 7
    ln = (acc >> 1) ^ -(acc & 1)
if ln < 0:
    raise ValueError("negative avro bytes length %d" % ln)
A(p)
A(ln)
p += ln
"""

# union branch index, cold path only: spec-minimal encoders emit one
# byte for any union of <= 64 branches (hot path compares that raw byte
# against the known zigzag constants), but over-long encodings are
# still legal input for the row decoder, so decode fully before
# rejecting
_SKIP_BRANCH_COLD = """\
if b < 128:
    ix = (b >> 1) ^ -(b & 1)
else:
    acc = b & 127
    sh = 7
    while True:
        b = mv[p]
        p += 1
        acc |= (b & 127) << sh
        if b < 128:
            break
        sh += 7
    ix = (acc >> 1) ^ -(acc & 1)
"""


def _compile_skipper(specs):
    """Codegen one Python function that walks a block and returns
    (end_offset, flat array('q') of per-row offset/length slots). The
    generated body inlines every field's skip logic — no per-field
    dispatch, no BytesIO, no value construction."""
    from array import array

    def fixed_width(kind):
        if isinstance(kind, tuple) and kind[0] == "fixed":
            return kind[1]
        return _VEC_WIDTHS.get(kind)

    lines = [
        "def _skip(mv, n_rows):",
        "    p = 0",
        "    out = array('q')",
        "    A = out.append",
        "    for _ in range(n_rows):",
    ]

    def emit(block, indent):
        for ln in block.splitlines():
            lines.append(" " * indent + ln)

    # Flat column layout per row: start_col[i] is either the slot index
    # of the recorded offset, or ("derived", root_field, const_offset)
    # when the field is a fixed-width follower of a recorded
    # non-nullable field (its offset needs no per-row append at all).
    # len_col[i] is the slot of a lendata field's length.
    n_cols = 0
    start_col: list = []
    len_col: dict[int, int] = {}
    # (root_field_idx, byte_offset_from_root) when the CURRENT field's
    # start is a constant distance from an earlier recorded offset
    anchor: tuple[int, int] | None = None
    for i, (kind, n_br, null_idx, val_idx) in enumerate(specs):
        w = fixed_width(kind)
        derived = anchor is not None and w is not None and n_br is None
        if derived:
            start_col.append(("derived", anchor[0], anchor[1]))
        else:
            start_col.append(n_cols)
            n_cols += 1
        if kind in ("bytes", "string"):
            len_col[i] = n_cols
            n_cols += 1

        if kind in _VEC_VARINTS or (
            isinstance(kind, tuple) and kind[0] == "enum"
        ):
            body = _SKIP_VARINT
        elif w is not None:
            body = (
                _SKIP_FIXED_DERIVED if derived else _SKIP_FIXED
            ).format(w=w)
        else:
            body = _SKIP_LENDATA
        if n_br is None:
            emit(body, 8)
        else:
            err = (
                'raise ValueError("avro union branch index %d out of '
                f'range 0..{n_br - 1}" % ix)'
            )
            null_app = ["A(-1)"] + (
                ["A(0)"] if kind in ("bytes", "string") else []
            )
            lines.append("        b = mv[p]")
            lines.append("        p += 1")
            if null_idx is None:
                lines.append(f"        if b == {2 * val_idx}:")
                emit(body, 12)
                lines.append("        else:")
            else:
                lines.append(f"        if b == {2 * val_idx}:")
                emit(body, 12)
                lines.append(f"        elif b == {2 * null_idx}:")
                for app in null_app:
                    lines.append(" " * 12 + app)
                lines.append("        else:")
            # cold path: over-long branch varints are legal input
            emit(_SKIP_BRANCH_COLD, 12)
            if null_idx is not None:
                lines.append(f"            if ix == {null_idx}:")
                for app in null_app:
                    lines.append(" " * 16 + app)
                lines.append(f"            elif ix != {val_idx}:")
                lines.append(" " * 16 + err)
                lines.append("            else:")
                emit(body, 16)
            else:
                lines.append(f"            if ix != {val_idx}:")
                lines.append(" " * 16 + err)
                emit(body, 12)
        # maintain the derivation anchor for the NEXT field: only a
        # non-nullable fixed-width field keeps offsets constant
        if n_br is None and w is not None:
            if derived:
                anchor = (anchor[0], anchor[1] + w)
            else:
                anchor = (i, w)
        else:
            anchor = None
    lines.append("    return p, out")
    ns: dict = {"array": array}
    exec(compile("\n".join(lines), "<avro-skipper>", "exec"), ns)
    return ns["_skip"], start_col, len_col, n_cols


def _vec_varint_values(np, buf, starts, valid):
    """Vectorized zigzag-varint decode at the given start offsets.
    ``valid`` is a bool mask (or None for all-valid); invalid rows
    decode as 0 and are masked out by the caller."""
    n = len(starts)
    acc = np.zeros(n, np.uint64)
    if valid is None:
        idx = starts.copy()
        cont = np.ones(n, bool)
    else:
        idx = np.where(valid, starts, 0)
        cont = valid.copy()
    limit = max(len(buf) - 1, 0)
    shift = np.uint64(0)
    while cont.any():
        b = buf[np.minimum(idx, limit)]
        if shift == np.uint64(63) and (cont & (b > 1)).any():
            raise ValueError(_VARINT_OVERFLOW)
        add = (b & 0x7F).astype(np.uint64) << shift
        acc = np.where(cont, acc | add, acc)
        cont = cont & (b >= 0x80)
        idx = idx + 1
        shift += np.uint64(7)
    return (acc >> np.uint64(1)).astype(np.int64) ^ -(
        (acc & np.uint64(1)).astype(np.int64)
    )


def _vec_gather_fixed(np, buf, starts, valid, width):
    idx = starts if valid is None else np.where(valid, starts, 0)
    return buf[idx[:, None] + np.arange(width)]


def _vec_gather_var(np, buf, starts, lens):
    """Gather scattered (start, len) slices into one contiguous data
    buffer + int32 offsets — the Arrow varbinary layout."""
    cum = np.cumsum(lens, dtype=np.int64)
    total = int(cum[-1]) if len(cum) else 0
    if total >= 1 << 31:
        raise ValueError("avro block string/bytes column exceeds 2 GiB")
    if total:
        prev = np.concatenate((np.zeros(1, np.int64), cum[:-1]))
        gather = np.repeat(starts - prev, lens) + np.arange(total)
        data = buf[gather]
    else:
        data = np.empty(0, np.uint8)
    offsets = np.concatenate((np.zeros(1, np.int64), cum)).astype(np.int32)
    return data, offsets


def _vector_block_decoder(schema):
    """Compile a flat record schema into ``f(block, n_rows) ->
    list[pyarrow.Array]`` plus the arrow output types, or None when any
    field needs the row decoder."""
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    specs = [_vec_spec(f["type"]) for f in schema["fields"]]
    if any(sp is None for sp in specs):
        return None
    import numpy as np
    import pyarrow as pa

    skip, start_col, len_col, n_cols = _compile_skipper(specs)
    atypes = []
    for kind, *_rest in specs:
        if isinstance(kind, tuple):
            atypes.append(pa.utf8() if kind[0] == "enum" else pa.binary())
        else:
            atypes.append(
                {
                    "boolean": pa.bool_(),
                    "int": pa.int32(),
                    "long": pa.int64(),
                    "float": pa.float32(),
                    "double": pa.float64(),
                    "bytes": pa.binary(),
                    "string": pa.utf8(),
                    "date": pa.date32(),
                    "ts": pa.timestamp("us"),
                    "ts_ntz": pa.timestamp("us"),
                }[kind]
            )

    int32_range = (-(1 << 31), (1 << 31) - 1)

    def _varbinary(atype, n, data, offsets, valid):
        # pa.py_buffer wraps the numpy arrays zero-copy (and keeps them
        # alive); .tobytes() would copy the whole data buffer again
        if valid is None:
            vbuf, nulls = None, 0
        else:
            vbuf = pa.py_buffer(np.packbits(valid, bitorder="little"))
            nulls = int(n - valid.sum())
        arr = pa.Array.from_buffers(
            atype,
            n,
            [vbuf, pa.py_buffer(offsets), pa.py_buffer(data)],
            null_count=nulls,
        )
        if atype == pa.utf8():
            arr.validate(full=True)  # C-side utf-8 check (row path decoded)
        return arr

    def extract(i, buf, cols):
        kind, n_br, null_idx, _ = specs[i]
        sc = start_col[i]
        if isinstance(sc, tuple):  # ("derived", root_field, offset)
            starts = cols[:, start_col[sc[1]]] + sc[2]
        else:
            starts = cols[:, sc]
        n = len(starts)
        nullable = n_br is not None and null_idx is not None
        valid = (starts >= 0) if nullable else None
        mask = None if valid is None else ~valid
        if kind == "boolean":
            idx = starts if valid is None else np.where(valid, starts, 0)
            return pa.array(buf[idx] == 1, mask=mask)
        if kind in ("float", "double"):
            w, fmt = (4, "<f4") if kind == "float" else (8, "<f8")
            raw = _vec_gather_fixed(np, buf, starts, valid, w)
            return pa.array(raw.view(fmt).ravel(), mask=mask)
        if isinstance(kind, tuple) and kind[0] == "fixed":
            w = kind[1]
            raw = _vec_gather_fixed(np, buf, starts, valid, w)
            offsets = np.arange(0, (n + 1) * w, w, dtype=np.int64)
            if offsets[-1] >= 1 << 31:
                raise ValueError("avro fixed column exceeds 2 GiB")
            return _varbinary(
                pa.binary(), n, raw.ravel(), offsets.astype(np.int32), valid
            )
        if kind in ("bytes", "string"):
            lens = cols[:, len_col[i]]
            data, offsets = _vec_gather_var(np, buf, starts, lens)
            return _varbinary(
                pa.utf8() if kind == "string" else pa.binary(),
                n, data, offsets, valid,
            )
        vals = _vec_varint_values(np, buf, starts, valid)
        if isinstance(kind, tuple):  # enum
            symbols = kind[1]
            check = vals if valid is None else vals[valid]
            if len(check) and (
                (check < 0).any() or (check >= len(symbols)).any()
            ):
                raise IndexError("avro enum index out of range")
            import pyarrow.compute as pc

            return pc.take(
                pa.array(list(symbols), pa.string()),
                pa.array(vals.astype(np.int32), mask=mask),
            )
        if kind in ("int", "date"):
            check = vals if valid is None else vals[valid]
            if len(check) and (
                (check < int32_range[0]).any() or (check > int32_range[1]).any()
            ):
                raise ValueError("avro int value outside 32-bit range")
            arr = pa.array(vals.astype(np.int32), mask=mask)
            return arr.cast(pa.date32()) if kind == "date" else arr
        arr = pa.array(vals, mask=mask)
        if kind in ("ts", "ts_ntz"):
            return arr.cast(pa.timestamp("us"))
        return arr  # long

    def decode_block(block, n_rows):
        if not isinstance(block, bytes):
            block = bytes(block)
        try:
            p, out = skip(block, n_rows)
        except IndexError:
            raise EOFError("truncated varint") from None
        if p != len(block):
            raise ValueError(
                f"avro block declared {n_rows} rows but carries "
                f"{len(block) - p} undecoded trailing bytes"
            )
        buf = np.frombuffer(block, np.uint8)
        cols = (
            np.frombuffer(out, np.int64).reshape(-1, n_cols)
            if len(out)
            else np.empty((0, n_cols), np.int64)
        )
        return [extract(i, buf, cols) for i in range(len(specs))]

    return decode_block, atypes


# ---------------------------------------------------------------- encode --


def _union_branch_index(schema: list, v) -> int:
    """First multi-branch union member that can carry the Python value
    ``v`` (write-side branch selection; first match wins, mirroring the
    spec's resolution order). Python ``bool`` is tested before ``int``
    (it subclasses int); an int outside 32-/64-bit range skips an
    ``int``/``long`` branch; an int with no fitting integer branch
    promotes to a range-checked float/double branch in a second pass. Logical-typed branches inside MULTI-branch unions are not
    sniffed (a ``[null, T]`` logical branch is — see the caller) and
    fail loudly, as does any unmatched value."""

    def tname(s):
        return s if isinstance(s, str) else s["type"]

    for i, s in enumerate(schema):
        t = tname(s)
        if isinstance(s, dict) and _logical(s):
            continue  # not sniffable; documented refusal below
        if v is None and t == "null":
            return i
        if isinstance(v, bool):
            if t == "boolean":
                return i
            continue
        if isinstance(v, int) and t in ("int", "long"):
            if t == "int" and not -(2**31) <= v < 2**31:
                continue
            # a >64-bit int must skip a 'long' branch too: zigzag of an
            # out-of-range value would emit an out-of-spec >10-byte
            # varint that conforming readers reject or mis-decode
            if t == "long" and not -(2**63) <= v < 2**63:
                continue
            return i
        if isinstance(v, float) and t in ("float", "double"):
            # mirror the int path's range check: a finite value beyond
            # float32 range must skip a 'float' branch so a later
            # 'double' branch can carry it (struct.pack('<f') would
            # raise OverflowError)
            if (
                t == "float"
                and v == v  # not NaN
                and v not in (float("inf"), float("-inf"))
                and not -3.4028234663852886e38 <= v <= 3.4028234663852886e38
            ):
                continue
            return i
        if isinstance(v, str):
            if t == "string":
                return i
            if t == "enum" and v in s.get("symbols", ()):
                return i
            continue
        if isinstance(v, (bytes, bytearray)):
            if t == "bytes":
                return i
            if t == "fixed" and len(v) == s["size"]:
                return i
            continue
        if isinstance(v, dict) and t in ("map", "record"):
            dict_branches = [
                (j, s2)
                for j, s2 in enumerate(schema)
                if tname(s2) in ("map", "record")
            ]
            if len(dict_branches) == 1:
                return i
            # ambiguous: several dict-accepting branches. A record
            # matches only on EXACT field-name set (the record encoder
            # fills missing names with None — a near-miss would silently
            # write a wrong-branch row of nulls); a map branch matches
            # any remaining dict only if it is the sole map.
            record_hits = [
                j
                for j, s2 in dict_branches
                if tname(s2) == "record"
                and {f["name"] for f in s2["fields"]} == set(v)
            ]
            if len(record_hits) == 1:
                return record_hits[0]
            map_hits = [
                j for j, s2 in dict_branches if tname(s2) == "map"
            ]
            if not record_hits and len(map_hits) == 1:
                return map_hits[0]
            raise ValueError(
                f"ambiguous union branch for dict with keys "
                f"{sorted(v)} in {schema!r}: "
                f"{len(record_hits)} exact record matches, "
                f"{len(map_hits)} map branches"
            )
        if isinstance(v, (list, tuple)) and t == "array":
            return i
    if isinstance(v, int) and not isinstance(v, bool):
        # promotion pass mirrors the float-VALUE path's range checks: a
        # 'float' branch only fits within float32 range, a 'double'
        # branch within float64 (struct.pack would raise OverflowError
        # past either; better the clean no-branch ValueError below)
        for i, s in enumerate(schema):
            t = tname(s)
            if t == "float" and (
                -3.4028234663852886e38 <= v <= 3.4028234663852886e38
            ):
                return i
            if t == "double" and (
                -1.7976931348623157e308 <= v <= 1.7976931348623157e308
            ):
                return i
    raise ValueError(
        f"no union branch in {schema!r} accepts "
        f"{type(v).__name__} value {v!r}"
    )


def _encoder(schema):
    """Compile an avro schema into ``f(BytesIO, value) -> None``."""
    if isinstance(schema, str):
        def write_int32(o, v):
            # spec: int is the 32-bit zigzag varint; a larger value
            # would decode "successfully" to a number the schema says
            # cannot exist — refuse like _write_long does for 64-bit
            if not -(2**31) <= v < 2**31:
                raise ValueError(
                    f"value {v} outside 32-bit range for an avro int"
                )
            _write_long(o, v)

        def write_float32(o, v):
            # NaN/inf are representable; a FINITE value past float32
            # range would raise a raw OverflowError/struct.error deep
            # in struct.pack — surface the module's clean ValueError
            # instead (the [null, T] union path encodes here directly,
            # with no branch sniffing to range-check first)
            if (
                v == v
                and v not in (float("inf"), float("-inf"))
                and not -3.4028234663852886e38 <= v <= 3.4028234663852886e38
            ):
                raise ValueError(
                    f"value {v!r} outside float32 range for an avro float"
                )
            o.write(struct.pack("<f", v))

        def write_float64(o, v):
            if (
                v == v
                and v not in (float("inf"), float("-inf"))
                and not (
                    -1.7976931348623157e308 <= v <= 1.7976931348623157e308
                )
            ):
                raise ValueError(
                    f"value {v!r} outside float64 range for an avro double"
                )
            o.write(struct.pack("<d", v))

        simple = {
            "null": lambda o, v: None,
            "boolean": lambda o, v: o.write(b"\x01" if v else b"\x00"),
            "int": write_int32,
            "long": _write_long,
            "float": write_float32,
            "double": write_float64,
            "bytes": lambda o, v: _write_bytes(o, bytes(v)),
            "string": lambda o, v: _write_bytes(o, v.encode("utf-8")),
        }
        return simple[schema]
    if isinstance(schema, list):
        subs = [_encoder(s) for s in schema]
        null_idx = schema.index("null") if "null" in schema else None
        non_null_idx = [i for i, s in enumerate(schema) if s != "null"]

        def union(o, v):
            if v is None:
                if null_idx is None:
                    raise ValueError(
                        f"union {schema!r} has no null branch for None"
                    )
                _write_long(o, null_idx)
                return
            if len(non_null_idx) == 1:
                # [null, T] / [T]: no sniffing — preserves every
                # logical-type value the single branch already accepts
                i = non_null_idx[0]
            else:
                i = _union_branch_index(schema, v)
            _write_long(o, i)
            subs[i](o, v)

        return union
    t = schema["type"]
    if t == "record":
        fields = [(f["name"], _encoder(f["type"])) for f in schema["fields"]]

        def record(o, v):
            get = v.get if isinstance(v, dict) else lambda k: v[k]
            for name, enc in fields:
                enc(o, get(name))

        return record
    if t == "array":
        item = _encoder(schema["items"])

        def array(o, v):
            if v:
                _write_long(o, len(v))
                for x in v:
                    item(o, x)
            _write_long(o, 0)

        return array
    if t == "map":
        val = _encoder(schema["values"])

        def mp(o, v):
            if v:
                _write_long(o, len(v))
                for k, x in v.items():
                    _write_bytes(o, k.encode("utf-8"))
                    val(o, x)
            _write_long(o, 0)

        return mp
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}

        def enum(o, v):
            try:
                _write_long(o, index[v])
            except KeyError:
                raise ValueError(
                    f"{v!r} is not a symbol of enum "
                    f"{schema.get('name')} ({schema['symbols']})"
                ) from None

        return enum
    if t == "fixed":
        size = schema["size"]

        def fixed(o, v):
            raw = bytes(v)
            if len(raw) != size:
                raise ValueError(
                    f"fixed {schema.get('name')} requires exactly {size} "
                    f"bytes, got {len(raw)}"
                )
            o.write(raw)

        return fixed
    if t == "int" and _logical(schema) == "date":
        import datetime as dt

        epoch = dt.date(1970, 1, 1)
        return lambda o, v: _write_long(o, (v - epoch).days)
    if t == "long" and _logical(schema) in (
        "timestamp-micros",
        "local-timestamp-micros",
    ):
        import datetime as dt

        epoch = dt.datetime(1970, 1, 1)

        def ts(o, v):
            delta = v.replace(tzinfo=None) - epoch
            # integer arithmetic: total_seconds() goes through a float
            # and loses exactness past 2^53 us (~year 2255)
            _write_long(
                o,
                delta.days * 86_400_000_000
                + delta.seconds * 1_000_000
                + delta.microseconds,
            )

        return ts
    raise NotImplementedError(f"avro schema {schema!r}: {_REMEDY}")


def encode_container(
    schema: dict,
    rows,
    sync: bytes | None = None,
    codec: str = "null",
) -> bytes:
    """Rows (dicts for records) -> one container file (codec: null or
    deflate — raw RFC 1951 stream per the spec, no zlib header/checksum,
    matching the read path's ``zlib.decompress(block, -15)``)."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro write codec {codec!r}: {_REMEDY}")
    sync = sync or os.urandom(16)
    enc = _encoder(schema)
    out = io.BytesIO()
    out.write(MAGIC)
    _write_long(out, 2)
    _write_bytes(out, b"avro.schema")
    _write_bytes(out, json.dumps(schema).encode("utf-8"))
    _write_bytes(out, b"avro.codec")
    _write_bytes(out, codec.encode("utf-8"))
    _write_long(out, 0)
    out.write(sync)
    rows = list(rows)
    if rows:
        block = io.BytesIO()
        for r in rows:
            enc(block, r)
        payload = block.getvalue()
        if codec == "deflate":
            z = zlib.compressobj(wbits=-15)
            payload = z.compress(payload) + z.flush()
        _write_long(out, len(rows))
        _write_bytes(out, payload)
        out.write(sync)
    return out.getvalue()


# ----------------------------------------------------------------- spark --


def _check_file_schema(fschema, names, want_types) -> None:
    """Every file must carry the first file's field NAMES and resolve to
    the same Spark field TYPES (nullability aside): a file with the same
    names but different types would decode under its own writer schema
    and feed mistyped values into the driver schema."""
    got = [f["name"] for f in fschema["fields"]]
    if got != names:
        raise ValueError(f"avro file field names {got} != {names}")
    resolved = avro_to_spark_type(fschema)
    got_types = [f.dataType for f in resolved.fields]
    if got_types != want_types:
        mism = [
            f"{n}: {g.simpleString()} != {w.simpleString()}"
            for n, g, w in zip(names, got_types, want_types)
            if g != w
        ]
        raise ValueError(
            "avro file field types differ from the first "
            f"file's schema: {'; '.join(mism)}"
        )


def read_avro_lite(spark: SparkSession, path: str) -> DataFrame:
    """S8 Avro scan without the spark-avro jar: driver-side header peek
    resolves the schema; files then decode distributed (binaryFile +
    one task per file batch). Flat primitive records decode through the
    vectorized block decoder and stream out as Arrow batches
    (mapInArrow — column values never exist as Python objects); schemas
    with nested/multi-branch structure take the row decoder via
    mapInPandas. Physical evolution like added defaults is out of scope
    — the spark-avro jar covers that."""
    import glob as _glob

    local = path[len("file:") :] if path.startswith("file:") else path
    candidates = (
        [local]
        if os.path.isfile(local)
        else sorted(
            _glob.glob(os.path.join(local, "*.avro"))
            or _glob.glob(os.path.join(local, "part-*"))
        )
    )
    if not candidates:
        raise FileNotFoundError(f"no avro container files under {path!r}")
    with open(candidates[0], "rb") as fh:
        schema, _codec, _sync = _read_header(io.BytesIO(fh.read(1 << 20)))
    spark_schema = avro_to_spark_type(schema)
    if not isinstance(spark_schema, T.StructType):
        raise NotImplementedError(
            f"top-level avro type must be a record, got {schema!r}"
        )
    names = [f.name for f in spark_schema.fields]
    want_types = [f.dataType for f in spark_schema.fields]

    binary = (
        spark.read.format("binaryFile")
        .load([f"file:{os.path.abspath(c)}" for c in candidates])
        .select("content")
    )

    if _vector_block_decoder(schema) is None:
        # row path: nested / multi-branch schemas
        def decode(batches):
            import pandas as pd

            for pdf in batches:
                for content in pdf["content"]:
                    fschema, rows = decode_container(bytes(content))
                    _check_file_schema(fschema, names, want_types)
                    yield pd.DataFrame(
                        {n: [r[n] for r in rows] for n in names}
                    ) if rows else pd.DataFrame({n: [] for n in names})

        return binary.mapInPandas(decode, spark_schema)

    def decode_arrow(batches):
        import pyarrow as pa

        compiled: dict = {}
        arrow_types = _vector_block_decoder(schema)[1]

        def file_batches(data: bytes):
            buf = io.BytesIO(data)
            fschema, codec, sync = _read_header(buf)
            _check_file_schema(fschema, names, want_types)
            key = json.dumps(fschema, sort_keys=True)
            if key not in compiled:
                compiled[key] = _vector_block_decoder(fschema)
            dec = compiled[key]
            if dec is None:
                # same resolved types but row-only physical schema (e.g.
                # a multi-branch numeric union): decode rows, convert once
                _, rows = decode_container(data)
                if rows:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([r[n] for r in rows], type=t)
                            for n, t in zip(names, arrow_types)
                        ],
                        names,
                    )
                return
            decode_block, _atypes = dec
            while buf.tell() < len(data):
                n_rows = _read_long(buf)
                block = _read_bytes(buf)
                if codec == "deflate":
                    block = zlib.decompress(block, -15)
                arrays = decode_block(block, n_rows)
                if buf.read(16) != sync:
                    raise ValueError("avro block sync marker mismatch")
                if n_rows:
                    yield pa.RecordBatch.from_arrays(arrays, names)

        for rb in batches:
            col = rb.column(0)
            for k in range(len(col)):
                yield from file_batches(col[k].as_py())

    return binary.mapInArrow(decode_arrow, spark_schema)


def write_avro_lite(df: DataFrame, path: str, codec: str = "null") -> None:
    """Distributed write: one container file per non-empty partition
    (``foreachPartition`` — per-partition imperative file IO is the one
    place the DataFrame API genuinely hands over). ``codec`` may be
    ``null`` or ``deflate`` (read-path parity). Local filesystem only,
    same contract as delta_lite.

    Timestamp honesty: Spark hands Python naive datetimes in the worker
    process's local timezone and the encoder treats them as UTC. The
    read/write pair here is symmetric (this container runs UTC), but on
    a non-UTC host interchange with other Avro readers would shift by
    the host offset — the spark-avro jar is the tz-exact path."""
    local = path[len("file:") :] if path.startswith("file:") else path
    os.makedirs(local, exist_ok=True)
    schema = spark_to_avro_schema(df.schema, name="spark_row")
    names = df.columns

    def write_partition(rows) -> None:
        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return
        import itertools

        data = encode_container(
            schema,
            ({n: r[n] for n in names} for r in itertools.chain([first], it)),
            codec=codec,
        )
        target = os.path.join(local, f"part-{uuid.uuid4().hex}.avro")
        with open(target, "wb") as fh:
            fh.write(data)

    df.foreachPartition(write_partition)
