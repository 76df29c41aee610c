"""Avro container-format reader/writer (avro_lite) — the S8 Avro runtime
path executing without the spark-avro jar.

The spec-compliance anchor is ``test_golden_bytes_from_spec``: a container
file whose bytes are composed BY HAND in the test, field by field from
the published binary encoding (zigzag varints, length-prefixed strings,
union indices, block framing) — decoding it correctly is independent of
our own writer. Roundtrips then cover the full supported type lattice,
deflate decoding, multi-file distributed reads, and the registry
fallbacks."""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.avro_lite import (
    decode_container,
    encode_container,
    read_avro_lite,
    write_avro_lite,
)


def _zz(n: int) -> bytes:
    """Hand zigzag-varint for the golden file (independent impl)."""
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = b""
    while True:
        if n & ~0x7F:
            out += bytes([(n & 0x7F) | 0x80])
            n >>= 7
        else:
            return out + bytes([n])


def _s(text: str) -> bytes:
    raw = text.encode("utf-8")
    return _zz(len(raw)) + raw


def test_golden_bytes_from_spec():
    """Bytes composed by hand from the Avro 1.11 spec decode correctly."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
        ],
    }
    sync = bytes(range(16))
    # row 1: id=-3 (zigzag 5), name=union idx 1 "ab", score=1.5
    row1 = _zz(-3) + _zz(1) + _s("ab") + struct.pack("<d", 1.5)
    # row 2: id=300, name=union idx 0 (null), score=-0.25
    row2 = _zz(300) + _zz(0) + struct.pack("<d", -0.25)
    block = row1 + row2
    golden = (
        b"Obj\x01"
        + _zz(2)  # metadata map: 2 entries
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0)  # end of map
        + sync
        + _zz(2) + _zz(len(block)) + block + sync
    )
    got_schema, rows = decode_container(golden)
    assert got_schema == schema
    assert rows == [
        {"id": -3, "name": "ab", "score": 1.5},
        {"id": 300, "name": None, "score": -0.25},
    ]


def test_deflate_codec_decodes():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "int"}]}
    sync = bytes(16)
    block = _zz(7) + _zz(11)
    packed = zlib.compress(block)[2:-4]  # raw DEFLATE: strip zlib wrapper
    data = (
        b"Obj\x01"
        + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("deflate")
        + _zz(0) + sync
        + _zz(2) + _zz(len(packed)) + packed + sync
    )
    _, rows = decode_container(data)
    assert rows == [{"x": 7}, {"x": 11}]


def test_encode_decode_type_lattice():
    """Self-roundtrip over the full supported type set, incl. nesting."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "b", "type": ["null", "boolean"]},
            {"name": "i", "type": ["null", "int"]},
            {"name": "l", "type": ["null", "long"]},
            {"name": "d", "type": ["null", "double"]},
            {"name": "s", "type": ["null", "string"]},
            {"name": "raw", "type": ["null", "bytes"]},
            {"name": "arr", "type": ["null", {
                "type": "array", "items": ["null", "long"]}]},
            {"name": "m", "type": ["null", {
                "type": "map", "values": ["null", "string"]}]},
            {"name": "nested", "type": ["null", {
                "type": "record", "name": "inner",
                "fields": [{"name": "v", "type": ["null", "double"]}]}]},
            {"name": "day", "type": ["null", {
                "type": "int", "logicalType": "date"}]},
            {"name": "ts", "type": ["null", {
                "type": "long", "logicalType": "timestamp-micros"}]},
        ],
    }
    rows = [
        {"b": True, "i": -5, "l": 1 << 40, "d": 2.5, "s": "héllo",
         "raw": b"\x00\xff", "arr": [1, None, 3], "m": {"k": "v", "n": None},
         "nested": {"v": 0.5}, "day": dt.date(2024, 6, 1),
         "ts": dt.datetime(2024, 6, 1, 12, 30, 0, 123456)},
        {"b": None, "i": None, "l": None, "d": None, "s": None, "raw": None,
         "arr": None, "m": None, "nested": None, "day": None, "ts": None},
    ]
    _, back = decode_container(encode_container(schema, rows))
    assert back == rows


def test_spark_roundtrip_distributed(spark, tmp_path):
    """write_avro_lite -> read_avro_lite across multiple partitions/files
    preserves values and Spark types."""
    path = str(tmp_path / "avro")
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 4, [i, i + 1], {"k": f"v{i}"})
         for i in range(20)],
        "id long, name string, score double, xs array<long>, "
        "m map<string,string>",
    ).repartition(4)
    write_avro_lite(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".avro")]
    assert len(files) == 4  # one container file per non-empty partition
    got = read_avro_lite(spark, path)
    assert got.schema == df.schema
    rows = {r.id: r for r in got.collect()}
    assert len(rows) == 20
    assert rows[3].name == "n3" and rows[3].xs == [3, 4]
    assert rows[7].m == {"k": "v7"}


def test_spark_roundtrip_temporal_and_nulls(spark, tmp_path):
    path = str(tmp_path / "avro")
    df = spark.createDataFrame(
        [
            (1, dt.date(2024, 6, 1), dt.datetime(2024, 6, 1, 12, 0, 0, 5)),
            (2, None, None),
        ],
        "id long, day date, ts timestamp",
    )
    write_avro_lite(df, path)
    got = {r.id: r for r in read_avro_lite(spark, path).collect()}
    assert got[1].day == dt.date(2024, 6, 1)
    assert got[1].ts == dt.datetime(2024, 6, 1, 12, 0, 0, 5)
    assert got[2].day is None and got[2].ts is None


def test_enum_and_fixed_read_as_string_and_binary(spark):
    schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "e", "type": {
                "type": "enum", "name": "col", "symbols": ["RED", "BLUE"]}},
            {"name": "f", "type": {
                "type": "fixed", "name": "f4", "size": 4}},
        ],
    }
    sync = bytes(16)
    block = _zz(1) + b"\x01\x02\x03\x04"  # enum idx 1 = BLUE, 4 fixed bytes
    data = (
        b"Obj\x01" + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(1) + _zz(len(block)) + block + sync
    )
    _, rows = decode_container(data)
    assert rows == [{"e": "BLUE", "f": b"\x01\x02\x03\x04"}]


def test_unsupported_seams_raise_with_remedy():
    with pytest.raises(NotImplementedError, match="spark-avro"):
        decode_container(
            b"Obj\x01" + _zz(2)
            + _s("avro.schema") + _s(json.dumps("string"))
            + _s("avro.codec") + _s("snappy")
            + _zz(0) + bytes(16)
        )

def test_multi_branch_union_type_resolution():
    """Multi-branch unions resolve by documented rule: all-numeric widens
    along Avro's promotion chain, anything else reads as string."""
    from pyspark.sql import types as T

    from lcr_etl_upgrade_spark.avro_lite import avro_to_spark_type

    assert avro_to_spark_type(["int", "long"]) == T.LongType()
    assert avro_to_spark_type(["int", "float"]) == T.FloatType()
    assert avro_to_spark_type(["null", "int", "long", "double"]) == T.DoubleType()
    assert avro_to_spark_type(["int", "string"]) == T.StringType()
    assert avro_to_spark_type(["null", "int", "string"]) == T.StringType()
    assert avro_to_spark_type(["bytes", "string"]) == T.StringType()


def test_multi_branch_union_golden_bytes():
    """Hand-composed container with a ["null","int","string","bytes"]
    union field: int renders canonical JSON, strings pass through, bytes
    render base64, null stays NULL (the documented string-fallback rule);
    and an all-numeric ["int","double"] union decodes to widened
    numerics."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["null", "int", "string", "bytes"]}],
    }
    sync = bytes(range(16))
    rows_bytes = (
        _zz(1) + _zz(5)          # branch 1 (int) value 5
        + _zz(2) + _s("five")    # branch 2 (string) "five"
        + _zz(3) + _zz(2) + b"\x01\x02"  # branch 3 (bytes) 0x0102
        + _zz(0)                 # branch 0 (null)
    )
    golden = (
        b"Obj\x01"
        + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(4) + _zz(len(rows_bytes)) + rows_bytes + sync
    )
    _, rows = decode_container(golden)
    assert rows == [{"v": "5"}, {"v": "five"}, {"v": "AQI="}, {"v": None}]

    num_schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["int", "double"]}],
    }
    num_rows = _zz(0) + _zz(7) + _zz(1) + struct.pack("<d", 0.5)
    num_golden = (
        b"Obj\x01"
        + _zz(2)
        + _s("avro.schema") + _s(json.dumps(num_schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(2) + _zz(len(num_rows)) + num_rows + sync
    )
    _, rows = decode_container(num_golden)
    assert rows == [{"v": 7}, {"v": 0.5}]


def test_multi_branch_union_reads_through_spark(spark, tmp_path):
    """End-to-end: a container with an ["int","string"] union field reads
    via read_avro_lite as a string column with the rendered values."""
    from lcr_etl_upgrade_spark.avro_lite import read_avro_lite

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["int", "string"]},
        ],
    }
    sync = bytes(range(16))
    rows_bytes = (
        _zz(1) + _zz(0) + _zz(42)
        + _zz(2) + _zz(1) + _s("forty-two")
    )
    data = (
        b"Obj\x01"
        + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(2) + _zz(len(rows_bytes)) + rows_bytes + sync
    )
    d = tmp_path / "u"
    d.mkdir()
    (d / "part-0.avro").write_bytes(data)
    got = read_avro_lite(spark, str(d))
    assert dict(got.dtypes)["v"] == "string"
    assert {(r.id, r.v) for r in got.collect()} == {
        (1, "42"), (2, "forty-two")
    }


def test_registry_fallbacks_roundtrip(spark, tmp_path):
    """Without spark-avro, read_avro and the avro_overwrite sink run on
    the container-native path instead of raising."""
    from lcr_etl_upgrade_spark.sinks.registry import write
    from lcr_etl_upgrade_spark.sources.registry import read_avro

    path = str(tmp_path / "avro")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write(df, "avro_overwrite", path)
    got = read_avro(spark, path)
    assert {(r.id, r.v) for r in got.collect()} == {(1, "a"), (2, "b")}
    # overwrite really replaces
    write(df.limit(1), "avro_overwrite", path)
    assert read_avro(spark, path).count() == 1
    # declared-schema variant applies the cast on the lite path too
    from pyspark.sql import types as T

    narrowed = read_avro(
        spark, path,
        T.StructType([T.StructField("id", T.IntegerType()),
                      T.StructField("v", T.StringType())]),
    )
    assert dict(narrowed.dtypes)["id"] == "int"


def test_corrupt_container_fails_loudly():
    with pytest.raises(ValueError, match="bad magic"):
        decode_container(b"NOPE" + bytes(32))
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "int"}]}
    good = encode_container(schema, [{"x": 1}], sync=bytes(16))
    # flip a sync byte: the block must fail verification, not mis-decode
    bad = good[:-1] + bytes([good[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="sync marker"):
        decode_container(bad)


# ----------------------------------------------------------- properties --

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PSETTINGS = settings(max_examples=200, deadline=None)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@_PSETTINGS
def test_zigzag_varint_roundtrip(n):
    from lcr_etl_upgrade_spark.avro_lite import _read_long, _write_long

    out = io.BytesIO()
    _write_long(out, n)
    assert _read_long(io.BytesIO(out.getvalue())) == n


# a recursive strategy pairing a random avro schema with a matching value
def _schema_and_value(depth=2):
    base = st.one_of(
        st.tuples(st.just("long"),
                  st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        st.tuples(st.just("string"), st.text(max_size=20)),
        st.tuples(st.just("boolean"), st.booleans()),
        st.tuples(st.just("double"),
                  st.floats(allow_nan=False, allow_infinity=False)),
        st.tuples(st.just("bytes"), st.binary(max_size=20)),
    )
    if depth == 0:
        return base
    sub = _schema_and_value(depth - 1)
    nullable = sub.flatmap(
        lambda sv: st.one_of(
            st.just((["null", sv[0]], None)),
            st.just((["null", sv[0]], sv[1])),
        )
    )
    arrays = st.lists(sub, min_size=0, max_size=4).flatmap(
        lambda svs: st.just(
            (
                {"type": "array",
                 "items": svs[0][0] if svs else "long"},
                [v for s, v in svs if s == (svs[0][0] if svs else "long")],
            )
        )
    )
    return st.one_of(base, nullable, arrays)


@given(_schema_and_value())
@_PSETTINGS
def test_any_schema_value_roundtrips(sv):
    """encode(decode) identity over randomly-shaped schema/value pairs —
    the file-level framing (header, block, sync) must be transparent for
    every supported wire type."""
    schema_frag, value = sv
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": schema_frag}]}
    _, rows = decode_container(encode_container(schema, [{"x": value}]))
    assert rows == [{"x": value}]


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                min_size=0, max_size=50))
@_PSETTINGS
def test_row_count_framing(xs):
    """N rows in -> N rows out regardless of N (incl. the empty file,
    which has no data block at all)."""
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "int"}]}
    _, rows = decode_container(
        encode_container(schema, [{"x": x} for x in xs])
    )
    assert [r["x"] for r in rows] == xs


def test_timestamp_ntz_roundtrips_as_local_timestamp(spark, tmp_path):
    """Spark TimestampNTZ maps to Avro's local-timestamp-micros logical
    type (distinct from timestamp-micros, which is instant-based) and
    comes back as timestamp_ntz."""
    path = str(tmp_path / "avro")
    df = spark.sql(
        "select 1L as id, timestamp_ntz'2024-06-01 12:00:00.000005' as ts"
    )
    write_avro_lite(df, path)
    got = read_avro_lite(spark, path)
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert got.collect()[0].ts == dt.datetime(2024, 6, 1, 12, 0, 0, 5)


def test_multi_block_container_decodes():
    """External writers emit many blocks per file; the block loop must
    decode all of them and verify each sync marker."""
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "int"}]}
    sync = bytes(range(16))
    header = (
        b"Obj\x01" + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
    )
    b1 = _zz(1)  # one row: 1
    b2 = _zz(3) + _zz(5) + _zz(7)  # three rows: 3, 5, 7
    data = (header
            + _zz(1) + _zz(len(b1)) + b1 + sync
            + _zz(3) + _zz(len(b2)) + b2 + sync)
    _, rows = decode_container(data)
    assert [r["x"] for r in rows] == [1, 3, 5, 7]


def test_truncated_file_fails_loudly():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    good = encode_container(schema, [{"x": 123456789}], sync=bytes(16))
    with pytest.raises((EOFError, ValueError)):
        decode_container(good[: len(good) - 10])


def test_block_count_length_disagreement_raises():
    """A block whose byte length exceeds its declared row count is
    corruption, not rows to drop silently."""
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "int"}]}
    sync = bytes(16)
    payload = _zz(1) + _zz(2)  # two encoded rows...
    data = (
        b"Obj\x01" + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(1) + _zz(len(payload)) + payload + sync  # ...declared as one
    )
    with pytest.raises(ValueError, match="trailing bytes"):
        decode_container(data)


def test_deflate_write_codec_roundtrips_and_matches_spec_bytes():
    """Writing codec='deflate' must (a) roundtrip through our own read
    path, (b) declare the codec in the header, and (c) produce a block
    that raw-inflates (RFC 1951, no zlib wrapper) to exactly the bytes
    the null codec would have framed — golden parity between codecs."""
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "int"},
                         {"name": "s", "type": "string"}]}
    rows = [{"x": 7, "s": "alpha"}, {"x": -11, "s": "β"}]
    sync = bytes(range(16))
    plain = encode_container(schema, rows, sync=sync)
    packed = encode_container(schema, rows, sync=sync, codec="deflate")
    assert b"deflate" in packed and b"deflate" not in plain
    _, got = decode_container(packed)
    assert got == rows
    # pull the two framed blocks apart and compare payloads
    def block_payload(data: bytes) -> bytes:
        buf = io.BytesIO(data)
        from lcr_etl_upgrade_spark.avro_lite import _read_header  # noqa
        _read_header(buf)
        from lcr_etl_upgrade_spark.avro_lite import _read_long  # noqa
        _read_long(buf)  # row count
        n = _read_long(buf)
        return buf.read(n)
    assert zlib.decompress(block_payload(packed), -15) == block_payload(plain)


def test_write_avro_lite_deflate_via_spark(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).cast("int").alias("x")
    )
    out = str(tmp_path / "defl")
    write_avro_lite(df, out, codec="deflate")
    with open(next(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".avro")
    ), "rb") as fh:
        assert b"deflate" in fh.read(4096)
    got = read_avro_lite(spark, out)
    assert {(r.id, r.x) for r in got.collect()} == {
        (i, 2 * i) for i in range(100)
    }


def test_timestamp_micros_integer_exact_at_range_edge(spark, tmp_path):
    """The timestamp-micros encoder must use integer arithmetic:
    float total_seconds() loses exactness past 2^53 us (~year 2255)."""
    far = dt.datetime(2260, 1, 2, 3, 4, 5, 123457)
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "ts", "type": {
                  "type": "long", "logicalType": "timestamp-micros"}}]}
    data = encode_container(schema, [{"ts": far}], sync=bytes(16))
    # decode the raw long independently and compare to exact integer us
    epoch = dt.datetime(1970, 1, 1)
    delta = far - epoch
    exact = (delta.days * 86_400_000_000 + delta.seconds * 1_000_000
             + delta.microseconds)
    assert exact > 2**53  # the regime where float arithmetic is lossy
    _, rows = decode_container(data)
    got = rows[0]["ts"].replace(tzinfo=None) - epoch
    got_us = (got.days * 86_400_000_000 + got.seconds * 1_000_000
              + got.microseconds)
    assert got_us == exact


def test_cross_file_type_mismatch_rejected(spark, tmp_path):
    """Two files with the SAME field names but different TYPES must be
    rejected loudly, not silently coerced into the first file's schema."""
    d = tmp_path / "mix"
    d.mkdir()
    s_long = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    s_str = {"type": "record", "name": "r",
             "fields": [{"name": "x", "type": "string"}]}
    (d / "a.avro").write_bytes(
        encode_container(s_long, [{"x": 1}], sync=bytes(16)))
    (d / "b.avro").write_bytes(
        encode_container(s_str, [{"x": "oops"}], sync=bytes(16)))
    with pytest.raises(Exception, match="field types differ"):
        read_avro_lite(spark, str(d)).collect()


def test_union_wrapper_form_and_logical_branches():
    """Review findings: wrapper-form numeric branches must widen like
    their bare-string spelling, and logical date/timestamp branches in a
    string-fallback union must render ISO-8601 instead of crashing
    json.dumps."""
    from pyspark.sql import types as T

    from lcr_etl_upgrade_spark.avro_lite import avro_to_spark_type

    # {"type":"long"} is spelling-equivalent to "long" per the spec
    assert avro_to_spark_type(["int", {"type": "long"}]) == T.LongType()
    # logical types are NOT plain numerics: they decode to objects
    assert (
        avro_to_spark_type(["int", {"type": "long",
                                    "logicalType": "timestamp-micros"}])
        == T.StringType()
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": [
            "string", {"type": "long", "logicalType": "timestamp-micros"}
        ]}],
    }
    sync = bytes(range(16))
    # branch 1: timestamp-micros 1_700_000_000_000_000 us
    rows_bytes = _zz(0) + _s("plain") + _zz(1) + _zz(1_700_000_000_000_000)
    golden = (
        b"Obj\x01"
        + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(2) + _zz(len(rows_bytes)) + rows_bytes + sync
    )
    _, rows = decode_container(golden)
    assert rows == [
        {"v": "plain"},
        {"v": "2023-11-14T22:13:20"},  # ISO-8601, not a TypeError
    ]


def test_unknown_logical_type_still_widens_numeric_union():
    """Per the spec, unknown logical types are ignored and the underlying
    primitive used — the decoder already does this, so the union type
    resolution must agree: ["int", {"type":"long","logicalType":
    "counter"}] widens to long, it does not fall back to string."""
    from pyspark.sql import types as T

    from lcr_etl_upgrade_spark.avro_lite import avro_to_spark_type

    assert (
        avro_to_spark_type(["int", {"type": "long", "logicalType": "counter"}])
        == T.LongType()
    )
    # known transforming logicals still disqualify numeric widening
    assert (
        avro_to_spark_type(["int", {"type": "int", "logicalType": "date"}])
        == T.StringType()
    )


def test_union_branch_index_out_of_range_fails_loudly():
    """A corrupt zigzag varint decoding to a negative or too-large union
    branch index must raise, not silently select a branch via Python
    negative indexing (ADVICE r6)."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["null", "int", "string"]}],
    }
    sync = bytes(range(16))
    for bad in (-1, 3, 99):
        rows_bytes = _zz(bad) + _zz(5)
        data = (
            b"Obj\x01"
            + _zz(2)
            + _s("avro.schema") + _s(json.dumps(schema))
            + _s("avro.codec") + _s("null")
            + _zz(0) + sync
            + _zz(1) + _zz(len(rows_bytes)) + rows_bytes + sync
        )
        with pytest.raises(ValueError, match="union branch index"):
            decode_container(data)


def test_multi_branch_union_write_golden_bytes():
    """Write-side multi-branch unions: encode_container emits the same
    bytes as a hand-composed ["int","string"] container (r6 verdict ask
    #6), and the general matcher picks long/boolean branches by value."""
    from lcr_etl_upgrade_spark.avro_lite import encode_container

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["int", "string"]}],
    }
    sync = bytes(range(16))
    got = encode_container(schema, [{"v": 42}, {"v": "forty-two"}], sync=sync)
    rows_bytes = _zz(0) + _zz(42) + _zz(1) + _s("forty-two")
    want = (
        b"Obj\x01"
        + _zz(2)
        + _s("avro.schema") + _s(json.dumps(schema))
        + _s("avro.codec") + _s("null")
        + _zz(0) + sync
        + _zz(2) + _zz(len(rows_bytes)) + rows_bytes + sync
    )
    assert got == want

    # decode round-trip renders per the documented string-fallback rule
    _, rows = decode_container(got)
    assert rows == [{"v": "42"}, {"v": "forty-two"}]


def test_multi_branch_union_write_branch_selection():
    from lcr_etl_upgrade_spark.avro_lite import (
        decode_container,
        encode_container,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "v", "type": ["null", "boolean", "int", "long", "string"]}
        ],
    }
    rows_in = [
        {"v": None},
        {"v": True},          # bool before int (bool subclasses int)
        {"v": 7},             # fits int32 -> int branch
        {"v": 1 << 40},       # overflows int32 -> long branch
        {"v": "x"},
    ]
    _, rows = decode_container(encode_container(schema, rows_in))
    assert rows == [
        {"v": None},
        {"v": "true"},
        {"v": "7"},
        {"v": str(1 << 40)},
        {"v": "x"},
    ]


def test_multi_branch_union_write_errors():
    from lcr_etl_upgrade_spark.avro_lite import encode_container

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "v", "type": ["int", "string"]}],
    }
    with pytest.raises(ValueError, match="no null branch"):
        encode_container(schema, [{"v": None}])
    with pytest.raises(ValueError, match="no union branch"):
        encode_container(schema, [{"v": b"bytes"}])


def test_multi_branch_union_write_read_through_spark(spark, tmp_path):
    """write(encode_container) -> read_avro_lite round-trip of an
    ["int","string"] union field as a rendered string column."""
    from lcr_etl_upgrade_spark.avro_lite import (
        encode_container,
        read_avro_lite,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["int", "string"]},
        ],
    }
    d = tmp_path / "mu"
    d.mkdir()
    (d / "part-0.avro").write_bytes(
        encode_container(schema, [{"id": 1, "v": 10}, {"id": 2, "v": "ten"}])
    )
    got = read_avro_lite(spark, str(d))
    assert dict(got.dtypes)["v"] == "string"
    assert {(r.id, r.v) for r in got.collect()} == {(1, "10"), (2, "ten")}


def test_multi_branch_union_two_records_selected_by_field_names():
    """Two record branches in one union: the dict's exact field-name set
    picks the branch; a near-miss raises instead of silently writing a
    wrong-branch row of nulls (review finding r7)."""
    from lcr_etl_upgrade_spark.avro_lite import encode_container

    ra = {"type": "record", "name": "A",
          "fields": [{"name": "f", "type": ["null", "long"]}]}
    rb = {"type": "record", "name": "B",
          "fields": [{"name": "g", "type": ["null", "long"]}]}
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "v", "type": ["null", ra, rb]}]}
    got = encode_container(
        schema, [{"v": {"g": 5}}, {"v": {"f": 7}}, {"v": None}]
    )
    _, rows = decode_container(got)
    assert rows == [
        {"v": '{"g":5}'},
        {"v": '{"f":7}'},
        {"v": None},
    ]
    with pytest.raises(ValueError, match="ambiguous union branch"):
        encode_container(schema, [{"v": {"not_a_field": 1}}])


def test_union_float_branch_range_check():
    """A finite value beyond float32 range skips a 'float' branch so a
    later 'double' branch carries it; in-range floats keep first-match
    (review finding r7)."""
    from lcr_etl_upgrade_spark.avro_lite import (
        decode_container,
        encode_container,
    )

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": ["null", "float", "double"]}]}
    got = encode_container(
        schema, [{"x": 1e300}, {"x": 0.5}, {"x": float("inf")}]
    )
    _, rows = decode_container(got)
    # union type widens to double on read; 0.5 and inf exact in float32
    assert rows[0] == {"x": 1e300}
    assert rows[1] == {"x": 0.5}
    assert rows[2] == {"x": float("inf")}


def test_union_int_promotion_and_long_range_checks():
    """Int branch selection is range-checked end to end (review finding
    r7 pass 3): an int past 2**63 skips a 'long' branch (zigzag would
    emit an out-of-spec >10-byte varint) and lands on a double branch;
    the int->float promotion pass applies the same float32/float64
    range checks as the float-value path instead of OverflowError-ing
    in struct.pack; with no branch that fits, the clean no-union-branch
    ValueError surfaces."""
    from lcr_etl_upgrade_spark.avro_lite import (
        decode_container,
        encode_container,
    )

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": ["null", "long", "double"]}]}
    got = encode_container(schema, [{"x": 2**70}, {"x": 2**40}])
    _, rows = decode_container(got)
    assert rows[0] == {"x": float(2**70)}  # long skipped -> double
    assert rows[1] == {"x": 2**40}         # fits -> long, exact

    # promotion: int past float32 range must reach the double branch
    fschema = {"type": "record", "name": "r",
               "fields": [{"name": "x",
                           "type": ["null", "float", "double"]}]}
    _, rows = decode_container(encode_container(fschema, [{"x": 10**39}]))
    assert rows == [{"x": 1e39}]

    # no branch fits: clean refusal, not OverflowError
    import pytest as _pytest

    # [null, long] takes the no-sniff single-branch path: the branch
    # encoder's own 64-bit range check surfaces instead of silently
    # emitting an out-of-spec >10-byte varint
    only_long = {"type": "record", "name": "r",
                 "fields": [{"name": "x", "type": ["null", "long"]}]}
    with _pytest.raises(ValueError, match="64-bit range"):
        encode_container(only_long, [{"x": 2**70}])
    # multi-branch with only integer branches: sniffing refuses cleanly
    int_long = {"type": "record", "name": "r",
                "fields": [{"name": "x", "type": ["null", "int", "long"]}]}
    with _pytest.raises(ValueError, match="no union branch"):
        encode_container(int_long, [{"x": 2**70}])
    # scalar (non-union) fields refuse out-of-range ints the same way
    plain_int = {"type": "record", "name": "r",
                 "fields": [{"name": "x", "type": "int"}]}
    with _pytest.raises(ValueError, match="32-bit range"):
        encode_container(plain_int, [{"x": 2**40}])
    with _pytest.raises(ValueError, match="64-bit range"):
        encode_container(
            {"type": "record", "name": "r",
             "fields": [{"name": "x", "type": "long"}]},
            [{"x": -(2**80)}],
        )
    # [null, float] no-sniff path: the float encoder's own range check
    only_float = {"type": "record", "name": "r",
                  "fields": [{"name": "x", "type": ["null", "float"]}]}
    with _pytest.raises(ValueError, match="float32 range"):
        encode_container(only_float, [{"x": 10**39}])
    with _pytest.raises(ValueError, match="no union branch"):
        encode_container(fschema, [{"x": 10**400}])  # past float64 too


# ------------------------------------------------- vectorized decoder --


def _vec_decode_rows(data: bytes):
    """Decode a container through the vectorized block decoder only."""
    import pyarrow as pa

    from lcr_etl_upgrade_spark.avro_lite import (
        _read_bytes,
        _read_header,
        _read_long,
        _vector_block_decoder,
    )

    buf = io.BytesIO(data)
    fschema, codec, sync = _read_header(buf)
    dec = _vector_block_decoder(fschema)
    assert dec is not None
    decode_block, _types = dec
    names = [f["name"] for f in fschema["fields"]]
    batches = []
    while buf.tell() < len(data):
        nr = _read_long(buf)
        block = _read_bytes(buf)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        arrays = decode_block(block, nr)
        assert buf.read(16) == sync
        batches.append(pa.RecordBatch.from_arrays(arrays, names))
    return pa.Table.from_batches(batches).to_pylist()


def test_vector_decoder_matches_row_decoder_across_kinds():
    """Every vectorizable field kind, nullable and bare, long and short
    varints, empty and non-ascii strings: the vectorized block decoder
    must produce value-identical rows to the reference row decoder."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "i", "type": ["null", "int"]},
            {"name": "d", "type": "double"},
            {"name": "f", "type": ["null", "float"]},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "by", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "fx8", "size": 3}},
            {"name": "e", "type": {"type": "enum", "name": "col",
                                   "symbols": ["red", "green", "blue"]}},
            {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
            {"name": "tsn", "type": ["null", {"type": "long",
                          "logicalType": "local-timestamp-micros"}]},
        ],
    }
    epoch = dt.datetime(2024, 1, 1)
    rows = []
    for k in range(2000):
        rows.append(
            {
                "l": (-1) ** k * (k**5),  # 1..~6-byte varints, signs
                "i": None if k % 3 == 0 else k - 1000,
                "d": k / 7.0,
                "f": None if k % 5 == 0 else float(k),
                "b": k % 2 == 0,
                "s": None if k % 7 == 0 else ("x" * (k % 90) + "é✓"),
                "by": bytes([k % 256]) * (k % 17),
                "fx": bytes([k % 256, 1, 2]),
                "e": ["red", "green", "blue"][k % 3],
                "dt": dt.date(2020, 1, 1) + dt.timedelta(days=k),
                "ts": epoch + dt.timedelta(microseconds=k * 1_000_003),
                "tsn": None
                if k % 11 == 0
                else epoch + dt.timedelta(seconds=k),
            }
        )
    data = encode_container(schema, iter(rows), codec="null")
    _, row_rows = decode_container(data)
    vec_rows = _vec_decode_rows(data)
    assert vec_rows == row_rows


def test_vector_decoder_falls_back_on_nested_and_multibranch():
    from lcr_etl_upgrade_spark.avro_lite import _vector_block_decoder

    nested = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": {"type": "array", "items": "int"}},
        ],
    }
    multi = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "u", "type": ["int", "string"]}],
    }
    flat = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": ["null", "long"]}],
    }
    assert _vector_block_decoder(nested) is None
    assert _vector_block_decoder(multi) is None
    assert _vector_block_decoder(flat) is not None


def test_vector_decoder_rejects_corrupt_blocks():
    """Trailing bytes and out-of-range union branches fail loudly, same
    contract as the row decoder."""
    from lcr_etl_upgrade_spark.avro_lite import _vector_block_decoder

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": ["null", "long"]}],
    }
    decode_block, _ = _vector_block_decoder(schema)
    # valid: branch 1 (zigzag 0x02), value 7 (zigzag 0x0e)
    assert decode_block(b"\x02\x0e", 1)[0].to_pylist() == [7]
    with pytest.raises(ValueError, match="trailing bytes"):
        decode_block(b"\x02\x0e\x00", 1)
    with pytest.raises(ValueError, match="branch index"):
        decode_block(b"\x04\x0e", 1)  # branch 2 of a 2-branch union
    with pytest.raises(EOFError):
        decode_block(b"\x02", 1)  # truncated value


@pytest.mark.parametrize(
    "raw,expected",
    [
        # the widest legal encoding: 10 bytes, the last carrying bit 63
        (b"\xfe" + b"\xff" * 8 + b"\x01", 2**63 - 1),
        (b"\xff" * 9 + b"\x01", -(2**63)),
        # 10 bytes whose last byte sets bits past 64: wider than a long
        (b"\xff" * 9 + b"\x02", None),
        (b"\x80" * 9 + b"\x7f", None),
        # 11 bytes: longer than any 64-bit varint
        (b"\xff" * 10 + b"\x01", None),
        (b"\x80" * 10 + b"\x00", None),
    ],
    ids=["max", "min", "wide", "wide_zeros", "long", "long_zeros"],
)
def test_row_and_vector_varint_decoders_agree_on_overflow(raw, expected):
    """The row decoder, the block skipper and the vectorized decoder
    read the same varint bytes the same way: equal values, or the same
    ValueError — never a truncated or wrapped value on one path."""
    import numpy as np

    from lcr_etl_upgrade_spark.avro_lite import (
        _read_long,
        _vec_varint_values,
        _vector_block_decoder,
    )

    decode_block, _ = _vector_block_decoder(
        {"type": "record", "name": "r",
         "fields": [{"name": "x", "type": "long"}]}
    )
    buf = np.frombuffer(raw, np.uint8)
    decoders = [
        lambda: _read_long(io.BytesIO(raw)),
        lambda: int(_vec_varint_values(np, buf, np.zeros(1, np.int64),
                                       None)[0]),
        lambda: decode_block(raw, 1)[0].to_pylist()[0],
    ]
    for decode in decoders:
        if expected is None:
            with pytest.raises(
                ValueError,
                match="longer than 10 bytes or wider than 64 bits",
            ):
                decode()
        else:
            assert decode() == expected


def test_vector_decoder_derived_offsets_match_row_decoder():
    """Adjacent bare fixed-width fields after a recorded one take the
    skipper's derived-offset path (no per-row offset recorded): the
    values must still match the row decoder exactly."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "d1", "type": "double"},
            {"name": "d2", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "fx", "type": {"type": "fixed", "name": "fx4",
                                    "size": 4}},
            {"name": "s", "type": "string"},
            {"name": "d3", "type": "double"},
        ],
    }
    rows = [
        {
            "l": (-1) ** k * k**4,
            "d1": k / 3.0,
            "d2": -k * 1.5,
            "f": float(k % 97),
            "b": k % 3 == 0,
            "fx": bytes([k % 256, 0, 255, 7]),
            "s": "y" * (k % 13),
            "d3": k * 0.125,
        }
        for k in range(500)
    ]
    data = encode_container(schema, iter(rows), codec="null")
    _, row_rows = decode_container(data)
    assert _vec_decode_rows(data) == row_rows
    assert row_rows[7]["d2"] == -10.5 and row_rows[7]["fx"] == bytes(
        [7, 0, 255, 7]
    )


def test_read_mixed_flat_and_union_directory(spark, tmp_path):
    """A directory whose first file is flat (``long``: vectorized) and
    whose second spells the same column as an ``["int", "long"]`` union
    (row-only physical schema): the vectorized read falls back to the
    row decoder for that one file and returns every row."""
    flat = {"type": "record", "name": "r",
            "fields": [{"name": "x", "type": "long"},
                       {"name": "s", "type": "string"}]}
    union = {"type": "record", "name": "r",
             "fields": [{"name": "x", "type": ["int", "long"]},
                        {"name": "s", "type": "string"}]}
    with open(tmp_path / "a.avro", "wb") as fh:
        fh.write(encode_container(
            flat, iter([{"x": k, "s": f"a{k}"} for k in range(50)])
        ))
    with open(tmp_path / "b.avro", "wb") as fh:
        fh.write(encode_container(
            union,
            iter([{"x": 2**40 + k if k % 2 else k, "s": f"b{k}"}
                  for k in range(50)]),
        ))
    got = sorted(
        (r.x, r.s) for r in read_avro_lite(spark, str(tmp_path)).collect()
    )
    want = sorted(
        [(k, f"a{k}") for k in range(50)]
        + [(2**40 + k if k % 2 else k, f"b{k}") for k in range(50)]
    )
    assert got == want
