"""C1-C10 / F3-F5 cleansing semantics, incl. the reference's golden cases
(tests/unit/test_ingest.py:8-21) and its deliberate asymmetries."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.operators.cleanse import (
    cap_future_timestamps,
    date_expr,
    null_future_dates,
    scrub_expr,
    timestamp_expr,
)
from lcr_etl_upgrade_spark.functions.cleansing import (
    boolean_expr,
    boolean_string_expr,
)


def _vals(spark, values, expr_fn, dtype="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {dtype}")
    return [r.out for r in df.select(expr_fn(F.col("v")).alias("out")).collect()]


def test_boolean_coercion_golden(spark):
    got = _vals(
        spark,
        ["true", "FALSE", "1", "0", "Yes", "no", "t", "f", "maybe", None],
        boolean_expr,
    )
    assert got == [True, False, True, False, True, False, True, False, None, None]


def test_boolean_string_golden(spark):
    """The reference's own golden test: ["true","false",None] ->
    ["TRUE","FALSE",None]; unknown tokens pass through unchanged."""
    got = _vals(spark, ["true", "false", None, "weird", "1", "F"], boolean_string_expr)
    assert got == ["TRUE", "FALSE", None, "weird", "TRUE", "FALSE"]


def test_invalid_timestamp_scrub(spark):
    got = _vals(
        spark,
        ["abc", "xyz", "--", "N/A", "2024-01-02 03:04:05", "x1y2z3", None],
        scrub_expr,
    )
    # 1-3 alpha chars, len<=3, digit-free -> null; digit-bearing strings kept
    assert got == [None, None, None, None, "2024-01-02 03:04:05", "x1y2z3", None]


def test_timestamp_native_then_fuzzy(spark):
    got = _vals(
        spark,
        ["2024-01-02 03:04:05", "abc", None],
        lambda c: timestamp_expr(c, fuzzy=False),
    )
    assert got == [dt.datetime(2024, 1, 2, 3, 4, 5), None, None]
    # fuzzy fallback parses formats to_timestamp rejects (dateutil path,
    # naive values interpreted America/New_York -> UTC wall time)
    got = _vals(spark, ["03/01/2024 00:00:00"], lambda c: timestamp_expr(c, fuzzy=True))
    assert got == [dt.datetime(2024, 3, 1, 5, 0, 0)]  # 00:00 EST == 05:00 UTC


def test_fuzzy_fallback_receives_only_native_rejects(spark, monkeypatch):
    """The fuzzy UDFs are handed ``when(native IS NULL, col)``: strings
    the native parser accepts reach the Python worker as nulls (Spark
    evaluates a coalesce argument for every row), and the result is
    unchanged — native where it parses, fuzzy elsewhere."""
    from lcr_etl_upgrade_spark.operators import parsers

    args = {}
    for name in ("fuzzy_parse_timestamp", "fuzzy_parse_date"):
        real = getattr(parsers, name)

        def spy(col, as_of=None, real=real, name=name):
            args[name] = col
            return real(col, as_of=as_of)

        monkeypatch.setattr(parsers, name, spy)
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05",), ("03/01/2024 00:00:00",), (None,)],
        "v string",
    )
    ts = timestamp_expr(F.col("v"))
    rows = df.select(
        ts.alias("out"), args["fuzzy_parse_timestamp"].alias("arg")
    ).collect()
    assert [r.arg for r in rows] == [None, "03/01/2024 00:00:00", None]
    assert [r.out for r in rows] == [
        dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2024, 3, 1, 5, 0, 0),
        None,
    ]
    df = spark.createDataFrame(
        [("2024-01-02",), ("March 1, 2024",), (None,)], "v string"
    )
    d = date_expr(F.col("v"))
    rows = df.select(
        d.alias("out"), args["fuzzy_parse_date"].alias("arg")
    ).collect()
    assert [r.arg for r in rows] == [None, "March 1, 2024", None]
    assert [r.out for r in rows] == [
        dt.date(2024, 1, 2), dt.date(2024, 3, 1), None
    ]


def test_fuzzy_parse_clamps_future_to_as_of(spark):
    """The reference clamps fuzzily-parsed FUTURE timestamps to 'now'
    inside its parse UDF (ingest.py:415-418); as_of makes that replayable.
    Future DATES parsed fuzzily become NULL (ingest.py:438-441)."""
    as_of = "2026-01-01 00:00:00"
    got = _vals(
        spark,
        ["03/01/2090 00:00:00", "03/01/2024 00:00:00"],
        lambda c: timestamp_expr(c, fuzzy=True, as_of=as_of),
    )
    assert got == [dt.datetime(2026, 1, 1), dt.datetime(2024, 3, 1, 5, 0, 0)]
    # natively-parsed futures are NOT clamped here (that is F5's job)
    got = _vals(
        spark, ["2090-01-02 03:04:05"], lambda c: timestamp_expr(c, fuzzy=True, as_of=as_of)
    )
    assert got == [dt.datetime(2090, 1, 2, 3, 4, 5)]
    from lcr_etl_upgrade_spark.operators.parsers import fuzzy_parse_date

    got = _vals(
        spark,
        ["03/01/2090", "03/01/2024"],
        lambda c: fuzzy_parse_date(c, as_of=as_of),
    )
    assert got == [None, dt.date(2024, 3, 1)]


def test_date_parse(spark):
    got = _vals(spark, ["2024-03-01", "garbage9"], lambda c: date_expr(c, fuzzy=True))
    assert got == [dt.date(2024, 3, 1), None]


def test_future_asymmetry_cap_vs_null(spark):
    """Timestamps clamp to as_of; dates become NULL (ingest.py:415-418 vs
    438-441 — asymmetric on purpose)."""
    as_of = "2026-01-01 00:00:00"
    df = spark.createDataFrame(
        [(dt.datetime(2030, 1, 1),)], "ts timestamp_ntz"
    )
    capped = cap_future_timestamps(df, ["ts"], as_of=as_of).collect()[0].ts
    assert capped == dt.datetime(2026, 1, 1)

    ddf = spark.createDataFrame([(dt.date(2030, 1, 1),), (dt.date(2020, 1, 1),)], "d date")
    got = [r.d for r in null_future_dates(ddf, ["d"], as_of=as_of).collect()]
    assert got == [None, dt.date(2020, 1, 1)]


def test_json_passthrough_never_flattened(spark):
    """C1: JSON stays byte-identical (docs/qa_observations.md:7)."""
    from lcr_etl_upgrade_spark.operators.cleanse import coerce_expr
    from pyspark.sql import types as T

    payload = '{"a": 1, "b": {"c": [1, 2]}}'
    df = spark.createDataFrame([(payload,), (None,)], "j string")
    got = [
        r.out
        for r in df.select(
            coerce_expr(F.col("j"), T.StringType(), json_column=True).alias("out")
        ).collect()
    ]
    assert got == [payload, None]


def test_fuzzy_parser_overflow_near_datetime_max_is_null(spark):
    """'12/31/9999 11:00 PM' parses, but the NY->UTC shift overflows
    datetime.max — that must be 'unparseable' (NULL), not an executor
    task crash on one bad row."""
    from lcr_etl_upgrade_spark.operators.parsers import fuzzy_parse_timestamp

    df = spark.createDataFrame(
        [("12/31/9999 11:00 PM",), ("2024-06-01 bogus 12:00",)],
        "s string",
    )
    got = df.select(fuzzy_parse_timestamp(F.col("s")).alias("ts")).collect()
    assert got[0].ts is None  # overflow -> null, no crash
    assert got[1].ts is not None  # normal fuzzy parse still works


def test_fuzzy_parser_accepts_offset_carrying_as_of(spark):
    """An as_of with an explicit offset ('+00:00') must be normalized at
    UDF-build time — a naive-vs-aware comparison inside the UDF raised
    TypeError on the first plausible row."""
    from lcr_etl_upgrade_spark.operators.parsers import fuzzy_parse_timestamp

    df = spark.createDataFrame([("2099-01-01 12:00:00",)], "s string")
    got = df.select(
        fuzzy_parse_timestamp(
            F.col("s"), as_of="2024-06-01T00:00:00+00:00"
        ).alias("ts")
    ).collect()[0].ts
    # future value clamped to the (normalized) as_of
    assert str(got) == "2024-06-01 00:00:00"
