"""TIMESTAMP AS OF time travel: version_at_timestamp resolution +
read_delta_lite(timestamp=...) + restore_table(timestamp=...).

Resolution rule (delta-spark parity): greatest version whose commit
timestamp <= the requested time, on CANONICALIZED (running-max)
commit timestamps so clock skew between writers cannot make the
mapping ambiguous; a pre-table timestamp raises, and a future one
raises on the read path (delta-spark parity) while resolving to latest
only under allow_future=True (the RESTORE rule) — round-11 ADVICE.

The registry's ``read_delta`` takes the same instant as epoch-ms,
datetime or ISO string and resolves the same snapshot whichever
runtime dispatches; the string handed to delta-spark's option renders
the instant in the SESSION timezone.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from lcr_etl_upgrade_spark.delta_lite import (
    read_delta_lite,
    restore_table,
    version_at_timestamp,
    write_delta_lite,
)
from lcr_etl_upgrade_spark.sources.registry import (
    _timestamp_as_of_epoch_ms,
    _timestamp_as_of_session_str,
    read_delta,
)


def _table_with_times(spark, path, times_ms):
    """A table whose commitInfo timestamps are rewritten to times_ms,
    one per version (log-authoritative, like table_history reads)."""
    write_delta_lite(spark.range(0, 10).select("id"), path)
    for i, _ in enumerate(times_ms[1:], start=1):
        write_delta_lite(
            spark.range(i * 10, i * 10 + 10).select("id"),
            path,
            mode="append",
        )
    log = os.path.join(path, "_delta_log")
    for v, ts in enumerate(times_ms):
        p = os.path.join(log, f"{v:020d}.json")
        lines = [json.loads(l) for l in open(p) if l.strip()]
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        with open(p, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")


def test_resolution_boundaries(spark, tmp_path):
    path = str(tmp_path / "t")
    _table_with_times(spark, path, [1000, 2000, 3000])
    assert version_at_timestamp(path, 1000) == 0
    assert version_at_timestamp(path, 1999) == 0
    assert version_at_timestamp(path, 2000) == 1
    assert version_at_timestamp(path, 2500) == 1
    # future: reads refuse (delta-spark parity), RESTORE rule -> latest
    with pytest.raises(ValueError, match="after the latest commit"):
        version_at_timestamp(path, 10_000_000)
    assert version_at_timestamp(path, 10_000_000, allow_future=True) == 2
    with pytest.raises(ValueError, match="precedes the first commit"):
        version_at_timestamp(path, 999)


def test_clock_skew_canonicalized(spark, tmp_path):
    # version 1's writer had a fast clock (5000), version 2 a correct
    # one (3000): canonicalization carries the running max, so 4000
    # maps BELOW version 1 and both later versions need >= 5000
    path = str(tmp_path / "t")
    _table_with_times(spark, path, [1000, 5000, 3000])
    assert version_at_timestamp(path, 4999) == 0
    assert version_at_timestamp(path, 5000) == 2  # 1 and 2 both at 5000
    assert version_at_timestamp(path, 6000, allow_future=True) == 2


def test_read_at_timestamp(spark, tmp_path):
    path = str(tmp_path / "t")
    _table_with_times(spark, path, [1000, 2000, 3000])
    assert read_delta_lite(spark, path, timestamp=2100).count() == 20
    assert read_delta_lite(spark, path, timestamp=1500).count() == 10
    with pytest.raises(ValueError, match="not both"):
        read_delta_lite(spark, path, version=1, timestamp=1500)


def test_datetime_and_iso_inputs(spark, tmp_path):
    path = str(tmp_path / "t")
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    ms = int(t0.timestamp() * 1000)
    _table_with_times(spark, path, [ms, ms + 60_000])
    assert version_at_timestamp(path, t0) == 0
    assert version_at_timestamp(path, "2026-01-01T00:00:30+00:00") == 0
    assert version_at_timestamp(path, "2026-01-01T00:01:00+00:00") == 1
    # naive datetime/ISO read as UTC
    assert version_at_timestamp(
        path, dt.datetime(2026, 1, 1, 0, 1, 0)
    ) == 1


def test_restore_to_timestamp(spark, tmp_path):
    path = str(tmp_path / "t")
    _table_with_times(spark, path, [1000, 2000, 3000])
    res = restore_table(spark, path, timestamp=2400)  # -> version 1
    assert res["version"] == 3
    assert read_delta_lite(spark, path).count() == 20
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(spark, path)
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(spark, path, version=0, timestamp=1000)


def test_future_timestamp_read_refuses_restore_resolves(spark, tmp_path):
    path = str(tmp_path / "t")
    _table_with_times(spark, path, [1000, 2000, 3000])
    with pytest.raises(ValueError, match="after the latest commit"):
        read_delta_lite(spark, path, timestamp=9999)
    with pytest.raises(ValueError, match="after the latest commit"):
        read_delta(spark, path, timestamp=9999)
    # boundary: exactly the latest commit time still reads
    assert read_delta_lite(spark, path, timestamp=3000).count() == 30
    # RESTORE keeps the permissive rule: future -> latest == no-op
    res = restore_table(spark, path, timestamp=9999)
    assert res["version"] is None  # already at latest


def test_timestamp_forms_canonicalize_to_same_instant():
    instant = dt.datetime(2026, 3, 1, 12, 30, 45, tzinfo=dt.timezone.utc)
    ms = int(instant.timestamp() * 1000)
    assert _timestamp_as_of_epoch_ms(ms) == ms
    assert _timestamp_as_of_epoch_ms(float(ms)) == ms
    assert _timestamp_as_of_epoch_ms(instant) == ms
    # naive datetime / ISO string are UTC
    assert _timestamp_as_of_epoch_ms(instant.replace(tzinfo=None)) == ms
    assert _timestamp_as_of_epoch_ms("2026-03-01T12:30:45") == ms
    assert _timestamp_as_of_epoch_ms("2026-03-01T12:30:45+00:00") == ms
    # aware non-UTC form still lands on the same instant
    offset = dt.timezone(dt.timedelta(hours=-5))
    assert _timestamp_as_of_epoch_ms(instant.astimezone(offset)) == ms


def test_session_str_renders_in_session_timezone(spark):
    instant = dt.datetime(2026, 3, 1, 12, 30, 45, tzinfo=dt.timezone.utc)
    prior = spark.conf.get("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert (
            _timestamp_as_of_session_str(spark, instant)
            == "2026-03-01 12:30:45.000"
        )
        # the string delta-spark parses in session tz must denote the
        # SAME instant: UTC-12:30 renders as 07:30 America/New_York (EST)
        spark.conf.set(
            "spark.sql.session.timeZone", "America/New_York"
        )
        assert (
            _timestamp_as_of_session_str(spark, instant)
            == "2026-03-01 07:30:45.000"
        )
        # epoch-ms input (what delta-spark's option would reject raw)
        # normalizes to the same parseable string
        ms = int(instant.timestamp() * 1000)
        assert (
            _timestamp_as_of_session_str(spark, ms)
            == "2026-03-01 07:30:45.000"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_read_delta_accepts_every_form_same_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    ms = int(t0.timestamp() * 1000)
    _table_with_times(spark, path, [ms, ms + 60_000, ms + 120_000])
    probe = ms + 70_000  # between v1 and v2 -> v1 (20 rows)
    as_dt = dt.datetime.fromtimestamp(probe / 1000, dt.timezone.utc)
    for form in (probe, as_dt, as_dt.replace(tzinfo=None).isoformat()):
        assert read_delta(spark, path, timestamp=form).count() == 20
