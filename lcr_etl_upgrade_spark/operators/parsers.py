"""U1/U2 — fuzzy timestamp/date parsers as Arrow-vectorized pandas UDFs.

The reference implements these as row-at-a-time Python UDFs
(ingest.py:390-422, 424-443) — the one place it leaves the JVM. Here they
are pandas UDFs (Arrow batch transfer, ~10-100x less serde overhead),
invoked only as ``coalesce(native, fuzzy(when(native IS NULL, col)))``
(``operators.cleanse``): Spark still sends every row to the worker, but
the rows the native parser accepted arrive as nulls, so only the rows it
rejected are parsed here.

Reference semantics preserved:
- reject empty / <=3 chars / digit-free strings;
- strict parse first, retry with fuzzy=True (timestamp only);
- timezone: naive values are interpreted in America/New_York and converted
  to UTC instants (the reference pins NY, ingest.py:404-411);
- FUTURE asymmetry: timestamps are clamped to as_of, dates become null
  (ingest.py:415-418 vs 438-441).
"""

from __future__ import annotations

import datetime as dt
from functools import lru_cache
from zoneinfo import ZoneInfo

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # dateutil ships with pandas, but gate it anyway
    from dateutil import parser as du_parser

    _HAVE_DATEUTIL = True
except Exception:  # pragma: no cover
    _HAVE_DATEUTIL = False

NY = ZoneInfo("America/New_York")
UTC = dt.timezone.utc


def _plausible(value: object) -> bool:
    if value is None or not isinstance(value, str):
        return False
    s = value.strip()
    if len(s) <= 3:
        return False
    return any(ch.isdigit() for ch in s)


def _parse_one_timestamp(s: str, as_of: dt.datetime | None) -> dt.datetime | None:
    # Determinism note: dateutil anchors fields missing from the input to
    # datetime.now() — under fuzzy=True, digit-bearing junk like '12ab34xz'
    # parses as day-12 of the CURRENT month, so reruns on different days
    # differ. Inherited dateutil behavior (the reference's fallback shares
    # it); the scrub upstream already nulls the worst of it (digit-free or
    # <=3-char strings) and as_of caps how far forward the anchor can land.
    # Property-tested in
    # tests/test_properties.py::test_timestamp_expr_matches_python_restatement.
    if not _HAVE_DATEUTIL or not _plausible(s):
        return None
    for fuzzy in (False, True):
        try:
            parsed = du_parser.parse(s, fuzzy=fuzzy)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=NY)
            # astimezone stays INSIDE the try: near datetime.max the
            # NY->UTC shift overflows (e.g. '12/31/9999 11:00 PM' + ~5h)
            # — an OverflowError here must be "unparseable", not a task
            # crash that kills the job on one bad row
            parsed = parsed.astimezone(UTC).replace(tzinfo=None)
        except (ValueError, OverflowError, TypeError):
            continue
        if as_of is not None and parsed > as_of:
            parsed = as_of
        return parsed
    return None


@lru_cache(maxsize=64)
def _fuzzy_ts_udf_for(as_of_iso: str | None):
    """Build (and cache) a pandas UDF that clamps futures to ``as_of_iso``.

    The clamp instant is captured at UDF-build time so the job is
    replayable and oracle-hashable; ``None`` disables the clamp.

    DELIBERATE DIVERGENCE from the reference: ingest.py NY-localizes and
    future-clamps only its strict-parse branch (ingest.py:411-418) and
    returns raw, unlocalized, UNCLAMPED datetimes from its fuzzy=True
    fallback (ingest.py:419-422) — so a string that only parses fuzzily
    escapes both the timezone normalization and the future clamp. That
    asymmetry is almost certainly an oversight (one ingest row can mix
    localized and raw instants depending on which branch each string
    took), so this rebuild applies the same localize+clamp to BOTH
    branches. Callers wanting the reference's raw fuzzy behavior get it
    with ``as_of=None`` minus the localization, which we consider
    unreproducible-by-design.
    """
    as_of = dt.datetime.fromisoformat(as_of_iso) if as_of_iso else None
    if as_of is not None and as_of.tzinfo is not None:
        # normalize an offset-carrying as_of ('...Z' / '+00:00') to a UTC
        # wall at BUILD time — a naive-vs-aware `parsed > as_of` inside
        # the UDF raises TypeError on the first plausible row
        as_of = as_of.astimezone(UTC).replace(tzinfo=None)

    @F.pandas_udf(T.TimestampNTZType())
    def _udf(values: pd.Series) -> pd.Series:
        return values.map(lambda s: _parse_one_timestamp(s, as_of))

    return _udf


def fuzzy_parse_timestamp(col: Column, as_of: str | None = None) -> Column:
    """U1 fallback parser; returns timestamp_ntz (UTC wall time).

    ``as_of`` (ISO string, UTC wall time): parsed values later than it
    are clamped to it. The reference applies its future-clamp only to
    strict parses (ingest.py:415-418) and leaves fuzzy-fallback parses
    raw (ingest.py:419-422); this rebuild clamps both — see
    ``_fuzzy_ts_udf_for`` for why that divergence is deliberate.
    """
    return _fuzzy_ts_udf_for(as_of)(col)


def _parse_one_date(s: str, as_of_date: dt.date | None) -> dt.date | None:
    if not _HAVE_DATEUTIL or not _plausible(s):
        return None
    try:
        parsed = du_parser.parse(s, fuzzy=False).date()
    except (ValueError, OverflowError, TypeError):
        return None
    if as_of_date is not None and parsed > as_of_date:
        return None  # future dates -> null (asymmetric with timestamps)
    return parsed


@lru_cache(maxsize=64)
def _fuzzy_date_udf_for(as_of_iso: str | None):
    as_of_date = dt.date.fromisoformat(as_of_iso[:10]) if as_of_iso else None

    @F.pandas_udf(T.DateType())
    def _udf(values: pd.Series) -> pd.Series:
        return values.map(lambda s: _parse_one_date(s, as_of_date))

    return _udf


def fuzzy_parse_date(col: Column, as_of: str | None = None) -> Column:
    """U2 fallback parser (strict parse only, per the reference).

    ``as_of``: parsed dates after it become NULL — the deliberate
    asymmetry with timestamps (ingest.py:438-441 vs 415-418).
    """
    return _fuzzy_date_udf_for(as_of)(col)
