"""Type-coercion / cleansing operators (reference SURVEY.md §2.4–§2.5).

Each reference semantic (C1–C10, F3–F5) is a pure Column expression or a
single-projection DataFrame transform — JVM-side, codegen-friendly, no
per-column withColumn chains. The fuzzy-parse fallback (U1/U2) lives in
``operators.parsers`` as Arrow-vectorized pandas UDFs and is composed
native-first: ``coalesce(native, fuzzy(when(native IS NULL, col)))``.
The coalesce alone does not keep rows out of the UDF — Spark evaluates
its argument for every row — so the rows the built-in parser accepted
cross as nulls and only the rejected ones reach dateutil.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lcr_etl_upgrade_spark.functions.cleansing import (
    boolean_expr,
    boolean_expr_sql,
    boolean_string_expr,
    boolean_string_expr_sql,
    invalid_timestamp_predicate,
    invalid_timestamp_predicate_sql,
    quote_ident,
    residual_garbage_predicate,
)

# shared injectable-'now' helper — a second verbatim copy here would
# drift from conform's (it did, during the round-5 NTZ-consistency fix)
from lcr_etl_upgrade_spark.operators.conform import _as_of_col


def scrub_expr(col: Column) -> Column:
    """F3/C9: null out values that cannot be timestamps (ingest.py:507-536)."""
    return F.when(invalid_timestamp_predicate(col.cast("string")), F.lit(None)).otherwise(col)


def timestamp_expr(
    col: Column,
    fuzzy: bool = True,
    as_of: str | None = None,
    ltz_target: bool = False,
) -> Column:
    """C2: native parse first, Arrow-vectorized fuzzy fallback
    (ingest.py:551-570 orders native-first the same way).

    try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4 default)
    the plain parser THROWS on malformed input; the reference's tolerant
    null-on-failure semantics require the try_ variant.

    ``as_of`` reaches only the fuzzy path: the reference clamps futures to
    'now' inside its parse UDF (ingest.py:415-418), so natively-parsed
    future values stay untouched — cap_future_timestamps (F5) is the
    separate explicit cap for the columns the reference lists.

    ``ltz_target``: the fuzzy parser returns TIMESTAMP_NTZ holding a UTC
    wall time. For an NTZ target the wall value round-trips unchanged
    through coalesce's type unification under any session zone, but for
    an LTZ (TimestampType) target a bare coalesce would interpret that
    wall in the SESSION zone — shifting the stored instant by the
    session offset on non-UTC sessions (session.py pins UTC, but
    coerce_expr must hold for externally-built sessions too). Setting
    ltz_target reinterprets the UTC wall explicitly; exact no-op under a
    UTC session."""
    cleaned = scrub_expr(col.cast("string"))
    native = F.try_to_timestamp(cleaned)
    if not fuzzy:
        return native
    from lcr_etl_upgrade_spark.operators.parsers import fuzzy_parse_timestamp

    fuzzy_col = fuzzy_parse_timestamp(
        F.when(native.isNull(), cleaned), as_of=as_of
    )
    if ltz_target:
        fuzzy_col = F.from_utc_timestamp(
            fuzzy_col.cast("timestamp"), F.expr("current_timezone()")
        )
    return F.coalesce(native, fuzzy_col)


def date_expr(col: Column, fuzzy: bool = True, as_of: str | None = None) -> Column:
    """C3: to_date with fuzzy fallback (ingest.py:572-582); try-semantics
    via try_cast for ANSI-mode null-on-failure.

    Representability note: the native branch is Spark's own date cast, which
    accepts years beyond 9999 ('99999-01-01' parses to a year-99999 date).
    That matches the reference (its native branch is Spark's to_date,
    ingest.py:572), but such dates exceed ``datetime.date``'s range and fail
    Python-side row conversion at collect/Arrow time. The fuzzy fallback is
    immune (dateutil rejects 5-digit years); callers collecting native-parsed
    columns to Python should bound years upstream if their source can
    produce them. Deliberately NOT clamped here — fidelity over totality.
    """
    cleaned = scrub_expr(col.cast("string"))
    native = cleaned.try_cast("date")
    if not fuzzy:
        return native
    from lcr_etl_upgrade_spark.operators.parsers import fuzzy_parse_date

    return F.coalesce(
        native,
        fuzzy_parse_date(F.when(native.isNull(), cleaned), as_of=as_of),
    )


def scrub_sql(c: str) -> str:
    """SQL text of ``scrub_expr`` over expression ``c`` (STRING-typed)."""
    return (
        f"(CASE WHEN {invalid_timestamp_predicate_sql(c)} "
        f"THEN NULL ELSE {c} END)"
    )


def as_of_sql(as_of: str | None) -> str:
    """SQL text of conform._as_of_col (TIMESTAMP_NTZ in both modes)."""
    if as_of is None:
        return "localtimestamp()"
    return "CAST('" + as_of.replace("'", "''") + "' AS TIMESTAMP_NTZ)"


def coerce_sql(
    c: str,
    dtype: T.DataType,
    *,
    json_column: bool = False,
    boolean_string: bool = False,
) -> str | None:
    """SQL text mirror of ``coerce_expr`` for the non-fuzzy paths;
    returns None for the dtypes whose cleansing needs the Column API
    (the Arrow fuzzy-parser fallback is a pandas UDF, not SQL text).

    Why text: a wide cleansing projection built through the Column API
    costs 2-4 py4j driver round-trips per method call — ~0.3 s of plan
    construction for the 101-column LEAD spec — where the identical
    projection as parsed SQL strings is microseconds in the JVM
    (measured r13; equality pinned by tests/test_cleanse_sql_equiv.py).
    """
    if json_column:
        return (
            f"(CASE WHEN {c} IS NULL THEN CAST(NULL AS STRING) "
            f"ELSE CAST({c} AS STRING) END)"
        )
    if boolean_string:
        return boolean_string_expr_sql(c)
    if isinstance(dtype, T.TimestampType | T.TimestampNTZType):
        return f"try_to_timestamp({scrub_sql(f'CAST({c} AS STRING)')})"
    if isinstance(dtype, T.DateType):
        return f"TRY_CAST({scrub_sql(f'CAST({c} AS STRING)')} AS DATE)"
    if isinstance(dtype, T.BooleanType):
        return boolean_expr_sql(c)
    return f"TRY_CAST({c} AS {dtype.simpleString()})"


def coerce_expr(
    col: Column,
    dtype: T.DataType,
    *,
    json_column: bool = False,
    boolean_string: bool = False,
    fuzzy: bool = True,
    as_of: str | None = None,
) -> Column:
    """Dispatch a single column to its cleansing expression, mirroring the
    reference's transform_column (ingest.py:538-622):

    - JSON columns: passthrough as string, never parsed/flattened (C1)
    - TimestampType: scrub + native-first parse (C2)
    - DateType: scrub + native-first parse (C3)
    - DecimalType / DoubleType: plain cast (C4/C5)
    - BooleanType: tolerant token coercion (C6)
    - boolean-string columns: normalize to "TRUE"/"FALSE" (C7)
    - everything else: cast to string (C8)
    """
    if json_column:
        return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
            col.cast("string")
        )
    if boolean_string:
        return boolean_string_expr(col)
    if isinstance(dtype, T.TimestampType | T.TimestampNTZType):
        return timestamp_expr(
            col,
            fuzzy=fuzzy,
            as_of=as_of,
            ltz_target=isinstance(dtype, T.TimestampType)
            and not isinstance(dtype, T.TimestampNTZType),
        )
    if isinstance(dtype, T.DateType):
        return date_expr(col, fuzzy=fuzzy, as_of=as_of)
    if isinstance(dtype, T.DecimalType | T.DoubleType | T.FloatType):
        # try_cast: ANSI mode (Spark 4 default) makes plain cast throw on
        # malformed numerics; the reference nulls them (ingest.py:584-591).
        return col.try_cast(dtype.simpleString())
    if isinstance(dtype, T.BooleanType):
        return boolean_expr(col)
    return col.try_cast(dtype.simpleString())


def cleanse_to_schema(
    df: DataFrame,
    target: T.StructType,
    *,
    json_columns: set[str] | None = None,
    boolean_string_columns: set[str] | None = None,
    as_of: str | None = None,
    fuzzy: bool = True,
) -> DataFrame:
    """Apply the full cleansing pass as ONE projection (vs the reference's
    ~90 chained withColumns per table, ingest.py:672-679).

    ETL_* timestamp columns get a coalesce-to-as_of fallback, mirroring
    clean_invalid_timestamps (ingest.py:529-535).
    """
    json_columns = json_columns or set()
    boolean_string_columns = boolean_string_columns or set()
    # Per column, either SQL text (the cheap path — one parsed string
    # instead of dozens of py4j Column calls) or a Column (the fuzzy
    # timestamp/date fallback composes a pandas UDF, which has no SQL
    # spelling). All-text projections go through ONE selectExpr call.
    items: list[tuple[str, str | Column]] = []
    aof = as_of_sql(as_of)
    for field in target.fields:
        ddl = field.dataType.simpleString()
        is_etl_ts = field.name.startswith("ETL_") and isinstance(
            field.dataType, T.TimestampType | T.TimestampNTZType
        )
        if field.name not in df.columns:
            # the documented coalesce-to-as_of fallback applies to an
            # ABSENT ETL_* timestamp column too — an all-NULL audit
            # column contradicts ingest.py:529-535's semantics
            missing = f"CAST({aof} AS {ddl})" if is_etl_ts else f"CAST(NULL AS {ddl})"
            items.append((field.name, missing))
            continue
        fuzzy_field = fuzzy and isinstance(
            field.dataType, T.TimestampType | T.TimestampNTZType | T.DateType
        ) and field.name not in json_columns and field.name not in boolean_string_columns
        if fuzzy_field:
            expr = coerce_expr(
                F.col(field.name),
                field.dataType,
                json_column=False,
                boolean_string=False,
                fuzzy=True,
                as_of=as_of,
            )
            if is_etl_ts:
                expr = F.coalesce(expr, _as_of_col(as_of).cast(field.dataType))
            if isinstance(field.dataType, T.DateType):
                # U2 semantics: future dates -> NULL (the timestamp/date
                # asymmetry, reference ingest.py:438-441), relative to as_of.
                expr = F.when(
                    expr > _as_of_col(as_of).cast("date"),
                    F.lit(None).cast("date"),
                ).otherwise(expr)
            items.append((field.name, expr.cast(field.dataType)))
            continue
        s = coerce_sql(
            quote_ident(field.name),
            field.dataType,
            json_column=field.name in json_columns,
            boolean_string=field.name in boolean_string_columns,
        )
        if is_etl_ts:
            s = f"coalesce({s}, CAST({aof} AS {ddl}))"
        if isinstance(field.dataType, T.DateType):
            s = (
                f"(CASE WHEN ({s} > CAST({aof} AS DATE)) "
                f"THEN CAST(NULL AS DATE) ELSE {s} END)"
            )
        items.append((field.name, f"CAST({s} AS {ddl})"))
    if all(isinstance(s, str) for _, s in items):
        return df.selectExpr(
            *[f"{s} AS {quote_ident(n)}" for n, s in items]
        )
    return df.select(
        *[
            (F.expr(s) if isinstance(s, str) else s).alias(n)
            for n, s in items
        ]
    )


def cap_future_timestamps(
    df: DataFrame,
    columns: list[str],
    as_of: str | None = None,
    output_suffix: str | None = None,
) -> DataFrame:
    """F5: clamp future timestamps to as_of (reference ingest.py:734-748
    uses wall-clock current_timestamp; as_of injection makes it replayable).

    With ``output_suffix`` the capped value lands in a new column;
    otherwise it replaces the original.
    """
    ts = _as_of_col(as_of)
    dtypes = dict(df.dtypes)
    updates = {}
    for name in columns:
        capped = F.when(F.col(name) > ts, ts.cast(dtypes[name])).otherwise(
            F.col(name)
        )
        updates[name + output_suffix if output_suffix else name] = capped
    return df.withColumns(updates)


def null_future_dates(df: DataFrame, columns: list[str], as_of: str | None = None) -> DataFrame:
    """Date counterpart of F5 — futures become NULL, not capped (the
    reference is deliberately asymmetric here: ingest.py:438-441)."""
    d = _as_of_col(as_of).cast("date")
    return df.withColumns(
        {
            name: F.when(F.col(name) > d, F.lit(None).cast("date")).otherwise(
                F.col(name)
            )
            for name in columns
        }
    )


def scrub_residual_garbage(
    df: DataFrame, columns: list[str], as_of: str | None = None
) -> DataFrame:
    """F4 final pass: timestamps whose string form still contains non-
    timestamp characters become NULL; ETL_* columns fall back to as_of
    (reference ingest.py:765-778)."""
    ts = _as_of_col(as_of)
    dtypes = dict(df.dtypes)
    updates = {}
    for name in columns:
        cleaned = F.when(
            residual_garbage_predicate(F.col(name)), F.lit(None)
        ).otherwise(F.col(name))
        if name.startswith("ETL_"):
            cleaned = F.coalesce(cleaned, ts.cast(dtypes[name]))
        updates[name] = cleaned
    return df.withColumns(updates)


def backfill_modify_date(
    df: DataFrame, modify_col: str = "MODIFY_DATE", create_col: str = "CREATE_DATE"
) -> DataFrame:
    """C10: MODIFY_DATE := coalesce(MODIFY_DATE, CREATE_DATE) (ingest.py:804)."""
    return df.withColumn(modify_col, F.coalesce(F.col(modify_col), F.col(create_col)))
