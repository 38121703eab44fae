"""Timestamp conversions (reference src/parsers/time.rs:1-21).

Catalyst-native column expressions — no UDFs. Naive-UTC semantics are
preserved by the session timezone (set to UTC in session.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# seconds between 1601-01-01 and 1970-01-01
WEBKIT_EPOCH_OFFSET_S = 11_644_473_600
WEBKIT_EPOCH_OFFSET_US = WEBKIT_EPOCH_OFFSET_S * 1_000_000

# Wall-clock epoch as TIMESTAMP_NTZ — the anchor for timezone-free
# microsecond arithmetic below.
NTZ_EPOCH_SQL = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ts_unix_micros(col: Column) -> Column:
    """Wall-clock µs since 1970-01-01 for TIMESTAMP or TIMESTAMP_NTZ input.

    `F.unix_micros` rejects TIMESTAMP_NTZ (the type Spark 4 infers for
    parquet `timestamp[us]` columns with no timezone), and casting NTZ
    through TIMESTAMP would shift by the session timezone. Casting *to*
    NTZ and diffing against an NTZ epoch is timezone-free for naive
    inputs and session-tz-consistent for instant inputs.
    """
    return F.timestamp_diff(
        "MICROSECOND", F.expr(NTZ_EPOCH_SQL), col.cast("timestamp_ntz")
    )


def ts_unix_micros_sql(col_name: str) -> str:
    """SQL-expression twin of ts_unix_micros for F.expr() call sites.
    The identifier is backtick-quoted so names needing quoting (spaces,
    dots, hyphens) survive the string interpolation."""
    quoted = "`" + col_name.replace("`", "``") + "`"
    return (
        f"timestampdiff(MICROSECOND, {NTZ_EPOCH_SQL},"
        f" CAST({quoted} AS TIMESTAMP_NTZ))"
    )


def ntz_from_unix_micros(col: Column) -> Column:
    """µs since epoch -> TIMESTAMP_NTZ (naive UTC wall clock) — pure
    integer arithmetic against an NTZ anchor, so the result is
    identical under any driver session timezone (unlike
    `timestamp_micros`, which builds an instant that renders through
    the session zone)."""
    return F.timestamp_add("MICROSECOND", col, F.expr(NTZ_EPOCH_SQL))


def webkit_micros_to_timestamp(col: Column) -> Column:
    """µs since 1601-01-01 -> TIMESTAMP_NTZ; <=0 -> null
    (reference src/parsers/time.rs:1-12)."""
    return F.when(col > 0, ntz_from_unix_micros(col - F.lit(WEBKIT_EPOCH_OFFSET_US)))


def unix_micros_to_timestamp(col: Column) -> Column:
    """µs since epoch -> TIMESTAMP_NTZ; <=0 -> null
    (reference src/parsers/time.rs:14-21)."""
    return F.when(col > 0, ntz_from_unix_micros(col))


def python_webkit_to_datetime(value: int):
    """Python-side variant for page recovery plausibility checks."""
    from datetime import datetime, timedelta, timezone

    if value is None or value <= 0:
        return None
    try:
        epoch = datetime(1601, 1, 1, tzinfo=timezone.utc)
        return (epoch + timedelta(microseconds=value)).replace(tzinfo=None)
    except OverflowError:
        return None


def python_unix_micro_to_datetime(value: int):
    from datetime import datetime, timezone

    if value is None or value <= 0:
        return None
    try:
        return datetime.fromtimestamp(value / 1_000_000, tz=timezone.utc).replace(tzinfo=None)
    except (OverflowError, OSError, ValueError):
        return None
