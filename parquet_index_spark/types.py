"""Type support + value normalization for index statistics.

The reference indexes exactly five Spark SQL types — Integer, Long, String,
Date, Timestamp (reference: ParquetSchemaUtils.scala:32-54, README.md:40-47).
We keep the same surface. Internally every non-string statistic is stored as
one int64 ("long-space"):

    int/long  -> the value itself
    date      -> days since epoch
    timestamp -> microseconds since epoch (Spark TimestampType precision)

which gives a single comparison codepath instead of the reference's five
statistics classes (ColumnStatistics.scala:165-402), and makes the metadata
a plain two-numeric-column Parquet dataset.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Optional

from pyspark.sql import types as T

# statistic "kinds"
INT = "int"
LONG = "long"
STRING = "string"
DATE = "date"
TIMESTAMP = "timestamp"          # instant semantics (isAdjustedToUTC)
TIMESTAMP_NTZ = "timestamp_ntz"  # wall-clock semantics (no timezone)

SUPPORTED_KINDS = (INT, LONG, STRING, DATE, TIMESTAMP, TIMESTAMP_NTZ)

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)


def resolve_tz(tz_name: Optional[str]) -> _dt.tzinfo:
    """Session-timezone string -> tzinfo. Supports IANA names and fixed
    offsets ('+08:00', 'UTC+8'); raises on anything unknown (callers treat
    that as un-foldable and scan, which is always sound)."""
    if not tz_name or tz_name.upper() in ("UTC", "Z", "GMT"):
        return _dt.timezone.utc
    import re as _re
    m = _re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2})(?::(\d{2}))?", tz_name)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        delta = _dt.timedelta(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
        return _dt.timezone(sign * delta)
    from zoneinfo import ZoneInfo
    return ZoneInfo(tz_name)


def kind_of_spark_type(dt: T.DataType) -> Optional[str]:
    """Map a Spark SQL type to a statistics kind; None => not indexable."""
    if isinstance(dt, T.IntegerType):
        return INT
    if isinstance(dt, T.LongType):
        return LONG
    if isinstance(dt, T.StringType):
        return STRING
    if isinstance(dt, T.DateType):
        return DATE
    if isinstance(dt, T.TimestampNTZType):
        # TimestampNTZ added in Spark 3.4; Spark 4 infers parquet
        # timestamp[ms]/[us] without timezone as NTZ. Wall-clock micros —
        # literals fold without timezone localization.
        return TIMESTAMP_NTZ
    if isinstance(dt, T.TimestampType):
        # instant semantics: stats store UTC micros, and naive literals are
        # session-timezone wall times that must be localized before folding
        # (the reference predates NTZ and only handles TimestampType,
        # ParquetSchemaUtils.scala:32-33)
        return TIMESTAMP
    return None


def to_long_space(value: Any, kind: str, tz: Optional[str] = None) -> int:
    """Normalize a non-string python value into long-space for comparisons.

    ``tz`` (session timezone name) only matters for TIMESTAMP-kind naive
    literals: Spark evaluates a naive timestamp literal as a wall time in
    spark.sql.session.timeZone, while the stored stats are UTC-instant
    micros — so the literal must be localized through the same timezone or
    the fold would compare a different instant than the residual filter
    (soundness bug flagged in round-1 ADVICE). Collection-time values from
    Arrow are tz-aware for instant columns, so collection never needs tz."""
    if kind in (INT, LONG):
        if isinstance(value, bool) or not isinstance(value, int):
            raise TypeError(f"expected int for kind={kind}, got {value!r}")
        return int(value)
    if kind == DATE:
        d = _coerce_date(value)
        return (d - _EPOCH_DATE).days
    if kind == TIMESTAMP:
        ts = _coerce_timestamp(value)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=resolve_tz(tz))
        return _dt_to_micros(ts)
    if kind == TIMESTAMP_NTZ:
        ts = _coerce_timestamp(value)
        if ts.tzinfo is not None:
            # comparing an instant literal against wall-clock stats needs a
            # cast through the session tz; fold conservatively instead
            raise TypeError(
                f"tz-aware literal {value!r} against TIMESTAMP_NTZ stats")
        return _dt_to_micros(ts)
    raise TypeError(f"kind {kind} is not long-space")


def as_instants(values, dtype: T.DataType) -> list:
    """Key values collected from Spark, ready to fold. PySpark returns a
    ``TimestampType`` value as a NAIVE datetime in the driver process's
    local zone (``TimestampType.fromInternal``), while the fold reads a
    naive literal as a wall time in the zone it is given — so a collected
    instant would fold as a different instant whenever the two zones
    differ. ``astimezone()`` makes each naive value the aware instant it
    is. Other types, ``TimestampNTZType`` included, and None pass
    through."""
    if not isinstance(dtype, T.TimestampType):
        return list(values)
    return [v.astimezone() if isinstance(v, _dt.datetime) and v.tzinfo is None
            else v for v in values]


def literal_to_stat_value(value: Any, kind: str, tz: Optional[str] = None) -> Any:
    """Normalize a predicate literal for comparison against stored stats:
    string kind -> str, everything else -> long-space int."""
    if value is None:
        return None
    if kind == STRING:
        if not isinstance(value, str):
            raise TypeError(f"expected str literal, got {value!r}")
        return value
    return to_long_space(value, kind, tz)


def _coerce_date(value: Any) -> _dt.date:
    if isinstance(value, _dt.datetime):
        return value.date()
    if isinstance(value, _dt.date):
        return value
    if isinstance(value, str):
        return _dt.date.fromisoformat(value)
    if isinstance(value, int):
        return _EPOCH_DATE + _dt.timedelta(days=value)
    raise TypeError(f"cannot interpret {value!r} as date")


def _coerce_timestamp(value: Any) -> _dt.datetime:
    if isinstance(value, _dt.datetime):
        return value
    if isinstance(value, _dt.date):
        return _dt.datetime(value.year, value.month, value.day)
    if isinstance(value, str):
        return _dt.datetime.fromisoformat(value)
    if isinstance(value, int):
        return _EPOCH_DT + _dt.timedelta(microseconds=value)
    raise TypeError(f"cannot interpret {value!r} as timestamp")


def _dt_to_micros(ts: _dt.datetime) -> int:
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    delta = ts - _EPOCH_DT
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def from_long_space(v: int, kind: str) -> Any:
    """Inverse of to_long_space: stored stat long -> native Python value.

    TIMESTAMP (instant) longs are UTC micros and come back tz-aware UTC —
    unambiguous under any session timezone; NTZ longs are wall micros and
    come back naive."""
    if kind in (INT, LONG):
        return int(v)
    if kind == DATE:
        return _EPOCH_DATE + _dt.timedelta(days=int(v))
    if kind == TIMESTAMP:
        return (_EPOCH_DT.replace(tzinfo=_dt.timezone.utc)
                + _dt.timedelta(microseconds=int(v)))
    if kind == TIMESTAMP_NTZ:
        return _EPOCH_DT + _dt.timedelta(microseconds=int(v))
    raise TypeError(f"kind {kind} is not long-space")


def parse_partition_value(raw: str, kind: str) -> Any:
    """Parse a hive partition directory value string into long/str space."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if kind == STRING:
        return raw
    if kind in (INT, LONG):
        return int(raw)
    if kind == DATE:
        return to_long_space(raw, DATE)
    if kind in (TIMESTAMP, TIMESTAMP_NTZ):
        # hive partition strings are wall-clock renderings; fold them as
        # wall micros (matches the NTZ interpretation of directory values)
        return to_long_space(raw, TIMESTAMP_NTZ)
    raise TypeError(kind)


def infer_partition_kind(values: list) -> str:
    """Infer a partition column's kind from its raw string values
    (simplified version of Spark's partition value inference)."""
    non_null = [v for v in values if v is not None and v != "__HIVE_DEFAULT_PARTITION__"]
    if not non_null:
        return STRING

    def all_parse(fn) -> bool:
        for v in non_null:
            try:
                fn(v)
            except (ValueError, TypeError):
                return False
        return True

    if all_parse(int):
        if all(-(2 ** 31) <= int(v) < 2 ** 31 for v in non_null):
            return INT
        return LONG
    if all_parse(_dt.date.fromisoformat):
        return DATE
    return STRING
