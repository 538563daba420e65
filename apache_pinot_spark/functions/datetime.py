"""dateTrunc / fromDateTime — Pinot datetime functions with epoch-millis
parity (reference basics/indexing/timestamp-index.md:11,27-39: TIMESTAMP is
stored as LONG epoch millis, and dateTrunc results are compared against
epoch values)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_UNITS = {"SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH", "QUARTER", "YEAR"}

# Joda (Pinot) → JDK (Spark) datetime pattern differences we translate.
_PATTERN_MAP = [("yyyy", "yyyy"), ("ZZ", "XXX"), ("Z", "xx")]


def date_trunc_millis(unit: str, ts: Column | str) -> Column:
    """Pinot dateTrunc('UNIT', ts) → LONG epoch millis of the truncated
    bucket (timestamp-index.md:33-39 compares the result against
    fromDateTime epoch values)."""
    u = unit.upper()
    if u not in _UNITS:
        raise ValueError(f"dateTrunc: unsupported unit {unit!r}")
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.unix_timestamp(F.date_trunc(u, c)) * 1000).cast("long")


def from_datetime(literal: str | Column, pattern: str) -> Column:
    """Pinot fromDateTime('2014-01-16', 'yyyy-MM-dd') → LONG epoch millis
    (timestamp-index.md:36). Joda patterns are translated to JDK."""
    pat = pattern
    for joda, jdk in _PATTERN_MAP:
        pat = pat.replace(joda, jdk)
    lit = F.lit(literal) if isinstance(literal, str) else literal
    return (F.unix_timestamp(F.to_timestamp(lit, pat)) * 1000).cast("long")
