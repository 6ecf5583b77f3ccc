"""Timestamp → epoch-microseconds helper tolerant of TIMESTAMP_NTZ.

Spark's ``unix_micros`` only accepts TIMESTAMP (ltz); parquet written
by other engines often carries TIMESTAMP_NTZ. With the session tz
pinned to UTC (session.py) the cast is value-preserving, so all engine
operators funnel through this helper.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def micros(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp"))


def micros_sql(c: str) -> str:
    """``micros`` of column ``c`` as a SQL expression (for window
    functions only SQL can spell, e.g. ``lag … IGNORE NULLS``)."""
    return f"unix_micros(cast(`{c}` as timestamp))"
