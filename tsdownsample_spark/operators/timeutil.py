"""Shared time arithmetic for the window operators.

One definition of "microseconds since the epoch" and of "seconds between
two points of column dtype X" so the operators cannot drift: timestamps
(LTZ or NTZ) difference as exact integer microseconds divided by 1e6;
numeric columns as a plain double difference in raw units.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["micros", "seconds_between"]


def micros(c: Column) -> Column:
    """Microseconds since the epoch of a timestamp column, LTZ or NTZ.

    The cast names ``TIMESTAMP_LTZ``: a bare ``"timestamp"`` cast means NTZ
    under ``spark.sql.timestampType=TIMESTAMP_NTZ``, which ``unix_micros``
    rejects.  NTZ values are read in the session time zone (UTC by the
    repo-wide convention, plans/session.py)."""
    return F.unix_micros(c.cast("timestamp_ltz"))


def seconds_between(a: Column, b: Column, t_dtype: str) -> Column:
    """``a - b`` in seconds (``t_dtype`` = the column's Spark simpleString)."""
    if t_dtype.startswith("timestamp"):
        return (micros(a) - micros(b)) / F.lit(1_000_000.0)
    return (a - b).cast("double")
