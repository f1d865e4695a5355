"""Gap detection: find where a series' sampling interval exceeds a
threshold — the diagnostic companion to gap-fill (operators/gapfill.py
repairs gaps; this reports them).

The reference's equidistant binning silently skips empty bins
(downsample_rs/src/searchsorted.rs:118-122); production pipelines need the
inverse visibility: WHICH stretches of a series are missing, so retention
jobs can re-ingest or gap-fill can be scoped.

Spark-first: one ``lag`` window per series key — a single shuffle on the
key (none on a source bucketed by it), O(1) state per row, no UDF.  The
output is one row per detected gap, bounded by the number of gaps (not the
number of points), so it is safe to collect/alert on at any input scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsdownsample_spark.operators.timeutil import seconds_between

__all__ = ["detect_gaps", "sessionize"]


def detect_gaps(
    df: DataFrame,
    x_col: str = "ts",
    by: Sequence[str] = ("series_key",),
    min_gap: float = 60.0,
) -> DataFrame:
    """Return ``by + (gap_start, gap_end, gap_s)`` for every consecutive
    pair of points further than ``min_gap`` apart (strictly greater).

    ``min_gap``/``gap_s`` are SECONDS for timestamp ``x_col`` and raw units
    for numeric ``x_col``.  Duplicate timestamps are safe: ties order
    arbitrarily but both orders yield the same (value-level) pairs, and a
    zero gap never passes the filter.  NULL ``x_col`` rows are ignored.
    """
    by = list(by)
    w = Window.partitionBy(*by).orderBy(x_col)
    prev = F.lag(x_col).over(w)
    gap = seconds_between(F.col(x_col), prev, dict(df.dtypes)[x_col])
    return (
        df.where(F.col(x_col).isNotNull())
        .select(*by, prev.alias("gap_start"), F.col(x_col).alias("gap_end"),
                gap.alias("gap_s"))
        .where(F.col("gap_s") > F.lit(min_gap))
    )


def sessionize(
    df: DataFrame,
    x_col: str = "ts",
    by: Sequence[str] = ("series_key",),
    gap: str = "30 minutes",
) -> DataFrame:
    """Split each series into activity sessions separated by inactivity
    longer than ``gap`` — the dual of :func:`detect_gaps` (gaps report the
    holes; sessions report the stretches between them).

    Spark-first: the native ``session_window`` grouping — Catalyst's
    dedicated merging-session aggregation (one shuffle on the keys, then
    in-partition window merging; in Structured Streaming the same call is
    the stateful sessionization operator).  Boundary semantics (verified,
    not assumed; the DuckDB oracle re-derives them with a cumulative
    break-flag window): a point exactly ``gap`` after its predecessor
    EXTENDS the session; strictly later starts a new one.

    Returns ``by + session_start + session_end + n_events + duration_s``
    (observed first/last timestamps, not the window's ``+gap`` end).
    NULL ``x_col`` rows are dropped (a session needs a time).
    """
    by = list(by)
    agg = (
        df.where(F.col(x_col).isNotNull())
        .groupBy(*by, F.session_window(F.col(x_col), gap).alias("_w"))
        .agg(
            F.min(x_col).alias("session_start"),
            F.max(x_col).alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    dur = seconds_between(F.col("session_end"), F.col("session_start"), "timestamp")
    return agg.select(
        *by, "session_start", "session_end", "n_events", dur.alias("duration_s")
    )
