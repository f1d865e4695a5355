"""Structured Streaming MinMax downsampling — the live edge of the selector
family.

Batch MinMax bins by point COUNT (reference semantics, exactly replicated in
kernels/ and operators/sql_selectors.py).  On an unbounded stream there is
no "n" to bin by, so the streaming tier bins by EVENT TIME — each window
emits its (argmin, argmax) pair, i.e. the MinMax sketch of that window —
with watermarked late-data handling.  This is the same state shape as the
streaming rollup (two extremes per open window, O(1) state per window) and
it composes: the history tiers re-downsample with the exact batch selectors,
the live tier renders min/max envelopes as windows close.

Determinism: both slots resolve ties toward the earliest point —
min slot = (min v, earliest ts), max slot = (max v, earliest ts) — via
order-embedded struct aggregates, which Structured Streaming supports as
plain min/max state.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_minmax(
    stream_df: DataFrame,
    window: str = "1 minute",
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per (keys, event-time window): the MinMax pair + point count.

    Returns a streaming DataFrame (keys..., bucket_ts, n_points, min_value,
    min_ts, max_value, max_ts); write with ``outputMode("append")`` — the
    watermark closes windows.
    """
    by = list(by)
    # explicit LTZ: a bare "timestamp" cast means NTZ under
    # spark.sql.timestampType=TIMESTAMP_NTZ, which unix_micros rejects
    neg_us = (-F.unix_micros(F.col(x_col).cast("timestamp_ltz"))).alias("nus")
    agg = (
        stream_df.withWatermark(x_col, watermark)
        .groupBy(*by, F.window(F.col(x_col), window).alias("w"))
        .agg(
            F.count(y_col).alias("n_points"),
            F.min(F.struct(F.col(y_col).alias("v"), F.col(x_col).alias("x"))).alias("mn"),
            # max value, EARLIEST ts among maxima: negate the timestamp in
            # the struct order so max picks the smallest ts
            F.max(F.struct(F.col(y_col).alias("v"), neg_us)).alias("mx"),
        )
    )
    return agg.select(
        *by,
        F.col("w.start").alias("bucket_ts"),
        "n_points",
        F.col("mn.v").alias("min_value"),
        F.col("mn.x").alias("min_ts"),
        F.col("mx.v").alias("max_value"),
        F.timestamp_micros(-F.col("mx.nus")).alias("max_ts"),
    )
