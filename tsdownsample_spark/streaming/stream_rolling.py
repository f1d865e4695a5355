"""Stateful streaming trailing time-RANGE rolling stats: the live twin of
operators/rolling.py:rolling_time_stats — score each point against the
last ``duration`` of WALL TIME of its own series, across micro-batch
boundaries, via ``applyInPandasWithState``.

State/pooling/late-data semantics live in streaming/pool.py (shared with
stream_distinct.py): per-key state is the observations within 2 x
``duration`` of the carried frontier, so every row scored while within
``duration`` of the frontier — in-order OR late — sees its COMPLETE
frame over all arrived observations; only rows older than
``frontier - duration`` can be under-filled.  The frontier never
regresses.

Each micro-batch runs the batch kernel, operators/rolling.py
``_frame_stats`` (what ``impl="grouped"`` runs), over the merged pool, so
the semantics are the batch operator's: peer-inclusive
``[t - duration, t]`` frame (duplicate timestamps land together),
``min_obs`` gating every aggregate except ``roll_n``, NULL ``y`` scored
but inert, and a NaN payload treated as NULL.  count/min/max are exact
and a constant frame has std exactly 0.  Sums, means and stds match
``impl="grouped"`` to ~1e-12 relative, not bit-for-bit: the kernel
centres its prefix sums on the mean of the rows it is given, and the
stream's pool is not the batch's chunk (tests/test_stream_kernels.py).
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from tsdownsample_spark.operators.rolling import _frame_stats, duration_to_micros
from tsdownsample_spark.streaming.pool import (
    POOL_STATE_SCHEMA,
    pooled_frames,
    prep_stream,
)

__all__ = ["stream_rolling_time_stats"]


def stream_rolling_time_stats(
    stream_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    duration: str = "5 minutes",
    min_obs: int = 1,
) -> DataFrame:
    """Append trailing-``duration`` ``roll_n``/``roll_sum``/``roll_mean``/
    ``roll_min``/``roll_max``/``roll_std`` on a stream.

    Returns (keys..., ts_us, <y_col>, roll_n, roll_sum, roll_mean,
    roll_min, roll_max, roll_std).
    """
    if min_obs < 1:
        raise ValueError(f"min_obs must be >= 1, got {min_obs}")
    span = duration_to_micros(duration)
    by = list(by)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("roll_n", LongType()),
            StructField("roll_sum", DoubleType()),
            StructField("roll_mean", DoubleType()),
            StructField("roll_min", DoubleType()),
            StructField("roll_max", DoubleType()),
            StructField("roll_std", DoubleType()),
        ]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf, mt, my, pos = pooled_frames(state, pdfs, y_col, span)
        cols = _frame_stats(mt, my, span, True, min_obs)
        out = pd.DataFrame({col: pdf[col] for col in by})
        out["ts_us"] = pdf["ts_us"]
        out[y_col] = pdf[y_col]
        for name, v in cols.items():
            out[name] = v[pos]
        yield out

    return prep_stream(stream_df, x_col, y_col, by).groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=POOL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
