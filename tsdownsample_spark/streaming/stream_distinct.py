"""Stateful streaming trailing-window distinct count: the live twin of
operators/rolling.py:rolling_time_distinct — for each arriving point, how
many DISTINCT non-null values its series saw in the last ``duration`` of
wall time, across micro-batch boundaries.

State/pooling/late-data semantics live in streaming/pool.py (shared with
stream_rolling.py): 2 x ``duration`` retention means every row scored
while within ``duration`` of the frontier sees its complete frame.

Each micro-batch runs the batch kernel, operators/rolling.py
``_frame_distinct`` (what ``impl="grouped"`` runs), over the merged pool:
exact integer counts, O(m log m) per batch for a pool of m rows.  NULL
values and NaN payloads are scored but never counted.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from tsdownsample_spark.operators.rolling import _frame_distinct, duration_to_micros
from tsdownsample_spark.streaming.pool import (
    POOL_STATE_SCHEMA,
    pooled_frames,
    prep_stream,
)

__all__ = ["stream_rolling_time_distinct"]


def stream_rolling_time_distinct(
    stream_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    duration: str = "5 minutes",
) -> DataFrame:
    """Append trailing-``duration`` ``roll_distinct`` on a stream.

    Returns (keys..., ts_us, <y_col>, roll_distinct).  NULL ``y`` rows are
    scored but never counted, like the batch operator.  Values are
    compared as float64 — exact for integer ids below 2^53 and any float
    column; a string-identity variant would carry the values verbatim in
    state at higher cost (YAGNI until a caller needs it).
    """
    span = duration_to_micros(duration)
    by = list(by)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("roll_distinct", LongType()),
        ]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf, mt, my, pos = pooled_frames(state, pdfs, y_col, span)
        codes = pd.factorize(my, use_na_sentinel=True)[0]
        out = pd.DataFrame({col: pdf[col] for col in by})
        out["ts_us"] = pdf["ts_us"]
        out[y_col] = pdf[y_col]
        out["roll_distinct"] = _frame_distinct(mt, codes, span)[pos]
        yield out

    return prep_stream(stream_df, x_col, y_col, by).groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=POOL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
