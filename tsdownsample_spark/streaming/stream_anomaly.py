"""Stateful streaming rolling z-score: the live twin of
operators/anomaly.py — score each point against the trailing ``window``
observations of its own series, across micro-batch boundaries, via
``applyInPandasWithState``.

Why stateful: the trailing ROWS frame of a micro-batch's first rows lives
in the previous batch.  State per key is the last ``window`` observations
(values + their NULL mask) plus the time frontier — O(window) doubles, so
any series cardinality streams through the state store; window=50 is
400 bytes/series.

Each micro-batch runs the batch kernel, operators/anomaly.py
``_trailing_zscore`` (what ``impl="grouped"`` runs), over the carried
tail plus the batch and keeps the batch's rows, so the semantics are the
batch operator's: trailing mean/std over the previous ``window`` rows,
NULL y occupying a frame position but feeding neither sum nor count, a
NaN payload treated as NULL, NULL z until ``min_obs`` prior observations
exist or when the trailing frame is constant (exact min==max check).
Values match ``impl="grouped"`` closely, not bit-for-bit: the kernel
centres its prefix sums on the mean of the rows it is given, and the
stream sees tail + batch, not the whole series.  mean agrees to ~1e-12
relative; std moves by up to ~1e-12 of the data's magnitude (relatively
more where a frame's spread is tiny against its level), z by that
propagated; the NULL masks and ``is_anomaly`` agree exactly.

Late-data caveat (same as every stateful op here): a row older than the
carried frontier scores against the newer tail, not its true in-order
frame; an ENTIRELY-late micro-batch leaves the carried state untouched
(frontier guard — state never regresses); bound disorder with the source
watermark.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from tsdownsample_spark.operators.anomaly import _trailing_zscore
from tsdownsample_spark.streaming.pool import prep_stream, sorted_batch

__all__ = ["stream_rolling_zscore"]


def stream_rolling_zscore(
    stream_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    window: int = 50,
    threshold: float = 3.0,
    min_obs: int = 10,
) -> DataFrame:
    """Append ``roll_mean``/``roll_std``/``z``/``is_anomaly`` on a stream.

    Returns (keys..., ts_us, <y_col>, roll_mean, roll_std, z, is_anomaly).
    """
    if window < 2 or min_obs < 2:
        raise ValueError("window and min_obs must be >= 2")
    if min_obs > window:
        raise ValueError(
            f"min_obs ({min_obs}) > window ({window}): the trailing frame "
            "can never satisfy it — every z would be silently NULL"
        )
    by = list(by)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("roll_mean", DoubleType()),
            StructField("roll_std", DoubleType()),
            StructField("z", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("tail_vals", ArrayType(DoubleType())),
            StructField("tail_null", ArrayType(BooleanType())),
        ]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            last_ts, tail_vals, tail_null = state.get
            carry = np.asarray(tail_vals, dtype=np.float64)
            carry[np.asarray(tail_null, dtype=bool)] = np.nan
        else:
            last_ts = None
            carry = np.empty(0, dtype=np.float64)
        pdf = sorted_batch(pdfs)
        ts = pdf["ts_us"].to_numpy(dtype="int64")
        y = pdf[y_col].to_numpy(dtype=np.float64, na_value=np.nan)
        v = np.concatenate([carry, y])
        cols = _trailing_zscore(v, window, min_obs, threshold)
        # frontier guard: an entirely-late batch leaves state untouched
        if last_ts is None or int(ts[-1]) >= int(last_ts):
            tail = v[-window:]
            isnull = np.isnan(tail)
            new_last = int(ts[-1]) if last_ts is None else max(int(ts[-1]), int(last_ts))
            state.update((
                new_last,
                [float(x) for x in np.where(isnull, 0.0, tail)],
                [bool(x) for x in isnull],
            ))
        out = pd.DataFrame({col: pdf[col] for col in by})
        out["ts_us"] = pdf["ts_us"]
        out[y_col] = pdf[y_col]
        k = len(carry)
        for name, c in cols.items():
            out[name] = c[k:]
        yield out

    return prep_stream(stream_df, x_col, y_col, by).groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
