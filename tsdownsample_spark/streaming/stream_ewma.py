"""Stateful streaming EWMA: the live twin of operators/stats.py:ewma.

``y'_t = alpha*y_t + (1-alpha)*y'_{t-1}`` carries exactly ONE scalar per
series across micro-batches — the smallest state of any stateful operator
here (the batch operator needs whole-series groups only because a batch
has no carry; the stream is where the recursion's shape is natural).
Each micro-batch runs the batch operator's own loop,
operators/stats.py ``_ewma_scan``, seeded with the carried smooth, so
stream==batch holds bit-for-bit on in-order data, not just to tolerance.

NULL ``y`` (or a NaN payload) matches batch: the row inherits the running
smooth and leaves state untouched.

Late-data caveat (same as every stateful op here): late rows fold into
the smooth at arrival order; an ENTIRELY-late micro-batch leaves the
carried state untouched (frontier guard); bound disorder with the source
watermark.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from tsdownsample_spark.operators.stats import _ewma_scan
from tsdownsample_spark.streaming.pool import prep_stream, sorted_batch

__all__ = ["stream_ewma"]


def stream_ewma(
    stream_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    alpha: float = 0.3,
) -> DataFrame:
    """Append ``ewma`` on a stream.  Returns (keys..., ts_us, <y_col>, ewma)."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    by = list(by)
    a = float(alpha)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_ts", LongType()), StructField("ew", DoubleType())]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            last_ts, ew0 = state.get
            ew = float("nan") if ew0 is None else float(ew0)
        else:
            last_ts, ew = None, float("nan")
        pdf = sorted_batch(pdfs)
        ts = pdf["ts_us"].to_numpy(dtype="int64")
        sm = _ewma_scan(pdf[y_col].to_numpy(dtype="float64"), a, ew)
        ew = float(sm[-1])
        # frontier guard: an entirely-late batch leaves state untouched
        if last_ts is None or int(ts[-1]) >= int(last_ts):
            new_last = int(ts[-1]) if last_ts is None else max(int(ts[-1]), int(last_ts))
            state.update((new_last, None if np.isnan(ew) else ew))
        out = pd.DataFrame({col: pdf[col] for col in by})
        out["ts_us"] = pdf["ts_us"]
        out[y_col] = pdf[y_col]
        out["ewma"] = sm
        yield out

    return prep_stream(stream_df, x_col, y_col, by).groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
