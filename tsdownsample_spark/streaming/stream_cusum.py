"""Stateful streaming CUSUM: the live twin of operators/stats.py:cusum.

Semantics: one-sided ``S_t = max(0, S_{t-1} + ((y_t - mu)/sd - k))`` per
series, carried across micro-batch boundaries.  ``mu``/``sd`` come from a
STATIC calibration table (stream-static join before the stateful stage) —
the only sound streaming contract, since the batch operator's default
standardizes against the full series' mean/std, which a stream cannot
know; calibrate on an in-control reference period and pass the same table
to the batch operator (``stats_df=``) when asserting stream==batch.

State per key is three scalars — the time frontier, the prefix sum ``P``
of deviations, and ``M = min(0, min P)`` — because the closed form the
batch operator executes as two ROWS windows (``S = P - M``) carries across
batches as exactly that pair.  O(1) state: any series cardinality streams
through the state store.

NULL ``y`` matches batch: a NULL contributes nothing to the prefix sum
(Spark's SUM skips NULLs), so the row inherits the running statistic.

Late-data caveat (same as every stateful op here): rows older than the
carried frontier fold into the statistic at arrival order, not true time
order; an ENTIRELY-late micro-batch leaves the carried state untouched
(frontier guard — state never regresses); bound disorder with the source
watermark.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["stream_cusum"]


def stream_cusum(
    stream_df: DataFrame,
    stats_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Append ``cusum_s``/``alarm`` on a stream.

    ``stats_df``: static ``(by..., _mu, _sd)`` calibration table.
    Returns (keys..., ts_us, <y_col>, cusum_s, alarm).
    """
    by = list(by)
    k = float(k)
    h = float(h)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("cusum_s", DoubleType()),
            StructField("alarm", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("pfx", DoubleType()),
            StructField("runmin", DoubleType()),
        ]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            last_ts, pfx0, rm0 = state.get
        else:
            last_ts, pfx0, rm0 = None, 0.0, 0.0  # M starts at min(0, ...) = 0
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values("ts_us", kind="mergesort", ignore_index=True)
        ts = pdf["ts_us"].to_numpy(dtype="int64")
        y = pdf[y_col].to_numpy(dtype="float64")  # NULL -> NaN
        mu = pdf["_mu"].to_numpy(dtype="float64")
        sd = pdf["_sd"].to_numpy(dtype="float64")
        isnull = np.isnan(y)
        dev = np.where(isnull, 0.0, (y - mu) / sd - k)
        p = pfx0 + np.cumsum(dev)
        m = np.minimum(np.minimum.accumulate(p), rm0)
        s = p - m
        # frontier guard: an entirely-late batch leaves state untouched
        if last_ts is None or int(ts[-1]) >= int(last_ts):
            new_last = int(ts[-1]) if last_ts is None else max(int(ts[-1]), int(last_ts))
            state.update((new_last, float(p[-1]), float(m[-1])))
        out = pd.DataFrame({col: pdf[col] for col in by})
        out["ts_us"] = pdf["ts_us"]
        out[y_col] = pdf[y_col]
        out["cusum_s"] = s
        out["alarm"] = s > h
        yield out

    prepped = (
        stream_df.where(f"{x_col} IS NOT NULL")
        .join(stats_df, on=by, how="inner")
        .selectExpr(
            *by,
            f"unix_micros(CAST({x_col} AS TIMESTAMP_LTZ)) AS ts_us",
            f"CAST({y_col} AS DOUBLE) AS {y_col}",
            "CAST(_mu AS DOUBLE) AS _mu",
            "CAST(_sd AS DOUBLE) AS _sd",
        )
    )
    return prepped.groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
