"""Stateful streaming counter-rate: the per-point increase / per-second
rate (operators/rate.py semantics, PromQL reset rule included) on a live
stream, with the previous observation carried across micro-batches via
``applyInPandasWithState``.

Why stateful: ``delta`` needs each point's PREDECESSOR, and the predecessor
of a micro-batch's first row lives in the previous batch — per-key state
(last_ts_us, last_val) that windowed aggregates cannot express.  State is
O(1) per series (two scalars), so any series cardinality streams through
the state store.

Because the computation is pure per-adjacent-pair arithmetic, the stream
output is EXACTLY equal to the batch operator's (bit-for-bit, no rounding)
when events arrive in order — the equivalence pytest feeds the same rows
through both paths and compares.  Late data caveat (same as every stateful
op here): a row older than the carried state pairs with the newer state,
not its true in-order predecessor; bound disorder with the source
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

__all__ = ["stream_counter_rate"]


def stream_counter_rate(
    stream_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
    handle_resets: bool = True,
) -> DataFrame:
    """Per-point ``delta`` and ``rate_s`` over a stream.

    Returns (keys..., ts_us, <y_col>, delta, rate_s); each series' very
    first point ever has NULL delta/rate (no predecessor), exactly like the
    batch operator; zero/negative time steps never divide.

    NULL discipline mirrors the batch lag exactly: a NULL ``y_col``
    observation yields NULL delta/rate for itself AND for its successor
    (lag pairs with the previous ROW, null or not), while a NaN payload
    stays a VALUE; rows with NULL ``x_col`` are dropped (they cannot be
    ordered — the batch window sorts them first and the oracle never
    emits a defined delta for them either).
    """
    by = list(by)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("delta", DoubleType()),
            StructField("rate_s", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("last_val", DoubleType()),
            StructField("last_null", BooleanType()),
        ]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        last_ts, last_val, last_null = (
            state.get if state.exists else (None, None, None)
        )
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values("ts_us", kind="mergesort", ignore_index=True)
        ts = pdf["ts_us"].to_numpy(dtype="int64")
        vals = pdf[y_col].astype("float64").to_numpy()
        # NULL y computed JVM-side (the float column can't tell NULL from a
        # genuine NaN payload) — the batch lag gives NULL delta for a null
        # row AND its successor
        isnull = pdf["_isnull"].to_numpy(dtype=bool)
        prev_v = np.empty_like(vals)
        prev_t = np.empty_like(ts)
        prev_null = np.empty_like(isnull)
        prev_v[1:] = vals[:-1]
        prev_t[1:] = ts[:-1]
        prev_null[1:] = isnull[:-1]
        has_prev = np.ones(len(vals), dtype=bool)
        if last_ts is not None:
            prev_v[0] = last_val if last_val is not None else 0.0
            prev_t[0] = last_ts
            prev_null[0] = bool(last_null)
        else:
            has_prev[0] = False
            prev_v[0] = 0.0  # masked out below; keep the lane finite
            prev_t[0] = ts[0]
            prev_null[0] = False
        with np.errstate(invalid="ignore"):
            raw = vals - prev_v
            delta = np.where(raw < 0, vals, raw) if handle_resets else raw
            dt = (ts - prev_t) / 1_000_000.0
            pos = dt > 0
            rate = np.where(pos, delta / np.where(pos, dt, 1.0), 0.0)
        mask_delta = ~has_prev | isnull | prev_null  # True -> NULL out
        mask_rate = mask_delta | ~pos
        last = len(vals) - 1
        # only advance the frontier: an all-late micro-batch keeps the
        # carried (ts, val, null) triple intact so subsequent in-order
        # batches still pair against the true latest point
        if last_ts is None or int(ts[last]) >= int(last_ts):
            state.update(
                (int(ts[last]), None if isnull[last] else float(vals[last]),
                 bool(isnull[last]))
            )
        out = pd.DataFrame({c: pdf[c] for c in by})
        out["ts_us"] = pdf["ts_us"]
        out[y_col] = pd.arrays.FloatingArray(vals, isnull)
        # masked FloatingArray: masks are the NULL lanes; an unmasked NaN
        # (NaN payload) stays a VALUE through Arrow, matching the batch op
        out["delta"] = pd.arrays.FloatingArray(delta, mask_delta)
        out["rate_s"] = pd.arrays.FloatingArray(rate, mask_rate)
        yield out

    prepped = stream_df.where(f"{x_col} IS NOT NULL").selectExpr(
        *by,
        f"unix_micros(CAST({x_col} AS TIMESTAMP_LTZ)) AS ts_us",
        f"CAST({y_col} AS DOUBLE) AS {y_col}",
        f"({y_col} IS NULL) AS _isnull",
    )
    return prepped.groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
