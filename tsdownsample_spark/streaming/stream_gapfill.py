"""Custom stateful streaming operator: LOCF (last-observation-carried-
forward) across micro-batches via ``applyInPandasWithState``.

The batch gap-fill (operators/gapfill.py) fills within one bounded frame; on
a stream, the "last seen value" must survive micro-batch boundaries — that
is per-key state the built-in windowed aggregates cannot express, which is
exactly what ``applyInPandasWithState`` exists for: the state object carries
(last_ts_us, last_val) per series, each batch sorts its own rows, fills
nulls forward, and updates the state from its last non-null observation.

State size is O(1) per series (two scalars) — unbounded keys stream through
Spark's state store, so this scales to any series cardinality.

Caveat (documented, inherent to LOCF-on-stream): rows are filled in event-
time order WITHIN a micro-batch and state order ACROSS batches, so late
rows that arrive in a later batch but precede the state's last_ts are
filled with the newer value; bound this with the source's watermark like
any streaming LOCF.
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


def stream_locf(
    stream_df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Fill null ``y_col`` values per key with the last non-null observation,
    carrying the fill state across micro-batches.

    NULL-vs-NaN discipline matches the batch engine: only SQL NULL is a gap;
    a NaN payload is a real observation (it is carried forward like any
    value, and is never reported was_null).

    Returns (keys..., ts_us, <y_col> filled, was_null).
    """
    by = list(by)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("ts_us", LongType()),
            StructField(y_col, DoubleType()),
            StructField("was_null", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_ts", LongType()), StructField("last_val", DoubleType())]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        last_ts, last_val = state.get if state.exists else (None, None)
        # the runtime hands the key's rows as ARBITRARY chunks — gather and
        # sort once so fills respect global event-time order in the batch
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values("ts_us", kind="mergesort", ignore_index=True)
        vals = pdf[y_col].astype("float64").to_numpy()
        # NULL-vs-NaN: Arrow hands NULL y as NaN in the float column, so the
        # gap flag is computed JVM-side (_isnull) BEFORE the stateful op — a
        # genuine NaN payload is an observation, not a gap.
        was_null = pdf["_isnull"].to_numpy()
        obs = ~was_null
        # fill NULL positions (and only those) with the last observation;
        # index-based so a NaN observation is carried like any other value
        idx = np.arange(len(vals))
        last_obs = np.maximum.accumulate(np.where(obs, idx, -1))
        lead = last_obs < 0  # no observation yet in this batch
        fill = vals[np.maximum(last_obs, 0)]
        if last_val is not None:
            fill = np.where(lead, last_val, fill)
        filled = np.where(was_null, fill, vals)
        unfilled = was_null & lead & (last_val is None)
        if obs.any():
            new_ts = int(pdf["ts_us"][obs].iloc[-1])
            # monotonic guard: a LATE batch (all rows before the state's
            # last observation) must not regress the carried value
            if last_ts is None or new_ts >= last_ts:
                last_ts = new_ts
                last_val = float(vals[obs][-1])
        if last_val is not None:
            state.update((last_ts, last_val))
        out = pd.DataFrame({c: pdf[c] for c in by})
        out["ts_us"] = pdf["ts_us"]
        # masked FloatingArray: leading unfillable NULLs stay NULL, while a
        # NaN VALUE (payload or carried) survives Arrow as NaN
        out[y_col] = pd.arrays.FloatingArray(filled, unfilled)
        out["was_null"] = was_null
        yield out

    prepped = stream_df.selectExpr(
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
