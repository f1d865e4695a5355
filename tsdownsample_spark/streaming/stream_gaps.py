"""Stateful streaming gap detection: the live twin of operators/gaps.py —
report every sampling hole > threshold the moment the point closing it
arrives, including holes that straddle micro-batch boundaries (the previous
timestamp is per-key state, exactly stream_rate's machinery).

Emits one row per detected gap (keys..., gap_start_us, gap_end_us, gap_s)
— output is bounded by the number of gaps, so an alerting sink can consume
it directly at any input rate.  Late-data caveat as everywhere: a point
older than the carried state closes a gap against the newer state, not its
true in-order neighbor; bound disorder with the source watermark.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

__all__ = ["stream_detect_gaps"]


def stream_detect_gaps(
    stream_df: DataFrame,
    x_col: str = "ts",
    by: Sequence[str] = ("event_type",),
    min_gap: float = 60.0,
) -> DataFrame:
    """Report gaps strictly greater than ``min_gap`` seconds per series."""
    by = list(by)
    key_fields = [stream_df.schema[c] for c in by]
    out_schema = StructType(
        key_fields
        + [
            StructField("gap_start_us", LongType()),
            StructField("gap_end_us", LongType()),
            StructField("gap_s", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("last_ts", LongType())])

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (last_ts,) = state.get if state.exists else (None,)
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values("ts_us", kind="mergesort", ignore_index=True)
        ts = pdf["ts_us"].to_numpy(dtype="int64")
        prev = np.empty_like(ts)
        prev[1:] = ts[:-1]
        valid = np.ones(len(ts), dtype=bool)
        if last_ts is not None:
            prev[0] = last_ts
        else:
            valid[0] = False
            prev[0] = ts[0]
        gap_s = (ts - prev) / 1_000_000.0
        hit = valid & (gap_s > min_gap)
        # never move last_ts backwards: an all-late micro-batch must not
        # regress the carried frontier and corrupt pairing for the next
        # in-order batch (late rows themselves are still mispaired — see
        # the docstring's late-data caveat)
        new_last = int(ts[-1]) if last_ts is None else max(int(ts[-1]), int(last_ts))
        state.update((new_last,))
        out = pd.DataFrame({c: pdf[c].to_numpy()[hit] for c in by})
        out["gap_start_us"] = prev[hit]
        out["gap_end_us"] = ts[hit]
        out["gap_s"] = gap_s[hit]
        yield out

    prepped = stream_df.where(f"{x_col} IS NOT NULL").selectExpr(
        *by, f"unix_micros(CAST({x_col} AS TIMESTAMP_LTZ)) AS ts_us"
    )
    return prepped.groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
