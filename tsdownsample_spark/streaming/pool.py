"""Shared stateful scaffold for trailing-time-window streaming twins
(stream_rolling.py, stream_distinct.py): per-key state is the recent
(ts, value) observations, and each micro-batch merges them with its own
rows.  The twin then runs the BATCH frame kernel of
operators/rolling.py over the merged rows and keeps the outputs at the
batch rows' positions — stream equals batch because both run the same
code.  (The kernel runs over every merged row, not just the batch rows:
its pandas window indexer needs one bound per row.)

NULL rule: a NULL value and a NaN payload are the same thing here, as in
the batch ``impl="grouped"`` kernels — scored like any row, inert in
every frame, never carried in state.

Retention horizon is **2 x span**, which is what makes the late-data
guarantee true (and not merely approximate): a row scored while within
``span`` of the CURRENT frontier has its frame start at
``>= frontier - 2*span``, and the pool never evicts above that line —
so every such row (in-order or late) sees its COMPLETE frame over all
observations that have arrived.  Only rows older than
``frontier - span`` can be under-filled (their frame reaches below the
horizon); bound that disorder with the source watermark.  The frontier
itself never regresses: an entirely-late micro-batch can only add
observations, never evict live ones.

State cost: O(points per 2 x duration) per series — a sampling-density
property, not a data-size one, so any series cardinality streams through
the state store.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["POOL_STATE_SCHEMA", "pooled_frames", "prep_stream", "sorted_batch"]

POOL_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("buf_ts", ArrayType(LongType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)


def sorted_batch(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    """One micro-batch group as a single frame, stably sorted by ``ts_us``."""
    chunks = list(pdfs)
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    return pdf.sort_values("ts_us", kind="mergesort", ignore_index=True)


def pooled_frames(state, pdfs: Iterator[pd.DataFrame], y_col: str, span: int):
    """Load carried state, merge it with this batch, and persist the
    trimmed pool.

    Returns ``(pdf, mt, my, pos)``: ``pdf`` is the batch sorted by
    ``ts_us``; ``mt``/``my`` are the merged rows — the carried
    observations plus every batch row, NULL values as NaN, sorted by
    ``ts_us``; ``pos`` indexes ``pdf``'s rows within them.  A trailing
    ``[t - span, t]`` kernel run over the merged rows sees each batch
    row's frame over every observation that has arrived.
    """
    import numpy as np

    if state.exists:
        last_ts, buf_ts, buf_val = state.get
        carry_t = np.asarray(buf_ts, dtype=np.int64)
        carry_v = np.asarray(buf_val, dtype=np.float64)
    else:
        last_ts = None
        carry_t = np.empty(0, dtype=np.int64)
        carry_v = np.empty(0, dtype=np.float64)
    pdf = sorted_batch(pdfs)
    ts = pdf["ts_us"].to_numpy(dtype="int64")
    y = pdf[y_col].to_numpy(dtype=np.float64, na_value=np.nan)

    # each side is sorted -> one stable mergesort of the concat
    mt = np.concatenate([carry_t, ts])
    my = np.concatenate([carry_v, y])
    order = np.argsort(mt, kind="mergesort")
    mt, my = mt[order], my[order]
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    pos = rank[len(carry_t):]

    # frontier never regresses; retention keeps 2 x span below it (the
    # module docstring's completeness guarantee for in-span late rows)
    new_last = int(ts[-1]) if last_ts is None else max(int(ts[-1]), int(last_ts))
    keep = (mt >= new_last - 2 * span) & ~np.isnan(my)
    state.update(
        (new_last, [int(x) for x in mt[keep]], [float(x) for x in my[keep]])
    )
    return pdf, mt, my, pos


def prep_stream(stream_df, x_col: str, y_col: str, by):
    """The shared pre-projection: key columns + integer-microsecond time +
    double-cast value, NULL timestamps dropped.  The LTZ cast keeps
    ``unix_micros`` valid in ``spark.sql.timestampType=TIMESTAMP_NTZ``
    sessions, where a bare TIMESTAMP cast means NTZ."""
    return stream_df.where(f"{x_col} IS NOT NULL").selectExpr(
        *by,
        f"unix_micros(CAST({x_col} AS TIMESTAMP_LTZ)) AS ts_us",
        f"CAST({y_col} AS DOUBLE) AS {y_col}",
    )
