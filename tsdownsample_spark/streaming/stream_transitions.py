"""Stateful streaming transition counting: the live twin of
operators/funnel.transition_matrix — (from, to) next-event pair counts
maintained at ingest, including the pair that straddles a micro-batch
boundary (each user's last event is per-key state, exactly stream_gaps' /
stream_rate's machinery: one tiny tuple per user).

Emits per-batch PARTIAL counts ``(from_type, to_type, n_partial)`` —
counts are a commutative monoid, so the accumulated sum equals the batch
operator over everything ingested so far EXACTLY (integer arithmetic, no
float drift; the stream==batch pytest asserts row-for-row equality).
Output volume per batch is bounded by |types|², never by event count.

Late-data guard (the house frontier rule): a row at-or-before the carried
per-user frontier (ts, tiebreak) is DROPPED rather than spliced into the
past — it cannot be inserted into an already-emitted pair sequence without
retracting counts; bound disorder with the source watermark.  The frontier
itself never regresses on an all-late batch.

Read path: ``transitions_snapshot`` row-normalizes the accumulated
partials into the batch operator's exact output shape
``(from_type, to_type, n, p)``.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

__all__ = ["stream_transitions", "transitions_snapshot"]


def stream_transitions(
    stream_df: DataFrame,
    x_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-batch partial (from, to) counts with cross-batch user state.

    ``tiebreak`` (optional, a numeric column such as an event id) pins the
    order of same-timestamp events — pass the SAME column the batch
    operator was given, or tied rows may pair differently.
    """
    out_schema = StructType(
        [
            StructField("from_type", StringType()),
            StructField("to_type", StringType()),
            StructField("n_partial", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", LongType()),
            StructField("last_tb", LongType()),
            StructField("last_type", StringType()),
        ]
    )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_ts, last_tb, last_type = (
            state.get if state.exists else (None, None, None)
        )
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values(["ts_us", "tb"], kind="mergesort", ignore_index=True)
        if last_ts is not None:
            fresh = (pdf["ts_us"] > last_ts) | (
                (pdf["ts_us"] == last_ts) & (pdf["tb"] > last_tb)
            )
            pdf = pdf[fresh].reset_index(drop=True)
        if len(pdf) == 0:
            yield pd.DataFrame(
                {"from_type": [], "to_type": [], "n_partial": []}
            ).astype({"from_type": str, "to_type": str, "n_partial": "int64"})
            return
        frm = pdf["etype"].shift(1)
        if last_type is not None:
            frm.iloc[0] = last_type
        pairs = pd.DataFrame({"from_type": frm, "to_type": pdf["etype"]})
        pairs = pairs[pairs["from_type"].notna()]
        tail = pdf.iloc[-1]
        state.update((int(tail["ts_us"]), int(tail["tb"]), str(tail["etype"])))
        out = (
            pairs.groupby(["from_type", "to_type"], as_index=False)
            .size()
            .rename(columns={"size": "n_partial"})
        )
        out["n_partial"] = out["n_partial"].astype("int64")
        yield out

    tb_expr = f"CAST({tiebreak} AS BIGINT)" if tiebreak else "CAST(0 AS BIGINT)"
    prepped = stream_df.where(f"{x_col} IS NOT NULL").selectExpr(
        user_col,
        f"unix_micros(CAST({x_col} AS TIMESTAMP_LTZ)) AS ts_us",
        f"{tb_expr} AS tb",
        f"{type_col} AS etype",
    )
    return prepped.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transitions_snapshot(partials: DataFrame) -> DataFrame:
    """Fold accumulated partials into the batch operator's output shape:
    ``(from_type, to_type, n, p)`` — one map-side-combinable groupBy over
    rows bounded by |types|² x batches, then the row-normalizing window
    over the tiny matrix (identical arithmetic to transition_matrix)."""
    counts = partials.groupBy("from_type", "to_type").agg(
        F.sum("n_partial").alias("n")
    )
    row = Window.partitionBy("from_type")
    return counts.withColumn(
        "p", F.col("n") / F.sum("n").over(row)
    ).select("from_type", "to_type", "n", "p")
