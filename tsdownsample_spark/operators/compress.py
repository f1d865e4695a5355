"""Spark operators for the Gorilla/delta-of-delta codecs.

``compress_series`` turns long-form points into one compressed segment row
per series: timestamps delta-of-delta encoded, values Gorilla-XOR encoded,
both as ``binary`` columns.  ``decompress_series`` is its lossless inverse
(round-trip equality is the tested invariant).

Arrow-batched pandas UDFs; the codec kernels are vectorized NumPy (encode)
— no per-point Python in the encode path.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from tsdownsample_spark.functions.codecs import (
    decode_dod,
    decode_gorilla,
    encode_dod,
    encode_gorilla,
)
from tsdownsample_spark.operators.timeutil import micros


@pandas_udf("binary")
def _enc_ts(col: pd.Series) -> pd.Series:
    return col.map(lambda a: None if a is None else encode_dod(np.asarray(a)))


@pandas_udf("binary")
def _enc_val(col: pd.Series) -> pd.Series:
    return col.map(lambda a: None if a is None else encode_gorilla(np.asarray(a)))


@pandas_udf("array<bigint>")
def _dec_ts(col: pd.Series) -> pd.Series:
    return col.map(lambda b: None if b is None else decode_dod(bytes(b)))


@pandas_udf("array<double>")
def _dec_val(col: pd.Series) -> pd.Series:
    return col.map(lambda b: None if b is None else decode_gorilla(bytes(b)))


DAY_US = 86_400_000_000


def compress_series(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    chunk_span: int | str | None = "auto",
) -> DataFrame:
    """Long-form points -> one compressed segment row per (series, time
    chunk): (keys..., chunk_id, n, ts_blob, val_blob).

    Timestamps are encoded as int64 (microseconds if x is a timestamp).

    ``chunk_span`` (in encoded-x units, e.g. 3_600_000_000 for 1 h of
    microseconds) bounds every segment to a time window — the Gorilla-paper
    block design.  The default ``"auto"`` picks 1 day for timestamp x and
    refuses raw-integer x (pass a span in x units).  The per-row state is
    then bounded by the chunk's point count regardless of series length,
    and chunk_id needs no window/sort — it's a narrow projection, so the
    only shuffle is the groupBy itself.

    ``chunk_span=None`` is the explicit OPT-IN to the unbounded shape (one
    row per whole series) — it breaks past Spark's 2 GiB array/Arrow row
    limit on long series, so it is never the default.
    """
    by = list(by)
    x_dtype = df.schema[x_col].dataType.simpleString()
    if x_dtype.startswith("timestamp"):
        # NTZ is reinterpreted in the session tz (UTC) — lossless either way
        x_as_long = micros(F.col(x_col))
    else:
        x_as_long = F.col(x_col).cast("long")
    if chunk_span == "auto":
        if not x_dtype.startswith("timestamp"):
            raise ValueError(
                "chunk_span='auto' needs a timestamp x_col; pass an explicit "
                "span in x units, or chunk_span=None to opt in to one "
                "unbounded row per series"
            )
        chunk_span = DAY_US
    pts = df.select(*by, x_as_long.alias("_x"), F.col(y_col).cast("double").alias("_y"))
    keys = by
    if chunk_span:
        pts = pts.withColumn("chunk_id", F.floor(F.col("_x") / F.lit(int(chunk_span))))
        keys = by + ["chunk_id"]
    packed = (
        pts.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list(F.struct("_x", "_y"))).alias("pts"),
        )
        .select(
            *keys,
            F.size("pts").alias("n"),
            F.expr("transform(pts, p -> p._x)").alias("_xs"),
            F.expr("transform(pts, p -> p._y)").alias("_ys"),
        )
    )
    return packed.select(
        *keys,
        "n",
        _enc_ts("_xs").alias("ts_blob"),
        _enc_val("_ys").alias("val_blob"),
    )


def decompress_series(
    df: DataFrame,
    by: Sequence[str] = ("series_key",),
    x_col: str = "ts",
    y_col: str = "value",
    x_is_timestamp: bool = True,
) -> DataFrame:
    """Inverse of compress_series: back to long-form (keys..., x, y)."""
    by = list(by)
    out = df.select(
        *by,
        F.arrays_zip(
            _dec_ts("ts_blob").alias("x"), _dec_val("val_blob").alias("y")
        ).alias("_pts"),
    ).select(*by, F.explode("_pts").alias("_p"))
    x_expr = F.col("_p.x").cast("long")
    if x_is_timestamp:
        x_expr = F.timestamp_micros(F.col("_p.x").cast("long")).cast("timestamp_ntz")
    return out.select(*by, x_expr.alias(x_col), F.col("_p.y").alias(y_col))


# --------------------------------------------------- token-table compression


@pandas_udf("binary")
def _enc_tok(col: pd.Series) -> pd.Series:
    from tsdownsample_spark.functions.codecs import encode_tokens

    return col.map(
        lambda a: None if a is None else encode_tokens(np.asarray(a, dtype=np.int64))
    )


@pandas_udf("array<int>")
def _dec_tok(col: pd.Series) -> pd.Series:
    from tsdownsample_spark.functions.codecs import decode_tokens

    return col.map(lambda b: None if b is None else decode_tokens(bytes(b)))


def compress_tokens(
    df: DataFrame, tokens_col: str = "tokens", out_col: str = "tokens_packed"
) -> DataFrame:
    """Bit-pack the token column of an input_hint-shaped table (~2x smaller
    than int32 for a 50k vocab; codecs.encode_tokens).  Narrow map, one row
    in -> one row out — bounded regardless of sequence length; NULL rows
    stay NULL.  The storage shape for cold tiers: pair with
    :func:`decompress_tokens` for a bit-exact round trip."""
    return df.withColumn(out_col, _enc_tok(F.col(tokens_col))).drop(tokens_col)


def decompress_tokens(
    df: DataFrame, packed_col: str = "tokens_packed", out_col: str = "tokens"
) -> DataFrame:
    """Lossless inverse of :func:`compress_tokens`."""
    return df.withColumn(out_col, _dec_tok(F.col(packed_col))).drop(packed_col)
