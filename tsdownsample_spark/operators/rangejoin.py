"""Interval (range) join: match each point to the interval(s) containing it.

The reference is a downsampling kernel library with no join operators
(tsdownsample exposes selectors only — downsample.rs, minmax.rs); a
point-in-interval join is the other canonical time-series lookup next to
as-of (operators/asof.py): events -> maintenance windows, ticks ->
trading halts, samples -> detected sessions.

Spark-first scale design — **chunked equi-join, not a non-equi join**.
The naive formulation

    points JOIN intervals
      ON p.key = i.key AND p.ts >= i.start AND p.ts < i.end

is a non-equi join: Catalyst plans it as a sort-merge join on the equi
key whose inner loop re-scans every same-key interval per point —
O(|P| x |I|) per key, a scale-killer when one key holds thousands of
intervals (and a BroadcastNestedLoopJoin when there is no equi key at
all).  Instead this operator bins time into fixed-width chunks (the
same trick Databricks' range-join "bin" hint and TimescaleDB's chunk
exclusion use):

1. each point maps to exactly ONE chunk: ``floor(ts / W)``;
2. each interval is exploded to EVERY chunk it overlaps via
   ``sequence(floor(start/W), floor(end/W))`` — ``ceil(len/W) + 1``
   rows, so the duplication factor is bounded by the interval length;
3. an **equi-join on (key..., chunk)** meets each (point, interval)
   candidate pair exactly once (the point's single chunk), so no
   post-join dedup is needed — only the exact range predicate as a
   cheap join filter.

Cost: one shuffle of each side on (key, chunk) + a hash/sort-merge
equi-join whose probe work is proportional to the true candidate count,
never |P| x |I|.  The chunk key also spreads ONE hot series key over
many partitions — time itself becomes the salt, which is exactly what a
1000-executor cluster needs when 90% of points share one key.  Chunk
width trades duplication (long intervals x small W) against candidate
fan-in (short W -> fewer false candidates); ``chunk="auto"`` picks the
median interval length, the standard bin heuristic.

The DuckDB oracle (queries.py) runs the plain inequality join — an
independent O(n^2)-per-key evaluation of the same semantics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsdownsample_spark.operators.timeutil import micros

__all__ = ["interval_join"]

# chunk="auto" never explodes one interval into more than ~this many rows
_MAX_CHUNKS_PER_INTERVAL = 256


def _to_raw(c: Column, dtype: str) -> Column:
    """Orderable numeric view: microseconds for timestamps, raw otherwise."""
    if dtype.startswith("timestamp"):
        return micros(c)
    if dtype == "date":
        raise ValueError("date columns are not supported; cast to timestamp")
    return c


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    by: Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
    how: str = "inner",
    closed: str = "left",
    chunk: float | str = "auto",
) -> DataFrame:
    """Attach ``intervals``' ``value_cols`` to every point they contain.

    Parameters
    ----------
    on : point timestamp (or numeric) column; ``start_col`` / ``end_col``
        are the interval bounds on ``intervals`` with the same dtype.
    by : optional equality keys present on both sides (series identity).
    value_cols : interval payload columns to attach (default: every
        interval column not in ``by`` / bounds); must not collide with
        point column names.  ``start_col`` / ``end_col`` are always
        attached (they identify the matched interval).
    how : ``inner`` (matched points only) or ``left`` (keep unmatched
        points with NULL interval columns).
    closed : which bounds contain: ``left`` ([start, end), the time-bucket
        convention), ``both``, ``right``, ``neither``.
    chunk : chunk width in SECONDS for timestamp ``on`` (raw units for
        numeric), or ``"auto"`` = max(median interval length,
        max_interval_length/256) via one tiny 2-column aggregate job on
        ``intervals`` — the max-length floor keeps a mostly-zero-length
        interval corpus (single-event sessions) from chunking ordinary
        intervals at microsecond width and exploding them into billions
        of rows.  An EXPLICIT width is taken as given: pick it no smaller
        than ~1/256 of the longest interval or the explode inflates.
        Overlapping a point with k intervals yields k output rows — the
        join is 1:N.

    Points with a NULL ``on`` never match (kept under ``how="left"``);
    intervals with a NULL bound or ``end < start`` are dropped.
    """
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    if closed not in ("left", "right", "both", "neither"):
        raise ValueError("closed must be left|right|both|neither")
    by = list(by)
    if value_cols is None:
        value_cols = [
            c for c in intervals.columns if c not in (*by, start_col, end_col)
        ]
    value_cols = list(value_cols)
    out_cols = [start_col, end_col, *value_cols]
    clash = set(out_cols) & set(points.columns)
    if clash:
        raise ValueError(f"interval columns collide with point columns: {sorted(clash)}")
    for c in ("_rj_chunk", "_rj_chunk_i", *(f"_rj_by_{k}" for k in by)):
        if c in points.columns or c in out_cols:
            raise ValueError(f"reserved column name {c!r} already present")

    p_dtype = dict(points.dtypes)[on]
    i_dtypes = dict(intervals.dtypes)
    if (p_dtype.startswith("timestamp")) != (i_dtypes[start_col].startswith("timestamp")):
        raise ValueError(
            f"dtype mismatch: {on} is {p_dtype} but {start_col} is "
            f"{i_dtypes[start_col]}"
        )

    iv = intervals.where(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) >= F.col(start_col))
    )
    s_raw = _to_raw(F.col(start_col), i_dtypes[start_col])
    e_raw = _to_raw(F.col(end_col), i_dtypes[end_col])

    if chunk == "auto":
        # one 2-column scan of the (small relative to points) interval side;
        # median length is the standard range-join bin heuristic.  The max
        # length guards the degenerate mix that OOMs a naive median rule: a
        # corpus of mostly zero-length intervals (single-event sessions)
        # pushes the median to ~0, and exploding one ordinary multi-minute
        # interval by a microsecond-wide chunk is billions of rows.  Width
        # therefore never drops below max_len/256 — per-interval duplication
        # is hard-capped at ~257 chunk rows no matter how skewed the length
        # distribution is.
        agg = iv.select(
            F.percentile_approx(e_raw - s_raw, 0.5).alias("m"),
            F.max(e_raw - s_raw).alias("x"),
        ).first()
        med, mx = int(agg["m"] or 0), int(agg["x"] or 0)
        width = max(med, -(-mx // _MAX_CHUNKS_PER_INTERVAL), 1)
    else:
        width = int(float(chunk) * (1e6 if p_dtype.startswith("timestamp") else 1))
        if width < 1:
            raise ValueError(f"chunk width must be positive, got {chunk!r}")

    # interval-side join keys get reserved names so the equi-join condition
    # never references a column present on both sides — ``intervals`` is
    # routinely DERIVED from ``points`` (sessions detected over the same
    # events), and same-lineage column refs make Catalyst's self-join
    # disambiguation a coin-flip.
    w = F.lit(width)
    iv = iv.withColumn(
        "_rj_chunk_i",
        F.explode(F.sequence(F.floor(s_raw / w), F.floor(e_raw / w))),
    ).select(
        "_rj_chunk_i",
        *[F.col(k).alias(f"_rj_by_{k}") for k in by],
        *out_cols,
    )

    p_raw = _to_raw(F.col(on), p_dtype)
    pt = points.withColumn("_rj_chunk", F.floor(p_raw / w))

    lo = F.col(on) >= F.col(start_col) if closed in ("left", "both") else (
        F.col(on) > F.col(start_col)
    )
    hi = F.col(on) <= F.col(end_col) if closed in ("right", "both") else (
        F.col(on) < F.col(end_col)
    )
    cond = (F.col("_rj_chunk") == F.col("_rj_chunk_i")) & lo & hi
    for k in by:
        cond = cond & (F.col(k) == F.col(f"_rj_by_{k}"))
    joined = pt.join(iv, cond, how)
    return joined.select(*points.columns, *out_cols)
