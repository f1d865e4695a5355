"""Distributed long-form selectors — the 100 TB path for long series.

The kernel path (operators/downsample.py) is ideal when a series fits one
row (token tables, plot-sized series).  For long-form points with very long
or skewed series, materializing a whole series into one array row dies at
Spark's 2 GiB column/Arrow limits.  These operators express the SAME selector
semantics as window compositions, so per-task state is bounded by a *bin*
(or by a bounded candidate set), never a series:

* MinMax / M4 (``minmax_long``, ``m4_long``, ``minmax_x_long``,
  ``m4_x_long``) — every point computes its bin in closed form (equal-count:
  _bin_expr, the reference rule minmax.rs:110-119; equidistant x:
  _x_bin_expr), then ONE per-(series, bin) Window tells it the bin's count,
  first/last index and first-occurrence argmin/argmax (_slot_lineage).  From
  those a point knows which output positions it fills and is emitted once
  per position, so the kernel's duplicate indices come out unchanged; no
  bin or series is ever grouped.
* ``everynth_long`` — a pure projection after the rank window: a point
  knows from (rn, n) whether it is selected.
* MinMaxLTTB (``minmaxlttb_long``, ``minmaxlttb_x_long``) — the interior
  MinMax prefetch is the same slot lineage; only the BOUNDED candidate set
  (n_out*ratio + 2 rows per prefetch series, independent of n; plain-branch
  series have n <= (ratio+1)*n_out by the branch condition) is grouped per
  series for the sequential LTTB tail.  This is the selector the reference
  cannot scale past one core per series; here a 10^9-point series costs one
  shuffle + a 402-row sequential tail.

Selected-index parity with kernels.selectors is exact (same binning rule,
same first-occurrence ties, same LTTB float op order — tested in
tests/test_sql_selectors.py).

Plan shape (pinned: tests/test_plans.py::test_x_long_one_window_lineage_no_cache):
every selector has ONE Exchange, the rank shuffle on the series key; the
per-bin window, the collision flag and the LTTB tail's grouping all ride its
hash(series) partitioning, and nothing is persisted.  The only second
consumers — the MinMaxLTTB small-series branch (n <= n_out, emitted as is)
and the with-x MinMax/M4 integer-x collision fallback — read that shuffle as
a ReusedExchange: no second scan or shuffle, only the local sort and windows
run again.  On a source bucketed and sorted by the series key the Exchange
disappears (tests/test_plans.py::test_long_selector_shuffle_free_on_bucketed_source
shows a zero-Exchange plan with identical results).

NaN policy: the MinMax/M4/MinMaxLTTB forms accept nan="return" (exact
NaN* semantics via a first-NaN-per-bin aggregate); the default expects
NaN-free y.  nan="ignore" WITH NaNs present is kernel-path-only (struct max
ordering treats NaN as greatest, which would corrupt the max slot).

Reference: predict-idlab/tsdownsample downsample_rs/src/minmax.rs:98-222,
m4.rs:102-234, minmaxlttb.rs:125-207, tsdownsample/downsamplers.py:148-158.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsdownsample_spark.kernels.selectors import downsample_array, lttb

__all__ = [
    "minmax_long",
    "m4_long",
    "everynth_long",
    "minmaxlttb_long",
    "minmax_x_long",
    "m4_x_long",
    "minmaxlttb_x_long",
]


def _x_numeric(df: DataFrame, x_col: str):
    """(num, x_is_int): the numeric (double) view of x values for binning
    — a SQL template, applied to x_col and to its window aggregates (the
    view is monotone, so it commutes with min/max/lag) — and the kernel's
    integer-edge-truncation flag.  Timestamps bin on the INTEGER
    microsecond view (the kernel's datetime64->int64 view,
    selectors.py:_as_float_view) — CAST(ts AS DOUBLE) would be fractional
    seconds and truncate edges at second granularity.  The cast is to
    TIMESTAMP_LTZ explicitly: a plain "timestamp" cast means NTZ under
    spark.sql.timestampType=TIMESTAMP_NTZ, which unix_micros rejects.  Dates
    are rejected (CAST(date AS DOUBLE) is not a valid Spark cast);
    pre-convert with unix_date."""
    x_dtype = df.schema[x_col].dataType.simpleString()
    if x_dtype == "date":
        raise ValueError(
            "date x_col is not supported by the long-form with-x selectors; "
            "pre-convert to an integer day/microsecond column (e.g. "
            "unix_date/unix_micros) like queries._x_long_query does"
        )
    if x_dtype.startswith("timestamp"):
        return "CAST(unix_micros(CAST({} AS TIMESTAMP_LTZ)) AS DOUBLE)", True
    return "CAST({} AS DOUBLE)", x_dtype in ("bigint", "int", "smallint", "tinyint")


def _ranked(
    df: DataFrame, by: Sequence[str], order: Sequence[str], y_col: str
) -> DataFrame:
    """(by..., rn, n, v): dense 0-based rank + series length, one shuffle."""
    wo = Window.partitionBy(*by).orderBy(*order)
    wp = Window.partitionBy(*by)
    return df.select(
        *by,
        (F.row_number().over(wo) - 1).alias("rn"),
        F.count("*").over(wp).alias("n"),
        F.col(y_col).cast("double").alias("v"),
    )


def _x_ranked(
    df: DataFrame, by: list, x_col: str, tiebreak: Sequence[str], y_col: str
):
    """(by..., x_col, rn, n, xv, prev_xv, x0, xn, v) in x order — one
    shuffle — and whether x bins on integer (truncated) edges.  The windows
    read x_col itself and the numeric view is taken after them, so the
    shuffle carries only source columns: a second consumer that never reads
    xv (the MinMaxLTTB small-series branch) plans the same exchange and
    reuses it."""
    num, x_is_int = _x_numeric(df, x_col)
    x = F.col(x_col)
    wo = Window.partitionBy(*by).orderBy(x_col, *tiebreak)
    wp = Window.partitionBy(*by)
    pts = df.select(
        *by,
        x,
        (F.row_number().over(wo) - 1).alias("rn"),
        F.count("*").over(wp).alias("n"),
        F.lag(x).over(wo).alias("prev_x"),
        F.min(x).over(wp).alias("min_x"),
        F.max(x).over(wp).alias("max_x"),
        F.col(y_col).cast("double").alias("v"),
    )
    x_sql = "`" + x_col.replace("`", "``") + "`"
    return pts.select(
        *by, x_col, "rn", "n",
        *(F.expr(num.format(c)).alias(a) for c, a in [
            (x_sql, "xv"), ("prev_x", "prev_xv"), ("min_x", "x0"), ("max_x", "xn"),
        ]),
        "v",
    ), x_is_int


def _bin_expr(m: int, rn: str = "rn", n: str = "n") -> str:
    """Closed-form equal-count bin index of a point (rn, n) for m bins.

    Forward rule (reference): bin i ends at hi(i) = floor(bs*(i+1)) + 1,
    bs = (n-1)/m in float64.  The inverse floor(rn/bs) can be off by one in
    either direction (float rounding), so the candidate is corrected against
    the forward rule — comparisons use exactly the kernel's hi() expression.
    FP edge: floor(bs*m)+1 can land at n-1, in which case the kernel's bins
    end BEFORE the last point and it is dropped (equal_count_bins tiles
    [0, floor(bs*m)+1)); the inverse then yields m for that point, which
    _slot_lineage drops, rather than inventing a bin m.
    """
    bs = f"(({n} - 1) / CAST({m} AS DOUBLE))"
    hi = "(CAST(FLOOR({bs} * ({i} + 1)) AS BIGINT) + 1)"
    i0 = f"LEAST(CAST({m} AS BIGINT) - 1, CAST(FLOOR({rn} / {bs}) AS BIGINT))"
    return (
        f"CASE WHEN {i0} >= 1 AND {rn} < {hi.format(bs=bs, i=f'({i0} - 1)')} "
        f"THEN {i0} - 1 "
        f"WHEN {rn} >= {hi.format(bs=bs, i=i0)} THEN {i0} + 1 "
        f"ELSE {i0} END"
    )


def _slot_lineage(
    pts: DataFrame,
    by: list,
    m: int,
    k: int,
    nan: str = "forbid",
    small_bins: bool = False,
    collision: str | None = None,
) -> DataFrame:
    """The per-point slot choice every MinMax/M4/MinMaxLTTB long selector
    reads.  ``pts`` carries (by..., rn, v, bin), ``bin`` NULL for a point
    that is not binned, plus the columns ``collision`` reads; the result
    adds ``_pos``, the sorted list of output positions the point fills
    (NULL for none) — callers explode it.  Callers compute ``bin`` only
    where it is needed, so the bin formulas never see a series too short
    to bin (a one-point series has bin size 0).

    ONE per-(series, bin) Window gives every point its bin's count,
    first/last rn and first-occurrence argmin/argmax — min(struct(v, rn))
    picks (min v, min rn), max(struct(v, -rn)) picks (max v, min rn).  Bin b
    owns positions k*b .. k*b+k-1 for its slots in index order: first, lo,
    hi, last for M4 (k=4); lo, hi for MinMax (k=2), lo/hi being argmin and
    argmax sorted.  Slot rn never decrease, so a point filling several
    slots (argmin == argmax, M4's first == min) fills a contiguous range,
    and the list's length reproduces the kernel's duplicate indices.

    Rules, first match wins:

    * ``bin IS NULL``: one position, ``rn`` — a series with n <= n_out,
      or a MinMaxLTTB row outside the prefetch bins;
    * ``collision`` (SQL predicate, _collision_flag): a series in which
      any point matches (column ``_dvg``) passes every point once too —
      its caller runs the kernel on it whole;
    * ``bin >= m``: past the last edge, which the kernel drops;
    * ``small_bins`` (with-x only, minmax.rs:199-203 / m4.rs:206-210): a bin
      of <= k points passes each point through once;
    * otherwise: one position per slot the point is.

    ``nan="return"``: a bin with any NaN returns its FIRST NaN for both the
    min and max slot (the NaN* selectors) — one more window aggregate.
    """
    wb = Window.partitionBy(*by, "bin")
    mn_rn = F.min(F.struct("v", "rn")).over(wb)["rn"]
    mx_rn = -F.max(F.struct(F.col("v"), (-F.col("rn")).alias("nrn"))).over(wb)["nrn"]
    if nan == "return":
        nan_rn = F.min(F.when(F.isnan("v"), F.col("rn"))).over(wb)
        mn_rn, mx_rn = F.coalesce(nan_rn, mn_rn), F.coalesce(nan_rn, mx_rn)
    # every per-(series, bin) aggregate in one select -> one Window operator
    # (Catalyst prunes the ones a caller never reads)
    pts = pts.select(
        "*",
        F.count("*").over(wb).alias("cnt"),
        F.min("rn").over(wb).alias("bin_min_rn"),
        F.max("rn").over(wb).alias("bin_max_rn"),
        mn_rn.alias("mn_rn"),
        mx_rn.alias("mx_rn"),
    )
    if collision is not None:
        # normally ZERO series are flagged; the flag window rides the
        # existing hash(by) distribution, no extra exchange
        flag = f"COALESCE(CAST(({collision}) AS INT), 0)"
        pts = pts.withColumn(
            "_dvg", F.max(F.expr(flag)).over(Window.partitionBy(*by))
        )
    lo, hi = "LEAST(mn_rn, mx_rn)", "GREATEST(mn_rn, mx_rn)"
    slots = [lo, hi] if k == 2 else ["bin_min_rn", lo, hi, "bin_max_rn"]
    # index of the first / last slot the point is
    first, last = (
        "CASE " + " ".join(f"WHEN rn = {slots[j]} THEN {j}" for j in js) + " END"
        for js in (range(k), reversed(range(k)))
    )
    pos = (
        "CASE WHEN bin IS NULL "
        + ("OR _dvg = 1 " if collision is not None else "")
        + "THEN array(CAST(rn AS BIGINT)) "
        + f"WHEN bin >= {m} THEN NULL "
        + (f"WHEN cnt <= {k} THEN array({k} * bin + rn - bin_min_rn) " if small_bins else "")
        + f"WHEN rn IN ({', '.join(slots)}) "
        + f"THEN sequence({k} * bin + {first}, {k} * bin + {last}) END"
    )
    return pts.withColumn("_pos", F.expr(pos))


def _downsample_long(
    df: DataFrame,
    n_out: int,
    k: int,
    order: Sequence[str],
    by: Sequence[str],
    y_col: str,
    nan: str,
) -> DataFrame:
    """Shared body for minmax_long (k=2) / m4_long (k=4): equal-count bins,
    one slot lineage, one explode — (by..., pos, sel_idx, sel_value).
    Equal-count bins are never empty, so k*bin + slot is the kernel's
    output position."""
    by = list(by)
    m = n_out // k
    pts = _ranked(df, by, order, y_col).withColumn(
        "bin", F.expr(f"CASE WHEN n > {n_out} THEN {_bin_expr(m)} END")
    )
    pts = _slot_lineage(pts, by, m, k, nan=nan)
    return pts.select(
        *by, F.explode("_pos").alias("pos"),
        F.col("rn").cast("long").alias("sel_idx"), F.col("v").alias("sel_value"),
    )


def minmax_long(
    df: DataFrame,
    n_out: int,
    order: Sequence[str],
    by: Sequence[str],
    y_col: str = "value",
    nan: str = "forbid",
) -> DataFrame:
    """Distributed MinMax (no-x): (by..., pos, sel_idx, sel_value).

    ``nan="return"`` gives the NaNMinMax selector (first NaN per bin wins
    both slots); the default expects NaN-free y (see module docstring)."""
    if n_out % 2:
        raise ValueError("n_out must be a multiple of 2")
    return _downsample_long(df, n_out, 2, order, by, y_col, nan)


def m4_long(
    df: DataFrame,
    n_out: int,
    order: Sequence[str],
    by: Sequence[str],
    y_col: str = "value",
    nan: str = "forbid",
) -> DataFrame:
    """Distributed M4 (no-x): per bin (first, min, max, last) in index order.

    ``nan="return"`` gives NaNM4 (first/last slots stay positional)."""
    if n_out % 4:
        raise ValueError("n_out must be a multiple of 4")
    return _downsample_long(df, n_out, 4, order, by, y_col, nan)


def everynth_long(
    df: DataFrame,
    n_out: int,
    order: Sequence[str],
    by: Sequence[str],
    y_col: str = "value",
) -> DataFrame:
    """Distributed EveryNth: selection decided per point from (rn, n) — a
    projection after the rank window; no grouping at all.

    Reference rule (downsamplers.py:148-158): step = max(1, n/n_out),
    indices floor(k*step) for k*step < n - 0.1.  A point checks the k
    candidates around rn/step against the forward formula.
    """
    by = list(by)
    pts = _ranked(df, by, order, y_col)
    step = f"GREATEST(CAST(1.0 AS DOUBLE), n / CAST({n_out} AS DOUBLE))"
    k0 = f"CAST(FLOOR(rn / {step}) AS BIGINT)"
    hit = (
        "(CASE "
        + " ".join(
            f"WHEN {k0} + {d} >= 0 AND CAST(FLOOR(({k0} + {d}) * {step}) AS BIGINT) = rn"
            f" AND ({k0} + {d}) * {step} < n - 0.1 THEN {k0} + {d}"
            for d in (-1, 0, 1)
        )
        + " ELSE CAST(NULL AS BIGINT) END)"
    )
    return (
        pts.withColumn("pos", F.expr(hit))
        .filter(F.col("pos").isNotNull())
        .select(
            *by,
            F.col("pos").cast("long").alias("pos"),
            F.col("rn").cast("long").alias("sel_idx"),
            F.col("v").alias("sel_value"),
        )
    )


def _x_edge_tmpl(m: int, x_is_int: bool) -> str:
    """Edge-i expression template over columns (x0, xn): the reference's
    sequential_add_mul edge (searchsorted.rs:80-88,112-116), truncated for
    integer x like T::from_f64."""
    step = f"((xn / CAST({m} AS DOUBLE)) - (x0 / CAST({m} AS DOUBLE)))"
    half = "((CAST({i} AS DOUBLE) + 1) / 2.0)"
    raw = f"(x0 + {step} * {half} + {step} * {half} + 1e-12)"
    # truncate toward ZERO like np.trunc / Rust T::from_f64 — FLOOR would be
    # off by one for negative integer x (CAST double->bigint truncates)
    return f"CAST(CAST({raw} AS BIGINT) AS DOUBLE)" if x_is_int else raw


def _x_bin_expr(m: int, x_is_int: bool) -> str:
    """Equidistant x-value bin of a point (xv, x0, xn), closed form.

    The linear inverse floor((xv-x0)/step) is corrected +-1 against the
    forward edge formula.  bin b = smallest i with xv <= edge(i): a point
    exactly EQUAL to a truncated edge belongs to the LOWER bin (the
    reference's bisect is +1-after-first-equal — searchsorted.rs:31-36), and
    this covers the common integer-x collision where the series max sits
    exactly on the truncated last edge.  A point strictly past the last edge
    yields m and is dropped by the caller (the reference's trailing-drop).

    The closed form matches the reference's sequential assignment EXCEPT
    for series containing an edge-equal point that is its bin's first point
    (the order-dependent empty-bin push, searchsorted.rs:112-127) or a
    duplicate x sitting exactly on an edge (bisect consumes only the FIRST
    equal element).  Callers detect those series (_collision_flag) and
    reroute them to the kernel.  Timestamps are NOT exempt: _x_numeric bins
    them on integer microseconds with truncated edges, so they collide like
    integer x and detection runs for them; only float x (untruncated
    edges, where an exact edge hit is a measure-zero event) skips it under
    the default policy.
    """
    edge = _x_edge_tmpl(m, x_is_int)
    step = f"((xn / CAST({m} AS DOUBLE)) - (x0 / CAST({m} AS DOUBLE)))"
    i0 = (
        f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({m} AS BIGINT) - 1, "
        f"CAST(FLOOR((xv - x0) / {step}) AS BIGINT)))"
    )
    e_at = lambda i: edge.format(i=i)  # noqa: E731
    # constant-x series (step = 0): the 0/0 inverse is NaN, but the kernel
    # semantics stay well-defined — every edge equals edge(0), so the series
    # is either entirely in bin 0 (x0 < edge) or entirely dropped (the
    # x[start] >= edge empty-bin rule).  Evaluate with the SAME edge
    # expression: integer truncation makes the outcome sign/magnitude
    # dependent (trunc(x0 + eps) can land above, on, or below x0).
    return (
        f"CASE WHEN xn = x0 THEN "
        f"(CASE WHEN xv < {e_at('0')} THEN CAST(0 AS BIGINT) "
        f"ELSE CAST({m} AS BIGINT) END) "
        f"WHEN {i0} >= 1 AND xv <= {e_at(f'({i0} - 1)')} "
        f"THEN {i0} - 1 "
        f"WHEN xv > {e_at(i0)} THEN {i0} + 1 "
        f"ELSE {i0} END"
    )


def _collision_flag(m: int, x_is_int: bool, policy: str) -> str | None:
    """Per-point detector for the two closed-form-vs-sequential divergence
    sources (searchsorted.rs:112-127), evaluated on a frame carrying
    (bin, xv, prev_xv, rn, bin_min_rn) — or None where ``policy`` (the
    selectors' ``collision_policy``) skips detection:

    * an edge-equal point that is its (closed-form) bin's FIRST point — at
      the first divergence in a series the sequentially-pushed point is
      exactly that, so flagging it catches the series before any push;
    * a duplicate x exactly on an edge (the reference's bisect consumes only
      the first equal element; later duplicates are rank-adjacent, so a
      lag over the rank order sees them).

    max() of this over the series window = route the series to the kernel.
    One SQL predicate: Column-API composition costs a py4j round trip per
    node at build time.
    """
    if not (policy == "exact" or (policy == "auto" and x_is_int)):
        return None
    edge_at_bin = _x_edge_tmpl(m, x_is_int).format(i="bin")
    return (
        f"bin < {m} AND xv = {edge_at_bin} "
        "AND (rn = bin_min_rn OR prev_xv = xv)"
    )


def _per_series(
    rows: DataFrame,
    by: list,
    n_out: int,
    algo: str,
    src_schema,
    x: tuple | None = None,
    **kw,
) -> DataFrame:
    """Per-series Python step over ``rows`` (by..., rn, v, _whole[, xv,
    x_col]) via applyInPandas.  A series whose rows are ALL of it
    (``_whole``: a MinMaxLTTB plain-branch series, or an edge-collision
    series) runs the exact NumPy kernel ``algo``; a MinMaxLTTB prefetch
    series (endpoints + candidates) runs the LTTB tail over its candidates
    with their original index (no-x) or x value as x (minmaxlttb.rs:136-156).

    ``x`` = (x_col, y_col, x_is_int) gives the with-x output (by...,
    sel_idx, x_col, y_col); None the no-x one (by..., pos, sel_idx,
    sel_value)."""
    key_fields = ", ".join(f"{c} {src_schema[c].dataType.simpleString()}" for c in by)
    if x is None:
        schema = f"{key_fields}, pos long, sel_idx long, sel_value double"
        keys, val = by, "sel_value"
    else:
        x_col, val, x_is_int = x
        x_dtype = src_schema[x_col].dataType.simpleString()
        schema = f"{key_fields}, sel_idx long, {x_col} {x_dtype}, {val} double"
        keys = by + [x_col]

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn", kind="mergesort", ignore_index=True)
        y = pdf["v"].to_numpy()
        rn = pdf["rn"].to_numpy()
        if bool(pdf["_whole"].iloc[0]):
            xk = None
            if x is not None:
                xk = pdf["xv"].to_numpy()
                xk = xk.astype(np.int64) if x_is_int else xk
            idx = downsample_array(y, n_out, algo=algo, x=xk, **kw)
        else:
            xc = rn.astype(np.float64) if x is None else pdf["xv"].to_numpy()
            idx = lttb(y, n_out, x=xc)
        out = pdf.iloc[idx][keys].copy()
        out.insert(len(by), "sel_idx", rn[idx])
        if x is None:
            out.insert(len(by), "pos", np.arange(len(idx), dtype=np.int64))
        # masked FloatingArray keeps NaN selections as VALUES through Arrow
        out[val] = pd.arrays.FloatingArray(
            y[idx].copy(), np.zeros(len(idx), dtype=bool)
        )
        return out

    return rows.groupBy(*by).applyInPandas(_fn, schema)


def _downsample_x_long(
    df: DataFrame,
    n_out: int,
    k: int,
    x_col: str,
    by: Sequence[str],
    y_col: str,
    tiebreak: Sequence[str] = (),
    nan: str = "forbid",
    collision_policy: str = "auto",
) -> DataFrame:
    """Shared body for minmax_x_long (k=2) / m4_x_long (k=4): equidistant
    x-value bins computed per point, one slot lineage; bins with <= k points
    pass all points through; empty bins emit nothing.  Output matches the
    kernel queries: (by..., sel_idx, x_col, y_col).

    ``collision_policy`` controls edge-collision handling (see
    _collision_flag): "auto" (default) detects and kernel-reroutes collided
    series when x is integer-typed or a timestamp — both bin on truncated
    integer edges (_x_numeric), where collisions are realistic — and skips
    detection for float x; "exact" always detects; "assume_clean" never
    does (the detection window is cheap, but the fallback branch re-runs
    the local sort + windows over the shuffled source, so float-x callers
    shouldn't pay it).  The fallback reads the same exchange as the main
    branch (planned as a ReusedExchange): no second scan or shuffle.

    ``nan="return"`` gives the NaN* with-x semantics (reference instantiates
    NaN with-x kernels at minmax.rs:72-74 / m4.rs:70-72): a bin with any NaN
    returns its FIRST NaN for both the min and max slot.  Passthrough bins
    (<= k points) emit all points regardless of NaN, exactly like the
    kernel's small-bin rule.
    """
    by = list(by)
    m = n_out // k
    pts, x_is_int = _x_ranked(df, by, x_col, tiebreak, y_col)
    collision = _collision_flag(m, x_is_int, collision_policy)
    bin_sql = f"CASE WHEN n > {n_out} THEN {_x_bin_expr(m, x_is_int)} END"
    pts = _slot_lineage(
        pts.withColumn("bin", F.expr(bin_sql)), by, m, k,
        nan=nan, small_bins=True, collision=collision,
    )
    out = pts if collision is None else pts.filter("_dvg = 0")
    out = out.select(
        *by, F.col("rn").cast("long").alias("sel_idx"), F.col(x_col),
        F.col("v").alias(y_col), F.explode("_pos").alias("pos"),
    ).drop("pos")
    if collision is not None:
        collided = pts.filter("_dvg = 1").select(
            *by, "rn", "v", F.lit(True).alias("_whole"), "xv", x_col
        )
        algo = ("nan" if nan == "return" else "") + ("minmax" if k == 2 else "m4")
        out = out.unionByName(
            _per_series(collided, by, n_out, algo, df.schema, x=(x_col, y_col, x_is_int))
        )
    return out


def minmax_x_long(
    df: DataFrame,
    n_out: int,
    x_col: str,
    by: Sequence[str],
    y_col: str = "value",
    tiebreak: Sequence[str] = (),
    nan: str = "forbid",
    collision_policy: str = "auto",
) -> DataFrame:
    """Distributed with-x MinMax (equidistant bins, bounded per-task state).

    ``nan="return"`` gives NaNMinMax-with-x (reference minmax.rs:72-74)."""
    if n_out % 2:
        raise ValueError("n_out must be a multiple of 2")
    return _downsample_x_long(
        df, n_out, 2, x_col, by, y_col, tiebreak, nan=nan,
        collision_policy=collision_policy,
    )


def m4_x_long(
    df: DataFrame,
    n_out: int,
    x_col: str,
    by: Sequence[str],
    y_col: str = "value",
    tiebreak: Sequence[str] = (),
    nan: str = "forbid",
    collision_policy: str = "auto",
) -> DataFrame:
    """Distributed with-x M4 (equidistant bins, bounded per-task state).

    ``nan="return"`` gives NaNM4-with-x (reference m4.rs:70-72)."""
    if n_out % 4:
        raise ValueError("n_out must be a multiple of 4")
    return _downsample_x_long(
        df, n_out, 4, x_col, by, y_col, tiebreak, nan=nan,
        collision_policy=collision_policy,
    )


def _plain_interior(n_out: int, ratio: int):
    """(plain, interior): a series takes the plain-LTTB branch on the
    kernel's integer-division rule n // n_out <= ratio; otherwise its
    interior [1, n-1) is MinMax-prefetched."""
    plain = (F.col("n") / n_out).cast("long") <= ratio
    return plain, ~plain & (F.col("rn") >= 1) & (F.col("rn") < F.col("n") - 1)


def minmaxlttb_long(
    df: DataFrame,
    n_out: int,
    order: Sequence[str],
    by: Sequence[str],
    y_col: str = "value",
    ratio: int = 4,
    nan: str = "forbid",
) -> DataFrame:
    """Distributed MinMaxLTTB: unbounded series, bounded per-task state.

    The prefetch (interior MinMax over [1, n-1), n_out*ratio candidates) is
    the slot lineage of ``minmax_long`` over the interior re-based to
    (rn-1, n-2); one explode of its position lists then keeps every point
    of a plain-branch series (n // n_out <= ratio — itself bounded by
    (ratio+1)*n_out rows), the endpoints of each prefetch series, and its
    interior candidates with their slot multiplicity.  Only that set —
    n_out*ratio + 2 rows per prefetch series, INDEPENDENT of series length —
    is gathered per series for the sequential LTTB tail.

    ``nan="return"`` gives NaNMinMaxLTTB: the prefetch uses the NaN-return
    MinMax (first NaN per bin wins both slots); the LTTB tail needs no flag
    — NaN triangle areas beat finite ones under the kernel's bit-pattern
    argmax exactly like the reference (minmaxlttb.rs:89-121).
    """
    if ratio <= 1:
        raise ValueError("minmax_ratio must be > 1")
    by = list(by)
    m = n_out * ratio // 2
    pts = _ranked(df, by, order, y_col)
    plain, interior = _plain_interior(n_out, ratio)
    big = pts.filter(F.col("n") > n_out).withColumn(
        "bin", F.when(interior, F.expr(_bin_expr(m, rn="(rn - 1)", n="(n - 2)")))
    )
    cands = _slot_lineage(big, by, m, 2, nan=nan).select(
        *by, "rn", "v", plain.alias("_whole"), F.explode("_pos").alias("pos")
    ).drop("pos")
    small = pts.filter(F.col("n") <= n_out).select(
        *by,
        F.col("rn").cast("long").alias("pos"),
        F.col("rn").cast("long").alias("sel_idx"),
        F.col("v").alias("sel_value"),
    )
    sel = _per_series(
        cands, by, n_out, ("nan" if nan == "return" else "") + "minmaxlttb",
        df.schema, minmax_ratio=ratio,
    )
    return sel.unionByName(small)


def minmaxlttb_x_long(
    df: DataFrame,
    n_out: int,
    x_col: str,
    by: Sequence[str],
    y_col: str = "value",
    tiebreak: Sequence[str] = (),
    ratio: int = 4,
    collision_policy: str = "auto",
    nan: str = "forbid",
) -> DataFrame:
    """Distributed with-x MinMaxLTTB (reference minmaxlttb.rs:125-171):
    equidistant-bin MinMax prefetch over the interior x range feeds the
    sequential LTTB tail *with the original x values* — unbounded series,
    bounded per-task state.

    Series on the prefetch branch (``n // n_out > ratio``) contribute at
    most ``n_out*ratio + 2`` candidate rows to the grouped tail regardless
    of length (empty equidistant bins only shrink that); plain-branch series
    are bounded by ``(ratio+1)*n_out`` rows.  Both branches run the SAME
    with-x LTTB call (unlike the no-x twin, where the plain branch uses
    index-x) — the kernel does too (minmaxlttb.rs:158-171).  Edge-collision
    series (see ``_downsample_x_long``'s ``collision_policy``) reach the tail
    whole and run the kernel MinMaxLTTB there.

    Output matches the other with-x operators: (by..., sel_idx, x_col, y_col).
    """
    if ratio <= 1:
        raise ValueError("minmax_ratio must be > 1")
    by = list(by)
    m = n_out * ratio // 2
    pts, x_is_int = _x_ranked(df, by, x_col, tiebreak, y_col)
    collision = _collision_flag(m, x_is_int, collision_policy)
    # prefetch: interior equidistant MinMax (kernel: minmax(y[1:n-1],
    # n_out*ratio, x=x[1:n-1])) — bin edges span the INTERIOR x range
    wp = Window.partitionBy(*by)
    plain, interior = _plain_interior(n_out, ratio)
    big = (
        pts.filter(F.col("n") > n_out)
        .withColumns({
            "x0": F.min(F.when(interior, F.col("xv"))).over(wp),
            "xn": F.max(F.when(interior, F.col("xv"))).over(wp),
        })
        .withColumn("bin", F.when(interior, F.expr(_x_bin_expr(m, x_is_int))))
    )
    big = _slot_lineage(
        big, by, m, 2, nan=nan, small_bins=True, collision=collision
    )
    whole = plain if collision is None else plain | (F.col("_dvg") == 1)
    cands = big.select(
        *by, "rn", "v", whole.alias("_whole"), "xv", x_col,
        F.explode("_pos").alias("pos"),
    ).drop("pos")
    small = pts.filter(F.col("n") <= n_out).select(
        *by, F.col("rn").cast("long").alias("sel_idx"), F.col(x_col),
        F.col("v").alias(y_col),
    )
    sel = _per_series(
        cands, by, n_out, ("nan" if nan == "return" else "") + "minmaxlttb",
        df.schema, x=(x_col, y_col, x_is_int), minmax_ratio=ratio,
    )
    return sel.unionByName(small)
