"""Distributed long-form selectors — the 100 TB path for the "no x" mode.

The kernel path (operators/downsample.py) is ideal when a series fits one
row (token tables, plot-sized series).  For long-form points with very long
or skewed series, materializing a whole series into one array row dies at
Spark's 2 GiB column/Arrow limits.  These operators express the SAME selector
semantics as compositions of windows + grouped aggregations, so per-task
state is bounded by a *bin*, never a series:

* ``minmax_long`` / ``m4_long`` — equal-count binning is computed per point
  (closed-form bin index from the reference rule, minmax.rs:110-119), then
  one groupBy (series, bin) computes first-occurrence argmin/argmax with
  order-embedded struct aggregates.  Shuffle cost: the rank window + one
  partial-aggregated groupBy; no point array ever materializes.
* ``everynth_long`` — a pure projection after the rank window (zero extra
  shuffle): a point knows from (rn, n) whether it is selected.
* ``minmaxlttb_long`` — the prefetch (interior MinMax, n_out*ratio points)
  runs distributed exactly as ``minmax_long``; only the BOUNDED candidate
  set (n_out*ratio + 2 rows per series, independent of n) is grouped for the
  sequential LTTB phase.  Series on the plain-LTTB branch are bounded too
  (n <= (ratio+1) * n_out by the branch condition).  This is the selector
  the reference cannot scale past one core per series; here a 10^9-point
  series costs one bounded shuffle + a 402-row sequential tail.

Selected-index parity with kernels.selectors is exact (same binning rule,
same first-occurrence ties, same LTTB float op order — tested in
tests/test_sql_selectors.py).

Plan shape (audited via .explain): ``minmax_x_long`` / ``m4_x_long`` are ONE
window lineage — rank window, one per-(series, bin) aggregate Window, the
collision-flag window — ending in a per-point multiplicity explode; their
only second consumer, the integer-x collision fallback, reads the same
shuffle as a ReusedExchange (pinned:
tests/test_plans.py::test_x_long_one_window_lineage_no_cache).  The other
branching selectors (``minmax_long``, ``m4_long``, ``minmaxlttb_long``,
``minmaxlttb_x_long``) emit plain UNIONs of identity/pass-through
branches, and Catalyst does not share subtrees across union branches — left
alone, each branch re-runs the scan + rank window (r6 audit:
q_minmaxlttb_x_long = 6 parquet scans / 13 sorts) — so they
``_materialize`` (``plans.materialize.materialize_shared``: persist + eager
count) their ranked base once per invocation and every branch reads the
cached blocks; ``everynth_long`` (single-consumer projection) does not.
The rank exchange stays single either way, and it disappears when the
source table is bucketed+sorted by the series key (the cached plan's scan
preserves outputPartitioning/ordering; verified:
tests/test_plans.py::test_long_selector_shuffle_free_on_bucketed_source
shows a zero-Exchange plan with identical results).

NaN policy: minmax_long/m4_long accept nan="return" (exact NaNMinMax/NaNM4
semantics via a first-NaN-per-bin aggregate); the default expects NaN-free
y.  nan="ignore" WITH NaNs present is kernel-path-only (struct max ordering
treats NaN as greatest, which would corrupt the max slot).

Reference: predict-idlab/tsdownsample downsample_rs/src/minmax.rs:98-222,
m4.rs:102-234, minmaxlttb.rs:125-207, tsdownsample/downsamplers.py:148-158.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsdownsample_spark.kernels.selectors import lttb

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
    """Numeric (double) view of the x column for binning + the kernel's
    integer-edge-truncation flag.  Timestamps bin on the INTEGER microsecond
    view (the kernel's datetime64->int64 view, selectors.py:_as_float_view) —
    CAST(ts AS DOUBLE) would be fractional seconds and truncate edges at
    second granularity.  Dates are rejected (CAST(date AS DOUBLE) is not a
    valid Spark cast); pre-convert with unix_date."""
    x_dtype = df.schema[x_col].dataType.simpleString()
    if x_dtype == "date":
        raise ValueError(
            "date x_col is not supported by the long-form with-x selectors; "
            "pre-convert to an integer day/microsecond column (e.g. "
            "unix_date/unix_micros) like queries._x_long_query does"
        )
    if x_dtype.startswith("timestamp"):
        return F.unix_micros(F.col(x_col).cast("timestamp")).cast("double"), True
    return F.col(x_col).cast("double"), x_dtype in (
        "bigint", "int", "smallint", "tinyint"
    )


# branch-shared base materialization (why and how: plans/materialize.py;
# the bucketed zero-Exchange guarantee is pinned by
# tests/test_plans.py::test_long_selector_shuffle_free_on_bucketed_source)
from tsdownsample_spark.plans.materialize import materialize_shared as _materialize  # noqa: E402


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


def _bin_expr(m: int) -> str:
    """Closed-form equal-count bin index of a point (rn, n) for m bins.

    Forward rule (reference): bin i ends at hi(i) = floor(bs*(i+1)) + 1,
    bs = (n-1)/m in float64.  The inverse floor(rn/bs) can be off by one in
    either direction (float rounding), so the candidate is corrected against
    the forward rule — comparisons use exactly the kernel's hi() expression.
    """
    bs = f"((n - 1) / CAST({m} AS DOUBLE))"
    hi = "(CAST(FLOOR({bs} * ({i} + 1)) AS BIGINT) + 1)"
    i0 = f"LEAST(CAST({m} AS BIGINT) - 1, CAST(FLOOR(rn / {bs}) AS BIGINT))"
    return (
        f"CASE WHEN {i0} >= 1 AND rn < {hi.format(bs=bs, i=f'({i0} - 1)')} "
        f"THEN {i0} - 1 "
        f"WHEN rn >= {hi.format(bs=bs, i=i0)} THEN {i0} + 1 "
        f"ELSE {i0} END"
    )


def _binned_minmax(
    pts: DataFrame, by: Sequence[str], m: int, rn_col: str = "rn",
    nan: str = "forbid",
) -> DataFrame:
    """Per (series, bin): first-occurrence argmin/argmax of v, plus the bin's
    first/last positions — grouped aggregation, map-side combinable.

    First occurrence is embedded in the aggregate ordering: min(struct(v, rn))
    picks (min v, min rn); max(struct(v, -rn)) picks (max v, min rn).

    ``nan="return"`` adds the NaN-return rule (NaN* selectors): a bin with
    any NaN returns its FIRST NaN index for both slots — one extra
    decomposable aggregate (min rn over NaN rows), no extra shuffle.
    """
    binned = (
        pts.withColumn("bin", F.expr(_bin_expr(m)))
        # FP edge: floor(bs*m)+1 can land at n-1, in which case the kernel's
        # bins end BEFORE the last point and it is dropped (equal_count_bins
        # tiles [0, floor(bs*m)+1)); the inverse assignment must drop it too,
        # not invent a bin m.
        .filter(F.col("bin") < m)
        .groupBy(*by, "bin")
        .agg(
            F.min(F.struct(F.col("v"), F.col(rn_col).alias("rn"))).alias("mn"),
            F.max(F.struct(F.col("v"), (-F.col(rn_col)).alias("nrn"))).alias("mx"),
            F.min(F.struct(F.col(rn_col).alias("rn"), F.col("v"))).alias("fst"),
            F.max(F.struct(F.col(rn_col).alias("rn"), F.col("v"))).alias("lst"),
            F.min(F.when(F.isnan("v"), F.col(rn_col))).alias("nan_rn"),
        )
        .withColumn("mn_rn", F.col("mn.rn"))
        .withColumn("mx_rn", -F.col("mx.nrn"))
    )
    if nan == "return":
        nan_v = F.expr("CAST('NaN' AS DOUBLE)")
        has = F.col("nan_rn").isNotNull()
        binned = (
            binned.withColumn("mn_rn", F.when(has, F.col("nan_rn")).otherwise(F.col("mn_rn")))
            .withColumn("mx_rn", F.when(has, F.col("nan_rn")).otherwise(F.col("mx_rn")))
            .withColumn(
                "mn",
                F.when(has, F.struct(nan_v.alias("v"), F.col("nan_rn").alias("rn"))).otherwise(F.col("mn")),
            )
            .withColumn(
                "mx",
                F.when(
                    has,
                    F.struct(nan_v.alias("v"), (-F.col("nan_rn")).alias("nrn")),
                ).otherwise(F.col("mx")),
            )
        )
    return binned


def _emit(binned: DataFrame, by: Sequence[str], slots: list, k: int) -> DataFrame:
    """Explode per-bin slot structs into (by..., pos, sel_idx, sel_value)."""
    arr = F.array(*slots)
    return (
        binned.withColumn("_slots", arr)
        .select(*by, "bin", F.posexplode("_slots").alias("_o", "_s"))
        .select(
            *by,
            (F.lit(k) * F.col("bin") + F.col("_o")).cast("long").alias("pos"),
            F.col("_s.rn").cast("long").alias("sel_idx"),
            F.col("_s.v").alias("sel_value"),
        )
    )


def _identity_small(pts: DataFrame, by: Sequence[str], n_out: int) -> DataFrame:
    return pts.filter(F.col("n") <= n_out).select(
        *by,
        F.col("rn").cast("long").alias("pos"),
        F.col("rn").cast("long").alias("sel_idx"),
        F.col("v").alias("sel_value"),
    )


def _minmax_slots():
    """(lo, hi) slot structs in index order, values carried from the agg."""
    lo = F.when(
        F.col("mn_rn") <= F.col("mx_rn"),
        F.struct(F.col("mn_rn").alias("rn"), F.col("mn.v").alias("v")),
    ).otherwise(F.struct(F.col("mx_rn").alias("rn"), F.col("mx.v").alias("v")))
    hi = F.when(
        F.col("mn_rn") <= F.col("mx_rn"),
        F.struct(F.col("mx_rn").alias("rn"), F.col("mx.v").alias("v")),
    ).otherwise(F.struct(F.col("mn_rn").alias("rn"), F.col("mn.v").alias("v")))
    return lo, hi


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
    by = list(by)
    pts = _materialize(_ranked(df, by, order, y_col))
    big = pts.filter(F.col("n") > n_out)
    lo, hi = _minmax_slots()
    sel = _emit(_binned_minmax(big, by, n_out // 2, nan=nan), by, [lo, hi], 2)
    return sel.unionByName(_identity_small(pts, by, n_out))


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
    by = list(by)
    pts = _materialize(_ranked(df, by, order, y_col))
    big = pts.filter(F.col("n") > n_out)
    lo, hi = _minmax_slots()
    first = F.struct(F.col("fst.rn").alias("rn"), F.col("fst.v").alias("v"))
    last = F.struct(F.col("lst.rn").alias("rn"), F.col("lst.v").alias("v"))
    sel = _emit(_binned_minmax(big, by, n_out // 4, nan=nan), by, [first, lo, hi, last], 4)
    return sel.unionByName(_identity_small(pts, by, n_out))


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


def _collision_flag(m: int, x_is_int: bool):
    """Per-point detector for the two closed-form-vs-sequential divergence
    sources (searchsorted.rs:112-127), evaluated on a frame carrying
    (bin, xv, prev_xv, rn, bin_min_rn):

    * an edge-equal point that is its (closed-form) bin's FIRST point — at
      the first divergence in a series the sequentially-pushed point is
      exactly that, so flagging it catches the series before any push;
    * a duplicate x exactly on an edge (the reference's bisect consumes only
      the first equal element; later duplicates are rank-adjacent, so a
      lag over the rank order sees them).

    max() of this over the series window = route the series to the kernel.
    """
    edge_at_bin = _x_edge_tmpl(m, x_is_int).format(i="bin")
    is_eq = (F.col("bin") < m) & (F.col("xv") == F.expr(edge_at_bin))
    return is_eq & (
        (F.col("rn") == F.col("bin_min_rn")) | (F.col("prev_xv") == F.col("xv"))
    )


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
    x-value bins computed per point, per-(series, bin) window aggregates;
    bins with <= k points pass all points through; empty bins emit nothing.
    Output matches the kernel queries: (by..., sel_idx, x_col, y_col).

    One window lineage, no union of rescans: every point learns its bin's
    count, first/last rn and first-occurrence argmin/argmax from ONE Window
    operator, then is emitted as many times as the slots it fills (first,
    lo, hi, last for M4; lo, hi for MinMax — a point filling two slots is
    emitted twice, exactly like the kernel's duplicate indices).

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
    returns its FIRST NaN for both the min and max slot — one more
    min-rn-over-NaN window aggregate.  Passthrough bins (<= k points) emit
    all points regardless of NaN, exactly like the kernel's small-bin rule.
    """
    by = list(by)
    m = n_out // k
    order = [x_col, *tiebreak]
    wo = Window.partitionBy(*by).orderBy(*order)
    wp = Window.partitionBy(*by)
    wb = Window.partitionBy(*by, "bin")
    x_num, x_is_int = _x_numeric(df, x_col)
    pts = df.select(
        *by,
        F.col(x_col),
        (F.row_number().over(wo) - 1).alias("rn"),
        F.count("*").over(wp).alias("n"),
        x_num.alias("xv"),
        F.lag(x_num).over(wo).alias("prev_xv"),
        F.min(x_num).over(wp).alias("x0"),
        F.max(x_num).over(wp).alias("xn"),
        F.col(y_col).cast("double").alias("v"),
    ).withColumn("bin", F.expr(_x_bin_expr(m, x_is_int)))
    # every per-(series, bin) aggregate in one select -> one Window operator.
    # First occurrence is embedded in the ordering: min(struct(v, rn)) picks
    # (min v, min rn); max(struct(v, -rn)) picks (max v, min rn).
    mn_rn = F.min(F.struct("v", "rn")).over(wb)["rn"]
    mx_rn = -F.max(F.struct(F.col("v"), (-F.col("rn")).alias("nrn"))).over(wb)["nrn"]
    if nan == "return":
        nan_rn = F.min(F.when(F.isnan("v"), F.col("rn"))).over(wb)
        mn_rn, mx_rn = F.coalesce(nan_rn, mn_rn), F.coalesce(nan_rn, mx_rn)
    pts = pts.select(
        "*",
        F.count("*").over(wb).alias("cnt"),
        F.min("rn").over(wb).alias("bin_min_rn"),
        F.max("rn").over(wb).alias("bin_max_rn"),
        mn_rn.alias("mn_rn"),
        mx_rn.alias("mx_rn"),
    )
    # Edge-collision detection: series where the closed form would diverge
    # from the reference's sequential push are routed whole to the kernel
    # (normally ZERO series — the flag window rides the existing hash(by)
    # distribution, no extra exchange).
    detect = collision_policy == "exact" or (
        collision_policy == "auto" and x_is_int
    )
    if detect:
        pts = pts.withColumn(
            "_dvg",
            F.max(
                F.coalesce(_collision_flag(m, x_is_int).cast("int"), F.lit(0))
            ).over(wp),
        )
    slots = ["mn_rn", "mx_rn"] if k == 2 else ["bin_min_rn", "mn_rn", "mx_rn", "bin_max_rn"]
    # how many output slots a point fills.  bin == m means strictly past the
    # truncated last edge -> the reference drops the point (trailing-drop);
    # edge-EQUAL points already landed in bin m-1 via the <=-rule in
    # _x_bin_expr.
    mult = (
        f"CASE WHEN n <= {n_out} THEN 1 "
        + ("WHEN _dvg = 1 THEN 0 " if detect else "")
        + f"WHEN bin >= {m} THEN 0 WHEN cnt <= {k} THEN 1 ELSE "
        + " + ".join(f"CAST(rn = {s} AS INT)" for s in slots)
        + " END"
    )
    out = (
        pts.withColumn("_mult", F.expr(mult))
        .filter(F.col("_mult") > 0)
        .select(
            *by,
            F.col("rn").cast("long").alias("sel_idx"),
            F.col(x_col),
            F.col("v").alias(y_col),
            F.explode(F.array_repeat(F.lit(0), F.col("_mult"))).alias("_r"),
        )
        .drop("_r")
    )
    if detect:
        out = out.unionByName(
            _kernel_x_fallback(
                pts.filter((F.col("n") > n_out) & (F.col("_dvg") == 1))
                .select(*by, "rn", "xv", x_col, "v"),
                by, n_out, x_col, y_col, df.schema, x_is_int,
                algo=("nan" if nan == "return" else "")
                + ("minmax" if k == 2 else "m4"),
            )
        )
    return out


def _kernel_x_fallback(
    collided: DataFrame,
    by: list,
    n_out: int,
    x_col: str,
    y_col: str,
    src_schema,
    x_is_int: bool,
    algo: str,
    kw: dict | None = None,
) -> DataFrame:
    """Whole-series kernel path for edge-collision series (normally empty):
    the sequential empty-bin push is order-dependent, so these run through
    the exact NumPy kernel via applyInPandas.  Input frame must carry
    (by..., rn, xv, x_col, v)."""
    from tsdownsample_spark.kernels.selectors import downsample_array

    kw = kw or {}
    key_fields = ", ".join(
        f"{c} {src_schema[c].dataType.simpleString()}" for c in by
    )
    x_dtype = src_schema[x_col].dataType.simpleString()
    schema = f"{key_fields}, sel_idx long, {x_col} {x_dtype}, {y_col} double"

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn", kind="mergesort", ignore_index=True)
        y = pdf["v"].to_numpy()
        xarr = pdf["xv"].to_numpy()
        if x_is_int:
            xarr = xarr.astype(np.int64)
        idx = downsample_array(y, n_out, algo=algo, x=xarr, **kw)
        out = pdf.iloc[idx][list(by) + [x_col]].copy()
        out.insert(len(by), "sel_idx", pdf["rn"].to_numpy()[idx])
        out[y_col] = pd.arrays.FloatingArray(
            y[idx].copy(), np.zeros(len(idx), dtype=bool)
        )
        return out

    return collided.groupBy(*by).applyInPandas(_fn, schema)


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

    Prefetch (interior MinMax over [1, n-1), n_out*ratio candidates) runs as
    a grouped aggregation like ``minmax_long``; only the candidate set —
    n_out*ratio + 2 rows per series, INDEPENDENT of series length — is
    gathered per series for the sequential LTTB tail.  Plain-branch series
    (n // n_out <= ratio) are themselves bounded by (ratio+1)*n_out rows.

    ``nan="return"`` gives NaNMinMaxLTTB: the prefetch uses the NaN-return
    MinMax (first NaN per bin wins both slots); the LTTB tail needs no flag
    — NaN triangle areas beat finite ones under the kernel's bit-pattern
    argmax exactly like the reference (minmaxlttb.rs:89-121).
    """
    if ratio <= 1:
        raise ValueError("minmax_ratio must be > 1")
    by = list(by)
    pts = _materialize(_ranked(df, by, order, y_col))

    # branch split on the kernel's integer-division rule
    big = pts.filter(F.col("n") > n_out)
    plain = big.filter((F.col("n") / n_out).cast("long") <= ratio)
    pre = big.filter((F.col("n") / n_out).cast("long") > ratio)

    # --- prefetch branch: interior equal-count MinMax, fully distributed
    interior = (
        pre.filter((F.col("rn") >= 1) & (F.col("rn") < F.col("n") - 1))
        .withColumn("rn", F.col("rn") - 1)
        .withColumn("n", F.col("n") - 2)
    )
    m = n_out * ratio // 2
    binned = _binned_minmax(interior, by, m, nan=nan)
    lo, hi = _minmax_slots()
    cand_inner = _emit(binned, by, [lo, hi], 2).select(
        *by, (F.col("sel_idx") + 1).alias("rn"), F.col("sel_value").alias("v")
    )
    endpoints = (
        pre.filter((F.col("rn") == 0) | (F.col("rn") == F.col("n") - 1))
        .select(*by, "rn", "v")
    )
    cands = cand_inner.unionByName(endpoints).withColumn("plain", F.lit(False))
    plain_pts = plain.select(*by, "rn", "v").withColumn("plain", F.lit(True))
    grouped = cands.unionByName(plain_pts)

    key_fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in by
    )
    schema = f"{key_fields}, pos long, sel_idx long, sel_value double"

    def _tail(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn", kind="mergesort", ignore_index=True)
        y = pdf["v"].to_numpy()
        rn = pdf["rn"].to_numpy()
        if bool(pdf["plain"].iloc[0]):
            sel = lttb(y, n_out)  # no-x mode (kernel FP op order)
        else:
            sel = lttb(y, n_out, x=rn.astype(np.float64))
        out = pdf.iloc[sel][list(by)].copy()
        out["pos"] = np.arange(len(sel), dtype=np.int64)
        out["sel_idx"] = rn[sel]
        # masked FloatingArray keeps NaN selections as VALUES through Arrow
        out["sel_value"] = pd.arrays.FloatingArray(
            y[sel].copy(), np.zeros(len(sel), dtype=bool)
        )
        return out

    sel = grouped.groupBy(*by).applyInPandas(_tail, schema)
    return sel.unionByName(_identity_small(pts, by, n_out))


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
    index-x) — the kernel does too (minmaxlttb.rs:158-171).

    Output matches the other with-x operators: (by..., sel_idx, x_col, y_col).
    """
    if ratio <= 1:
        raise ValueError("minmax_ratio must be > 1")
    by = list(by)
    m = n_out * ratio // 2
    order = [x_col, *tiebreak]
    wo = Window.partitionBy(*by).orderBy(*order)
    wp = Window.partitionBy(*by)
    x_num, x_is_int = _x_numeric(df, x_col)
    pts = df.select(
        *by,
        F.col(x_col),
        (F.row_number().over(wo) - 1).alias("rn"),
        F.count("*").over(wp).alias("n"),
        x_num.alias("xv"),
        F.lag(x_num).over(wo).alias("prev_xv"),
        F.col(y_col).cast("double").alias("v"),
    )
    pts = _materialize(pts)
    small_series = pts.filter(F.col("n") <= n_out).select(
        *by, F.col("rn").cast("long").alias("sel_idx"),
        F.col(x_col), F.col("v").alias(y_col),
    )
    big = pts.filter(F.col("n") > n_out)
    plain = big.filter((F.col("n") / n_out).cast("long") <= ratio)
    pre = big.filter((F.col("n") / n_out).cast("long") > ratio)

    # --- prefetch: interior equidistant MinMax (kernel: minmax(y[1:n-1],
    # n_out*ratio, x=x[1:n-1])) — bin edges span the INTERIOR x range.
    # Edge-collision series (closed-form bin vs sequential push divergence)
    # are detected exactly like _downsample_x_long and rerouted whole to the
    # kernel MinMaxLTTB (normally zero series, no extra exchange).
    is_int = (F.col("rn") >= 1) & (F.col("rn") < F.col("n") - 1)
    pre2 = (
        pre.withColumn("x0", F.min(F.when(is_int, F.col("xv"))).over(wp))
        .withColumn("xn", F.max(F.when(is_int, F.col("xv"))).over(wp))
        .withColumn("bin", F.when(is_int, F.expr(_x_bin_expr(m, x_is_int))))
    )
    wb = Window.partitionBy(*by, "bin")
    detect = collision_policy == "exact" or (
        collision_policy == "auto" and x_is_int
    )
    collided = None
    if detect:
        pre2 = pre2.withColumn("bin_min_rn", F.min("rn").over(wb)).withColumn(
            "_dvg",
            F.max(
                F.coalesce(_collision_flag(m, x_is_int).cast("int"), F.lit(0))
            ).over(wp),
        )
        collided = pre2.filter(F.col("_dvg") == 1)
        pre2 = pre2.filter(F.col("_dvg") == 0)
    pre_clean = pre2
    interior = pre_clean.filter(is_int & (F.col("bin") < m)).withColumn(
        "cnt", F.count("*").over(wb)
    )
    passthrough = interior.filter(F.col("cnt") <= 2).select(*by, "rn", "xv", F.col(x_col), "v")
    binned = (
        interior.filter(F.col("cnt") > 2)
        .groupBy(*by, "bin")
        .agg(
            F.min(
                F.struct(F.col("v"), F.col("rn"), F.col("xv"), F.col(x_col).alias("x"))
            ).alias("mn"),
            F.max(
                F.struct(
                    F.col("v"), (-F.col("rn")).alias("nrn"), F.col("xv"),
                    F.col(x_col).alias("x"),
                )
            ).alias("mx"),
            F.min(
                F.when(
                    F.isnan("v"),
                    F.struct(F.col("rn"), F.col("xv"), F.col(x_col).alias("x")),
                )
            ).alias("nanfst"),
        )
    )
    if nan == "return":
        nan_v = F.expr("CAST('NaN' AS DOUBLE)")
        has = F.col("nanfst").isNotNull()
        binned = binned.withColumn(
            "mn",
            F.when(
                has,
                F.struct(
                    nan_v.alias("v"), F.col("nanfst.rn").alias("rn"),
                    F.col("nanfst.xv").alias("xv"), F.col("nanfst.x").alias("x"),
                ),
            ).otherwise(F.col("mn")),
        ).withColumn(
            "mx",
            F.when(
                has,
                F.struct(
                    nan_v.alias("v"), (-F.col("nanfst.rn")).alias("nrn"),
                    F.col("nanfst.xv").alias("xv"), F.col("nanfst.x").alias("x"),
                ),
            ).otherwise(F.col("mx")),
        )
    cand_inner = binned.select(
        *by,
        F.explode(
            F.array(
                F.struct(
                    F.col("mn.rn").alias("rn"), F.col("mn.xv").alias("xv"),
                    F.col("mn.x").alias("x"), F.col("mn.v").alias("v"),
                ),
                F.struct(
                    (-F.col("mx.nrn")).alias("rn"), F.col("mx.xv").alias("xv"),
                    F.col("mx.x").alias("x"), F.col("mx.v").alias("v"),
                ),
            )
        ).alias("_s"),
    ).select(*by, "_s.rn", "_s.xv", F.col("_s.x").alias(x_col), "_s.v")
    endpoints = pre_clean.filter(
        (F.col("rn") == 0) | (F.col("rn") == F.col("n") - 1)
    ).select(*by, "rn", "xv", F.col(x_col), "v")
    plain_pts = plain.select(*by, "rn", "xv", F.col(x_col), "v")
    grouped = cand_inner.unionByName(passthrough).unionByName(endpoints).unionByName(plain_pts)

    key_fields = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in by)
    x_dtype = df.schema[x_col].dataType.simpleString()
    schema = f"{key_fields}, sel_idx long, {x_col} {x_dtype}, {y_col} double"

    def _tail(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn", kind="mergesort", ignore_index=True)
        y = pdf["v"].to_numpy()
        xf = pdf["xv"].to_numpy()
        sel = lttb(y, n_out, x=xf)
        out = pdf.iloc[sel][list(by) + [x_col]].copy()
        out.insert(len(by), "sel_idx", pdf["rn"].to_numpy()[sel])
        out[y_col] = pd.arrays.FloatingArray(
            y[sel].copy(), np.zeros(len(sel), dtype=bool)
        )
        return out

    sel = grouped.groupBy(*by).applyInPandas(_tail, schema)
    out = sel.unionByName(small_series)
    if collided is not None:
        out = out.unionByName(
            _kernel_x_fallback(
                collided, by, n_out, x_col, y_col, df.schema, x_is_int,
                algo=("nan" if nan == "return" else "") + "minmaxlttb",
                kw={"minmax_ratio": ratio},
            )
        )
    return out
