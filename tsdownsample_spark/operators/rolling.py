"""Trailing time-RANGE rolling statistics: per-series aggregates over
the last ``duration`` of WALL TIME ending at each observation — the
"requests in the last 5 minutes" / "rolling 1-hour mean" primitive.

The ROWS-frame detectors (operators/anomaly.py) hold the SAMPLE size
fixed; under irregular sampling their time horizon stretches and
shrinks.  This operator holds the TIME horizon fixed instead — the shape
monitoring SLOs and rate limits are defined in.  A RANGE frame is also
tie-proof by construction: all peers sharing a timestamp land in every
frame that includes that instant, so no tiebreak column is needed and
the result is deterministic under duplicate timestamps (reference
parity note: tsdownsample's kernels are pure index-space and have no
time-window notion — this is engine surface layered on the same
per-series model as rate.py/gaps.py).

Scale shape: ONE shuffle on the series key, no UDF, no join.  Spark
evaluates a sliding RANGE frame with two ordered cursors per partition
(frame endpoints only move forward), BUT it re-aggregates the frame
buffer per row (SlidingWindowFunctionFrame has no incremental subtract),
so the JVM ``impl="frame"`` cost is O(n x points-per-frame) per series.
For dense series with wide horizons that is quadratic-like: the r6 bench
measured the four frame-form contract rows at 65-388 s EACH at sf1.0
(2-24 h horizons over 30 days of ~0.4 Hz data -> 10^3-10^4-point
frames).  ``impl="grouped"`` (r6) is the repaired shape: the same ONE
shuffle on the series key, then an exact vectorized per-series kernel
(Arrow applyInPandas, guide section 4.2) that computes every aggregate
in O(n log n) from sorted-frame prefix/sweep arithmetic — identical
values (oracle-checked), 30-200x less per-task work.  The frame form
stays available as the bit-exact JVM reference.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsdownsample_spark.operators.timeutil import micros

__all__ = [
    "rolling_time_stats",
    "rolling_time_quantile",
    "rolling_time_distinct",
    "rolling_time_regr",
    "duration_to_micros",
]

_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def duration_to_micros(duration: str) -> int:
    """Parse ``"5 minutes"`` / ``"1 hour"`` / ``"30 seconds"`` into exact
    integer microseconds.  Fixed-length units only — months/years are
    calendar arithmetic, which a linear RANGE frame cannot express."""
    m = re.fullmatch(
        r"\s*(\d+)\s*(microsecond|millisecond|second|minute|hour|day)s?\s*",
        str(duration).lower(),
    )
    if not m:
        raise ValueError(
            f"unsupported duration {duration!r}: expected '<n> "
            "<microsecond|millisecond|second|minute|hour|day>[s]'"
        )
    n = int(m.group(1))
    if n <= 0:
        raise ValueError(f"duration must be positive, got {duration!r}")
    return n * _UNIT_US[m.group(2)]


def _range_window(
    df: DataFrame,
    x_col: str,
    by: Sequence[str],
    duration: str,
    include_current: bool,
):
    """Shared trailing-RANGE frame builder: ``[t - duration, t]`` (or
    ``[t - duration, t)`` when ``include_current`` is False) ordered by
    integer microseconds for timestamps or the raw value for numeric x."""
    t_dtype = dict(df.dtypes)[x_col]
    if t_dtype.startswith("timestamp"):
        order = micros(F.col(x_col))
        span = duration_to_micros(duration)
    else:
        if not include_current and t_dtype not in (
            "tinyint", "smallint", "int", "bigint",
        ):
            # the strictly-earlier frame is expressed as an upper bound of
            # -1 in the order column's own units — exact for integer axes
            # (and for timestamps, where the unit is one microsecond), but
            # on a fractional axis it would silently exclude everything in
            # (t-1, t), not just the current instant
            raise ValueError(
                "include_current=False needs an exact integer x axis "
                f"(timestamp or integral numeric); {x_col!r} is {t_dtype}"
            )
        order = F.col(x_col).cast("double")
        span = float(duration)
        if span <= 0:
            raise ValueError(f"duration must be positive, got {duration!r}")
        if span != int(span):
            # the pyspark Window API only takes integer frame bounds;
            # rescale the x axis upstream for sub-unit spans
            raise ValueError(
                f"numeric x_col needs an integral duration, got {duration!r}"
            )
        span = int(span)
    hi = 0 if include_current else -1
    return Window.partitionBy(*by).orderBy(order).rangeBetween(-span, hi)


# ---------------------------------------------------------------------------
# impl="grouped": exact per-series kernels (guide section 4.2 — one shuffle on
# the series key, then whole batches handed to vectorized NumPy/pandas instead
# of Spark's per-row frame re-aggregation).  Values are identical to the frame
# form (oracle-checked): counts/min/max/distinct are comparison/integer-exact,
# and the sum-family prefixes run in extended precision (np.longdouble) after
# global mean-centering, so their residue vs the frame aggregation order is
# orders of magnitude below the contract rows' rounding grids.
# ---------------------------------------------------------------------------


def _grouped_span(df: DataFrame, x_col: str, duration: str) -> int:
    """Exact integer span for the grouped kernels ([t - span, t] in the
    x axis's own integer units — microseconds for timestamps)."""
    t_dtype = dict(df.dtypes)[x_col]
    if t_dtype.startswith("timestamp"):
        return duration_to_micros(duration)
    if t_dtype in ("tinyint", "smallint", "int", "bigint"):
        span = int(duration)
        if span <= 0:
            raise ValueError(f"duration must be positive, got {duration!r}")
        return span
    raise ValueError(
        "impl='grouped' needs an exact integer x axis "
        f"(timestamp or integral numeric); {x_col!r} is {t_dtype}"
    )


def _frame_bounds(tu, span: int, include_current: bool):
    """Per-row [lo, hi) index bounds of the trailing RANGE frame over the
    SORTED integer axis ``tu``.  include_current=True is peer-inclusive
    ([t - span, t], all rows sharing t in every frame covering t);
    False is the strictly-earlier [t - span, t - 1] form."""
    import numpy as np

    lo = np.searchsorted(tu, tu - span, side="left")
    hi = np.searchsorted(tu, tu, side="right" if include_current else "left")
    return lo.astype(np.int64), hi.astype(np.int64)


def _bounds_indexer(lo, hi):
    """pandas BaseIndexer serving precomputed [lo, hi) window bounds, so
    rolling min/max/quantile run their C kernels over the exact
    peer-inclusive RANGE frames (pandas' own time rolling always ends a
    window at the current row and would drop later same-timestamp
    peers)."""
    from pandas.api.indexers import BaseIndexer

    class _Bounds(BaseIndexer):
        def get_window_bounds(
            self, num_values=0, min_periods=None, center=None,
            closed=None, step=None,
        ):
            return lo, hi

    return _Bounds()


def _tuc_expr(df: DataFrame, x_col: str):
    """The integer x axis as a Column (µs for timestamps)."""
    t_dtype = dict(df.dtypes)[x_col]
    if t_dtype.startswith("timestamp"):
        return micros(F.col(x_col))
    return F.col(x_col).cast("long")


# chunk width = 16 x span: <=6.7% shipped-row overhead, and per-group
# batches stay big enough that per-group Python overhead doesn't dominate
# at SMALL scale (4 x span cost q_rolling_time +1.2 s at sf0.1 — 450
# ~220-row groups); at sf1.0 this still yields ~110 groups per query,
# comfortably above the core count
_CHUNK_MULT = 16


def _grouped_apply(df: DataFrame, x_col, by, span, make_cols, new_fields,
                   extra_drop=()):
    """Span-overlap chunked applyInPandas — the bounded-state 100 TB shape.

    The x axis is cut into chunks of ``_CHUNK_MULT x span``; a row lands
    in its own chunk and is ALSO shipped to the next one when it is
    within ``span`` of the boundary (trailing frames look back at most
    ``span``, so every frame evaluated inside a chunk is fully present).
    Kernels compute over the whole (series, chunk) group and emit only
    own-chunk rows — exact per-row frames, per-task state bounded by
    data density x 5 spans (NOT whole-series), and parallelism =
    series x chunks instead of the series count alone."""
    import numpy as np
    from pyspark.sql.types import StructType

    tuc = _tuc_expr(df, x_col)
    width = _CHUNK_MULT * span
    chk = (tuc - F.pmod(tuc, F.lit(width))).cast("long")
    ship = F.when(
        F.pmod(tuc, F.lit(width)) >= width - span,
        F.array(chk, chk + width),
    ).otherwise(F.array(chk))
    # the kernel reads the axis as shipped integers: pandas would hand it
    # timestamps as session-local wall clock, while _chk is UTC-based
    src = df.withColumn("_tu", tuc.cast("long")).withColumn("_chk", F.explode(ship))
    in_fields = [f for f in df.schema.fields if f.name not in extra_drop]
    schema = StructType(in_fields + list(new_fields))
    drop_cols = ["_tu", "_chk", *extra_drop]

    def kernel(pdf):
        k = int(pdf["_chk"].iloc[0])
        tu_all = pdf["_tu"].to_numpy(dtype=np.int64)
        order = np.argsort(tu_all, kind="stable")
        pdf = pdf.iloc[order]
        tu = tu_all[order]
        out = pdf.assign(**make_cols(pdf, tu))
        own = (tu - (tu % width)) == k
        return out.loc[own].drop(columns=drop_cols)

    return src.groupBy(*by, "_chk").applyInPandas(kernel, schema)


def _prefix(vals):
    """Extended-precision exclusive prefix sums (longdouble cumsum with a
    leading 0) — frame sums come from two-point differences."""
    import numpy as np

    out = np.empty(len(vals) + 1, dtype=np.longdouble)
    out[0] = 0.0
    np.cumsum(vals, dtype=np.longdouble, out=out[1:])
    return out


def _moment_merge(A, B):
    """Chan parallel merge of bivariate moment states — the same algebra
    Spark/DuckDB use to combine partial (co)variance aggregates.  Each
    state is (n, mean_x, mean_y, Mxx, Mxy, Myy) with moments about the
    state's own means; empty states (n = 0, moments 0) are identities."""
    import numpy as np

    (na, mxa, mya, xxa, xya, yya) = A
    (nb, mxb, myb, xxb, xyb, yyb) = B
    n = na + nb
    with np.errstate(divide="ignore", invalid="ignore"):
        both = (na > 0) & (nb > 0)
        dx = np.where(both, mxb - mxa, 0.0)
        dy = np.where(both, myb - mya, 0.0)
        nn = np.maximum(n, 1.0)
        f = np.where(both, na * nb / nn, 0.0)
        mx = np.where(nb == 0, mxa, np.where(na == 0, mxb, mxa + dx * nb / nn))
        my = np.where(nb == 0, mya, np.where(na == 0, myb, mya + dy * nb / nn))
        xx = xxa + xxb + dx * dx * f
        xy = xya + xyb + dx * dy * f
        yy = yya + yyb + dy * dy * f
    return n, mx, my, xx, xy, yy


def _frame_moments_blocked(xs, y, valid, lo, hi, block: int = 64):
    """Per-row frame count/means/central second moments over [lo, hi)
    windows via a two-level block decomposition: per-position
    within-block prefix and suffix moment states (one vectorized Welford
    sweep per block column), whole-block totals, then per row
    suffix(lo) (+) full blocks (+) prefix(hi-1), all combined with
    ``_moment_merge``.  Frames confined to a single block (and every
    frame at small scale) take a direct gathered two-pass instead.
    O(rows x frame/block) merges — no O(rows x frame) gather."""
    import numpy as np

    n_in = len(xs)
    nbk = max(1, (n_in + block - 1) // block)
    pad = nbk * block - n_in
    xv = np.where(valid, xs, 0.0)
    yv = np.where(valid, y, 0.0)
    vv = valid.astype(np.float64)
    if pad:
        z = np.zeros(pad)
        xv, yv, vv = (np.concatenate([a, z]) for a in (xv, yv, vv))
    xv = xv.reshape(nbk, block)
    yv = yv.reshape(nbk, block)
    vv = vv.reshape(nbk, block)

    def sweep(cols):
        pn = np.empty((nbk, block))
        pmx = np.empty((nbk, block))
        pmy = np.empty((nbk, block))
        pxx = np.empty((nbk, block))
        pxy = np.empty((nbk, block))
        pyy = np.empty((nbk, block))
        cn = np.zeros(nbk)
        cmx = np.zeros(nbk)
        cmy = np.zeros(nbk)
        cxx = np.zeros(nbk)
        cxy = np.zeros(nbk)
        cyy = np.zeros(nbk)
        for j in cols:
            v = vv[:, j]
            dxo = xv[:, j] - cmx
            dyo = yv[:, j] - cmy
            cn = cn + v
            inv = np.where(cn > 0, 1.0 / np.maximum(cn, 1.0), 0.0)
            cmx = cmx + v * dxo * inv
            cmy = cmy + v * dyo * inv
            cxx = cxx + v * dxo * (xv[:, j] - cmx)
            cxy = cxy + v * dxo * (yv[:, j] - cmy)
            cyy = cyy + v * dyo * (yv[:, j] - cmy)
            pn[:, j], pmx[:, j], pmy[:, j] = cn, cmx, cmy
            pxx[:, j], pxy[:, j], pyy[:, j] = cxx, cxy, cyy
        return (
            pn.reshape(-1), pmx.reshape(-1), pmy.reshape(-1),
            pxx.reshape(-1), pxy.reshape(-1), pyy.reshape(-1),
        )

    pfx = sweep(range(block))
    sfx = sweep(range(block - 1, -1, -1))
    # whole-block totals = the prefix state at each block's last column
    last = np.arange(nbk) * block + (block - 1)
    tot = tuple(a[last] for a in pfx)

    empty = hi <= lo
    lo_b = np.where(empty, 0, lo // block)
    hi_b = np.where(empty, 0, np.maximum(hi - 1, 0) // block)
    same = (~empty) & (lo_b == hi_b)
    multi = (~empty) & (lo_b != hi_b)

    # multi-block rows: suffix(lo) ⊕ full blocks ⊕ prefix(hi-1)
    m = np.where(multi, 1.0, 0.0)
    lo_c = np.minimum(lo, nbk * block - 1)
    hi_c = np.minimum(np.maximum(hi - 1, 0), nbk * block - 1)
    state = tuple(a[lo_c] * (m if i in (0, 3, 4, 5) else 1.0)
                  for i, a in enumerate(sfx))
    nfull = np.where(multi, hi_b - lo_b - 1, 0)
    kmax = int(nfull.max()) if len(nfull) else 0
    for j in range(kmax):
        bidx = np.minimum(lo_b + 1 + j, nbk - 1)
        use = (multi & (j < nfull)).astype(np.float64)
        B = tuple(a[bidx] * (use if i in (0, 3, 4, 5) else 1.0)
                  for i, a in enumerate(tot))
        state = _moment_merge(state, B)
    T = tuple(a[hi_c] * (m if i in (0, 3, 4, 5) else 1.0)
              for i, a in enumerate(pfx))
    state = _moment_merge(state, T)
    n, mx, my, sxx, sxy, syy = state

    # single-block (and small-scale) rows: direct gathered two-pass
    rows = np.nonzero(same)[0]
    if rows.size:
        ln = (hi[rows] - lo[rows]).astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(ln[:-1])))
        pos = np.arange(int(ln.sum())) - np.repeat(starts, ln) + np.repeat(
            lo[rows], ln
        )
        vg = valid[pos]
        vgf = vg.astype(np.float64)
        xg = np.where(vg, xs[pos], 0.0)
        yg = np.where(vg, y[pos], 0.0)
        cn_ = np.add.reduceat(vgf, starts)
        with np.errstate(divide="ignore", invalid="ignore"):
            mx_ = np.add.reduceat(xg, starts) / cn_
            my_ = np.add.reduceat(yg, starts) / cn_
        mx0 = np.where(cn_ > 0, mx_, 0.0)
        my0 = np.where(cn_ > 0, my_, 0.0)
        dx = np.where(vg, xg - np.repeat(mx0, ln), 0.0)
        dy = np.where(vg, yg - np.repeat(my0, ln), 0.0)
        n[rows] = cn_
        mx[rows], my[rows] = mx0, my0
        sxx[rows] = np.add.reduceat(dx * dx, starts)
        sxy[rows] = np.add.reduceat(dx * dy, starts)
        syy[rows] = np.add.reduceat(dy * dy, starts)

    zero = empty | (n <= 0)
    n = np.where(zero, 0.0, n)
    return (
        n.astype(np.int64),
        np.where(zero, np.nan, mx),
        np.where(zero, np.nan, my),
        np.where(zero, 0.0, sxx),
        np.where(zero, 0.0, sxy),
        np.where(zero, 0.0, syy),
    )


def _frame_stats(tu, y, span: int, include_current: bool, min_obs: int):
    """n/sum/mean/min/max/std of every row's trailing RANGE frame over the
    SORTED integer axis ``tu``; ``y`` is float64 with NaN for NULL (a NaN
    payload counts as NULL too).  Returns the output columns, NaN where
    the aggregate is NULL.  The one stats kernel: ``impl="grouped"`` runs
    it per (series, chunk) group and stream_rolling.py over each
    micro-batch's merged pool."""
    import numpy as np
    import pandas as pd

    lo, hi = _frame_bounds(tu, span, include_current)
    valid = ~np.isnan(y)
    cnt = np.concatenate(([0], np.cumsum(valid)))
    n = (cnt[hi] - cnt[lo]).astype(np.int64)
    ym = float(y[valid].mean()) if valid.any() else 0.0
    yc = np.where(valid, y - ym, 0.0)
    cs, cq = _prefix(yc), _prefix(yc * yc)
    fsum_c = cs[hi] - cs[lo]
    fsq_c = cq[hi] - cq[lo]
    fsum = np.asarray(fsum_c + n * np.longdouble(ym), dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = fsum / n
        var = np.asarray(
            np.maximum(fsq_c - fsum_c * fsum_c / np.maximum(n, 1), 0.0),
            dtype=np.float64,
        ) / np.maximum(n - 1, 1)
        std = np.sqrt(var)
    roll = pd.Series(y).rolling(_bounds_indexer(lo, hi), min_periods=0)
    rmin = roll.min().to_numpy()
    rmax = roll.max().to_numpy()
    # constant frames: the engines' central-moment aggregation yields
    # an EXACT 0 std there, while clamped prefix residue would sqrt
    # to ~1e-5; the frame min==max comparison restores the exact zero
    std = np.where(rmin == rmax, 0.0, std)
    gate = n >= min_obs
    nan = np.nan
    return dict(
        roll_n=n,
        roll_sum=np.where(gate & (n > 0), fsum, nan),
        roll_mean=np.where(gate & (n > 0), mean, nan),
        roll_min=np.where(gate, rmin, nan),
        roll_max=np.where(gate, rmax, nan),
        roll_std=np.where(gate & (n > 1), std, nan),
    )


def _stats_grouped(
    df: DataFrame, x_col, y_col, by, duration, min_obs, include_current
) -> DataFrame:
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField

    span = _grouped_span(df, x_col, duration)

    def make_cols(pdf, tu):
        y = pdf[y_col].to_numpy(dtype=np.float64, na_value=np.nan)
        return _frame_stats(tu, y, span, include_current, min_obs)

    return _grouped_apply(
        df, x_col, by, span, make_cols,
        [
            StructField("roll_n", LongType()),
            StructField("roll_sum", DoubleType()),
            StructField("roll_mean", DoubleType()),
            StructField("roll_min", DoubleType()),
            StructField("roll_max", DoubleType()),
            StructField("roll_std", DoubleType()),
        ],
    )


def _quantile_grouped(
    df: DataFrame, x_col, y_col, by, duration, qs, min_obs, include_current
) -> DataFrame:
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField

    span = _grouped_span(df, x_col, duration)
    names = [f"roll_q{q * 100:g}".replace(".", "_") for q in qs]

    def make_cols(pdf, tu):
        import pandas as pd

        lo, hi = _frame_bounds(tu, span, include_current)
        y = pdf[y_col].to_numpy(dtype=np.float64, na_value=np.nan)
        valid = ~np.isnan(y)
        cnt = np.concatenate(([0], np.cumsum(valid)))
        n = cnt[hi] - cnt[lo]
        gate = n >= min_obs
        roll = pd.Series(y).rolling(_bounds_indexer(lo, hi), min_periods=0)
        cols = {}
        for q, name in zip(qs, names):
            vals = roll.quantile(q, interpolation="linear").to_numpy()
            cols[name] = np.where(gate, vals, np.nan)
        return cols

    return _grouped_apply(
        df, x_col, by, span, make_cols,
        [StructField(nm, DoubleType()) for nm in names],
    )


def _frame_distinct(tu, codes, span: int):
    """Distinct non-NULL values in every row's peer-inclusive trailing
    ``[t - span, t]`` frame over the SORTED integer axis ``tu``; ``codes``
    are ``pd.factorize`` codes (-1 = NULL).  The one distinct kernel:
    ``impl="grouped"`` and stream_distinct.py both call it."""
    import numpy as np

    valid = codes >= 0
    vt, vc = tu[valid], codes[valid]
    order = np.lexsort((vt, vc))
    ct, tt = vc[order], vt[order]
    # a value is counted in the frame ending at t iff its LATEST
    # occurrence at-or-before t is >= t - span; occurrence i is that
    # latest one for t in [tt_i, next-same-value), so it contributes
    # +1 on [tt_i, min(next_i, tt_i + span + 1)) of the integer axis
    big = np.int64(2**62)
    nxt = np.full(len(tt), big, dtype=np.int64)
    if len(tt) > 1:
        same = ct[:-1] == ct[1:]
        nxt[:-1][same] = tt[1:][same]
    ends = np.minimum(nxt, tt + span + 1)
    starts = np.sort(tt)
    ends = np.sort(ends)
    return (
        np.searchsorted(starts, tu, side="right")
        - np.searchsorted(ends, tu, side="right")
    ).astype(np.int64)


def _distinct_grouped(
    df: DataFrame, x_col, y_col, by, duration, include_current
) -> DataFrame:
    from pyspark.sql.types import LongType, StructField

    span = _grouped_span(df, x_col, duration)
    if not include_current:
        raise ValueError("impl='grouped' distinct needs include_current=True")

    def make_cols(pdf, tu):
        import pandas as pd

        codes = pd.factorize(pdf[y_col], use_na_sentinel=True)[0]
        return dict(roll_distinct=_frame_distinct(tu, codes, span))

    return _grouped_apply(
        df, x_col, by, span, make_cols,
        [StructField("roll_distinct", LongType())],
    )


def _regr_grouped(
    df: DataFrame, x_col, y_col, by, duration, min_obs, include_current
) -> DataFrame:
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField

    span = _grouped_span(df, x_col, duration)
    t_dtype = dict(df.dtypes)[x_col]
    x_scale = 1_000_000.0 if t_dtype.startswith("timestamp") else 1.0
    # the regressor origin is the SERIES' first observation (matching the
    # frame impl's whole-partition min); with chunking the kernel no
    # longer sees the whole series, so the per-series min rides in as a
    # broadcast-joined constant column (series-count-sized — tiny)
    t0s = df.groupBy(*by).agg(F.min(_tuc_expr(df, x_col)).alias("_t0"))
    df = df.join(F.broadcast(t0s), list(by))

    def make_cols(pdf, tu):
        import pandas as pd

        lo, hi = _frame_bounds(tu, span, include_current)
        xs = (tu - int(pdf["_t0"].iloc[0])) / x_scale
        y = pdf[y_col].to_numpy(dtype=np.float64, na_value=np.nan)
        valid = ~np.isnan(y)
        nrows = len(xs)
        # Conditioning (why this shape): the intercept extrapolates frame
        # noise by the series-origin offset (~10^6 s), so pure
        # prefix-difference arithmetic (error ~ eps x prefix magnitude)
        # is 1e2-1e3x too coarse for it — an exact-rational check showed
        # a true value 1.2e-8 past a 4dp rounding boundary.  All frame
        # statistics (count, means, second moments about the frame mean)
        # therefore come from frame-LOCAL arithmetic: a two-level block
        # decomposition whose segments combine with the standard parallel
        # (Chan) moment-merge — the same numerics the engines' own
        # partial aggregation uses.  Cost is O(rows x frame/B) merges
        # instead of the O(rows x frame) gather a naive two-pass needs
        # (r6: 6.1 s -> ~2 s at sf1.0 on top of the 56x frame-form win).
        n, mx, my, sxx, sxy, syy = _frame_moments_blocked(
            xs, y, valid, lo, hi
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            slope = sxy / sxx
            icept = my - slope * mx
            r2 = (sxy * sxy) / (sxx * syy)
        # exact zero-variance detection (the engines' NULL/1.0 edge
        # cases come from EXACT central-moment zeros): frame min == max
        # over the valid rows, a pure comparison
        xmask = np.where(valid, xs, np.nan)
        ymask = np.where(valid, y, np.nan)
        rx = pd.Series(xmask).rolling(_bounds_indexer(lo, hi), min_periods=0)
        ry = pd.Series(ymask).rolling(_bounds_indexer(lo, hi), min_periods=0)
        varx0 = rx.min().to_numpy() == rx.max().to_numpy()
        vary0 = ry.min().to_numpy() == ry.max().to_numpy()
        r2 = np.where(vary0, 1.0, r2)
        ok = (n >= min_obs) & ~varx0
        nan = np.nan
        return dict(
            roll_slope=np.where(ok, slope, nan),
            roll_intercept=np.where(ok, icept, nan),
            roll_r2=np.where(ok, r2, nan),
        )

    return _grouped_apply(
        df, x_col, by, span, make_cols,
        [
            StructField("roll_slope", DoubleType()),
            StructField("roll_intercept", DoubleType()),
            StructField("roll_r2", DoubleType()),
        ],
        extra_drop=("_t0",),
    )


def rolling_time_stats(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    duration: str = "5 minutes",
    min_obs: int = 1,
    include_current: bool = True,
    impl: str = "frame",
) -> DataFrame:
    """Append ``roll_n``, ``roll_sum``, ``roll_mean``, ``roll_min``,
    ``roll_max``, ``roll_std`` over the trailing ``[t - duration, t]``
    frame of each row's series.

    ``include_current=False`` shifts the frame to ``[t - duration, t)``
    (strictly earlier observations, at microsecond resolution) — the
    self-exclusive form detectors want; note it also excludes PEERS at
    the exact same timestamp, which is what makes it deterministic.

    Aggregates with fewer than ``min_obs`` non-null observations are
    NULL (``roll_n`` itself always reports the true count).  ``roll_std``
    is sample stddev and NULL for single-point frames.  NULL ``y`` rows
    get a frame score like any other row but contribute nothing to any
    aggregate.  ``x_col`` may be a timestamp (trailing window in wall
    time, exact integer-microsecond arithmetic) or numeric (``duration``
    then must be a plain number string, in the column's own units).

    ``impl`` picks the physical strategy (same split as
    operators/anomaly.py):

    * ``"frame"`` (default) — one sliding RANGE frame per aggregate.
      Spark re-aggregates each frame buffer (SlidingWindowFunctionFrame
      has no incremental subtract), so cost is O(n x points-per-frame)
      per series; values are bit-exactly the frame aggregation order.
    * ``"prefix"`` — the 100 TB path for the sum family: n/sum/mean/std
      come from DIFFERENCES of two GROWING frames (UNBOUNDED PRECEDING
      up to now, and up to just-before the frame start), which Spark
      evaluates incrementally — O(n) per series regardless of frame
      density.  min/max keep the sliding frame (no subtractive form
      exists; they are comparison-only).  Sums agree with ``"frame"`` to
      float-summation-order tolerance (~1e-9 relative), not bit-for-bit.
      Requires an exact integer time axis (timestamp, or an integral
      numeric dtype) because the just-before bound is ``-(span + 1)`` in
      integer units.
    """
    if min_obs < 1:
        raise ValueError(f"min_obs must be >= 1, got {min_obs}")
    if impl not in ("frame", "prefix", "grouped"):
        raise ValueError(
            f"impl must be 'frame', 'prefix' or 'grouped', got {impl!r}"
        )
    by = list(by)
    if impl == "grouped":
        return _stats_grouped(
            df, x_col, y_col, by, duration, min_obs, include_current
        )
    w = _range_window(df, x_col, by, duration, include_current)
    y = F.col(y_col).cast("double")

    if impl == "prefix":
        t_dtype = dict(df.dtypes)[x_col]
        if t_dtype.startswith("timestamp"):
            order = micros(F.col(x_col))
            span = duration_to_micros(duration)
        elif t_dtype in ("tinyint", "smallint", "int", "bigint"):
            order = F.col(x_col).cast("long")
            span = int(duration)
            if span <= 0:
                raise ValueError(f"duration must be positive, got {duration!r}")
        else:
            raise ValueError(
                "impl='prefix' needs an exact integer time axis "
                f"(timestamp or integral numeric); {x_col!r} is {t_dtype}"
            )
        hi_now = 0 if include_current else -1
        base = Window.partitionBy(*by).orderBy(order)
        w_now = base.rangeBetween(Window.unboundedPreceding, hi_now)
        w_old = base.rangeBetween(Window.unboundedPreceding, -span - 1)
        c1, c0 = F.count(y).over(w_now), F.count(y).over(w_old)
        s1, s0 = F.sum(y).over(w_now), F.sum(y).over(w_old)
        q1 = F.sum(y * y).over(w_now)
        q0 = F.sum(y * y).over(w_old)
        n = (c1 - c0).cast("long")
        fsum = F.coalesce(s1, F.lit(0.0)) - F.coalesce(s0, F.lit(0.0))
        fsq = F.coalesce(q1, F.lit(0.0)) - F.coalesce(q0, F.lit(0.0))
        gate = lambda c: F.when(n >= min_obs, c)  # noqa: E731
        mean = F.when(n > 0, fsum / n)
        var = F.when(
            n > 1, F.greatest(fsq - fsum * fsum / n, F.lit(0.0)) / (n - 1)
        )
        return (
            df.withColumn("roll_n", n)
            .withColumn("roll_sum", gate(F.when(n > 0, fsum)))
            .withColumn("roll_mean", gate(mean))
            .withColumn("roll_min", gate(F.min(y).over(w)))
            .withColumn("roll_max", gate(F.max(y).over(w)))
            .withColumn("roll_std", gate(F.sqrt(var)))
        )

    n = F.count(y).over(w)
    gate = lambda c: F.when(n >= min_obs, c)  # noqa: E731
    return (
        df.withColumn("roll_n", n)
        .withColumn("roll_sum", gate(F.sum(y).over(w)))
        .withColumn("roll_mean", gate(F.avg(y).over(w)))
        .withColumn("roll_min", gate(F.min(y).over(w)))
        .withColumn("roll_max", gate(F.max(y).over(w)))
        .withColumn("roll_std", gate(F.stddev_samp(y).over(w)))
    )


def rolling_time_quantile(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    duration: str = "5 minutes",
    qs: Sequence[float] = (0.5,),
    min_obs: int = 1,
    include_current: bool = True,
    exact: bool = True,
    accuracy: int = 10_000,
    impl: str = "frame",
) -> DataFrame:
    """Append ``roll_q50``-style trailing time-window quantiles: for each
    row, the ``q``-quantile (linear interpolation, the QUANTILE_CONT /
    numpy 'linear' rule) of its series' observations in the last
    ``duration`` of wall time.  One output column per entry in ``qs``,
    named ``roll_q{100q:g}`` with any dot swapped for an underscore
    (``roll_q50``, ``roll_q99``, ``roll_q99_9``) — a dotted name would
    read as a struct-field access in string column references.

    ``exact=True`` uses Spark's ``percentile`` aggregate — it buffers the
    frame's values per evaluation, so per-series frame cardinality (points
    per ``duration``) must fit in executor memory; that is a property of
    the data's sampling rate, not its total size, so the plan scales with
    series count like every other window here.  ``exact=False`` switches
    to ``approx_percentile`` (bounded-memory KLL-style sketch, tunable
    ``accuracy``) for extreme-density series — no DuckDB-exact oracle for
    that path, so contract rows use the exact form.

    NULL ``y`` rows are scored but contribute nothing; frames with fewer
    than ``min_obs`` observations yield NULL quantiles.
    """
    if min_obs < 1:
        raise ValueError(f"min_obs must be >= 1, got {min_obs}")
    if not qs:
        raise ValueError("qs must name at least one quantile")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    by = list(by)
    if impl not in ("frame", "grouped"):
        raise ValueError(f"impl must be 'frame' or 'grouped', got {impl!r}")
    if impl == "grouped":
        if not exact:
            raise ValueError("impl='grouped' quantiles are the exact path")
        return _quantile_grouped(
            df, x_col, y_col, by, duration, qs, min_obs, include_current
        )
    w = _range_window(df, x_col, by, duration, include_current)
    y = F.col(y_col).cast("double")
    n = F.count(y).over(w)
    out = df
    for q in qs:
        fn = (
            F.expr(f"percentile(`{y_col}`, {q!r})")
            if exact
            else F.expr(f"approx_percentile(`{y_col}`, {q!r}, {accuracy})")
        )
        name = f"roll_q{q * 100:g}".replace(".", "_")
        out = out.withColumn(name, F.when(n >= min_obs, fn.over(w)))
    return out


def rolling_time_distinct(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    duration: str = "5 minutes",
    include_current: bool = True,
    exact: bool = True,
    rsd: float = 0.05,
    impl: str = "frame",
) -> DataFrame:
    """Append ``roll_distinct``: how many DISTINCT non-null ``y_col``
    values the row's series saw in the last ``duration`` of wall time —
    the 'unique users in the past hour' sliding-cardinality primitive.

    ``exact=True`` materialises the frame's value set per evaluation
    (``collect_set`` over the RANGE frame), so the cap is distinct values
    per ``duration`` per series — again a data-density property, not a
    data-size one.  ``exact=False`` uses ``approx_count_distinct``
    (HyperLogLog++, ``rsd`` relative error, constant memory) for
    high-cardinality frames; contract rows use the exact form for the
    DuckDB ``COUNT(DISTINCT ...) OVER`` oracle.
    """
    by = list(by)
    if impl not in ("frame", "grouped"):
        raise ValueError(f"impl must be 'frame' or 'grouped', got {impl!r}")
    if impl == "grouped":
        if not exact:
            raise ValueError("impl='grouped' distinct is the exact path")
        return _distinct_grouped(df, x_col, y_col, by, duration, include_current)
    w = _range_window(df, x_col, by, duration, include_current)
    cnt = (
        F.size(F.collect_set(y_col).over(w)).cast("long")
        if exact
        else F.approx_count_distinct(y_col, rsd).over(w)
    )
    return df.withColumn("roll_distinct", cnt)


def rolling_time_regr(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    duration: str = "5 minutes",
    min_obs: int = 3,
    include_current: bool = True,
    impl: str = "frame",
) -> DataFrame:
    """Append ``roll_slope``, ``roll_intercept``, ``roll_r2``: the
    least-squares trend of each row's series over its trailing
    ``[t - duration, t]`` frame — "is this series rising over the last N
    hours, and how linearly" — the windowed form of stats.py's
    whole-series trend, computed with the same ANSI ``regr_*``
    aggregates.

    The regressor is elapsed SECONDS since the series' first observation
    (``roll_slope`` is y-units per second).  Centering on the series
    start matters numerically: raw epoch microseconds are ~1.7e15, and
    the regr aggregates' sum-of-squares arithmetic at that magnitude
    loses ~1e-4 absolute to cancellation — centered, x spans only the
    series' own length and the aggregates stay exact to float precision.
    The center is ONE whole-partition min (no ordering subtleties, same
    shuffle), and because slope/r2 are translation-invariant in x the
    choice of center does not change the result, only its conditioning.

    Frames with fewer than ``min_obs`` observations are NULL; both
    engines already return NULL slope for single-point or zero-variance
    frames (the gate makes that explicit).  One shuffle on the series
    key, zero Python — the sliding-frame cost profile of
    ``rolling_time_stats(impl="frame")``.
    """
    if min_obs < 2:
        raise ValueError(f"min_obs must be >= 2, got {min_obs}")
    by = list(by)
    if impl not in ("frame", "grouped"):
        raise ValueError(f"impl must be 'frame' or 'grouped', got {impl!r}")
    if impl == "grouped":
        return _regr_grouped(
            df, x_col, y_col, by, duration, min_obs, include_current
        )
    w = _range_window(df, x_col, by, duration, include_current)
    t_dtype = dict(df.dtypes)[x_col]
    if t_dtype.startswith("timestamp"):
        tu = micros(F.col(x_col))
    else:
        tu = F.col(x_col).cast("double")
    wp = Window.partitionBy(*by)
    xs = (tu - F.min(tu).over(wp)) / F.lit(1_000_000.0 if t_dtype.startswith("timestamp") else 1.0)
    base = df.withColumn("_xs", xs)
    y = F.col(y_col).cast("double")
    n = F.count(F.when(y.isNotNull() & F.col("_xs").isNotNull(), 1)).over(w)
    gate = lambda c: F.when(n >= min_obs, c)  # noqa: E731
    out = (
        base.withColumn("roll_slope", gate(F.expr(f"regr_slope({y_col}, _xs)").over(w)))
        .withColumn(
            "roll_intercept", gate(F.expr(f"regr_intercept({y_col}, _xs)").over(w))
        )
        .withColumn("roll_r2", gate(F.expr(f"regr_r2({y_col}, _xs)").over(w)))
    )
    return out.drop("_xs")
