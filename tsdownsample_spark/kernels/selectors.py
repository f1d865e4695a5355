"""Downsampling selector kernels — vectorized NumPy, bit-parity with the
reference (predict-idlab/tsdownsample).

All selectors return **int64 indices into the original series** (the
reference returns uint64; int64 is friendlier to Spark's LongType and the
values are identical for any realistic n).  Common contract (reference:
tsdownsample/downsampling_interface.py:104-135):

    select(y, n_out, x=None, ...) -> np.ndarray[int64]

* ``n_out >= len(y)`` -> identity ``0..len(y)-1`` (reference short-input rule,
  e.g. downsample_rs/src/lttb.rs:23-25, minmax.rs:105-107).
* with ``x`` + gaps, *fewer* than ``n_out`` indices may come back (empty
  equidistant bins emit nothing — searchsorted.rs:118-122).
* NaN policy: ``nan="ignore"`` skips NaNs (plain selectors); ``nan="return"``
  makes any NaN in a bin win, i.e. the bin returns the first NaN index for
  both its min and max slot (NaN* selectors; cf.
  tsdownsample/_python/downsamplers.py nanarg vs arg discipline).

The grouped argmin/argmax is fully vectorized with ``ufunc.reduceat`` over
the contiguous bin tiling — no per-bin Python loop — so a whole Arrow batch
of medium-sized series costs a handful of passes over the data.
"""

from __future__ import annotations

import numpy as np

from tsdownsample_spark.kernels.binning import equal_count_bins, equidistant_bins

__all__ = [
    "minmax",
    "m4",
    "lttb",
    "minmaxlttb",
    "everynth",
    "downsample_array",
]


def _as_float_view(x: np.ndarray) -> np.ndarray:
    """View datetime64/timedelta64 as int64, bool as int8 (reference view-cast
    rules, downsampling_interface.py:204-227)."""
    if x.dtype.kind in ("M", "m"):
        return x.view(np.int64)
    if x.dtype == np.bool_:
        return x.view(np.int8)
    return x


def _grouped_argminmax(
    y: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    nan_return: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """First-occurrence argmin/argmax per bin, vectorized.

    Bins must tile ``[0, ends[-1])`` contiguously once empty ones are dropped
    (guaranteed by the binning rules).  Returns ``(bstarts, bends, argmins,
    argmaxs)`` restricted to non-empty bins, indices absolute.

    Memory-traffic-minimal layout (this kernel is stream-bound): two
    ``reduceat`` passes over the raw dtype, per-bin extremes re-expanded with
    ``repeat`` (narrow temp, no per-point int64 bin map), and first
    occurrences recovered from the SPARSE hit positions with a searchsorted
    over bin ends — ~2.3x the throughput of a packed (value,index)->int64
    key reduceat on this class of hardware.
    """
    valid = ends > starts
    vs = starts[valid]
    ve = ends[valid]
    if len(vs) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, e.copy(), e.copy()
    n_used = int(ve[-1])
    yv = y[:n_used]
    counts = ve - vs

    is_float = yv.dtype.kind == "f"
    if is_float:
        nan_mask = np.isnan(yv)
        if nan_return:
            # Propagating semantics: a NaN anywhere in the bin wins and the
            # *first* NaN index is returned for both slots (np.argmin/argmax
            # behavior, matching the reference NaN* selectors).
            has_nan = np.logical_or.reduceat(nan_mask, vs)
            mins = np.minimum.reduceat(yv, vs)
            maxs = np.maximum.reduceat(yv, vs)
            hn = np.repeat(has_nan, counts)
            hit_min = np.where(hn, nan_mask, yv == np.repeat(mins, counts))
            hit_max = np.where(hn, nan_mask, yv == np.repeat(maxs, counts))
        else:
            mins = np.fmin.reduceat(yv, vs)
            maxs = np.fmax.reduceat(yv, vs)
            # All-NaN bins leave NaN in mins/maxs; fall back to the first NaN
            # index there (reference behavior is undefined for this case —
            # np.nanargmin raises — so we pick a total, deterministic rule).
            an = np.repeat(np.isnan(mins), counts)
            hit_min = np.where(an, nan_mask, yv == np.repeat(mins, counts))
            hit_max = np.where(an, nan_mask, yv == np.repeat(maxs, counts))
    else:
        mins = np.minimum.reduceat(yv, vs)
        maxs = np.maximum.reduceat(yv, vs)
        hit_min = yv == np.repeat(mins, counts)
        hit_max = yv == np.repeat(maxs, counts)

    argmins = _first_hit(hit_min, ve)
    argmaxs = _first_hit(hit_max, ve)
    return vs, ve, argmins, argmaxs


def _first_hit(hit: np.ndarray, ve: np.ndarray) -> np.ndarray:
    """Absolute index of the first True per bin (every bin has >= 1 hit).

    Hits are sparse (~1 per bin for distinct values), so work scales with
    the hit count: bin of a hit position = searchsorted over the contiguous
    bin ends; first occurrence per bin via unique on the sorted bin ids.
    """
    pos = np.flatnonzero(hit)
    b = np.searchsorted(ve, pos, side="right")
    first = np.zeros(len(ve), dtype=np.int64)
    seen = np.zeros(len(ve), dtype=bool)
    uniq, idx = np.unique(b, return_index=True)
    first[uniq] = pos[idx]
    seen[uniq] = True
    if not seen.all():  # pragma: no cover - guarded by construction
        raise AssertionError("bin without argmin/argmax hit")
    return first


def _ragged_emit(
    vs: np.ndarray,
    ve: np.ndarray,
    small: np.ndarray,
    big_slots: list[np.ndarray],
) -> np.ndarray:
    """Assemble the with-x output without a per-bin Python loop: small bins
    emit all their points (vs..ve), big bins emit ``big_slots`` (k fixed
    slots per bin, already in index order)."""
    k = len(big_slots)
    counts = ve - vs
    lens = np.where(small, counts, k)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offs = np.zeros(len(vs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    bin_of = np.repeat(np.arange(len(vs), dtype=np.int64), lens)
    j = np.arange(total, dtype=np.int64) - offs[bin_of]
    slots = np.stack(big_slots)  # (k, nbins)
    big_vals = slots[np.minimum(j, k - 1), bin_of]
    return np.where(small[bin_of], vs[bin_of] + j, big_vals)


def _interleave_pairs(argmins: np.ndarray, argmaxs: np.ndarray) -> np.ndarray:
    """Emit (min, max) per bin *in index order* (minmax.rs:123-130)."""
    lo = np.minimum(argmins, argmaxs)
    hi = np.maximum(argmins, argmaxs)
    out = np.empty(2 * len(lo), dtype=np.int64)
    out[0::2] = lo
    out[1::2] = hi
    return out


def minmax(
    y: np.ndarray,
    n_out: int,
    x: np.ndarray | None = None,
    nan: str = "ignore",
) -> np.ndarray:
    """MinMax selector: ``n_out/2`` bins, per bin the argmin and argmax of y
    emitted in index order (reference downsample_rs/src/minmax.rs:98-222).

    With ``x``: equidistant x-value bins; empty bins emit nothing; bins with
    <= 2 points pass all points through (minmax.rs:199-203).
    """
    y = _as_float_view(np.asarray(y))
    n = len(y)
    if n_out % 2 != 0:
        raise ValueError("n_out must be a multiple of 2")
    if n_out >= n:
        return np.arange(n, dtype=np.int64)
    nan_return = nan == "return"
    if x is None:
        starts, ends = equal_count_bins(n, n_out // 2)
        _, _, argmins, argmaxs = _grouped_argminmax(y, starts, ends, nan_return)
        return _interleave_pairs(argmins, argmaxs)
    x = _as_float_view(np.asarray(x))
    starts, ends = equidistant_bins(x, n_out // 2)
    vs, ve, argmins, argmaxs = _grouped_argminmax(y, starts, ends, nan_return)
    counts = ve - vs
    small = counts <= 2
    # Small bins pass all their points through; larger bins emit the
    # (min, max) pair in index order — bin order preserved.
    lo = np.minimum(argmins, argmaxs)
    hi = np.maximum(argmins, argmaxs)
    return _ragged_emit(vs, ve, small, [lo, hi])


def m4(
    y: np.ndarray,
    n_out: int,
    x: np.ndarray | None = None,
    nan: str = "ignore",
) -> np.ndarray:
    """M4 selector: ``n_out/4`` bins, per bin (first, min, max, last) with
    min/max in index order; duplicates are kept (m4.rs:102-142,192-234).

    With ``x``: equidistant bins; empty bins emit nothing; bins with <= 4
    points pass all points through (m4.rs:206-210).
    """
    y = _as_float_view(np.asarray(y))
    n = len(y)
    if n_out % 4 != 0:
        raise ValueError("n_out must be a multiple of 4")
    if n_out >= n:
        return np.arange(n, dtype=np.int64)
    nan_return = nan == "return"
    if x is None:
        starts, ends = equal_count_bins(n, n_out // 4)
        vs, ve, argmins, argmaxs = _grouped_argminmax(y, starts, ends, nan_return)
        out = np.empty(4 * len(vs), dtype=np.int64)
        out[0::4] = vs
        out[1::4] = np.minimum(argmins, argmaxs)
        out[2::4] = np.maximum(argmins, argmaxs)
        out[3::4] = ve - 1
        return out
    x = _as_float_view(np.asarray(x))
    starts, ends = equidistant_bins(x, n_out // 4)
    vs, ve, argmins, argmaxs = _grouped_argminmax(y, starts, ends, nan_return)
    counts = ve - vs
    small = counts <= 4
    lo = np.minimum(argmins, argmaxs)
    hi = np.maximum(argmins, argmaxs)
    return _ragged_emit(vs, ve, small, [vs, lo, hi, ve - 1])


def lttb(
    y: np.ndarray,
    n_out: int,
    x: np.ndarray | None = None,
) -> np.ndarray:
    """Largest-Triangle-Three-Buckets (lttb.rs:17-180).

    Always keeps first and last point; ``n_out - 2`` interior buckets of
    fractional size ``(n-2)/(n_out-2)``; each bucket keeps the point
    maximizing the triangle area spanned with the previously selected point
    and the *next bucket's average* (avg_y = mean; avg_x = midpoint of the
    next bucket's first/last x — NOT the mean — lttb.rs:46-51).  Sequential
    across buckets by construction; each bucket scan is vectorized.
    """
    y = _as_float_view(np.asarray(y))
    n = len(y)
    if n_out >= n:
        return np.arange(n, dtype=np.int64)
    if n_out < 3:
        raise ValueError("n_out must be >= 3 for LTTB")
    yf = y.astype(np.float64, copy=False)
    if x is not None:
        xf = _as_float_view(np.asarray(x)).astype(np.float64, copy=False)
    else:
        xf = None

    every = (n - 2) / (n_out - 2)
    # Bucket boundaries: bounds[k] = floor(every*k) + 1 for k = 0..n_out-1
    # (lttb.rs:40-41,54); bucket i = [bounds[i], bounds[i+1]); the "next
    # bucket" averaged for the triangle is [bounds[i+1], min(bounds[i+2], n)).
    bounds = (every * np.arange(n_out - 1, dtype=np.float64)).astype(np.int64) + 1
    avg_starts = bounds[1:]  # k = 1..n_out-2, tiles [bounds[1], n)
    # Sequential per-segment summation (ufunc.reduceat), matching the
    # reference's sequential f64 fold (helpers.rs:22-33).
    seg_sums = np.add.reduceat(yf, avg_starts)
    seg_counts = np.diff(avg_starts, append=np.int64(n))
    avg_ys = seg_sums / seg_counts
    avg_ends = np.empty_like(avg_starts)
    avg_ends[:-1] = avg_starts[1:]
    avg_ends[-1] = n
    if xf is None:
        avg_xs = (avg_starts + avg_ends - 1) / 2.0
    else:
        avg_xs = (xf[avg_ends - 1] + xf[avg_starts]) / 2.0

    out = np.empty(n_out, dtype=np.int64)
    out[0] = 0
    out[-1] = n - 1
    a = 0
    max_len = int(np.max(np.diff(bounds))) if n_out > 2 else 0
    buf1 = np.empty(max_len, dtype=np.float64)
    buf2 = np.empty(max_len, dtype=np.float64)
    ar = np.arange(max_len, dtype=np.float64)
    for i in range(n_out - 2):
        ro = bounds[i]
        rt = bounds[i + 1]
        L = rt - ro
        ay = yf[a]
        avg_y = avg_ys[i]
        yb = yf[ro:rt]
        if xf is None:
            ax = float(a)
            d1 = ax - avg_xs[i]
            d2 = avg_y - ay
            # area_j = (d1*y_j) - (ax_x_j*d2) - d1*ay, ax_x_j = (a-ro) - j
            # (lttb.rs:131-145) — same op order, vectorized.
            t1 = np.multiply(yb, d1, out=buf1[:L])
            t2 = np.subtract(ax - ro, ar[:L], out=buf2[:L])
            t2 *= d2
            t1 -= t2
            t1 -= d1 * ay
        else:
            ax = xf[a]
            d1 = ax - avg_xs[i]
            d2 = avg_y - ay
            offset = d1 * ay + d2 * ax
            # area_j = (d1*y_j) + (d2*x_j) - offset (lttb.rs:74)
            t1 = np.multiply(yb, d1, out=buf1[:L])
            t2 = np.multiply(xf[ro:rt], d2, out=buf2[:L])
            t1 += t2
            t1 -= offset
        np.abs(t1, out=t1)
        a = ro + int(t1.view(np.int64).argmax())
        out[i + 1] = a
    return out


def minmaxlttb(
    y: np.ndarray,
    n_out: int,
    x: np.ndarray | None = None,
    minmax_ratio: int = 4,
    nan: str = "ignore",
) -> np.ndarray:
    """MinMaxLTTB (minmaxlttb.rs:125-207): when ``n // n_out > ratio``, first
    MinMax-prefetch ``n_out * ratio`` candidate points over the interior
    ``[1, n-1)``, keep endpoints, then run LTTB *on the candidates* (in the
    no-x mode the candidates' original indices serve as x), mapping the
    result back to original indices; otherwise plain LTTB.
    """
    if minmax_ratio <= 1:
        # The reference's Python layer only asserts ratio > 0
        # (downsamplers.py:110-116); ratio == 1 then PANICS in Rust
        # (minmaxlttb.rs:134 `assert!(minmax_ratio > 1)`, before any n
        # checks).  We raise the equivalent error eagerly at the same spot.
        raise ValueError("minmax_ratio must be > 1 (reference minmaxlttb.rs:134)")
    y = _as_float_view(np.asarray(y))
    n = len(y)
    if n_out >= n:
        return np.arange(n, dtype=np.int64)
    if n // n_out > minmax_ratio:
        if x is None:
            inner = minmax(y[1 : n - 1], n_out * minmax_ratio, nan=nan)
        else:
            x = _as_float_view(np.asarray(x))
            inner = minmax(y[1 : n - 1], n_out * minmax_ratio, x=x[1 : n - 1], nan=nan)
        index = np.empty(len(inner) + 2, dtype=np.int64)
        index[0] = 0
        index[1:-1] = inner + 1
        index[-1] = n - 1
        if x is None:
            sel = lttb(y[index], n_out, x=index.astype(np.float64))
        else:
            sel = lttb(y[index], n_out, x=x[index])
        return index[sel]
    return lttb(y, n_out, x=x)


def everynth(y: np.ndarray, n_out: int, x: np.ndarray | None = None) -> np.ndarray:
    """Strided selection (tsdownsample/downsamplers.py:148-158): ``step =
    max(1, n/n_out)`` (float), indices ``floor(i*step)`` for ``i*step <
    n - 0.1``.  x is ignored by the reference (with a warning)."""
    n = len(y)
    step = max(1.0, n / n_out)
    return np.arange(0, n - 0.1, step).astype(np.int64)


_SELECTORS = {
    "minmax": lambda y, n_out, x, kw: minmax(y, n_out, x=x, nan="ignore"),
    "nanminmax": lambda y, n_out, x, kw: minmax(y, n_out, x=x, nan="return"),
    "m4": lambda y, n_out, x, kw: m4(y, n_out, x=x, nan="ignore"),
    "nanm4": lambda y, n_out, x, kw: m4(y, n_out, x=x, nan="return"),
    "lttb": lambda y, n_out, x, kw: lttb(y, n_out, x=x),
    "minmaxlttb": lambda y, n_out, x, kw: minmaxlttb(
        y, n_out, x=x, minmax_ratio=kw.get("minmax_ratio", 4), nan="ignore"
    ),
    "nanminmaxlttb": lambda y, n_out, x, kw: minmaxlttb(
        y, n_out, x=x, minmax_ratio=kw.get("minmax_ratio", 4), nan="return"
    ),
    "everynth": lambda y, n_out, x, kw: everynth(y, n_out),
}


def downsample_array(
    y: np.ndarray,
    n_out: int,
    algo: str = "minmax",
    x: np.ndarray | None = None,
    **kw,
) -> np.ndarray:
    """Dispatch by algorithm name (mirrors the reference's class registry)."""
    try:
        fn = _SELECTORS[algo]
    except KeyError:
        raise ValueError(f"unknown algorithm {algo!r}; one of {sorted(_SELECTORS)}") from None
    return fn(np.asarray(y), n_out, x, kw)
