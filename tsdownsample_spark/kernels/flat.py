"""Flat-buffer batch kernels: operate directly on an Arrow list column's
(values, offsets) pair — the zero-copy layout `mapInArrow` hands us.

`flat_downsample` downsamples every series in the batch and returns the
selected indices as a flat int64 buffer + output offsets, ready to wrap
back into a pyarrow ListArray without any per-row Python objects.
"""

from __future__ import annotations

import numpy as np

from tsdownsample_spark.kernels.selectors import (
    _as_float_view,
    _grouped_argminmax,
    everynth,
    lttb,
    minmax,
)

__all__ = ["flat_downsample", "select_and_gather"]


def _flat_binned(values, offsets, n_out, k, nan_return):
    """Equal-count binned argmin/argmax (MinMax k=2, M4 k=4) over all series
    at once.  Returns (flat_idx, out_offsets)."""
    ns = np.diff(offsets)
    m = n_out // k
    S = len(ns)
    big_mask = ns > n_out
    out_lens = np.where(big_mask, m * k, ns)
    out_offsets = np.zeros(S + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offsets[1:])
    flat = np.empty(out_offsets[-1], dtype=np.int64)

    # identity (short-input) series: 0..n-1
    for s in np.flatnonzero(~big_mask):
        flat[out_offsets[s] : out_offsets[s + 1]] = np.arange(ns[s], dtype=np.int64)

    big = np.flatnonzero(big_mask)
    if len(big) == 0:
        return flat, out_offsets

    nb = ns[big]
    bs = (nb - 1).astype(np.float64) / m
    ends_rel = (bs[:, None] * np.arange(1, m + 1, dtype=np.float64)[None, :]).astype(
        np.int64
    ) + 1
    cov = ends_rel[:, -1]
    coffs = np.zeros(len(big), dtype=np.int64)
    np.cumsum(cov[:-1], out=coffs[1:])

    if cov.sum() == len(values) and len(big) == S:
        # common fast path: every series is "big" and fully covered — the
        # original flat buffer already tiles; no copy needed.
        y_all = values
        same = np.array_equal(coffs, offsets[:-1])
    else:
        same = False
    if not same:
        y_all = np.concatenate(
            [values[offsets[s] : offsets[s] + cov[j]] for j, s in enumerate(big)]
        )

    ends = ends_rel + coffs[:, None]
    starts = np.empty_like(ends)
    starts[:, 0] = coffs
    starts[:, 1:] = ends[:, :-1]
    _, _, argmins, argmaxs = _grouped_argminmax(
        y_all, starts.ravel(), ends.ravel(), nan_return
    )
    argmins = argmins.reshape(len(big), m)
    argmaxs = argmaxs.reshape(len(big), m)
    lo = np.minimum(argmins, argmaxs)
    hi = np.maximum(argmins, argmaxs)
    emitted = np.empty((len(big), m * k), dtype=np.int64)
    if k == 2:
        emitted[:, 0::2] = lo
        emitted[:, 1::2] = hi
    else:
        emitted[:, 0::4] = starts
        emitted[:, 1::4] = lo
        emitted[:, 2::4] = hi
        emitted[:, 3::4] = ends - 1
    emitted -= coffs[:, None]
    # scatter rows into the flat output
    dest = out_offsets[big][:, None] + np.arange(m * k, dtype=np.int64)[None, :]
    flat[dest.ravel()] = emitted.ravel()
    return flat, out_offsets


def _lttb_lockstep(values, offsets, n_out, xvalues=None):
    """LTTB over many series at once, advancing all series bucket-by-bucket
    in lockstep: each of the n_out-2 steps runs a handful of vectorized
    segmented ops over that step's buckets from EVERY series, instead of a
    Python-level loop per (series, bucket).

    Exact reference semantics per series (lttb.rs:17-180): identical float
    op order per element, sequential-fold bucket averages, |area| compared
    through IEEE bit patterns with first-occurrence ties.

    All series must satisfy n > n_out (callers route identity cases away).
    Returns flat int64 indices + output offsets (n_out per series).
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    ns = np.diff(offsets)
    S = len(ns)
    offs = offsets[:-1]
    yf = values.astype(np.float64, copy=False)
    xf = xvalues.astype(np.float64, copy=False) if xvalues is not None else None

    every = (ns - 2).astype(np.float64) / (n_out - 2)
    ks = np.arange(n_out - 1, dtype=np.float64)
    bounds = (every[:, None] * ks[None, :]).astype(np.int64) + 1  # (S, n_out-1)

    # Bucket averages for the "next bucket" of every step, all at once.
    # Per series the avg segments tile [bounds[s,1], n_s); a dummy head
    # segment [off_s, off_s + bounds[s,1]) keeps the global reduceat tiling
    # intact across series.
    seg_starts = np.empty((S, n_out - 1), dtype=np.int64)
    seg_starts[:, 0] = offs
    seg_starts[:, 1:] = bounds[:, 1:] + offs[:, None]
    seg_starts = seg_starts.ravel()
    sums = np.add.reduceat(yf, seg_starts).reshape(S, n_out - 1)[:, 1:]
    ends = np.empty_like(bounds)
    ends[:, :-1] = bounds[:, 1:]
    ends[:, -1] = ns  # implicit clamp min(bounds[s,n_out-1], n) == n
    counts = (ends[:, 1:] - bounds[:, 1:]).astype(np.float64)
    avg_ys = sums / counts
    if xf is None:
        avg_xs = (bounds[:, 1:] + ends[:, 1:] - 1) / 2.0
    else:
        avg_xs = (xf[offs[:, None] + ends[:, 1:] - 1] + xf[offs[:, None] + bounds[:, 1:]]) / 2.0

    out = np.empty((S, n_out), dtype=np.int64)
    out[:, 0] = 0
    out[:, -1] = ns - 1
    a = np.zeros(S, dtype=np.int64)  # per-series previously selected index
    sidx = np.arange(S, dtype=np.int64)
    for i in range(n_out - 2):
        ro = bounds[:, i]
        rt = bounds[:, i + 1]
        lens = rt - ro
        cum = np.zeros(S + 1, dtype=np.int64)
        np.cumsum(lens, out=cum[1:])
        total = int(cum[-1])
        seg_of = np.repeat(sidx, lens)
        j = np.arange(total, dtype=np.int64) - cum[seg_of]
        pos = (offs + ro)[seg_of] + j
        yb = yf[pos]
        ay = yf[offs + a]
        d2 = avg_ys[:, i] - ay
        if xf is None:
            ax = a.astype(np.float64)
            d1 = ax - avg_xs[:, i]
            # area_j = (d1*y) - (((a-ro) - j)*d2) - d1*ay  (lttb.rs:131-145)
            axx = (a - ro)[seg_of] - j
            area = d1[seg_of] * yb
            area -= axx * d2[seg_of]
            area -= (d1 * ay)[seg_of]
        else:
            ax = xf[offs + a]
            d1 = ax - avg_xs[:, i]
            offset = d1 * ay + d2 * ax
            # area_j = (d1*y) + (d2*x) - offset  (lttb.rs:61-74)
            area = d1[seg_of] * yb
            area += d2[seg_of] * xf[pos]
            area -= offset[seg_of]
        np.abs(area, out=area)
        bits = area.view(np.int64)
        best = np.maximum.reduceat(bits, cum[:-1])
        hit = bits == best[seg_of]
        hp = np.flatnonzero(hit)
        b = seg_of[hp]
        uniq, first = np.unique(b, return_index=True)
        a = ro + j[hp[first]]
        out[:, i + 1] = a
    out_offsets = np.arange(0, (S + 1) * n_out, n_out, dtype=np.int64)
    return out.ravel(), out_offsets


def _flat_per_series(values, offsets, n_out, fn):
    ns = np.diff(offsets)
    outs = []
    for s in range(len(ns)):
        outs.append(fn(values[offsets[s] : offsets[s + 1]], n_out))
    out_lens = np.array([len(o) for o in outs], dtype=np.int64)
    out_offsets = np.zeros(len(ns) + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offsets[1:])
    flat = np.concatenate(outs) if outs else np.empty(0, dtype=np.int64)
    return flat.astype(np.int64, copy=False), out_offsets


# Mean bucket size above which the per-series kernel beats the lockstep:
# per-series pays ~10us of Python per (series, bucket) but runs each bucket
# as one large contiguous vectorized op; lockstep pays O(1 gather + index
# arithmetic) per ELEMENT to amortize Python across series.  Measured
# crossover ~625 pts/bucket (parity); at 12.5k pts/bucket per-series is
# 4.6x faster, at 200 pts/bucket lockstep is 2.2x faster.  Both paths are
# bit-identical (pytest pins it), so this is purely a physical choice.
_LTTB_PER_SERIES_BUCKET = 1000


def _flat_lttb(values, offsets, n_out):
    """LTTB: lockstep across the non-identity series, identity short-circuit
    for the rest, preserving input order; few-huge-series batches (zoom-out:
    small n_out over long series) route to the per-series kernel instead."""
    offsets = np.asarray(offsets, dtype=np.int64)
    ns = np.diff(offsets)
    S = len(ns)
    big = np.flatnonzero(ns > n_out)
    results: list = [None] * S
    for s in np.flatnonzero(ns <= n_out):
        results[s] = np.arange(ns[s], dtype=np.int64)
    if len(big):
        mean_bucket = ns[big].sum() / (len(big) * n_out)
        if mean_bucket >= _LTTB_PER_SERIES_BUCKET:
            for s in big:
                results[s] = lttb(values[offsets[s] : offsets[s + 1]], n_out)
            sel_flat = None
        elif len(big) == S and offsets[0] == 0:
            sel_flat, sel_off = _lttb_lockstep(values, offsets, n_out)
        else:
            sub_off = np.zeros(len(big) + 1, dtype=np.int64)
            np.cumsum(ns[big], out=sub_off[1:])
            sub = np.concatenate([values[offsets[s] : offsets[s + 1]] for s in big])
            sel_flat, sel_off = _lttb_lockstep(sub, sub_off, n_out)
        if sel_flat is not None:
            for j, s in enumerate(big):
                results[s] = sel_flat[sel_off[j] : sel_off[j + 1]]
    out_lens = np.array([len(r) for r in results], dtype=np.int64)
    out_offsets = np.zeros(S + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offsets[1:])
    flat = np.concatenate(results) if results else np.empty(0, dtype=np.int64)
    return flat, out_offsets


def _flat_minmaxlttb(values, offsets, n_out, ratio, nan_return):
    """Phase-1 prefetch batched over the whole flat buffer, phase-2 LTTB in
    lockstep over the (small) candidate sets (minmaxlttb.rs:173-207)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    ns = np.diff(offsets)
    S = len(ns)
    active = np.flatnonzero(ns // n_out > ratio)
    active_set = set(active.tolist())
    results: list = [None] * S
    # non-active series: identity or plain lttb
    for s in range(S):
        if s in active_set:
            continue
        y = values[offsets[s] : offsets[s + 1]]
        if n_out >= ns[s]:
            results[s] = np.arange(ns[s], dtype=np.int64)
        else:
            results[s] = lttb(y, n_out)
    if len(active):
        # interiors [1, n-1) of active series, batched minmax prefetch
        int_offsets = np.zeros(len(active) + 1, dtype=np.int64)
        np.cumsum(ns[active] - 2, out=int_offsets[1:])
        interior = np.concatenate(
            [values[offsets[s] + 1 : offsets[s + 1] - 1] for s in active]
        )
        pf_flat, pf_offsets = _flat_binned(
            interior, int_offsets, n_out * ratio, 2, nan_return
        )
        # candidate index arrays: [0, prefetch+1 ..., n-1] per active series
        pf_lens = np.diff(pf_offsets)
        cand_lens = pf_lens + 2
        cand_off = np.zeros(len(active) + 1, dtype=np.int64)
        np.cumsum(cand_lens, out=cand_off[1:])
        cidx = np.empty(cand_off[-1], dtype=np.int64)
        cidx[cand_off[:-1]] = 0
        cidx[cand_off[1:] - 1] = ns[active] - 1
        inner_dest = np.setdiff1d(
            np.arange(len(cidx)), np.concatenate([cand_off[:-1], cand_off[1:] - 1])
        )
        cidx[inner_dest] = pf_flat + 1
        # gather candidate y (and x = original index) values
        abs_cidx = cidx + np.repeat(offsets[active], cand_lens)
        cy = values[abs_cidx]
        cx = cidx.astype(np.float64)
        sel_flat, sel_off = _lttb_lockstep(cy, cand_off, n_out, xvalues=cx)
        # map candidate positions back to original indices
        final = cidx[sel_flat + np.repeat(cand_off[:-1], n_out)]
        for j, s in enumerate(active):
            results[s] = final[j * n_out : (j + 1) * n_out]
    out_lens = np.array([len(r) for r in results], dtype=np.int64)
    out_offsets = np.zeros(S + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offsets[1:])
    flat = np.concatenate(results) if results else np.empty(0, dtype=np.int64)
    return flat, out_offsets


def flat_downsample(values: np.ndarray, offsets: np.ndarray, n_out: int,
                    algo: str, **kw):
    """Downsample all series in a flat (values, offsets) layout.

    Returns (flat_idx int64, out_offsets int64[S+1]).
    """
    values = _as_float_view(values)
    offsets = np.asarray(offsets, dtype=np.int64)
    if algo == "minmax":
        return _flat_binned(values, offsets, n_out, 2, False)
    if algo == "nanminmax":
        return _flat_binned(values, offsets, n_out, 2, True)
    if algo == "m4":
        return _flat_binned(values, offsets, n_out, 4, False)
    if algo == "nanm4":
        return _flat_binned(values, offsets, n_out, 4, True)
    if algo in ("minmaxlttb", "nanminmaxlttb"):
        return _flat_minmaxlttb(
            values, offsets, n_out, int(kw.get("minmax_ratio", 4)),
            algo.startswith("nan"),
        )
    if algo == "lttb":
        return _flat_lttb(values, offsets, n_out)
    if algo == "everynth":
        return _flat_per_series(values, offsets, n_out, lambda y, k: everynth(y, k))
    raise ValueError(f"unknown algo {algo!r}")


def select_and_gather(col, n_out: int, algo: str, gather: bool = True, **kw):
    """Shared Arrow glue over :func:`flat_downsample`: run the flat batch
    kernel on a pyarrow list column and return ``(sel_arr, tok_arr)`` — the
    per-row selected indices (``list<int64>``, null rows select null) and,
    when ``gather=True``, the gathered selected values (same list type as
    the input) picked while the flat buffers are at hand, so only n_out
    values per series ever leave this function.  One implementation for
    every operators.downsample token shape, over the Arrow pipe and the
    in-task Parquet read alike — a fix here (null rows, sliced-array
    offsets, dtype edges) reaches all of them.
    """
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy()
    values = col.values.to_numpy(zero_copy_only=False)
    flat, out_off = flat_downsample(values, offsets, n_out, algo, **kw)
    # a null row runs as the segment its offsets span (empty as Spark and
    # Parquet write it; arbitrary values are legal Arrow) and is masked back
    # to null, so nulls cost no copy of the batch
    mask = col.is_null() if col.null_count else None
    oo = pa.array(out_off, type=pa.int32())
    sel_arr = pa.ListArray.from_arrays(
        oo, pa.array(flat, type=pa.int64()), mask=mask
    )
    tok_arr = None
    if gather:
        abs_idx = flat + np.repeat(offsets[:-1].astype(np.int64), np.diff(out_off))
        tok_arr = pa.ListArray.from_arrays(oo, pa.array(values[abs_idx]), mask=mask)
    return sel_arr, tok_arr
