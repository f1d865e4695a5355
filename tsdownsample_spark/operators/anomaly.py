"""Rolling z-score anomaly flagging: score each point against the
TRAILING window of its own series (current point excluded, so an outlier
cannot suppress its own score) — the standard first-line monitoring
detector layered on the same per-series windows as rate/gap/rollup.

One shuffle on the series key, O(window) state per row, no UDF; the
window is ROWS-based (last k observations) rather than time-based so
irregular sampling does not change the sample size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["rolling_zscore"]


def rolling_zscore(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    window: int = 50,
    threshold: float = 3.0,
    tiebreak: Sequence[str] = (),
    min_obs: int = 10,
    impl: str = "frame",
) -> DataFrame:
    """Append ``roll_mean``, ``roll_std``, ``z`` and ``is_anomaly``.

    ``z = (y - mean) / std`` over the previous ``window`` observations
    (rows ``-window .. -1``); NULL until ``min_obs`` prior points exist or
    when the trailing std is zero (a constant window scores nothing —
    avoids division blow-ups on flatlines).  ``threshold`` is in sigmas;
    ``is_anomaly`` is strictly-greater on |z|.

    ``impl``: Spark re-aggregates a sliding ROWS frame from scratch at
    every row, so the default ``"frame"`` impl is O(n * window) — exact
    (textbook two-pass variance per frame, matches SQL engines bit for
    bit) but 10-20x slower than the scan at window=50.  ``"prefix"``
    computes the same trailing mean/std from RUNNING sums of y and y^2
    (cumulative frames are incremental in Spark) minus their lag(window)
    — O(n) regardless of window, the 100 TB path.  Same NULL/min_obs
    semantics (NULL y contributes to neither sum nor count in either
    impl); values differ only by float-summation order, so scores agree
    to ~1e-9 relative except when |mean| >> std (catastrophic
    cancellation in the sum-of-squares variance).  That residue also
    means "prefix" has NO exact flatline check: a constant frame can
    leave a tiny positive std and a huge non-NULL z where "frame" and
    "grouped" return std 0 and NULL z.  Monitoring thresholds rarely
    care; parity tests should use "frame" or "grouped".  One more edge:
    a NaN *payload* (not NULL) poisons only its own frames under "frame"
    but every later row of its series under "prefix" (running sums never
    forget) — scrub NaN to NULL upstream when using "prefix".
    """
    if window < 2 or min_obs < 2:
        raise ValueError("window and min_obs must be >= 2")
    if min_obs > window:
        raise ValueError(
            f"min_obs ({min_obs}) > window ({window}): the trailing frame "
            "can never satisfy it — every z would be silently NULL"
        )
    if impl not in ("frame", "prefix", "grouped"):
        raise ValueError("impl must be 'frame', 'prefix' or 'grouped'")
    by = list(by)
    if impl == "grouped":
        return _zscore_grouped(
            df, x_col, y_col, by, window, threshold, list(tiebreak), min_obs
        )
    if impl == "prefix":
        wc = (
            Window.partitionBy(*by)
            .orderBy(x_col, *tiebreak)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wl = Window.partitionBy(*by).orderBy(x_col, *tiebreak)
        y = F.col(y_col).cast("double")
        # running sums up to the PREVIOUS row; subtracting their value at
        # `window` rows back leaves exactly the trailing frame's sums (a
        # NULL lag means the frame starts at the partition start: minus 0)
        s1 = F.sum(y).over(wc)
        s2 = F.sum(y * y).over(wc)
        c = F.count(y).over(wc)
        fs1 = s1 - F.coalesce(F.lag(s1, window).over(wl), F.lit(0.0))
        fs2 = s2 - F.coalesce(F.lag(s2, window).over(wl), F.lit(0.0))
        # COUNT over an empty frame is 0, never NULL; only the lag needs
        # the partition-start fallback
        cnt = c - F.coalesce(F.lag(c, window).over(wl), F.lit(0))
        mean = fs1 / cnt
        var = (fs2 - fs1 * fs1 / cnt) / (cnt - 1)
        # FP round-off can drive a tiny positive variance negative
        std = F.sqrt(F.greatest(var, F.lit(0.0)))
        mean = F.when(cnt > 0, mean)
        std = F.when(cnt > 1, std)
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(x_col, *tiebreak)
            .rowsBetween(-window, -1)
        )
        mean = F.avg(y_col).over(w)
        std = F.stddev_samp(y_col).over(w)
        cnt = F.count(y_col).over(w)
    z = F.when(
        (cnt >= F.lit(min_obs)) & (std > 0), (F.col(y_col) - mean) / std
    )
    # true append: every input column passes through (callers join flags
    # back to source rows by their own id columns)
    return df.select(
        "*",
        mean.alias("roll_mean"),
        std.alias("roll_std"),
        z.alias("z"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(threshold)).alias("is_anomaly"),
    )


def _trailing_zscore(y, window: int, min_obs: int, threshold: float):
    """Trailing-ROWS z-score of every row of one SORTED series: mean/std
    of rows ``[i - window, i - 1]`` from extended-precision centered
    prefix sums, ``z``/``is_anomaly`` gated on ``min_obs`` and a nonzero
    std.  ``y`` is float64 with NaN for NULL (a NaN payload counts as
    NULL too).  The one z-score kernel: ``impl="grouped"`` runs it per
    series and stream_anomaly.py over carried tail + micro-batch.  Count
    is integer-exact, and constant frames are detected by an exact
    shifted-rolling min==max comparison so the std>0 gate fires on the
    same rows as the engines' exact-zero central moments."""
    import numpy as np
    import pandas as pd

    n = len(y)
    valid = ~np.isnan(y)
    idx = np.arange(n)
    lo = np.maximum(idx - window, 0)
    hi = idx  # frame = rows [i - window, i - 1]
    cnt_p = np.concatenate(([0], np.cumsum(valid)))
    cnt = (cnt_p[hi] - cnt_p[lo]).astype(np.int64)
    ym = float(y[valid].mean()) if valid.any() else 0.0
    yc = np.where(valid, y - ym, 0.0)
    cs = np.empty(n + 1, dtype=np.longdouble)
    cs[0] = 0.0
    np.cumsum(yc, dtype=np.longdouble, out=cs[1:])
    cq = np.empty(n + 1, dtype=np.longdouble)
    cq[0] = 0.0
    np.cumsum(yc * yc, dtype=np.longdouble, out=cq[1:])
    fs_c = cs[hi] - cs[lo]
    fq_c = cq[hi] - cq[lo]
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = np.asarray(fs_c / cnt, dtype=np.float64) + ym
        var = np.asarray(
            np.maximum(fq_c - fs_c * fs_c / np.maximum(cnt, 1), 0.0),
            dtype=np.float64,
        ) / np.maximum(cnt - 1, 1)
        std = np.sqrt(var)
    # exact flatline detection: trailing min == max (shift by one so
    # the fixed ROWS window [i-window, i-1] maps onto pandas' own)
    sh = pd.Series(y).shift(1)
    roll = sh.rolling(window=window, min_periods=1)
    std = np.where(roll.min().to_numpy() == roll.max().to_numpy(), 0.0, std)
    ok = (cnt >= min_obs) & (std > 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        z = np.where(ok, (y - mean) / std, np.nan)
    flag = pd.array(np.abs(z) > threshold, dtype="boolean")
    flag[np.isnan(z)] = pd.NA
    return dict(
        roll_mean=np.where(cnt > 0, mean, np.nan),
        roll_std=np.where(cnt > 1, std, np.nan),
        z=z,
        is_anomaly=flag,
    )


def _zscore_grouped(
    df: DataFrame, x_col, y_col, by, window, threshold, tiebreak, min_obs
) -> DataFrame:
    """impl="grouped": the exact vectorized per-series kernel (guide
    section 4.2) — one shuffle on the series key, then
    ``_trailing_zscore`` instead of Spark's O(n x window) per-row frame
    re-aggregation (r6: 19 s -> ~2 s at sf1.0).  mean/std residue sits
    ~1e-15 (orders under the contract row's 6dp grid)."""
    import numpy as np
    from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

    def kernel(pdf):
        pdf = pdf.sort_values([x_col, *tiebreak], kind="mergesort")
        y = pdf[y_col].to_numpy(dtype=np.float64, na_value=np.nan)
        return pdf.assign(**_trailing_zscore(y, window, min_obs, threshold))

    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("roll_mean", DoubleType()),
            StructField("roll_std", DoubleType()),
            StructField("z", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    return df.groupBy(*by).applyInPandas(kernel, schema)
