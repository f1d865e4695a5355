"""Per-series statistical diagnostics: autocorrelation, CUSUM change
detection, winsorization, EWMA smoothing, seasonal-baseline z-scores.

These extend the engine past the reference's selector surface
(tsdownsample has no analytics beyond downsampling; these are the
series-health diagnostics a retention pipeline runs next to the tiers —
the same family as TimescaleDB toolkit's ``stats_agg``/changepoint
hyperfunctions, re-expressed as Catalyst plans).

Spark-first notes (100 TB shapes):

* ``autocorr`` — one lag window + one map-side-combinable groupBy; shuffle
  cardinality = series count, never points.
* ``cusum`` — the textbook recursion ``S_t = max(0, S_{t-1} + dev_t)`` is
  NOT window-expressible as written, but has the closed form
  ``S_t = P_t - min(0, min_{j<=t} P_j)`` with ``P`` the running sum of
  deviations, so it becomes two ROWS-frame windows (prefix sum + running
  min) — O(n) per series, zero Python, parallel across series exactly like
  the rolling z-score (anomaly.py).  Per-series mean/std come from a
  groupBy + join back (AQE broadcasts the tiny stats side) instead of an
  unbounded window, so no whole-partition buffering.
* ``winsorize`` — exact interpolated percentiles per series (map-side
  partial ``percentile``), joined back and clipped; one narrow join, no
  second scan of the fact side beyond the clip projection.
* ``ewma`` — the one operator here that is genuinely sequential
  (``y'_t = a*y_t + (1-a)*y'_{t-1}`` carries state point to point, like
  LTTB's selected-point dependence): whole-series groups through
  ``applyInPandas``, parallel ACROSS series — the documented escape hatch,
  not a regression to per-row Python (Arrow batches, one loop over each
  series' NumPy array, ``_ewma_scan``, which the stream twin also runs).
* ``seasonal_zscore`` — per-(series, hour-of-day) baseline profile via one
  groupBy, joined back (AQE broadcasts the 24x-series-count profile), each
  point scored against its OWN season — the diurnal-pattern-aware variant
  of the global z-score.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "autocorr",
    "burstiness",
    "cusum",
    "ewma",
    "ks_drift",
    "mad_outliers",
    "psi_drift",
    "seasonal_strength",
    "seasonal_zscore",
    "spearman",
    "trend",
    "value_histogram",
    "winsorize",
    "xcorr",
]


def _order_cols(x_col: str, tiebreak: Sequence[str]) -> list[Column]:
    return [F.col(x_col)] + [F.col(c) for c in tiebreak]


def autocorr(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    lag: int = 1,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Lag-``k`` autocorrelation of ``y_col`` per series.

    Pearson correlation between the series and itself shifted by ``lag``
    points (the ACF at one lag — run once per lag of interest).  Sum-based,
    so cross-engine comparison needs rounding (the 6-decimal convention).
    """
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    by = list(by)
    w = Window.partitionBy(*by).orderBy(*_order_cols(x_col, tiebreak))
    return (
        df.withColumn("_pv", F.lag(y_col, lag).over(w))
        .groupBy(*by)
        .agg(
            F.corr(y_col, "_pv").alias("acf"),
            F.count("_pv").alias("n_pairs"),
        )
    )


def cusum(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    k: float = 0.5,
    h: float = 5.0,
    tiebreak: Sequence[str] = (),
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """One-sided (positive-shift) CUSUM change detection per series.

    Standardizes each point against the series' own mean/std (sample), then
    runs ``S_t = max(0, S_{t-1} + (z_t - k))`` and flags ``S_t > h``.

    The recursion is rewritten as ``S_t = P_t - least(min_{j<=t} P_j, 0)``
    (``P`` = prefix sum of ``z - k``): the max-with-zero clamp is exactly
    "distance above the running minimum of the prefix sums", which two
    cumulative ROWS windows compute in one pass per series.  Output columns:
    ``cusum_s`` (the statistic) and ``alarm``.

    ``stats_df`` (optional): a precomputed calibration table
    ``(by..., _mu, _sd)`` to standardize against instead of the input's own
    mean/std — the production mode (calibrate on an in-control reference
    period, monitor everything after) and the contract the streaming twin
    (streaming/stream_cusum.py) shares, since a stream cannot know its
    future mean.
    """
    by = list(by)
    stats = (
        stats_df
        if stats_df is not None
        else df.groupBy(*by).agg(
            F.avg(y_col).alias("_mu"), F.stddev_samp(y_col).alias("_sd")
        )
    )
    order = _order_cols(x_col, tiebreak)
    cum = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (F.col(y_col) - F.col("_mu")) / F.col("_sd") - F.lit(float(k))
    pfx = F.sum(dev).over(cum)
    return (
        df.join(stats, on=by, how="inner")
        .withColumn("_pfx", pfx)
        .withColumn("_runmin", F.min("_pfx").over(cum))
        .withColumn("cusum_s", F.col("_pfx") - F.least(F.col("_runmin"), F.lit(0.0)))
        .withColumn("alarm", F.round("cusum_s", 6) > F.lit(float(h)))
        .drop("_mu", "_sd", "_pfx", "_runmin")
    )


def winsorize(
    df: DataFrame,
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Clip ``y_col`` to its per-series exact interpolated percentiles.

    Uses Spark's exact ``percentile`` aggregate (linear interpolation — the
    same definition as ANSI ``percentile_cont`` / DuckDB ``quantile_cont``),
    NOT ``approx_percentile``: outlier capping that itself drifts between
    runs would poison downstream training statistics.  Exact percentile is
    a sort-based partial aggregate; for very hot series swap in
    ``approx_percentile`` explicitly and accept the documented error.
    Adds ``{y_col}_w`` (clipped value), ``p_lo``, ``p_hi``.
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    by = list(by)
    bounds = df.groupBy(*by).agg(
        F.expr(f"percentile({y_col}, {lower!r})").alias("p_lo"),
        F.expr(f"percentile({y_col}, {upper!r})").alias("p_hi"),
    )
    return df.join(bounds, on=by, how="inner").withColumn(
        f"{y_col}_w",
        F.least(F.greatest(F.col(y_col), F.col("p_lo")), F.col("p_hi")),
    )


def ewma(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    alpha: float = 0.3,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Exponentially weighted moving average per series
    (``adjust=False`` semantics: ``y'_0 = y_0``,
    ``y'_t = alpha*y_t + (1-alpha)*y'_{t-1}``).

    Sequential by definition — each smoothed value feeds the next — so it
    runs whole-series-per-group through ``applyInPandas`` (the LTTB
    pattern: parallel across series, one loop over the series' array).
    A window/closed-form rewrite exists on paper (weighted prefix sums)
    but needs ``(1-alpha)^-t`` factors that overflow float64 within a few
    thousand points, so the honest distributed shape is one group per
    series; memory is bounded by series length like every whole-series
    kernel here (see queries.event_series for the scale framing).
    Output: input columns (less tiebreak) plus ``ewma``.

    The recursion is an explicit loop spelling exactly
    ``alpha*y + (1-alpha)*prev`` — NOT pandas ``ewm(adjust=False)``, whose
    internal ``(old_wt*prev + new_wt*y) / (old_wt + new_wt)`` divides by a
    sum that is one ulp off 1.0 for most alphas, breaking bit-parity with
    any engine that writes the textbook form (observed: a 6th-decimal
    rounding flip against the DuckDB oracle at alpha=0.3).
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    by = list(by)
    tiebreak = list(tiebreak)
    import pandas as pd  # noqa: F401  (worker-side)

    cols = by + [x_col] + tiebreak + [y_col]
    out_fields = [df.schema[c] for c in by + [x_col, y_col]]
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(out_fields + [StructField("ewma", DoubleType())])
    sort_cols = [x_col] + tiebreak

    a = float(alpha)

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(sort_cols, kind="mergesort", ignore_index=True)
        v = pdf[y_col].to_numpy(dtype="float64")
        out = pdf[by + [x_col, y_col]].copy()
        out["ewma"] = _ewma_scan(v, a, float("nan"))
        return out

    return df.select(*cols).groupBy(*by).applyInPandas(fn, schema=schema)


def _ewma_scan(v, alpha: float, ew0: float):
    """The EWMA recursion over one sorted series, seeded with the running
    smooth ``ew0`` (NaN = no observation yet).  NULL/NaN rows inherit the
    running smooth.  The one EWMA loop: ``ewma`` seeds it with NaN per
    series and stream_ewma.py with its carried scalar, so the running
    smooth after the scan is the output's last element."""
    import numpy as np

    one_minus_a = 1.0 - alpha
    sm = np.empty_like(v)
    ew = ew0
    for i, x in enumerate(v):
        if np.isnan(x):
            sm[i] = ew  # NULL/NaN inherits the running smooth
        else:
            ew = x if np.isnan(ew) else alpha * x + one_minus_a * ew
            sm[i] = ew
    return sm


def trend(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
) -> DataFrame:
    """Per-series least-squares trend: slope per DAY, intercept, r², n.

    ANSI ``regr_slope``/``regr_intercept``/``regr_r2`` aggregates — one
    map-side-combinable groupBy, shuffle cardinality = series count.  The
    regressor is elapsed days since the series' own first point (a
    groupBy-min + join back): translation-invariant in exact arithmetic,
    but anchoring at zero conditions the sums and makes the intercept the
    fitted level AT the series start, the number a dashboard wants.
    """
    by = list(by)
    t0 = df.groupBy(*by).agg(F.min(x_col).alias("_t0"))
    days = (
        F.unix_micros(F.col(x_col).cast("timestamp"))
        - F.unix_micros(F.col("_t0").cast("timestamp"))
    ) / F.lit(86400.0 * 1e6)
    return (
        df.join(t0, on=by, how="inner")
        .withColumn("_days", days)
        .groupBy(*by)
        .agg(
            F.regr_slope(F.col(y_col), F.col("_days")).alias("slope_per_day"),
            F.regr_intercept(F.col(y_col), F.col("_days")).alias("intercept"),
            F.regr_r2(F.col(y_col), F.col("_days")).alias("r2"),
            F.count(y_col).alias("n"),
        )
    )


def value_histogram(
    df: DataFrame,
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    bins: int = 20,
) -> DataFrame:
    """Equi-width value histogram per series: ``bins`` buckets over the
    series' own [min, max], one count per non-empty bucket.

    Two map-side-combinable groupBys (bounds, then counts) + one
    broadcastable join — the distribution tier a dashboard renders next to
    the rollup tiers.  Bucket rule spelled as explicit arithmetic
    (``floor((v - lo) / w)`` clamped to ``bins - 1`` so ``v = hi`` lands in
    the last bucket) rather than an engine-specific ``width_bucket``, so
    any SQL engine reproduces it bit-for-bit.  A constant series (w = 0)
    degenerates to a single bucket 0.  Output: (by..., bucket, lo, hi,
    cnt) — empty buckets are absent (sparse form; densify with
    ``sequence(0, bins-1)`` if a renderer needs zeros).
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    by = list(by)
    bounds = df.groupBy(*by).agg(
        F.min(y_col).alias("lo"), F.max(y_col).alias("hi")
    )
    w = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(y_col) - F.col("lo")) / w).cast("int"),
            F.lit(bins - 1),
        )
    )
    return (
        df.join(bounds, on=by, how="inner")
        .withColumn("bucket", bucket)
        .groupBy(*by, "bucket", "lo", "hi")
        .agg(F.count("*").alias("cnt"))
    )


def spearman(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation of ``y_col`` against time, per series —
    the robust monotonic-trend detector (outliers that wreck the
    least-squares ``trend`` slope barely move a rank statistic).

    Fractional (average) ranks for ties — the standard definition —
    computed as ``AVG(row_number) OVER (PARTITION BY series, value)``:
    tied values share the mean of the positions they occupy, which needs
    no dense/min-rank correction terms.  Then one Pearson ``corr`` over
    the rank pairs.  Two ROWS-free windows + one map-side-combinable
    groupBy; shuffle cardinality = series count.
    """
    by = list(by)
    w_ord = Window.partitionBy(*by).orderBy(*_order_cols(x_col, tiebreak))
    rn_y = Window.partitionBy(*by).orderBy(
        F.col(y_col), *_order_cols(x_col, tiebreak)
    )
    ranked = (
        df.where(F.col(y_col).isNotNull())
        .withColumn("_rx", F.row_number().over(w_ord).cast("double"))
        .withColumn("_rn_y", F.row_number().over(rn_y).cast("double"))
        .withColumn(
            "_ry", F.avg("_rn_y").over(Window.partitionBy(*by, y_col))
        )
    )
    return ranked.groupBy(*by).agg(
        F.corr("_rx", "_ry").alias("rho"), F.count("*").alias("n")
    )


def seasonal_zscore(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    season: str = "hour_of_day",
) -> DataFrame:
    """Score each point against its (series, season-slot) baseline.

    A diurnal web-traffic series makes a global z-score blind (3am is
    always "anomalous"); the fix is the classic seasonal profile: mean/std
    per (series, hour-of-day | day-of-week), joined back.  One groupBy
    (map-side combinable, output cardinality = series x slots) + one
    AQE-broadcastable join.  Adds ``season_slot``, ``season_mu``,
    ``season_sd``, ``z_seasonal``.
    """
    slots = {
        "hour_of_day": F.hour(F.col(x_col)),
        "day_of_week": F.dayofweek(F.col(x_col)),
    }
    if season not in slots:
        raise ValueError(f"season must be one of {sorted(slots)}, got {season!r}")
    by = list(by)
    slotted = df.withColumn("season_slot", slots[season])
    profile = slotted.groupBy(*by, "season_slot").agg(
        F.avg(y_col).alias("season_mu"),
        F.stddev_samp(y_col).alias("season_sd"),
    )
    return slotted.join(profile, on=by + ["season_slot"], how="inner").withColumn(
        "z_seasonal",
        (F.col(y_col) - F.col("season_mu")) / F.col("season_sd"),
    )


def seasonal_strength(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    season: str = "hour_of_day",
) -> DataFrame:
    """How seasonal is each series?  The one-way-ANOVA R² of the season
    profile: ``1 - SS_within_slots / SS_total`` — 0 when slot means explain
    nothing, -> 1 when the value is a pure function of its season slot.
    The go/no-go gate before trusting :func:`seasonal_zscore` baselines.

    ONE pass of decomposable partials — per (series, slot) ``(n, Σv, Σv²)``
    — then a tiny per-series fold: ``SS_within = Σ_slots (Σv² - (Σv)²/n)``
    and ``SS_total = Σv² - (Σv)²/N`` need nothing else.  Two
    map-side-combinable groupBys, no join back to the fact side at all.
    Output: (by..., strength, n).
    """
    slots = {
        "hour_of_day": F.hour(F.col(x_col)),
        "day_of_week": F.dayofweek(F.col(x_col)),
    }
    if season not in slots:
        raise ValueError(f"season must be one of {sorted(slots)}, got {season!r}")
    by = list(by)
    v = F.col(y_col).cast("double")
    per_slot = (
        df.withColumn("_slot", slots[season])
        .groupBy(*by, "_slot")
        .agg(
            F.count(y_col).alias("_n"),
            F.sum(v).alias("_s1"),
            F.sum(v * v).alias("_s2"),
        )
    )
    return (
        per_slot.groupBy(*by)
        .agg(
            (
                F.sum("_s2") - F.sum(F.col("_s1") * F.col("_s1") / F.col("_n"))
            ).alias("_ssw"),
            (
                F.sum("_s2")
                - F.sum("_s1") * F.sum("_s1") / F.sum("_n")
            ).alias("_sst"),
            F.sum("_n").alias("n"),
        )
        .withColumn(
            "strength",
            F.when(F.col("_sst") > 0, 1.0 - F.col("_ssw") / F.col("_sst")),
        )
        .select(*by, "strength", "n")
    )


def ks_drift(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per series: split each
    series at the midpoint of its time range and report
    ``D = max_v |F_early(v) - F_late(v)|`` between the two halves' value
    distributions — the standard nonparametric "has this metric's
    distribution shifted?" gate (exact D, not a p-value approximation;
    the per-series n's are returned so callers can apply the asymptotic
    ``c(α)·sqrt((n1+n2)/(n1·n2))`` threshold themselves).

    Exactness on ties: both CDFs are stepped per DISTINCT value (one
    groupBy on (series, value) first), so tied observations across the two
    halves move both CDFs at the same step — the textbook definition, not
    the sort-and-count-rows shortcut that splits ties arbitrarily.

    100 TB shape: the split point comes from a per-series min/max groupBy
    joined back (tiny, AQE-broadcast); the CDF step table shuffles one row
    per DISTINCT (series, value) — bounded by value cardinality, not
    points; the running sums are two ROWS-frame windows partitioned by
    series (the same O(distinct) sequential-per-series class as
    :func:`cusum`, parallel across series).  Zero Python anywhere.
    Output: (by..., d, n_early, n_late).
    """
    by = list(by)
    # timestamp x -> epoch micros (the cast handles TIMESTAMP_NTZ parquet
    # columns; the engine session pins UTC so the NTZ->instant reading
    # matches the oracle's epoch_us); numeric x is used as-is
    if "timestamp" in dict(df.dtypes).get(x_col, ""):
        us = F.unix_micros(F.col(x_col).cast("timestamp"))
    else:
        us = F.col(x_col).cast("long")
    bounds = (
        df.groupBy(*by)
        .agg(
            F.min(us).alias("_mn"),
            F.max(us).alias("_mx"),
        )
        .withColumn("_mid", F.expr("(_mn + _mx) div 2"))
        .select(*by, "_mid")
    )
    tagged = df.join(bounds, by).withColumn(
        "_late", (us > F.col("_mid")).cast("int")
    )
    steps = tagged.groupBy(*by, y_col).agg(
        F.sum(1 - F.col("_late")).alias("_c0"),
        F.sum("_late").alias("_c1"),
    )
    w = Window.partitionBy(*by).orderBy(y_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*by)
    cum = (
        steps.withColumn("_cum0", F.sum("_c0").over(w))
        .withColumn("_cum1", F.sum("_c1").over(w))
        .withColumn("_n0", F.sum("_c0").over(wall))
        .withColumn("_n1", F.sum("_c1").over(wall))
    )
    return (
        cum.groupBy(*by)
        .agg(
            F.max(
                F.abs(
                    F.col("_cum0") / F.col("_n0") - F.col("_cum1") / F.col("_n1")
                )
            ).alias("d"),
            F.max("_n0").alias("n_early"),
            F.max("_n1").alias("n_late"),
        )
        .select(*by, "d", "n_early", "n_late")
    )


_XCORR_STEPS_US = {
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def xcorr(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: str = "series_key",
    every: str = "minute",
    lag: int = 0,
) -> DataFrame:
    """Lead-lag cross-correlation matrix between series: Pearson corr of
    per-bucket MEAN values across every ordered series pair, with the
    second series shifted by ``lag`` buckets — the "which metrics move
    together, and who leads?" fabric of observability and of feature
    screening over metric panels.  ``lag > 0`` correlates a's bucket ``t``
    against b's bucket ``t - lag`` (b LEADS a); only buckets where both
    sides exist enter the fold (inner join), so sparse series don't
    fabricate zero-filled agreement.

    100 TB shape: the raw scan collapses FIRST to one row per
    (series, bucket) — map-side-combinable groupBy, shuffle ∝
    series x buckets, never points — and everything downstream runs on
    that collapsed panel: one integer-bucket equi-join (AQE broadcasts the
    panel when small) and one corr fold per ordered pair.  Bucket ids are
    integer epoch-micros div step, so the lag shift is exact integer
    arithmetic, engine-portable.  Zero Python.
    Output: (key_a, key_b, r, n_buckets) for all ordered pairs a != b.
    """
    if every not in _XCORR_STEPS_US:
        raise ValueError(
            f"every must be one of {sorted(_XCORR_STEPS_US)}, got {every!r}"
        )
    step = _XCORR_STEPS_US[every]
    if "timestamp" in dict(df.dtypes).get(x_col, ""):
        us = F.unix_micros(F.col(x_col).cast("timestamp"))
    else:
        us = F.col(x_col).cast("long")
    panel = (
        df.withColumn("_us", us)
        .groupBy(
            F.col(by).alias("_k"),
            F.expr(f"_us div {step}").alias("_bkt"),
        )
        .agg(F.avg(y_col).alias("_v"))
    )
    a = panel.select(
        F.col("_k").alias("key_a"),
        F.col("_bkt").alias("_j"),
        F.col("_v").alias("_va"),
    )
    b = panel.select(
        F.col("_k").alias("key_b"),
        (F.col("_bkt") + F.lit(int(lag))).alias("_j"),
        F.col("_v").alias("_vb"),
    )
    # corr spelled as covar/(sd*sd): under ANSI mode (Spark 4 default)
    # the built-in corr THROWS on a zero-variance side, and one flat
    # series must not kill a whole-panel job — this form returns NULL
    # for degenerate pairs, matching DuckDB/ANSI corr semantics
    return (
        a.join(b, "_j")
        .where(F.col("key_a") != F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(
            F.covar_samp("_va", "_vb").alias("_cov"),
            F.stddev_samp("_va").alias("_sa"),
            F.stddev_samp("_vb").alias("_sb"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .withColumn(
            "r",
            F.when(
                (F.col("_sa") > 0) & (F.col("_sb") > 0),
                F.col("_cov") / (F.col("_sa") * F.col("_sb")),
            ),
        )
        .select("key_a", "key_b", "r", "n_buckets")
    )


# 1 / Phi^-1(0.75): scales MAD to the sigma of a normal distribution, the
# standard consistency constant (Rousseeuw & Croux 1993, public)
_MAD_SCALE = 1.4826022185056018


def mad_outliers(
    df: DataFrame,
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    k: float = 3.5,
) -> DataFrame:
    """Robust per-series outlier scores: ``rz = (y - median) /
    (1.4826 * MAD)`` with ``MAD = median(|y - median|)``, flagged when
    ``|rz| > k`` (k=3.5 is the classic Iglewicz-Hoaglin cut).  The robust
    twin of the rolling z-score (anomaly.py): mean/std themselves move
    when outliers land, so a fat-tailed series scores its own spikes as
    normal — median/MAD don't, making this the preferred first-pass
    quality gate over sensor panels and training-metric streams.

    100 TB shape: two exact interpolated ``percentile`` folds (map-side
    sort-based partials, same engine-portable definition as winsorize —
    ANSI percentile_cont), each joined back to the facts; the stats sides
    are one row per series so AQE broadcasts both joins.  Zero Python,
    no windows, no whole-partition buffering.  A zero-MAD series (over
    half its points at the median) yields NULL rz — constant series must
    not flag everything.

    Output: input columns plus ``rz`` (NULL when MAD = 0) and ``outlier``.
    """
    by = list(by)
    med = df.groupBy(*by).agg(
        F.expr(f"percentile({y_col}, 0.5)").alias("_med")
    )
    dev = df.join(med, on=by, how="inner")
    mad = dev.groupBy(*by).agg(
        F.expr(f"percentile(abs({y_col} - _med), 0.5)").alias("_mad")
    )
    return (
        dev.join(mad, on=by, how="inner")
        .withColumn(
            "rz",
            F.when(
                F.col("_mad") > 0,
                (F.col(y_col) - F.col("_med"))
                / (F.lit(_MAD_SCALE) * F.col("_mad")),
            ),
        )
        .withColumn("outlier", F.abs(F.col("rz")) > F.lit(float(k)))
        .drop("_med", "_mad")
    )


def burstiness(
    df: DataFrame,
    x_col: str = "ts",
    by: Sequence[str] = ("series_key",),
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Inter-arrival burstiness per series: coefficient of variation
    ``cv = std(delta) / mean(delta)`` of consecutive event gaps, plus the
    bounded Goh-Barabasi burstiness index ``b = (cv - 1) / (cv + 1)``
    (public: Goh & Barabasi 2008, EPL 81).  A Poisson arrival stream has
    cv = 1 / b = 0; a metronome cv = 0 / b = -1; bursty traffic b > 0 —
    the one-number triage for "is this event stream clockwork, random, or
    bursty?" before sessionization or rate alerting.

    100 TB shape: one ROWS lag window per series (the sessionize/gaps
    shuffle, reusable across all of them) and one map-side-combinable
    groupBy; shuffle cardinality = series count.  Zero Python.  Gaps are
    integer epoch-micros differences, so the folds are exact until the
    final two divisions.  Series with < 3 points (< 2 gaps) yield NULL cv
    (stddev_samp of one gap is undefined); an all-simultaneous series
    (mean gap 0) also yields NULL rather than Inf.

    Output: ``by + (n_gaps, mean_gap_us, cv, b)``.
    """
    by = list(by)
    if "timestamp" in dict(df.dtypes).get(x_col, ""):
        us = F.unix_micros(F.col(x_col).cast("timestamp"))
    else:
        us = F.col(x_col).cast("long")
    w = Window.partitionBy(*by).orderBy(
        *_order_cols(x_col, tiebreak)
    )
    gaps = (
        df.withColumn("_us", us)
        .withColumn("_gap", (F.col("_us") - F.lag("_us").over(w)).cast("double"))
        .where(F.col("_gap").isNotNull())
    )
    agg = gaps.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("_gap").alias("mean_gap_us"),
        F.stddev_samp("_gap").alias("_sd"),
    )
    cv = F.when(
        (F.col("n_gaps") >= 2) & (F.col("mean_gap_us") > 0),
        F.col("_sd") / F.col("mean_gap_us"),
    )
    return (
        agg.withColumn("cv", cv)
        .withColumn("b", (F.col("cv") - 1) / (F.col("cv") + 1))
        .select(*by, "n_gaps", "mean_gap_us", "cv", "b")
    )


def psi_drift(
    df: DataFrame,
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("series_key",),
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index per series between the two time halves:
    ``PSI = sum_b (p_b - q_b) * ln(p_b / q_b)`` over ``bins`` equi-width
    value buckets — the binned companion to :func:`ks_drift` (KS reacts to
    the single worst CDF gap; PSI integrates shift across the whole
    distribution, the convention risk/monitoring teams alert on: <0.1
    stable, 0.1-0.25 moderate, >0.25 major).

    Deterministic, engine-portable recipe: the time split is the same
    integer midpoint as ks_drift; buckets use value_histogram's explicit
    ``floor((v - lo)/w)`` clamped rule over the series' WHOLE-range
    [min, max] (both halves binned on one shared grid); and the halves'
    distributions use add-half (Jeffreys) smoothing
    ``p_b = (c_b + 0.5) / (n + 0.5 * bins)`` so a bucket empty in ONE half
    contributes a finite term instead of ln(0); buckets empty in BOTH
    halves are excluded (no data, only smoothing residue) — all spelled
    the same way in the oracle.

    100 TB shape: two tiny per-series groupBys joined back (bounds+mid;
    AQE-broadcast), then ONE (series, bucket)-grained count groupBy and
    ONE per-series fold — shuffle ∝ series x bins, never points.  Zero
    Python.  Output: (by..., psi, n_early, n_late).
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    by = list(by)
    if "timestamp" in dict(df.dtypes).get(x_col, ""):
        us = F.unix_micros(F.col(x_col).cast("timestamp"))
    else:
        us = F.col(x_col).cast("long")
    bounds = df.groupBy(*by).agg(
        F.min(us).alias("_tmn"),
        F.max(us).alias("_tmx"),
        F.min(y_col).alias("_lo"),
        F.max(y_col).alias("_hi"),
    ).withColumn("_mid", F.expr("(_tmn + _tmx) div 2"))
    w = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(y_col) - F.col("_lo")) / w).cast("int"),
            F.lit(bins - 1),
        )
    )
    tagged = (
        df.join(bounds, on=by, how="inner")
        .withColumn("_late", (us > F.col("_mid")).cast("int"))
        .withColumn("_b", bucket)
    )
    cell = tagged.groupBy(*by, "_b").agg(
        F.sum(1 - F.col("_late")).alias("_ce"),
        F.sum("_late").alias("_cl"),
    )
    # per-series totals ride a tiny window over the <= bins rows per series
    wall = Window.partitionBy(*by)
    sm = F.lit(0.5)
    denom_e = F.sum("_ce").over(wall) + sm * F.lit(float(bins))
    denom_l = F.sum("_cl").over(wall) + sm * F.lit(float(bins))
    # Definitional choice, mirrored in the oracle: the sum runs over
    # OCCUPIED buckets (>=1 point in either half).  A bucket empty in both
    # halves never materializes a row; its smoothed term would be the tiny
    # asymmetry ln(denom_l/denom_e)-ish residue of unequal half sizes, pure
    # smoothing noise with no data behind it — excluded by construction.
    p = (F.col("_ce") + sm) / denom_e
    q = (F.col("_cl") + sm) / denom_l
    return (
        cell.withColumn("_term", (p - q) * F.log(p / q))
        .groupBy(*by)
        .agg(
            F.sum("_term").alias("psi"),
            F.sum("_ce").alias("n_early"),
            F.sum("_cl").alias("n_late"),
        )
    )
