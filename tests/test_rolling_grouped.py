"""r6 grouped-kernel parity: the impl="grouped" exact vectorized kernels
(operators/rolling.py, operators/anomaly.py) against the JVM frame forms
on adversarial shapes — nulls, duplicate timestamps (peer-inclusive RANGE
frames), constant (zero-variance) frames, and chunk boundaries (the
span-overlap shipping must reproduce exact frames across chunk edges).

Equality contract: counts / distinct / min / max / NULL positions are
EXACT; sum-family floats agree to 1e-9 relative (summation-order slack,
absorbed by every contract row's rounding grid)."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from pyspark.sql import functions as F


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


ROWS = [
    # series a: dense, includes duplicate timestamps (peers) and a null y
    ("a", _ts(0), 1.0, "u1"),
    ("a", _ts(10), 2.0, "u2"),
    ("a", _ts(10), 3.0, "u1"),      # peer at the same instant
    ("a", _ts(25), None, None),     # null y / null user
    ("a", _ts(40), 4.0, "u3"),
    ("a", _ts(70), 2.0, "u1"),
    ("a", _ts(200), 5.0, "u4"),     # isolated -> single-row frames
    ("a", _ts(210), 5.0, "u4"),
    # series b: constant values (zero-variance frames)
    ("b", _ts(0), 7.0, "u1"),
    ("b", _ts(5), 7.0, "u1"),
    ("b", _ts(9), 7.0, "u2"),
    # series c: single row
    ("c", _ts(3), -1.5, "u9"),
]
# rows spanning several 4x-span chunks (span=30s -> chunk=120s; series a
# crosses the t=120 boundary via the 200/210s rows)


def _mk(spark):
    return spark.createDataFrame(
        ROWS, "series_key string, ts timestamp, value double, user_id string"
    )


def _cmp(frame_rows, grouped_rows, float_cols, exact_cols, key):
    fr = {key(r): r for r in frame_rows}
    gr = {key(r): r for r in grouped_rows}
    assert set(fr) == set(gr)
    for k, a in fr.items():
        b = gr[k]
        for c in exact_cols:
            assert a[c] == b[c], (k, c, a[c], b[c])
        for c in float_cols:
            av, bv = a[c], b[c]
            assert (av is None) == (bv is None), (k, c, av, bv)
            if av is not None:
                assert av == pytest.approx(bv, rel=1e-9, abs=1e-12), (k, c)


def test_stats_grouped_matches_frame(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_stats

    df = _mk(spark)
    kw = dict(x_col="ts", y_col="value", by=["series_key"],
              duration="30 seconds", min_obs=2)
    a = rolling_time_stats(df, impl="frame", **kw).collect()
    b = rolling_time_stats(df, impl="grouped", **kw).collect()
    _cmp(a, b,
         float_cols=["roll_sum", "roll_mean", "roll_std"],
         exact_cols=["roll_n", "roll_min", "roll_max"],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_stats_grouped_constant_frame_exact_zero_std(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_stats

    df = _mk(spark).where("series_key = 'b'")
    out = rolling_time_stats(
        df, x_col="ts", y_col="value", by=["series_key"],
        duration="30 seconds", min_obs=2, impl="grouped",
    ).orderBy("ts").collect()
    # constant frames: std must be EXACTLY 0.0 (engines' central moments
    # are exact there; clamped prefix residue would sqrt to ~1e-10)
    assert [r["roll_std"] for r in out][1:] == [0.0, 0.0]


def test_stats_grouped_matches_prefix(spark):
    # q_rolling_prefix moved to impl="grouped" in r6: pin grouped ==
    # prefix on the adversarial fixture (peers, nulls, constant frames,
    # chunk boundaries).  count/min/max exact; sum family to the same
    # 1e-9 slack every contract row's rounding grid absorbs.
    from tsdownsample_spark.operators.rolling import rolling_time_stats

    df = _mk(spark)
    kw = dict(x_col="ts", y_col="value", by=["series_key"],
              duration="30 seconds", min_obs=2)
    a = rolling_time_stats(df, impl="prefix", **kw).collect()
    b = rolling_time_stats(df, impl="grouped", **kw).collect()
    _cmp(a, b,
         float_cols=["roll_sum", "roll_mean", "roll_std"],
         exact_cols=["roll_n", "roll_min", "roll_max"],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_quantile_grouped_matches_frame(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_quantile

    df = _mk(spark)
    kw = dict(x_col="ts", y_col="value", by=["series_key"],
              duration="30 seconds", qs=(0.25, 0.5), min_obs=1)
    a = rolling_time_quantile(df, impl="frame", **kw).collect()
    b = rolling_time_quantile(df, impl="grouped", **kw).collect()
    _cmp(a, b, float_cols=["roll_q25", "roll_q50"], exact_cols=[],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_distinct_grouped_matches_frame(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_distinct

    df = _mk(spark)
    kw = dict(x_col="ts", y_col="user_id", by=["series_key"],
              duration="30 seconds")
    a = rolling_time_distinct(df, impl="frame", **kw).collect()
    b = rolling_time_distinct(df, impl="grouped", **kw).collect()
    _cmp(a, b, float_cols=[], exact_cols=["roll_distinct"],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_regr_grouped_matches_frame(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_regr

    df = _mk(spark)
    kw = dict(x_col="ts", y_col="value", by=["series_key"],
              duration="30 seconds", min_obs=2)
    a = rolling_time_regr(df, impl="frame", **kw).collect()
    b = rolling_time_regr(df, impl="grouped", **kw).collect()
    # zero-x-variance (all-peer) and zero-y-variance frames must agree on
    # NULL/1.0 edges exactly; sloped frames to float tolerance
    _cmp(a, b,
         float_cols=["roll_slope", "roll_intercept", "roll_r2"],
         exact_cols=[],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_zscore_grouped_matches_frame(spark):
    from tsdownsample_spark.operators.anomaly import rolling_zscore

    df = _mk(spark).withColumn("event_id", F.monotonically_increasing_id())
    kw = dict(x_col="ts", y_col="value", by=["series_key"], window=3,
              threshold=1.0, tiebreak=["event_id"], min_obs=2)
    a = rolling_zscore(df, impl="frame", **kw).collect()
    b = rolling_zscore(df, impl="grouped", **kw).collect()
    _cmp(a, b,
         float_cols=["roll_mean", "roll_std", "z"],
         exact_cols=["is_anomaly"],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_grouped_chunk_boundary_frames(spark):
    """Rows just after a chunk boundary must still see back-shipped rows
    from the previous chunk (span=10s -> chunk width 40s; the t=41..45
    rows' frames reach back across t=40)."""
    from tsdownsample_spark.operators.rolling import rolling_time_stats

    rows = [("a", _ts(s), float(s)) for s in (35, 38, 41, 44, 45, 81)]
    df = spark.createDataFrame(
        rows, "series_key string, ts timestamp, value double"
    )
    kw = dict(x_col="ts", y_col="value", by=["series_key"],
              duration="10 seconds", min_obs=1)
    a = {r["ts"]: r for r in rolling_time_stats(df, impl="frame", **kw).collect()}
    b = {r["ts"]: r for r in rolling_time_stats(df, impl="grouped", **kw).collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["roll_n"] == b[k]["roll_n"]
        assert a[k]["roll_min"] == b[k]["roll_min"]
        assert a[k]["roll_sum"] == pytest.approx(b[k]["roll_sum"], rel=1e-12)
    # sanity: the t=45 frame [35, 45] spans the 40s chunk edge and holds
    # every row shipped across it
    assert b[_ts(45)]["roll_n"] == 5


def test_regr_grouped_multiblock_matches_frame(spark):
    """Dense fixture whose frames span many 64-position blocks, so the
    blocked Chan-merge path (suffix + full blocks + prefix) is exercised,
    not just the single-block gather fallback."""
    import random

    from tsdownsample_spark.operators.rolling import rolling_time_regr

    rng = random.Random(7)
    rows = []
    for s in range(400):
        t = s * 2 + rng.randrange(2)  # ~0.5 Hz, duplicate-prone
        v = None if s % 37 == 0 else round(rng.uniform(0, 50), 2)
        rows.append(("a", _ts(t), v))
    df = spark.createDataFrame(
        rows, "series_key string, ts timestamp, value double"
    )
    kw = dict(x_col="ts", y_col="value", by=["series_key"],
              duration="300 seconds", min_obs=3)  # ~150-row frames
    a = rolling_time_regr(df, impl="frame", **kw).collect()
    b = rolling_time_regr(df, impl="grouped", **kw).collect()
    _cmp(a, b,
         float_cols=["roll_slope", "roll_intercept", "roll_r2"],
         exact_cols=[],
         key=lambda r: (r["series_key"], r["ts"], r["value"]))


def test_grouped_forms_under_dst_session_time_zone(spark):
    """The grouped kernels read the time axis as UTC microseconds, as the
    chunk column is computed: under a non-UTC session time zone, 400
    five-minute points across the 2024-03-10 US DST switch come back as
    the same 400 rows and values as ``impl="frame"`` (a kernel that read
    the session-local wall clock dropped rows of the own-chunk filter)."""
    from tsdownsample_spark.operators.rolling import (
        rolling_time_distinct,
        rolling_time_quantile,
        rolling_time_regr,
        rolling_time_stats,
    )

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 2024-03-10 02:00 EST -> 03:00 EDT is 07:00 UTC; start 16 h before
        start_us = 1710054000 * 10**6 - 16 * 3600 * 10**6
        df = spark.range(400).selectExpr(
            "CAST(id % 2 AS STRING) AS series_key",
            f"timestamp_micros({start_us} + id * 300000000) AS ts",
            "CAST((id * 7919) % 101 AS DOUBLE) / 10 AS value",
            "CONCAT('u', CAST((id * 31) % 9 AS STRING)) AS user_id",
        )
        base = dict(x_col="ts", by=["series_key"], duration="30 minutes")
        key = lambda r: (r["series_key"], r["ts"], r["value"])  # noqa: E731
        cases = [
            (rolling_time_stats, dict(y_col="value", min_obs=1),
             ["roll_sum", "roll_mean", "roll_std"], ["roll_n", "roll_min", "roll_max"]),
            (rolling_time_distinct, dict(y_col="user_id"), [], ["roll_distinct"]),
            (rolling_time_quantile, dict(y_col="value", qs=(0.25, 0.5), min_obs=1),
             ["roll_q25", "roll_q50"], []),
            (rolling_time_regr, dict(y_col="value", min_obs=2),
             ["roll_slope", "roll_intercept", "roll_r2"], []),
        ]
        for fn, kw, float_cols, exact_cols in cases:
            a = fn(df, impl="frame", **base, **kw).collect()
            b = fn(df, impl="grouped", **base, **kw).collect()
            assert len(a) == len(b) == 400, (fn.__name__, len(a), len(b))
            _cmp(a, b, float_cols=float_cols, exact_cols=exact_cols, key=key)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
