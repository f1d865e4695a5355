"""detect_gaps, downsample_tokens_multi, and quantile_tier unit tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.operators.downsample import (
    downsample_tokens,
    downsample_tokens_multi,
)
from tsdownsample_spark.operators.gaps import detect_gaps

ALL5 = ("minmax", "m4", "minmaxlttb", "lttb", "everynth")


# ------------------------------------------------------------- detect_gaps


def test_gaps_numeric_x_matches_numpy(spark):
    rng = np.random.default_rng(5)
    rows = []
    for k in ("a", "b"):
        ts = np.sort(rng.integers(0, 100_000, 500))
        rows += [(k, int(t)) for t in ts]
    df = spark.createDataFrame(rows, "k string, t long")
    out = detect_gaps(df, x_col="t", by=["k"], min_gap=500.0)
    got = {(r["k"], r["gap_start"], r["gap_end"], r["gap_s"]) for r in out.collect()}
    exp = set()
    for k in ("a", "b"):
        ts = np.sort(np.array([t for kk, t in rows if kk == k]))
        d = np.diff(ts)
        for i in np.flatnonzero(d > 500):
            exp.add((k, int(ts[i]), int(ts[i + 1]), float(d[i])))
    assert got == exp


def test_gaps_null_ts_ignored_and_strict_threshold(spark):
    df = spark.createDataFrame(
        [("a", 0), ("a", None), ("a", 10), ("a", 30)], "k string, t long"
    )
    out = detect_gaps(df, x_col="t", by=["k"], min_gap=10.0).collect()
    # 0->10 is exactly 10: strictly-greater excluded; 10->30 reported;
    # the NULL row neither breaks pairing nor appears as an endpoint
    assert [(r["gap_start"], r["gap_end"], r["gap_s"]) for r in out] == [(10, 30, 20.0)]


def test_gaps_timestamp_seconds(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00"), ("a", "2024-01-01 00:02:30")],
        "k string, s string",
    ).select("k", F.col("s").cast("timestamp").alias("ts"))
    out = detect_gaps(df, x_col="ts", by=["k"], min_gap=60.0).collect()
    assert len(out) == 1 and out[0]["gap_s"] == 150.0


# ------------------------------------------- downsample_tokens_multi


def _tok_df(spark, seed=3, n=60):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        ln = int(rng.integers(2, 300))
        rows.append((f"d{i:03d}", rng.integers(0, 50_000, ln).astype("int32").tolist()))
    rows.append(("dnull", None))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "tokens"]),
        "doc_id string, tokens array<int>",
    )


def test_multi_matches_per_algo_single_runs(spark):
    df = _tok_df(spark)
    multi = (
        downsample_tokens_multi(df, 20, algos=ALL5, output="select")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for algo in ALL5:
        single = (
            downsample_tokens(df, 20, algo=algo, output="select")
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        for doc in single.index:
            s, m = single.loc[doc], multi.loc[doc]
            if s["sel_idx"] is None:
                assert m[f"sel_idx_{algo}"] is None
                continue
            assert np.array_equal(s["sel_idx"], m[f"sel_idx_{algo}"]), (algo, doc)
            assert np.array_equal(s["sel_tokens"], m[f"sel_tokens_{algo}"]), (algo, doc)


def test_multi_append_mode_keeps_tokens(spark):
    df = _tok_df(spark, n=10)
    out = downsample_tokens_multi(df, 8, algos=("minmax", "everynth"), output="append")
    assert "tokens" in out.columns
    assert "sel_idx_minmax" in out.columns and "sel_idx_everynth" in out.columns
    assert "sel_tokens_minmax" not in out.columns
    row = out.filter(F.col("doc_id") == "d003").collect()[0]
    assert row["sel_idx_minmax"] is not None


def test_multi_validation(spark):
    df = _tok_df(spark, n=3)
    with pytest.raises(ValueError, match="non-empty"):
        downsample_tokens_multi(df, 8, algos=())
    with pytest.raises(ValueError, match="duplicate"):
        downsample_tokens_multi(df, 8, algos=("minmax", "minmax"))
    with pytest.raises(ValueError, match="multiple of 4"):
        downsample_tokens_multi(df, 10, algos=("m4",))
    with pytest.raises(ValueError, match="already exists"):
        downsample_tokens_multi(
            df.withColumn("sel_idx_minmax", F.lit(1)), 8, algos=("minmax",)
        )


# ------------------------------------------------------- quantile_tier


def test_quantile_tier_exact_matches_numpy(spark):
    from tsdownsample_spark.operators.rollup import quantile_tier

    rng = np.random.default_rng(9)
    base = pd.Timestamp("2024-03-01")
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 2000),
            "ts": base + pd.to_timedelta(rng.integers(0, 3 * 3600, 2000), unit="s"),
            "value": rng.normal(size=2000),
        }
    )
    out = quantile_tier(
        spark.createDataFrame(pdf), tier="1h", x_col="ts", y_col="value",
        by=["k"], ps=(0.5, 0.95), exact=True,
    ).toPandas()
    for _, r in out.iterrows():
        grp = pdf[(pdf["k"] == r["k"]) & (pdf["ts"].dt.floor("h") == r["bucket_ts"])]
        assert r["agg_cnt"] == len(grp)
        # np.quantile 'linear' is the same interpolation rule
        assert r["p_50"] == pytest.approx(np.quantile(grp["value"], 0.5), abs=1e-12)
        assert r["p_95"] == pytest.approx(np.quantile(grp["value"], 0.95), abs=1e-12)


def test_quantile_tier_approx_is_mergeable_and_close(spark):
    from tsdownsample_spark.operators.rollup import quantile_tier

    rng = np.random.default_rng(17)
    base = pd.Timestamp("2024-03-01")
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5000,
            "ts": base + pd.to_timedelta(rng.integers(0, 60, 5000), unit="s"),
            "value": rng.normal(size=5000),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)  # force multi-partition merge
    out = quantile_tier(
        df, tier="1m", x_col="ts", y_col="value", by=["k"],
        ps=(0.5,), exact=False, accuracy=10_000,
    )
    # the sketch must be map-side combined (partial_approx_percentile),
    # i.e. bounded state per task — the 100 TB requirement
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_percentile" in plan
    got = out.collect()[0]["p_50"]
    assert abs(got - np.quantile(pdf["value"], 0.5)) < 0.05


# ------------------------------------------- counter_rate / time_weighted_avg


def test_counter_rate_reset_rule(spark):
    from tsdownsample_spark.operators.rate import counter_rate

    df = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 10, 25.0), ("a", 20, 5.0), ("a", 25, 8.0)],
        "k string, t long, value double",
    )
    out = {r["t"]: r for r in
           counter_rate(df, x_col="t", y_col="value", by=["k"]).collect()}
    assert out[0]["delta"] is None and out[0]["rate_s"] is None
    assert out[10]["delta"] == 15.0 and out[10]["rate_s"] == 1.5
    # reset: 25 -> 5 means the counter restarted; increase = raw value
    assert out[20]["delta"] == 5.0 and out[20]["rate_s"] == 0.5
    assert out[25]["delta"] == 3.0 and out[25]["rate_s"] == pytest.approx(0.6)
    # resets off: raw (negative) delta, rate still emitted
    raw = {r["t"]: r for r in
           counter_rate(df, x_col="t", y_col="value", by=["k"],
                        handle_resets=False).collect()}
    assert raw[20]["delta"] == -20.0 and raw[20]["rate_s"] == -2.0


def test_counter_rate_duplicate_ts_no_divzero(spark):
    from tsdownsample_spark.operators.rate import counter_rate

    df = spark.createDataFrame(
        [("a", 5, 1, 1.0), ("a", 5, 2, 4.0), ("a", 6, 3, 6.0)],
        "k string, t long, uid long, value double",
    )
    out = {r["value"]: r for r in
           counter_rate(df, x_col="t", y_col="value", by=["k"],
                        tiebreak=["uid"]).collect()}
    # dt == 0 between the two t=5 rows: delta defined, rate NULL (no div/0)
    assert out[4.0]["delta"] == 3.0 and out[4.0]["rate_s"] is None
    assert out[6.0]["delta"] == 2.0 and out[6.0]["rate_s"] == 2.0


def test_time_weighted_avg_vs_manual(spark):
    from tsdownsample_spark.operators.rate import time_weighted_avg

    base = pd.Timestamp("2024-05-01 00:00:00")
    rows = [
        ("a", base.to_pydatetime(), 10.0),                            # held 60 s
        ("a", (base + pd.Timedelta(seconds=60)).to_pydatetime(), 20.0),   # 2940 s
        ("a", (base + pd.Timedelta(seconds=3000)).to_pydatetime(), 40.0), # no weight
        ("a", (base + pd.Timedelta(hours=2)).to_pydatetime(), 7.0),   # lone: NULL
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {r["bucket_ts"]: r for r in
           time_weighted_avg(df, tier="1h", x_col="ts", y_col="value",
                             by=["k"]).collect()}
    b0 = out[base.to_pydatetime()]
    exp = (10.0 * 60 + 20.0 * 2940) / 3000
    assert b0["twa"] == pytest.approx(exp, rel=1e-12)
    assert b0["w_s"] == 3000.0
    lone = out[(base + pd.Timedelta(hours=2)).to_pydatetime()]
    assert lone["twa"] is None and lone["w_s"] is None


def test_multi_plan_is_single_pass_no_shuffle(spark):
    """One narrow mapInArrow: no Exchange, and the scan appears ONCE (the
    whole point — k selectors must not rescan the source k times)."""
    df = _tok_df(spark, n=10)
    out = downsample_tokens_multi(df, 8, algos=ALL5, output="select")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") <= 1  # mapInArrow shows as MapInArrow
    assert plan.count("MapInArrow") == 1


# ------------------------------------------------------- downsample_error


def test_downsample_error_zero_on_selected_and_identity(spark):
    from pyspark.sql import Window

    from tsdownsample_spark.operators.evaluate import downsample_error

    rng = np.random.default_rng(21)
    vals = rng.normal(size=200)
    ranked = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(vals)],
        "k string, rn long, value double",
    )
    # select EVERY point -> perfect reconstruction
    sel_all = ranked.select("k", F.col("rn").alias("sel_idx"))
    r = downsample_error(ranked, sel_all, by=["k"], x_col="rn",
                         y_col="value").collect()[0]
    assert r["n"] == 200 and r["n_sel"] == 200
    assert r["max_abs_err"] == 0.0 and r["mean_abs_err_r"] == 0.0
    # per-point mode: selected rows reconstruct exactly
    sel_some = ranked.where(F.col("rn") % 10 == 0).select(
        "k", F.col("rn").alias("sel_idx")
    )
    pp = downsample_error(ranked, sel_some, by=["k"], x_col="rn",
                          y_col="value", per_point=True)
    sel_rows = pp.where(F.col("_is_sel")).collect()
    assert len(sel_rows) == 20
    assert all(row["abs_err"] == 0.0 for row in sel_rows)


def test_downsample_error_improves_with_n_out(spark):
    """More selected points must not reconstruct worse (MinMax selections
    at n_out 20 vs 100 over a rough random walk)."""
    from tsdownsample_spark.operators import sql_selectors as S
    from tsdownsample_spark.operators.evaluate import downsample_error

    rng = np.random.default_rng(33)
    vals = np.cumsum(rng.normal(size=3000))
    ranked = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(vals)],
        "k string, rn long, value double",
    )
    errs = {}
    for n_out in (20, 100):
        sel = S.minmax_long(
            ranked.select("k", F.col("rn").alias("ts"), F.col("value")),
            n_out, order=["ts"], by=["k"], y_col="value",
        ).select("k", "sel_idx")
        r = downsample_error(ranked, sel, by=["k"], x_col="rn",
                             y_col="value").collect()[0]
        errs[n_out] = (r["max_abs_err"], r["mean_abs_err_r"], r["n_sel"])
    assert errs[20][2] == 20 and errs[100][2] == 100
    assert errs[100][0] <= errs[20][0]
    assert errs[100][1] <= errs[20][1]


# ------------------------------------------- downsample_tokens_pyramid


def test_pyramid_matches_per_level_single_runs(spark):
    from tsdownsample_spark.operators.downsample import downsample_tokens_pyramid

    df = _tok_df(spark, seed=7)
    levels = (8, 20, 100)
    pyr = (
        downsample_tokens_pyramid(df, levels, algo="minmax", output="select")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for n in levels:
        single = (
            downsample_tokens(df, n, algo="minmax", output="select")
            .toPandas()
            .set_index("doc_id")
            .sort_index()
        )
        for doc in single.index:
            s, m = single.loc[doc], pyr.loc[doc]
            if s["sel_idx"] is None:
                assert m[f"sel_idx_{n}"] is None
                continue
            assert np.array_equal(s["sel_idx"], m[f"sel_idx_{n}"]), (n, doc)
            assert np.array_equal(s["sel_tokens"], m[f"sel_tokens_{n}"]), (n, doc)


def test_pyramid_validation_and_plan(spark):
    from tsdownsample_spark.operators.downsample import downsample_tokens_pyramid

    df = _tok_df(spark, n=5)
    with pytest.raises(ValueError, match="non-empty"):
        downsample_tokens_pyramid(df, ())
    with pytest.raises(ValueError, match="duplicate"):
        downsample_tokens_pyramid(df, (8, 8))
    out = downsample_tokens_pyramid(df, (8, 20), algo="minmax")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and plan.count("MapInArrow") == 1


# ------------------------------------------------------------- sessionize


def test_sessionize_boundary_rule_and_gap_duality(spark):
    from tsdownsample_spark.operators.gaps import sessionize

    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("a", "2024-01-01 00:05:00"),   # exactly gap apart: EXTENDS
        ("a", "2024-01-01 00:10:00.000001"),  # 1us over: NEW session
        ("a", "2024-01-01 01:00:00"),
        ("b", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "k string, s string").select(
        "k", F.col("s").cast("timestamp").alias("ts")
    )
    out = sessionize(df, x_col="ts", by=["k"], gap="5 minutes")
    got = sorted(
        (r["k"], str(r["session_start"]), r["n_events"], r["duration_s"])
        for r in out.collect()
    )
    assert got == [
        ("a", "2024-01-01 00:00:00", 2, 300.0),
        ("a", "2024-01-01 00:10:00.000001", 1, 0.0),
        ("a", "2024-01-01 01:00:00", 1, 0.0),
        ("b", "2024-01-01 00:00:00", 1, 0.0),
    ]
    # duality: sessions per series == gaps-over-threshold + 1
    from tsdownsample_spark.operators.gaps import detect_gaps

    n_gaps = detect_gaps(df, x_col="ts", by=["k"], min_gap=300.0).count()
    assert out.count() == n_gaps + df.select("k").distinct().count()


def test_sessionize_durations_under_timestamp_ntz_session(spark):
    """Session durations under ``spark.sql.timestampType=TIMESTAMP_NTZ``
    equal the default session's (the duration's microsecond cast names
    TIMESTAMP_LTZ; a bare "timestamp" cast fails DATATYPE_MISMATCH)."""
    from conftest import timestamp_type

    from tsdownsample_spark.operators.gaps import sessionize

    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("a", "2024-01-01 00:04:59.5"),
        ("a", "2024-01-01 00:09:00"),
        ("a", "2024-01-01 02:00:00"),
        ("b", "2024-01-01 00:00:00"),
        ("b", "2024-01-01 00:00:00.000001"),
    ]

    def durations():
        df = spark.createDataFrame(rows, "k string, s string").select(
            "k", F.col("s").cast("timestamp").alias("ts")
        )
        out = sessionize(df, x_col="ts", by=["k"], gap="5 minutes")
        return dict(df.dtypes)["ts"], sorted(
            (r["k"], r["n_events"], r["duration_s"]) for r in out.collect()
        )

    ltz_type, ltz = durations()
    with timestamp_type(spark, "TIMESTAMP_NTZ"):
        ntz_type, ntz = durations()
    assert (ltz_type, ntz_type) == ("timestamp", "timestamp_ntz")
    assert ntz == ltz == [
        ("a", 1, 0.0), ("a", 3, 540.0), ("b", 2, 1e-06),
    ]


# ------------------------------------------------------- rolling_zscore


def test_rolling_zscore_flags_injected_spike(spark):
    from tsdownsample_spark.operators.anomaly import rolling_zscore

    rng = np.random.default_rng(41)
    vals = rng.normal(0, 1, 300)
    vals[200] = 15.0  # unmistakable spike
    df = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(vals)],
        "k string, t long, value double",
    )
    out = rolling_zscore(df, x_col="t", y_col="value", by=["k"], window=50,
                         threshold=3.0, min_obs=10)
    rows = {r["t"]: r for r in out.collect()}
    # the spike is flagged; z matches a trailing-window numpy derivation
    assert rows[200]["is_anomaly"] is True
    w = vals[150:200]
    exp_z = (15.0 - w.mean()) / w.std(ddof=1)
    assert rows[200]["z"] == pytest.approx(exp_z, rel=1e-9)
    # warm-up rows (< min_obs priors) score nothing
    assert rows[0]["z"] is None and rows[0]["is_anomaly"] is None
    assert rows[9]["z"] is None and rows[10]["z"] is not None
    # ordinary rows are not flagged en masse
    flagged = sum(1 for r in rows.values() if r["is_anomaly"])
    assert flagged <= 4


def test_rolling_zscore_constant_window_scores_nothing(spark):
    from tsdownsample_spark.operators.anomaly import rolling_zscore

    df = spark.createDataFrame(
        [("a", i, 5.0) for i in range(40)] + [("a", 40, 9.0)],
        "k string, t long, value double",
    )
    out = {r["t"]: r for r in
           rolling_zscore(df, x_col="t", y_col="value", by=["k"], window=20,
                          min_obs=5).collect()}
    # zero-variance trailing window: NULL z even for the deviating point
    assert out[40]["z"] is None and out[40]["is_anomaly"] is None
    with pytest.raises(ValueError, match=">= 2"):
        rolling_zscore(df, window=1, by=["k"], x_col="t", y_col="value")


def test_sessionize_oracle_agrees_on_duplicate_ts_at_boundary(spark):
    """The review-flagged latent tie: duplicate (key, ts) rows AT a session
    boundary.  Spark's session_window decides membership from ts values
    alone; the DuckDB oracle re-derives via lag + cumulative sum — with the
    event_id tiebreak on BOTH its windows, equal-ts rows stay in one
    session.  Crafted input pins the agreement the sf fixtures never
    exercise (their microsecond timestamps do not collide)."""
    import duckdb
    import pandas as pd

    from tsdownsample_spark.operators.gaps import sessionize
    from tsdownsample_spark.queries import _GAP_S, _ORACLE_SESSIONIZE

    base = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    for off_s, n_dup in [(0, 1), (60, 2), (5000, 3), (5000 + 30, 1), (12000, 2)]:
        for _ in range(n_dup):
            rows.append(
                ("a", (base + pd.Timedelta(seconds=off_s)).to_pydatetime(),
                 float(eid), eid)
            )
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_type", "ts", "value", "event_id"])
    df = spark.createDataFrame(pdf)
    got = sorted(
        (r["event_type"], r["session_start"], r["session_end"], r["n_events"],
         r["duration_s"])
        for r in sessionize(df, x_col="ts", by=["event_type"],
                            gap=f"{int(_GAP_S)} seconds").collect()
    )
    con = duckdb.connect()
    con.register("events", pdf)
    exp = sorted(tuple(r) for r in con.sql(_ORACLE_SESSIONIZE).fetchall())
    assert got == exp
    # shape sanity: dup rows at 5000s sit in the second session together
    assert [g[3] for g in got] == [3, 4, 2]


def test_rolling_zscore_prefix_impl_matches_frame(spark):
    """The O(n) prefix-sum impl agrees with the exact O(n*window) frame
    impl to float tolerance on every output column, including NULL
    placement (warm-up rows, NULL y, zero-variance windows)."""
    from tsdownsample_spark.operators.anomaly import rolling_zscore

    rng = np.random.default_rng(43)
    rows = []
    for k in ("a", "b", "c"):
        vals = rng.normal(5.0, 2.0, 400)
        vals[150] = 60.0
        for i, v in enumerate(vals):
            # sprinkle NULL y and a constant stretch into one series
            if k == "b" and 40 <= i < 70:
                v = 7.0
            rows.append((k, i, None if (k == "c" and i % 17 == 0) else float(v)))
    df = spark.createDataFrame(rows, "k string, t long, value double")
    kw = dict(x_col="t", y_col="value", by=["k"], window=50, min_obs=10)
    a = rolling_zscore(df, impl="frame", **kw).collect()
    b = rolling_zscore(df, impl="prefix", **kw).collect()
    key = lambda r: (r["k"], r["t"])
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        for col in ("roll_mean", "roll_std", "z"):
            va, vb = ra[col], rb[col]
            assert (va is None) == (vb is None), (ra, col)
            if va is not None:
                assert vb == pytest.approx(va, rel=1e-7, abs=1e-9), (ra, col)
        assert ra["is_anomaly"] == rb["is_anomaly"], ra
    with pytest.raises(ValueError, match="impl"):
        rolling_zscore(df, impl="nope", **kw)
