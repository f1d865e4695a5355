"""rolling_time_stats: trailing time-RANGE window aggregates.

Naive-oracle checks (pandas replay of the frame definition), edge
semantics (peer inclusion, include_current, min_obs, NULL y, numeric x),
parser validation, and the plan audit (one Exchange, zero Python).
"""

import datetime as dt
import math

import pytest
from conftest import timestamp_type

from tsdownsample_spark.operators.rolling import (
    duration_to_micros,
    rolling_time_distinct,
    rolling_time_quantile,
    rolling_time_stats,
)

T0 = dt.datetime(2024, 1, 1)


def _ts(sec):
    return T0 + dt.timedelta(seconds=sec)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, ts timestamp, value double")


def _naive(rows, span_s, include_current=True, min_obs=1):
    """Replay the frame definition row by row (O(n^2), fine for tests)."""
    out = {}
    for k, t, v in rows:
        frame = []
        for k2, t2, v2 in rows:
            if k2 != k or v2 is None:
                continue
            d = (t - t2).total_seconds()
            if include_current:
                if 0 <= d <= span_s:
                    frame.append(v2)
            else:
                if 0 < d <= span_s:
                    frame.append(v2)
        n = len(frame)
        if n >= min_obs and n > 0:
            mean = sum(frame) / n
            var = (
                sum((x - mean) ** 2 for x in frame) / (n - 1) if n > 1 else None
            )
            out[(k, t, v)] = (
                n,
                sum(frame),
                min(frame),
                max(frame),
                math.sqrt(var) if var is not None else None,
            )
        else:
            out[(k, t, v)] = (n, None, None, None, None)
    return out


ROWS = [
    ("a", _ts(0), 1.0),
    ("a", _ts(30), 3.0),
    ("a", _ts(60), 5.0),
    ("a", _ts(61), None),  # NULL y: scored but contributes nothing
    ("a", _ts(200), 7.0),  # isolated: frame = itself only
    ("b", _ts(0), 10.0),
    ("b", _ts(0), 20.0),  # duplicate ts peer
    ("b", _ts(59), 30.0),
]


def test_matches_naive_inclusive(spark):
    got = rolling_time_stats(
        _mk(spark, ROWS), x_col="ts", y_col="value", by=["k"],
        duration="1 minute",
    ).collect()
    exp = _naive(ROWS, 60)
    assert len(got) == len(ROWS)
    for r in got:
        n, s, lo, hi, sd = exp[(r["k"], r["ts"], r["value"])]
        assert r["roll_n"] == n
        assert r["roll_sum"] == pytest.approx(s) if s is not None else r["roll_sum"] is None
        assert r["roll_min"] == lo and r["roll_max"] == hi
        if sd is None:
            assert r["roll_std"] is None
        else:
            assert r["roll_std"] == pytest.approx(sd)


def test_duplicate_ts_peers_share_frames(spark):
    """RANGE frames are peer-inclusive: both b-rows at t=0 see BOTH values,
    making the result deterministic without a tiebreak column."""
    got = {
        (r["k"], r["value"]): r
        for r in rolling_time_stats(
            _mk(spark, ROWS), by=["k"], duration="1 minute"
        ).collect()
    }
    for v in (10.0, 20.0):
        r = got[("b", v)]
        assert r["roll_n"] == 2 and r["roll_sum"] == 30.0
        assert r["roll_min"] == 10.0 and r["roll_max"] == 20.0
    # the t=59 row covers all three
    assert got[("b", 30.0)]["roll_n"] == 3


def test_exclude_current(spark):
    """include_current=False: strictly-earlier frame — excludes the row
    itself AND its same-ts peers."""
    got = {
        (r["k"], r["ts"], r["value"]): r
        for r in rolling_time_stats(
            _mk(spark, ROWS), by=["k"], duration="1 minute",
            include_current=False,
        ).collect()
    }
    exp = _naive(ROWS, 60, include_current=False)
    for key, (n, s, lo, hi, sd) in exp.items():
        r = got[key]
        assert r["roll_n"] == n
        assert (r["roll_sum"] is None) == (s is None)
        if s is not None:
            assert r["roll_sum"] == pytest.approx(s)
    # both duplicate-ts b rows have EMPTY strict frames
    assert got[("b", _ts(0), 10.0)]["roll_n"] == 0
    assert got[("b", _ts(0), 20.0)]["roll_n"] == 0


def test_min_obs_gates_stats_not_count(spark):
    got = {
        (r["k"], r["ts"]): r
        for r in rolling_time_stats(
            _mk(spark, ROWS), by=["k"], duration="1 minute", min_obs=3
        ).collect()
    }
    r = got[("a", _ts(30))]  # frame = {1,3}: n=2 < 3
    assert r["roll_n"] == 2 and r["roll_sum"] is None and r["roll_mean"] is None
    r = got[("a", _ts(60))]  # frame = {1,3,5}: n=3
    assert r["roll_n"] == 3 and r["roll_sum"] == 9.0


def test_null_y_scored_but_inert(spark):
    got = {
        (r["k"], r["ts"]): r
        for r in rolling_time_stats(
            _mk(spark, ROWS), by=["k"], duration="1 minute"
        ).collect()
    }
    r = got[("a", _ts(61))]
    assert r["value"] is None
    # frame [t-60s, t] = [1, 61]: covers {3, 5}; t=0 ages out, itself inert
    assert r["roll_n"] == 2 and r["roll_sum"] == 8.0


def test_numeric_x_axis(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 1.0), ("a", 5.0, 2.0), ("a", 9.0, 4.0), ("a", 20.0, 8.0)],
        "k string, x double, value double",
    )
    got = {
        r["x"]: r
        for r in rolling_time_stats(
            df, x_col="x", y_col="value", by=["k"], duration="10"
        ).collect()
    }
    assert got[9.0]["roll_n"] == 3 and got[9.0]["roll_sum"] == 7.0
    assert got[20.0]["roll_n"] == 1 and got[20.0]["roll_sum"] == 8.0


def test_duration_parser():
    assert duration_to_micros("5 minutes") == 300_000_000
    assert duration_to_micros("1 hour") == 3_600_000_000
    assert duration_to_micros("30 seconds") == 30_000_000
    assert duration_to_micros("2 days") == 172_800_000_000
    assert duration_to_micros("250 milliseconds") == 250_000
    for bad in ("1 month", "-5 minutes", "0 seconds", "five minutes", ""):
        with pytest.raises(ValueError):
            duration_to_micros(bad)


def test_min_obs_validation(spark):
    with pytest.raises(ValueError, match="min_obs"):
        rolling_time_stats(_mk(spark, ROWS), by=["k"], min_obs=0)


def test_plan_one_exchange_zero_python(spark):
    out = rolling_time_stats(_mk(spark, ROWS), by=["k"], duration="1 hour")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one shuffle on the series key, one Window stage
    assert plan.count("Exchange") <= 2  # key exchange (+ AQE artifacts)
    assert "Window" in plan


def _naive_quantile(vals, q):
    """numpy-'linear' / QUANTILE_CONT interpolation."""
    s = sorted(vals)
    if not s:
        return None
    pos = q * (len(s) - 1)
    lo, frac = int(math.floor(pos)), pos - math.floor(pos)
    if frac == 0:
        return s[lo]
    return s[lo] * (1 - frac) + s[lo + 1] * frac


def test_quantile_matches_naive(spark):
    got = {
        (r["k"], r["ts"], r["value"]): r
        for r in rolling_time_quantile(
            _mk(spark, ROWS), by=["k"], duration="1 minute", qs=(0.5, 0.9)
        ).collect()
    }
    for k, t, v in ROWS:
        frame = [
            v2
            for k2, t2, v2 in ROWS
            if k2 == k and v2 is not None and 0 <= (t - t2).total_seconds() <= 60
        ]
        r = got[(k, t, v)]
        for q, col in ((0.5, "roll_q50"), (0.9, "roll_q90")):
            exp = _naive_quantile(frame, q)
            if exp is None:
                assert r[col] is None
            else:
                assert r[col] == pytest.approx(exp), (k, t, q)


def test_quantile_min_obs_and_colnames(spark):
    out = rolling_time_quantile(
        _mk(spark, ROWS), by=["k"], duration="1 minute", qs=(0.25, 0.999),
        min_obs=3,
    )
    assert "roll_q25" in out.columns and "roll_q99_9" in out.columns
    # the dot-free name is plain-referenceable in string form
    assert out.select("roll_q99_9").columns == ["roll_q99_9"]
    got = {(r["k"], r["ts"]): r for r in out.collect()}
    assert got[("a", _ts(30))]["roll_q25"] is None  # n=2 < 3
    assert got[("a", _ts(60))]["roll_q25"] == pytest.approx(2.0)  # {1,3,5}


def test_quantile_approx_close_to_exact(spark):
    out = rolling_time_quantile(
        _mk(spark, ROWS), by=["k"], duration="1 minute", qs=(0.5,),
        exact=False,
    ).collect()
    # approx_percentile on tiny frames is exact-rank (no interpolation):
    # only sanity-check it lands inside the frame's min/max
    for r in out:
        if r["roll_q50"] is not None:
            assert 1.0 <= r["roll_q50"] <= 30.0


def test_quantile_validation(spark):
    df = _mk(spark, ROWS)
    with pytest.raises(ValueError, match="at least one"):
        rolling_time_quantile(df, by=["k"], qs=())
    with pytest.raises(ValueError, match="quantile"):
        rolling_time_quantile(df, by=["k"], qs=(1.5,))
    with pytest.raises(ValueError, match="min_obs"):
        rolling_time_quantile(df, by=["k"], min_obs=0)


def test_distinct_exact(spark):
    rows = [
        ("a", _ts(0), 1.0),
        ("a", _ts(10), 1.0),   # dup value inside frame
        ("a", _ts(20), 2.0),
        ("a", _ts(100), 2.0),  # everything else aged out
        ("a", _ts(101), None),  # NULL never counts
    ]
    got = {
        r["ts"]: r["roll_distinct"]
        for r in rolling_time_distinct(
            _mk(spark, rows), by=["k"], duration="1 minute"
        ).collect()
    }
    assert got[_ts(0)] == 1
    assert got[_ts(10)] == 1   # {1,1} -> 1
    assert got[_ts(20)] == 2   # {1,1,2}
    assert got[_ts(100)] == 1  # {2}
    assert got[_ts(101)] == 1  # {2, NULL} -> 1


def test_distinct_approx_within_rsd(spark):
    """exact=False (HyperLogLog++ over the RANGE frame): constant memory,
    accuracy within a loose multiple of the requested rsd on a frame of
    ~100 distinct values."""
    import random

    random.seed(7)
    rows = [
        ("a", _ts(i), float(random.randint(0, 99))) for i in range(200)
    ]
    df = _mk(spark, rows)
    kw = dict(by=["k"], duration="1 hour")  # one frame covers everything
    exact = {
        r["ts"]: r["roll_distinct"]
        for r in rolling_time_distinct(df, exact=True, **kw).collect()
    }
    approx = {
        r["ts"]: r["roll_distinct"]
        for r in rolling_time_distinct(df, exact=False, rsd=0.05, **kw).collect()
    }
    last = _ts(199)
    assert exact[last] == len({v for _, _, v in rows})
    assert approx[last] == pytest.approx(exact[last], rel=0.15)


def test_distinct_exclude_current_empty_frame(spark):
    rows = [("a", _ts(0), 1.0), ("a", _ts(5), 2.0)]
    got = {
        r["ts"]: r["roll_distinct"]
        for r in rolling_time_distinct(
            _mk(spark, rows), by=["k"], duration="1 minute",
            include_current=False,
        ).collect()
    }
    assert got[_ts(0)] == 0
    assert got[_ts(5)] == 1


@pytest.mark.parametrize("ts_type", ["TIMESTAMP_LTZ", "TIMESTAMP_NTZ"])
def test_prefix_impl_matches_frame(spark, ts_type):
    """impl='prefix' (O(n) growing-frame differences) == impl='frame' to
    float-summation-order tolerance; count/min/max exact.  Runs under both
    spark.sql.timestampType settings with an LTZ event time; under
    TIMESTAMP_NTZ a bare "timestamp" cast inside the operator would turn
    it into NTZ, which ``unix_micros`` rejects."""
    import random

    random.seed(11)
    rows = list(ROWS) + [
        ("c", _ts(random.randint(0, 600)), round(random.uniform(-50, 50), 2))
        for _ in range(300)
    ]
    kw = dict(x_col="ts", y_col="value", by=["k"], duration="1 minute",
              min_obs=3)
    key = lambda r: (r["k"], r["ts"], r["value"])  # noqa: E731
    with timestamp_type(spark, ts_type):
        df = spark.createDataFrame(
            rows, "k string, ts timestamp_ltz, value double"
        )
        frame = {
            key(r): r for r in rolling_time_stats(df, impl="frame", **kw).collect()
        }
        prefix = {
            key(r): r for r in rolling_time_stats(df, impl="prefix", **kw).collect()
        }
    assert set(frame) == set(prefix)
    for k, fr in frame.items():
        pr = prefix[k]
        assert pr["roll_n"] == fr["roll_n"], k
        assert pr["roll_min"] == fr["roll_min"] and pr["roll_max"] == fr["roll_max"]
        for c in ("roll_sum", "roll_mean", "roll_std"):
            if fr[c] is None:
                assert pr[c] is None, (c, k)
            else:
                assert pr[c] == pytest.approx(fr[c], rel=1e-9, abs=1e-9), (c, k)


def test_prefix_impl_exclude_current(spark):
    kw = dict(by=["k"], duration="1 minute", include_current=False)
    key = lambda r: (r["k"], r["ts"], r["value"])  # noqa: E731
    df = _mk(spark, ROWS)
    frame = {key(r): r for r in rolling_time_stats(df, impl="frame", **kw).collect()}
    prefix = {key(r): r for r in rolling_time_stats(df, impl="prefix", **kw).collect()}
    for k, fr in frame.items():
        assert prefix[k]["roll_n"] == fr["roll_n"], k


def test_prefix_impl_validation(spark):
    df = spark.createDataFrame(
        [("a", 1.5, 1.0)], "k string, x double, value double"
    )
    with pytest.raises(ValueError, match="integer time axis"):
        rolling_time_stats(df, x_col="x", by=["k"], duration="10",
                           impl="prefix")
    with pytest.raises(ValueError, match="impl"):
        rolling_time_stats(_mk(spark, ROWS), by=["k"], impl="welford")


def test_prefix_impl_integer_axis(spark):
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 5, 2.0), ("a", 9, 4.0), ("a", 20, 8.0)],
        "k string, x long, value double",
    )
    got = {
        r["x"]: r
        for r in rolling_time_stats(
            df, x_col="x", y_col="value", by=["k"], duration="10",
            impl="prefix",
        ).collect()
    }
    assert got[9]["roll_n"] == 3 and got[9]["roll_sum"] == pytest.approx(7.0)
    assert got[20]["roll_n"] == 1 and got[20]["roll_sum"] == pytest.approx(8.0)


def test_quantile_distinct_plans_zero_python(spark):
    df = _mk(spark, ROWS)
    for out in (
        rolling_time_quantile(df, by=["k"], duration="1 hour"),
        rolling_time_distinct(df, by=["k"], duration="1 hour"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("Exchange") <= 2 and "Window" in plan


def test_regr_matches_numpy(spark):
    import numpy as np

    rows = [("a", _ts(i * 10), float(v)) for i, v in
            enumerate([5, 1, 4, 2, 8, 9, 3, 7, 2, 6])]
    from tsdownsample_spark.operators.rolling import rolling_time_regr

    got = {
        r["ts"]: r
        for r in rolling_time_regr(
            _mk(spark, rows), by=["k"], duration="30 seconds", min_obs=2
        ).collect()
    }
    for i, (_, t, _) in enumerate(rows):
        frame = [(j * 10.0, v) for j, (_, tj, v) in enumerate(rows)
                 if 0 <= (t - tj).total_seconds() <= 30]
        r = got[t]
        if len(frame) < 2:
            assert r["roll_slope"] is None
            continue
        xs = np.array([f[0] for f in frame])
        ys = np.array([f[1] for f in frame])
        if np.var(xs) == 0:
            assert r["roll_slope"] is None
            continue
        slope, icept = np.polyfit(xs, ys, 1)
        assert r["roll_slope"] == pytest.approx(slope, rel=1e-9), t
        assert r["roll_intercept"] == pytest.approx(icept, rel=1e-9), t
        ss_res = np.sum((ys - (slope * xs + icept)) ** 2)
        ss_tot = np.sum((ys - ys.mean()) ** 2)
        if ss_tot > 0:
            assert r["roll_r2"] == pytest.approx(1 - ss_res / ss_tot, rel=1e-9)


def test_regr_min_obs_and_validation(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_regr

    rows = [("a", _ts(0), 1.0), ("a", _ts(10), 2.0), ("a", _ts(20), 3.0)]
    got = {
        r["ts"]: r
        for r in rolling_time_regr(
            _mk(spark, rows), by=["k"], duration="1 minute", min_obs=3
        ).collect()
    }
    assert got[_ts(10)]["roll_slope"] is None  # n=2 < 3
    assert got[_ts(20)]["roll_slope"] == pytest.approx(0.1)  # 1 per 10 s
    with pytest.raises(ValueError, match="min_obs"):
        rolling_time_regr(_mk(spark, rows), by=["k"], min_obs=1)


def test_regr_plan_zero_python(spark):
    from tsdownsample_spark.operators.rolling import rolling_time_regr

    out = rolling_time_regr(_mk(spark, ROWS), by=["k"], duration="1 hour")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "_xs" not in out.columns
