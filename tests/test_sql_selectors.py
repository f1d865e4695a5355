"""The distributed long-form selectors must select EXACTLY the same indices
as the vectorized kernels (which are themselves golden-tested against the
reference) across series lengths that hit every branch: identity, small
bins, plain-LTTB, and prefetch."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.kernels.selectors import downsample_array
from tsdownsample_spark.operators.sql_selectors import (
    everynth_long,
    m4_long,
    minmax_long,
    minmaxlttb_long,
)

N_OUT = 20
# lengths: identity (<= n_out; 1 and 2 are too short to bin — a one-point
# series has bin size 0), just-above, plain-lttb branch, prefetch
LENGTHS = [1, 2, 7, 20, 21, 57, 99, 500, 2003]


@pytest.fixture(scope="module")
def long_df(spark):
    rng = np.random.default_rng(7)
    frames = []
    for j, n in enumerate(LENGTHS):
        frames.append(
            pd.DataFrame(
                {
                    "series": f"s{j}",
                    "seq": np.arange(n, dtype=np.int64),
                    "value": rng.normal(size=n).round(6),
                }
            )
        )
    # duplicate slots in every bin: constant y (argmin == argmax) and
    # monotone y (M4's first is the min and its last the max)
    for key, y in [("const", np.full(500, 0.5)),
                   ("mono", np.sort(rng.normal(size=2003)).round(6))]:
        frames.append(
            pd.DataFrame(
                {"series": key, "seq": np.arange(len(y), dtype=np.int64), "value": y}
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    # shuffle row order so the rank window actually has to sort
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    return spark.createDataFrame(pdf).repartition(8), pdf


def _kernel_expected(pdf, algo, n_out, **kw):
    rows = []
    for key, grp in pdf.sort_values(["series", "seq"]).groupby("series"):
        y = grp["value"].to_numpy()
        idx = downsample_array(y, n_out, algo=algo, **kw)
        for pos, i in enumerate(idx):
            rows.append((key, pos, int(i), float(y[i])))
    return sorted(rows)


def _collect(df):
    return sorted(
        (r["series"], r["pos"], r["sel_idx"], r["sel_value"]) for r in df.collect()
    )


@pytest.mark.parametrize(
    "fn,algo",
    [
        (minmax_long, "minmax"),
        (m4_long, "m4"),
        (everynth_long, "everynth"),
    ],
)
def test_long_matches_kernel(long_df, fn, algo):
    df, pdf = long_df
    got = _collect(fn(df, N_OUT, order=["seq"], by=["series"], y_col="value"))
    assert got == _kernel_expected(pdf, algo, N_OUT)


def test_minmaxlttb_long_matches_kernel(long_df):
    df, pdf = long_df
    got = _collect(
        minmaxlttb_long(df, N_OUT, order=["seq"], by=["series"], y_col="value")
    )
    assert got == _kernel_expected(pdf, "minmaxlttb", N_OUT)


def test_trailing_point_drop_parity(spark):
    """FP edge: when floor(bs*m)+1 == n-1 the kernel's equal-count bins end
    BEFORE the last point (it is silently dropped); the closed-form inverse
    must drop it too (n=202/1982 with m=50|25 trigger this)."""
    rng = np.random.default_rng(11)
    frames = []
    for j, n in enumerate([202, 1982]):
        frames.append(
            pd.DataFrame(
                {
                    "series": f"t{j}",
                    "seq": np.arange(n, dtype=np.int64),
                    "value": rng.normal(size=n).round(6),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf).repartition(4)
    for fn, algo in [(minmax_long, "minmax"), (m4_long, "m4")]:
        got = _collect(fn(df, 100, order=["seq"], by=["series"], y_col="value"))
        assert got == _kernel_expected(pdf, algo, 100), algo


def test_minmax_long_bounded_plan(long_df):
    """No collect_list / whole-series arrays anywhere in the plan, and one
    shuffle: the rank Exchange on the series key (the fixture's own
    round-robin repartition aside)."""
    df, _ = long_df
    plan = (
        minmax_long(df, N_OUT, order=["seq"], by=["series"], y_col="value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "collect_list" not in plan
    exchanges = [
        line for line in plan.splitlines()
        if re.sub(r"^[\s:|+\-]*", "", line).startswith("Exchange ")
        and "RoundRobinPartitioning" not in line
    ]
    assert len(exchanges) == 1, plan


@pytest.mark.parametrize("algo", ["minmax", "m4"])
def test_x_long_matches_kernel(spark, algo):
    """Distributed equidistant (with-x) selectors vs the kernel on: float x,
    gapped int x (empty bins), int arange (max exactly on the truncated
    last edge — the common integer-x collision), monotone y (M4's first is
    the min and its last the max in every bin: duplicate indices), constant
    y (argmin == argmax) and a 15 s-cadence microsecond timestamp series;
    every series is run once with bigint x and once with timestamp_ntz x."""
    from tsdownsample_spark.operators.sql_selectors import m4_x_long, minmax_x_long

    rng = np.random.default_rng(23)
    series = {}
    n = 997
    xf = np.sort(rng.uniform(0, 1e6, size=n))
    series["float"] = (xf, rng.normal(size=n).round(6))
    xg = np.arange(n, dtype=np.int64)
    xg[: n // 2] += 10 * n  # large gap -> empty bins
    xg = np.sort(xg + 3 * np.arange(n))  # strictly increasing, uneven
    series["gapint"] = (xg.astype(np.float64), rng.normal(size=n).round(6))
    xa = np.arange(2_000, dtype=np.int64) * 7  # last edge == max (trunc)
    series["arange"] = (xa.astype(np.float64), rng.normal(size=2_000).round(6))
    xm = np.sort(rng.choice(10**9, size=n, replace=False))
    series["monotone"] = (xm.astype(np.float64), np.sort(rng.normal(size=n)).round(6))
    series["consty"] = (xm.astype(np.float64), np.full(n, 0.5))
    step = 15_000_000 + rng.integers(-10_000_000, 10_000_000, size=n)
    xt = 1_700_000_000_000_000 + np.cumsum(step)
    series["ts"] = (xt.astype(np.float64), rng.normal(size=n).round(6))

    frames = []
    for key, (x, y) in series.items():
        frames.append(
            pd.DataFrame({"series": key, "x": x.astype(np.int64), "value": y})
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=1)).repartition(8)

    fn = minmax_x_long if algo == "minmax" else m4_x_long
    exp = []
    for key, (x, y) in series.items():
        idx = downsample_array(
            np.asarray(y), 40, algo=algo, x=np.asarray(x).astype(np.int64)
        )
        exp.extend((key, int(i)) for i in idx)
    # timestamp_ntz x bins on its integer microseconds (the perfbench
    # ts_rollup shape), so the kernel's int64 expectation holds unchanged
    ntz = df.withColumn("x", F.expr("CAST(timestamp_micros(x) AS TIMESTAMP_NTZ)"))
    assert ntz.schema["x"].dataType.simpleString() == "timestamp_ntz"
    for sdf in (df, ntz):
        got = sorted(
            (r["series"], r["sel_idx"]) for r in
            fn(sdf, 40, x_col="x", by=["series"], y_col="value").collect()
        )
        assert got == sorted(exp)


def test_x_long_timestamp_x_in_ntz_session(spark):
    """Under spark.sql.timestampType=TIMESTAMP_NTZ a bare "timestamp" cast
    means NTZ, which unix_micros rejects; timestamp x (LTZ and NTZ columns)
    must still bin on its integer microseconds like the kernel's int64 view."""
    from tsdownsample_spark.operators.sql_selectors import m4_x_long

    rng = np.random.default_rng(47)
    n = 997
    x = 1_700_000_000_000_000 + np.cumsum(rng.integers(1, 20_000_000, size=n))
    y = rng.normal(size=n).round(6)
    df = spark.createDataFrame(
        pd.DataFrame({"series": "ts", "x": x, "value": y})
    ).repartition(4)
    exp = sorted(int(i) for i in downsample_array(y, 40, algo="m4", x=x))
    prev = spark.conf.get("spark.sql.timestampType", None)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        for ty in ("TIMESTAMP_LTZ", "TIMESTAMP_NTZ"):
            sdf = df.withColumn("x", F.expr(f"CAST(timestamp_micros(x) AS {ty})"))
            got = sorted(
                r["sel_idx"] for r in
                m4_x_long(sdf, 40, x_col="x", by=["series"], y_col="value").collect()
            )
            assert got == exp, ty
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.timestampType")
        else:
            spark.conf.set("spark.sql.timestampType", prev)


@pytest.mark.parametrize("algo", ["minmax", "m4"])
def test_x_long_negative_and_constant_x(spark, algo):
    """Code-review regressions: (a) integer edges must truncate toward ZERO
    (floor is off by one for negative x, e.g. pre-epoch timestamps);
    (b) constant-x series follow the kernel's all-in-bin-0 / all-dropped
    outcome instead of dividing by a zero step."""
    from tsdownsample_spark.operators.sql_selectors import m4_x_long, minmax_x_long

    rng = np.random.default_rng(31)
    series = {}
    xneg = np.sort(rng.choice(np.arange(-50_000, -10, dtype=np.int64), 800, replace=False))
    series["neg"] = (xneg, rng.normal(size=800).round(6))
    series["constpos"] = (np.full(90, 123456, dtype=np.int64), rng.normal(size=90).round(6))
    series["constneg"] = (np.full(90, -777, dtype=np.int64), rng.normal(size=90).round(6))

    frames = [
        pd.DataFrame({"series": k, "x": x, "seq": np.arange(len(x)), "value": y})
        for k, (x, y) in series.items()
    ]
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True)).repartition(4)
    fn = minmax_x_long if algo == "minmax" else m4_x_long
    got = sorted(
        (r["series"], r["sel_idx"]) for r in
        fn(df, 40, x_col="x", by=["series"], y_col="value", tiebreak=["seq"]).collect()
    )
    exp = []
    for key, (x, y) in series.items():
        idx = downsample_array(np.asarray(y), 40, algo=algo, x=np.asarray(x))
        exp.extend((key, int(i)) for i in idx)
    assert got == sorted(exp)


def test_x_long_edge_collision_fallback(spark):
    """Series hitting the closed-form-vs-sequential divergence (the former
    documented precondition of _x_bin_expr) now reroute to the kernel:

    * 'push': an edge-equal point that is its bin's first point — the
      reference's order-dependent empty-bin push (x=50 == edge 50 with no
      point in (25, 50): sequential drops bin 1 and places 50 in bin 2;
      the closed form alone would put it in bin 1);
    * 'dup': duplicate x exactly on an edge — bisect consumes only the
      first equal element into the lower bin;
    * 'stress': dense random integer x with many duplicates (collisions
      everywhere) for all three with-x operators.
    """
    from tsdownsample_spark.operators.sql_selectors import (
        m4_x_long,
        minmax_x_long,
        minmaxlttb_x_long,
    )

    rng = np.random.default_rng(37)
    series = {
        "push": (np.array([0, 5, 10, 20, 50, 55, 60, 70, 100], dtype=np.int64),
                 rng.normal(size=9).round(6)),
        "dup": (np.array([0, 10, 20, 50, 50, 60, 80, 90, 100], dtype=np.int64),
                rng.normal(size=9).round(6)),
        "stress": (np.sort(rng.integers(0, 40, size=120)).astype(np.int64),
                   rng.normal(size=120).round(6)),
        "clean": (np.sort(rng.uniform(0, 1e6, size=120)).astype(np.int64),
                  rng.normal(size=120).round(6)),
    }
    frames = [
        pd.DataFrame({"series": k, "x": x, "seq": np.arange(len(x)), "value": y})
        for k, (x, y) in series.items()
    ]
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True)).repartition(4)

    for fn, algo in [
        (minmax_x_long, "minmax"),
        (m4_x_long, "m4"),
        (minmaxlttb_x_long, "minmaxlttb"),
    ]:
        got = sorted(
            (r["series"], r["sel_idx"], r["x"], r["value"])
            for r in fn(
                df, 8, x_col="x", by=["series"], y_col="value", tiebreak=["seq"]
            ).collect()
        )
        exp = []
        for key, (x, y) in series.items():
            idx = downsample_array(np.asarray(y), 8, algo=algo, x=np.asarray(x))
            exp.extend((key, int(i), int(x[i]), float(y[i])) for i in idx)
        assert got == sorted(exp), algo


def test_minmaxlttb_x_long_matches_kernel(spark):
    """Distributed with-x MinMaxLTTB vs the kernel across every branch:
    identity (n <= n_out), plain with-x LTTB (n//n_out <= ratio), and the
    equidistant prefetch (float x, gapped int x with empty bins, and the
    arange edge-collision shape)."""
    from tsdownsample_spark.operators.sql_selectors import minmaxlttb_x_long

    rng = np.random.default_rng(29)
    series = {}
    for key, n in [("ident", 15), ("just", 25), ("plain", 79)]:
        x = np.sort(rng.uniform(0, 1e6, size=n)).astype(np.int64)
        series[key] = (x, rng.normal(size=n).round(6))
    n = 997
    series["preflt"] = (
        np.sort(rng.uniform(0, 1e6, size=n)).astype(np.int64),
        rng.normal(size=n).round(6),
    )
    xg = np.arange(n, dtype=np.int64)
    xg[: n // 2] += 10 * n
    xg = np.sort(xg + 3 * np.arange(n))
    series["gapint"] = (xg, rng.normal(size=n).round(6))
    xa = np.arange(2_000, dtype=np.int64) * 7
    series["arange"] = (xa, rng.normal(size=2_000).round(6))

    frames = [
        pd.DataFrame({"series": k, "x": x, "seq": np.arange(len(x)), "value": y})
        for k, (x, y) in series.items()
    ]
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=9)).repartition(8)
    got = sorted(
        (r["series"], r["sel_idx"], r["x"], r["value"])
        for r in minmaxlttb_x_long(
            df, 20, x_col="x", by=["series"], y_col="value", tiebreak=["seq"]
        ).collect()
    )
    exp = []
    for key, (x, y) in series.items():
        idx = downsample_array(np.asarray(y), 20, algo="minmaxlttb", x=np.asarray(x))
        exp.extend((key, int(i), int(x[i]), float(y[i])) for i in idx)
    assert got == sorted(exp)


@pytest.mark.parametrize("algo", ["minmax", "m4"])
def test_x_long_nan_return_matches_kernel(spark, algo):
    """nan='return' on the distributed WITH-X selectors: first NaN per bin
    wins both slots; passthrough (small) bins emit NaN points unchanged —
    exactly the kernel NaN* with-x variants (minmax.rs:72-74, m4.rs:70-72)."""
    from tsdownsample_spark.operators.sql_selectors import m4_x_long, minmax_x_long

    rng = np.random.default_rng(43)
    series = {}
    n = 997
    xf = np.sort(rng.uniform(0, 1e6, size=n)).astype(np.int64)
    yf = rng.normal(size=n).round(6)
    yf[::13] = np.nan  # hits big bins and (via the gap case) small bins
    series["float"] = (xf, yf)
    xg = np.arange(n, dtype=np.int64)
    xg[: n // 2] += 10 * n
    xg = np.sort(xg + 3 * np.arange(n))
    yg = rng.normal(size=n).round(6)
    yg[::7] = np.nan
    series["gapint"] = (xg, yg)

    frames = [
        pd.DataFrame({"series": k, "x": x, "seq": np.arange(len(x)), "value": y})
        for k, (x, y) in series.items()
    ]
    pdf = pd.concat(frames, ignore_index=True)
    sdf = (
        spark.createDataFrame(pdf.sample(frac=1.0, random_state=5))
        .withColumn("value", F.coalesce("value", F.expr("CAST('NaN' AS DOUBLE)")))
        .repartition(8)
    )
    fn = minmax_x_long if algo == "minmax" else m4_x_long
    out = fn(sdf, 40, x_col="x", by=["series"], y_col="value",
             tiebreak=["seq"], nan="return")
    got = sorted(
        (r["series"], r["sel_idx"],
         "NaN" if r["value"] != r["value"] else r["value"])
        for r in out.collect()
    )
    exp = []
    for key, (x, y) in series.items():
        idx = downsample_array(np.asarray(y), 40, algo="nan" + algo, x=np.asarray(x))
        exp.extend(
            (key, int(i), "NaN" if y[i] != y[i] else float(y[i])) for i in idx
        )
    assert got == sorted(exp)


def test_minmaxlttb_long_nan_return_matches_kernel(spark):
    """NaNMinMaxLTTB through BOTH distributed forms (no-x and with-x):
    NaN-return prefetch + bit-pattern-argmax LTTB tail == the kernel."""
    from tsdownsample_spark.operators.sql_selectors import (
        minmaxlttb_long,
        minmaxlttb_x_long,
    )

    rng = np.random.default_rng(53)
    series = {}
    for key, n in [("plain", 79), ("pref", 997), ("pref2", 2003)]:
        x = np.sort(rng.uniform(0, 1e6, size=n)).astype(np.int64)
        y = rng.normal(size=n).round(6)
        y[:: 11 if key == "plain" else 17] = np.nan
        series[key] = (x, y)
    frames = [
        pd.DataFrame({"series": k, "x": x, "seq": np.arange(len(x)), "value": y})
        for k, (x, y) in series.items()
    ]
    pdf = pd.concat(frames, ignore_index=True)
    sdf = (
        spark.createDataFrame(pdf.sample(frac=1.0, random_state=2))
        .withColumn("value", F.coalesce("value", F.expr("CAST('NaN' AS DOUBLE)")))
        .repartition(8)
    )

    def norm(v):
        return "NaN" if v != v else float(v)

    # no-x form (x ignored; order by seq within series)
    got = sorted(
        (r["series"], r["pos"], r["sel_idx"], norm(r["sel_value"]))
        for r in minmaxlttb_long(
            sdf, 20, order=["seq"], by=["series"], y_col="value", nan="return"
        ).collect()
    )
    exp = []
    for key, (x, y) in series.items():
        idx = downsample_array(np.asarray(y), 20, algo="nanminmaxlttb")
        exp.extend((key, pos, int(i), norm(y[i])) for pos, i in enumerate(idx))
    assert got == sorted(exp)

    # with-x form
    got = sorted(
        (r["series"], r["sel_idx"], norm(r["value"]))
        for r in minmaxlttb_x_long(
            sdf, 20, x_col="x", by=["series"], y_col="value",
            tiebreak=["seq"], nan="return",
        ).collect()
    )
    exp = []
    for key, (x, y) in series.items():
        idx = downsample_array(
            np.asarray(y), 20, algo="nanminmaxlttb", x=np.asarray(x)
        )
        exp.extend((key, int(i), norm(y[i])) for i in idx)
    assert got == sorted(exp)


@pytest.mark.parametrize("fn_algo", [("minmax", "nanminmax"), ("m4", "nanm4")])
def test_long_nan_return_matches_kernel(long_df, fn_algo):
    """nan='return' on the distributed selectors: first NaN per bin wins
    both min/max slots, exactly like the kernel NaN* variants."""
    base, algo = fn_algo
    from tsdownsample_spark.operators.sql_selectors import m4_long, minmax_long

    df, pdf = long_df
    pdf = pdf.copy()
    pdf.loc[pdf.index % 13 == 0, "value"] = float("nan")
    import pyspark.sql.functions as SF

    # createDataFrame converts pandas NaN -> NULL; restore real NaN doubles
    sdf = (
        df.sparkSession.createDataFrame(pdf)
        .withColumn("value", SF.coalesce("value", SF.expr("CAST('NaN' AS DOUBLE)")))
        .repartition(8)
    )
    fn = minmax_long if base == "minmax" else m4_long
    out = fn(sdf, N_OUT, order=["seq"], by=["series"], y_col="value", nan="return")
    got = sorted(
        (r["series"], r["pos"], r["sel_idx"],
         "NaN" if r["sel_value"] != r["sel_value"] else r["sel_value"])
        for r in out.collect()
    )
    exp = []
    for key, grp in pdf.sort_values(["series", "seq"]).groupby("series"):
        y = grp["value"].to_numpy()
        idx = downsample_array(y, N_OUT, algo=algo)
        for pos, i in enumerate(idx):
            v = float(y[i])
            exp.append((key, pos, int(i), "NaN" if v != v else v))
    assert got == sorted(exp)
