"""NumPy-only parity of the four trailing-window stream twins against the
batch kernels they call (no Spark session).

Each twin's per-key function is captured from its operator with a stand-in
DataFrame and driven through micro-batches with an in-memory GroupState.
Every batch row must equal the batch kernel evaluated over the whole
series that has arrived by then.  The pools hold duplicate timestamps,
NULL (NaN) rows, late rows within span of the frontier and constant
runs."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import StringType, StructField

from tsdownsample_spark.operators.anomaly import _trailing_zscore
from tsdownsample_spark.operators.rolling import _frame_distinct, _frame_stats
from tsdownsample_spark.operators.stats import _ewma_scan
from tsdownsample_spark.streaming.stream_anomaly import stream_rolling_zscore
from tsdownsample_spark.streaming.stream_distinct import (
    stream_rolling_time_distinct,
)
from tsdownsample_spark.streaming.stream_ewma import stream_ewma
from tsdownsample_spark.streaming.stream_rolling import stream_rolling_time_stats

SPAN = 60_000_000  # "1 minute"
EXACT = ("roll_n", "roll_min", "roll_max")
FLOAT = ("roll_sum", "roll_mean", "roll_std")


class _Capture:
    """Stands in for a streaming DataFrame: records the per-key function
    the operator hands to ``applyInPandasWithState``."""

    schema = {"k": StructField("k", StringType())}

    def where(self, *_):
        return self

    def selectExpr(self, *_):
        return self

    def groupBy(self, *_):
        return self

    def applyInPandasWithState(self, fn, **_):
        return fn


class _State:
    """In-memory GroupState: keeps what ``update`` stored."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _drive(fn, batches):
    """Run ``fn`` over the micro-batches of one key; returns the output
    frame of each batch."""
    state = _State()
    outs = []
    for b in batches:
        pdf = pd.DataFrame({"k": "a", "ts_us": b[0], "value": b[1]})
        outs.append(pd.concat(list(fn(("a",), iter([pdf]), state))))
    return outs


def _pool_batches(rng, n_batches=6, late=True):
    """Micro-batches of (ts_us, value): a 0.01 value grid, duplicate
    timestamps, NaN rows (a NULL reaches the twin as NaN, like a NaN
    payload), constant runs and (when ``late``) rows up to one span
    behind the frontier."""
    batches, frontier = [], 0
    for _ in range(n_batches):
        n = int(rng.integers(1, 40))
        ts = frontier + np.cumsum(rng.integers(0, 4_000_000, n))
        if late and frontier > 0:
            back = rng.random(n) < 0.2
            ts[back] = frontier - rng.integers(0, SPAN, back.sum())
        y = np.round(rng.normal(50.0, 10.0, n), 2)
        run = rng.integers(0, n)
        y[run:run + int(rng.integers(0, 12))] = 7.25  # constant run
        y[rng.random(n) < 0.1] = np.nan  # NULL rows and NaN payloads alike
        order = rng.permutation(n)  # arrival order within a batch
        batches.append((ts[order].astype(np.int64), y[order]))
        frontier = max(frontier, int(ts.max()))
    return batches


def _arrived_truth(batches, kernel):
    """For each batch: the kernel over everything arrived so far, read at
    this batch's rows (sorted by ts, as the twin emits them)."""
    seen_t, seen_y, truth = [], [], []
    for ts, y in batches:
        seen_t.append(ts)
        seen_y.append(y)
        t_all = np.concatenate(seen_t)
        y_all = np.concatenate(seen_y)
        order = np.argsort(t_all, kind="mergesort")
        rank = np.empty_like(order)
        rank[order] = np.arange(len(order))
        mine = rank[len(t_all) - len(ts):][np.argsort(ts, kind="mergesort")]
        cols = kernel(t_all[order], y_all[order])
        truth.append({c: np.asarray(v)[mine] for c, v in cols.items()})
    return truth


def _assert_same(got, exp, exact, floats, rel=1e-12, atol=0.0):
    for c in exact:
        g = got[c].to_numpy(dtype=np.float64, na_value=np.nan)
        np.testing.assert_array_equal(g, exp[c].astype(np.float64), err_msg=c)
    for c in floats:
        g = got[c].to_numpy(dtype=np.float64, na_value=np.nan)
        e = exp[c].astype(np.float64)
        np.testing.assert_array_equal(np.isnan(g), np.isnan(e), err_msg=c)
        ok = ~np.isnan(e)
        np.testing.assert_allclose(g[ok], e[ok], rtol=rel, atol=atol, err_msg=c)


@pytest.mark.parametrize("seed", range(40))
def test_stream_rolling_equals_batch_kernel(seed):
    rng = np.random.default_rng(seed)
    batches = _pool_batches(rng)
    min_obs = int(rng.integers(1, 4))
    fn = stream_rolling_time_stats(
        _Capture(), by=["k"], duration="1 minute", min_obs=min_obs
    )
    truth = _arrived_truth(
        batches, lambda t, y: _frame_stats(t, y, SPAN, True, min_obs)
    )
    for got, exp in zip(_drive(fn, batches), truth):
        _assert_same(got, exp, EXACT, FLOAT)


@pytest.mark.parametrize("seed", range(40))
def test_stream_distinct_equals_batch_kernel(seed):
    rng = np.random.default_rng(seed)
    batches = [(t, np.floor(y / 5.0)) for t, y in _pool_batches(rng)]
    fn = stream_rolling_time_distinct(_Capture(), by=["k"], duration="1 minute")
    truth = _arrived_truth(
        batches,
        lambda t, y: dict(
            roll_distinct=_frame_distinct(t, pd.factorize(y)[0], SPAN)
        ),
    )
    for got, exp in zip(_drive(fn, batches), truth):
        _assert_same(got, exp, ("roll_distinct",), ())


@pytest.mark.parametrize("seed", range(40))
def test_stream_zscore_equals_batch_kernel(seed):
    """In-order batches: a late row scores against the newer tail by
    design, so only the whole in-order series is a batch truth."""
    rng = np.random.default_rng(seed)
    batches = _pool_batches(rng, late=False)
    window, min_obs = int(rng.integers(2, 20)), 2
    fn = stream_rolling_zscore(
        _Capture(), by=["k"], window=window, min_obs=min_obs, threshold=1.5
    )
    t_all = np.concatenate([np.sort(t, kind="mergesort") for t, _ in batches])
    y_all = np.concatenate(
        [y[np.argsort(t, kind="mergesort")] for t, y in batches]
    )
    exp = _trailing_zscore(y_all, window, min_obs, 1.5)
    got = pd.concat(_drive(fn, batches), ignore_index=True)
    np.testing.assert_array_equal(got["ts_us"].to_numpy(), t_all)
    # the kernel centres its prefix sums on the mean of the rows it is
    # given (tail + batch here, the whole series in batch), so a frame
    # whose spread is tiny against its level moves std by ~1e-12 of the
    # data's magnitude, not of std itself; z moves by that propagated
    scale = 1e-12 * np.nanmax(np.abs(y_all))
    _assert_same(got, exp, (), ("roll_mean", "roll_std"), atol=scale)
    g_z = got["z"].to_numpy(dtype=np.float64, na_value=np.nan)
    e_z = exp["z"]
    np.testing.assert_array_equal(np.isnan(g_z), np.isnan(e_z))
    ok = ~np.isnan(e_z)
    bound = scale * (1.0 + np.abs(e_z[ok])) / exp["roll_std"][ok]
    assert np.all(np.abs(g_z[ok] - e_z[ok]) <= bound)
    np.testing.assert_array_equal(
        got["is_anomaly"].to_numpy(dtype=object, na_value=None),
        exp["is_anomaly"].to_numpy(dtype=object, na_value=None),
    )


@pytest.mark.parametrize("seed", range(10))
def test_stream_ewma_equals_batch_kernel_bitwise(seed):
    rng = np.random.default_rng(seed)
    batches = _pool_batches(rng, late=False)
    fn = stream_ewma(_Capture(), by=["k"], alpha=0.3)
    y_all = np.concatenate(
        [y[np.argsort(t, kind="mergesort")] for t, y in batches]
    )
    got = pd.concat(_drive(fn, batches), ignore_index=True)
    np.testing.assert_array_equal(
        got["ewma"].to_numpy(), _ewma_scan(y_all, 0.3, float("nan"))
    )


def test_nan_payload_is_null_and_leaves_state():
    """A NaN payload neither poisons later frames nor stays in state."""
    fn = stream_rolling_time_stats(_Capture(), by=["k"], duration="1 minute")
    state = _State()
    us = 1_000_000
    pdf = pd.DataFrame(
        {"k": "a", "ts_us": [0, 10 * us, 80 * us], "value": [1.0, np.nan, 2.0]}
    )
    out = pd.concat(list(fn(("a",), iter([pdf]), state)))
    assert out["roll_sum"].tolist() == [1.0, 1.0, 2.0]
    assert out["roll_n"].tolist() == [1, 1, 1]
    assert state.value[2] == [1.0, 2.0]
