"""Streaming trailing time-RANGE rolling stats == batch operator over the
same events, with the in-span buffer straddling micro-batch boundaries;
plus the in-span late-row semantics and the frontier guard."""

import pandas as pd
import pytest
from conftest import make_file_stream, stage_batches, timestamp_type
from pyspark.sql import functions as F

from tsdownsample_spark.operators.rolling import rolling_time_stats
from tsdownsample_spark.streaming.stream_rolling import stream_rolling_time_stats

SCHEMA = "event_type string, ts timestamp, value double"
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 in unix micros


def _run(spark, tmp_path, stream, name, **kw):
    out = stream_rolling_time_stats(stream, by=["event_type"], **kw)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name).collect()


@pytest.mark.slow
@pytest.mark.parametrize("ts_type", ["TIMESTAMP_LTZ", "TIMESTAMP_NTZ"])
def test_stream_rolling_matches_batch(spark, tmp_path, sf_dir, ts_type):
    """Both twins run operators/rolling.py:_frame_stats, so the stream
    equals ``impl="grouped"``: exact on count/min/max and every NULL, sums
    to 1e-12 relative (the kernel centres on the mean of the rows it is
    given).  Runs under both spark.sql.timestampType settings; the event
    time stays TIMESTAMP_LTZ (watermarks reject NTZ)."""
    with timestamp_type(spark, ts_type):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_type", F.col("ts").cast("timestamp_ltz").alias("ts"), "value"
        )
        flat = make_file_stream(spark, ev, tmp_path, time_col="ts")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        got = _run(spark, tmp_path, stream, "sroll", duration="2 hours", min_obs=5)
        exp = _batch(ev, "grouped", duration="2 hours", min_obs=5)
    _assert_matches(got, exp, rel=1e-12)


def _batch(ev, impl, **kw):
    return (
        rolling_time_stats(
            ev, x_col="ts", y_col="value", by=["event_type"], impl=impl, **kw
        )
        .select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
            "value", "roll_n", "roll_sum", "roll_mean",
            "roll_min", "roll_max", "roll_std",
        )
        .collect()
    )


def _assert_matches(got, exp, rel):
    """Same rows; count/min/max and NULLs exact; sums within ``rel``.
    Peers sharing a timestamp share a frame, so rows pair up in
    (key, ts, value) order even when timestamps repeat."""
    def key(r):
        return (r["event_type"], r["ts_us"], r["value"] is None, r["value"] or 0.0)

    got, exp = sorted(got, key=key), sorted(exp, key=key)
    assert len(got) == len(exp) > 0
    for gr, er in zip(got, exp):
        assert key(gr) == key(er), (gr, er)
        for c in ("roll_n", "roll_min", "roll_max"):
            assert gr[c] == er[c], (c, er)
        for c in ("roll_sum", "roll_mean", "roll_std"):
            if er[c] is None:
                assert gr[c] is None, (c, er)
            else:
                assert gr[c] == pytest.approx(er[c], rel=rel, abs=0.0), (c, er)


def _flat(spark, tmp_path, batches):
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )


def _t(s):
    return (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)).to_pydatetime()


def test_constant_run_exact_zero_std(spark, tmp_path):
    """A constant frame has std exactly 0 in the stream, as in
    ``impl="frame"`` and ``"grouped"`` — float prefix sums leave residue
    there."""
    lead = [("a", _t(i), v) for i, v in enumerate((3.7, 11.2, 0.4))]
    run = [("a", _t(10 + i), 0.7) for i in range(40)]
    batches = [lead + run[:20], run[20:]]
    got = _run(spark, tmp_path, _flat(spark, tmp_path, batches), "sroll_flat",
               duration="10 seconds")
    df = _mk(spark, lead + run)
    for impl in ("frame", "grouped"):
        exp = _batch(df, impl, duration="10 seconds")
        _assert_matches(got, exp, rel=1e-12 if impl == "grouped" else 1e-9)
        flat_rows = [r for r in exp if r["ts_us"] >= _us(20)]
        assert len(flat_rows) == 30
        assert all(r["roll_std"] == 0.0 for r in flat_rows), impl
    assert all(r["roll_std"] == 0.0 for r in got if r["ts_us"] >= _us(20))


def test_nan_payload_reads_as_null(spark, tmp_path):
    """A NaN payload counts as NULL, as in ``impl="grouped"``: frames
    without it keep finite sums, in its batch and after it."""
    batches = [
        [("a", _t(0), 1.0), ("a", _t(5), float("nan")), ("a", _t(30), 2.0),
         ("a", _t(80), 3.0)],
        [("a", _t(90), 4.0), ("a", _t(200), 5.0)],
    ]
    got = _run(spark, tmp_path, _flat(spark, tmp_path, batches), "sroll_nan",
               duration="1 minute")
    exp = _batch(_mk(spark, [r for b in batches for r in b]), "grouped",
                 duration="1 minute")
    _assert_matches(got, exp, rel=1e-12)
    sums = {r["ts_us"]: r["roll_sum"] for r in got}
    assert sums[_us(30)] == 3.0  # frame holds the NaN row: read as NULL
    assert sums[_us(80)] == 5.0 and sums[_us(90)] == 9.0
    assert sums[_us(200)] == 5.0


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _us(s):
    return _EPOCH_US + s * 1_000_000


def test_in_span_late_row_scored_and_buffered(spark, tmp_path):
    t = lambda s: (
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    ).to_pydatetime()
    batches = [
        [("a", t(0), 1.0), ("a", t(30), 3.0)],
        [("a", t(10), 100.0)],          # late but within the 60s span
        [("a", t(40), 5.0)],            # must see the late row in its frame
    ]
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    rows = {
        r["ts_us"]: r
        for r in _run(spark, tmp_path, stream, "sroll_late", duration="1 minute")
    }
    us = lambda s: _EPOCH_US + s * 1_000_000
    # the late row scores against the carried buffer: frame [t10-60, t10]
    # holds {1.0, 100.0} (the t30 point is later than t10 -> excluded)
    assert rows[us(10)]["roll_n"] == 2
    assert rows[us(10)]["roll_sum"] == pytest.approx(101.0)
    # the next in-order row's frame includes the late row
    r40 = rows[us(40)]
    assert r40["roll_n"] == 4
    assert r40["roll_sum"] == pytest.approx(109.0)
    assert r40["roll_max"] == 100.0


def test_frontier_never_regresses_and_eviction(spark, tmp_path):
    t = lambda s: (
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    ).to_pydatetime()
    batches = [
        [("a", t(0), 1.0)],
        [("a", t(200), 2.0)],           # frontier jump; t0 < 200-120 evicted
        [("a", t(90), 50.0)],           # late, older than frontier - span
        [("a", t(210), 4.0)],           # must NOT see t0 or the stale t90
    ]
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    rows = {
        r["ts_us"]: r
        for r in _run(spark, tmp_path, stream, "sroll_guard", duration="1 minute")
    }
    us = lambda s: _EPOCH_US + s * 1_000_000
    assert rows[us(200)]["roll_n"] == 1  # t0 aged out of [140, 200]
    # the out-of-guarantee late row (t90 < frontier - span = 140): frame
    # [30, 90] only holds itself — t0 was evicted at the 2x-span horizon
    # (200 - 120 = 80 > 0), exactly the documented under-fill case
    assert rows[us(90)]["roll_n"] == 1
    # and it must NOT leak into the live frame [150, 210]
    r210 = rows[us(210)]
    assert r210["roll_n"] == 2  # {t200: 2.0, t210: 4.0}
    assert r210["roll_sum"] == pytest.approx(6.0)


def test_in_span_late_row_sees_true_frame_across_eviction(spark, tmp_path):
    """The 2x-span retention guarantee: a late row within span of the
    frontier sees its COMPLETE frame even when that frame reaches below
    frontier - span (the review scenario that 1x-span retention broke)."""
    t = lambda s: (
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    ).to_pydatetime()
    batches = [
        [("a", t(0), 1.0), ("a", t(100), 2.0)],  # frontier 100
        [("a", t(50), 10.0)],  # late, in-span (>= 40); frame [-10, 50]
    ]
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    rows = {
        r["ts_us"]: r
        for r in _run(spark, tmp_path, stream, "sroll_true", duration="1 minute")
    }
    us = lambda s: _EPOCH_US + s * 1_000_000
    r50 = rows[us(50)]
    assert r50["roll_n"] == 2  # t0 retained by the 2x horizon (>= -20)
    assert r50["roll_sum"] == pytest.approx(11.0)
    assert r50["roll_min"] == 1.0 and r50["roll_max"] == 10.0


def test_null_y_scored_but_inert_stream(spark, tmp_path):
    t = lambda s: (
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    ).to_pydatetime()
    batches = [
        [("a", t(0), 2.0), ("a", t(5), None)],
        [("a", t(10), 6.0)],
    ]
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    rows = {
        r["ts_us"]: r
        for r in _run(spark, tmp_path, stream, "sroll_null", duration="1 minute")
    }
    us = lambda s: _EPOCH_US + s * 1_000_000
    assert rows[us(5)]["value"] is None
    assert rows[us(5)]["roll_n"] == 1 and rows[us(5)]["roll_sum"] == 2.0
    assert rows[us(10)]["roll_n"] == 2 and rows[us(10)]["roll_sum"] == 8.0


def test_validation():
    """Validation fires before any streaming machinery touches the frame."""

    class _Fake:
        schema = None

    with pytest.raises(ValueError, match="min_obs"):
        stream_rolling_time_stats(_Fake(), min_obs=0)
    with pytest.raises(ValueError, match="duration"):
        stream_rolling_time_stats(_Fake(), duration="1 month")
