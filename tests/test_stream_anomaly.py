"""Streaming rolling z-score == batch operator (grouped impl, the kernel
both run) over the same events, including frames that straddle the
micro-batch boundary, NULL y, and the warm-up NULL placement; constant
frames score nothing; plus the all-late-batch frontier guard."""

import numpy as np
import pandas as pd
import pytest
from conftest import make_file_stream, stage_batches
from pyspark.sql import functions as F

from tsdownsample_spark.operators.anomaly import rolling_zscore
from tsdownsample_spark.streaming.stream_anomaly import stream_rolling_zscore

SCHEMA = "event_type string, ts timestamp, value double"


@pytest.mark.slow
def test_stream_zscore_matches_batch(spark, tmp_path, sf_dir):
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .dropDuplicates(["event_type", "ts"])
        .select(
            "event_type",
            F.col("ts").cast("timestamp_ltz").alias("ts"),
            # deterministic NULL sprinkle exercises the mask lanes
            F.when(F.col("event_id") % 31 == 0, None)
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    flat = make_file_stream(spark, ev, tmp_path, time_col="ts")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    got = _run(spark, tmp_path, stream, "szscore", window=50, min_obs=10)
    exp = _batch(ev, "grouped", window=50, min_obs=10)
    _assert_matches(got, exp)


def _run(spark, tmp_path, stream, name, **kw):
    out = stream_rolling_zscore(stream, x_col="ts", y_col="value",
                                by=["event_type"], **kw)
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


def _stage(spark, tmp_path, batches):
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )


def _batch(ev, impl, **kw):
    return (
        rolling_zscore(ev, x_col="ts", y_col="value", by=["event_type"],
                       impl=impl, **kw)
        .select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
            "value", "roll_mean", "roll_std", "z", "is_anomaly",
        )
        .collect()
    )


def _assert_matches(got, exp, rel=1e-12):
    """Same rows; every NULL and ``is_anomaly`` exact; mean to ``rel``;
    std to ``rel`` of the data's magnitude (the kernel centres on the mean
    of the rows it is given) and z to that propagated."""
    got = {(r["event_type"], r["ts_us"]): r for r in got}
    assert len(exp) == len(got) > 0
    scale = rel * max(abs(r["value"] or 0.0) for r in exp)
    for er in exp:
        gr = got[(er["event_type"], er["ts_us"])]
        for col in ("roll_mean", "roll_std", "z"):
            assert (er[col] is None) == (gr[col] is None), (er, col)
        assert gr["is_anomaly"] == er["is_anomaly"], er
        if er["roll_mean"] is not None:
            assert gr["roll_mean"] == pytest.approx(er["roll_mean"], rel=rel), er
        if er["roll_std"] is not None:
            assert abs(gr["roll_std"] - er["roll_std"]) <= scale, er
        if er["z"] is not None:
            bound = scale * (1.0 + abs(er["z"])) / er["roll_std"]
            assert abs(gr["z"] - er["z"]) <= bound, er


def test_constant_run_scores_nothing(spark, tmp_path):
    """A constant trailing frame has std exactly 0 and NULL z/is_anomaly
    in the stream, as in ``impl="frame"`` and ``"grouped"``."""
    t = lambda s: pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    lead = [("a", t(i).to_pydatetime(), v) for i, v in enumerate((3.7, 11.2, 0.4))]
    run = [("a", t(10 + i).to_pydatetime(), 0.7) for i in range(40)]
    stream = _stage(spark, tmp_path, [lead + run[:20], run[20:]])
    got = _run(spark, tmp_path, stream, "szscore_flat", window=10, min_obs=5)
    ev = spark.createDataFrame(lead + run, SCHEMA)
    for impl in ("frame", "grouped"):
        exp = _batch(ev, impl, window=10, min_obs=5)
        # frame sums in its own order: mean/std agree to ~1e-9 there
        _assert_matches(got, exp, rel=1e-12 if impl == "grouped" else 1e-9)
        for rows in (exp, got):
            flat_rows = sorted(rows, key=lambda r: r["ts_us"])[13:]
            assert len(flat_rows) == 30
            for r in flat_rows:
                assert r["roll_std"] == 0.0, (impl, r)
                assert r["z"] is None and r["is_anomaly"] is None, (impl, r)


def test_stream_zscore_all_late_batch_does_not_regress_state(spark, tmp_path):
    """An entirely-late micro-batch must leave the carried tail untouched:
    the next in-order point scores against the true trailing frame."""
    t = lambda s: pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    inorder = [("a", t(i).to_pydatetime(), float(v))
               for i, v in enumerate(np.arange(20) % 5)]
    batches = [
        inorder,                                     # 20 in-order points
        [("a", t(5).to_pydatetime() + pd.Timedelta(microseconds=1), 500.0)],  # all late
        [("a", t(30).to_pydatetime(), 100.0)],       # in-order spike
    ]
    stream = _stage(spark, tmp_path, batches)
    got = _run(spark, tmp_path, stream, "szscore_late", window=10, min_obs=5)
    rows = {r["value"]: r for r in got}
    # the spike's trailing frame is the last 10 IN-ORDER values (0..4
    # cycle), NOT polluted by the late 500.0
    tail = np.array([(10 + i) % 5 for i in range(10)], dtype=float)
    exp_mean = tail.mean()
    exp_z = (100.0 - exp_mean) / tail.std(ddof=1)
    assert rows[100.0]["roll_mean"] == pytest.approx(exp_mean, rel=1e-9)
    assert rows[100.0]["z"] == pytest.approx(exp_z, rel=1e-7)
    assert rows[100.0]["is_anomaly"] is True
    with pytest.raises(ValueError, match=">= 2"):
        stream_rolling_zscore(stream, window=1)
