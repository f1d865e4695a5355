"""Streaming trailing-window distinct count == batch rolling_time_distinct
over the same events, with the carried pool straddling micro-batch
boundaries; plus the shared distinct kernel's unit truth."""

import pandas as pd
import pytest
from conftest import make_file_stream, stage_batches
from pyspark.sql import functions as F

from tsdownsample_spark.operators.rolling import (
    _frame_distinct,
    rolling_time_distinct,
)
from tsdownsample_spark.streaming.stream_distinct import (
    stream_rolling_time_distinct,
)

SCHEMA = "event_type string, ts timestamp, value double"
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 in unix micros


def test_sweep_unit_truth():
    """Each [lo, hi) query over ts = 0..5 is the trailing frame of the row
    at ts hi - 1 with span hi - 1 - lo."""
    import numpy as np

    ts = np.array([0, 1, 2, 3, 4, 5], dtype=np.int64)
    vals = np.array([1.0, 2.0, 1.0, 3.0, 2.0, 1.0])
    codes = pd.factorize(vals)[0]
    lo = np.array([0, 0, 1, 2, 3, 5])
    hi = np.array([1, 3, 4, 5, 6, 6])
    got = [
        int(_frame_distinct(ts[:b], codes[:b], b - 1 - a)[-1])
        for a, b in zip(lo, hi)
    ]
    exp = [len(set(vals[a:b])) for a, b in zip(lo, hi)]
    assert got == exp == [1, 2, 3, 3, 3, 1]


def _run(spark, tmp_path, stream, name, **kw):
    out = stream_rolling_time_distinct(stream, by=["event_type"], **kw)
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
def test_stream_distinct_matches_batch(spark, tmp_path, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.col("ts").cast("timestamp_ltz").alias("ts"),
        F.col("user_id").cast("double").alias("value"),
    )
    flat = make_file_stream(spark, ev, tmp_path, time_col="ts")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    key = lambda r: (r["event_type"], r["ts_us"], r["value"])  # noqa: E731
    got = sorted(
        _run(spark, tmp_path, stream, "sdist", duration="6 hours"), key=key
    )
    exp = sorted(
        rolling_time_distinct(
            ev, x_col="ts", y_col="value", by=["event_type"],
            duration="6 hours", impl="grouped",
        )
        .select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
            "value",
            "roll_distinct",
        )
        .collect(),
        key=key,
    )
    assert len(got) == len(exp) > 0
    for gr, er in zip(got, exp):
        assert key(gr) == key(er)
        assert gr["roll_distinct"] == er["roll_distinct"], er


def test_stream_distinct_across_batches_and_dups(spark, tmp_path):
    t = lambda s: (
        pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
    ).to_pydatetime()
    batches = [
        [("a", t(0), 1.0), ("a", t(10), 1.0), ("a", t(20), 2.0)],
        [("a", t(30), 1.0), ("a", t(65), 3.0)],   # t0/t10 age out at t65
        [("a", t(70), None)],                      # NULL scored, not counted
    ]
    flat = stage_batches(spark, tmp_path, batches, SCHEMA)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    rows = {
        r["ts_us"]: r["roll_distinct"]
        for r in _run(spark, tmp_path, stream, "sdist_b", duration="1 minute")
    }
    us = lambda s: _EPOCH_US + s * 1_000_000
    assert rows[us(0)] == 1
    assert rows[us(10)] == 1        # {1,1}
    assert rows[us(20)] == 2        # {1,1,2}
    assert rows[us(30)] == 2        # {1,1,2,1} across the batch boundary
    # frame [5, 65] holds t10=1, t20=2, t30=1, t65=3 -> {1,2,3}
    assert rows[us(65)] == 3
    # frame [10, 70]: t10=1 (inclusive lower edge), t20=2, t30=1, t65=3
    # -> {1,2,3}; the NULL row itself contributes nothing
    assert rows[us(70)] == 3


def test_stream_distinct_validation():
    class _Fake:
        schema = None

    with pytest.raises(ValueError, match="duration"):
        stream_rolling_time_distinct(_Fake(), duration="0 seconds")
