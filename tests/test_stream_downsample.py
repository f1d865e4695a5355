"""Streaming MinMax tier: incremental file-stream ingestion must produce the
same per-window (argmin, argmax) pairs as a batch re-derivation."""

import os
import shutil

import pytest
from conftest import timestamp_type
from pyspark.sql import Window
from pyspark.sql import functions as F

from tsdownsample_spark.streaming.stream_downsample import stream_minmax


def _batch_expected(ev):
    """Batch mirror: per (event_type, minute) the (min v, earliest ts) and
    (max v, earliest ts) points."""
    b = ev.withColumn("bucket_ts", F.date_trunc("minute", "ts"))
    wmin = Window.partitionBy("event_type", "bucket_ts").orderBy(
        F.asc("value"), F.asc("ts")
    )
    wmax = Window.partitionBy("event_type", "bucket_ts").orderBy(
        F.desc("value"), F.asc("ts")
    )
    wc = Window.partitionBy("event_type", "bucket_ts")
    return (
        b.withColumn("rmin", F.row_number().over(wmin))
        .withColumn("rmax", F.row_number().over(wmax))
        .withColumn("n_points", F.count("*").over(wc))
        .withColumn("min_row", F.when(F.col("rmin") == 1, F.struct("value", "ts")))
        .withColumn("max_row", F.when(F.col("rmax") == 1, F.struct("value", "ts")))
        .groupBy("event_type", "bucket_ts")
        .agg(
            F.max("n_points").alias("n_points"),
            F.min("min_row").alias("mn"),
            F.min("max_row").alias("mx"),
        )
        .select(
            "event_type",
            "bucket_ts",
            "n_points",
            F.col("mn.value").alias("min_value"),
            F.col("mn.ts").alias("min_ts"),
            F.col("mx.value").alias("max_value"),
            F.col("mx.ts").alias("max_ts"),
        )
    )


@pytest.mark.slow
@pytest.mark.parametrize("ts_type", ["TIMESTAMP_LTZ", "TIMESTAMP_NTZ"])
def test_stream_minmax_matches_batch(spark, tmp_path, sf_dir, ts_type):
    """Run under both spark.sql.timestampType settings.  The event time
    stays TIMESTAMP_LTZ (watermarks reject NTZ); under TIMESTAMP_NTZ a bare
    "timestamp" cast inside the operator would turn it into NTZ."""
    with timestamp_type(spark, ts_type):
        _stream_vs_batch(spark, tmp_path, sf_dir)


def _stream_vs_batch(spark, tmp_path, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("ts").cast("timestamp_ltz").alias("ts"), "value"
    )
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    a, b = ev.randomSplit([0.5, 0.5], seed=2)
    a.write.mode("overwrite").parquet(str(tmp_path / "b1"))
    b.write.mode("overwrite").parquet(str(tmp_path / "b2"))
    i = 0
    for sub in ("b1", "b2"):
        for f in os.listdir(tmp_path / sub):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / sub / f), f"{flat}/{i:04d}.parquet")
                i += 1

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = stream_minmax(stream, "1 minute", by=["event_type"])
    q = (
        out.writeStream.format("memory")
        .queryName("mm1m")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = ["event_type", "bucket_ts", "n_points", "min_value", "min_ts",
            "max_value", "max_ts"]
    got = sorted(tuple(r) for r in spark.table("mm1m").select(*cols).collect())
    exp = sorted(tuple(r) for r in _batch_expected(ev).select(*cols).collect())
    assert got == exp
