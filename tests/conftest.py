import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from tsdownsample_spark.plans.session import get_spark

    s = get_spark(app_name="tsdownsample-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def make_file_stream(spark, df, tmp_path, seed=1, time_col=None):
    """Stage ``df`` as a flat directory of numbered parquet files for a
    maxFilesPerTrigger=1 file stream: two parts via randomSplit(seed), or —
    when ``time_col`` is given — split at the median of that column with
    file mtimes pinned so batch 1 strictly precedes batch 2 (for stateful
    operators whose cross-batch carry is under test).  Returns the dir."""
    import os as _os
    import shutil as _shutil
    import time as _time

    from pyspark.sql import functions as _F

    if time_col is None:
        a, b = df.randomSplit([0.5, 0.5], seed=seed)
    else:
        cut = df.selectExpr(
            f"percentile_approx(CAST({time_col} AS DOUBLE), 0.5) p"
        ).collect()[0]["p"]
        a = df.filter(_F.col(time_col).cast("double") <= cut)
        b = df.filter(_F.col(time_col).cast("double") > cut)
    flat = str(tmp_path / "flat_stream_in")
    _os.makedirs(flat)
    i, now = 0, _time.time()
    for j, part in enumerate((a, b)):
        d = str(tmp_path / f"_stream_part{j}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        for f in sorted(_os.listdir(d)):
            if f.endswith(".parquet"):
                dst = f"{flat}/{i:04d}.parquet"
                _shutil.copy(_os.path.join(d, f), dst)
                if time_col is not None:
                    _os.utime(dst, (now - 120 + 60 * j, now - 120 + 60 * j))
                i += 1
    return flat


def stage_batches(spark, tmp_path, batches, schema):
    """Write each row-list as one parquet file with ascending mtimes so a
    maxFilesPerTrigger=1 file stream replays them as ordered micro-batches
    (explicit-batch sibling of make_file_stream).  Returns the dir."""
    import os as _os
    import shutil as _shutil
    import time as _time

    flat = str(tmp_path / "flat_batches_in")
    _os.makedirs(flat)
    now = _time.time()
    for j, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        d = str(tmp_path / f"_batch{j}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        for f in sorted(_os.listdir(d)):
            if f.endswith(".parquet"):
                dst = f"{flat}/{j:04d}.parquet"
                _shutil.copy(_os.path.join(d, f), dst)
                _os.utime(dst, (now - 600 + 60 * j, now - 600 + 60 * j))
    return flat


@contextlib.contextmanager
def timestamp_type(spark, ts_type):
    """Run a block under ``spark.sql.timestampType=ts_type``, restoring the
    previous setting afterwards."""
    prev = spark.conf.get("spark.sql.timestampType", None)
    spark.conf.set("spark.sql.timestampType", ts_type)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.timestampType")
        else:
            spark.conf.set("spark.sql.timestampType", prev)
