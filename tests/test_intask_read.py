"""Token selectors over plain Parquet read their files inside the Python
task (sources/scan.py).  The in-task read must give exactly what the Arrow
pipe path gives (forced here with a composed input) and what the flat
kernel gives on the pyarrow-read table, for every algorithm and output
shape; inputs it cannot read identically must keep the pipe plan; and its
split plan must match Spark's own scan."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tsdownsample_spark.kernels.flat import flat_downsample
from tsdownsample_spark.operators.downsample import (
    downsample_tokens,
    downsample_tokens_multi,
    downsample_tokens_pyramid,
)
from tsdownsample_spark.sources.scan import (
    plain_parquet_scan,
    read_splits,
    scan_downsample_tokens,
)

ALGO_NOUT = [
    ("minmax", 40),
    ("m4", 40),
    ("lttb", 41),
    ("minmaxlttb", 40),
    ("everynth", 40),
    ("nanminmax", 40),
    ("nanm4", 40),
    ("nanminmaxlttb", 40),
]
ALGOS = [a for a, _ in ALGO_NOUT]
TOKEN_COLS = ("tokens", "tokens_i64", "tokens_f64")


def token_table(seed: int, rows: int, prefix: str) -> pa.Table:
    """doc_id / k / flag keys and three token columns (int32, int64 and
    float64 with NaNs) holding null rows, empty lists and short and long
    sequences."""
    rng = np.random.default_rng(seed)
    seqs = []
    for i in range(rows):
        if i % 11 == 3:
            seqs.append(None)
        elif i % 13 == 5:
            seqs.append(np.array([], dtype=np.int64))
        else:
            seqs.append(rng.integers(0, 50_257, int(rng.integers(1, 700))))

    def col(dtype, nan=False):
        out = []
        for s in seqs:
            if s is None:
                out.append(None)
                continue
            v = s.astype(dtype)
            if nan and len(v) > 5:
                v[rng.integers(0, len(v), 2)] = np.nan
            out.append(v)
        return pa.array(out, type=pa.list_(pa.from_numpy_dtype(dtype)))

    return pa.table({
        "doc_id": pa.array([f"{prefix}{i:04d}" for i in range(rows)]),
        "k": pa.array(np.arange(rows, dtype=np.int64) * 3),
        "flag": pa.array(np.arange(rows) % 2 == 0),
        "tokens": col(np.int32),
        "tokens_i64": col(np.int64),
        "tokens_f64": col(np.float64, nan=True),
    })


@pytest.fixture(scope="module")
def token_dir(tmp_path_factory):
    """Four files of several row groups each."""
    d = tmp_path_factory.mktemp("intask") / "toks"
    d.mkdir()
    for f in range(4):
        pq.write_table(token_table(100 + f, 45, f"f{f}_"),
                       str(d / f"part-{f}.parquet"), row_group_size=8)
    return str(d)


def canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, float) and v != v:
        return "nan"
    return v


def rows_of(df) -> list:
    return sorted((canon(list(r)) for r in df.collect()), key=repr)


def kernel_reference(table: pa.Table, tokens_col: str, n_out: int, algo: str) -> dict:
    """doc_id -> (selected indices, selected tokens) from the flat kernel
    on the pyarrow-read table; null rows select (None, None)."""
    col = table.column(tokens_col).combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    values = col.values.to_numpy(zero_copy_only=False)
    idx, out_off = flat_downsample(values, offsets, n_out, algo)
    out = {}
    for r, doc in enumerate(table.column("doc_id").to_pylist()):
        if not col[r].is_valid:
            out[doc] = (None, None)
            continue
        sel = idx[out_off[r]:out_off[r + 1]]
        out[doc] = (canon(sel.tolist()), canon(values[sel + offsets[r]].tolist()))
    return out


def selections(df, idx_col: str, tok_col: str | None) -> dict:
    out = {}
    for r in df.collect():
        toks = canon(r[tok_col]) if tok_col else None
        out[r["doc_id"]] = (canon(r[idx_col]), toks)
    return out


def piped(df):
    """The same rows through a composed plan, which keeps the Arrow pipe."""
    out = df.where(F.lit(True))
    assert plain_parquet_scan(out) is None
    return out


def _ref(table, tokens_col, n_out, algo, gather):
    ref = kernel_reference(table, tokens_col, n_out, algo)
    return ref if gather else {k: (v[0], None) for k, v in ref.items()}


@pytest.mark.parametrize("output", ["select", "append"])
@pytest.mark.parametrize("algo,n_out", ALGO_NOUT)
def test_single_and_pyramid_match_pipe_and_kernel(spark, token_dir, algo, n_out, output):
    df = spark.read.parquet(token_dir)
    assert plain_parquet_scan(df) is not None
    table = pq.read_table(token_dir)
    gather = output == "select"

    got = downsample_tokens(df, n_out, algo=algo, output=output)
    assert rows_of(got) == rows_of(downsample_tokens(piped(df), n_out, algo=algo,
                                                     output=output))
    assert selections(got, "sel_idx", "sel_tokens" if gather else None) == \
        _ref(table, "tokens", n_out, algo, gather)

    levels = (n_out, 2 * n_out)
    pyr = downsample_tokens_pyramid(df, levels, algo=algo, output=output)
    assert rows_of(pyr) == rows_of(downsample_tokens_pyramid(piped(df), levels,
                                                             algo=algo, output=output))
    for n in levels:
        assert selections(pyr, f"sel_idx_{n}", f"sel_tokens_{n}" if gather else None) == \
            _ref(table, "tokens", n, algo, gather)


@pytest.mark.parametrize("output", ["select", "append"])
def test_multi_matches_pipe_and_kernel(spark, token_dir, output):
    df = spark.read.parquet(token_dir)
    table = pq.read_table(token_dir)
    gather = output == "select"
    got = downsample_tokens_multi(df, 40, algos=ALGOS, output=output)
    assert rows_of(got) == rows_of(downsample_tokens_multi(piped(df), 40, algos=ALGOS,
                                                           output=output))
    for a in ALGOS:
        assert selections(got, f"sel_idx_{a}", f"sel_tokens_{a}" if gather else None) == \
            _ref(table, "tokens", 40, a, gather), a


@pytest.mark.parametrize("tokens_col", TOKEN_COLS)
def test_element_types_and_reordered_projections(spark, token_dir, tokens_col):
    """int32 / int64 / float64 elements, read through projections that
    reorder and rename-by-case the columns."""
    table = pq.read_table(token_dir)
    base = spark.read.parquet(token_dir)
    for df in (
        base.select(tokens_col, "flag", "doc_id"),
        base.select("K", tokens_col, "DOC_ID").select("doc_id", tokens_col, "k"),
    ):
        assert plain_parquet_scan(df) is not None
        for algo, n_out in (("minmax", 40), ("lttb", 41), ("nanm4", 40)):
            got = downsample_tokens(df, n_out, algo=algo, tokens_col=tokens_col,
                                    output="select")
            assert got.columns == [c for c in df.columns if c != tokens_col] + [
                "sel_idx", "sel_tokens"]
            assert rows_of(got) == rows_of(downsample_tokens(
                piped(df), n_out, algo=algo, tokens_col=tokens_col, output="select"))
            assert selections(got, "sel_idx", "sel_tokens") == \
                kernel_reference(table, tokens_col, n_out, algo)


def test_user_schema_case_and_missing_column(spark, token_dir):
    """A user-given schema may name file columns in another case (Spark
    matches them case-insensitively) and name columns no file holds (read
    as nulls); the in-task read returns what the pipe returns."""
    df = spark.read.schema("DOC_ID string, TOKENS array<int>, extra bigint").parquet(token_dir)
    assert plain_parquet_scan(df) is not None
    got = downsample_tokens(df, 40, algo="m4", tokens_col="TOKENS", output="append")
    rows = rows_of(got)
    assert rows == rows_of(downsample_tokens(piped(df), 40, algo="m4", tokens_col="TOKENS",
                                             output="append"))
    assert len(rows) == 180 and all(r[2] is None for r in rows)
    ref = kernel_reference(pq.read_table(token_dir), "tokens", 40, "m4")
    assert {r[0]: r[3] for r in rows} == {k: v[0] for k, v in ref.items()}


def test_file_split_across_tasks(spark, tmp_path):
    """A file larger than maxPartitionBytes is cut into byte ranges read by
    different tasks; every row group is read once."""
    d = tmp_path / "big"
    d.mkdir()
    pq.write_table(token_table(7, 400, "b"), str(d / "part-0.parquet"), row_group_size=10)
    pq.write_table(token_table(8, 30, "s"), str(d / "part-1.parquet"), row_group_size=10)
    table = pq.read_table(str(d))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024))
    try:
        df = spark.read.parquet(str(d))
        scan = plain_parquet_scan(df)
        big = str(d / "part-0.parquet")
        assert sum(1 for t in scan.tasks for f, _, _ in t if f == big) > 2
        assert len(scan.tasks) <= df.rdd.getNumPartitions()
        assert all(sum(b.num_rows for b in read_splits(scan, t)) for t in scan.tasks)
        got = downsample_tokens(df, 40, algo="minmaxlttb", output="select")
        assert got.rdd.getNumPartitions() == len(scan.tasks)
        assert selections(got, "sel_idx", "sel_tokens") == \
            kernel_reference(table, "tokens", 40, "minmaxlttb")
        assert got.count() == table.num_rows
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_splits_without_a_row_group_plan_no_task(spark, tmp_path, monkeypatch):
    """A file cut into more splits than it has row groups leaves splits
    that read nothing: the driver reads the footer of that file alone and
    plans no task for them."""
    from tsdownsample_spark.sources import scan as scan_mod

    d = tmp_path / "wide"
    d.mkdir()
    big = str(d / "part-0.parquet")
    pq.write_table(token_table(9, 400, "w"), big, row_group_size=200)
    pq.write_table(token_table(10, 5, "s"), str(d / "part-1.parquet"))
    table = pq.read_table(str(d))
    footers = []
    real = scan_mod.parquet_footers
    monkeypatch.setattr(scan_mod, "parquet_footers",
                        lambda files: footers.extend(files) or real(files))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024))
    try:
        df = spark.read.parquet(str(d))
        scan = plain_parquet_scan(df)
        assert footers == [big]
        assert len(scan.tasks) == 3 < df.rdd.getNumPartitions()
        assert all(sum(b.num_rows for b in read_splits(scan, t)) for t in scan.tasks)
        got = downsample_tokens(df, 41, algo="lttb", output="select")
        assert got.rdd.getNumPartitions() == 3
        assert selections(got, "sel_idx", "sel_tokens") == \
            kernel_reference(table, "tokens", 41, "lttb")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_batches_accumulate_across_row_groups_and_files(spark, token_dir):
    """Task-side batches hold up to maxRecordsPerBatch rows (and about
    maxBytesPerBatch bytes), gathered across row groups and files: one
    kernel call per batch, not per file."""
    df = spark.read.parquet(token_dir)
    scan = plain_parquet_scan(df)._replace(batch_rows=50)
    splits = [s for t in scan.tasks for s in t]
    sizes = [b.num_rows for b in read_splits(scan, splits)]
    assert sizes == [50, 50, 50, 30]
    # a byte cap cuts batches too: here, after every row
    sizes = [b.num_rows for b in read_splits(scan._replace(batch_bytes=1), splits)]
    assert sizes == [1] * 180
    assert plain_parquet_scan(df).batch_rows == int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))


def test_empty_table(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    pq.write_table(token_table(1, 0, "e"), str(d / "part-0.parquet"))
    df = spark.read.parquet(str(d))
    assert plain_parquet_scan(df) is not None
    assert downsample_tokens(df, 40, output="select").collect() == []
    assert downsample_tokens_multi(df, 40, algos=ALGOS).collect() == []


def _fallback_inputs(spark, token_dir, tmp_path):
    table = pq.read_table(token_dir)
    hive = tmp_path / "hive"
    for part in (0, 1):
        (hive / f"part_no={part}").mkdir(parents=True)
        pq.write_table(table.filter(pa.array((np.arange(table.num_rows) % 2) == part)),
                       str(hive / f"part_no={part}" / "data.parquet"))
    ts = tmp_path / "ts"
    ts.mkdir()
    pq.write_table(
        table.append_column("at", pa.array(np.arange(table.num_rows) * 10**6,
                                           type=pa.timestamp("us"))),
        str(ts / "part-0.parquet"),
    )
    return {
        "filtered": spark.read.parquet(token_dir).where(F.col("k") >= 0),
        "hive_partitioned": spark.read.parquet(str(hive)),
        "merge_schema": spark.read.option("mergeSchema", "true").parquet(token_dir),
        "timestamp_column": spark.read.parquet(str(ts)),
    }


def test_fallbacks_keep_pipe_plan_and_results(spark, token_dir, tmp_path):
    """Inputs the in-task read cannot take keep ``FileScan -> MapInArrow``
    (or the cached relation) and give the same selections."""
    ref = kernel_reference(pq.read_table(token_dir), "tokens", 40, "m4")

    def check(name, df, leaf):
        assert plain_parquet_scan(df) is None, name
        out = downsample_tokens(df, 40, algo="m4", output="select")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and leaf in plan, name
        assert selections(out, "sel_idx", "sel_tokens") == ref, name

    for name, df in _fallback_inputs(spark, token_dir, tmp_path).items():
        check(name, df, "FileScan parquet")
    cached = spark.read.parquet(token_dir).cache()
    try:
        check("cached", cached, "InMemoryTableScan")
        check("cached, projected", spark.read.parquet(token_dir).select("doc_id", "tokens"),
              "InMemoryTableScan")
    finally:
        cached.unpersist()
    assert plain_parquet_scan(spark.read.parquet(token_dir)) is not None


def test_planner_1k_files_matches_spark_and_reads_each_row_group_once(
    spark, tmp_path, monkeypatch
):
    """1k files: the driver plans from file sizes alone (no footer read),
    the task count equals Spark's own scan at 2 MB, 8 MB and the default
    maxPartitionBytes, and the tasks read every row group exactly once."""
    d = tmp_path / "many"
    d.mkdir()
    for i in range(1000):
        n = 1 + i % 5
        pq.write_table(
            pa.table({
                "doc_id": pa.array([f"{i}-{j}" for j in range(n)]),
                "tokens": pa.array([[1, 2, 3]] * n, type=pa.list_(pa.int32())),
            }),
            str(d / f"part-{i:05d}.parquet"),
            row_group_size=2,
        )
    df = spark.read.parquet(str(d))
    expect = sorted(f"{i}-{j}" for i in range(1000) for j in range(1 + i % 5))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")

    def no_footer(*a, **k):
        raise AssertionError("the driver read a Parquet footer")

    try:
        for mpb in ("2MB", "8MB", prev):
            spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            with monkeypatch.context() as m:
                m.setattr(pq, "ParquetFile", no_footer)
                m.setattr(pq, "read_metadata", no_footer)
                scan = plain_parquet_scan(df)
            assert len(scan.tasks) == spark.read.parquet(str(d)).rdd.getNumPartitions(), mpb
            read = [doc for t in scan.tasks for b in read_splits(scan, t)
                    for doc in b.column(0).to_pylist()]
            assert sorted(read) == expect, mpb
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_scan_downsample_tokens_tasks_sets_parallelism(spark, token_dir):
    """``tasks=`` is the parallelism target of the split plan; the
    selections do not depend on it."""
    ref = kernel_reference(pq.read_table(token_dir), "tokens", 48, "minmax")
    for tasks in (1, 3, 64):
        out = scan_downsample_tokens(spark, token_dir, 48, algo="minmax", tasks=tasks)
        assert out.columns == ["doc_id", "sel_idx", "sel_tokens"]
        assert selections(out, "sel_idx", "sel_tokens") == ref
    # four small files: one task holds them all, 64 targets one per file
    assert scan_downsample_tokens(spark, token_dir, 48, tasks=1).rdd.getNumPartitions() == 1
    assert scan_downsample_tokens(spark, token_dir, 48, tasks=64).rdd.getNumPartitions() == 4
