"""Short-circuit parquet scan + downsample ("kernel-side scan").

``scan_downsample_tokens`` plans one Spark task per row-group batch; each
task opens its parquet row groups DIRECTLY with pyarrow (column pruning
pushed into the reader) and runs the flat selector kernel on the Arrow
buffers — the bulk token data never crosses the JVM->Python Arrow socket.
Output per series is only (keys..., sel_idx, sel_tokens): n_out values,
not n.

When to use which path (measured on the bench host, 200 M pts, 32 cores):

* ``downsample_tokens`` (operators/downsample.py) — composable inside any
  DataFrame plan; Catalyst prunes/pushes the scan; costs one JVM->Python
  Arrow hop for the token column (~180-190 M pts/s end-to-end here, pipe-
  bound: the kernel itself overlaps to zero added wall time).
* ``scan_downsample_tokens`` — a leaf source, not composable upstream; on
  this bandwidth-capped host it matches the pipe path (~190 M pts/s), but
  on hosts where the JVM hop is the binding constraint (fast NVMe, high
  memory bandwidth, many cores) it removes that leg entirely.  It is also
  the shape that generalizes to remote object storage: tasks fetch + decode
  + reduce locally and ship back only selections.  At small sizes it is
  slower, not equal: on a 480-document table (~7.7 M pts, 24 files) at
  ``local[3]`` one minmax query took ~1.0 s against ~0.4 s for
  ``downsample_tokens``.  Its fixed per-query steps (driver footer reads,
  a ``createDataFrame`` of the task plan, a schema read, then a
  ``repartition`` shuffle before the scan tasks) outweigh the Arrow hop it
  saves (BENCH/BASELINE.md "Round-8").

Task planning: row groups are packed greedily into ``tasks`` batches by
compressed byte size, so skewed row groups don't straggle.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _list_parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return [path]


def parquet_footers(files: Sequence[str], max_workers: int = 16) -> list:
    """Parquet footer metadata for every file, read on a thread pool
    (pyarrow releases the GIL during footer I/O), in ``files`` order.

    Driver-side planning cost is bounded by footer latency x files /
    max_workers; on object storage each footer is a round-trip, so the
    pool matters even more than locally.  Above ~10^4 files stop reading
    footers at all: consult the table format's own metadata instead
    (SnapshotTable manifests carry file lists; Iceberg manifests carry
    per-file row counts and sizes) — plan_row_group_tasks is the
    direct-parquet path, not the catalog path.
    """
    import pyarrow.parquet as pq

    files = list(files)
    if len(files) <= 1:
        return [pq.ParquetFile(f).metadata for f in files]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(files))) as ex:
        return list(ex.map(lambda f: pq.ParquetFile(f).metadata, files))


def plan_row_group_tasks(path: str, tasks: int) -> list[tuple[str, list[int]]]:
    """(file, row_group_ids) batches, greedily balanced by compressed size."""
    files = _list_parquet_files(path)
    per_file: list[tuple[str, int, int]] = []  # (file, rg, bytes)
    for f, md in zip(files, parquet_footers(files)):
        for rg in range(md.num_row_groups):
            per_file.append((f, rg, md.row_group(rg).total_byte_size))
    if not per_file:
        raise ValueError(f"no parquet row groups under {path!r}")
    tasks = max(1, min(tasks, len(per_file)))
    # greedy: biggest row group into the lightest task (keeps files together
    # only by accident — each (file, rg) is independent anyway)
    buckets: list[list[tuple[str, int]]] = [[] for _ in range(tasks)]
    load = [0] * tasks
    for f, rg, sz in sorted(per_file, key=lambda t: -t[2]):
        i = load.index(min(load))
        buckets[i].append((f, rg))
        load[i] += sz
    out = []
    for b in buckets:
        if not b:
            continue
        by_file: dict[str, list[int]] = {}
        for f, rg in b:
            by_file.setdefault(f, []).append(rg)
        out.extend((f, sorted(rgs)) for f, rgs in by_file.items())
    return out


def scan_downsample_tokens(
    spark: SparkSession,
    path: str,
    n_out: int,
    algo: str = "minmax",
    tokens_col: str = "tokens",
    keys: Sequence[str] = ("doc_id",),
    tasks: int | None = None,
    **kw,
) -> DataFrame:
    """Downsample every series of a parquet token table without shipping the
    token column through the JVM: returns (keys..., sel_idx, sel_tokens).

    ``tasks`` defaults to 2x the scheduler's default parallelism.  Only
    ``keys`` + ``tokens_col`` are read (column pruning in pyarrow).
    """
    from tsdownsample_spark.operators.downsample import _validate
    from tsdownsample_spark.plans.shipping import ship_package

    _validate(algo, n_out)
    ship_package(spark)
    keys = list(keys)
    if tasks is None:
        tasks = 2 * spark.sparkContext.defaultParallelism
    plan = plan_row_group_tasks(path, tasks)
    tasks_df = spark.createDataFrame(
        plan, "file string, rgs array<int>"
    ).repartition(len(plan))

    # output schema: key columns with their Spark-mapped types + selections
    src_schema = spark.read.parquet(path).schema
    elem_type = src_schema[tokens_col].dataType.elementType
    out_schema = T.StructType(
        [src_schema[k] for k in keys]
        + [
            T.StructField("sel_idx", T.ArrayType(T.LongType())),
            T.StructField("sel_tokens", T.ArrayType(elem_type)),
        ]
    )
    read_cols = keys + [tokens_col]

    def _scan(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tsdownsample_spark.kernels.flat import select_and_gather

        for b in batches:
            for fname, rgs in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                tbl = pq.ParquetFile(fname).read_row_groups(
                    rgs, columns=read_cols, use_threads=False
                )
                sel_arr, tok_arr = select_and_gather(
                    tbl.column(tokens_col), n_out, algo, **kw
                )
                yield pa.RecordBatch.from_arrays(
                    [tbl.column(k).combine_chunks() for k in keys] + [sel_arr, tok_arr],
                    names=keys + ["sel_idx", "sel_tokens"],
                )

    return tasks_df.mapInArrow(_scan, out_schema)
