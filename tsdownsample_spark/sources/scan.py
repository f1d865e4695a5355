"""Plain Parquet read inside the Python task ("in-task read").

A token selector over a plain Parquet scan does not need the JVM to read
the files: the plan ``Scan -> MapInArrow`` decodes every row group in the
JVM and then ships the whole token column across the JVM->Python Arrow
socket, while the selector returns only n_out values per series.
:func:`plain_parquet_scan` recognises such an input at build time (a few
py4j calls on the analyzed plan, no Spark job), plans its file splits with
Spark's own split rule, and :func:`map_splits` runs
``spark.range(n, numPartitions=n).mapInArrow(...)``: task ``i`` reads its
splits with pyarrow (column-pruned) and hands the same Arrow batches to the
caller's per-batch function.  Only the results cross a process boundary.

When to use which path (``operators/downsample.py`` decides; both run the
same per-batch selector body):

* **in-task read** — the input is ``spark.read.parquet(...)``, optionally
  projected to plain columns, over local files with no partition columns,
  bucketing or reader options, not cached, not streaming, and every column
  of a type pyarrow and Spark's reader return identically (integral,
  floating, boolean, string, arrays of integral or floating).  On the
  480-document ``tok_preview`` table at ``local[3]`` a minmax query took
  0.19-0.22 s against 0.32-0.44 s through the pipe, and a cycle's Arrow
  traffic fell from 201 MB to 12 MB (BENCH/BASELINE.md "Round-11").
* **Arrow pipe** (``df.mapInArrow``) — every other input: the only way to
  consume an arbitrary plan (filters, joins, caches, other formats).

Splits and batches match Spark's own scan, so the task count and per-task
memory do too: ``maxSplitBytes`` from ``spark.sql.files.maxPartitionBytes``,
``openCostInBytes`` and the parallelism target; byte ranges packed
next-fit-decreasing; a task reads the row groups whose midpoint falls in
its range (parquet-mr's rule); and the per-batch function sees batches
accumulated across row groups and files and cut at
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows or
``maxBytesPerBatch`` bytes.  One difference: where a file is cut into
several splits, the driver reads that file's footer and drops the splits
that hold no row-group midpoint, and the tasks they leave empty, because
an empty Python task still costs tens of ms of a core.  Files read whole
need no footer on the driver.
"""

from __future__ import annotations

import os
import re
from typing import Callable, NamedTuple, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def parquet_footers(files: Sequence[str], max_workers: int = 16) -> list:
    """Parquet footer metadata for every file, read on a thread pool
    (pyarrow releases the GIL during footer I/O), in ``files`` order.

    Driver-side cost is bounded by footer latency x files / max_workers;
    on object storage each footer is a round-trip, so the pool matters even
    more than locally.
    """
    import pyarrow.parquet as pq

    files = list(files)
    if len(files) <= 1:
        return [pq.ParquetFile(f).metadata for f in files]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(files))) as ex:
        return list(ex.map(lambda f: pq.ParquetFile(f).metadata, files))


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType)


def _same_in_pyarrow(dt: T.DataType) -> bool:
    """Types that pyarrow and Spark's Parquet reader return identically."""
    if isinstance(dt, T.ArrayType):
        return isinstance(dt.elementType, _INTEGRAL + _FLOATING)
    return isinstance(dt, _INTEGRAL + _FLOATING + (T.BooleanType, T.StringType))


class ParquetSplits(NamedTuple):
    """An in-task read: per task its ``(file, start, length)`` splits, and
    per output column its Parquet column and Arrow type."""

    tasks: list
    names: list
    columns: list
    types: list
    batch_rows: int
    batch_bytes: int
    case_sensitive: bool


def _attrs(seq) -> list[tuple[str, int]]:
    """(name, expression id) of each attribute of a Scala
    ``Seq[Attribute]``, read in one py4j call (an attribute prints as
    ``name#id`` plus a type suffix)."""
    out = []
    for a in filter(None, seq.mkString("\u0000").split("\u0000")):
        name, rest = a.rsplit("#", 1)
        out.append((name, int(re.match(r"\d+", rest).group())))
    return out


def plan_splits(sizes: Sequence[tuple[str, int]], max_partition_bytes: int,
                open_cost: int, min_partitions: int,
                max_partitions: int | None = None) -> list[list[tuple[str, int, int]]]:
    """Spark's file-split rule (``FilePartition``): cut each file into byte
    ranges of at most ``maxSplitBytes`` and pack them next-fit-decreasing,
    charging ``open_cost`` per range."""
    total = sum(size + open_cost for _, size in sizes)
    max_split = min(max_partition_bytes, max(open_cost, total // max(1, min_partitions)))
    splits = sorted(
        ((f, off, min(max_split, size - off)) for f, size in sizes
         for off in range(0, size, max_split)),
        key=lambda s: -s[2],
    )

    def pack(limit):
        parts, cur, cur_size = [], [], 0
        for s in splits:
            if cur and cur_size + s[2] > limit:
                parts.append(cur)
                cur, cur_size = [], 0
            cur.append(s)
            cur_size += s[2] + open_cost
        return parts + [cur] if cur else parts

    parts = pack(max_split)
    if max_partitions and len(parts) > max_partitions:
        per = sum(s[2] + open_cost for s in splits)
        parts = pack(-(-per // max_partitions))
    return parts


def plain_parquet_scan(df: DataFrame, tasks: int | None = None) -> ParquetSplits | None:
    """The in-task read of ``df`` if ``df`` is a plain Parquet scan (see the
    module docstring), else None.  ``tasks`` overrides the parallelism
    target that sizes the splits (Spark's ``defaultParallelism``)."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None or df.isStreaming:
        return None
    fields = df.schema.fields
    if not all(_same_in_pyarrow(f.dataType) for f in fields):
        return None
    # cached fragments of the plan show up here as InMemoryRelation
    node = jdf.queryExecution().withCachedData()
    out_ids = [i for _, i in _attrs(node.output())]
    while (kind := node.getClass().getSimpleName()) in ("Project", "SubqueryAlias"):
        if kind == "Project":
            items = node.projectList()
            if not all(items.apply(i).getClass().getSimpleName() == "AttributeReference"
                       for i in range(items.length())):
                return None
        node = node.child()
    if kind != "LogicalRelation":
        return None
    rel = node.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.partitionSchema().length()
        or rel.bucketSpec().isDefined()
    ):
        return None
    options = rel.options().keys().mkString("\u0000").split("\u0000")
    if set(options) - {"", "path", "paths"}:
        return None
    by_id = {i: name for name, i in _attrs(node.output())}
    if any(i not in by_id for i in out_ids):
        return None
    jvm = df.sparkSession._jvm
    uris = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        rel.location().inputFiles()
    ).mkString("\u0000")
    files = []
    for uri in filter(None, uris.split("\u0000")):
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        files.append(unquote(u.path))
    jspark = df.sparkSession._jsparkSession
    conf = jspark.sessionState().conf()
    if tasks is None:
        floor = conf.filesMinPartitionNum()
        tasks = floor.get() if floor.isDefined() else jspark.leafNodeDefaultParallelism()
    cap = conf.filesMaxPartitionNum()
    plan = plan_splits(
        [(f, os.path.getsize(f)) for f in files],
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
        tasks,
        cap.get() if cap.isDefined() else None,
    )
    # A split that holds no row-group midpoint reads nothing, yet its Python
    # task costs tens of ms of a core where Spark's JVM task costs about a
    # footer read.  Only a file cut into several splits can leave one
    # empty, so read just those footers and drop the splits and tasks left
    # empty.
    cut = sorted({f for part in plan for f, off, _ in part if off})
    if cut:
        mids = {f: _row_group_midpoints(md) for f, md in zip(cut, parquet_footers(cut))}

        def holds_row_group(f, start, length):
            return f not in mids or any(start <= m < start + length for m in mids[f])

        plan = [kept for part in plan if (kept := [s for s in part if holds_row_group(*s)])]

    from pyspark.sql.pandas.types import to_arrow_type

    return ParquetSplits(
        tasks=plan,
        names=[f.name for f in fields],
        columns=[by_id[i] for i in out_ids],
        types=[to_arrow_type(f.dataType) for f in fields],
        batch_rows=conf.arrowMaxRecordsPerBatch(),
        batch_bytes=conf.arrowMaxBytesPerBatch(),
        case_sensitive=conf.caseSensitiveAnalysis(),
    )


def _row_group_midpoints(md) -> list[int]:
    """parquet-mr's split rule: a row group belongs to the split holding
    its first column chunk's start plus half its compressed size."""
    out = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        first = rg.column(0)
        start = first.data_page_offset
        if first.has_dictionary_page:
            start = min(start, first.dictionary_page_offset)
        size = sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))
        out.append(start + size // 2)
    return out


def read_splits(scan: ParquetSplits, splits: Sequence[tuple[str, int, int]]):
    """Task side: yield RecordBatches (``scan.names`` columns, ``scan.types``
    types) from ``splits``, accumulated across row groups and files and cut,
    as Spark cuts the pipe's batches, at ``scan.batch_rows`` rows or once
    they hold ``scan.batch_bytes`` bytes.  A column missing from a file
    reads as nulls, as in Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    max_rows = scan.batch_rows if scan.batch_rows > 0 else 1 << 62
    max_bytes = scan.batch_bytes if scan.batch_bytes > 0 else 1 << 62
    pending = []

    def emit(n):
        tbl = pa.Table.from_batches(pending).combine_chunks()
        pending[:] = tbl.slice(n).to_batches()
        return tbl.slice(0, n).to_batches()[0]

    for path, start, length in splits:
        with pq.ParquetFile(path) as pf:
            md = pf.metadata
            rgs = [g for g, m in enumerate(_row_group_midpoints(md))
                   if start <= m < start + length]
            if not rgs:
                continue
            have = pf.schema_arrow.names
            fold = {} if scan.case_sensitive else {n.lower(): n for n in have}
            src = [c if c in have else fold.get(c.lower()) for c in scan.columns]
            read = sorted({c for c in src if c is not None}, key=have.index)
            # read in steps small enough for the byte cap to cut between them
            row_bytes = max(md.row_group(g).total_byte_size / max(1, md.row_group(g).num_rows)
                            for g in rgs)
            step = int(max(1, min(max_rows, 1 << 20, max_bytes // max(1.0, row_bytes))))
            for b in pf.iter_batches(batch_size=step, row_groups=rgs, columns=read,
                                     use_threads=False):
                cols = [pa.nulls(b.num_rows, t) if c is None
                        else b.column(read.index(c)).cast(t)
                        for c, t in zip(src, scan.types)]
                pending.append(pa.RecordBatch.from_arrays(cols, names=scan.names))
                while sum(p.num_rows for p in pending) >= max_rows:
                    yield emit(max_rows)
                if sum(p.nbytes for p in pending) >= max_bytes:
                    yield emit(sum(p.num_rows for p in pending))
    held = sum(p.num_rows for p in pending)
    if held:
        yield emit(held)


def map_splits(spark: SparkSession, scan: ParquetSplits,
               fn: Callable, schema: T.StructType) -> DataFrame:
    """``fn`` over every batch of the in-task read: one Spark task per
    split group, ``spark.range(n, numPartitions=n).mapInArrow(...)``."""

    def _task(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                for batch in read_splits(scan, scan.tasks[i]):
                    yield fn(batch)

    n = len(scan.tasks)
    return spark.range(n, numPartitions=max(1, n)).mapInArrow(_task, schema)


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
    """Downsample every series of a Parquet token table:
    returns (keys..., sel_idx, sel_tokens).

    ``downsample_tokens(spark.read.parquet(path).select(*keys, tokens_col),
    output="select")``, which reads the files inside the Python task.
    ``tasks`` overrides the parallelism target of the split plan (default:
    Spark's ``defaultParallelism``, as Spark's own scan).
    """
    from tsdownsample_spark.operators.downsample import _arrow_downsample_specs, _validate
    from tsdownsample_spark.plans.shipping import ship_package

    _validate(algo, n_out)
    ship_package(spark)
    df = spark.read.parquet(path).select(*keys, tokens_col)
    return _arrow_downsample_specs(
        df, [(algo, n_out, "sel_idx", "sel_tokens")], tokens_col, "select",
        tasks=tasks, **kw,
    )
