"""Spark downsampling operators.

Two physical shapes, both shuffle-free where possible:

* **Token-table form** ("no x" mode, BASELINE input_hint): one row per
  series, ``tokens: array<int32>``.  ``downsample_tokens`` is a *narrow map*
  — ``mapInArrow`` computing selected indices per row: zero shuffle,
  embarrassingly parallel across partitions, scales linearly with
  executors.  Over a plain Parquet scan the plan is
  ``Range -> MapInArrow`` and each task reads its file splits with pyarrow
  (sources/scan.py), so the token column never enters the JVM; any other
  input keeps ``<input plan> -> MapInArrow`` over the JVM->Python Arrow
  pipe.  Inside the map, the whole Arrow batch of series is downsampled in
  one vectorized pass over the list column's (values, offsets) buffers
  (kernels.flat).  ``impl="jvm"`` runs the MinMax/M4/EveryNth selectors as
  Catalyst expressions instead.

* **Long (exploded) form** ("with x" mode): rows ``(series key, x, y)``.
  ``downsample_series`` groups by the series key (one shuffle — unavoidable:
  the selector semantics need the whole series ordered) and runs the kernel
  per group via ``applyInPandas``.  At 100 TB the shuffle is bounded by
  pre-partitioning the source table by the same key (see plans.partitioning)
  so the exchange collapses to a local sort.

Value gathering stays JVM-side (``transform`` + ``element_at``) — no second
UDF round-trip for materializing selected values.

Reference semantics: tsdownsample's selector contract
(tsdownsample/downsampling_interface.py:104-135); see kernels.selectors.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsdownsample_spark.kernels.selectors import downsample_array

ALGOS = (
    "minmax",
    "nanminmax",
    "m4",
    "nanm4",
    "lttb",
    "minmaxlttb",
    "nanminmaxlttb",
    "everynth",
)


def _validate(algo: str, n_out: int) -> None:
    if algo not in ALGOS:
        raise ValueError(f"unknown algo {algo!r}; one of {ALGOS}")
    if n_out <= 0:
        raise ValueError("n_out must be positive")
    if algo in ("minmax", "nanminmax") and n_out % 2:
        raise ValueError("n_out must be a multiple of 2 for minmax")
    if algo in ("m4", "nanm4") and n_out % 4:
        raise ValueError("n_out must be a multiple of 4 for m4")
    if algo.endswith("lttb") and n_out < 3:
        raise ValueError("n_out must be >= 3 for lttb-family selectors")


def downsample_tokens(
    df: DataFrame,
    n_out: int,
    algo: str = "minmax",
    tokens_col: str = "tokens",
    idx_col: str = "sel_idx",
    impl: str = "arrow",
    output: str = "append",
    **kw,
) -> DataFrame:
    """Append ``idx_col: array<bigint>`` with the selected indices per row.

    Narrow transformation: no shuffle, whole batch vectorized.

    ``impl="arrow"`` (default) runs via ``mapInArrow`` directly on the list
    column's (values, offsets) buffers — zero per-row Python objects, one
    flat kernel pass per batch.  ``impl="jvm"`` (MinMax, M4, EveryNth) runs
    the selector as Catalyst expressions with no Python worker
    (:func:`jvm_select_expr`).

    ``output="select"`` drops ``tokens_col`` from the output and emits
    ``sel_tokens`` (the gathered selected values) next to ``idx_col`` — the
    100 TB shape: the raw token arrays are NOT serialized back across the
    Python->JVM Arrow boundary (that return leg otherwise re-ships the
    entire input column, ~n/n_out times more bytes than the selection
    itself).  ``output="append"`` keeps the input columns intact.
    """
    _validate(algo, n_out)
    if output not in ("append", "select"):
        raise ValueError("output must be 'append' or 'select'")
    if impl not in ("arrow", "jvm"):
        raise ValueError("impl must be 'arrow' or 'jvm'")
    if impl == "jvm":
        return _jvm_downsample(df, n_out, algo, tokens_col, idx_col, output)
    return _arrow_downsample_specs(
        df, [(algo, n_out, idx_col, "sel_tokens")], tokens_col, output, **kw
    )


_JVM_ALGOS = ("minmax", "m4", "everynth")


def jvm_select_expr(algo: str, n_out: int, tokens_col: str = "tokens") -> str:
    """Selected-indices expression for ``algo`` as a pure Catalyst
    higher-order-function SQL string — ZERO Python in the plan.

    Replicates the no-x kernel rules bit-for-bit (pytest-pinned vs
    kernels/selectors.py):

    - equal-count bins ``hi(b) = floor(bs*(b+1)) + 1``, ``bs = (n-1)/nb``
      in float64, ``lo(b)`` chained (minmax.rs:110-119 rule);
    - minmax: per bin ``[argmin, argmax]`` first-occurrence, emitted in
      index order; m4: ``[first, min(am,aM), max(am,aM), last]``;
    - everynth: ``step = max(1, n/n_out)`` float64, indices
      ``floor(i*step)`` while ``i*step < n - 0.1``;
    - ``n_out >= n`` -> identity; NULL row -> NULL; empty array -> empty.

    The ``transform(array(slice(...)), sub -> ...)`` shape is the SQL
    let-binding idiom: each bin's slice is materialized once and its
    argmin/argmax found by ``array_position`` (first hit == kernel tie
    rule).  Cost is one slice copy + three scans per bin — O(n) total per
    series, no shuffle, and because no Python worker is involved this path
    also runs on executors with no Python runtime at all.

    Why no with-x variant (considered, rejected): the no-x equal-count bins
    have a CLOSED INDEX form — ``slice()`` extracts each bin in O(n) total.
    With-x bins are equidistant in the x VALUES, so each bin boundary is
    data-dependent; without a binary-search HOF every boundary costs an
    O(n) ``filter`` scan, making the expression O(n * nb) — a ~nb-times
    compute blow-up over the Arrow kernel for zero pipe savings.  The
    Python-free with-x paths are the long-form SQL selectors
    (operators/sql_selectors.py, with-x forms), which Catalyst aggregates
    at O(n).
    """
    if algo not in _JVM_ALGOS:
        raise ValueError(
            f"impl='jvm' supports {_JVM_ALGOS}; {algo!r} needs the arrow impl "
            "(LTTB's sequential recurrence has no closed SQL form)"
        )
    t = tokens_col
    if algo == "everynth":
        step = f"GREATEST(CAST(1 AS DOUBLE), size({t}) / CAST({n_out} AS DOUBLE))"
        body = (
            f"transform(sequence(0, CAST(CEIL((size({t}) - 0.1) / {step}) AS INT) - 1), "
            f"i -> CAST(FLOOR(i * {step}) AS BIGINT))"
        )
        # step is exactly 1.0 whenever n <= n_out, so everynth needs no
        # identity branch — only the empty/null guards below.
        return (
            f"CASE WHEN {t} IS NULL THEN NULL "
            f"WHEN size({t}) = 0 THEN array() "
            f"ELSE {body} END"
        )
    nb = n_out // (2 if algo == "minmax" else 4)
    bs = f"((size({t}) - 1) / CAST({nb} AS DOUBLE))"
    lo = f"(CASE WHEN b = 0 THEN 0 ELSE CAST(FLOOR({bs} * b) AS INT) + 1 END)"
    hi = f"(CAST(FLOOR({bs} * (b + 1)) AS INT) + 1)"
    amin = f"CAST({lo} + array_position(sub, array_min(sub)) - 1 AS BIGINT)"
    amax = f"CAST({lo} + array_position(sub, array_max(sub)) - 1 AS BIGINT)"
    if algo == "minmax":
        per_bin = (
            f"element_at(transform(array(named_struct('i', {amin}, 'j', {amax})), "
            f"s -> array(LEAST(s.i, s.j), GREATEST(s.i, s.j))), 1)"
        )
    else:  # m4
        per_bin = (
            f"element_at(transform(array(named_struct('i', {amin}, 'j', {amax})), "
            f"s -> array(CAST({lo} AS BIGINT), LEAST(s.i, s.j), "
            f"GREATEST(s.i, s.j), CAST({hi} - 1 AS BIGINT))), 1)"
        )
    body = (
        f"flatten(transform(sequence(0, {nb - 1}), b -> "
        f"element_at(transform(array(slice({t}, {lo} + 1, {hi} - {lo})), "
        f"sub -> {per_bin}), 1)))"
    )
    return (
        f"CASE WHEN {t} IS NULL THEN NULL "
        f"WHEN size({t}) = 0 THEN array() "
        f"WHEN size({t}) <= {n_out} THEN "
        f"sequence(CAST(0 AS BIGINT), CAST(size({t}) - 1 AS BIGINT)) "
        f"ELSE {body} END"
    )


def _jvm_downsample(
    df: DataFrame,
    n_out: int,
    algo: str,
    tokens_col: str,
    idx_col: str,
    output: str,
) -> DataFrame:
    """``impl="jvm"`` branch of :func:`downsample_tokens`: the whole
    selector runs as Catalyst expressions inside whole-stage codegen — no
    Arrow pipe, no Python workers.  Same output contract as the arrow
    impl (append keeps input columns; select swaps ``tokens_col`` for the
    gathered ``sel_tokens``)."""
    if idx_col in df.columns:
        raise ValueError(f"column {idx_col!r} already exists")
    sel = F.expr(jvm_select_expr(algo, n_out, tokens_col)).alias(idx_col)
    if output == "append":
        return df.select("*", sel)
    gathered = F.expr(
        f"transform({idx_col}, i -> element_at({tokens_col}, CAST(i + 1 AS INT)))"
    ).alias("sel_tokens")
    if "sel_tokens" in df.columns:
        raise ValueError("column 'sel_tokens' already exists")
    keep = [c for c in df.columns if c != tokens_col]
    return df.select("*", sel).select(*keep, idx_col, gathered)


def _arrow_downsample_specs(
    df: DataFrame,
    specs: Sequence[tuple],
    tokens_col: str,
    output: str,
    tasks: int | None = None,
    **kw,
) -> DataFrame:
    """Shared mapInArrow scaffolding for every token-table selector shape.

    ``specs`` = [(algo, n_out, idx_name, tok_name), ...]: each spec runs one
    kernel over the SAME Arrow batch — the input is read once however many
    specs there are (the amortization downsample_tokens_multi / _pyramid
    exist for).  ``output="select"`` drops ``tokens_col`` from the return
    leg and gathers each spec's selected values while the flat buffers are
    at hand — n_out per series back to the JVM instead of n.  One per-batch
    body, ``_select``, so a fix (nullable schema, null rows, sliced-batch
    offsets) reaches every public variant and both input paths:

    * a plain Parquet scan is read inside the Python task
      (sources/scan.py; ``tasks`` overrides its parallelism target);
    * any other input crosses the JVM->Python Arrow pipe (``df.mapInArrow``).
    """
    import pyarrow as pa

    from pyspark.sql import types as T

    from tsdownsample_spark.kernels.flat import select_and_gather
    from tsdownsample_spark.sources.scan import map_splits, plain_parquet_scan

    select_mode = output == "select"
    columns = df.columns
    for _, _, idx_name, tok_name in specs:
        if idx_name in columns:
            raise ValueError(f"column {idx_name!r} already exists")
        if select_mode and tok_name in columns:
            raise ValueError(f"column {tok_name!r} already exists")
    fields = df.schema.fields
    tok_idx = columns.index(tokens_col)
    keep_idx = [
        i for i in range(len(columns)) if not (select_mode and i == tok_idx)
    ]
    keep_names = [columns[i] for i in keep_idx]
    # built by hand so the output arrays are NULLABLE (null token rows
    # select null; an expr-derived schema would mark them non-null -> NPE)
    elem_type = fields[tok_idx].dataType.elementType
    extra = []
    for _, _, idx_name, tok_name in specs:
        extra.append(T.StructField(idx_name, T.ArrayType(T.LongType())))
        if select_mode:
            extra.append(T.StructField(tok_name, T.ArrayType(elem_type)))
    out_schema = T.StructType([fields[i] for i in keep_idx] + extra)

    def _select(batch):
        cols = [batch.column(i) for i in keep_idx]
        names = list(keep_names)
        tok_col = batch.column(tok_idx)
        for algo, n_out, idx_name, tok_name in specs:
            sel_arr, tok_arr = select_and_gather(
                tok_col, n_out, algo, gather=select_mode, **kw
            )
            cols.append(sel_arr)
            names.append(idx_name)
            if select_mode:
                cols.append(tok_arr)
                names.append(tok_name)
        return pa.RecordBatch.from_arrays(cols, names=names)

    scan = plain_parquet_scan(df, tasks)
    if scan is not None:
        return map_splits(df.sparkSession, scan, _select, out_schema)
    return df.mapInArrow(lambda batches: map(_select, batches), out_schema)


def downsample_tokens_multi(
    df: DataFrame,
    n_out: int,
    algos: Sequence[str] = ("minmax", "m4", "lttb", "minmaxlttb", "everynth"),
    tokens_col: str = "tokens",
    output: str = "select",
    **kw,
) -> DataFrame:
    """Run SEVERAL selectors over the token column in ONE narrow pass.

    At 100 TB the dominant cost of ``downsample_tokens`` is not the kernel —
    it is reading + decoding the input and shipping it across the JVM->Python
    Arrow pipe (see BENCH/BASELINE.md's roofline: the MinMax kernel adds zero
    wall time on top of the bare pipe).  A dashboard or tier-build job that
    wants k selectors therefore should NOT run k jobs: this operator scans
    and ships each batch ONCE and runs every kernel on the in-cache buffers,
    so k algorithms cost ~1 scan + k (cheap) kernel passes instead of
    k scans — aggregate selector throughput approaches k× the single-algo
    number.  Still a zero-shuffle narrow map.

    Output: per algo, ``sel_idx_{algo}: array<bigint>`` and (with
    ``output="select"``) ``sel_tokens_{algo}``; ``output="select"`` drops
    the raw token column from the return leg (the 100 TB shape).
    """
    algos = list(algos)
    if not algos:
        raise ValueError("algos must be non-empty")
    if len(set(algos)) != len(algos):
        raise ValueError("duplicate algo in algos")
    for a in algos:
        _validate(a, n_out)
    if output not in ("append", "select"):
        raise ValueError("output must be 'append' or 'select'")
    return _arrow_downsample_specs(
        df,
        [(a, n_out, f"sel_idx_{a}", f"sel_tokens_{a}") for a in algos],
        tokens_col,
        output,
        **kw,
    )


def downsample_tokens_pyramid(
    df: DataFrame,
    n_outs: Sequence[int],
    algo: str = "minmax",
    tokens_col: str = "tokens",
    output: str = "select",
    **kw,
) -> DataFrame:
    """Zoom-level pyramid in ONE narrow pass: the same selector at several
    ``n_out`` levels (a plot server's zoom ladder, a tier build's step
    set), sharing one scan + one Arrow pipe crossing exactly like
    :func:`downsample_tokens_multi` shares it across algorithms.

    Output per level n: ``sel_idx_{n}`` (+ ``sel_tokens_{n}`` in select
    mode).  Levels are independent selector runs — this is the query-time
    pyramid; for MinMax/M4 at power-of-two ratios the MATERIALIZED ladder
    should cascade tier-from-tier instead (operators/token_retention.py,
    where cascade == from-raw is proved).
    """
    n_outs = list(n_outs)
    if not n_outs:
        raise ValueError("n_outs must be non-empty")
    if len(set(n_outs)) != len(n_outs):
        raise ValueError("duplicate n_out in n_outs")
    for n in n_outs:
        _validate(algo, n)
    if output not in ("append", "select"):
        raise ValueError("output must be 'append' or 'select'")
    return _arrow_downsample_specs(
        df,
        [(algo, n, f"sel_idx_{n}", f"sel_tokens_{n}") for n in n_outs],
        tokens_col,
        output,
        **kw,
    )


def gather_values(
    df: DataFrame,
    tokens_col: str = "tokens",
    idx_col: str = "sel_idx",
    out_col: str = "sel_tokens",
) -> DataFrame:
    """Materialize selected values JVM-side: ``out[i] = tokens[idx[i]]``."""
    return df.withColumn(
        out_col,
        F.expr(f"transform({idx_col}, i -> element_at({tokens_col}, CAST(i AS INT) + 1))"),
    )


def downsample_series(
    df: DataFrame,
    n_out: int,
    algo: str = "minmax",
    x_col: str = "ts",
    y_col: str = "value",
    by: Sequence[str] = ("doc_id",),
    tiebreak: Sequence[str] = (),
    max_points: int | None = 50_000_000,
    **kw,
) -> DataFrame:
    """Downsample long-form series ("with x" mode) per group.

    Returns one row per selected point: group keys + ``sel_idx`` (position in
    the x-ordered series) + x + y.  Rows within each group are ordered by
    ``x_col`` (plus optional ``tiebreak`` columns for a deterministic total
    order under duplicate x) before the kernel runs — the reference requires
    monotone x (README.md:130-135).

    One group = one task: a series larger than executor memory cannot run
    here (it OOMs the worker with an opaque crash).  ``max_points`` turns
    that into a loud, actionable error — the 100 TB route for huge series
    is ``operators/sql_selectors.py`` (bounded per-task state).  Set
    ``max_points=None`` to disable the guard.
    """
    _validate(algo, n_out)
    x_field = df.schema[x_col]
    y_field = df.schema[y_col]
    key_fields = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in by)
    schema = (
        f"{key_fields}, sel_idx bigint, "
        f"{x_col} {x_field.dataType.simpleString()}, {y_col} {y_field.dataType.simpleString()}"
    )
    by = list(by)
    sort_cols = [x_col] + list(tiebreak)

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_points is not None and len(pdf) > max_points:
            raise ValueError(
                f"series {tuple(pdf[c].iloc[0] for c in by)!r} has "
                f"{len(pdf)} points > max_points={max_points}; one group = "
                "one task here — use the distributed selectors "
                "(operators/sql_selectors.py) for series this long, or "
                "pass max_points=None if the executors really have the "
                "memory"
            )
        pdf = pdf.sort_values(sort_cols, kind="mergesort", ignore_index=True)
        x = pdf[x_col].to_numpy()
        y = pdf[y_col].to_numpy()
        idx = downsample_array(y, n_out, algo=algo, x=x, **kw)
        out = pdf.iloc[idx][by + [x_col, y_col]].copy()
        out.insert(len(by), "sel_idx", idx)
        if out[y_col].dtype.kind == "f":
            # pandas->Arrow treats float NaN as the NA sentinel and would
            # return NULL for NaN y (breaking the NaN* selectors' contract);
            # a masked FloatingArray with an all-false mask keeps NaN a VALUE.
            vals = out[y_col].to_numpy()
            out[y_col] = pd.arrays.FloatingArray(
                vals.copy(), np.zeros(len(vals), dtype=bool)
            )
        return out

    return df.groupBy(*by).applyInPandas(_fn, schema)
