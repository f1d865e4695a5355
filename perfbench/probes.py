"""Per-layer probes of the traced run: direct in-process kernel and codec
calls on generated buffers, the two roofline probes of ``bench.py`` and the
fixed cost of a 16-document preview query.  None of them runs inside a
measured cycle."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from workloads import ALGOS, Series, Tokens, list_parts


def _median_ns(fn, n_points: int, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e9 / max(n_points, 1)


def kernels(values: np.ndarray, offsets: np.ndarray, n_out: int = 200) -> dict:
    """ns per input point of ``flat_downsample`` for each selector."""
    from tsdownsample_spark.kernels.flat import flat_downsample

    n = int(offsets[-1])
    return {
        f"kernels.flat.ns_per_pt.{a}": _median_ns(
            lambda a=a: flat_downsample(values, offsets, n_out, a), n
        )
        for a in ALGOS
    }


def codecs(tokens: Tokens, series: Series, max_docs: int = 24, max_series: int = 32) -> dict:
    """Codec speed (ns per point) and size (bytes per point) on generated
    sequences, with a bit-identical round trip required of each."""
    from tsdownsample_spark.functions import codecs as C

    docs = [tokens.values[tokens.offsets[i]:tokens.offsets[i + 1]].astype(np.int64)
            for i in range(min(max_docs, len(tokens.lens)))]
    n_tok = sum(len(d) for d in docs)
    enc = [C.encode_tokens(d) for d in docs]
    ok = all(np.array_equal(C.decode_tokens(b), d) for b, d in zip(enc, docs))
    k = min(max_series, series.series)
    ts = [series.ts[i * series.n:(i + 1) * series.n] for i in range(k)]
    vals = [series.value[i * series.n:(i + 1) * series.n] for i in range(k)]
    n_ser = k * series.n
    g = [C.encode_gorilla(v) for v in vals]
    d = [C.encode_dod(t) for t in ts]
    ok = ok and all(
        np.array_equal(C.decode_gorilla(b).view(np.int64), v.view(np.int64))
        for b, v in zip(g, vals)
    ) and all(np.array_equal(C.decode_dod(b), t) for b, t in zip(d, ts))
    return {
        "functions.codecs.encode_tokens_ns_per_pt": _median_ns(
            lambda: [C.encode_tokens(x) for x in docs], n_tok),
        "functions.codecs.decode_tokens_ns_per_pt": _median_ns(
            lambda: [C.decode_tokens(b) for b in enc], n_tok),
        "functions.codecs.encode_gorilla_ns_per_pt": _median_ns(
            lambda: [C.encode_gorilla(v) for v in vals], n_ser),
        "functions.codecs.encode_dod_ns_per_pt": _median_ns(
            lambda: [C.encode_dod(t) for t in ts], n_ser),
        "functions.codecs.tokens_bytes_per_pt": sum(map(len, enc)) / n_tok,
        "functions.codecs.gorilla_bytes_per_pt": sum(map(len, g)) / n_ser,
        "functions.codecs.dod_bytes_per_pt": sum(map(len, d)) / n_ser,
        "functions.codecs.round_trip_ok": ok,
    }


def rooflines(df, column: str, n_points: int, reps: int = 3) -> dict:
    """Points/s of a JVM-only scan + aggregate and of the bare JVM->Python
    Arrow pipe over the workload's input table."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    def _count(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays([pa.array([b.num_rows], type=pa.int64())],
                                             names=["c"])

    scan = (F.sum(F.size(column)) if column == "tokens" else F.count(column))
    probes = {
        "roofline.jvm_scan_pts_per_s": lambda: df.select(scan).collect(),
        "roofline.arrow_pipe_pts_per_s": lambda: df.mapInArrow(_count, "c long")
        .agg(F.sum("c")).collect(),
    }
    out = {}
    for key, run in probes.items():
        run()
        out[key] = 1e9 / _median_ns(run, n_points, reps)
    return out


def small_query(spark, tokens: Tokens, work_dir: str, seconds: float,
                max_samples: int = 60) -> dict:
    """Median and p90 wall of a 16-document minmax preview query, and
    whether every sample returned one full selection per document."""
    import pyarrow.parquet as pq

    from tsdownsample_spark.operators.downsample import downsample_tokens

    path = os.path.join(work_dir, "small16")
    os.makedirs(path, exist_ok=True)
    pq.write_table(tokens.table().slice(0, 16), os.path.join(path, "part-000.parquet"))
    df = spark.read.parquet(path)
    downsample_tokens(df, 200, algo="minmax", output="select").toArrow()
    docs = min(16, len(tokens.lens))
    walls, ok, t_end = [], True, time.perf_counter() + seconds
    while len(walls) < max_samples and (len(walls) < 10 or time.perf_counter() < t_end):
        t0 = time.perf_counter()
        tb = downsample_tokens(df, 200, algo="minmax", output="select").toArrow()
        walls.append(time.perf_counter() - t0)
        lens = list_parts(tb["sel_idx"])[1]
        ok = ok and tb.num_rows == docs and bool((lens == 200).all())
    walls.sort()
    return {
        "operators.downsample.small_query_ms": statistics.median(walls) * 1e3,
        "operators.downsample.small_query_p90_ms": walls[int(0.9 * (len(walls) - 1))] * 1e3,
        "operators.downsample.small_query_samples": len(walls),
        "operators.downsample.small_query_ok": ok,
    }
