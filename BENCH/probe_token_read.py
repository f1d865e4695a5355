#!/usr/bin/env python
"""Per-query walls of the six ``tok_preview`` queries through the in-task
Parquet read and through the Arrow pipe, interleaved.

Usage: python BENCH/probe_token_read.py <checkout> [seed=301] [reps=7]

Generates the perfbench token fixture (480 sequences, ~7.7M points, 8
files per core) with ``seed``, then runs each query of a ``tok_preview``
cycle (five single-selector queries and one multi-selector query, all
``output="select"``, collected with ``toArrow``) ``reps`` times on each
path, alternating which path goes first.  The pipe path is forced with a
composed input (``df.where(lit(True))``), which the in-task read does not
take.  Every result is checked against the flat kernel on the generated
buffers.  Prints one JSON object: cores, master, points, per-query median
walls per path and their ratio, and the ``jvm_scan`` / ``arrow_pipe``
rooflines of perfbench/probes.py on the same table.
"""

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.abspath(sys.argv[1])
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 301
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 7
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from pyspark.sql import functions as F  # noqa: E402

import probes  # noqa: E402
from tsdownsample_spark.operators.downsample import (  # noqa: E402
    downsample_tokens,
    downsample_tokens_multi,
)
from tsdownsample_spark.plans.session import get_spark  # noqa: E402
from tsdownsample_spark.plans.shipping import ship_package  # noqa: E402
from workloads import ALGOS, SIZES, TokPreview, crc, list_parts  # noqa: E402

cores = max(1, len(os.sched_getaffinity(0)) - 1)
work = tempfile.mkdtemp(prefix="probe_token_read-")
spark = get_spark(
    app_name="probe-token-read", master=f"local[{cores}]", shuffle_partitions=2 * cores,
    extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
)
spark.sparkContext.setLogLevel("ERROR")
try:
    ship_package(spark)
    wl = TokPreview(SEED, "full")
    wl.generate(work, 8 * cores)
    wl.expect()
    n_out = wl.n_out
    df = spark.read.parquet(os.path.join(work, "tokens"))
    inputs = {"in_task": df, "pipe": df.where(F.lit(True))}

    def query(name, src):
        if name == "multi":
            return downsample_tokens_multi(src, n_out, algos=ALGOS, output="select")
        return downsample_tokens(src, n_out, algo=name, output="select")

    def correct(name, tb):
        tb = tb.sort_by("doc_id")
        for a in (ALGOS if name == "multi" else [name]):
            sfx = f"_{a}" if name == "multi" else ""
            idx, lens = list_parts(tb[f"sel_idx{sfx}"])
            toks, _ = list_parts(tb[f"sel_tokens{sfx}"])
            if tb.num_rows != SIZES["full"]["docs"] or crc(idx, lens, toks) != wl.expected[a]:
                return False
        return True

    names = list(ALGOS) + ["multi"]
    walls = {n: {p: [] for p in inputs} for n in names}
    ok = True
    for rep in range(REPS + 1):  # rep 0 warms both paths up
        order = list(inputs) if rep % 2 else list(inputs)[::-1]
        for name in names:
            for path in order:
                t0 = time.perf_counter()
                tb = query(name, inputs[path]).toArrow()
                wall = time.perf_counter() - t0
                ok = ok and correct(name, tb)
                if rep:
                    walls[name][path].append(wall)
    per_query = {}
    for name in names:
        m = {p: statistics.median(w) for p, w in walls[name].items()}
        per_query[name] = {"in_task_s": round(m["in_task"], 4), "pipe_s": round(m["pipe"], 4),
                           "pipe_over_in_task": round(m["pipe"] / m["in_task"], 3)}
    cycle = {p: sum(statistics.median(walls[n][p]) for n in names) for p in inputs}
    out = {
        "checkout": ROOT, "seed": SEED, "reps": REPS, "cores": cores,
        "master": f"local[{cores}]", "input_files": 8 * cores,
        "input_points": wl.data.points, "correct": ok,
        "per_query": per_query,
        "cycle_s": {p: round(v, 4) for p, v in cycle.items()},
        "cycle_pts_per_s": {p: round(wl.data.points * 2 * len(ALGOS) / v)
                            for p, v in cycle.items()},
        **{k: round(v) for k, v in probes.rooflines(df, "tokens", wl.data.points).items()},
    }
finally:
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
print(json.dumps(out))
