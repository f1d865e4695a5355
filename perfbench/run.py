#!/usr/bin/env python3
"""Cycle-based benchmark of the tsdownsample_spark engine.

    python3 perfbench/run.py --workload tok_preview --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  One sample is one cycle
of a workload's fixed op mix; the next cycle starts when the previous one
has finished (a closed loop with one thread).  Every cycle's output
is checked against values computed with NumPy at set-up.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced cycles, runs the per-layer probes and prints the
per-layer metrics, and writes spans and every per-layer figure to
``.perfbench/out/trace-<workload>-seed<seed>.json``.  The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a report
with the cycle walls, set-up parts, error rate and (tok_retention)
recovery time.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3  # input generations per run; setup_s uses their median
WARMUP_CAP_S = 15.0  # warm-up stops after this long even if walls still fall
OVERRUN = 1.25  # a measured cycle may end at most this far into the window
MIN_CYCLES = 3  # measured cycles per untraced run, however long they take


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tok_preview", "tok_retention", "ts_rollup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


class Bench:
    """What a cycle needs: the session, the tracer and its directories."""

    def __init__(self, spark, tracer, input_dir: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.cycle_no = 0


# ------------------------------------------------------------- processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_hwm_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the JVM,
    the Python daemon and workers)."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def start_session(workload: str, cores: int, work: str, event_dir: str | None):
    from tsdownsample_spark.plans.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()  # the gateway server exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


# ---------------------------------------------------------------- cycles
def run_cycle(b: Bench, wl, traced: bool) -> dict:
    """One timed cycle, then its checks (untimed)."""
    from tracing import GROUPS, build_jobs, cached_state

    b.spark.catalog.clearCache()  # no cycle reads another cycle's cached data
    tr = b.tracer
    tr.enabled, tr.cycle = traced, b.cycle_no
    jobs0 = build_jobs(b.spark, GROUPS) if traced else 0
    out, bad = None, []
    t0 = time.perf_counter()
    try:
        out = wl.cycle(b)
    except Exception:  # a failed cycle is counted, and the run goes on
        bad.append(traceback.format_exc(limit=3))
    wall = time.perf_counter() - t0
    tr.enabled = False
    rec = {"cycle": b.cycle_no, "wall": wall, "traced": traced, "stats": {}}
    if traced:
        rec["build_jobs"] = build_jobs(b.spark, GROUPS) - jobs0
        rec["cached_rdds"], rec["cached_mb"] = cached_state(b.spark)
    if out is not None:
        try:
            bad += wl.check(out)
            rec["stats"] = wl.stats(out)
        except Exception:
            bad.append(traceback.format_exc(limit=3))
        finally:
            wl.cleanup(out)
    rec["bad"] = bad
    rec["hwm_mb"] = tree_hwm_mb()
    b.cycle_no += 1
    return rec


def warm_up(b: Bench, wl) -> list[float]:
    """Run untraced cycles until the wall stops falling by more than 5%,
    for at most ``WARMUP_CAP_S`` seconds."""
    walls = []
    while sum(walls) < WARMUP_CAP_S:
        walls.append(run_cycle(b, wl, traced=False)["wall"])
        if len(walls) >= 2 and walls[-1] > 0.95 * walls[-2]:
            break
    return walls


def measure(b: Bench, wl, seconds: float, traced_mode: bool) -> list[dict]:
    """Closed loop for ``seconds``: a cycle starts while the previous
    cycle's wall says it will end within a quarter past the window, and at
    least ``MIN_CYCLES`` cycles run, so the median always drops the slowest
    one.  In traced mode cycles alternate between untraced and traced,
    starting untraced, and at least one of each runs."""
    recs, t0 = [], time.perf_counter()
    least = 2 if traced_mode else MIN_CYCLES
    while True:
        recs.append(run_cycle(b, wl, traced=traced_mode and len(recs) % 2 == 1))
        projected = time.perf_counter() - t0 + recs[-1]["wall"]
        if projected > OVERRUN * seconds and len(recs) >= least:
            return recs


# ---------------------------------------------------------------- metrics
def med(xs):
    return statistics.median(xs) if xs else 0.0


def err_rate(recs: list[dict]) -> float:
    """Failed or wrong cycles / cycles attempted."""
    return sum(1 for r in recs if r["bad"]) / len(recs)


def end_to_end(wl, recs, setup_s: float) -> dict:
    walls = [r["wall"] for r in recs]
    cycle_bytes = [r["stats"]["bytes"] for r in recs if "bytes" in r["stats"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pts_per_s": {"value": wl.points_per_cycle / med(walls), "unit": "1/s"},
        "bytes_per_pt": {"value": med(cycle_bytes) / wl.points_per_cycle, "unit": "B"},
        "peak_rss_mb": {"value": max(r["hwm_mb"] for r in recs), "unit": "MB"},
    }


def span_figures(tr, traced: list[dict]) -> tuple[dict, dict, dict]:
    """Span-based figures over traced cycles (medians per cycle): phase
    times and hygiene counters, each layer's self time, and the workload's
    own counters (tableio, checkpoint, recovery)."""
    import tracing as T

    spans = {r["cycle"]: tr.cycle_spans(r["cycle"]) for r in traced}

    def over(fn):
        return med([fn(r, spans[r["cycle"]]) for r in traced])

    m = {
        "plans.materialize_jobs": over(lambda r, s: r["build_jobs"]),
        "plans.cached_rdds_after_cycle": over(lambda r, s: r["cached_rdds"]),
        "plans.cached_mb_after_cycle": over(lambda r, s: r["cached_mb"]),
        "operators.build_s": over(lambda r, s: T.phase_s(s, "build", "operators")),
        "operators.action_s": over(lambda r, s: T.phase_s(s, "action")),
        "trace.unattributed_share": over(
            lambda r, s: (r["wall"] - T.top_level_s(s)) / r["wall"]),
    }
    layers = sorted({sp["layer"] for s in spans.values() for sp in s})
    self_s = {f"{layer}.self_s": over(lambda r, s, L=layer: T.self_times(s).get(L, 0.0))
              for layer in layers}
    keys = sorted({k for r in traced for k in r["stats"]} - {"bytes"})
    extra = {k: med([r["stats"][k] for r in traced if k in r["stats"]]) for k in keys}
    for name in ("sources.tableio.append", "sources.tableio.compact",
                 "sources.tableio.expire_snapshots", "sources.tableio.read",
                 "streaming.checkpoint.run", "streaming.checkpoint.lineage"):
        if any(sp["name"] == name for s in spans.values() for sp in s):
            extra[name.replace("expire_snapshots", "expire") + "_s"] = over(
                lambda r, s, n=name: sum(sp["end"] - sp["start"] for sp in s if sp["name"] == n))
    return m, self_s, extra


def per_layer(b: Bench, wl, recs, setup: dict, cores: int, seed: int) -> tuple[dict, dict]:
    """(metrics for the result line, full per-layer report)."""
    import numpy as np

    import probes
    from workloads import Series, Tokens

    traced = [r for r in recs if r["traced"]]
    plain = [r for r in recs if not r["traced"]]
    m, self_s, extra = span_figures(b.tracer, traced)
    m.update({
        "plans.session_s": setup["session_s"],
        "plans.ship_s": setup["ship_s"],
        "sources.gen_s": setup["gen_s"],
        "trace.overhead": med([r["wall"] for r in traced]) / med([r["wall"] for r in plain]),
    })

    # probes: kernels and codecs on the generated buffers, rooflines on the
    # workload's input table, and the 16-document query
    tok = isinstance(wl.data, Tokens)
    tokens = wl.data if tok else Tokens(seed, 24)
    series = wl.data if not tok else Series(seed, 32, 2000)
    if tok:
        m.update(probes.kernels(tokens.values, tokens.offsets))
    else:
        m.update(probes.kernels(series.value, series.n * np.arange(series.series + 1)))
    codec = probes.codecs(tokens, series)
    codec_ok = codec.pop("functions.codecs.round_trip_ok")
    m.update(codec)
    kernel_s = sum(m[f"kernels.flat.ns_per_pt.{a}"] * n / 1e9
                   for a, n in wl.kernel_points.items())
    m["kernels.share"] = kernel_s / cores / med([r["wall"] for r in plain])
    m.update(probes.rooflines(wl.df, "tokens" if tok else "value", wl.data.points))
    small = probes.small_query(b.spark, tokens, b.work_dir, seconds=8.0)
    samples = small.pop("operators.downsample.small_query_samples")
    small_ok = small.pop("operators.downsample.small_query_ok")
    m.update(small)

    report = {"metrics": dict(m), "samples": {"small_query": samples},
              "layer_self_s_per_cycle": self_s, "workload_counters": extra,
              "traced_cycles": [r["cycle"] for r in traced],
              "probes_ok": codec_ok and small_ok}
    return m, report


def retention_probe(b: Bench, wl, seed: int, size: str) -> dict:
    """The tok_retention ladder over the token table already generated:
    one cold cycle, then one traced cycle.  Reports the tableio and
    checkpoint layers on the kept token workload."""
    from workloads import TokRetention

    ret = TokRetention(seed, size, data=wl.data)
    ret.expect()
    ret.prepare(b)
    cold = run_cycle(b, ret, traced=False)
    rec = run_cycle(b, ret, traced=True)
    m, self_s, extra = span_figures(b.tracer, [rec])
    return {
        "cycle_s": rec["wall"], "cold_cycle_s": cold["wall"],
        "bytes_per_pt": rec["stats"].get("bytes", 0) / ret.points_per_cycle,
        "metrics": m, "layer_self_s_per_cycle": self_s, "workload_counters": extra,
        "traced_cycles": [rec["cycle"]],
        "errors": cold["bad"] + rec["bad"],
    }


def add_group_metrics(m: dict | None, report: dict, events: list[dict]) -> None:
    import tracing as T

    per_group = T.group_metrics(events, report["traced_cycles"])
    for g, vals in per_group.items():
        for k, v in vals.items():
            report["metrics"][f"{g}.{k}"] = v
    for k, v in T.total_group_metrics(per_group).items():
        report["metrics"][f"groups.{k}"] = v
        if m is not None:
            m[f"groups.{k}"] = v
    report["groups_without_jobs"] = [g for g in T.GROUPS if g not in per_group]


def unit_of(name: str) -> str:
    if ".ns_per_pt." in name or name.endswith("_ns_per_pt"):
        return "ns"
    if name.endswith("_bytes_per_pt") or name.endswith("_bytes"):
        return "B"
    if name.endswith("_pts_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "_mb" in name:
        return "MB"
    if name.endswith(("share", "overhead", "skew", "ratio")):
        return "ratio"
    return "count"


# ------------------------------------------------------------------ main
def set_up(args, spark, work: str, n_files: int):
    """Ship the package, generate the inputs, compute the expected values,
    read the inputs and warm up.  Returns (workload, bench, setup parts)."""
    from tracing import Tracer
    from tsdownsample_spark.plans.shipping import ship_package
    from workloads import WORKLOADS

    setup: dict = {}
    t0 = time.perf_counter()
    ship_package(spark)
    setup["ship_s"] = time.perf_counter() - t0
    # regenerate the inputs from the seed into fresh directories; the
    # median of the repetitions is the generation part of setup_s
    gens = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, args.size)
        input_dir = os.path.join(work, f"input-{rep}")
        wl.generate(input_dir, n_files)
        gens.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(input_dir)
    setup["gen_s"] = med(gens)
    t0 = time.perf_counter()
    wl.expect()  # benchmark work, not part of setup_s
    setup["expect_s"] = time.perf_counter() - t0
    b = Bench(spark, Tracer(spark), input_dir, work)
    t0 = time.perf_counter()
    wl.prepare(b)
    setup["prepare_s"] = time.perf_counter() - t0
    setup["warmup_walls_s"] = warm_up(b, wl)
    setup["warmup_s"] = sum(setup["warmup_walls_s"])
    return wl, b, setup


def write_trace(root: str, args, b: Bench, trace: dict) -> str:
    t0 = b.tracer.spans[0]["start"] if b.tracer.spans else 0.0
    trace["spans"] = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in b.tracer.spans]
    out_dir = os.path.join(root, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(trace, f, indent=1, default=float)
    return os.path.relpath(path, root)


def run(args, root: str, work: str) -> tuple[dict, dict]:
    import tracing as T

    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    n_files = 8 * cores
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    spark = start_session(args.workload, cores, work, event_dir)
    session_s = time.perf_counter() - t0
    try:
        wl, b, setup = set_up(args, spark, work, n_files)
        setup["session_s"] = session_s
        setup_s = sum(setup[k] for k in
                      ("session_s", "ship_s", "gen_s", "prepare_s", "warmup_s"))
        recs = measure(b, wl, args.seconds, traced_mode=bool(args.trace))
        if args.trace:
            metrics, trace = per_layer(b, wl, recs, setup, cores, args.seed)
            if args.workload == "tok_preview":
                trace["tok_retention_probe"] = retention_probe(b, wl, args.seed, args.size)
    finally:
        stop_session(spark)

    failed = sum(1 for r in recs if r["bad"])
    walls = [r["wall"] for r in recs]
    report = {
        "report": args.workload, "seed": args.seed, "size": args.size,
        "cores": cores, "master": f"local[{cores}]", "input_files": n_files,
        "input_points": wl.data.points, "points_per_cycle": wl.points_per_cycle,
        "cycles": len(recs), "cycle_walls_s": walls, "cycle_p50_s": med(walls),
        "setup": setup, "err_rate": err_rate(recs),
        "errors": [r["bad"][0] for r in recs if r["bad"]][:3],
    }
    recover = [r["stats"]["recover_s"] for r in recs if "recover_s" in r["stats"]]
    if recover:
        report["recover_s"] = med(recover)
    correct = failed == 0
    if not args.trace:
        result_metrics = end_to_end(wl, recs, setup_s)
    else:
        events = T.read_event_log(event_dir)
        add_group_metrics(metrics, trace, events)
        probe = trace.get("tok_retention_probe")
        if probe:
            add_group_metrics(None, probe, events)
            correct = correct and not probe["errors"]
        correct = correct and trace["probes_ok"]
        counters = {**trace["workload_counters"],
                    **(probe["workload_counters"] if probe else {})}
        trace["hygiene_counts"] = {
            k: trace["metrics"][k]
            for k in ("plans.cached_rdds_after_cycle", "plans.cached_mb_after_cycle")}
        if "streaming.checkpoint.redo_ratio" in counters:
            trace["hygiene_counts"]["streaming.checkpoint.redo_ratio"] = \
                counters["streaming.checkpoint.redo_ratio"]
        trace.update(report)
        report["trace_file"] = write_trace(root, args, b, trace)
        result_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}
    result = {"correct": correct, "attempted": len(recs), "failed": failed,
              "metrics": result_metrics}
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tsdownsample_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds the "
              "tsdownsample_spark package", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sys.path[:0] = [root, HERE]
    try:
        result, report = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=float))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
