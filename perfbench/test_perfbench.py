"""The benchmark's own tests: every workload at a tiny size.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

Run from the root of the repository.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    return res


def _assert_metrics(res: dict, spec: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    res = _result(_run(workload, trace=0))
    _assert_metrics(res, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_per_layer_metrics_and_spans(workload):
    proc = _run(workload, trace=1)
    res = _result(proc)
    _assert_metrics(res, SPEC["per_layer"])
    report = json.loads(proc.stdout.strip().splitlines()[-2])
    with open(os.path.join(ROOT, report["trace_file"])) as f:
        trace = json.load(f)
    assert trace["spans"] and {"name", "start", "end", "parent", "cycle"} <= set(trace["spans"][0])
    assert "plans.cached_rdds_after_cycle" in trace["hygiene_counts"]
    if workload == "tok_preview":
        probe = trace["tok_retention_probe"]
        assert not probe["errors"]
        assert trace["hygiene_counts"]["streaming.checkpoint.redo_ratio"] == 1.0
        for k in ("append_s", "commits", "files_written", "bytes_written",
                  "small_file_ratio", "compact_s", "expire_s", "read_s"):
            assert f"sources.tableio.{k}" in probe["workload_counters"], k
        assert probe["workload_counters"]["recover_s"] > 0


def test_corrupted_expected_checksum_fails_the_cycle(tmp_path):
    sys.path[:0] = [ROOT, HERE]
    import run
    from tracing import Tracer
    from tsdownsample_spark.plans.session import get_spark
    from workloads import TokPreview

    spark = get_spark(app_name="perfbench-test", master="local[2]",
                      extra_conf={"spark.driver.memory": "1g"})
    try:
        wl = TokPreview(3, "tiny")
        wl.generate(str(tmp_path / "in"), 4)
        wl.expect()
        b = run.Bench(spark, Tracer(spark), str(tmp_path / "in"), str(tmp_path))
        wl.prepare(b)
        assert run.run_cycle(b, wl, traced=False)["bad"] == []
        wl.expected["m4"] ^= 1
        rec = run.run_cycle(b, wl, traced=False)
        assert rec["bad"] == ["m4: selection checksum mismatch",
                              "multi/m4: selection checksum mismatch"]
        assert run.err_rate([rec]) > 0
    finally:
        spark.stop()


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
