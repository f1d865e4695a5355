"""Benchmark-side tracing: spans around the calls the benchmark makes into
the engine, Spark job groups per engine module, hygiene counters and the
event-log reader that turns a traced session into per-module figures.

Nothing here reaches inside ``tsdownsample_spark``: every span wraps a public
call made from the benchmark's own files.  With tracing off, ``span`` is a
no-op context manager and no job group is ever set.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

#: engine modules the traced run reports per job group
GROUPS = (
    "operators.downsample",
    "operators.token_retention",
    "operators.rollup",
    "operators.gapfill",
    "operators.compress",
    "operators.sql_selectors",
    "sources.tableio",
)

#: Spark 4.1 SQL metric names of the Python-worker split
_PY_TIME = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

BUILD_PREFIX = "build:"


class Tracer:
    """In-memory span recorder.

    A span is ``{id, name, layer, phase, parent, cycle, start, end}``; the
    layer is the first dotted component of the name (``plans``,
    ``operators``, ``kernels``, ``functions``, ``sources``, ``streaming``).
    ``group`` names the Spark job group the span's jobs are attributed to;
    build-phase spans use ``build:<group>`` so jobs started while a
    DataFrame is being defined can be counted apart from the action's.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cycle: int | None = None
        self._stack: list[tuple[int, str | None]] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, phase: str = "call"):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1][0] if self._stack else None
        outer_group = self._stack[-1][1] if self._stack else None
        job_group = None
        if group is not None:
            job_group = BUILD_PREFIX + group if phase == "build" else group
        else:
            job_group = outer_group
        rec = {
            "id": sid,
            "name": name,
            "layer": name.split(".")[0],
            "phase": phase,
            "parent": parent,
            "cycle": self.cycle,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append((sid, job_group))
        if job_group != outer_group:
            self._set_group(job_group)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if job_group != outer_group:
                self._set_group(outer_group)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty(
            "spark.job.description", None if group is None else f"cycle:{self.cycle}"
        )

    def build(self, module: str, fn, *args, **kw):
        """Call an engine function that defines a DataFrame (no action)."""
        with self.span(f"{module}.{fn.__name__}", group=module, phase="build"):
            return fn(*args, **kw)

    def action(self, module: str, what: str, fn, *args, **kw):
        """Run an action (collect / write) on a DataFrame an engine module built."""
        with self.span(f"{module}.{what}", group=module, phase="action"):
            return fn(*args, **kw)

    # ------------------------------------------------------------ summaries
    def cycle_spans(self, cycle: int) -> list[dict]:
        return [s for s in self.spans if s["cycle"] == cycle]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its direct children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = sum(c["end"] - c["start"] for c in children.get(s["id"], ()))
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def top_level_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["parent"] is None)


def phase_s(spans: list[dict], phase: str, layer: str | None = None) -> float:
    return sum(
        s["end"] - s["start"]
        for s in spans
        if s["phase"] == phase and (layer is None or s["layer"] == layer)
    )


# ------------------------------------------------------------ hygiene
def cached_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory + on disk)."""
    jsc = spark.sparkContext._jsc
    n = int(jsc.getPersistentRDDs().size())
    mb = 0.0
    for info in jsc.sc().getRDDStorageInfo():
        mb += (info.memSize() + info.diskSize()) / 2**20
    return n, mb


def build_jobs(spark, groups) -> int:
    """Jobs Spark started under the build-phase job groups (the eager
    materialisation jobs operators launch while a DataFrame is defined)."""
    st = spark.sparkContext.statusTracker()
    return sum(len(st.getJobIdsForGroup(BUILD_PREFIX + g)) for g in groups)


# ------------------------------------------------------------ event log
def _median(xs):
    return statistics.median(xs) if xs else 0.0


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith("events_"):
                with open(os.path.join(root, f)) as fh:
                    events.extend(json.loads(line) for line in fh if line.strip())
    return events


def group_metrics(events: list[dict], cycles: list[int]) -> dict[str, dict[str, float]]:
    """Per job group, over the jobs of the given traced cycles: jobs, tasks,
    run/GC/Python seconds, shuffle, spill and Arrow bytes (all per cycle)
    and the task skew of the group's slowest stage.  Build-phase groups
    fold into their module."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    wanted = {f"cycle:{c}" for c in cycles}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        g = props.get("spark.jobGroup.id")
        if not g or props.get("spark.job.description") not in wanted:
            continue
        g = g[len(BUILD_PREFIX):] if g.startswith(BUILD_PREFIX) else g
        job_group[e["Job ID"]] = g
        for st in e.get("Stage IDs", ()):
            stage_group.setdefault(st, g)
    acc: dict[str, dict] = {}
    for g in set(job_group.values()):
        acc[g] = dict(jobs=0, tasks=0, run_s=0.0, gc_s=0.0, shuffle_bytes=0,
                      spill_bytes=0, python_s=0.0, python_boot_s=0.0, python_init_s=0.0,
                      python_run_s=0.0, arrow_bytes=0, stages={})
    for g in job_group.values():
        acc[g]["jobs"] += 1
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e["Stage ID"])
        if g is None:
            continue
        a = acc[g]
        tm = e.get("Task Metrics") or {}
        info = e["Task Info"]
        a["tasks"] += 1
        a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        for m in info.get("Accumulables", ()):
            name, upd = m.get("Name"), m.get("Update")
            if upd is None:
                continue
            if name in _PY_TIME:  # reported in ms
                a["python_s"] += float(upd) / 1e3
                a[_PY_TIME[name]] += float(upd) / 1e3
            elif name in _PY_BYTES:
                a["arrow_bytes"] += int(upd)
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        a["stages"].setdefault(e["Stage ID"], []).append(dur)
    out = {}
    n = max(len(cycles), 1)
    for g, a in acc.items():
        stages = a.pop("stages")
        skew = 1.0
        if stages:
            slowest = max(stages.values(), key=sum)
            med = _median(slowest)
            skew = max(slowest) / med if med > 0 else 1.0
        out[g] = {k: v / n for k, v in a.items()}
        out[g]["task_skew"] = skew
    return out


def total_group_metrics(per_group: dict[str, dict[str, float]]) -> dict[str, float]:
    keys = ("jobs", "tasks", "run_s", "gc_s", "shuffle_bytes", "spill_bytes",
            "python_s", "arrow_bytes")
    tot = {k: sum(g.get(k, 0) for g in per_group.values()) for k in keys}
    tot["task_skew"] = max((g["task_skew"] for g in per_group.values()), default=1.0)
    return tot
