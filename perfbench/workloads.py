"""The three seeded workloads: input generation, expected values computed
with NumPy at set-up, one cycle of the fixed op mix, and the per-cycle
output checks.

A cycle returns its outputs; ``check`` compares them with the expected
values and returns a list of mismatches (empty means the cycle was right).
Only the cycle itself is timed; checks run between cycles.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tsdownsample_spark.sources.tableio import SnapshotTable

ALGOS = ("minmax", "m4", "minmaxlttb", "lttb", "everynth")
#: parity-grid sequence lengths (FIXTURES F1)
GRID = np.array([10_000, 10_032, 20_321, 23_489])
MIN_US = 60_000_000
HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000
CHUNK_US = 6 * HOUR_US

#: input sizes; "tiny" is for the benchmark's own tests
SIZES = {
    "full": {"docs": 480, "series": 128, "points": 1500},
    "tiny": {"docs": 24, "series": 24, "points": 300},
}


def crc(*arrays) -> int:
    h = 0
    for a in arrays:
        h = zlib.crc32(np.ascontiguousarray(a).tobytes(), h)
    return h


def list_parts(col) -> tuple[np.ndarray, np.ndarray]:
    """(flattened values, per-row lengths) of a pyarrow list column."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return (
        pc.list_flatten(col).to_numpy(zero_copy_only=False),
        pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.int64),
    )


def write_files(table: pa.Table, out_dir: str, n_files: int, key: np.ndarray) -> None:
    """Write ``table`` as ``n_files`` parquet files of about equal bytes;
    row ``i`` goes to file ``key[i]``."""
    os.makedirs(out_dir)
    for f in range(n_files):
        part = table.filter(pa.array(key == f))
        pq.write_table(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))


def balanced_files(weights: np.ndarray, n_files: int) -> np.ndarray:
    """Assign items to files so every file carries about the same weight."""
    order = np.argsort(-weights, kind="stable")
    key = np.empty(len(weights), dtype=np.int64)
    load = np.zeros(n_files)
    for i in order:
        f = int(np.argmin(load))
        key[i] = f
        load[f] += weights[i]
    return key


class Tokens:
    """FIXTURES F1 token table: sequences with parity-grid lengths, one
    ``source`` holding about half the rows."""

    def __init__(self, seed: int, docs: int):
        rng = np.random.default_rng(seed)
        # an equal share of each grid length in seeded order, so every seed
        # gives the same number of points and of selected points
        self.lens = rng.permutation(np.resize(GRID, docs))
        self.offsets = np.zeros(docs + 1, dtype=np.int64)
        np.cumsum(self.lens, out=self.offsets[1:])
        self.values = rng.integers(0, 50_257, size=int(self.offsets[-1]), dtype=np.int32)
        others = np.array(["books", "code", "wiki"])[rng.integers(0, 3, size=docs)]
        self.source = np.where(rng.random(docs) < 0.5, "web", others)
        self.doc_id = np.array([f"d{i:08d}" for i in range(docs)])
        self.points = int(self.offsets[-1])

    def table(self) -> pa.Table:
        toks = pa.ListArray.from_arrays(
            pa.array(self.offsets.astype(np.int32)), pa.array(self.values)
        )
        return pa.table({
            "doc_id": pa.array(self.doc_id),
            "tokens": toks,
            "n_tok": pa.array(self.lens.astype(np.int32)),
            "source": pa.array(self.source),
        })

    def write(self, out_dir: str, n_files: int) -> None:
        write_files(self.table(), out_dir, n_files, balanced_files(self.lens, n_files))

    def select(self, n_out: int, algo: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(flat selected indices, per-doc lengths, flat selected tokens) in
        doc order, from the flat kernel on the generated buffers."""
        from tsdownsample_spark.kernels.flat import flat_downsample

        idx, out_off = flat_downsample(self.values, self.offsets, n_out, algo)
        lens = np.diff(out_off)
        toks = self.values[idx + np.repeat(self.offsets[:-1], lens)]
        return idx, lens, toks


class Series:
    """FIXTURES F2/F5 long-form table: ``series`` series of ``points``
    points at a 15 s +-10 s cadence with two seeded gaps per series."""

    def __init__(self, seed: int, series: int, points: int):
        rng = np.random.default_rng(seed + 7919)
        step = 15_000_000 + rng.integers(-10_000_000, 10_000_000, size=(series, points))
        step[:, 0] = rng.integers(0, HOUR_US, size=series)
        for col in range(2):
            at = rng.integers(1, points, size=series)
            step[np.arange(series), at] += rng.integers(5, 90, size=series) * MIN_US
        self.ts = (1_700_000_000_000_000 + np.cumsum(step, axis=1)).ravel()
        self.key = np.repeat(np.arange(series, dtype=np.int64), points)
        self.value = rng.standard_normal(series * points)
        self.series, self.n = series, points
        self.points = series * points

    def table(self) -> pa.Table:
        return pa.table({
            "series_key": pa.array(self.key),
            "ts": pa.array(self.ts, type=pa.timestamp("us")),
            "value": pa.array(self.value),
        })

    def write(self, out_dir: str, n_files: int) -> None:
        write_files(self.table(), out_dir, n_files, self.key % n_files)

    def tier(self, unit_us: int) -> dict[str, np.ndarray]:
        """NumPy rollup of one tier: one entry per (series, bucket)."""
        b = self.ts // unit_us
        starts = np.flatnonzero(
            np.r_[True, (self.key[1:] != self.key[:-1]) | (b[1:] != b[:-1])]
        )
        ends = np.r_[starts[1:], len(b)]
        return {
            "series_key": self.key[starts],
            "bucket": b[starts] * unit_us,
            "agg_cnt": ends - starts,
            "agg_sum": np.add.reduceat(self.value, starts),
            "agg_min": np.minimum.reduceat(self.value, starts),
            "agg_max": np.maximum.reduceat(self.value, starts),
            "first_ts": self.ts[starts],
            "first_val": self.value[starts],
            "last_ts": self.ts[ends - 1],
            "last_val": self.value[ends - 1],
        }


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


# ====================================================================== F1
class TokPreview:
    """Five single-selector preview queries plus one multi-selector query,
    each collected through Arrow, on the token table."""

    name = "tok_preview"
    n_out = 200

    def __init__(self, seed: int, size: str):
        self.data = Tokens(seed, SIZES[size]["docs"])

    def generate(self, d: str, n_files: int) -> None:
        self.data.write(os.path.join(d, "tokens"), n_files)

    def expect(self) -> None:
        self.expected = {}
        for a in ALGOS:
            idx, lens, toks = self.data.select(self.n_out, a)
            self.expected[a] = crc(idx, lens, toks)

    def prepare(self, b) -> None:
        self.df = b.spark.read.parquet(os.path.join(b.input_dir, "tokens"))
        # every selector reads each raw point once
        self.points_per_cycle = self.data.points * 2 * len(ALGOS)
        self.kernel_points = {a: 2 * self.data.points for a in ALGOS}

    def cycle(self, b) -> dict:
        from tsdownsample_spark.operators.downsample import (
            downsample_tokens,
            downsample_tokens_multi,
        )

        tr, out = b.tracer, {}
        for a in ALGOS:
            q = tr.build("operators.downsample", downsample_tokens, self.df,
                         self.n_out, algo=a, output="select")
            out[a] = tr.action("operators.downsample", "toArrow", q.toArrow)
        q = tr.build("operators.downsample", downsample_tokens_multi, self.df,
                     self.n_out, algos=ALGOS, output="select")
        out["multi"] = tr.action("operators.downsample", "toArrow", q.toArrow)
        return out

    def check(self, out: dict) -> list[str]:
        bad = []
        for a in ALGOS:
            for key, tb, cols in (
                (a, out[a], ("sel_idx", "sel_tokens")),
                (f"multi/{a}", out["multi"], (f"sel_idx_{a}", f"sel_tokens_{a}")),
            ):
                tb = tb.sort_by("doc_id")
                idx, lens = list_parts(tb[cols[0]])
                toks, _ = list_parts(tb[cols[1]])
                if tb.num_rows != len(self.data.lens) or crc(idx, lens, toks) != self.expected[a]:
                    bad.append(f"{key}: selection checksum mismatch")
        return bad

    def stats(self, out: dict) -> dict:
        return {
            # payload bytes of the collected selections (indices and tokens)
            "bytes": sum(pc.list_flatten(tb[c]).nbytes for tb in out.values()
                         for c in tb.column_names if c.startswith("sel_")),
        }

    def cleanup(self, out: dict) -> None:
        pass


# ====================================================================== F1
class TokRetention:
    """Retention ladder 2048 -> 512 -> 128 (minmax) into snapshot tables
    through PartitionedJob over 8 salt buckets; tier 128 stored bit-packed.
    One seeded bucket of tier 512 fails once per cycle and the job resumes.
    Then compact + expire_snapshots on every tier and read tier 128 back."""

    name = "tok_retention"
    tiers = (2048, 512, 128)
    buckets = 8
    sample_docs = 16

    def __init__(self, seed: int, size: str, data: Tokens | None = None):
        self.data = data or Tokens(seed, SIZES[size]["docs"])
        rng = np.random.default_rng(seed + 1)
        self.fail_bucket = int(rng.integers(0, self.buckets))
        self.sample = np.sort(rng.choice(len(self.data.lens), self.sample_docs, replace=False))

    def generate(self, d: str, n_files: int) -> None:
        self.data.write(os.path.join(d, "tokens"), n_files)

    def expect(self) -> None:
        from tsdownsample_spark import compat

        self.expected = {}
        for n in self.tiers:
            idx, lens, toks = self.data.select(n, "minmax")
            self.expected[n] = {
                "crc": crc(idx, lens, toks),
                "count": int(lens.sum()),
                "sum": int(toks.astype(np.int64).sum()),
            }
        ref = compat.MinMaxDownsampler()
        v, o = self.data.values, self.data.offsets
        self.expected["sample128"] = {
            self.data.doc_id[i]: ref.downsample(v[o[i]:o[i + 1]], n_out=128).astype(np.int64)
            for i in self.sample
        }

    def prepare(self, b) -> None:
        self.raw_dir = os.path.join(b.input_dir, "tokens")
        self.df = b.spark.read.parquet(self.raw_dir)
        self.points_per_cycle = self.data.points
        # tier 2048 reads raw; the cascaded tiers read their parent tier
        self.kernel_points = {"minmax": self.data.points
                              + len(self.data.lens) * sum(self.tiers[:-1])}

    def cycle(self, b) -> dict:
        import time

        from pyspark.sql import functions as F

        from tsdownsample_spark.operators.compress import compress_tokens, decompress_tokens
        from tsdownsample_spark.operators.token_retention import downsample_tier, resolve_plan
        from tsdownsample_spark.streaming.checkpoint import PartitionedJob, input_fingerprint

        tr, spark = b.tracer, b.spark
        root = os.path.join(b.work_dir, f"ladder-{b.cycle_no}")
        salt = F.pmod(F.xxhash64("doc_id"), F.lit(self.buckets))
        parts = [str(i) for i in range(self.buckets)]
        plan = tr.build("operators.token_retention", resolve_plan,
                        list(self.tiers), "minmax", "auto")
        fp = tr.build("streaming.checkpoint", input_fingerprint, self.raw_dir,
                      {"tiers": list(self.tiers), "algo": "minmax"})
        tables: dict[int, TracedTable] = {}
        state = {"failed_at": None}
        runs, resume = [], None
        for n_out, parent in plan:
            table = TracedTable(os.path.join(root, f"tier_{n_out}"), tr)

            def process(part, n_out=n_out, parent=parent):
                if n_out == 512 and int(part) == self.fail_bucket and state["failed_at"] is None:
                    state["failed_at"] = time.perf_counter()
                    raise InjectedFailure(f"tier {n_out} bucket {part}")
                src = self.df if parent is None else tables[parent].read(spark)
                sub = src.filter(salt == int(part))
                out = tr.build("operators.token_retention", downsample_tier, sub,
                               n_out, algo="minmax")
                if n_out == 128:
                    out = tr.build("operators.compress", compress_tokens, out)
                return out

            job = PartitionedJob(f"tier_{n_out}", table)
            tier_fp = fp if parent is None else f"{fp}:{tables[parent].current_snapshot_id()}"
            try:
                with tr.span("streaming.checkpoint.run"):
                    runs.append(job.run(parts, process, input_fingerprint=tier_fp))
            except InjectedFailure:
                # a restarted pipeline: a fresh job object over the same table
                job = PartitionedJob(f"tier_{n_out}", table)
                with tr.span("streaming.checkpoint.lineage"):
                    done = sorted(job.completed(tier_fp))
                with tr.span("streaming.checkpoint.run"):
                    runs.append(job.run(parts, process, input_fingerprint=tier_fp))
                resume = {"done": done, "summary": runs[-1]}
            tables[n_out] = table
        recover_s = time.perf_counter() - state["failed_at"]
        with tr.span("streaming.checkpoint.lineage"):
            lineage = {n: PartitionedJob(f"tier_{n}", t).lineage() for n, t in tables.items()}
        rows_before = {n: t.rows() for n, t in tables.items()}
        for n, t in tables.items():
            t.compact(spark)
            t.expire_snapshots(keep_last=1)
        packed = tables[128].read(spark)
        q = tr.build("operators.compress", decompress_tokens, packed)
        tier128 = tr.action("operators.compress", "toArrow",
                            q.select("doc_id", "sel_idx", "tokens").toArrow)
        return {"tables": tables, "runs": runs, "resume": resume, "lineage": lineage,
                "rows_before": rows_before, "tier128": tier128,
                "recover_s": recover_s, "root": root}

    def check(self, out: dict) -> list[str]:
        bad = []
        n_docs = len(self.data.lens)
        # tier 512 stops at the failed bucket; the resume must process
        # exactly the buckets left unfinished and skip the finished ones
        r = out["resume"]
        left = [p for p in map(str, range(self.buckets)) if p not in r["done"]]
        if (r["summary"]["processed"] != left or str(self.fail_bucket) not in left
                or sorted(r["summary"]["skipped"]) != r["done"]):
            bad.append("tier 512 resume reprocessed finished buckets or missed some")
        for n, lin in out["lineage"].items():
            if len(lin) != self.buckets:
                bad.append(f"tier {n}: {len(lin)} lineage rows, expected {self.buckets}")
        for n, t in out["tables"].items():
            rows = t.rows()
            if rows != out["rows_before"][n] or rows != n_docs:
                bad.append(f"tier {n}: compact changed row count {out['rows_before'][n]} -> {rows}")
            if n == 128:
                continue
            tb = pq.read_table(t.snapshot()["files"], columns=["doc_id", "tokens", "sel_idx"])
            tb = tb.sort_by("doc_id")
            idx, lens = list_parts(tb["sel_idx"])
            toks, _ = list_parts(tb["tokens"])
            e = self.expected[n]
            if (crc(idx, lens, toks) != e["crc"] or int(lens.sum()) != e["count"]
                    or int(toks.astype(np.int64).sum()) != e["sum"]):
                bad.append(f"tier {n}: stored selection differs from the NumPy tier")
        tb = out["tier128"].sort_by("doc_id")
        idx, lens = list_parts(tb["sel_idx"])
        toks, _ = list_parts(tb["tokens"])
        e = self.expected[128]
        if tb.num_rows != n_docs or crc(idx, lens, toks) != e["crc"]:
            bad.append("tier 128: read-back selection checksum mismatch")
        ids = tb["doc_id"].to_pylist()
        pos = {d: i for i, d in enumerate(ids)}
        starts = np.r_[0, np.cumsum(lens)]
        for d, ref in self.expected["sample128"].items():
            i = pos.get(d)
            if i is None or not np.array_equal(idx[starts[i]:starts[i + 1]], ref):
                bad.append(f"tier 128: {d} differs from the compat reference")
        return bad

    def stats(self, out: dict) -> dict:
        tables = out["tables"].values()
        written = [w for t in tables for w in t.written]
        r = out["resume"]
        unfinished = self.buckets - len(r["done"])
        return {
            # every live tier file on disk after compact + expire
            "bytes": sum(os.path.getsize(f) for t in tables for f in t.snapshot()["files"]),
            "recover_s": out["recover_s"],
            "sources.tableio.commits": sum(t.commits for t in tables),
            "sources.tableio.files_written": len(written),
            "sources.tableio.bytes_written": sum(written),
            "sources.tableio.small_file_ratio": sum(w < 2**20 for w in written) / len(written),
            "streaming.checkpoint.processed": sum(len(x["processed"]) for x in out["runs"]),
            "streaming.checkpoint.skipped": sum(len(x["skipped"]) for x in out["runs"]),
            "streaming.checkpoint.redo_ratio": len(r["summary"]["processed"]) / unfinished,
        }

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)


class InjectedFailure(RuntimeError):
    """The seeded partition failure of the tok_retention ladder."""


class TracedTable(SnapshotTable):
    """SnapshotTable whose public calls are spans of the benchmark's tracer
    (``sources.tableio``) and which counts the commits and files it writes;
    behaviour is the parent's."""

    def __init__(self, root, tracer):
        super().__init__(root)
        self.tr = tracer
        self.commits = 0
        self.written: list[int] = []

    def _count(self, sid):
        if sid is not None:
            self.commits += 1
            self.written += [os.path.getsize(f) for f in self.snapshot(sid)["added_files"]]
        return sid

    def append(self, df, summary=None):
        return self._count(
            self.tr.action("sources.tableio", "append", super().append, df, summary)
        )

    def compact(self, spark, *a, **kw):
        return self._count(
            self.tr.action("sources.tableio", "compact", super().compact, spark, *a, **kw)
        )

    def expire_snapshots(self, *a, **kw):
        return self.tr.action("sources.tableio", "expire_snapshots",
                              super().expire_snapshots, *a, **kw)

    def read(self, spark, snapshot_id=None):
        return self.tr.build("sources.tableio", super().read, spark, snapshot_id)

    def rows(self) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in self.snapshot()["files"])


# ====================================================================== F2
class TsRollup:
    """retention_tiers (1m/1h/1d), gap_fill(locf) on 1m, compress_series in
    6 h chunks with a decompressed sample, and m4_x_long at n_out=100."""

    name = "ts_rollup"
    n_out = 100
    sample_series = 16

    def __init__(self, seed: int, size: str):
        s = SIZES[size]
        self.data = Series(seed, s["series"], s["points"])
        rng = np.random.default_rng(seed + 2)
        self.sample = np.sort(rng.choice(self.data.series, self.sample_series, replace=False))

    def generate(self, d: str, n_files: int) -> None:
        self.data.write(os.path.join(d, "series"), n_files)

    def expect(self) -> None:
        from tsdownsample_spark import compat

        d = self.data
        t1m = d.tier(MIN_US)
        e = {"1d": d.tier(DAY_US)}
        # locf grid: every minute from a series' first to last 1m bucket,
        # each carrying the average of the latest observed bucket
        avg = t1m["agg_sum"] / t1m["agg_cnt"]
        mins = t1m["bucket"] // MIN_US
        last = np.r_[t1m["series_key"][1:] != t1m["series_key"][:-1], True]
        span = np.where(last, 1, np.r_[np.diff(mins), 1])
        e["gapfill"] = {"rows": int(span.sum()), "gaps": int(span.sum() - len(span)),
                        "avg_sum": float((avg * span).sum())}
        chunks = np.unique(d.key * 10**6 + d.ts // CHUNK_US)
        e["chunks"] = len(chunks)
        ref = compat.M4Downsampler()
        sel = []
        for s in range(d.series):
            lo = s * d.n
            sel.append(ref.downsample(d.ts[lo:lo + d.n], d.value[lo:lo + d.n],
                                      n_out=self.n_out).astype(np.int64))
        e["m4_lens"] = np.array([len(x) for x in sel])
        e["m4"] = crc(np.concatenate(sel), e["m4_lens"])
        self.expected = e

    def prepare(self, b) -> None:
        self.df = b.spark.read.parquet(os.path.join(b.input_dir, "series"))
        self.points_per_cycle = self.data.points
        self.kernel_points: dict[str, int] = {}  # the kernels never run here

    def cycle(self, b) -> dict:
        from pyspark.sql import functions as F

        from tsdownsample_spark.operators.compress import compress_series, decompress_series
        from tsdownsample_spark.operators.gapfill import gap_fill
        from tsdownsample_spark.operators.rollup import retention_tiers, with_derived
        from tsdownsample_spark.operators.sql_selectors import m4_x_long

        tr, spark, by = b.tracer, b.spark, ["series_key"]
        out = {}
        tiers = tr.build("operators.rollup", retention_tiers, self.df, by=by)
        # 1d cascades from 1h, which cascades from 1m: collecting 1d computes
        # all three tiers; the 1m tier is also checked through gap_fill
        out["1d"] = tr.action("operators.rollup", "toArrow", tiers["1d"].toArrow)
        m1 = tr.build("operators.rollup", with_derived, tiers["1m"])
        filled = tr.build("operators.gapfill", gap_fill, m1, every="1 minute",
                          value_cols=("agg_avg",), strategy="locf")
        q = filled.agg(F.count("*"), F.sum(F.col("is_gap").cast("int")),
                       F.count("agg_avg"), F.sum("agg_avg"))
        out["gapfill"] = tr.action("operators.gapfill", "collect", q.collect)[0]
        packed = tr.build("operators.compress", compress_series, self.df, by=by,
                          chunk_span=CHUNK_US)
        out["packed"] = tr.action("operators.compress", "toArrow", packed.toArrow)
        sample = out["packed"].filter(
            pc.is_in(out["packed"]["series_key"], pa.array(self.sample))
        )
        back = tr.build("operators.compress", decompress_series,
                        spark.createDataFrame(sample), by=by)
        out["sample"] = tr.action("operators.compress", "toArrow", back.toArrow)
        m4 = tr.build("operators.sql_selectors", m4_x_long, self.df, self.n_out,
                      x_col="ts", by=by, y_col="value")
        out["m4"] = tr.action("operators.sql_selectors", "toArrow",
                              m4.select("series_key", "sel_idx").toArrow)
        return out

    def check(self, out: dict) -> list[str]:
        bad, e, d = [], self.expected, self.data
        tb = out["1d"].sort_by([("series_key", "ascending"), ("bucket_ts", "ascending")])
        x = e["1d"]
        ok = tb.num_rows == len(x["agg_cnt"])
        if ok:
            got = {c: tb[c].to_numpy() for c in tb.column_names}
            for c in ("bucket_ts", "first_ts", "last_ts"):
                got[c] = got[c].astype("datetime64[us]").astype(np.int64)
            got["bucket"] = got.pop("bucket_ts")
            ok = all(np.array_equal(got[c], x[c]) for c in x if c != "agg_sum") and np.allclose(
                got["agg_sum"], x["agg_sum"], rtol=1e-9, atol=1e-9)
        if not ok:
            bad.append("1d tier differs from NumPy")
        g = list(out["gapfill"])
        ge = e["gapfill"]
        if g[0] != ge["rows"] or g[1] != ge["gaps"] or g[2] != ge["rows"] or not close(
            g[3], ge["avg_sum"]
        ):
            bad.append("gap_fill(locf) grid differs from NumPy")
        p = out["packed"]
        if p.num_rows != e["chunks"] or pc.sum(p["n"]).as_py() != d.points:
            bad.append("compress_series chunk count or point count differs")
        s = out["sample"].sort_by([("series_key", "ascending"), ("ts", "ascending")])
        rows = np.isin(d.key, self.sample)
        ts = s["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        if not (np.array_equal(s["series_key"].to_numpy(), d.key[rows])
                and np.array_equal(ts, d.ts[rows])
                and np.array_equal(s["value"].to_numpy().view(np.int64),
                                   d.value[rows].view(np.int64))):
            bad.append("decompress_series round trip is not bit-identical")
        m4 = out["m4"].sort_by([("series_key", "ascending"), ("sel_idx", "ascending")])
        lens = np.bincount(m4["series_key"].to_numpy(), minlength=d.series)
        if crc(m4["sel_idx"].to_numpy(), lens) != e["m4"]:
            bad.append("m4_x_long selection differs from the compat reference")
        return bad

    def stats(self, out: dict) -> dict:
        p = out["packed"]
        return {"bytes": int(pc.sum(pc.binary_length(p["ts_blob"])).as_py()
                             + pc.sum(pc.binary_length(p["val_blob"])).as_py())}

    def cleanup(self, out: dict) -> None:
        pass


WORKLOADS = {w.name: w for w in (TokPreview, TokRetention, TsRollup)}
