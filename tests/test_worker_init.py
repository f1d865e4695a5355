"""Per-task zip import-cache invalidation on Python workers
(tsdownsample_spark.worker_init): unchanged archives are not re-parsed,
changed or removed ones behave as stock, the driver is left untouched, and
a Spark query's selections do not change."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pytest

from tsdownsample_spark import worker_init

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def hooked(monkeypatch):
    """Install the hook for one test; the stock method and an empty stamp
    table come back afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(worker_init, "_read_stamps", {})
    worker_init.install()
    assert worker_init.installed()


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` parses, in call order."""
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(hooked, reads, tmp_path):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, {"wi_unchanged.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    other = zipimport.zipimporter(arc)  # a second importer of the same archive
    del reads[:]
    imp.invalidate_caches()  # first pass through the hook: read, stamp kept
    assert reads == [arc]
    del reads[:]
    imp.invalidate_caches()
    other.invalidate_caches()
    assert reads == []
    assert imp.find_spec("wi_unchanged") is not None
    assert other._files is zipimport._zip_directory_cache[arc]


def test_rewritten_archive_is_reread(hooked, reads, tmp_path, monkeypatch):
    arc = str(tmp_path / "b.zip")
    _write_zip(arc, {"wi_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    try:
        assert importlib.import_module("wi_first").X == 1
        importlib.invalidate_caches()
        with pytest.raises(ImportError):
            importlib.import_module("wi_second")
        _write_zip(arc, {"wi_first.py": "X = 1\n", "wi_second.py": "Y = 2\n"})
        del reads[:]
        importlib.invalidate_caches()
        assert reads == [arc]
        assert importlib.import_module("wi_second").Y == 2
    finally:
        for name in ("wi_first", "wi_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)


def test_deleted_archive_behaves_as_stock(hooked, tmp_path):
    arc = str(tmp_path / "c.zip")
    _write_zip(arc, {"wi_deleted.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    imp.invalidate_caches()
    assert arc in worker_init._read_stamps
    os.remove(arc)
    imp.invalidate_caches()
    assert arc not in zipimport._zip_directory_cache
    assert imp._files == {}
    assert arc not in worker_init._read_stamps


def test_install_is_idempotent(hooked):
    method = zipimport.zipimporter.invalidate_caches
    worker_init.install()
    worker_init.install()
    assert zipimport.zipimporter.invalidate_caches is method
    assert worker_init._stock_invalidate is not worker_init._invalidate_caches


@pytest.mark.parametrize("pre_import", ["", "import pyspark.core.files; "])
def test_driver_import_leaves_zipimport_alone(pre_import):
    """Importing the package outside a worker (with or without pyspark
    loaded) must not hook zipimport, and must not import pyspark itself."""
    code = (
        f"import sys, zipimport; {pre_import}"
        "stock = zipimport.zipimporter.invalidate_caches; "
        "had = 'pyspark' in sys.modules; "
        "import tsdownsample_spark; "
        "assert zipimport.zipimporter.invalidate_caches is stock; "
        "assert ('pyspark' in sys.modules) == had; "
        "print('ok')"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        timeout=120,
    )
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr


def test_worker_hook_keeps_selections_identical(spark):
    from tsdownsample_spark.kernels.flat import flat_downsample
    from tsdownsample_spark.operators.downsample import downsample_tokens
    from tsdownsample_spark.sources.synth import synth_token_rows, synth_token_table

    df = synth_token_table(spark, n_docs=24, seed=7, partitions=4)
    tokens = {r[0]: r[1] for r in synth_token_rows(24, seed=7)}
    ids = sorted(tokens)
    values = np.concatenate([tokens[i] for i in ids])
    offsets = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum([len(tokens[i]) for i in ids], out=offsets[1:])
    # first query: every worker it touches imports the package
    for algo, n_out in (("minmax", 100), ("m4", 100), ("lttb", 101),
                        ("minmaxlttb", 100), ("everynth", 100)):
        got = {
            r.doc_id: r.sel_idx
            for r in downsample_tokens(df, n_out, algo=algo)
            .select("doc_id", "sel_idx").collect()
        }
        flat, out_off = flat_downsample(values, offsets, n_out, algo)
        for j, i in enumerate(ids):
            assert np.array_equal(
                np.asarray(got[i], dtype=np.int64), flat[out_off[j]:out_off[j + 1]]
            ), f"{algo} {i}"
    # nested, so it is pickled by value: tests/ is not importable on workers
    def _worker_report(batches):
        import pyarrow as pa

        from tsdownsample_spark import worker_init as wi

        for batch in batches:
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([wi.installed()] * n),
                    pa.array([sorted(wi._read_stamps)] * n, pa.list_(pa.string())),
                ],
                names=["installed", "stamped"],
            )

    # second query on the same session: the workers run with the hook, and a
    # reused worker's task set-up already went through it
    rows = spark.range(0, 8, 1, 4).mapInArrow(
        _worker_report, "installed boolean, stamped array<string>"
    ).collect()
    assert rows and all(r.installed for r in rows)
    assert any(
        any(a.endswith("pyspark.zip") for a in r.stamped) for r in rows
    ), [r.stamped for r in rows]


@pytest.mark.slow
def test_probe_rolling_prefix_grouped_runs(sf_dir):
    """The r06 rolling-prefix A/B probe stays runnable and matches its
    frozen oracle."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    r = subprocess.run(
        [sys.executable, os.path.join("BENCH", "r06", "probe_rolling_prefix_grouped.py"),
         sf_dir],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
