"""Lazy zip-importer invalidation (``red_seal_ocr_spark.worker_imports``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.13 that re-read every zip archive on ``sys.path``.
These tests pin that the engine's wrapper defers the re-read to the next
import that needs the archive, keeps the semantics (a rewritten zip is
still seen), installs once, and is what a reused Spark worker runs.
"""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from red_seal_ocr_spark import worker_imports

LAZY = sys.version_info < (3, 13)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive first on sys.path; its modules and importer are
    removed again afterwards."""
    path = str(tmp_path / "lazy_zip_mods.zip")
    _write_zip(path, {"lazy_zip_a": "X = 1\n", "lazy_zip_b": "X = 2\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("lazy_zip_a", "lazy_zip_b", "lazy_zip_c"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_directory_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_defers_zip_reread_until_an_import_needs_it(zip_on_path, monkeypatch):
    importlib.import_module("lazy_zip_a")
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)
    reads = _count_directory_reads(monkeypatch)

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # the next import that searches sys.path reads the archive once
    assert importlib.import_module("lazy_zip_b").X == 2
    assert reads.count(zip_on_path) == 1


def test_a_rewritten_zip_is_still_seen_after_invalidate(zip_on_path):
    assert importlib.import_module("lazy_zip_a").X == 1
    _write_zip(zip_on_path, {"lazy_zip_a": "X = 1\n", "lazy_zip_c": "X = 3\n"})

    importlib.invalidate_caches()
    assert importlib.import_module("lazy_zip_c").X == 3


@pytest.mark.skipif(not LAZY, reason="CPython >= 3.13 invalidates lazily itself")
def test_install_is_idempotent():
    wrapper = importlib.invalidate_caches
    assert getattr(wrapper, "_lazy_zip", False)  # installed by the package import
    assert worker_imports.install()
    assert importlib.invalidate_caches is wrapper


def test_install_is_a_noop_on_cpython_3_13(monkeypatch):
    def original():
        pass

    monkeypatch.setattr(importlib, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert worker_imports.install() is False
    assert importlib.invalidate_caches is original


_WORKER_PROBE = textwrap.dedent("""
    import json
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.python.worker.reuse", "true")
             .config("spark.driver.memory", "512m").getOrCreate())

    def probe(batches):
        import importlib, os, sys, zipimport
        import pandas as pd
        import red_seal_ocr_spark  # what every engine UDF imports
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "n_zip": [n_zip],
            "wrapped": [getattr(importlib.invalidate_caches, "_lazy_zip", False)],
        })

    rows = (spark.range(2, numPartitions=2)
            .mapInPandas(probe, "pid long, n_zip int, wrapped boolean").collect())
    print(json.dumps([r.asDict() for r in rows]))
    spark.stop()
""")


@pytest.mark.skipif(not LAZY, reason="CPython >= 3.13 invalidates lazily itself")
def test_second_task_of_a_reused_worker_runs_the_wrapper(tmp_path):
    """Under local[1] both tasks run in one reused worker.  The first
    imports the engine, which installs the wrapper; the second task's
    set-up invalidation then goes through it, so no zip importer is left
    in the worker's cache when its UDF starts."""
    env = dict(os.environ, PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first["pid"] == second["pid"]
    assert first["wrapped"] and second["wrapped"]
    assert first["n_zip"] > 0  # the set-up before the engine was imported re-read them
    assert second["n_zip"] == 0
