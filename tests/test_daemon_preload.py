"""The worker daemon's ``zipimporter.invalidate_caches`` replacement.

PySpark workers call ``importlib.invalidate_caches()`` at the start of
every task; on CPython < 3.12 each cached ``zipimporter`` then re-reads
its whole archive. ``daemon_preload`` re-reads only archives whose
(mtime, size) changed. The import-level tests run in a subprocess so the
replacement is not installed in the test process itself.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_lt_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip archives lazily; stdlib code runs",
)


def _run(script: str) -> str:
    env = dict(os.environ, PYTHONPATH=_REPO_ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout.strip()


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_installed_only_before_312():
    out = _run(
        """
        import zipimport
        import clickhouse_metrics_pipeline_spark.daemon_preload
        print(zipimport.zipimporter.invalidate_caches.__module__)
        """
    )
    assert (out == "zipimport") == (sys.version_info >= (3, 12))


@needs_lt_312
def test_unchanged_archive_is_not_reread(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    out = _run(
        f"""
        import importlib, sys
        sys.path.insert(0, {str(archive)!r})
        import zmod_a
        import clickhouse_metrics_pipeline_spark.daemon_preload
        importer = sys.path_importer_cache[{str(archive)!r}]
        importlib.invalidate_caches()
        files = importer._files
        importlib.invalidate_caches()
        print(importer._files is files)
        """
    )
    assert out == "True"


@needs_lt_312
def test_changed_archive_is_reread(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    out = _run(
        f"""
        import importlib, sys, zipfile
        sys.path.insert(0, {str(archive)!r})
        import clickhouse_metrics_pipeline_spark.daemon_preload
        import zmod_a
        importlib.invalidate_caches()
        with zipfile.ZipFile({str(archive)!r}, "w") as z:
            z.writestr("zmod_a.py", "X = 1\\n")
            z.writestr("zmod_b.py", "Y = 2\\n")
        importlib.invalidate_caches()
        import zmod_b
        print(zmod_b.Y)
        """
    )
    assert out == "2"


@needs_lt_312
def test_worker_runs_the_replacement(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"file": [fn.__code__.co_filename]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "file string").collect()
    assert [os.path.basename(r.file) for r in rows] == ["daemon_preload.py"]
