"""PySpark worker daemon that cuts the Python workers' fixed costs.

PySpark's worker pool is a daemon process that forks one child per
concurrent task. Two costs are paid in those children, not in the
daemon, and this module moves both before the fork:

- **Import once.** Each child that runs a pandas UDF would import
  pandas/numpy/pyarrow ON ITS OWN (~2-3 s each, multiplied by
  ``local[32]``'s 32 simultaneous first-task forks, and re-paid
  whenever the OS evicts the shared-library page cache). Importing them
  in the daemon lets every child inherit the initialized modules via
  copy-on-write: per-worker import cost drops to ~0 and the code pages
  are shared once machine-wide. Fails open: if the imports are
  unavailable the daemon still starts and workers import lazily.
- **No re-read per task.** At the start of EVERY task the worker calls
  ``importlib.invalidate_caches()`` (``pyspark.worker_util.
  setup_spark_files``). On CPython < 3.12 that makes every cached
  ``zipimporter`` re-read its whole archive directory, and a worker
  holds one importer per package directory inside ``pyspark.zip`` and
  the py4j zip (14-18 of them): about 0.1 s of CPU per task, twice per
  state partition per micro-batch under the stateful delta converter.
  The replacement below re-reads an archive only when its
  ``(st_mtime_ns, st_size)`` changed since it was last read, and
  otherwise points the importer at the shared directory in
  ``zipimport._zip_directory_cache``. An archive rewritten on disk (or
  added with ``addPyFile``) is still re-read. The stamps are seeded
  here, so a child's first task skips the re-read too. CPython 3.12
  made the re-read lazy (gh-103200) and is left alone.

Enabled via ``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

try:  # pragma: no cover - trivial import side effects
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.pandas_compat  # noqa: F401  (lazy-loaded by serializers)
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager  # noqa: E402

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    unchanged = stamp is not None and _read_stamps.get(self.archive) == stamp
    if unchanged and files is not None:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # reads each cached archive once more, stamped, before any fork
    importlib.invalidate_caches()

if __name__ == "__main__":
    manager()
