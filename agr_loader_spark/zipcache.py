"""Keep a Python worker's zip-import directory cache across its tasks.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``), so that archives
shipped with ``--py-files``/``addPyFile`` become importable. On CPython
3.11 that reaches ``zipimport.zipimporter.invalidate_caches``, which
re-reads the archive's whole central directory at once, for every cached
zipimporter: a worker holds about fifteen over the 1,328-entry
``pyspark.zip``, so each task spent ~0.15 CPU-s before its UDF started
(a cProfile of one CDC round's 64 Python tasks put 59 of 125 profiled
seconds in ``zipimport._read_directory``).

:func:`keep_zip_directory_cache` replaces that method with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differ from
the stamp taken at its last read, and otherwise hands the importer the
directory already cached for that archive. A rewritten archive is still
re-read, so imports resolve exactly as before; only re-reads of an
unchanged file are skipped.

The engine calls it at the top of each Python UDF body; the first task
in a worker process still pays one full re-read, later tasks in the same
(reused) worker do not. It is not installed through
``spark.python.worker.module``: the daemon imports that module before
``--py-files`` reach ``sys.path``, so on a cluster every task would fail.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) at its last directory read; like
# zipimport._zip_directory_cache it is per process
_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        # another importer of this archive may have re-read it since this
        # one last did: take the shared, current directory
        self._files = files
        return
    _reread(self)
    # stamped after the stat above: a rewrite landing during the read
    # leaves a stale stamp, which forces one more re-read next time
    _stamps[self.archive] = stamp


def keep_zip_directory_cache() -> None:
    """Install the stamp-checked ``invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
