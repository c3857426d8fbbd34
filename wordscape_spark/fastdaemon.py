"""PySpark worker daemon with cached zip-import invalidation and a frozen
pre-fork heap.

Why this exists: ``pyspark.worker.main`` calls ``importlib.invalidate_caches()``
once per task (``setup_spark_files``), and Python 3.11's
``zipimporter.invalidate_caches()`` re-reads the zip's entire central
directory unconditionally.  With the Spark distribution zips on the worker
path (``pyspark.zip``: ~1.3k entries, one cached zipimporter per package
prefix), that is ~0.2 s of pure CPU **per task** — measured here as a ~200 ms
gap between consecutive tasks inside one reused worker while the task's own
function ran in microseconds.  A 256-split Python stage pays ~1.6 s of wall
on 32 cores before any useful work.

CPython ≥ 3.12 guards exactly this with an mtime/size check
(python/cpython gh-87319: only re-read the directory when the archive
changed).  This daemon backports that guard to the worker processes: the
semantics are preserved — a zip whose mtime or size changes IS re-read, an
archive that vanished still clears its cache — only the no-change case stops
re-parsing.  The patch applies in the daemon before any worker forks, so
every worker inherits it.

Its second job is ``gc.freeze()`` right before the daemon starts forking.
The stock daemon runs a full ``gc.collect()`` in the worker after every
task, and each of those walks every container object the process tracks,
including the ~40k the daemon created by importing pyspark before it
forked.  Frozen objects sit in the permanent generation, which
collections skip (a worker's full collection measured 3.8 ms unfrozen
and 0.2 ms frozen on a 4-core x86 host); they are still reclaimed by
reference counting, and the forked workers no longer dirty their
copy-on-write pages just to collect.

Enabled via ``spark.python.daemon.module=wordscape_spark.fastdaemon``
(session.py sets it and prepends the repo root to ``PYTHONPATH`` so worker
processes can import this module regardless of their cwd).  Remove the conf
to fall back to the stock daemon — nothing else depends on this module.
"""

from __future__ import annotations

import os
import zipimport

_orig_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        # archive gone: preserve stock behavior (clears the cache)
        _orig_invalidate(self)
        return
    if getattr(self, "_ws_zip_stat", None) == key:
        return
    _orig_invalidate(self)
    self._ws_zip_stat = key


def _install() -> None:
    # zipimporter has been pure Python since 3.8, so instance attributes and
    # method patching are supported; if a future runtime makes it a C type
    # again, fail open (stock behavior) rather than break workers.
    try:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    except (AttributeError, TypeError):  # pragma: no cover — fail open
        pass


_install()

if __name__ == "__main__":
    import gc

    from pyspark.daemon import manager

    gc.freeze()  # after the last import, before the first fork
    manager()
