"""Python-worker runtime: make per-task import-cache invalidation cheap.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so files shipped
with ``addPyFile`` become importable. That call reaches every finder in
``sys.path_importer_cache``, and a worker holds one ``zipimporter`` per
package path it has imported from a zip. A pyspark 4.1 worker holds 16:
12 on ``pyspark.zip`` (1,328 entries), 2 on the ``spark-core`` jar
(5,359 entries) and 2 on the py4j zip.

On CPython 3.10-3.12, ``zipimporter.invalidate_caches`` re-reads the
archive's central directory right away (``_read_directory``). So every
task re-parses those directories 16 times, which costs about 210 ms of
CPU on a 4-core box before any engine kernel runs (0.2 ms with the
hook). On CPython 3.13 the method only drops the cached directory and
the next lookup reads it once, so nothing is installed there.

``install`` replaces the method with one that re-reads an archive only
when it changed on disk since this importer last read it. The change
test is ``os.stat`` ``(st_mtime_ns, st_size)``, taken before the re-read
and kept on the importer. When the stat fails (the archive is gone) or
the archive changed, the original method runs, so invalidation keeps its
meaning for archives that do change.

The package ``__init__`` calls ``install`` on import, and every kernel's
unpickling imports the package, so each Python worker process installs
the hook once, on its first task, and later tasks in that process are
cheap. It installs only inside a Spark task (``TaskContext.get()`` is
set): the driver's interpreter and any non-Spark user of the package
keep the stock ``zipimport`` behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_lucene_spark_stamp"


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _make_lazy(original):
    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP, stamp)

    invalidate_caches.__doc__ = original.__doc__
    invalidate_caches._lucene_spark_original = original
    return invalidate_caches


def installed() -> bool:
    """True when this interpreter runs the stat-gated method."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "_lucene_spark_original")


def install() -> bool:
    """Install the stat-gated ``invalidate_caches`` in a Python worker.

    Returns True when the hook is in place after the call. A second call
    is a no-op. Outside a Spark task, and on CPython >= 3.13, nothing is
    installed.
    """
    if installed():
        return True
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    cls = zipimport.zipimporter
    cls.invalidate_caches = _make_lazy(cls.invalidate_caches)
    return True
