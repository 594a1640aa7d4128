"""Stamp-checked zip directory re-reads for Spark Python workers.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``).  On
Python < 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive on every call, and a worker holds
zipimporters on the archives Spark puts on its path: ``pyspark.zip``
(one per imported pyspark package directory) and the spark-core jar
(~5.4k entries, no ``.py`` files).  Every fit, decode, Gorilla, Gopher and minhash task
pays that re-read on its core, and it is the bulk of what looked like
per-task "dispatch" cost: an identity ``mapInPandas`` on local[4]
(4-core Xeon host) takes 1.11 s at 8 tasks and 3.10 s at 32 with it,
0.50 s and 1.03 s without it — ~0.25 core-seconds per task.

:func:`install` makes the re-read conditional.  The first call on a
zipimporter runs the original and records the archive's
``(st_mtime_ns, st_size, st_ino)``; later calls skip the re-read while
that stamp is unchanged.  A modified or replaced archive is re-read
exactly as before, so import semantics do not change.

The hook installs only inside a Spark Python worker (a task context is
set when ``atsc_spark`` is imported, i.e. while a task unpickles an
engine kernel) and only on Python < 3.13; 3.13 itself defers the
re-read to the next lookup.  The Spark driver process is never
patched.  If zipimport does not have the expected shape the hook stays
out and logs one warning.
"""

from __future__ import annotations

import logging
import os
import sys
import types
import weakref
import zipimport

_log = logging.getLogger(__name__)

_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _wrap(original):
    def invalidate_caches(self):
        # stat BEFORE the read: a write racing the read leaves an older
        # stamp behind, so the next call re-reads
        stamp = _stamp(self.archive)
        if stamp is not None and _stamps.get(self) == stamp:
            return
        original(self)
        if stamp is None:
            _stamps.pop(self, None)
        else:
            _stamps[self] = stamp

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def installed() -> bool:
    """Whether this process runs the stamp-checked re-read."""
    fn = zipimport.zipimporter.__dict__.get("invalidate_caches")
    return getattr(fn, "__module__", None) == __name__


def install() -> bool:
    """Install the hook in a Spark Python worker on Python < 3.13;
    a no-op anywhere else.  Returns whether the hook is active."""
    if sys.version_info >= (3, 13) or "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    if installed():
        return True
    cls = zipimport.zipimporter
    original = cls.__dict__.get("invalidate_caches")
    live = [imp for imp in list(sys.path_importer_cache.values()) if isinstance(imp, cls)]
    if not isinstance(original, types.FunctionType) or not all(
        isinstance(getattr(imp, "archive", None), str) for imp in live
    ):
        _log.warning(
            "zipimport.zipimporter has an unexpected shape; every task keeps "
            "re-reading its zip archives on importlib.invalidate_caches()"
        )
        return False
    cls.invalidate_caches = _wrap(original)
    # take each live importer's one remaining re-read now, inside the
    # worker's first engine task, rather than in its next task
    for imp in live:
        imp.invalidate_caches()
    return True
