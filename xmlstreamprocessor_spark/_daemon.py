"""The Python worker daemon of a ``get_session`` session.

Spark starts one daemon per worker module (``python -m <daemon module>
<worker module>``) and forks every Python worker from it.
``session.get_session`` sets ``spark.python.daemon.module`` to this module,
which installs the ``zipimporter`` guard below and then runs PySpark's own
``pyspark.daemon.manager()``, so every forked worker starts guarded: the
XML engine's partition functions, data source readers and writers, UDTFs,
and the operator catalogue's UDFs alike, with no call in any of them.

The daemon is started by a fresh interpreter, so this package must be
importable there: installed, on ``PYTHONPATH``, or shipped with
``spark.submit.pyFiles``.  A driver that reaches the package only through
its own ``sys.path`` (or a runtime ``addPyFile``) leaves the daemon unable
to start, and every Python task of the session fails.

This module imports nothing beyond the standard library until it runs as
``__main__``.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _worker_setup() -> None:
    """Once per Python process, make ``zipimporter.invalidate_caches`` skip
    archives that have not changed.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task, and the stdlib ``zipimporter`` answers by re-parsing its
    archive's whole central directory, every time.  A worker's path holds
    ``pyspark.zip`` (1328 entries), the spark-core jar (5359) and py4j's
    zip, behind 16 cached importers, so each task paid about 200-300 ms of
    CPU before its function ran (measured on CPython 3.11, Spark 4.1,
    4-vCPU VM).  The guarded method re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` differs from the stamp of the last read,
    which importers of the same archive share.  A changed archive is still
    re-read, so the stdlib contract holds; the stat is taken before the
    read, so a write racing the read leaves a stale stamp and forces one
    more read, never a missed one.  A failed read is not recorded, so the
    next call tries again.  Idempotent.  Installed in the daemon, before
    it forks: each worker's first task still pays one full refresh, and
    the first guarded call reads each archive once."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stamp_guarded", False):
        return
    # archive path -> ((st_mtime_ns, st_size), directory) of the last read
    reads: dict[str, tuple[tuple[int, int], dict]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        hit = reads.get(self.archive)
        if stamp is not None and hit is not None and hit[0] == stamp:
            self._files = hit[1]
            return
        reads.pop(self.archive, None)
        original(self)
        if stamp is not None and self._files:
            reads[self.archive] = (stamp, self._files)

    invalidate_caches._stamp_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    _worker_setup()
    # pyspark.daemon picks its worker module from sys.argv at import
    from pyspark.daemon import manager

    manager()
