"""Python-worker set-up: re-read a zip on ``sys.path`` only when it changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task it hands a Python worker (``setup_spark_files`` in
``pyspark/worker_util.py``), and CPython's
``zipimport.zipimporter.invalidate_caches`` re-parses its archive's
central directory on every call. A reused worker holds one zip importer
per package directory it imported from: 16 of them over ``pyspark.zip``,
the py4j zip and the spark-core jar, 26,672 directory entries in all.
That re-read cost about 0.25 s of CPU per task, on a 4-vCPU host,
before any engine code ran.

``reuse_zip_directories`` replaces that method, once per process, with
one that stats the archive and re-reads it only when its
``(st_size, st_mtime_ns)`` differs from the last read; importers over
the same archive share that read. A zip shipped later (``addPyFile``)
gets a new importer, which reads its directory when it is created, so
it stays importable. A zip rewritten in place with the same size and
modification time is not noticed.

How the workers get it: run as ``__main__``, this module is the Python
worker daemon. ``get_spark`` names it in ``spark.python.daemon.module``
and puts the package's parent directory on the workers' ``PYTHONPATH``.
The daemon installs the change once, then runs ``pyspark.daemon``'s
``manager()``, so every worker it forks has it before its first task
and no engine function needs to install it. A session built some other
way uses PySpark's own daemon: the same results, with the re-read on
every task.
"""

from __future__ import annotations

import os
import zipimport


def reuse_zip_directories() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read only changed zips.

    Returns True when this call installed the change, False when the
    process already had it.
    """
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "reads_on_change", False):
        return False
    # archive path -> ((st_size, st_mtime_ns) before the read, directory)
    seen: dict[str, tuple[tuple[int, int] | None, dict]] = {}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        last = seen.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            self._files = last[1]
            return
        reread(self)
        seen[self.archive] = (stamp, self._files)

    invalidate_caches.reads_on_change = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # Worker daemon: ``sys.argv`` is left as Spark passed it, since
    # ``pyspark.daemon`` reads the worker module to fork from argv[1].
    reuse_zip_directories()
    from pyspark.daemon import manager

    manager()
