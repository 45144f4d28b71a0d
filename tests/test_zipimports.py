"""The worker-side zip-directory reuse (functions/zipimports.py): a zip
on ``sys.path`` is read again only when its size or mtime changed, and
the worker daemon ``get_spark`` names installs it in every worker
before its first task."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

from mock_map_reduce_spark import session
from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), src)


def test_rereads_a_zip_only_when_size_or_mtime_changed(tmp_path, monkeypatch):
    reads: list[str] = []

    def read_every_time(self):  # CPython's behaviour, counted
        reads.append(self.archive)
        self._files = zipimport._read_directory(self.archive)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", read_every_time)
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"mod_a.py": "VALUE = 1\n", "pkg/__init__.py": ""})
    top = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "pkg"))

    assert reuse_zip_directories() is True
    installed = zipimport.zipimporter.invalidate_caches
    assert reuse_zip_directories() is False  # a second install does nothing
    assert zipimport.zipimporter.invalidate_caches is installed

    def invalidate_both() -> int:
        before = len(reads)
        top.invalidate_caches()
        sub.invalidate_caches()
        return len(reads) - before

    assert invalidate_both() == 1  # first sight: one read, shared
    assert invalidate_both() == 0  # unchanged: not read again
    assert invalidate_both() == 0

    # Rewritten in place with a new size: read again, new module visible.
    _write_zip(
        archive,
        {"mod_a.py": "VALUE = 1\n", "pkg/__init__.py": "", "mod_b.py": "B = 1\n"},
    )
    assert invalidate_both() == 1
    assert top.find_spec("mod_b") is not None

    # Same size, new content and mtime: read again, new source served.
    st = archive.stat()
    _write_zip(
        archive,
        {"mod_a.py": "VALUE = 2\n", "pkg/__init__.py": "", "mod_b.py": "B = 1\n"},
    )
    assert archive.stat().st_size == st.st_size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert invalidate_both() == 1
    assert top.get_source("mod_a") == "VALUE = 2\n"
    assert invalidate_both() == 0
    assert reads == [str(archive)] * 3


# Starts the daemon entry as Spark does (``python -m``), with
# ``pyspark.daemon.manager`` replaced by a probe of the state it starts in.
_DAEMON_START = """
import json, runpy, sys, zipimport
import pyspark.daemon
started = []
pyspark.daemon.manager = lambda: started.append({
    "patched": getattr(zipimport.zipimporter.invalidate_caches, "reads_on_change", False),
    "pandas": "pandas" in sys.modules,
})
runpy.run_module(sys.argv[1])  # a plain import
on_import = len(started)
runpy.run_module(sys.argv[1], run_name="__main__", alter_sys=True)
print(json.dumps({"on_import": on_import, "started": started}))
"""


def test_daemon_entry_starts_from_any_cwd_with_the_patch(tmp_path):
    """A daemon module that raises turns every Python task into an
    ``EOFException`` reading the port number, so check its start-up
    directly: importable from a foreign cwd with exactly the workers'
    ``PYTHONPATH``, the patch in place before ``manager()``, no pandas,
    and no manager on a plain import."""
    env = {**os.environ, "PYTHONPATH": session._PACKAGE_PARENT}
    proc = subprocess.run(
        [sys.executable, "-c", _DAEMON_START, session._DAEMON_MODULE],
        capture_output=True,
        cwd=tmp_path,
        env=env,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RuntimeWarning" not in proc.stderr, proc.stderr[-2000:]
    got = json.loads(proc.stdout)
    assert got == {"on_import": 0, "started": [{"patched": True, "pandas": False}]}


def _probe():
    """A worker probe (a closure, so it pickles by value) that calls
    nothing of the engine: it reports whether its worker already has the
    change-aware method."""

    def has_it(batches):
        import zipimport

        import pyarrow as pa

        lazy = getattr(zipimport.zipimporter.invalidate_caches, "reads_on_change", False)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"lazy": lazy}])

    return has_it


def test_every_task_runs_in_a_worker_forked_with_it(spark):
    """No engine function installs the change any more, so a True on
    every task shows the daemon did."""
    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInArrow(_probe(), "lazy boolean").collect()
    assert len(rows) == n
    assert all(r.lazy for r in rows)


def test_zip_shipped_after_install_stays_importable(spark, tmp_path):
    """``addPyFile`` into workers that have the change: a later task
    still imports the new zip, as the public API promises."""
    n = spark.sparkContext.defaultParallelism
    warm = spark.range(0, n, 1, n).mapInArrow(_probe(), "lazy boolean")
    assert all(r.lazy for r in warm.collect())

    name = f"late_shipped_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        lazy = getattr(zipimport.zipimporter.invalidate_caches, "reads_on_change", False)
        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"v": value, "lazy": lazy}])

    rows = spark.range(0, n, 1, n).mapInArrow(use, "v long, lazy boolean").collect()
    assert [r.v for r in rows] == [42] * n
    assert all(r.lazy for r in rows)
