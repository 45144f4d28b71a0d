"""The worker-side zip-directory reuse (functions/zipimports.py): a zip
on ``sys.path`` is read again only when its size or mtime changed, the
change reaches the Python workers, and every engine function that runs
in a worker installs it first."""

from __future__ import annotations

import ast
import os
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories

ENGINE = Path(__file__).resolve().parent.parent / "mock_map_reduce_spark"


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


def _probe():
    """A worker probe (a closure, so it pickles by value): install, then
    report whether the class now has the change-aware method and
    whether an earlier task had already installed it."""

    def installed_here(batches):
        import zipimport

        import pyarrow as pa

        fresh = reuse_zip_directories()
        lazy = getattr(zipimport.zipimporter.invalidate_caches, "reads_on_change", False)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"lazy": lazy, "earlier": not fresh}])

    return installed_here


def test_worker_task_installs_it_in_the_same_task(spark):
    n = spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, n, 1, n)
        .mapInArrow(_probe(), "lazy boolean, earlier boolean")
        .collect()
    )
    assert len(rows) == n
    assert all(r.lazy for r in rows)


def test_zip_shipped_after_install_stays_importable(spark, tmp_path):
    """``addPyFile`` after the workers installed the change: a later
    task still imports the new zip, as the public API promises."""
    n = spark.sparkContext.defaultParallelism
    warm = spark.range(0, n, 1, n).mapInArrow(_probe(), "lazy boolean, earlier boolean")
    assert all(r.lazy for r in warm.collect())

    name = f"late_shipped_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pyarrow as pa

        earlier = not reuse_zip_directories()
        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"v": value, "earlier": earlier}])

    rows = spark.range(0, n, 1, n).mapInArrow(use, "v long, earlier boolean").collect()
    assert [r.v for r in rows] == [42] * n
    assert any(r.earlier for r in rows), "no task ran in a worker that had it installed"


# -- CI guard: every function the engine hands to a Python worker -----

# DataFrame / RDD methods whose function argument runs in a Python worker.
WORKER_METHODS = {
    "arrow_map",  # functions/arrowmap.py: its kernel argument
    "mapInArrow",
    "mapInPandas",
    "applyInPandas",
    "applyInArrow",
    "applyInPandasWithState",
    "pandas_udf",
    "flatMap",
    "mapPartitions",
}
# Classes whose instances run in a worker, and the method that runs first.
WORKER_CLASS_ENTRY = {
    "DataSourceReader": "read",
    "DataSourceWriter": "write",
}
HELPER = "reuse_zip_directories"


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    return bool(body) and (
        isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Call)
        and isinstance(body[0].value.func, ast.Name)
        and body[0].value.func.id == HELPER
    )


def _name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Call):
        return _name(node.func)
    return None


def _defs_in(scope: ast.AST) -> dict[str, ast.AST]:
    """Functions and classes defined in ``scope``'s own body (not in
    nested functions or classes)."""
    out: dict[str, ast.AST] = {}
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.setdefault(node.name, node)
        elif not isinstance(node, ast.Lambda):
            stack.extend(ast.iter_child_nodes(node))
    return out


def _method(cls: ast.ClassDef, name: str) -> ast.FunctionDef | None:
    for node in cls.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return node
    return None


def _worker_method(cls: ast.ClassDef) -> str | None:
    """The method a worker runs first on an instance of ``cls``, if any."""
    for base in cls.bases:
        if _name(base) in WORKER_CLASS_ENTRY:
            return WORKER_CLASS_ENTRY[_name(base)]
    if any(_name(d) == "udtf" for d in cls.decorator_list):
        return "eval"
    return None


def _worker_entry_points(tree: ast.Module) -> tuple[list, list[str]]:
    """(function defs that run in a worker, problems found)."""
    parents: dict[ast.AST, ast.AST] = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def resolve(name: str, at: ast.AST) -> ast.AST | None:
        node = at
        while node is not None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)):
                found = _defs_in(node).get(name)
                if found is not None:
                    return found
            node = parents.get(node)
        return None

    entries: list = []
    problems: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and (method := _worker_method(node)):
            fn = _method(node, method)
            if fn is None:
                problems.append(f"{node.name}:{node.lineno} has no {method}() to check")
            else:
                entries.append(fn)
        elif isinstance(node, ast.FunctionDef) and any(
            _name(d) == "pandas_udf" for d in node.decorator_list
        ):
            entries.append(node)
        elif isinstance(node, ast.Call) and _name(node.func) in WORKER_METHODS:
            arg = node.args[0] if node.args else None
            if arg is None or isinstance(arg, ast.Constant):
                continue  # decorator form, e.g. @pandas_udf("double"): checked at the def
            where = f"{_name(node.func)} at line {node.lineno}"
            if isinstance(arg, ast.Lambda):
                problems.append(f"{where} passes a lambda; use a def that calls {HELPER}()")
                continue
            target = resolve(_name(arg) or "", node) if isinstance(arg, (ast.Name, ast.Call)) else None
            if isinstance(target, ast.ClassDef):
                if _worker_method(target) is None:  # else checked at the class
                    problems.append(f"{where}: {target.name} is not a known worker class")
                continue
            if not isinstance(target, (ast.FunctionDef, ast.AsyncFunctionDef)):
                problems.append(f"{where}: cannot find the def of its function argument")
                continue
            entries.append(target)
    return entries, problems


def test_every_worker_function_calls_the_helper_first():
    checked = 0
    problems: list[str] = []
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        entries, found = _worker_entry_points(tree)
        rel = path.relative_to(ENGINE.parent)
        problems += [f"{rel}: {p}" for p in found]
        for fn in {id(f): f for f in entries}.values():
            checked += 1
            if not _calls_helper_first(fn):
                problems.append(
                    f"{rel}:{fn.lineno} {fn.name}() runs in a Python worker"
                    f" but does not call {HELPER}() first"
                )
    assert not problems, "\n".join(problems)
    # The scan must find the engine's worker functions, or it proves nothing.
    assert checked >= 30, checked


@pytest.mark.parametrize(
    "src, ok",
    [
        ("def k(b):\n    reuse_zip_directories()\n    return b\ndf.mapInArrow(k, 's')", True),
        ("def k(b):\n    return b\ndf.mapInArrow(k, 's')", False),
        ("def k(b):\n    x = 1\n    reuse_zip_directories()\ndf.mapInPandas(k, 's')", False),
        ("df.rdd.flatMap(lambda r: r)", False),
        ("@udtf(returnType='a int')\nclass U:\n    def eval(self, x):\n"
         "        reuse_zip_directories()\n        yield (x,)\n", True),
        ("def outer():\n    def k(b):\n        return b\n    return df.applyInPandas(k, 's')", False),
        ("@pandas_udf('double')\ndef f(s):\n    return s\n", False),
        ("@F.pandas_udf('double')\ndef f(s):\n    reuse_zip_directories()\n    return s\n", True),
        ("def f(s):\n    return s\ng = pandas_udf(f, 'double')", False),
        ("df.mapInArrow(imported_kernel, 's')", False),
        ("def k(b):\n    return b\narrow_map(k, df, ['doc_id'], 's')", False),
        ("def k(b):\n    reuse_zip_directories()\n    return b\narrow_map(k, df, ['doc_id'], 's')", True),
    ],
)
def test_guard_catches_a_worker_function_without_the_helper(src, ok):
    entries, problems = _worker_entry_points(ast.parse(src))
    assert (not problems and all(_calls_helper_first(f) for f in entries)) is ok
