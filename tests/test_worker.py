"""Worker-side init (profet_spark/_worker.py): a Python worker that runs an
engine kernel stops re-reading zip directories on every task and stops
walking its import-time heap in the daemon's per-task ``gc.collect()``.
Every engine kernel must load the package on the worker so the init
runs."""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pytest

import profet_spark
from profet_spark import _worker

PKG = pathlib.Path(profet_spark.__file__).parent
PY_OPS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport re-reads lazily from 3.13 on")
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    """Under a task, init makes ``importlib.invalidate_caches()`` keep an
    unchanged archive's directory (same cache object) and still see a
    module added by rewriting the archive."""
    import gc

    from pyspark import TaskContext

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zmod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").NAME == "zmod_a"

    # restored on teardown: the class attribute init swaps, the heap freeze
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(gc, "freeze", lambda: None)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(_worker, "_done", False)
    monkeypatch.setattr(_worker, "_stamps", {})
    _worker.init()

    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files

    _write_zip(archive, ["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_b").NAME == "zmod_b"
    monkeypatch.delitem(sys.modules, "zmod_b")
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_init_is_a_noop_outside_a_task():
    assert not _worker._done
    assert zipimport.zipimporter.invalidate_caches is _worker._eager_invalidate


def test_worker_heap_frozen_and_pyspark_zip_not_reread(spark):
    """Inside a task that loads the package, the import-time heap is frozen
    and invalidating import caches keeps pyspark.zip's directory."""
    import pyarrow as pa

    def probe(batches):
        import gc
        import importlib
        import zipimport

        import profet_spark  # noqa: F401  (what every engine kernel does)

        importlib.invalidate_caches()  # a fresh worker's first read
        before = {k: v for k, v in zipimport._zip_directory_cache.items()
                  if k.endswith("pyspark.zip")}
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache.get(k) is v
                   for k, v in before.items())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "frozen": gc.get_freeze_count(), "zips": len(before),
            "kept": kept}])

    df = spark.range(0, 8, numPartitions=4)
    schema = "frozen long, zips long, kept boolean"
    for _ in range(2):
        rows = df.mapInArrow(probe, schema).collect()
        assert len(rows) == 4
        for r in rows:
            assert r.frozen > 0
            if sys.version_info < (3, 13):
                assert r.zips >= 1 and r.kept


def _kernels(tree: ast.Module):
    """Nested functions handed to a Python operator: by name, through a
    local assigned from a factory call, or as a factory's return value;
    plus nested ``pandas_udf``- and ``arrow_udf``-decorated functions.
    Module-level functions are pickled by reference, so they load the
    package anyway."""
    top = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    found, unresolved = {}, []

    def returned(factory):
        names = {r.value.id for r in ast.walk(factory)
                 if isinstance(r, ast.Return) and isinstance(r.value, ast.Name)}
        return [d for d in ast.walk(factory) if isinstance(d, ast.FunctionDef)
                and d is not factory and d.name in names]

    for outer in tree.body:
        if not isinstance(outer, ast.FunctionDef):
            continue
        local = {d.name: d for d in ast.walk(outer)
                 if isinstance(d, ast.FunctionDef) and d is not outer}
        assigned = {t.id: a.value for a in ast.walk(outer)
                    if isinstance(a, ast.Assign) for t in a.targets
                    if isinstance(t, ast.Name)}
        for d in local.values():
            for dec in d.decorator_list:
                if any(u in ast.unparse(dec) for u in ("pandas_udf", "arrow_udf")):
                    found[d.lineno] = d

        def resolve(arg, line):
            if isinstance(arg, ast.Name) and arg.id in local:
                found[local[arg.id].lineno] = local[arg.id]
            elif isinstance(arg, ast.Name) and arg.id in assigned:
                resolve(assigned[arg.id], line)
            elif isinstance(arg, ast.Name) and arg.id in top:
                pass
            elif (isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name)
                  and arg.func.id in local | top):
                factory = local.get(arg.func.id) or top[arg.func.id]
                for d in returned(factory):
                    found[d.lineno] = d
            else:
                unresolved.append(line)

        for call in ast.walk(outer):
            if (isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                    and call.func.attr in PY_OPS):
                resolve(call.args[0], call.lineno)
    return list(found.values()), unresolved


def _package_names(tree: ast.Module) -> set[str]:
    """Module-level names that cloudpickle pickles by reference: the
    module's own functions and classes, and what it imports from the
    package (``_worker`` among them)."""
    names = {n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
    for n in tree.body:
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith("profet_spark"):
            names |= {a.asname or a.name for a in n.names}
    return names


def test_every_nested_kernel_loads_the_package():
    """A closure is pickled by value: unless it references a package-level
    object (``_worker.init()`` when nothing else) it may pull in only
    pandas and leave the worker's per-task cost alone."""
    missing, unresolved, n = [], [], 0
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        kernels, bad = _kernels(tree)
        pkg = _package_names(tree)
        rel = path.relative_to(PKG.parent)
        n += len(kernels)
        missing += [f"{rel}:{k.lineno} {k.name}" for k in kernels
                    if not any(isinstance(x, ast.Name) and x.id in pkg
                               for x in ast.walk(k))]
        unresolved += [f"{rel}:{line}" for line in bad]
    assert n >= 20
    assert not unresolved, f"kernel argument not resolvable: {unresolved}"
    assert not missing, f"kernels that never run the worker init: {missing}"

