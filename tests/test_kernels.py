"""The shared kernel layer (``geedim_spark.kernels``): the worker-side
zip-directory guard (``install_zip_cache_guard``: unit tests on a temp zip
without Spark, and a Spark test that every Python worker an engine kernel
ran on is patched while the driver is not), the grouped-map driver
``map_groups``, the per-row drivers on hostile values, the rule that only
``kernels.py`` calls Spark's pandas and Arrow map APIs, and the rule that
every library definition is reachable from an entry point."""

from __future__ import annotations

import ast
import importlib
import os
import re
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from geedim_spark import kernels, synth
from geedim_spark.operators import composite

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches
_OLD_PYTHON = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with a module and a package on ``sys.path``, both imported (two
    importers on one archive), a fake task context, a counter of directory
    reads of that archive, and the stdlib method restored afterwards."""
    archive = str(tmp_path / "zguard.zip")
    _write_zip(archive, {"zguard_mod.py": "X = 1\n",
                         "zguard_pkg/__init__.py": "",
                         "zguard_pkg/sub.py": "Y = 2\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zguard_mod")
    importlib.import_module("zguard_pkg.sub")
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        yield archive, reads
    finally:
        zipimport.zipimporter.invalidate_caches = _STDLIB_INVALIDATE
        for name in ("zguard_mod", "zguard_new", "zguard_pkg", "zguard_pkg.sub"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(not _OLD_PYTHON, reason="zipimport is lazy from 3.13")
def test_guard_skips_unchanged_archive_and_rereads_changed(zip_on_path):
    archive, reads = zip_on_path
    # the cost the guard removes: each importer re-reads its archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 3 * 2
    reads.clear()

    kernels.install_zip_cache_guard()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched is not _STDLIB_INVALIDATE
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    # a rewrite (new size, new mtime) is read once, for both importers
    st = os.stat(archive)
    _write_zip(archive, {"zguard_mod.py": "X = 1\n",
                         "zguard_pkg/__init__.py": "",
                         "zguard_pkg/sub.py": "Y = 2\n",
                         "zguard_new.py": "Z = 3\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(archive).st_size != st.st_size
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zguard_new").Z == 3
    importlib.invalidate_caches()
    assert len(reads) == 1

    kernels.install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_guard_is_noop_outside_a_task(zip_on_path, monkeypatch):
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: None))
    kernels.install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is _STDLIB_INVALIDATE


def test_guard_is_noop_on_python_313(zip_on_path, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    kernels.install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is _STDLIB_INVALIDATE


@pytest.mark.skipif(not _OLD_PYTHON, reason="zipimport is lazy from 3.13")
def test_every_kernel_worker_is_patched(spark):
    """After a ``map_rows`` job and a grouped-map ``applyInPandas`` job
    (``composite_tiled``), every Python worker reports the guard.  The probe
    closure references nothing from ``geedim_spark``, so it cannot install
    the guard itself.  The map_rows job has more partitions than the pool
    has workers, so every idle worker takes one of its tasks."""
    df = spark.range(256).repartition(32)
    kernels.map_rows(df, ["id"], "id long", lambda i: [(i,)]) \
        .write.format("noop").mode("overwrite").save()
    images = synth.images_df(spark, 8)
    composite.composite_tiled(images, "mosaic", tile_h=8, tile_w=8) \
        .write.format("noop").mode("overwrite").save()

    def probe(it):
        import os
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
        })

    rows = spark.range(16).repartition(8) \
        .mapInPandas(probe, "pid long, module string").collect()
    assert {r["module"] for r in rows} == {"geedim_spark.kernels"}
    assert zipimport.zipimporter.invalidate_caches is _STDLIB_INVALIDATE


_GROUPS_DDL = "k long, n long, s string"


def _group_rows():
    # built inside each test: a test-module function would be pickled by
    # reference, and workers cannot import the test module
    def fn(pdf):
        k = int(pdf["k"].iloc[0])
        for i in range(k):  # group 0 yields nothing
            yield k, int(pdf["v"].sum()) + i, f"g{k}"
    return fn


def test_map_groups_empty_input_keeps_declared_schema(spark):
    from pyspark.sql.types import StructType

    df = spark.range(0).selectExpr("id % 3 AS k", "id AS v")
    out = kernels.map_groups(df, ["k"], _GROUPS_DDL, _group_rows())
    want = [(f.name, f.dataType) for f in StructType.fromDDL(_GROUPS_DDL)]
    assert [(f.name, f.dataType) for f in out.schema.fields] == want
    assert out.collect() == []


def test_map_groups_rows_per_group(spark):
    """One ``fn`` call per group; a group that yields no tuples adds no
    rows, and a group may yield several."""
    df = spark.range(6).selectExpr("id % 3 AS k", "id AS v")
    rows = sorted(map(tuple, kernels.map_groups(
        df, ["k"], _GROUPS_DDL, _group_rows()).collect()))
    # groups: k=0 {0, 3}, k=1 {1, 4}, k=2 {2, 5}
    assert rows == [(1, 5, "g1"), (2, 7, "g2"), (2, 8, "g2")]


def _with_columns_case(spark):
    """``with_columns`` replaces a named column in place, appends the rest,
    and hands back every other column exactly: a long above 2**53 in a
    batch that also holds a NULL, and a NaN.  The kernel sees None for
    NULL and naive timestamps."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, 2**53 + 1, float("nan"), dt.datetime(2024, 1, 1, 5)),
         (2, None, None, None)],
        "i long, big long, d double, t timestamp").coalesce(1)

    def fn(i, t):
        return i * 10, -1 if t is None else t.hour + (t.tzinfo is not None)

    def run(frame):
        return kernels.with_columns(frame, ["i", "t"], "i long, hour long", fn)

    return df, run, ["i", "big", "d", "t", "hour"], [
        (10, 2**53 + 1, float("nan"), dt.datetime(2024, 1, 1, 5), 5),
        (20, None, None, None, -1),
    ]


def _map_rows_case(spark):
    """``map_rows`` emits a long above 2**53 beside a NULL, and a NaN, and
    repeats its ``keep`` columns (the same long and NULL, an array with a
    NULL element) onto every row an input row yields: two rows for one
    input, none for another.  A kept column the schema declares (``x``)
    is replaced by the emitted one."""
    df = spark.createDataFrame(
        [(1, 2**53 + 1, [1, None], "a"), (2, 7, [2], "b"), (3, None, None, "c")],
        "i long, big long, arr array<long>, x string").coalesce(1)

    def fn(i):
        if i == 1:
            yield 2**53 + 1, float("nan")
            yield None, 0.5
        elif i == 3:
            yield i * 10, float("nan")

    def run(frame):
        return kernels.map_rows(frame, ["i"], "n long, x double", fn,
                                keep=["big", "arr", "x"])

    return df, run, ["big", "arr", "n", "x"], [
        (2**53 + 1, [1, None], 2**53 + 1, float("nan")),
        (2**53 + 1, [1, None], None, 0.5),
        (None, None, 30, float("nan")),
    ]


@pytest.mark.parametrize("case", [_with_columns_case, _map_rows_case],
                         ids=["with_columns", "map_rows"])
def test_row_drivers_keep_hostile_values(spark, case):
    """Each per-row driver round-trips values a pandas transport changes
    (a long beside a NULL comes back float64, a NaN comes back NULL), in
    its declared column order, and keeps that schema on an empty input."""
    df, run, columns, want = case(spark)
    out = run(df)
    assert out.columns == columns
    assert repr([tuple(r) for r in out.collect()]) == repr(want)
    empty = run(df.limit(0))
    assert empty.schema == out.schema and empty.collect() == []


def test_only_kernels_calls_pandas_map_apis():
    """``mapInPandas`` / ``applyInPandas`` / ``mapInArrow`` belong to the
    kernel layer (``map_batches``, ``map_rows``, ``map_groups``,
    ``with_columns``); a direct call anywhere else in the package is a
    per-operator copy of it.  Inside it, ``map_rows`` is the one
    ``mapInArrow`` call (the per-row driver) and ``map_batches`` the one
    ``mapInPandas`` call, so a second row loop fails here.  Streaming's
    ``applyInPandasWithState`` is a different API and is not covered."""
    with open(kernels.__file__) as fh:
        layer = ast.parse(fh.read())
    owners = {}
    for top in layer.body:
        for n in ast.walk(top):
            if isinstance(n, ast.Attribute) and n.attr in ("mapInPandas", "mapInArrow"):
                owners.setdefault(n.attr, []).append(getattr(top, "name", n.lineno))
    assert owners == {"mapInArrow": ["map_rows"], "mapInPandas": ["map_batches"]}, owners
    root = os.path.dirname(kernels.__file__)
    calls = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == kernels.__file__:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            calls += [
                f"{os.path.relpath(path, root)}:{n.lineno} {n.attr}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute)
                and n.attr in ("mapInPandas", "applyInPandas", "mapInArrow")
            ]
    assert not calls, calls


# -- every library definition is reachable from an entry point --------------

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(kernels.__file__)))
_ENTRY_POINTS = ("__spark_entry__.py", "bench.py", "bench_extra.py",
                 "perfbench", "scripts")
# unreached top-level definitions allowed to stay, name -> reason (<= 3)
_UNREACHED_OK: dict[str, str] = {}
# decorators that wrap a def without registering it anywhere
_WRAPPERS = {"cache", "cached_property", "classmethod", "contextmanager",
             "dataclass", "lru_cache", "property", "staticmethod", "wraps"}
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _parse(path):
    with open(path) as fh:
        tree = ast.parse(fh.read())
    docs = {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, *_DEFS)) and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)}
    return tree, docs


def _refs(nodes, docs):
    """(names, module paths) the code refers to: names, attributes,
    identifier strings (docstrings excluded; comments are not in the AST),
    the target of ``import x as y``, and every imported module path."""
    names, mods = set(), set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and id(n) not in docs and _IDENT.fullmatch(n.value)):
                names.update(n.value.split("."))
            elif isinstance(n, ast.Import):
                mods.update(a.name for a in n.names)
            elif isinstance(n, ast.ImportFrom):
                for a in n.names:
                    mods.add(f"{n.module}.{a.name}")
                    if a.asname:
                        names.add(a.name)
    return names, mods


def _registers(node):
    """A decorator other than a plain wrapper registers the def somewhere,
    which counts as a reference."""
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if getattr(d, "id", getattr(d, "attr", None)) not in _WRAPPERS:
            return True
    return False


def _package_modules():
    """{module name: (tree, docstring ids)} for every file in the package."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(_REPO, "geedim_spark")):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                mod = os.path.relpath(path, _REPO)[:-3].replace(os.sep, ".")
                out[mod.removesuffix(".__init__")] = _parse(path)
    return out


def _unreached(modules):
    """Top-level defs of the package that nothing reaches from the entry
    points, ``python -m geedim_spark`` and the module-level code of the
    modules they import, following names and imports transitively."""
    names, mods = set(), {"geedim_spark.__main__"}
    for entry in _ENTRY_POINTS:
        path = os.path.join(_REPO, entry)
        paths = [path] if entry.endswith(".py") else [
            os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".py")]
        for p in paths:
            tree, docs = _parse(p)
            n, m = _refs([tree], docs)
            names |= n
            mods |= m
    defs = [(mod, node) for mod, (tree, _) in modules.items()
            for node in tree.body if isinstance(node, _DEFS)]
    seen_mods, seen = set(), set()
    grew = True
    while grew:
        grew = False
        for mod, (tree, docs) in modules.items():
            if mod not in seen_mods and any(
                    m == mod or m.startswith(mod + ".") for m in mods):
                seen_mods.add(mod)
                grew = True
                n, m = _refs([s for s in tree.body
                              if not isinstance(s, _DEFS)], docs)
                names |= n
                mods |= m
        for mod, node in defs:
            key = f"{mod}.{node.name}"
            if key not in seen and mod in seen_mods and (
                    node.name in names or _registers(node)):
                seen.add(key)
                grew = True
                n, m = _refs([node], modules[mod][1])
                names |= n
                mods |= m
    return sorted({f"{mod}.{node.name}" for mod, node in defs} - seen)


def test_every_library_definition_is_reachable():
    """Library code only tests call is dead weight in the shipped zip: it
    moves to ``tests/reference/`` (a twin a kept operator is checked
    against) or is deleted.  The package never imports from ``tests/``,
    and every module still imports."""
    assert len(_UNREACHED_OK) <= 3
    modules = _package_modules()
    unreached = [n for n in _unreached(modules) if n not in _UNREACHED_OK]
    assert not unreached, "unreached:\n" + "\n".join(unreached)
    from_tests = [mod for mod, (tree, docs) in modules.items()
                  if any(m.split(".")[0] == "tests"
                         for m in _refs([tree], docs)[1])]
    assert not from_tests, from_tests
    for mod in modules:
        if mod != "geedim_spark.__main__":  # importing it runs the CLI
            importlib.import_module(mod)
