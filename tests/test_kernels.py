"""The worker-side zip-directory guard of the shared kernel layer
(``kernels.install_zip_cache_guard``): unit tests on a temp zip without
Spark, and a Spark test that every Python worker an engine kernel ran on is
patched while the driver is not."""

from __future__ import annotations

import importlib
import os
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
