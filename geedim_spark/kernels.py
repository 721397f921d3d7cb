"""The shared Arrow kernel layer.

Every per-image raster operator has the same Spark shape: select a few
columns, stream them to Python in Arrow batches (``mapInPandas``), run a
numpy kernel once per input row, and turn the rows the kernel emits back
into an Arrow batch of a declared schema.  :func:`map_rows` owns that
plumbing once, so an operator is just its column list, its output schema
and its per-row function.  Batch-vectorised kernels use
:func:`map_batches`, which :func:`map_rows` is built on.

Both install :func:`install_zip_cache_guard` in the worker, a fix for a
fixed per-task cost that every Python kernel task pays.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_cache_guard() -> None:
    """Stop a reused Python worker from re-reading every zip archive's
    central directory on each task.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``).  Before Python 3.13,
    ``zipimporter.invalidate_caches`` re-reads its whole archive, and there
    is one importer per package directory imported from a zip: 16 on
    ``pyspark.zip`` plus one per ``--py-files`` subpackage.  Profiled on a
    4-vCPU host that was 0.51 s of a 0.59 s trivial-kernel task.  The
    replacement re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` changed since the last read; otherwise the
    importer points at the shared cached directory.  Directory finders and
    ``sys.path`` entries are still invalidated, so files added to a running
    session are found.

    Runs only inside a task (never patches a driver) and only on Python
    < 3.13, whose ``invalidate_caches`` is already lazy.  Idempotent.  The
    package ``__init__`` calls it, so any kernel whose closure imports
    ``geedim_spark`` in a worker installs it.
    """
    if sys.version_info >= (3, 13):
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    if stdlib.__module__ == __name__:
        return
    cache = zipimport._zip_directory_cache
    # the installing task's setup_spark_files has just re-read every cached
    # archive, so the cache is current as of now
    stamps = {path: _archive_stamp(path) for path in cache}

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        files = cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stdlib(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def map_batches(
    df: DataFrame,
    schema: str | StructType,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
) -> DataFrame:
    """Run ``fn(pdf)`` once per Arrow batch of ``df`` and return the pandas
    frames it returns as a frame of ``schema`` (``mapInPandas``).  For
    batch-vectorised kernels; per-row kernels use :func:`map_rows`."""

    def _batches(it):
        # a global reference: unpickling it imports geedim_spark in the worker
        install_zip_cache_guard()
        for pdf in it:
            yield fn(pdf)

    return df.mapInPandas(_batches, schema=schema)


def map_rows(
    df: DataFrame,
    cols: list[str],
    schema: str | StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """Run ``fn(*values)`` once per row of ``df.select(*cols)`` and return
    the rows it yields as a frame of ``schema``.

    ``fn`` receives the row's values in ``cols`` order and yields zero or
    more output tuples in ``schema`` field order (one per image for stats
    kernels, one per tile for tiling kernels).  Rows keep their input order
    within a partition; no shuffle.  ``schema`` is a DDL string or a
    ``StructType``; its field names label every output batch, including
    the empty ones.
    """
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = st.fieldNames()

    def _rows(pdf):
        rows = [
            out
            for values in zip(*(pdf[c] for c in cols))
            for out in fn(*values)
        ]
        return pd.DataFrame(rows, columns=names)

    return map_batches(df.select(*cols), st, _rows)
