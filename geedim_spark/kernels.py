"""The shared kernel layer: one driver per kernel shape.

- :func:`map_rows` (``mapInArrow``), the one per-row driver: ``fn`` gets
  one row's values and yields zero or more rows of a declared schema
  (stats, tiles, bucket pairs).  ``keep`` names columns that never enter
  Python: they are prepended to the declared schema (a declared field
  replaces a kept column of its name) and repeated onto each row an
  input row yields (Arrow ``take``; passed through with no copy when
  every input row yields exactly one).  A key such as ``download``'s
  partition column rides through a kernel that way, so nothing joins a
  kernel's output back on ``image_id``.
- :func:`with_columns`: :func:`map_rows` with one row out per row in,
  keeping every column of the input and selecting back into its column
  order (a blob rewritten in place, mask counts appended).
- :func:`map_batches` (``mapInPandas``): batch-vectorised kernels.
- :func:`map_groups` (``applyInPandas``): one ``groupBy`` group per call
  (composite stacks, halo tiles, per-image and per-shard file sinks).

The row driver hands ``fn`` Arrow's ``to_pylist`` values: None for NULL
(a NULL array element too), NaN stays NaN, longs keep every digit, and
timestamps are naive session-local ``datetime``s.  Each emitted column is
built with ``pa.array(values, type)``; no kernel emits a timestamp, and a
naive one would be read as UTC.  A pandas round trip would turn a long
beside a NULL into float64 and a NaN into NULL.

All of them install :func:`install_zip_cache_guard` in the worker, a fix
for a fixed per-task cost that every Python kernel task pays.  This is the
only module that calls ``mapInPandas`` / ``applyInPandas`` / ``mapInArrow``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Iterable

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
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


def _struct(schema: str | StructType) -> StructType:
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def map_rows(
    df: DataFrame,
    cols: list[str],
    schema: str | StructType,
    fn: Callable[..., Iterable[tuple]],
    keep: Iterable[str] = (),
) -> DataFrame:
    """Run ``fn(*values)`` once per row of ``df`` on its ``cols`` values and
    return the tuples it yields, in ``schema`` field order, as a frame of
    ``keep`` + ``schema``: each yielded row is led by its input row's
    ``keep`` values, which ``fn`` does not see unless ``cols`` names them
    too.  A ``keep`` column that ``schema`` declares is replaced by the
    emitted field.  Rows keep their input order within a partition; no
    shuffle.
    """
    st = _struct(schema)
    keep = [k for k in keep if k not in st.fieldNames()]
    types = to_arrow_schema(st).types
    out = StructType([df.schema[k] for k in keep] + st.fields)
    names = out.fieldNames()

    def _batches(it):
        # a global reference: unpickling it imports geedim_spark in the worker
        install_zip_cache_guard()
        for batch in it:
            # tz-aware timestamps -> naive session-local
            args = [pc.local_timestamp(a) if getattr(a.type, "tz", None) else a
                    for a in (batch.column(c) for c in cols)]
            emitted = [list(fn(*values)) for values in zip(*(a.to_pylist() for a in args))]
            rows = [r for e in emitted for r in e]
            kept = [batch.column(k) for k in keep]
            if kept and any(len(e) != 1 for e in emitted):
                idx = pa.array([i for i, e in enumerate(emitted) for _ in e], pa.int64())
                kept = [a.take(idx) for a in kept]
            # strict: a tuple of the wrong length fails the task
            columns = list(zip(*rows, strict=True)) or [()] * len(types)
            new = [pa.array(c, t) for c, t in zip(columns, types, strict=True)]
            yield pa.RecordBatch.from_arrays(kept + new, names=names)

    return df.select(*dict.fromkeys(keep + list(cols))).mapInArrow(_batches, out)


def with_columns(
    df: DataFrame,
    cols: list[str],
    schema: str | StructType,
    fn: Callable[..., tuple],
) -> DataFrame:
    """``df.withColumns`` for a per-row kernel: :func:`map_rows` where
    ``fn(*values)`` returns exactly one tuple in ``schema`` order.  A field
    naming a column of ``df`` replaces it in place; others are appended.
    Every other column is kept, so the image row survives the kernel."""
    out = map_rows(df, cols, schema, lambda *values: (fn(*values),), keep=df.columns)
    return out.select(*df.columns, *(n for n in out.columns if n not in df.columns))


def map_groups(
    df: DataFrame,
    keys: list[str],
    schema: str | StructType,
    fn: Callable[[pd.DataFrame], Iterable[tuple]],
) -> DataFrame:
    """Run ``fn(pdf)`` once per group of ``df.groupBy(*keys)``
    (``applyInPandas``; ``pdf`` holds every column of ``df``) and return the
    tuples it yields, in ``schema`` field order, as a frame of ``schema``."""
    st = _struct(schema)
    names = st.fieldNames()

    def _group(pdf):
        install_zip_cache_guard()
        return pd.DataFrame(list(fn(pdf)), columns=names)

    return df.groupBy(*keys).applyInPandas(_group, schema=st)
