"""The shared per-row Arrow kernel layer.

Every per-image raster operator has the same Spark shape: select a few
columns, stream them to Python in Arrow batches (``mapInPandas``), run a
numpy kernel once per input row, and turn the rows the kernel emits back
into an Arrow batch of a declared schema.  :func:`map_rows` owns that
plumbing once, so an operator is just its column list, its output schema
and its per-row function.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


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

    def _batches(it):
        for pdf in it:
            rows = [
                out
                for values in zip(*(pdf[c] for c in cols))
                for out in fn(*values)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(_batches, schema=st)
