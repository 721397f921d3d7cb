"""Test-scale sink for the halo stencils in
``geedim_spark.operators.stencil``: stitch a tiled result back into the
whole-image array it is compared against."""

from __future__ import annotations

import numpy as np

from geedim_spark import codecs


def assemble_tiles(tile_rows, tile_h: int, tile_w: int, dtype="float64") -> np.ndarray:
    """Stitch (tr, tc) tile rows back into one array."""
    n_tr = max(r["tr"] for r in tile_rows) + 1
    n_tc = max(r["tc"] for r in tile_rows) + 1
    blks = {}
    for r in tile_rows:
        blks[(r["tr"], r["tc"])] = codecs.decode(bytes(r["tile_bytes"]))[0]
    h = sum(blks[(tr, 0)].shape[0] for tr in range(n_tr))
    w = sum(blks[(0, tc)].shape[1] for tc in range(n_tc))
    out = np.zeros((h, w), dtype=dtype)
    for (tr, tc), blk in blks.items():
        out[tr * tile_h:tr * tile_h + blk.shape[0],
            tc * tile_w:tc * tile_w + blk.shape[1]] = blk
    return out
