"""Per-offset disk morphology: the naive twins of the decomposed
``focal_max`` / ``focal_min`` in ``geedim_spark.operators.masks``."""

from __future__ import annotations

import numpy as np

from geedim_spark.operators.masks import _shift


def _disk_offsets(radius: int) -> list[tuple[int, int]]:
    if radius <= 0:
        return [(0, 0)]
    r2 = radius * radius
    return [
        (dy, dx)
        for dy in range(-radius, radius + 1)
        for dx in range(-radius, radius + 1)
        if dy * dy + dx * dx <= r2
    ]


def _focal_min_naive(mask: np.ndarray, radius: int) -> np.ndarray:
    """Per-offset erosion: the intersection of the disk's shifts."""
    if radius <= 0:
        return mask
    out = np.ones_like(mask)
    for dy, dx in _disk_offsets(radius):
        out &= _shift(mask, dy, dx, True)
    return out
