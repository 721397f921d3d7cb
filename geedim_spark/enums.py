"""Enum vocabularies — parity with /root/reference/geedim/enums.py.

The reference exposes CompositeMethod / CloudMaskMethod / ResamplingMethod /
ExportType / SplitType (enums.py:40-170).  These are the canonical value
sets for callers; the operators take plain strings and check them against
their own lists (e.g. ``composite.METHODS``), not against these enums.
"""

from __future__ import annotations

from enum import Enum


class CompositeMethod(str, Enum):
    q_mosaic = "q-mosaic"
    mosaic = "mosaic"
    medoid = "medoid"
    median = "median"
    mode = "mode"
    mean = "mean"


class CloudMaskMethod(str, Enum):
    cloud_score = "cloud-score"
    cloud_prob = "cloud-prob"
    qa = "qa"


class CloudScoreBand(str, Enum):
    cs = "cs"
    cs_cdf = "cs_cdf"


class ResamplingMethod(str, Enum):
    near = "near"          # identity (default: no resample)
    bilinear = "bilinear"
    bicubic = "bicubic"
    average = "average"


class ExportType(str, Enum):
    parquet_table = "parquet"   # snapshot-committed tiles table (primary)
    numpy = "numpy"             # sources.sinks.to_numpy
    xarray = "xarray"           # sources.sinks.to_xarray (gated)


class SplitType(str, Enum):
    bands = "bands"
    images = "images"


class SpectralDistanceMetric(str, Enum):
    sed = "sed"   # sqrt sum of squared differences (medoid uses this)
    sam = "sam"
    sid = "sid"
    emd = "emd"
