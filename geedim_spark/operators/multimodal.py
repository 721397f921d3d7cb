"""Multimodal columns: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as ``binary``
columns with metadata (w/h/fmt, sample rate, duration).  The engine's own
codecs (raw, dct8) decode for real; external container formats (jpeg, wav,
mp4) have **stub decoders** — the media libraries are not in this
environment — behind deterministic fakes so the Spark-side plumbing
(schemas, Arrow batching, partitioning, UDF signatures) is real and tested:

- ``decode_pixels``     -> (bands, h, w) pixels
- ``image_features``    -> per-band mean/std + phash (real compute)
- ``aspect_bucket``     -> multi-aspect training-resolution buckets
- ``quality_gate``      -> metadata-only admission rules

STUBS: :func:`_fake_decode` derives deterministic pseudo-pixels from the
payload's md5 — replace with a real decoder (Pillow/ffmpeg) when available.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from geedim_spark import codecs
from geedim_spark.kernels import map_rows

_REAL_FMTS = {"raw", "dct8"}
_MEDIA_COLS = ["image_id", "bytes", "fmt", "w", "h"]
_STUB_FMTS = {"jpeg", "png", "wav", "mp3", "mp4"}


def _fake_decode(buf: bytes, w: int, h: int, bands: int = 3) -> np.ndarray:
    """STUB decoder: deterministic pseudo-pixels seeded from the payload
    hash.  NOT a real codec — stands in for Pillow/ffmpeg so downstream
    plumbing (shapes, dtypes, batching) is exercised honestly."""
    seed = int.from_bytes(hashlib.md5(buf).digest()[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(bands, h, w), dtype=np.int64).astype(np.uint8)


def decode_pixels(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt in _REAL_FMTS:
        return codecs.decode(buf)
    if fmt in _STUB_FMTS:
        return _fake_decode(bytes(buf), w, h)
    raise NotImplementedError(
        f"no decoder for fmt={fmt!r}; real formats: {_REAL_FMTS}, "
        f"stubbed: {_STUB_FMTS}"
    )


def image_features(images: DataFrame) -> DataFrame:
    """Per-image feature extraction: band means/stds + perceptual hash.
    Real compute over decoded pixels; one Arrow pass, no shuffle."""
    def _row(image_id, buf, fmt, w, h):
        px = decode_pixels(bytes(buf), fmt, int(w), int(h)).astype(np.float64)
        yield (
            image_id,
            [float(m) for m in px.mean(axis=(1, 2))],
            [float(s) for s in px.std(axis=(1, 2))],
            codecs.phash64(px),
        )

    return map_rows(
        images, _MEDIA_COLS,
        "image_id string, band_means array<double>, "
        "band_stds array<double>, phash long",
        _row,
    )


# SDXL-style resolution bucket set (~1 Mpx each, aspect 0.4-2.4): the
# standard multi-aspect training grid.  All dims <= 1536 so every integer
# product below stays far inside int64.
DEFAULT_ASPECT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1024, 1024), (1152, 896), (896, 1152), (1216, 832), (832, 1216),
    (1344, 768), (768, 1344), (1536, 640), (640, 1536),
)


def aspect_bucket(
    images: DataFrame,
    buckets: tuple[tuple[int, int], ...] | None = None,
    w_col: str = "w",
    h_col: str = "h",
    patch: int = 14,
) -> DataFrame:
    """Aspect-ratio bucketing — the multi-aspect batching rule of image
    training pipelines (SDXL-style): each image is assigned the bucket
    (bw, bh) whose aspect ratio is closest to its own, so a batch resizes
    to one shared resolution with minimal distortion.

    "Closest" is argmin over buckets of ``max(r/b, b/r)`` (the symmetric
    ratio distance, == exp|log r - log b|), compared EXACTLY by integer
    cross-multiplication: ``max(w*bh, h*bw) / min(w*bh, h*bw)`` as a
    rational, never a float — engine log/division ulps cannot flip a
    near-tie, so an external engine reproduces every assignment
    bit-for-bit.  Exact ratio ties keep the earliest bucket.

    Pure Catalyst (one codegen'd ``aggregate`` fold over a constant
    array) — no UDF, no shuffle, no state; the follow-up per-bucket
    groupBy is the only exchange a batch planner needs.

    Output: input key columns + bucket_idx/bucket_w/bucket_h and
    ``n_vit_tokens`` (ceil(bw/patch)*ceil(bh/patch)) — the sequence-length
    cost of the sample at its bucket resolution.
    """
    from pyspark.sql import functions as F

    bl = list(DEFAULT_ASPECT_BUCKETS if buckets is None else buckets)
    if not bl:
        raise ValueError("buckets must be non-empty")
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    arr = F.array(*[
        F.struct(
            F.greatest(w * bh, h * bw).alias("mx"),
            F.least(w * bh, h * bw).alias("mn"),
            F.lit(i).cast("long").alias("idx"),
            F.lit(bw).cast("long").alias("bw"),
            F.lit(bh).cast("long").alias("bh"),
        )
        for i, (bw, bh) in enumerate(bl)
    ])
    best = F.aggregate(
        F.slice(arr, 2, len(bl) - 1),
        F.element_at(arr, 1),
        lambda acc, x: F.when(
            x["mx"] * acc["mn"] < acc["mx"] * x["mn"], x
        ).otherwise(acc),
    )
    n_tok = (
        F.ceil(best["bw"] / F.lit(patch)) * F.ceil(best["bh"] / F.lit(patch))
    ).cast("long")
    return images.withColumns({
        "bucket_idx": best["idx"],
        "bucket_w": best["bw"],
        "bucket_h": best["bh"],
        "n_vit_tokens": n_tok,
    })


def quality_gate(
    images: DataFrame,
    min_dim: int = 32,
    max_aspect: tuple[int, int] = (3, 1),
    min_caption_chars: int = 5,
    fmts: tuple[str, ...] = ("raw", "dct8"),
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """LAION-style image+caption admission gate (cf. Schuhmann et al.
    2022 §3.1: resolution / aspect / caption-length / format filters
    before any pixel is decoded): per-row booleans for each rule plus
    the ``keep`` conjunction, evaluated on METADATA ONLY.

    The aspect rule compares exactly by integer cross-multiplication —
    ``max(w,h) * den <= min(w,h) * num`` for a ``num/den`` cap — never a
    float ratio, so every verdict is reproducible cross-engine.

    Scale shape (100 TB): pure Catalyst column expressions over the
    metadata columns — zero shuffle, zero UDF, and (critically) zero
    byte-column touch: the gate prunes BEFORE decode, so rejected images
    never cost a pixel.  Parquet column pruning drops ``bytes`` from the
    scan entirely.

    Output: input key columns + ok_dim / ok_aspect / ok_caption /
    ok_fmt / keep booleans.
    """
    from pyspark.sql import functions as F

    num, den = max_aspect
    if min_dim < 1 or num < 1 or den < 1:
        raise ValueError("min_dim and max_aspect parts must be >= 1")
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    ok_dim = (F.least(w, h) >= min_dim).alias("ok_dim")
    ok_aspect = (
        F.greatest(w, h) * den <= F.least(w, h) * num).alias("ok_aspect")
    ok_caption = (
        F.length(F.coalesce(F.col("caption"), F.lit("")))
        >= min_caption_chars).alias("ok_caption")
    ok_fmt = F.col("fmt").isin(*fmts).alias("ok_fmt")
    out = images.withColumns({
        "ok_dim": ok_dim, "ok_aspect": ok_aspect,
        "ok_caption": ok_caption, "ok_fmt": ok_fmt,
    })
    return out.withColumn(
        "keep",
        F.col("ok_dim") & F.col("ok_aspect")
        & F.col("ok_caption") & F.col("ok_fmt"),
    )
