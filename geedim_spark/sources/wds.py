"""WebDataset-style tar shard sink/source for image+caption corpora.

The standard deliverable of large multimodal training pipelines
(img2dataset -> WebDataset -> sequential-read dataloaders): samples are
grouped into fixed-count tar shards, each sample a key with one tar member
per modality — ``{key}.img`` (opaque encoded bytes), ``{key}.txt``
(caption), ``{key}.json`` (typed metadata).  Shard membership is the
repo's portable content-hash rule (``sampling.hash_bucket`` — md5 of
key+salt), so the layout is a pure function of content: re-running the
export on a repartitioned/compacted source produces byte-identical
shards, and an external engine can predict every sample's shard.

Reference analog: geedim's on-disk deliverable is per-image GeoTIFFs
(download.py BaseImage.toGeoTIFF / cli.py download --download-dir); this
sink is the corpus-scale equivalent the training-data pipeline needs —
10^12 samples cannot live as 10^12 files, they live as ~10^6 tar shards
streamed sequentially by dataloader workers.

Scale shape: one shuffle (hash repartition on the shard id), then each
shard is written by exactly one task via ``applyInPandas`` — no driver
collect, no cross-shard coordination.  Size shards via ``n_shards`` so a
shard is O(100 MB–1 GB) at the target corpus (WebDataset's own guidance);
tar bytes are deterministic (sorted keys, zeroed ustar headers) so shard
sha256s double as end-to-end integrity checks in the manifest.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geedim_spark.kernels import map_batches
from geedim_spark.operators.sampling import hash_bucket

MANIFEST_SCHEMA = (
    "shard long, n_samples long, n_data_bytes long, tar_sha256 string, "
    "path string"
)
_SAMPLE_SCHEMA = (
    "shard long, key string, data binary, caption string, meta string"
)


def shard_of(key, n_shards: int, salt: str = "wds-v1"):
    """Deterministic shard id in [0, n_shards): the portable md5 bucket
    (``sampling.hash_bucket`` % n_shards) — layout/engine-independent."""
    return (hash_bucket(key, salt) % F.lit(n_shards)).cast("long")


def _write_tar(rows: list[dict], path: str) -> tuple[int, str]:
    """One deterministic tar streamed straight to ``path``: keys sorted,
    ustar format, zeroed headers (mtime/uid/gid/uname/gname) so identical
    samples => identical bytes.  Streaming (not BytesIO) keeps writer
    memory at one Arrow group, not group + tar copy — the bound that
    matters at the ~1 GB shard sizes WebDataset recommends.  Returns
    (n_data_bytes, sha256) with the hash computed in chunks."""
    n_data = 0
    with tarfile.open(path, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for r in sorted(rows, key=lambda r: r["key"]):
            key = str(r["key"]).replace("/", "_")
            data = bytes(r["data"]) if r["data"] is not None else b""
            n_data += len(data)
            for ext, payload in (
                ("img", data),
                ("txt", (r["caption"] or "").encode("utf-8")),
                ("json", r["meta"].encode("utf-8")),
            ):
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(payload))
    sha = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            sha.update(chunk)
    return n_data, sha.hexdigest()


def write_wds_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 64,
    key_col: str = "image_id",
    data_col: str = "bytes",
    caption_col: str = "caption",
    meta_cols: tuple[str, ...] = ("w", "h", "fmt"),
    salt: str = "wds-v1",
    overwrite: bool = False,
    resume: bool = False,
) -> DataFrame:
    """Write ``df`` as deterministic WebDataset tar shards; return the
    manifest DataFrame (shard, n_samples, n_data_bytes, tar_sha256, path).

    The manifest is also persisted under ``out_dir/_manifest`` so a later
    reader (or resume logic) can verify shard integrity without re-hashing.

    ``resume=True`` skips shards whose tar already exists and only writes
    the missing ones — safe because shard CONTENT is a pure function of
    the input (content-hash membership + deterministic tar bytes), so a
    re-run over the SAME input reproduces exactly what a completed shard
    already holds.  Running resume with a CHANGED input is the caller's
    bug (stale shards are not detected); use ``overwrite=True`` then.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if overwrite and resume:
        raise ValueError("overwrite and resume are mutually exclusive")
    os.makedirs(out_dir, exist_ok=True)
    existing = [p for p in os.listdir(out_dir)
                if p.startswith("shard-") and p.endswith(".tar")]
    if existing and not resume:
        if not overwrite:
            raise FileExistsError(
                f"{out_dir} already holds {len(existing)} shard tars; "
                "pass overwrite=True to replace them (or resume=True to "
                "fill in missing shards of an identical input)"
            )
        for p in existing:
            os.unlink(os.path.join(out_dir, p))
    done_shards = (
        {int(p[len("shard-"):-len(".tar")]) for p in existing}
        if resume else set()
    )

    meta_expr = F.to_json(F.struct(*[F.col(c) for c in meta_cols]))
    samples = df.select(
        shard_of(F.col(key_col), n_shards, salt).alias("shard"),
        F.col(key_col).cast("string").alias("key"),
        F.col(data_col).alias("data"),
        F.col(caption_col).cast("string").alias("caption"),
        meta_expr.alias("meta"),
    )
    if done_shards:
        # completed shards are pruned BEFORE the shuffle: a resumed run
        # moves only the missing shards' bytes
        samples = samples.filter(~F.col("shard").isin(*done_shards))

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        rows = pdf.to_dict("records")
        path = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        tmp = f"{path}.tmp-{os.getpid()}"
        try:
            n_data, sha = _write_tar(rows, tmp)
            os.replace(tmp, path)  # atomic publish on the same filesystem
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        return pd.DataFrame([{
            "shard": shard,
            "n_samples": len(rows),
            "n_data_bytes": n_data,
            "tar_sha256": sha,
            "path": path,
        }])

    manifest = (
        samples.repartition(n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(_write, schema=MANIFEST_SCHEMA)
    )
    manifest_dir = os.path.join(out_dir, "_manifest")
    if done_shards and os.path.exists(manifest_dir):
        # keep the completed shards' manifest rows alongside the new ones
        prior = df.sparkSession.read.parquet(manifest_dir).filter(
            F.col("shard").isin(*done_shards)
        )
        manifest = manifest.unionByName(prior)
    # one small action materialises the shards; the manifest itself is tiny
    # (n_shards rows) so a parquet copy beside the tars is cheap.  Staged
    # through a tmp dir because a resumed manifest READS manifest_dir —
    # Spark cannot overwrite a path that feeds the writing plan.
    import shutil

    tmp_manifest = os.path.join(out_dir, "_manifest_tmp")
    manifest.write.mode("overwrite").parquet(tmp_manifest)
    df.sparkSession.read.parquet(tmp_manifest).write.mode(
        "overwrite"
    ).parquet(manifest_dir)
    shutil.rmtree(tmp_manifest, ignore_errors=True)
    return df.sparkSession.read.parquet(manifest_dir)


def read_wds_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    """Stream tar shards back to rows (shard, key, data, caption, meta).

    ``binaryFile`` scan of the shard tars -> Arrow-batched tar parse; each
    task holds one tar in memory (the same bound the writer chose).  The
    '/'->'_' key sanitisation of the writer is not reversed — keys are
    identifiers, and the sanitised form is what the tar IS."""

    def _parse(pdf):
        out = []
        for path, content in zip(pdf["path"], pdf["content"]):
            shard = int(os.path.basename(path)[len("shard-"):-len(".tar")])
            with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                cur: dict[str, dict] = {}
                for m in tf.getmembers():
                    key, ext = m.name.rsplit(".", 1)
                    cur.setdefault(key, {})[ext] = tf.extractfile(m).read()
                for key, parts in cur.items():
                    out.append({
                        "shard": shard,
                        "key": key,
                        "data": parts.get("img", b""),
                        "caption": parts.get("txt", b"").decode("utf-8"),
                        "meta": parts.get("json", b"{}").decode("utf-8"),
                    })
        return pd.DataFrame(
            out, columns=["shard", "key", "data", "caption", "meta"]
        )

    tars = spark.read.format("binaryFile").load(
        os.path.join(out_dir, "shard-*.tar")
    )
    return map_batches(tars.select("path", "content"), _SAMPLE_SCHEMA, _parse)


def verify_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Integrity check: re-hash every shard tar on executors and compare
    with the committed manifest.  Returns (shard, ok) — a reader can gate
    on ``ok`` before trusting a shard (bit-rot / partial-copy detection)."""
    manifest = spark.read.parquet(os.path.join(out_dir, "_manifest"))
    tars = spark.read.format("binaryFile").load(
        os.path.join(out_dir, "shard-*.tar")
    )

    def _hash(pdf):
        return pd.DataFrame({
            "path": pdf["path"].map(
                lambda p: p[len("file:"):] if p.startswith("file:") else p
            ),
            "actual_sha256": pdf["content"].map(
                lambda c: hashlib.sha256(bytes(c)).hexdigest()
            ),
        })

    hashed = map_batches(tars.select("path", "content"),
                         "path string, actual_sha256 string", _hash)
    return manifest.join(hashed, "path", "left").select(
        "shard",
        (F.col("actual_sha256") == F.col("tar_sha256")).alias("ok"),
    )
