"""WebDataset tar shard sink: byte-exact round trip, deterministic
layout-independent shard bytes, manifest integrity, overwrite guard."""

from __future__ import annotations

import hashlib
import os
import tarfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geedim_spark import synth
from geedim_spark.sources import wds


def _manifest_ok(out_dir):
    """{shard: tar sha256 == the committed manifest's} for every row of
    ``out_dir/_manifest`` (a missing tar counts as a mismatch)."""
    ok = {}
    for r in pq.read_table(os.path.join(out_dir, "_manifest")).to_pylist():
        path = r["path"]
        if os.path.exists(path):
            with open(path, "rb") as fh:
                ok[r["shard"]] = hashlib.sha256(fh.read()).hexdigest() \
                    == r["tar_sha256"]
        else:
            ok[r["shard"]] = False
    return ok


@pytest.fixture(scope="module")
def images(spark):
    return synth.images_df(spark, 60).select(
        "image_id", "bytes", "caption", "w", "h", "fmt"
    )


def test_wds_roundtrip_byte_exact(spark, images, tmp_path):
    out = str(tmp_path / "shards")
    manifest = wds.write_wds_shards(images, out, n_shards=8)
    rows = manifest.collect()
    assert sum(r["n_samples"] for r in rows) == 60
    assert all(os.path.exists(r["path"]) for r in rows)

    back = wds.read_wds_shards(spark, out)
    joined = back.select(
        F.regexp_replace("key", "_", "/").alias("image_id"),
        "data", F.col("caption").alias("rt_caption"),
    ).join(images, "image_id")
    n_ok = joined.filter(
        (F.col("data") == F.col("bytes"))
        & (F.col("rt_caption") == F.col("caption"))
    ).count()
    assert n_ok == 60
    # shard assignment is the portable md5 rule
    expect = {
        r["image_id"]: r["s"]
        for r in images.select(
            "image_id", wds.shard_of(F.col("image_id"), 8).alias("s")
        ).collect()
    }
    got = {
        r["key"].replace("_", "/"): r["shard"] for r in back.collect()
    }
    assert got == expect
    # integrity check passes for every shard
    ok = _manifest_ok(out)
    assert len(ok) == len(rows) and all(ok.values())


def test_wds_deterministic_across_layout(spark, images, tmp_path):
    """Same content, different physical layout => byte-identical shards
    (the property img2dataset-style seeded pipelines do NOT have)."""
    a = wds.write_wds_shards(
        images.repartition(7), str(tmp_path / "a"), n_shards=4
    )
    b = wds.write_wds_shards(
        images.repartition(3).sortWithinPartitions(F.desc("image_id")),
        str(tmp_path / "b"), n_shards=4,
    )
    sha_a = {r["shard"]: r["tar_sha256"] for r in a.collect()}
    sha_b = {r["shard"]: r["tar_sha256"] for r in b.collect()}
    assert sha_a == sha_b


def test_wds_overwrite_guard_and_meta(spark, images, tmp_path):
    out = str(tmp_path / "s")
    wds.write_wds_shards(images.limit(10), out, n_shards=2)
    with pytest.raises(FileExistsError, match="overwrite=True"):
        wds.write_wds_shards(images.limit(10), out, n_shards=2)
    wds.write_wds_shards(images.limit(5), out, n_shards=2, overwrite=True)
    # overwrite removed ALL prior shards before writing the smaller set
    n = wds.read_wds_shards(spark, out).count()
    assert n == 5
    # metadata member carries the typed columns as JSON
    row = wds.read_wds_shards(spark, out).limit(1).collect()[0]
    assert '"w":' in row["meta"] and '"fmt":' in row["meta"]
    with pytest.raises(ValueError, match="n_shards"):
        wds.write_wds_shards(images, str(tmp_path / "x"), n_shards=0)


def test_wds_tar_headers_are_zeroed(spark, images, tmp_path):
    """Determinism mechanics: ustar format, mtime/uid/gid all zero, members
    sorted by key — the tar bytes are a pure function of the samples."""
    out = str(tmp_path / "z")
    manifest = wds.write_wds_shards(images.limit(12), out, n_shards=1)
    path = manifest.collect()[0]["path"]
    with tarfile.open(path) as tf:
        names = [m.name for m in tf.getmembers()]
        keys = [n.rsplit(".", 1)[0] for n in names[::3]]
        assert keys == sorted(keys)
        # fixed (img, txt, json) member order within each key
        assert [n.rsplit(".", 1)[1] for n in names[:3]] == ["img", "txt", "json"]
        for m in tf.getmembers():
            assert (m.mtime, m.uid, m.gid) == (0, 0, 0)


def test_wds_resume_fills_only_missing_shards(spark, images, tmp_path):
    """Kill-resume: delete two shard tars, resume=True rewrites only the
    missing ones (surviving tars untouched on disk), the merged manifest
    covers every shard, and the read-back corpus is complete."""
    out = str(tmp_path / "r")
    first = wds.write_wds_shards(images, out, n_shards=4)
    paths = sorted(r["path"] for r in first.collect())
    assert len(paths) == 4
    os.unlink(paths[1])
    os.unlink(paths[3])
    before = {p: os.stat(p).st_mtime_ns for p in (paths[0], paths[2])}

    merged = wds.write_wds_shards(images, out, n_shards=4, resume=True)
    rows = {r["shard"]: r for r in merged.collect()}
    assert len(rows) == 4
    assert sum(r["n_samples"] for r in rows.values()) == 60
    # survivors were not rewritten
    assert {p: os.stat(p).st_mtime_ns for p in before} == before
    assert wds.read_wds_shards(spark, out).count() == 60
    ok = _manifest_ok(out)
    assert len(ok) == 4 and all(ok.values())
    with pytest.raises(ValueError, match="mutually exclusive"):
        wds.write_wds_shards(images, out, overwrite=True, resume=True)
