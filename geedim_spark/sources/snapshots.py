"""Iceberg-style snapshot manifests: atomic commits, snapshot isolation,
partition-level resume.

No Iceberg runtime jar ships in this environment (SURVEY §7.0), so the
engine manages its own manifest over plain Parquet:

    table_dir/
      data/commit-00000001/<partition_col>=<key>/part-*.parquet
      data/commit-00000002/<partition_col>=<key>/part-*.parquet
      snapshots/snap-00000001.json      # live partition list + stats
      snapshots/CURRENT                 # pointer, written last (atomic-ish)

Commits are APPEND-ONLY: every commit writes its partitions into its own
``commit-<id>`` directory and the manifest maps each live partition key to
the directory holding its current data.  Re-writing a partition points the
new manifest at the new commit dir while the old files stay on disk — that
is what makes isolation real: a reader resolving ``snap-1`` sees exactly
snap-1's files even while snap-2 overwrites the same keys (the earlier
in-place ``partitionOverwriteMode=dynamic`` layout silently leaked new data
into old snapshots).  Unreferenced commit dirs can be garbage-collected by
scanning manifests.

Partition keys are canonicalised to STRINGS in the manifest (JSON round-
trips and directory names are strings anyway); a NULL key maps to Hive's
``__HIVE_DEFAULT_PARTITION__``.  Per-partition row counts and optional
min/max/sum stats are computed from the files just written (one columnar
re-scan), never by re-running the input plan — at scale the input is the
whole mask+tile pipeline and a second evaluation would both double the
cost and, under task retries, describe different data than what landed.

This gives:

- **snapshot isolation**: readers resolve CURRENT (or an explicit id) once
  and read only that manifest's directories;
- **resume**: :func:`pending_keys` anti-joins the work list against the
  committed partitions, so a killed export restarts only unfinished
  partitions (the reference has no resume — a failed download restarts,
  tile.py:349-378; this is new capability per the north rule);
- **pruning**: min/max stats allow partition skipping before a scan;
- **time travel**: any retained snapshot id reads its exact file set.

The reference's task-monitor polling (image.py:480-505) maps to reading the
manifest; its per-tile retry loop maps to Spark task retries + idempotent
per-commit directories.
"""

from __future__ import annotations

import json
import os
import tempfile

from itertools import count as _count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NULL_KEY = "__HIVE_DEFAULT_PARTITION__"

# how many of the newest manifests _find_token inspects for replay
# detection (see its docstring)
_TOKEN_SCAN_WINDOW = 64

# process-local attempt sequence for commit-directory uniqueness (combined
# with the pid, so concurrent committers in one OR many processes never
# collide on a data directory)
_ATTEMPT_SEQ = _count(1)


def _snap_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "snapshots")


def _latest_snap_id(table_dir: str) -> str | None:
    """Newest committed snapshot id — the MANIFEST FILES are authoritative
    (each is claimed with an atomic exclusive link, so ids are a total
    order); the CURRENT pointer is a convenience hint that can lag under
    concurrent committers.  Zero-padded ids make lexicographic max
    correct."""
    sdir = _snap_dir(table_dir)
    if not os.path.isdir(sdir):
        return None
    snaps = [
        f[len("snap-"):-len(".json")]
        for f in os.listdir(sdir)
        if f.startswith("snap-") and f.endswith(".json")
    ]
    return max(snaps) if snaps else None


def current_snapshot(table_dir: str) -> dict | None:
    snap_id = _latest_snap_id(table_dir)
    if snap_id is None:
        return None
    with open(os.path.join(_snap_dir(table_dir), f"snap-{snap_id}.json")) as f:
        return json.load(f)


def committed_keys(table_dir: str) -> list[str]:
    """Live partition keys of CURRENT, as canonical strings."""
    snap = current_snapshot(table_dir)
    return [p["key"] for p in snap["partitions"]] if snap else []


def _find_token(table_dir: str, token: str | None) -> str | None:
    """Snapshot id of any RETAINED manifest carrying ``token``, else None.

    Replay detection must scan the whole retained chain, not just the
    immediate parent: under concurrent committers another writer's commit
    can land between a batch's snapshot and its checkpoint, and the
    replayed batch would otherwise re-append its rows.  The detection
    window is therefore exactly the retained manifests —
    :func:`expire_snapshots` shrinks it, so keep at least as many
    snapshots as the longest plausible replay lag."""
    sdir = _snap_dir(table_dir)
    if token is None or not os.path.isdir(sdir):
        return None
    # bounded: scan only the newest _TOKEN_SCAN_WINDOW manifests — replays
    # trail their original by at most a few commits (a restarted stream
    # replays its LAST batch), and an unbounded scan would json-parse every
    # retained manifest on every commit of a long-running ingest
    snaps = sorted(
        (f for f in os.listdir(sdir)
         if f.startswith("snap-") and f.endswith(".json")),
        reverse=True,
    )
    for f in snaps[:_TOKEN_SCAN_WINDOW]:
        with open(os.path.join(sdir, f)) as fh:
            man = json.load(fh)
        if man.get("commit_token") == token:
            return man["snapshot_id"]
    return None


class SnapshotConflictError(RuntimeError):
    """A commit's ``require_unchanged`` precondition failed: a partition
    it read was modified by a concurrent committer before publish."""


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    partition_col: str,
    stats_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
    commit_token: str | None = None,
    max_commit_retries: int = 10,
    require_unchanged: dict | None = None,
) -> str:
    """Write ``df`` into a fresh commit directory and publish a snapshot
    via a CAS manifest swap (safe under CONCURRENT committers).

    Data lands under a per-attempt ``data/commit-<...>/`` directory
    (append-only — earlier snapshots' files are never touched, and the
    attempt-unique name means two concurrent writers can never write into
    each other's data), stats are aggregated from the written files in one
    columnar pass, then the publish loop runs: read the latest manifest,
    merge its partitions with this commit's, and CLAIM the next snapshot
    id by atomically linking the fully-written manifest JSON into place
    (``os.link`` fails with EEXIST when another writer claimed the id
    first — the loser re-reads the new parent and retries the MERGE only;
    its data directory is untouched and written exactly once).  The
    CURRENT pointer file is refreshed last as a human-readable hint; the
    manifest files themselves are authoritative (:func:`_latest_snap_id`).
    Partitions committed by the parent snapshot and not re-written here
    are carried forward.

    NOTE :func:`expire_snapshots` deletes commit directories referenced by
    no retained manifest — run GC only while no commit is in flight (an
    in-flight attempt's data is by definition unreferenced until its
    manifest lands).

    ``commit_token``: an idempotency key (e.g. the streaming batch id) —
    if the CURRENT manifest already carries it, the call is a replay and
    returns the existing snapshot id without writing.

    ``mode``: 'overwrite' repoints a re-written partition at this commit's
    data; 'append' EXTENDS it — the manifest entry accumulates this
    commit's directory alongside the parent's (row counts summed, min/max
    folded).  Streaming ingest commits per micro-batch with 'append';
    without it every batch would silently discard the previous batches'
    rows for the partitions it touches.

    ``require_unchanged``: optimistic-concurrency precondition mapping
    canonical partition key -> the manifest ``paths`` list this commit
    READ.  Validated inside the CAS loop against the live parent on every
    attempt: if any listed partition's paths differ (a concurrent append
    or overwrite landed between read and publish),
    :class:`SnapshotConflictError` is raised BEFORE the manifest is
    claimed — the Iceberg ``rewrite_data_files`` conflict-validation rule
    that makes read-rewrite-republish (compaction) safe under concurrent
    committers instead of silently discarding their rows.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append (got {mode!r})")
    parent = current_snapshot(table_dir)
    # idempotent replay: foreachBatch is at-least-once — a micro-batch
    # re-executed after a crash (its write_snapshot landed but the stream
    # checkpoint did not) passes the same token and must NOT append its
    # rows a second time
    # (searched across ALL retained manifests, not just the parent: a
    # concurrent commit interleaving between the original and the replay
    # must not hide it)
    replay = _find_token(table_dir, commit_token)
    if replay is not None:
        return replay

    # attempt-unique commit dir: embeds the id guess (debuggability) plus
    # pid + a process-local counter, so concurrent committers never write
    # into each other's data; the manifest records the real relative path,
    # making the name bookkeeping, not semantics
    guess = f"{(int(parent['snapshot_id']) + 1) if parent else 1:08d}"
    commit_rel = f"data/commit-{guess}-p{os.getpid()}-a{next(_ATTEMPT_SEQ)}"
    commit_dir = os.path.join(table_dir, commit_rel)
    df.write.mode("overwrite").partitionBy(partition_col).parquet(commit_dir)

    # Spark %XX-escapes special chars (e.g. '/') in partition dir names —
    # map real dirs back to canonical keys instead of constructing paths
    from urllib.parse import unquote
    key_to_dir = {}
    for d in os.listdir(commit_dir):
        if d.startswith(f"{partition_col}="):
            key_to_dir[unquote(d.split("=", 1)[1])] = d

    # stats from what actually landed (no second run of the input plan);
    # an empty input (e.g. a fully-resumed download) writes no partition
    # dirs and the manifest is pure carry-forward
    if key_to_dir:
        # explicit schema: partition-type INFERENCE would parse a string
        # key like '007' back as int 7, whose canonical form no longer
        # matches the directory name (KeyError after data landed)
        written = df.sparkSession.read.schema(df.schema).parquet(commit_dir)
        aggs = [F.count(F.lit(1)).alias("row_count")]
        for c in stats_cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}"),
                     F.sum(c).alias(f"sum_{c}")]
        # canonical key = Spark's OWN string cast: partition directory
        # names come from the JVM's value.toString (e.g. double 1e-7 ->
        # '1.0E-7'), which Python str() does not reproduce ('1e-07' ->
        # KeyError after the data landed).  The same cast backs
        # pending_keys' resume comparison, so the three spellings (dir,
        # manifest, resume) can never diverge.
        skey = F.coalesce(
            F.col(partition_col).cast("string"), F.lit(NULL_KEY)
        ).alias("_skey")
        stats = written.groupBy(skey).agg(*aggs).collect()
    else:
        stats = []

    def _merged_parts(parent_parts: dict) -> list[dict]:
        parts = dict(parent_parts)
        for r in stats:
            key = r["_skey"]
            entry = {
                "key": key,
                "paths": [f"{commit_rel}/{key_to_dir[key]}"],
                "row_count": r["row_count"],
            }
            for c in stats_cols:
                entry[f"min_{c}"] = _plain(r[f"min_{c}"])
                entry[f"max_{c}"] = _plain(r[f"max_{c}"])
                entry[f"sum_{c}"] = _plain(r[f"sum_{c}"])
            if mode == "append" and key in parts:
                prev = parts[key]
                entry["paths"] = prev["paths"] + entry["paths"]
                entry["row_count"] += prev["row_count"]
                for c in stats_cols:
                    for agg, fold in (("min", min), ("max", max)):
                        a, b = prev.get(f"{agg}_{c}"), entry.get(f"{agg}_{c}")
                        if a is not None and b is not None:
                            entry[f"{agg}_{c}"] = fold(a, b)
                        elif b is None:
                            entry[f"{agg}_{c}"] = a
                    a, b = prev.get(f"sum_{c}"), entry.get(f"sum_{c}")
                    if a is not None or b is not None:
                        entry[f"sum_{c}"] = (a or 0) + (b or 0)
            parts[key] = entry
        return sorted(parts.values(), key=lambda p: str(p["key"]))

    # CAS publish loop: the manifest file itself is the claim.  The
    # fully-written JSON is linked into place atomically (os.link fails
    # with EEXIST if another committer claimed the id first); on conflict
    # only the parent merge is redone — this attempt's data directory is
    # final and written exactly once.
    os.makedirs(_snap_dir(table_dir), exist_ok=True)
    for _ in range(max_commit_retries):
        parent = current_snapshot(table_dir)
        replay = _find_token(table_dir, commit_token)
        if replay is not None:
            # a concurrent replay of the SAME batch won the race; this
            # attempt's data dir is an unreferenced orphan (GC-able)
            return replay
        parent_parts = (
            {p["key"]: p for p in parent["partitions"]} if parent else {}
        )
        if require_unchanged:
            for k, paths in require_unchanged.items():
                live = parent_parts.get(k, {}).get("paths")
                if live != paths:
                    raise SnapshotConflictError(
                        f"partition {k!r} changed between read and publish "
                        f"(read {paths}, live {live}) — a concurrent commit "
                        f"landed; re-read the snapshot and retry"
                    )
        snap_id = f"{(int(parent['snapshot_id']) + 1) if parent else 1:08d}"
        manifest = {
            "snapshot_id": snap_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "partition_col": partition_col,
            "commit_token": commit_token,
            # writer schema (JSON StructType): read_snapshot passes it to
            # the reader so partition-type inference can never retype a
            # string key like '007' into int 7
            "schema": json.loads(df.schema.json()),
            "partitions": _merged_parts(parent_parts),
        }
        fd, tmp = tempfile.mkstemp(dir=_snap_dir(table_dir))
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        snap_path = os.path.join(_snap_dir(table_dir), f"snap-{snap_id}.json")
        try:
            os.link(tmp, snap_path)  # atomic claim, full content
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race: re-read parent, re-merge, retry
        os.unlink(tmp)
        # CURRENT is a convenience hint (manifest files are authoritative);
        # refresh it via atomic rename
        fd, tmp = tempfile.mkstemp(dir=_snap_dir(table_dir))
        with os.fdopen(fd, "w") as f:
            f.write(snap_id)
        os.replace(tmp, os.path.join(_snap_dir(table_dir), "CURRENT"))
        return snap_id
    raise RuntimeError(
        f"write_snapshot: lost the manifest CAS {max_commit_retries} times "
        f"in a row in {table_dir} — commit contention too high; the data "
        f"directory {commit_rel} is written and can be re-published"
    )


def _plain(v):
    return v if isinstance(v, (int, float, str, type(None), bool)) else str(v)


def read_snapshot(
    spark: SparkSession, table_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Read exactly the partitions of a snapshot (isolation from later
    commits).  Partition directories are grouped by their commit dir and
    read with that basePath, so Spark partition-discovers the key column
    and partition pruning / PartitionFilters still apply."""
    if snapshot_id is None:
        snap = current_snapshot(table_dir)
    else:
        with open(os.path.join(_snap_dir(table_dir), f"snap-{snapshot_id}.json")) as f:
            snap = json.load(f)
    if snap is None:
        raise FileNotFoundError(f"no snapshot in {table_dir}")
    if not snap["partitions"]:
        raise ValueError(
            f"snapshot {snap['snapshot_id']} in {table_dir} has no "
            "partitions (empty commit with no parent data)"
        )

    by_commit: dict[str, list[str]] = {}
    for p in snap["partitions"]:
        for path in p["paths"]:
            commit_rel = "/".join(path.split("/")[:2])  # data/commit-XXXX
            part_dir = os.path.join(table_dir, path)
            # resolve to concrete parquet FILES at plan time: a snapshot
            # being expired concurrently (expire_snapshots rmtree is not
            # atomic) could leave this partition dir present but already
            # emptied — a directory path would then scan as 0 rows and the
            # read would SILENTLY return a subset of the snapshot.  With
            # explicit files the outcome is all-or-clean-error: dir gone /
            # empty -> the FileNotFoundError below; a listed file deleted
            # before the scan -> Spark's FileNotFoundException (default
            # ignoreMissingFiles=false); otherwise the full row set.
            try:
                files = sorted(
                    os.path.join(part_dir, f)
                    for f in os.listdir(part_dir)
                    if f.endswith(".parquet")
                )
            except FileNotFoundError:
                files = []
            if not files:
                raise FileNotFoundError(
                    f"snapshot {snap['snapshot_id']} partition "
                    f"{p['key']!r} has no data files at {part_dir} — "
                    "expired/GC-ed concurrently?"
                )
            by_commit.setdefault(commit_rel, []).extend(files)
    reader_schema = None
    if snap.get("schema") is not None:
        from pyspark.sql.types import StructType

        reader_schema = StructType.fromJson(snap["schema"])
    out = None
    for commit_rel, paths in sorted(by_commit.items()):
        rd = spark.read.option("basePath", os.path.join(table_dir, commit_rel))
        if reader_schema is not None:
            # explicit schema (recorded at write): without it, partition
            # directory TYPE INFERENCE retypes keys — 'part=007' comes
            # back as int 7, silently corrupting string keys
            rd = rd.schema(reader_schema)
        part = rd.parquet(*paths)
        out = part if out is None else out.unionByName(part)
    return out


def pending_keys(work: DataFrame, table_dir: str, key_col: str) -> DataFrame:
    """Resume: rows of ``work`` whose partition key is not yet committed.
    Keys compare as canonical strings (manifest keys are strings)."""
    done = committed_keys(table_dir)
    if not done:
        return work
    spark = work.sparkSession
    done_df = spark.createDataFrame([(k,) for k in done], "_done_key string")
    # canonicalise like the write path: NULL -> the Hive default name (a
    # raw NULL == comparison is NULL, so null-key rows would be re-exported
    # on every resume); Spark's cast already lowercases booleans
    work_key = F.coalesce(F.col(key_col).cast("string"), F.lit(NULL_KEY))
    return work.join(
        F.broadcast(done_df), work_key == F.col("_done_key"), "left_anti"
    )


def prune_partitions(table_dir: str, stat: str, lo=None, hi=None) -> list:
    """Manifest-level partition pruning on a recorded min/max stat."""
    snap = current_snapshot(table_dir)
    if snap is None:
        return []
    out = []
    for p in snap["partitions"]:
        pmin, pmax = p.get(f"min_{stat}"), p.get(f"max_{stat}")
        if lo is not None and pmax is not None and pmax < lo:
            continue
        if hi is not None and pmin is not None and pmin > hi:
            continue
        out.append(p["key"])
    return out


def expire_snapshots(table_dir: str, keep_last: int = 1) -> dict:
    """Iceberg-style snapshot expiry: drop all but the newest ``keep_last``
    manifests and delete commit directories no retained manifest references.

    CURRENT always survives.  Returns {"removed_snapshots": [...],
    "removed_commits": [...]} for audit.  Safe ordering: manifests are
    deleted BEFORE their now-unreferenced data, so a crash mid-expiry can
    orphan data (GC-able later) but never a manifest pointing at deleted
    files.
    """
    import shutil

    sdir = _snap_dir(table_dir)
    cur = current_snapshot(table_dir)
    if cur is None:
        return {"removed_snapshots": [], "removed_commits": []}
    snaps = sorted(
        f[len("snap-"):-len(".json")]
        for f in os.listdir(sdir)
        if f.startswith("snap-") and f.endswith(".json")
    )
    keep = set(snaps[-max(keep_last, 1):]) | {cur["snapshot_id"]}
    drop = [s for s in snaps if s not in keep]

    referenced: set[str] = set()
    for sid in keep:
        with open(os.path.join(sdir, f"snap-{sid}.json")) as f:
            man = json.load(f)
        for p in man["partitions"]:
            for path in p["paths"]:
                referenced.add("/".join(path.split("/")[:2]))

    for sid in drop:
        os.remove(os.path.join(sdir, f"snap-{sid}.json"))

    data_dir = os.path.join(table_dir, "data")
    removed_commits = []
    for d in sorted(os.listdir(data_dir)) if os.path.isdir(data_dir) else []:
        rel = f"data/{d}"
        if d.startswith("commit-") and rel not in referenced:
            shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)
            removed_commits.append(rel)
    return {"removed_snapshots": drop, "removed_commits": removed_commits}


def compact_partitions(
    spark: SparkSession,
    table_dir: str,
    min_files: int = 2,
    shuffle: bool = True,
    max_conflict_retries: int = 3,
) -> str | None:
    """Iceberg ``rewrite_data_files`` analog: rewrite partitions whose
    current data spans >= ``min_files`` parquet files into one file per
    partition, published as a normal commit (CAS manifest swap), safe
    under concurrent committers via publish-time conflict validation:
    the commit carries a ``require_unchanged`` precondition on every
    rewritten partition's manifest paths, so an append that lands on one
    of them between the snapshot read and the publish aborts THIS
    compaction (:class:`SnapshotConflictError`) instead of being
    silently discarded — the whole read-rewrite-validate cycle then
    retries against the fresh snapshot (up to ``max_conflict_retries``
    times; the orphaned rewrite data dirs are GC-able).

    Why it matters at scale: streaming ingest appends one file per
    partition per micro-batch (snapshots in 'append' mode accumulate
    paths), so a long-lived table degrades into thousands of small files
    per partition — the classic small-files read amplification.
    Compaction folds them back to one file without touching history:
    older manifests keep referencing the original commit dirs, so pinned
    time-travel reads are intact until :func:`expire_snapshots` GCs them.

    ``shuffle=True`` hash-repartitions on the partition column so every
    key lands in exactly one task -> exactly one output file per
    partition; with ``shuffle=False`` the existing layout is rewritten
    as-is (fewer guarantees, no exchange).  Stat columns recorded by the
    original writers (min_*/max_*/sum_*) are re-derived for the rewritten
    partitions.

    Returns the new snapshot id, or the current id when nothing needed
    compacting (no empty commit is published), or None on an empty table.
    """
    last_err: SnapshotConflictError | None = None
    for _ in range(max_conflict_retries):
        snap = current_snapshot(table_dir)
        if snap is None:
            return None
        partition_col = snap["partition_col"]

        def _n_files(p: dict) -> int:
            n = 0
            for path in p["paths"]:
                d = os.path.join(table_dir, path)
                try:
                    n += sum(
                        1 for f in os.listdir(d) if f.endswith(".parquet")
                    )
                except FileNotFoundError:
                    pass
            return n

        todo = [
            p["key"] for p in snap["partitions"] if _n_files(p) >= min_files
        ]
        if not todo:
            return snap["snapshot_id"]

        # stat columns are recoverable from the manifest entries themselves
        stats_cols = tuple(sorted({
            k[len("sum_"):]
            for p in snap["partitions"] for k in p if k.startswith("sum_")
        }))

        df = read_snapshot(spark, table_dir)
        key = F.coalesce(
            F.col(partition_col).cast("string"), F.lit(NULL_KEY)
        )
        sub = df.where(key.isin([str(k) for k in todo]))
        if shuffle:
            sub = sub.repartition(F.col(partition_col))
        # publish-time precondition: every rewritten partition's paths
        # must still be exactly what this cycle read (read_snapshot pins
        # the FILES at plan time, so the rewrite itself is consistent
        # with the paths listed here)
        expected = {
            str(p["key"]): p["paths"]
            for p in snap["partitions"] if p["key"] in set(todo)
        }
        try:
            return write_snapshot(
                sub, table_dir, partition_col, stats_cols=stats_cols,
                mode="overwrite", require_unchanged=expected,
            )
        except SnapshotConflictError as e:
            last_err = e  # concurrent commit touched a todo partition:
            continue      # re-read, re-plan, re-validate
    raise SnapshotConflictError(
        f"compact_partitions: {max_conflict_retries} consecutive publish "
        f"conflicts in {table_dir} — concurrent commit rate too high"
    ) from last_err
