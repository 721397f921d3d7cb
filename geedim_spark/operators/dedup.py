"""Deduplication operators over the documents table.

Training-data pipeline staples, each expressed as a DataFrame plan:

- exact dedup          — hash group (md5) + window count;
- MinHash              — k independent permutation mins over character
                         shingles; Jaccard estimated from signature overlap;
- MinHash LSH          — banded signatures -> bucket equi-join (candidate
                         pairs without the O(N^2) cross join);
- SimHash              — weighted-bit fingerprint, hamming-close pairs;
- n-gram Jaccard       — exact set overlap for candidate verification.

Shingle hashing uses md5 (first 8 hex chars as int) so the DuckDB oracle can
reproduce signatures exactly — xxhash64/sha differ or are engine-specific.
Shingle sets are Catalyst (sequence/transform/substring); the MinHash and
SimHash signatures are vectorised Arrow kernels over the same md5 hash,
value-identical to their Catalyst forms (tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geedim_spark.kernels import map_batches

# Mersenne prime modulus for the permutation family.  Coefficients and
# reduced hashes stay < 2^31 so a*h + b < 2^62 — no int64 overflow in either
# engine (DuckDB errors on BIGINT overflow; Spark wraps silently).
_P = (1 << 31) - 1
_A = [((2 * i + 1) * 2654435761) % _P for i in range(64)]
_B = [((i + 1) * 40503) % _P for i in range(64)]


def exact_dup_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, n_copies): how many docs share this row's exact text."""
    w = Window.partitionBy(F.md5(F.col("text")))
    return documents.select(
        "doc_id", F.count(F.lit(1)).over(w).cast("long").alias("n_copies")
    )


def line_dedup(
    documents: DataFrame, min_count: int = 2, delim: str = "\n"
) -> DataFrame:
    """Corpus-level duplicated-line removal — the C4/RefinedWeb line-dedup
    rule: any LINE (delimiter-separated span) occurring ``min_count`` or
    more times across the WHOLE corpus is dropped from every document, and
    the survivors are rejoined in their original order.  Repeats inside a
    single document count toward the corpus total, exactly like C4's
    "any span occurring more than once" rule.

    Scale shape (100 TB story): ``posexplode`` lines -> count by
    ``md5(line)`` so the shuffle key is fixed-width even for pathological
    lines -> 2-phase hash aggregate (map-side partials absorb the
    within-partition boilerplate that IS the signal) -> equi-join the
    exploded lines back on the hash -> per-doc ordered reassembly via
    ``array_sort(collect_list(struct(pos, line)))``.  Only (hash, count)
    pairs and individual lines ever shuffle; documents never move whole,
    and there is no window over the corpus.

    Output (hash-stable): doc_id, n_lines, n_kept, clean_text.  A document
    whose every line is boilerplate survives with n_kept=0 and empty text —
    the caller decides whether to drop it.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    text = F.coalesce(F.col("text"), F.lit(""))
    # stage the split array once, carry its size through the explode:
    # every document has >= 1 line (split of "" is [""]), so the per-doc
    # rollup below covers the whole corpus and the r5 final left join
    # (re-splitting every document a second time just to count lines)
    # is gone
    lines = documents.select(
        "doc_id", F.split(text, F.lit(delim), -1).alias("_arr")
    ).select(
        "doc_id",
        F.size("_arr").cast("long").alias("n_lines"),
        F.posexplode("_arr").alias("pos", "line"),
    ).withColumn("lh", F.md5(F.col("line")))
    counts = lines.groupBy("lh").agg(F.count(F.lit(1)).alias("cnt"))
    keep = F.col("cnt") < min_count
    rebuilt = lines.join(counts, "lh").groupBy("doc_id").agg(
        F.first("n_lines").alias("n_lines"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
        F.concat_ws(
            delim,
            F.transform(
                # collect_list drops NULLs, so dropped lines vanish here
                F.array_sort(F.collect_list(
                    F.when(keep, F.struct("pos", "line")))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    return rebuilt.select("doc_id", "n_lines", "n_kept", "clean_text")


def shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram array — pure Catalyst.

    NULL text coerces to '' (one empty shingle), matching the kernel paths
    (:func:`minhash_sig_df`) so the Catalyst and Arrow implementations stay
    value-identical on corpora containing NULLs."""
    text = F.coalesce(text, F.lit(""))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
            lambda i: F.substring(text, i, n),
        )
    )


def shingle_hash(sh: Column) -> Column:
    """Shingle -> uint32-ish int via md5 prefix (engine-portable)."""
    return F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("long")


def _check_n_hashes(n_hashes: int, bands: int | None = None) -> None:
    if not 0 < n_hashes <= len(_A):
        raise ValueError(
            f"n_hashes must be in [1, {len(_A)}] (got {n_hashes}); "
            "extend _A/_B for longer signatures"
        )
    if bands is not None and n_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}) — "
            "trailing hashes would be silently dropped"
        )


# --- vectorised single-block MD5 (guide §4.2: batch native compute) --------
# The shingle kernels used to call hashlib.md5 once per shingle in a Python
# loop — ~1.5M interpreter round-trips per 5k-doc corpus, the dominant cost
# of every MinHash query.  Shingles are <= n UTF-8 chars (<= 4n bytes), so
# every message fits ONE 64-byte MD5 block and the full MD5 round function
# vectorises over the whole batch as uint32 numpy ops.  Bit-identical to
# int(hashlib.md5(m).hexdigest()[:8], 16) — pinned by
# tests/test_dedup.py::test_md5_u32_batch_matches_hashlib.
_MD5_S = np.array(
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4, dtype=np.uint32)
_MD5_K = np.floor(
    np.abs(np.sin(np.arange(1, 65, dtype=np.float64))) * (2.0 ** 32)
).astype(np.uint64).astype(np.uint32)
_MD5_G = np.array(
    [i for i in range(16)] + [(5 * i + 1) % 16 for i in range(16, 32)]
    + [(3 * i + 5) % 16 for i in range(32, 48)]
    + [(7 * i) % 16 for i in range(48, 64)], dtype=np.int64)


def _md5_u32_batch(msgs: list[bytes]) -> np.ndarray:
    """int(md5(m).hexdigest()[:8], 16) for a batch of messages, each
    <= 55 bytes (single MD5 block), as an int64 array."""
    nmsg = len(msgs)
    if nmsg == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter(map(len, msgs), dtype=np.int64, count=nmsg)
    if lens.max() > 55:
        raise ValueError("message longer than 55 bytes: not single-block")
    flat = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    block = np.zeros((nmsg, 64), dtype=np.uint8)
    rows = np.repeat(np.arange(nmsg), lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    cols = np.arange(len(flat)) - np.repeat(starts, lens)
    block[rows, cols] = flat
    block[np.arange(nmsg), lens] = 0x80
    block[:, 56:64] = (
        (lens.astype(np.uint64) * 8).astype("<u8").view(np.uint8)
        .reshape(nmsg, 8)
    )
    m = block.view("<u4")  # (nmsg, 16) little-endian words
    a = np.full(nmsg, 0x67452301, np.uint32)
    b = np.full(nmsg, 0xEFCDAB89, np.uint32)
    c = np.full(nmsg, 0x98BADCFE, np.uint32)
    d = np.full(nmsg, 0x10325476, np.uint32)
    with np.errstate(over="ignore"):
        for i in range(64):
            if i < 16:
                f = (b & c) | (~b & d)
            elif i < 32:
                f = (d & b) | (~d & c)
            elif i < 48:
                f = b ^ c ^ d
            else:
                f = c ^ (b | ~d)
            x = a + f + _MD5_K[i] + m[:, _MD5_G[i]]
            s = int(_MD5_S[i])
            rot = (x << np.uint32(s)) | (x >> np.uint32(32 - s))
            a, d, c, b = d, c, b, b + rot
        a = a + np.uint32(0x67452301)
    # hexdigest()[:8] reads the first 4 DIGEST bytes = A little-endian,
    # then parses them big-endian -> byteswap
    return a.byteswap().astype(np.int64)


def minhash_sig_df(
    documents: DataFrame, n_hashes: int = 16, n: int = 5
) -> DataFrame:
    """(doc_id, sig array<long>) via a vectorised Arrow kernel.

    Same values as the Catalyst form in ``tests/reference/dedup.py``
    (tested equivalent) — one md5 per distinct shingle instead of a
    Catalyst expression tree per permutation.
    """
    _check_n_hashes(n_hashes)
    a = np.array(_A[:n_hashes], dtype=np.int64)[:, None]
    b = np.array(_B[:n_hashes], dtype=np.int64)[:, None]

    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # one vectorised MD5 pass over the batch's UNIQUE shingles (dup
        # shingles across near-identical docs — the dedup signal itself —
        # hash once), then per-doc permutation minima via minimum.reduceat
        # over the concatenated unique-index segments.  Value-identical to
        # the per-doc form: same md5-prefix hash, same (a*h+b)%P int64
        # arithmetic, same minima.
        uniq: dict[str, int] = {}
        doc_idx = []
        for text in pdf["text"]:
            t = text if text is not None else ""
            sh = {t[i: i + n] for i in range(max(len(t) - (n - 1), 1))}
            idx = np.empty(len(sh), dtype=np.int64)
            for j, s in enumerate(sh):
                k = uniq.get(s)
                if k is None:
                    k = len(uniq)
                    uniq[s] = k
                idx[j] = k
            doc_idx.append(idx)
        if not doc_idx:
            return pd.DataFrame({"doc_id": pdf["doc_id"], "sig": []})
        hs = _md5_u32_batch([s.encode("utf-8") for s in uniq]) % _P
        counts = np.fromiter(map(len, doc_idx), dtype=np.int64,
                             count=len(doc_idx))
        concat = (np.concatenate(doc_idx) if doc_idx
                  else np.empty(0, np.int64))
        perms = (a * hs[concat][None, :] + b) % _P  # (n_hashes, total)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        mins = np.minimum.reduceat(perms, starts, axis=1)
        return pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "sig": [mins[:, i] for i in range(len(doc_idx))],
        })

    return map_batches(documents.select("doc_id", "text"),
                       "doc_id long, sig array<long>", _batch)


class BucketCapReport:
    """Deferred drop report for an LSH bucket cap (the no-silent-caps rule,
    restated lazily).

    The capped plan carries a ``df.observe`` node counting the rows removed
    by the size filter; those metrics only exist once an ACTION runs the
    plan, so this object (attached to the returned frame as
    ``_bucket_cap_report``) watches the observation from a daemon thread
    and emits the loud ``RuntimeWarning`` the moment the first action
    completes — no eager job at plan-construction time.  The warning is
    best-effort (a process exiting right after the action can lose it);
    callers that must record the drops use :meth:`wait`.
    """

    def __init__(self, observation, op: str, max_bucket_size: int,
                 recompute=None):
        import threading

        self.observation = observation
        self.op = op
        self.max_bucket_size = max_bucket_size
        self._recompute = recompute
        self._result: dict | None = None
        self._thread = threading.Thread(target=self._emit, daemon=True)
        self._thread.start()

    def _emit(self) -> None:
        import warnings

        try:
            # blocks until the first action completes.
            got = self.observation.get
        except Exception:
            # the observed node was optimized out of the executed plan —
            # AQE's empty-relation propagation can do this when EVERY row
            # sat in an oversized bucket.  That is exactly a case with
            # drops to report, so recompute the stats from the keyed
            # frame — one small aggregate job — rather than report zeros.
            try:
                got = self._recompute() if self._recompute else {}
            except Exception:
                got = {}
            got = {"rows_dropped": got.get("rows_dropped", 0),
                   "largest_bucket": got.get("largest_bucket")}
        self._result = dict(got)
        if got.get("rows_dropped"):
            warnings.warn(
                f"{self.op}: dropped {got['rows_dropped']} row(s) in "
                f"oversized LSH bucket(s) (> {self.max_bucket_size} members; "
                f"largest {got['largest_bucket']}) to bound the candidate "
                "self-join.  Recover these as exact/near-duplicate GROUPS "
                "via exact_dup_counts / exact_embed_dup_counts (all-pairs "
                "output inside such clusters is quadratic by nature).",
                RuntimeWarning,
            )

    def wait(self, timeout: float = 120.0) -> dict:
        """Block until the capped plan has executed once; return the drop
        metrics ({rows_dropped, largest_bucket}) with the warning (if any)
        already emitted."""
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError(
                f"{self.op}: no action has executed the capped plan yet"
            )
        return dict(self._result or {})


def _cap_stats(size: Column, max_bucket_size: int) -> list[Column]:
    """The two drop-report aggregates over a per-bucket row count:
    ``rows_dropped`` (rows in oversized buckets, 0 when none) and
    ``largest_bucket`` (largest oversized size, NULL when none)."""
    over = F.when(size > max_bucket_size, size.cast("long"))
    return [
        F.coalesce(F.sum(over), F.lit(0).cast("long")).alias("rows_dropped"),
        F.max(over).alias("largest_bucket"),
    ]


def _capped_bucket_lists(
    keyed: DataFrame,
    key_cols: list[str],
    member: Column,
    max_bucket_size: int,
    op: str,
) -> tuple[DataFrame, BucketCapReport]:
    """The one oversized-bucket cap of the LSH pair operators: one
    ``groupBy(key_cols)`` shuffle builds each bucket's member list and row
    count, buckets with more than ``max_bucket_size`` rows are dropped by a
    size filter on the aggregated row, and the drops are observed in the
    same plan (the lazy :class:`BucketCapReport`).

    A b-member bucket yields b(b-1)/2 candidate pairs on one task: a
    10M-copy boilerplate document is 5*10^13 pairs — the scale-killer of
    an otherwise bucketed design.  Oversized buckets are overwhelmingly
    exact-duplicate clusters, recoverable as GROUPS at hash-groupBy cost
    (:func:`exact_dup_counts`).  No persist, broadcast job or anti-join:
    the r6 A/B read the text-LSH pairs chain 2.4-2.6 s -> 1.5-1.8 s at
    sf0.1 against the r5 size-aggregate + anti-join + self-join shape.
    The trade: an oversized bucket's member list is built BEFORE the
    filter drops it — O(bucket) transient memory in one (spillable)
    aggregation buffer, ~80 MB for a 10M-copy cluster.

    Buckets are sized by ROW count (``count(1)``), so rows whose
    ``member`` is NULL count toward the cap and the report even though
    ``collect_list`` leaves them out of ``_members`` (they could never
    form a pair: NULL fails the ``a < b`` pair filter).

    ``max_bucket_size`` must be an int >= 1; a caller who wants uncapped
    output passes a cap larger than the table.  Returns
    ``(buckets_df with key_cols + _members, report)``; plan construction
    stays job-free (observe is lazy)."""
    from pyspark.sql import Observation

    if max_bucket_size is None or max_bucket_size < 1:
        raise ValueError(
            f"{op}: max_bucket_size must be an int >= 1 (got "
            f"{max_bucket_size!r}); for uncapped output pass a cap larger "
            "than the table"
        )
    obs = Observation(f"{op}_bucket_cap")
    sized = (
        keyed.groupBy(*key_cols)
        .agg(F.collect_list(member).alias("_members"),
             F.count(F.lit(1)).alias("_bn"))
        .observe(obs, *_cap_stats(F.col("_bn"), max_bucket_size))
    )

    def _recompute() -> dict:
        # diagnostic fallback only (observation lost to plan rewriting):
        # a clean-lineage re-aggregate — one extra pass over ``keyed``,
        # acceptable on this pathological path
        return (
            keyed.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .agg(*_cap_stats(F.col("_bn"), max_bucket_size))
            .first().asDict()
        )

    report = BucketCapReport(obs, op, max_bucket_size, recompute=_recompute)
    kept = sized.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
    return kept, report


def banded_sigs(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, sig) -> exploded (doc_id, band, bhash) band-bucket keys —
    the shared banding step of the batch LSH join and the streaming
    near-dup operator (identical hashes, so the two are value-comparable)."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.slice(F.col("sig"), b * rows_per_band + 1,
                                    rows_per_band),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bhash")


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    max_bucket_size: int = 10000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature split into ``bands`` bands of ``n_hashes/bands`` rows; docs
    sharing any band hash land in the same bucket.  The bucket join is an
    equi-join on (band, band_hash) — shuffle key cardinality ~N*bands, no
    cross join anywhere.  Output: (doc_id_a, doc_id_b, n_shared_bands).

    ``max_bucket_size`` bounds the quadratic blowup of giant buckets
    (boilerplate mega-clusters): larger buckets are filtered inside the
    lazy plan and reported with a loud RuntimeWarning when the plan first
    executes (returned frame carries ``_bucket_cap_report`` — see
    :class:`BucketCapReport`).  The cap is always on: it must be >= 1,
    and a caller who wants uncapped output passes a cap larger than the
    table.

    Plan shape (r6, guide §2.4): banded keys are aggregated into per-bucket
    member LISTS (one shuffle by the bucket key), the cap is a size filter
    on the aggregated row, and pairs come from exploding each list against
    itself — the signature kernel has a single consumer (no persist), and
    the r5 shape's size-aggregate pass, broadcast anti-join and two
    self-join exchanges are gone (A/B at sf0.1: 2.4-2.6 s -> 1.5-1.8 s).
    See :func:`_capped_bucket_lists` for the memory trade on oversized
    buckets.
    """
    _check_n_hashes(n_hashes, bands)
    sigs = minhash_sig_df(documents, n_hashes, n)
    banded = banded_sigs(sigs, n_hashes, bands)
    buckets, report = _capped_bucket_lists(
        banded, ["band", "bhash"], F.col("doc_id"), max_bucket_size,
        "minhash_lsh_pairs",
    )
    out = (
        buckets
        .select(F.explode("_members").alias("_a"), "_members")
        .select("_a", F.explode("_members").alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .groupBy(F.col("_a").alias("doc_id_a"), F.col("_b").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )
    out._bucket_cap_report = report
    return out


def dup_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iters: int = 50,
    shortcut: bool = True,
    _stats: dict | None = None,
) -> DataFrame:
    """Resolve candidate duplicate PAIRS into duplicate GROUPS: connected
    components labelled by their minimum member id.

    Output: (``id_col``, component) for EVERY node (singletons label
    themselves) — the step a real dedup pipeline runs after LSH pair
    generation, because keep/drop decisions act on clusters, not edges.

    Algorithm: iterative min-label propagation — each round every node
    takes the min label among itself and its neighbours — plus (default)
    a POINTER-JUMP shortcut: after the min fold, each node's label is
    replaced by its label's own label (comp <- comp[comp], valid because a
    label is always itself a node id and labels only decrease).  The
    shortcut turns O(diameter)-round convergence into O(log diameter) on
    chain-shaped clusters — the general-graph insurance the round-2 notes
    flagged — at one extra (self-)join per round, while near-clique LSH
    dup clusters still converge in ~2 rounds.  ``shortcut=False`` restores
    plain propagation.  Each round is one shuffle (edge-label join) + one
    min-aggregate (+ the jump join); lineage is cut with LAZY
    localCheckpoints — the plan stays O(1) per round, but the round's only
    JOB is the fixpoint aggregate (the eager form paid two extra
    materialisation jobs per round: pure driver-barrier latency at any
    data size).  The loop runs over the EDGE-NODE subgraph
    only (labels seeded with min({self} ∪ neighbours)); singleton nodes
    join back after the loop — at corpus scale the rounds shuffle the
    duplicate-pair node set, not the whole corpus.  Deterministic: labels
    are pure min() folds, independent of partitioning.  ``_stats``
    (diagnostic): a dict that receives {"rounds": n}.
    """
    # EAGER pair checkpoint FIRST: the symmetric edge union below consumes
    # ``pairs`` twice, and the candidate-pair chain behind it (LSH
    # banding, signature kernels, the bucket self-join) is the expensive
    # part of the whole op — without this the union executed that chain
    # TWICE (a latent r5 cost, visible as the edges materialisation taking
    # 2x the pairs plan).  The edges checkpoint after it is then a cheap
    # union+distinct over cached rows, and the per-round lazy folds can
    # never race back into the chain either.
    pairs_ck = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    edges = (
        pairs_ck
        .union(pairs_ck.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
        # lazy: materialises inside the first probe job from the CACHED
        # pairs (a concurrent-consumer race can only replay the cheap
        # union+distinct, never the chain) — one driver barrier saved
        .localCheckpoint(eager=False)
    )
    # SUBGRAPH restriction: only nodes on an edge can ever change label —
    # singletons label themselves and are unioned back after the loop, so
    # every round's shuffles are O(|edge nodes|), not O(corpus).  At real
    # scale the duplicate-pair node set is a small fraction of the corpus;
    # iterating the full node table shuffled the (unchanging) singleton
    # majority every round.  The initial label is min({self} ∪ neighbours)
    # — the first propagation round fused into one aggregate over the
    # symmetric edge list.
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_nmin"))
        .select("id", F.least(F.col("id"), F.col("_nmin")).alias("comp"))
        .localCheckpoint(eager=False)
    )
    # Fixpoint probe (r6): each round's fold carries the PRE-round label
    # through the min-aggregate and the jump join as ``_old``, so ONE
    # aggregate — the count of rows whose label changed this round —
    # certifies the fixpoint for ANY id type (min() is lexicographic for
    # strings).  This replaced the r5 type dispatch: numeric ids compared
    # exact decimal sums across consecutive probes (same round count,
    # same probe cost), while string ids paid a changed-row ANTI-JOIN per
    # round — strictly more stages than the aggregate.  A round with zero
    # changes is exactly the old convergence criterion; as a bonus a
    # clique-shaped graph whose min(self ∪ neighbours) seeding is already
    # the fixpoint now converges at round 1 (the sum comparison needed a
    # second probe to see equality).  Probe EVERY round: a probe is one
    # cheap aggregate job while an extra no-op round pays planning + two
    # shuffles (~5x the probe) — probing less often was measured
    # net-negative in r6.
    comp_type = labels.schema["comp"].dataType
    rounds = 0
    for it in range(max_iters):
        rounds += 1
        prop = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "comp",
                    F.lit(None).cast(comp_type).alias("_old"))
        )
        new = (
            labels.select("id", "comp", F.col("comp").alias("_old"))
            .unionByName(prop)
            # max(_old) keeps the single non-NULL pre-round label per id
            # (every edge node has exactly one labels row)
            .groupBy("id").agg(F.min("comp").alias("comp"),
                               F.max("_old").alias("_old"))
            # LAZY checkpoint: truncates lineage immediately (the plan
            # wraps a LogicalRDD) and materialises/caches within the
            # fixpoint-probe job, so the jump join's two consumers share
            # one computation without a dedicated eager job
            .localCheckpoint(eager=False)
        )
        if shortcut:
            # comp <- comp[comp]: a label is itself a node id, so join the
            # label column back onto the label table (left: a label might
            # not appear as an id mid-round only if nodes were incomplete;
            # coalesce keeps those fixed).  Lineage stays O(1): one join
            # over the checkpointed fold.
            lk = new.select(F.col("id").alias("_lid"),
                           F.col("comp").alias("_lcomp"))
            new = (
                new.join(lk, new.comp == lk._lid, "left")
                .select("id", F.coalesce("_lcomp", "comp").alias("comp"),
                        "_old")
                # lazy too: cached when the probe job below first runs it,
                # reused by the next round's edge join + union
                .localCheckpoint(eager=False)
            )
        changed = new.agg(
            F.sum(F.when(F.col("comp") != F.col("_old"), 1).otherwise(0))
            .alias("c")
        ).first()["c"]
        labels = new.drop("_old")
        # None == empty subgraph (no edges): trivially a fixpoint.
        # Zero-change certifies convergence: with symmetric edges a stable
        # min-fold forces equal labels across every edge, the component
        # minimum seeds at <= itself and labels never increase, so the
        # constant per component is exactly its minimum and the jump is
        # the identity.
        if changed is None or changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"dup_components: not converged after {max_iters} rounds — "
            "returning the current labels (a pathological chain longer "
            "than max_iters; raise max_iters)", RuntimeWarning,
        )
    if _stats is not None:
        _stats["rounds"] = rounds
    # singletons (no incident edge) label themselves — one anti-join
    # against the (tiny) edge-node id set, outside the loop
    singles = (
        nodes.select(F.col(id_col).alias("id"))
        .join(edges.select(F.col("src").alias("id")), "id", "left_anti")
        .select("id", F.col("id").alias("comp"))
    )
    labels = labels.unionByName(singles)
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("component"))


def ngram_jaccard(documents: DataFrame, pairs: DataFrame, n: int = 5) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification stage).

    ``pairs``: (doc_id_a, doc_id_b).  Output adds inter/union sizes (ints)
    — exact, oracle-friendly; similarity = inter/union left to the caller.
    """
    sh = documents.select("doc_id", shingles(F.col("text"), n).alias("sh"))
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_id_a")
                     .withColumnRenamed("sh", "sh_a"), "doc_id_a")
        .join(sh.withColumnRenamed("doc_id", "doc_id_b")
                .withColumnRenamed("sh", "sh_b"), "doc_id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("long")
    return out.select(
        "doc_id_a", "doc_id_b",
        inter.alias("n_intersect"), union.alias("n_union"),
    )


def simhash_df(documents: DataFrame, bits: int = 16, n: int = 5) -> DataFrame:
    """(doc_id, simhash) via the Arrow kernel — value-identical to
    :func:`simhash` (raw md5-prefix hashes, per-bit majority vote)."""
    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # batch-unique shingles -> one vectorised MD5 pass (see
        # minhash_sig_df); per-bit majority votes via add.reduceat over
        # the concatenated unique-index segments — value-identical
        uniq: dict[str, int] = {}
        doc_idx = []
        for text in pdf["text"]:
            t = text or ""
            sh = {t[i: i + n] for i in range(max(len(t) - (n - 1), 1))}
            idx = np.empty(len(sh), dtype=np.int64)
            for j, s in enumerate(sh):
                k = uniq.get(s)
                if k is None:
                    k = len(uniq)
                    uniq[s] = k
                idx[j] = k
            doc_idx.append(idx)
        if not doc_idx:
            return pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": []})
        hs = _md5_u32_batch([s.encode("utf-8") for s in uniq])
        bitmat = (hs[:, None] >> np.arange(bits)[None, :]) & 1  # (uniq, bits)
        counts = np.fromiter(map(len, doc_idx), dtype=np.int64,
                             count=len(doc_idx))
        concat = np.concatenate(doc_idx)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        ones = np.add.reduceat(bitmat[concat], starts, axis=0)  # (docs, bits)
        vals = (
            ((ones * 2 > counts[:, None]).astype(np.int64)
             << np.arange(bits)[None, :]).sum(axis=1)
        )
        return pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": vals})

    return map_batches(documents.select("doc_id", "text"),
                       "doc_id long, simhash long", _batch)


def simhash(text: Column, bits: int = 16, n: int = 5) -> Column:
    """SimHash fingerprint: per-bit majority vote over shingle hashes.

    Uses the md5-derived shingle hash's low ``bits`` bits; bit b of the
    output is 1 iff more shingles have bit b set than clear.
    """
    hashes = F.transform(shingles(text, n), shingle_hash)
    total = F.size(hashes)

    def _bit_count_fn(b: int):
        def fn(acc, h):
            return acc + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int")
        return fn

    out = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.aggregate(hashes, F.lit(0), _bit_count_fn(b))
        out = out + F.when(ones * 2 > total, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def phash_near_dup_pairs(
    items: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    n_bands: int = 8,
    max_bucket_size: int = 10000,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash Hamming distance —
    the image-payload twin of :func:`minhash_lsh_pairs` over the input
    table's ``phash:int64`` column (codecs.phash64; the reference carries
    no image dedup at all — this is engine capability for the
    training-data pipeline).

    Banding with a pigeonhole GUARANTEE, not a probabilistic recall: the
    64-bit hash splits into ``n_bands`` disjoint bit bands; two hashes
    within Hamming distance ``max_hamming < n_bands`` differ in at most
    ``max_hamming`` bands, so they MUST agree exactly on at least one
    band.  Candidates are therefore an equi-join on (band, band_value)
    with zero false negatives; the exact ``bit_count(a XOR b)`` filter
    then makes the result EXACTLY all pairs at distance <= max_hamming.

    Scale shape: shuffle key cardinality ~N * n_bands, band values spread
    over 2^(64/n_bands) buckets; ``max_bucket_size`` applies the same
    lazy oversized-bucket cap as the text LSH (giant buckets = exact
    phash clusters — recover those as GROUPS via a hash-groupBy on the
    phash itself); the cap is always on (>= 1; pass one larger than the
    table for uncapped output).  Like the text LSH (r6), candidates come from
    per-bucket member lists (:func:`_capped_bucket_lists`) — one shuffle
    by (band, bval), no persist/broadcast/anti-join.  Output:
    (id_a, id_b, n_shared_bands, hamming), one row per unordered pair.
    """
    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64 (got {n_bands})")
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"max_hamming must be in [0, n_bands) for the pigeonhole "
            f"guarantee (got {max_hamming} with n_bands={n_bands}); use "
            "more/narrower bands for larger distances"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    # band values via unsigned shift + mask: sign-extension bits fall
    # above the mask, so arithmetic-vs-logical shift cannot matter (the
    # DuckDB oracle's plain >> computes identical band values)
    bands_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("_ph"), b * width)
            .bitwiseAND(F.lit(mask)).alias("bval"),
        )
        for b in range(n_bands)
    ])
    banded = (
        items.select(F.col(id_col).alias("_id"), F.col(phash_col).alias("_ph"))
        .select("_id", "_ph", F.explode(bands_arr).alias("bb"))
        .select("_id", "_ph", "bb.band", "bb.bval")
    )
    buckets, report = _capped_bucket_lists(
        banded, ["band", "bval"],
        F.struct(F.col("_id"), F.col("_ph")), max_bucket_size,
        "phash_near_dup_pairs",
    )
    out = (
        buckets
        .select(F.explode("_members").alias("_ma"), "_members")
        .select("_ma", F.explode("_members").alias("_mb"))
        .where(F.col("_ma._id") < F.col("_mb._id"))
        .groupBy(
            F.col("_ma._id").alias(f"{id_col}_a"),
            F.col("_mb._id").alias(f"{id_col}_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_bands"),
            F.bit_count(
                F.first(F.col("_ma._ph")).bitwiseXOR(F.first(F.col("_mb._ph")))
            ).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    out._bucket_cap_report = report
    return out


def benchmark_overlap(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination detection — the decontamination primitive
    of a training-data pipeline: distinct character n-gram overlap
    between every corpus document and every benchmark document,
    returning one row per (doc_id, bench_id) pair with >= 1 shared
    n-gram.

    Scale shape (the property that matters at 100 TB): the benchmark is
    SMALL (test sets are thousands of docs, the corpus is billions), so
    its distinct (bench_id, ngram) set is exploded once and BROADCAST;
    the corpus side streams through one explode -> broadcast-hash-join ->
    2-phase count-distinct aggregate.  No shuffle ever carries document
    text, only (doc_id, bench_id, ngram) hits — and Catalyst prunes the
    text column immediately after the explode.

    ``benchmark`` needs (bench_id, text).  Shingles come from the same
    :func:`shingles` used by the dedup family (NULL -> '' convention),
    so decontamination and near-dedup see the same n-gram universe.
    """
    doc_grams = documents.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("ngram")
    )
    bench_grams = benchmark.select(
        "bench_id", F.explode(shingles(F.col("text"), n)).alias("ngram")
    ).distinct()
    return (
        doc_grams.join(F.broadcast(bench_grams), "ngram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def apply_exact(documents: DataFrame) -> DataFrame:
    """APPLY exact dedup: one canonical survivor (min doc_id) per exact
    text group.  Where :func:`exact_dup_counts` measures duplication,
    this returns the deduplicated corpus membership — (doc_id, n_copies)
    for survivors only.

    Scale shape: groupBy on md5(text) — a pure 2-phase hash aggregate
    (map-side partials absorb within-partition dup mass, the canonical
    C4-style exact-dedup plan); no window, no join, shuffle payload is
    (hash, min_id, count).  NULL text hashes via a sentinel so NULL-text
    rows form one group instead of vanishing.
    """
    h = F.md5(F.coalesce(F.col("text"), F.lit("\x00null")))
    return (
        documents.groupBy(h.alias("text_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


def apply_components(documents: DataFrame, components: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """APPLY near-dedup from resolved components (:func:`dup_components`
    output): survivors are each component's labelling member (component
    label == min member id by construction) plus every document absent
    from ``components``.  Broadcast-joinable when the candidate-pair
    universe is small relative to the corpus; plain shuffled left join
    otherwise — either way survivors = one equi-join + filter, no window.
    """
    lab = components.select(
        F.col(id_col).alias("_cid"), F.col("component").alias("_comp")
    )
    joined = documents.join(
        lab, documents[id_col] == lab["_cid"], "left"
    )
    return (
        joined.filter(
            F.col("_comp").isNull() | (F.col("_comp") == F.col(id_col))
        ).drop("_cid", "_comp")
    )


# content-defined chunking (Rabin-style): polynomial hash of the w-char
# window ending at each position; positions where hash % modulus == 0 cut
# a chunk boundary.  Boundaries depend only on LOCAL content, so a long
# span duplicated across documents produces byte-identical interior
# chunks at ANY alignment — the property fixed-stride windows lack and
# the reason suffix arrays are usually needed (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"); CDC gets
# the cross-document repeated-span signal with a linear pass instead.
_CDC_BASE = 31


def cdc_chunks(documents: DataFrame, w: int = 8,
               modulus: int = 64) -> DataFrame:
    """(doc_id, chunk_idx, chunk) — content-defined chunks of ``text``.

    All Catalyst, with each intermediate array materialised as a REAL
    column in its own projection: Spark does not share common
    subexpressions across an interpreted higher-order-function lambda,
    so an inlined codes array would be re-split once per element_at —
    O(n^2 * w).  Staged columns keep it O(n * w) JVM ops, no Python.
    Max term 0xFFFF * 31^7 < 2^51 so the BIGINT sum never overflows in
    Spark or DuckDB.
    """
    if w < 2 or w > 16:
        raise ValueError(f"w must be in [2, 16], got {w}")
    if modulus < 2:
        raise ValueError(f"modulus must be >= 2, got {modulus}")
    text = F.coalesce(F.col("text"), F.lit(""))

    staged = documents.select(
        "doc_id", text.alias("_t"), F.length(text).alias("_n"),
        F.transform(F.split(text, ""), F.ascii).alias("_c"),
    )

    def _win_hash(i):  # window STARTS at 1-based position i
        # cast BEFORE multiplying: small powers are int32 literals and
        # code * power would otherwise overflow the int32 multiply
        terms = [
            F.element_at(F.col("_c"), i + j).cast("long")
            * F.lit(_CDC_BASE ** (w - 1 - j)).cast("long")
            for j in range(w)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s

    # boundary = 1-based END position of a matching window.  Guard the
    # short-text case explicitly: sequence(1, 0) is DESCENDING in Spark
    # ([1, 0]), which would index past the codes array under ANSI mode.
    n = F.col("_n")
    starts = F.when(n >= w, F.sequence(F.lit(1), n - w + 1)).otherwise(
        F.array().cast("array<int>"))
    bounded = staged.select(
        "doc_id", "_t", "_n",
        F.filter(
            F.transform(
                starts,
                lambda i: F.when(_win_hash(i) % modulus == 0, i + w - 1)
                .otherwise(F.lit(0)),
            ),
            lambda p: p > 0,
        ).alias("_b"),
    )
    cut = bounded.select(
        "doc_id", "_t",
        F.concat(F.array(F.lit(0)), F.col("_b"),
                 F.array(F.col("_n"))).alias("_cuts"),
    )
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("_cuts")) - 2),
            lambda k: F.substring(
                F.col("_t"),
                F.element_at(F.col("_cuts"), k + 1) + 1,
                F.element_at(F.col("_cuts"), k + 2)
                - F.element_at(F.col("_cuts"), k + 1),
            ),
        ),
        lambda c: c != "",
    )
    return cut.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))


def cdc_dup_spans(documents: DataFrame, w: int = 8, modulus: int = 64,
                  min_count: int = 2) -> DataFrame:
    """Per-document cross-corpus duplicated-span stats via CDC chunks:
    (doc_id, n_chunks, n_dup_chunks, dup_chars, n_chars) where a chunk
    is "dup" when its exact text occurs >= ``min_count`` times
    corpus-wide (including within one document).

    Scale shape (100 TB): chunking is a linear narrow pass; corpus chunk
    counts are a 2-phase hash agg keyed on a fixed-width md5 (the chunk
    text itself never shuffles twice); the count join is chunk-key
    equi-join; per-doc rollup is another 2-phase agg.  No window, no
    global sort.  Documents with no chunks (empty text) keep a zero row.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    ch = cdc_chunks(documents, w=w, modulus=modulus)
    keyed = ch.select(
        "doc_id", F.length("chunk").alias("clen"),
        F.md5(F.col("chunk")).alias("ck"))
    counts = keyed.groupBy("ck").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    per = (
        keyed.join(counts, "ck")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") >= min_count, 1).otherwise(0))
            .cast("long").alias("n_dup_chunks"),
            F.sum(F.when(F.col("cnt") >= min_count, F.col("clen"))
                  .otherwise(0)).cast("long").alias("dup_chars"),
        )
    )
    base = documents.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        .alias("n_chars"))
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chunks", F.lit(0).cast("long")).alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0).cast("long"))
        .alias("n_dup_chunks"),
        F.coalesce("dup_chars", F.lit(0).cast("long")).alias("dup_chars"),
        "n_chars",
    )


def fuzzy_decontam(
    documents: DataFrame,
    benchmark: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold_permille: int = 500,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination — the fuzzy counterpart
    of :func:`benchmark_overlap` (exact n-gram decontamination misses
    lightly-edited eval items; frontier-model data cards decontaminate
    with MinHash-LSH between corpus and benchmark for exactly this
    reason).

    Candidates come from the SAME banded-MinHash machinery as
    :func:`minhash_lsh_pairs` (shared :func:`banded_sigs`, so batch
    dedup / streaming dedup / decontamination are value-consistent),
    joined ACROSS the two tables; every candidate is then verified with
    the exact shingle-set Jaccard and flagged against
    ``threshold_permille`` by pure integer cross-multiplication
    (1000 * |A∩B| >= p * |A∪B| — no float in the verdict).

    Scale shape (100 TB corpus, small benchmark): the benchmark side —
    banded keys AND texts — is broadcast; candidate doc_ids are broadcast
    back as a semi-join so corpus text is scanned linearly and NEVER
    shuffled (shingle sets are computed only for candidate rows); there
    is no corpus self-join anywhere.  The Jaccard verification runs in an
    Arrow kernel (r6): per candidate pair, plain Python set
    intersection/union cardinalities over the identical shingle
    construction as :func:`shingles` — set SIZES are engine-independent
    exact integers, so the result is unchanged while the per-character
    interpreted shingle/array_intersect expressions are gone (A/B at
    sf0.1: ~3.0 s -> ~1.5 s).

    ``benchmark``: (bench_id, text).  Output: one row per candidate pair
    (doc_id, bench_id, n_intersect, n_union, contaminated).
    """
    if not 1 <= threshold_permille <= 1000:
        raise ValueError(
            f"threshold_permille must be in [1, 1000], got {threshold_permille}")
    _check_n_hashes(n_hashes, bands)
    bench_docs = benchmark.select(
        F.col("bench_id").alias("doc_id"), "text")
    d_banded = banded_sigs(
        minhash_sig_df(documents, n_hashes, n), n_hashes, bands)
    b_banded = banded_sigs(
        minhash_sig_df(bench_docs, n_hashes, n), n_hashes, bands
    ).withColumnRenamed("doc_id", "bench_id")
    cand = (
        d_banded.join(F.broadcast(b_banded), ["band", "bhash"])
        .select("doc_id", "bench_id").distinct()
    )
    # candidate doc ids broadcast back onto the corpus (the r5 semi-join
    # shape): corpus text is scanned linearly and only CANDIDATE rows'
    # text ever enters a join — without the explicit broadcast the
    # planner's pre-AQE estimate of cand can pick a sort-merge join that
    # shuffles the whole corpus text
    cand_docs = (
        documents.join(F.broadcast(cand.select("doc_id").distinct()),
                       "doc_id")
        .select("doc_id", F.col("text").alias("_ta"))
    )
    j = (
        cand.join(cand_docs, "doc_id")
        .join(F.broadcast(benchmark.select(
            "bench_id", F.col("text").alias("_tb"))), "bench_id")
    )
    d_type = documents.schema["doc_id"].dataType.simpleString()
    b_type = benchmark.schema["bench_id"].dataType.simpleString()
    kschema = (f"doc_id {d_type}, bench_id {b_type}, "
               "n_intersect long, n_union long")
    nn = int(n)

    def _sh_set(t):
        # identical set to shingles(): coalesce(NULL, '') then the
        # distinct n-gram windows, with at least the one (possibly
        # short/empty) leading window
        if t is None:
            t = ""
        return {t[i: i + nn] for i in range(max(len(t) - (nn - 1), 1))}

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        inter = np.empty(len(pdf), dtype=np.int64)
        union = np.empty(len(pdf), dtype=np.int64)
        # bounded memo of corpus shingle sets (a set holds ~len(text)
        # short strings — far heavier than the text); Arrow batches are
        # small (maxRecordsPerBatch) but clear defensively so a wide batch
        # of huge documents cannot pin O(batch x doc) sets at once.  The
        # benchmark side is a small broadcast set repeated on every row, so
        # it keeps its own memo that the corpus clear() does not evict.
        cache: dict = {}
        bench_cache: dict = {}
        for i, (ta, tb) in enumerate(zip(pdf["_ta"], pdf["_tb"])):
            if len(cache) > 1024:
                cache.clear()
            a = cache.get(ta)
            if a is None:
                a = _sh_set(ta)
                cache[ta] = a
            b = bench_cache.get(tb)
            if b is None:
                b = _sh_set(tb)
                bench_cache[tb] = b
            ni = len(a & b)
            inter[i] = ni
            union[i] = len(a) + len(b) - ni
        return pd.DataFrame({
            "doc_id": pdf["doc_id"], "bench_id": pdf["bench_id"],
            "n_intersect": inter, "n_union": union,
        })

    out = map_batches(
        j.select("doc_id", "bench_id", "_ta", "_tb"), kschema, _verify)
    return out.select(
        "doc_id", "bench_id", "n_intersect", "n_union",
        (F.col("n_intersect") * 1000
         >= F.lit(threshold_permille) * F.col("n_union"))
        .alias("contaminated"),
    )
