"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
set, JVM-side dot products via ``aggregate``/``zip_with`` (no Python in the
hot path), rank with a window.  The scale path is LSH bucketing
(:func:`lsh_bucket_topk_quantised`, :func:`near_dup_pairs`): hyperplane
signatures prune candidates to same-bucket pairs, turning the O(N*Q) scan
into an equi-join on the bucket key — the same cover-join shape the spatial
engine uses on H3 cells.  The Catalyst bucket folds the Arrow kernels are
checked against are in ``tests/reference/similarity.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (Arrow kernels)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geedim_spark.kernels import map_batches, map_rows


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — sequential like a scalar loop, deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL for zero-norm vectors (undefined similarity) — _rank_topk drops
    NULL sims so all-zero embeddings never rank as neighbours."""
    denom = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    return dot(a, b) / F.nullif(denom, F.lit(0.0))


def norm(a: Column) -> Column:
    """sqrt(a·a) — staged per ROW before a pair join so the O(pairs) side
    pays one dot product per pair instead of three.  ``cosine_prenormed``
    over staged norms is value-IDENTICAL to :func:`cosine`: same
    ``sqrt(dot(x,x))`` doubles, same product, same NULL-on-zero rule —
    Spark does not share subexpressions inside interpreted higher-order
    lambdas, so the inline form recomputed both norms for every pair
    (measured 2.5x slower on the hard_negatives bucket join at sf0.1)."""
    return F.sqrt(dot(a, a))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    return dot(a, b) / F.nullif(na * nb, F.lit(0.0))


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbours of the first ``n_queries`` vectors.

    Output: (query_id, neighbor_id, rank) — integer-only for oracle hashing;
    ties broken by vec_id for determinism across parallelism.
    """
    emb = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", norm(F.col("e")))
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    return _rank_topk(sims_with(pairs), k)


def sims_with(pairs: DataFrame) -> DataFrame:
    """Pair similarities; uses staged per-row norms (``qnrm``/``nrm``
    columns) when the caller provides them — value-identical, one dot
    product per pair instead of three."""
    if "qnrm" in pairs.columns and "nrm" in pairs.columns:
        sim = cosine_prenormed(F.col("qe"), F.col("e"),
                               F.col("qnrm"), F.col("nrm"))
    else:
        sim = cosine(F.col("qe"), F.col("e"))
    return pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        sim.alias("sim"),
    )


def _rank_topk(sims: DataFrame, k: int) -> DataFrame:
    # rank on round(sim, 6): quantised ordering is stable across engines'
    # float summation order (ties broken by id), making ranks oracle-safe
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("sim"), 6)), F.asc("neighbor_id")
    )
    return (
        sims.where(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_signature(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic random-hyperplane matrix for SimHash-style bucketing."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_int_planes(dim: int, n_planes: int = 4, seed: int = 42) -> np.ndarray:
    """Small-integer hyperplanes for the oracle-exact quantised LSH path."""
    rng = np.random.default_rng(seed)
    return rng.integers(-5, 6, size=(n_planes, dim))


QUANT_SCALE = 4096.0  # power of two: x*4096 is an exact double scaling


def quantise(emb_col: Column) -> Column:
    """floor(x * 4096) as long — bit-exact in any IEEE engine (the scale is
    a power of two, so the multiply is exact and floor is unambiguous)."""
    return F.transform(
        emb_col, lambda x: F.floor(x.cast("double") * F.lit(QUANT_SCALE)).cast("long")
    )


def _np_float_buckets(E: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-bit buckets over FLOAT hyperplanes, bit-identical to the
    Catalyst ``lsh_bucket`` fold: per-plane left-fold double projections
    (acc + e_j*p_j, j ascending — the exact Catalyst aggregate order) and
    Spark's total-order sign test (NaN > 0 is TRUE under Spark SQL's
    ordering, so a NaN projection sets the bit — replicated with isnan;
    plain numpy comparison would clear it)."""
    buckets = np.zeros(E.shape[0], dtype=np.int64)
    for i in range(planes.shape[0]):
        proj = np.zeros(E.shape[0], dtype=np.float64)
        for j in range(E.shape[1]):
            proj += E[:, j] * planes[i, j]
        buckets += np.where((proj > 0) | np.isnan(proj),
                            np.int64(1 << i), np.int64(0))
    return buckets


def _embed_base_kernel(
    embeddings: DataFrame, bucket_of, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Shared Arrow base pass for the LSH embedding ops: one mapInPandas
    pass over ``embeddings`` staging ``(vec_id, *keep, e float64, bucket,
    nrm)``, with the hyperplanes derived from the batch's vector width (no
    plan-construction job).  ``bucket_of(E)`` maps the batch's (n, d)
    float64 matrix to int64 bucket ids; ``keep`` columns pass through.

    Rows with a NULL embedding, or with any NULL element, replicate the r5
    Catalyst convention for NULL rows: every ``when(NULL > 0)`` branch
    fell through, so they land in bucket 0 with NULL e/nrm — the
    downstream exact-cosine expressions evaluate NULL and the
    filters/rank drop them.  NULL elements are cleared in Catalyst before
    the kernel: Arrow hands them to pandas as NaN, indistinguishable from
    a real NaN element (which keeps Spark's NaN > 0 bucket bit)."""
    cols = ["vec_id", *keep]
    kschema = ", ".join(
        [f"{c} {embeddings.schema[c].dataType.simpleString()}" for c in cols]
        + ["e array<double>", "bucket long", "nrm double"])

    def _batch(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        vals = list(pdf["embedding"])
        idx = [i for i, v in enumerate(vals) if v is not None]
        e_out: list = [None] * n
        bucket = np.zeros(n, dtype=np.int64)
        nrm = np.full(n, np.nan)  # NaN leaves the kernel as NULL
        if idx:
            E = np.stack([np.asarray(vals[i], dtype=np.float64)
                          for i in idx])
            bucket[idx] = bucket_of(E)
            nrm[idx] = _np_fold_norm(E)
            for t, i in enumerate(idx):
                e_out[i] = E[t]
        return pd.DataFrame({**{c: pdf[c] for c in cols}, "e": e_out,
                             "bucket": bucket, "nrm": nrm})

    no_null_elems = F.forall("embedding", lambda x: x.isNotNull())
    return map_batches(embeddings.select(
        *cols, F.when(no_null_elems, F.col("embedding")).alias("embedding")
    ), kschema, _batch)


def embedding_dim(embeddings: DataFrame) -> int:
    """Vector width from the first row (loud error on an empty table)."""
    row = embeddings.select("embedding").first()
    if row is None:
        raise ValueError("embeddings table is empty — cannot infer dim")
    return len(row["embedding"])


def lsh_bucket_topk_quantised(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, n_planes: int = 4
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket (a
    bucket equi-join), with exact integer bucketing — the bucket key is
    reproducible bit-for-bit in ANSI SQL, so the whole query is
    value-checkable.  Recall is approximate by construction.

    r6: buckets and norms come from one Arrow base kernel
    (:func:`_np_quantised_buckets` / :func:`_np_fold_norm` — exact int64 /
    IEEE-fold arithmetic, bit-identical to the Catalyst expressions, planes
    derived from the batch's vector width so no plan-construction job);
    the exact cosine ranking stays in Catalyst over the staged norms.  The
    query side runs the kernel over the pre-filtered n_queries rows (the
    filter sits below the Python map), and an EMPTY embeddings table
    yields an empty result rather than the r5 plan-time ValueError."""
    np_planes = int(n_planes)

    def bucket_of(E):
        return _np_quantised_buckets(E, lsh_int_planes(E.shape[1], np_planes))

    emb = _embed_base_kernel(embeddings, bucket_of)
    # filter BELOW the kernel: predicates cannot push through a Python
    # map, so building q from the kernel output would re-run the full
    # base pass over every row just to keep n_queries of them
    q = (
        _embed_base_kernel(
            embeddings.filter(F.col("vec_id") < n_queries), bucket_of)
        .select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
            F.col("bucket").alias("qbucket"), F.col("nrm").alias("qnrm"),
        )
    )
    pairs = emb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    return _rank_topk(sims_with(pairs), k)


def ivf_flat_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF with *flat* centroids (the first ``nlist`` vectors, no Lloyd
    refinement) — the same probe/equi-join plan as :func:`ivf_topk` but with
    a closed-form, SQL-expressible cluster assignment: every vector joins
    the centroid maximising round(cosine, 6) (ties by centroid id), queries
    probe their ``nprobe`` best lists.  Assignment, probing and the final
    rank all reuse the round-6 ordering already proven engine-stable by the
    exact top-k oracle."""
    emb = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", norm(F.col("e")))
    cent = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "e", "nrm", "cid",
        F.round(cosine_prenormed(F.col("e"), F.col("ce"),
                                 F.col("nrm"), F.col("cnrm")), 6)
        .alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    ranked = scored.withColumn("crank", F.row_number().over(w))
    assigned = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "e", "nrm", F.col("cid").alias("cluster")
    )
    probes = (
        ranked.filter(
            (F.col("vec_id") < n_queries) & (F.col("crank") <= nprobe)
        )
        .select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"), F.col("cid").alias("cluster"),
        )
    )
    cand = assigned.join(F.broadcast(probes), "cluster").where(
        F.col("vec_id") != F.col("query_id")
    )
    return _rank_topk(sims_with(cand), k)


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 8,
    max_bucket_size: int = 10000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidate pruning.

    Same-direction vectors share every hyperplane sign, so true near-dups
    always co-bucket; the bucket self-join bounds candidates to ~N^2/2^planes
    and the exact cosine filter makes the result exact above ``threshold``
    for same-bucket pairs (the standard LSH near-dup contract: recall < 1
    only for pairs near the threshold with some sign flips).
    Output: (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` bounds the quadratic blowup of a giant duplicate
    cluster (e.g. millions of copies of one embedding all sharing a
    bucket): larger buckets are filtered inside the lazy plan and reported
    with a loud RuntimeWarning when the plan first executes (returned frame
    carries ``_bucket_cap_report`` — see
    :class:`geedim_spark.operators.dedup.BucketCapReport`); recover the
    dropped clusters as GROUPS via :func:`exact_embed_dup_counts`.  The
    cap is always on (>= 1; pass one larger than the table for uncapped
    output).

    Plan shape (r6, guide §4.2/§2.4): buckets and norms come from ONE
    Arrow base kernel (bit-identical to the Catalyst
    ``lsh_bucket``/:func:`norm` folds — pinned by
    test_near_dup_base_kernel_matches_catalyst — with the hyperplanes
    derived from the batch's vector width, so the old plan-construction
    ``embedding_dim()`` job is gone); candidates come from per-bucket
    member lists (:func:`~geedim_spark.operators.dedup._capped_bucket_lists`
    — one shuffle by bucket, no persist/broadcast/anti-join/self-join);
    the exact cosine filter stays in Catalyst over the staged norms.
    NULL-embedding rows, and rows with a NULL element, keep the r5
    convention (bucket 0, NULL sim → filtered); an EMPTY table yields an
    empty result rather than the r5 plan-time ValueError.
    """
    from geedim_spark.operators.dedup import _capped_bucket_lists

    np_planes = int(n_planes)
    base = _embed_base_kernel(
        embeddings,
        lambda E: _np_float_buckets(E, lsh_signature(E.shape[1], np_planes)),
    )
    buckets_df, report = _capped_bucket_lists(
        base, ["bucket"], F.struct("vec_id", "e", "nrm"), max_bucket_size,
        "near_dup_pairs",
    )
    out = (
        buckets_df
        .select(F.explode("_members").alias("_ma"), "_members")
        .select("_ma", F.explode("_members").alias("_mb"))
        .where(F.col("_ma.vec_id") < F.col("_mb.vec_id"))
        .where(
            cosine_prenormed(F.col("_ma.e"), F.col("_mb.e"),
                             F.col("_ma.nrm"), F.col("_mb.nrm")) >= threshold)
        .select(F.col("_ma.vec_id").alias("id_a"),
                F.col("_mb.vec_id").alias("id_b"))
    )
    out._bucket_cap_report = report
    return out


def exact_embed_dup_counts(embeddings: DataFrame) -> DataFrame:
    """(vec_id, n_copies): exact duplicate-embedding group sizes via a hash
    on the integer-quantised vector (bit-exact key — see :func:`quantise`).

    This is the GROUP-wise recovery path :func:`near_dup_pairs` points
    oversized-bucket drops at: a 10M-copy embedding cluster is one
    hash-groupBy key here (linear), never 5*10^13 pairs.  Same plan shape
    as text exact-dedup (dedup.exact_dup_counts): window count over the
    hash partition, shuffle key = the hash.
    """
    key = F.md5(F.concat_ws(",", quantise(F.col("embedding"))))
    w = Window.partitionBy(key)
    return embeddings.select(
        "vec_id", F.count(F.lit(1)).over(w).cast("long").alias("n_copies")
    )


def ivf_centroids(vectors: np.ndarray, nlist: int, iters: int = 5) -> np.ndarray:
    """Deterministic Lloyd k-means (init = evenly-strided rows).  Driver-side
    over a sample — at 100 TB the sample is a `.sample(fraction)` collect,
    centroids stay a broadcast-sized array (nlist x dim)."""
    v = vectors / np.maximum(np.linalg.norm(vectors, axis=1, keepdims=True), 1e-12)
    cent = v[:: max(1, len(v) // nlist)][:nlist].copy()
    for _ in range(iters):
        assign = (v @ cent.T).argmax(axis=1)
        for c in range(nlist):
            sel = v[assign == c]
            if len(sel):
                m = sel.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: cluster-assign every vector (broadcast
    centroids, Arrow kernel), probe the query's ``nprobe`` nearest lists,
    rank exact cosine within the probed candidates.

    Scale shape: the candidate join is an equi-join on ``cluster`` (shuffle
    key cardinality nlist; lists are ~N/nlist rows), the exact rank is a
    window inside each (query, cluster) slice — no cross join anywhere.
    """
    # centroid training set: seeded Bernoulli sample — the 100 TB form (one
    # narrow scan, no global sort, no ordered driver pull).  Deterministic
    # for a fixed input layout (seed + partition split); rows are sorted by
    # vec_id driver-side so training is order-independent of task finish.
    cap = max(nlist * 2000, 4000)
    n_total = embeddings.count()
    if n_total == 0:
        raise ValueError("embeddings table is empty — cannot train centroids")
    frac = min(1.0, (cap * 1.2) / n_total)
    rows = (
        embeddings.select("vec_id", "embedding")
        .sample(fraction=frac, seed=42)
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    rows = rows[:cap]
    sample = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cent = ivf_centroids(sample, nlist)
    spark = embeddings.sparkSession
    bcent = spark.sparkContext.broadcast(cent)

    def _assign(pdf):
        V = np.stack(pdf["embedding"].values).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        pdf = pdf[["vec_id", "embedding"]].copy()
        pdf["cluster"] = (V @ bcent.value.T).argmax(axis=1)
        return pdf

    assigned = map_batches(
        embeddings.select("vec_id", "embedding"),
        "vec_id long, embedding array<float>, cluster int", _assign)
    emb = assigned.withColumn("e", _as_double(F.col("embedding"))).drop("embedding")

    # queries probe their nprobe nearest centroid lists
    qrows = emb.filter(F.col("vec_id") < n_queries).collect()
    probe = []
    for r in qrows:
        qv = np.array(r["e"])
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        order = np.argsort(-(bcent.value @ qv))[:nprobe]
        for c in order:
            probe.append((int(r["vec_id"]), [float(x) for x in r["e"]], int(c)))
    q = spark.createDataFrame(
        probe, "query_id long, qe array<double>, cluster int"
    ).withColumn("qnrm", norm(F.col("qe")))
    cand = emb.withColumn("nrm", norm(F.col("e"))).join(
        F.broadcast(q), "cluster"
    ).where(F.col("vec_id") != F.col("query_id"))
    sims = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        cosine_prenormed(F.col("qe"), F.col("e"),
                         F.col("qnrm"), F.col("nrm")).alias("sim"),
    )
    return _rank_topk(sims, k)


def ivf_recall_at_k(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """Per-query IVF recall@k vs the exact scan: (query_id, n_hits).

    ``n_hits`` counts IVF neighbours that appear anywhere in the exact
    top-k (set overlap, rank-agnostic — ties at the boundary don't flip
    membership because both sides use the round-6 + id total order).  The
    exact side is :func:`cosine_topk`, itself value-checked against the
    DuckDB oracle, so a recall assertion on this column is a real quality
    gate for the (non-SQL-expressible) Lloyd-trained index.
    """
    approx = ivf_topk(embeddings, n_queries, k, nlist, nprobe)
    exact = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
    q_ids = embeddings.select(
        F.col("vec_id").alias("query_id")
    ).filter(F.col("query_id") < n_queries)
    return (
        q_ids.join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("hits")),
            "query_id", "left",
        )
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def _np_fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Pairwise dot products A(r,d) x B(c,d) -> (r,c), accumulated one
    DIMENSION at a time (acc = acc + a_j*b_j, j ascending) — the exact
    IEEE operation sequence of the Catalyst ``aggregate(zip_with(...))``
    left fold, vectorised across all pairs.  np.dot/np.einsum would be
    faster but use pairwise/SIMD summation whose last ulp can differ;
    this form is bit-identical to the JVM fold by construction."""
    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j][:, None] * B[:, j][None, :]
    return acc


def _np_fold_norm(V: np.ndarray) -> np.ndarray:
    """sqrt of the same left-fold self-dot — bit-identical to
    :func:`norm` (F.sqrt of the Catalyst fold)."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return np.sqrt(acc)


def _np_quantised_buckets(V64: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Integer-quantised LSH bucket ids, bit-identical to the Catalyst
    ``lsh_bucket_quantised``: floor(x*4096) int64 components, exact
    int64 left-fold projections (|terms| << 2^53 — no wraparound), sign
    bits OR-ed."""
    q = np.floor(V64 * QUANT_SCALE).astype(np.int64)
    p = planes.astype(np.int64)
    buckets = np.zeros(V64.shape[0], dtype=np.int64)
    for i in range(p.shape[0]):
        proj = np.zeros(V64.shape[0], dtype=np.int64)
        for j in range(V64.shape[1]):
            proj += q[:, j] * p[i, j]
        buckets += np.where(proj > 0, np.int64(1 << i), np.int64(0))
    return buckets


# raw-sim cushion for the in-kernel top-k prune: two round-6 quanta.  A
# candidate more than 2e-6 BELOW the k-th largest raw sim cannot reach the
# k-th largest round(sim, 6) (|round6(x) - x| <= 5e-7 and rounding is
# monotone), so pruning at (kth_raw - 2e-6) keeps a guaranteed superset of
# the final round-6 top-k for Catalyst to rank.
_TOPK_PRUNE_CUSHION = 2e-6


def _bucket_pair_sims(
    buckets: DataFrame, k: int, mismatch_only: bool
) -> DataFrame:
    """Same-bucket pair similarities via a per-bucket Arrow kernel.

    Value-identical to the r5 bucket self-join + higher-order-function
    form: dots replay the exact Catalyst fold order (:func:`_np_fold_dot`),
    the norms are the staged :func:`_np_fold_norm` values, the zero-norm
    NULL rule becomes a skip, and rounding + ranking stay in Catalyst.
    Per query row only the guaranteed round-6 top-k superset survives
    (``_TOPK_PRUNE_CUSHION``), so the downstream rank window sees ~k rows
    per vec instead of the whole bucket — the join form shuffled every
    candidate pair.

    ``buckets``: one row per bucket whose ``_members`` list holds
    (vec_id, label, e array<double>, nrm) structs — the output of
    :func:`_quantised_base`.  Members with a NULL ``e`` are skipped.
    Output: (vec_id, label, nbr_id, nbr_label, sim RAW double).
    """
    label_type = (buckets.schema["_members"].dataType.elementType["label"]
                  .dataType.simpleString())
    schema = (f"vec_id long, label {label_type}, nbr_id long, "
              f"nbr_label {label_type}, sim double")

    def _bucket(members):
        members = [m for m in members if m["e"] is not None]
        nrows = len(members)
        if nrows < 2:
            return
        V = np.stack([np.asarray(m["e"], dtype=np.float64) for m in members])
        ids = np.array([m["vec_id"] for m in members])
        labels = np.array([m["label"] for m in members])
        nrm = np.array([m["nrm"] for m in members], dtype=np.float64)
        id_list, label_list = ids.tolist(), labels.tolist()
        # chunk the query rows so the pair matrix stays bounded even at the
        # bucket-cap size (cap rows x cap cols doubles)
        for c0 in range(0, nrows, 1024):
            c1 = min(c0 + 1024, nrows)
            sims = _np_fold_dot(V[c0:c1], V)
            denom = nrm[c0:c1][:, None] * nrm[None, :]
            valid = denom != 0.0
            valid &= ids[c0:c1][:, None] != ids[None, :]
            if mismatch_only:
                valid &= labels[c0:c1][:, None] != labels[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = sims / denom
            # non-finite sims (NaN/inf embeddings) carry no usable
            # ordering — excluded, like the zero-norm NULL rule
            valid &= np.isfinite(sims)
            for r in range(c1 - c0):
                vm = valid[r]
                if not vm.any():
                    continue
                sv = sims[r][vm]
                if len(sv) > k:
                    kth = np.partition(sv, len(sv) - k)[len(sv) - k]
                    keep = sv >= kth - _TOPK_PRUNE_CUSHION
                else:
                    keep = np.ones(len(sv), dtype=bool)
                vid, lab = id_list[c0 + r], label_list[c0 + r]
                for nb, nl, sim in zip(ids[vm][keep].tolist(),
                                       labels[vm][keep].tolist(),
                                       sv[keep].tolist()):
                    yield vid, lab, nb, nl, sim

    return map_rows(buckets, ["_members"], schema, _bucket)


def _quantised_base(
    embeddings: DataFrame, n_planes: int, max_bucket_size: int, op: str,
):
    """Shared prep for the kernel-scored bucket ops: the embedding base
    pass (:func:`_embed_base_kernel` keeping ``label``) stages the
    quantised bucket via exact int64 numpy folds
    (:func:`_np_quantised_buckets`, bit-identical to the Catalyst form)
    and the norm, then the one LSH bucket cap
    (:func:`~geedim_spark.operators.dedup._capped_bucket_lists`) builds
    one member list per bucket in a single shuffle.  Returns
    (buckets with ``_members``, BucketCapReport)."""
    from geedim_spark.operators.dedup import _capped_bucket_lists

    base = _embed_base_kernel(
        embeddings,
        lambda E: _np_quantised_buckets(E, lsh_int_planes(E.shape[1], n_planes)),
        keep=("label",),
    )
    return _capped_bucket_lists(
        base, ["bucket"], F.struct("vec_id", "label", "e", "nrm"),
        max_bucket_size, op,
    )


def knn_label_noise(
    embeddings: DataFrame, k: int = 5, n_planes: int = 4,
    max_bucket_size: int = 10000,
) -> DataFrame:
    """Mislabeled-sample detection (Confident-Learning style, cf.
    Northcutt et al. 2021): every vector's label is compared against the
    majority label of its k nearest in-bucket neighbours; a mismatch
    flags the row as a labeling suspect — the curation signal used to
    prune noisy classification/caption data before training.

    Candidates come from the same integer-quantised LSH buckets as
    :func:`lsh_bucket_topk_quantised` (exact int64 bucket keys, so the
    whole query is value-checkable cross-engine); similarity ranks on
    round(cos, 6) with id tiebreaks.  Majority vote ties break toward
    the smallest label.

    Scale shape (100 TB): one bucket shuffle builds each bucket's member
    list, then candidates are scored inside a per-bucket Arrow kernel
    (:func:`_bucket_pair_sims` — exact Catalyst-fold doubles; only the
    guaranteed round-6 top-k superset is emitted per vec, so the vec_id
    rank window sees ~k rows, not the whole bucket); vote counting is a
    2-phase hash agg.
    ``max_bucket_size`` bounds the quadratic blowup of a degenerate
    bucket (e.g. a mass-duplicated embedding): larger buckets are
    filtered inside the lazy plan with the standard loud
    ``BucketCapReport`` (``_bucket_cap_report`` on the result, same
    contract as :func:`near_dup_pairs`); the cap is always on (>= 1;
    pass one larger than the table for uncapped output).  Size
    ``n_planes ~ log2(N / target_bucket_size)`` so the expected bucket
    N/2^n_planes stays well under the cap (4 fits the test corpus; a
    10^9-vector corpus wants ~20).
    Vectors whose bucket holds no other member (or zero-norm vectors, or
    NULL embeddings / embeddings with a NULL element) report n_nbrs=0,
    knn_label NULL, is_suspect false, and are nobody's neighbour.

    Output: (vec_id, label, n_nbrs, knn_label, n_agree, is_suspect).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    buckets, report = _quantised_base(embeddings, n_planes,
                                      max_bucket_size, "knn_label_noise")
    sims = _bucket_pair_sims(buckets, k, mismatch_only=False).select(
        "vec_id", "nbr_id", "nbr_label",
        F.round(F.col("sim"), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    topk = sims.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)
    votes = topk.groupBy("vec_id", "nbr_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_agree"))
    wv = Window.partitionBy("vec_id").orderBy(
        F.desc("n_agree"), F.asc("nbr_label"))
    win = votes.withColumn("_r", F.row_number().over(wv)).filter(
        F.col("_r") == 1).select(
        "vec_id", F.col("nbr_label").alias("knn_label"), "n_agree")
    nn = topk.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_nbrs"))
    out = (
        embeddings.select("vec_id", "label")
        .join(win, "vec_id", "left")
        .join(nn, "vec_id", "left")
        .select(
            "vec_id", "label",
            F.coalesce("n_nbrs", F.lit(0).cast("long")).alias("n_nbrs"),
            "knn_label",
            F.coalesce("n_agree", F.lit(0).cast("long")).alias("n_agree"),
            (F.col("knn_label").isNotNull()
             & (F.col("knn_label") != F.col("label"))).alias("is_suspect"),
        )
    )
    out._bucket_cap_report = report
    return out


def hard_negatives(
    embeddings: DataFrame, k: int = 3, n_planes: int = 4,
    max_bucket_size: int = 10000,
) -> DataFrame:
    """Contrastive hard-negative mining: for every vector, the k most
    similar vectors carrying a DIFFERENT label — the negatives that
    matter for metric-learning / CLIP-style contrastive training
    (cf. Robinson et al. 2021, "Contrastive Learning with Hard Negative
    Samples").

    Candidates come from the same integer-quantised LSH buckets as
    :func:`lsh_bucket_topk_quantised` (exact int64 bucket keys), so the
    whole query is value-checkable cross-engine; similarity ranks on
    round(cos, 6) with id tiebreaks.  A vector whose bucket holds no
    other-label member emits no rows (it has no mined negatives); NULL
    embeddings and embeddings with a NULL element neither emit nor are
    mined as negatives.

    Scale shape (100 TB): one bucket shuffle builds each bucket's member
    list, then the label-mismatch filter and the pair scoring run inside
    a per-bucket Arrow kernel (:func:`_bucket_pair_sims` — exact Catalyst-fold doubles; only the
    guaranteed round-6 top-k superset is emitted per vec, so the vec_id
    rank window sees ~k rows, not the whole bucket).  No global sort, no
    cross join.  ``max_bucket_size`` bounds the quadratic blowup of a
    degenerate bucket with the standard lazy cap + loud
    ``BucketCapReport`` (``_bucket_cap_report`` on the result); the cap
    is always on (>= 1; pass one larger than the table for uncapped
    output).  Size ``n_planes ~ log2(N / target_bucket_size)`` (4 fits
    the test corpus; a 10^9-vector corpus wants ~20).

    Output: (vec_id, label, rank, nbr_id, nbr_label, sim).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    buckets, report = _quantised_base(embeddings, n_planes,
                                      max_bucket_size, "hard_negatives")
    sims = _bucket_pair_sims(buckets, k, mismatch_only=True).select(
        "vec_id", "label", "nbr_id", "nbr_label",
        F.round(F.col("sim"), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    out = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "label", F.col("rank").cast("int").alias("rank"),
                "nbr_id", "nbr_label", "sim")
    )
    out._bucket_cap_report = report
    return out


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/transport
    compression step of an embedding pipeline (4x smaller than float32;
    the form ANN indexes and vector stores ingest).

    ``q_i = floor(x_i * 127 / max_abs)`` with exact IEEE arithmetic at
    every step (x*127 is exact for float32 inputs, the division is
    correctly rounded, floor is unambiguous), so the quantized vector is
    bit-identical across engines.  Zero vectors quantize to zeros with
    scale 0.

    Pure Catalyst transforms — no UDF, no shuffle.  Returns
    (vec_id, qvec array<int>, scale double) where
    ``dequantized = q * scale`` and ``scale = max_abs / 127``.
    """
    e = _as_double(F.col("embedding"))
    mx = F.array_max(F.transform(e, lambda x: F.abs(x)))
    q = F.when(
        mx > 0,
        F.transform(e, lambda x: F.floor(x * F.lit(127.0) / mx).cast("int")),
    ).otherwise(F.transform(e, lambda x: F.lit(0)))
    return embeddings.select(
        "vec_id",
        q.alias("qvec"),
        F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(0.0))
        .alias("scale"),
    )


def quantize_int8_stats(embeddings: DataFrame) -> DataFrame:
    """Hashable per-vector summary of :func:`quantize_int8` (the driver
    canonicalizer cannot hash array columns): dimension count, exact
    integer sum/min/max of the quantized values, non-zero count, and the
    worst per-component dequantization error in exact 1e-9 integer units
    — the contract a storage engineer checks before switching the fleet
    to int8."""
    qf = quantize_int8(embeddings)
    joined = embeddings.select("vec_id", "embedding").join(qf, "vec_id")
    err = F.zip_with(
        _as_double(F.col("embedding")), F.col("qvec"),
        lambda x, qv: F.abs(x - qv.cast("double") * F.col("scale")),
    )
    return joined.select(
        "vec_id",
        F.size("qvec").cast("long").alias("n_dims"),
        F.aggregate("qvec", F.lit(0).cast("long"),
                    lambda a, x: a + x.cast("long")).alias("q_sum"),
        F.array_min("qvec").cast("long").alias("q_min"),
        F.array_max("qvec").cast("long").alias("q_max"),
        F.size(F.filter("qvec", lambda x: x != 0)).cast("long").alias("nnz"),
        F.floor(F.array_max(err) * F.lit(1e9)).cast("long")
        .alias("max_err_1e9"),
    )
