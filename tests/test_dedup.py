"""Dedup kernels: Arrow kernel == Catalyst column expressions (value
identity), LSH band behaviour, exact-dup counting."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geedim_spark.operators import dedup
from tests.reference.dedup import minhash_signature

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").limit(60)


def test_minhash_kernel_equals_catalyst(spark, docs):
    """minhash_sig_df (hashlib kernel) must produce the exact values of the
    Catalyst expression tree (md5 + permutation mins)."""
    kern = {r["doc_id"]: list(r["sig"])
            for r in dedup.minhash_sig_df(docs, n_hashes=6, n=5).collect()}
    cat = {r["doc_id"]: list(r["sig"])
           for r in docs.select(
               "doc_id",
               minhash_signature(F.col("text"), n_hashes=6, n=5).alias("sig"),
           ).collect()}
    assert kern == cat


def test_simhash_kernel_equals_catalyst(spark, docs):
    kern = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_df(docs, bits=12, n=5).collect()}
    cat = {r["doc_id"]: r["sh"]
           for r in docs.select(
               "doc_id", dedup.simhash(F.col("text"), bits=12, n=5).alias("sh")
           ).collect()}
    assert kern == cat


def test_exact_dup_counts_with_planted_dups(spark):
    rows = [{"doc_id": i, "text": f"unique {i}"} for i in range(8)]
    rows += [{"doc_id": 100 + i, "text": "same text"} for i in range(3)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dup_counts(df).collect()}
    assert all(got[i] == 1 for i in range(8))
    assert all(got[100 + i] == 3 for i in range(3))


def test_lsh_pairs_find_planted_near_dups(spark, docs):
    """A doc and a 1-char-edited copy share most shingles -> same band
    buckets -> candidate pair emitted."""
    base = docs.select("doc_id", "text")
    edited = base.filter("doc_id < 5").select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("x")).alias("text"),
    )
    pairs = dedup.minhash_lsh_pairs(base.unionByName(edited),
                                    n_hashes=16, bands=4, n=5)
    got = {(r["doc_id_a"], r["doc_id_b"]): r["n_shared_bands"]
           for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 5000) in got, f"planted near-dup {i} not found"
        assert got[(i, i + 5000)] >= 1

def test_lsh_bucket_cap_bounds_giant_cluster(spark):
    """A planted 10k-copy cluster must not go quadratic: its buckets are
    dropped with a loud warning, other near-dup pairs survive, and the
    exact-dedup path still reports the cluster as a group."""
    import warnings
    import pandas as pd
    from pyspark.sql import functions as F

    boiler = "the same boilerplate paragraph repeated everywhere " * 5
    rows = [{"doc_id": i, "text": boiler} for i in range(10_000)]
    # two genuine near-dup docs outside the cluster
    base = "a perfectly ordinary document about spark and ducks " * 4
    rows += [
        {"doc_id": 100_000, "text": base},
        {"doc_id": 100_001, "text": base + "tail"},
        {"doc_id": 100_002, "text": "something entirely unrelated " * 6},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dedup.minhash_lsh_pairs(
            docs, n_hashes=16, bands=4, max_bucket_size=1000
        )
        pairs = out.collect()
        # the drop report is observation-backed (lazy plan, no eager job);
        # wait() joins the reporter thread so the warning is deterministic
        got = out._bucket_cap_report.wait()
    assert got["largest_bucket"] == 10_000      # the planted cluster
    assert got["rows_dropped"] == 40_000        # 10k docs x 4 bands
    msgs = [str(w.message) for w in caught if "minhash_lsh_pairs" in str(w.message)]
    assert msgs and "10000" in msgs[0]  # drop count reported, not silent

    ids = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs}
    assert (100_000, 100_001) in ids              # real near-dups survive
    assert all(a >= 100_000 for a, _ in ids)      # cluster pairs dropped
    # and the cluster is still recoverable as an exact-dup GROUP
    grp = dedup.exact_dup_counts(docs).filter("doc_id = 0").first()
    assert grp["n_copies"] == 10_000


def test_lsh_bucket_cap_disabled_and_default_noop(spark, docs):
    """The cap cannot be switched off (None would make ``_bn > NULL``
    drop every bucket silently), and the default cap leaves normal
    corpora untouched: same pairs as a cap larger than the table."""
    for bad in (None, 0):
        with pytest.raises(ValueError, match="max_bucket_size"):
            dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4,
                                    max_bucket_size=bad)
    got = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4)
    raw = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4,
                                  max_bucket_size=10**9)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, raw.collect()))


def test_lsh_bucket_cap_counts_null_member_rows(spark):
    """Buckets are sized by row count: a NULL-doc_id copy of a 3-doc
    cluster makes every band bucket 4 rows, over a cap of 3, even though
    collect_list leaves the NULL out of the member list."""
    import warnings

    text = "the same boilerplate paragraph repeated across many pages " * 3
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, text), (None, text)],
        "doc_id long, text string")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = dedup.minhash_lsh_pairs(df, n_hashes=16, bands=4,
                                      max_bucket_size=3)
        pairs = out.collect()
        got = out._bucket_cap_report.wait()
    assert got == {"rows_dropped": 16, "largest_bucket": 4}  # 4 rows x 4 bands
    assert pairs == []


def test_dup_components_chain_and_singletons(spark):
    """Min-label propagation over a chain (worst-case diameter) and
    disconnected singletons: every node labelled by its cluster minimum."""
    import pandas as pd

    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(10))}))
    # chain 9-8-...-3 (diameter 6), pair (1,2), singleton 0
    pairs = spark.createDataFrame(pd.DataFrame({
        "doc_id_a": [3, 4, 5, 6, 7, 8, 1],
        "doc_id_b": [4, 5, 6, 7, 8, 9, 2],
    }))
    got = {r["doc_id"]: r["component"]
           for r in dedup.dup_components(nodes, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 3, 5: 3,
                   6: 3, 7: 3, 8: 3, 9: 3}


def test_dup_components_from_lsh_pairs(spark):
    """End-to-end: planted exact copies resolve to one component."""
    import pandas as pd

    text = "an identical paragraph for every clone in this cluster " * 3
    rows = [{"doc_id": i, "text": text} for i in (5, 17, 23)]
    rows += [{"doc_id": 99, "text": "a lone unrelated document " * 5}]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4)
    got = {r["doc_id"]: r["component"]
           for r in dedup.dup_components(docs, pairs).collect()}
    assert got == {5: 5, 17: 5, 23: 5, 99: 99}


def test_lsh_bucket_cap_plan_construction_is_lazy(spark, docs):
    """Building the capped plan must launch NO Spark job (the round-2 cap
    ran an eager bucket count at plan time; the observation-backed report
    restored laziness)."""
    sc = spark.sparkContext
    sc.setJobGroup("cap_lazy_probe", "plan construction only")
    try:
        out = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4,
                                      max_bucket_size=1000)
        assert list(sc.statusTracker().getJobIdsForGroup("cap_lazy_probe")) == []
        assert out._bucket_cap_report is not None
    finally:
        sc.setJobGroup("", "")


def test_dup_components_string_ids_chain(spark):
    """String ids, cluster diameter > 1: the fixpoint check must NOT rely
    on a numeric cast (decimal(38,0) of a string is NULL; NULL == NULL
    stopped the loop after one round — components would be wrong for any
    chain).  Labels propagate lexicographic minima to the whole chain."""
    import pandas as pd

    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": list("abcdez")})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id_a": ["b", "c", "d"], "doc_id_b": ["c", "d", "e"]}
        )
    )
    got = {
        r["doc_id"]: r["component"]
        for r in dedup.dup_components(nodes, pairs).collect()
    }
    assert got == {"a": "a", "b": "b", "c": "b", "d": "b", "e": "b", "z": "z"}


def test_dup_components_shortcut_log_rounds_on_chain(spark):
    """Pointer-jumping: a 64-node chain (worst-case diameter 63) must
    converge in O(log n) rounds with the shortcut and give the identical
    labels as plain propagation."""
    import pandas as pd

    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(64))}))
    pairs = spark.createDataFrame(pd.DataFrame({
        "doc_id_a": list(range(63)), "doc_id_b": list(range(1, 64)),
    }))
    fast_stats, slow_stats = {}, {}
    fast = {
        r["doc_id"]: r["component"]
        for r in dedup.dup_components(
            nodes, pairs, _stats=fast_stats).collect()
    }
    slow = {
        r["doc_id"]: r["component"]
        for r in dedup.dup_components(
            nodes, pairs, shortcut=False, max_iters=100,
            _stats=slow_stats).collect()
    }
    assert fast == slow == {i: 0 for i in range(64)}
    assert fast_stats["rounds"] <= 10          # ~log2(63) + slack
    assert slow_stats["rounds"] >= 32          # plain walks the chain
    assert fast_stats["rounds"] < slow_stats["rounds"]


def test_lsh_bucket_cap_no_drop_report_is_clean(spark, docs):
    """Regression: with NO oversized bucket (the common case) the
    observation must resolve to zero drops — the observe node used to sit
    on the filtered oversized set, which AQE's empty-relation propagation
    deleted, crashing the watcher thread with a JVM assertion."""
    out = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4,
                                  max_bucket_size=1000)
    out.collect()
    got = out._bucket_cap_report.wait()
    assert got == {"rows_dropped": 0, "largest_bucket": None}


def test_phash_near_dup_recovers_planted_image_dups(spark):
    """Image near-dup over REAL synth phashes (codecs.phash64): byte-exact
    copies (hamming 0) and near-copies planted by flipping k phash bits
    must be recovered exactly at max_hamming >= k; a 16-bit-flip copy must
    NOT appear at max_hamming=3."""
    from geedim_spark import synth

    imgs = synth.images_df(spark, 60).select("image_id", "phash")
    exact = imgs.filter("image_id < 'IMG/00000020'").select(
        F.concat(F.lit("DUP0/"), "image_id").alias("image_id"), "phash"
    )
    near = imgs.filter("image_id < 'IMG/00000010'").select(
        F.concat(F.lit("DUP3/"), "image_id").alias("image_id"),
        F.expr("phash ^ CAST(7 AS BIGINT)").alias("phash"),  # 3 bits
    )
    far = imgs.filter("image_id = 'IMG/00000000'").select(
        F.concat(F.lit("FAR/"), "image_id").alias("image_id"),
        F.expr("phash ^ CAST(65535 AS BIGINT)").alias("phash"),  # 16 bits
    )
    allrows = imgs.unionByName(exact).unionByName(near).unionByName(far)
    out = dedup.phash_near_dup_pairs(allrows, max_hamming=3).collect()
    pairs = {(r["image_id_a"], r["image_id_b"]): r["hamming"] for r in out}
    # the synth world has repeated pixel content (v cycles mod 200 etc.),
    # so identical-phash NATURAL pairs exist; assert the planted relations
    for i in range(20):
        key = (f"DUP0/IMG/{i:08d}", f"IMG/{i:08d}")
        assert pairs[tuple(sorted(key))] == 0, key
    for i in range(10):
        key = tuple(sorted((f"DUP3/IMG/{i:08d}", f"IMG/{i:08d}")))
        assert pairs[key] == 3, key
    assert not any(a.startswith("FAR/") or b.startswith("FAR/")
                   for (a, b) in pairs)
    # every reported pair is genuinely within the threshold
    assert all(h <= 3 for h in pairs.values())


def test_phash_near_dup_validation_and_cap(spark):
    """Pigeonhole precondition is enforced; the oversized-bucket cap walks
    the same lazy path as the text LSH (an all-identical phash cluster is
    one bucket per band)."""
    from geedim_spark import synth

    imgs = synth.images_df(spark, 12).select("image_id", "phash")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.phash_near_dup_pairs(imgs, max_hamming=8, n_bands=8)
    with pytest.raises(ValueError, match="divide 64"):
        dedup.phash_near_dup_pairs(imgs, n_bands=7)

    # 30-copy identical-phash cluster with cap 10 -> all its rows dropped,
    # pairs empty, loud report carries the drop count
    clones = spark.range(30).select(
        F.format_string("C/%04d", F.col("id")).alias("image_id"),
        F.lit(123456789).cast("long").alias("phash"),
    )
    out = dedup.phash_near_dup_pairs(
        clones, max_hamming=1, max_bucket_size=10
    )
    assert out.count() == 0
    rep = out._bucket_cap_report.wait()
    assert rep["rows_dropped"] == 30 * 8 and rep["largest_bucket"] == 30


def test_benchmark_overlap_and_decontaminate(spark):
    """Decontamination: planted contamination is found with exact overlap
    counts, docs under the overlap threshold survive the anti-join on the
    hits, and the broadcast-join plan never shuffles document text."""
    import pandas as pd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "the quick brown fox jumps",      # contains bench 100 verbatim
            "completely unrelated words xyz",
            "quick brown",                    # partial overlap
            None,                             # NULL -> '' shingle
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "bench_id": [100], "text": ["quick brown fox"]}))
    hits = {(r["doc_id"], r["bench_id"]): r["n_hits"]
            for r in dedup.benchmark_overlap(docs, bench, n=5).collect()}
    # bench has len('quick brown fox')-4 = 11 distinct 5-grams; doc 0
    # contains the full phrase -> all 11; doc 2 contains 'quick brown'
    # -> its 7 grams; doc 1/3 share none
    assert hits[(0, 100)] == 11
    assert hits[(2, 100)] == 7
    assert (1, 100) not in hits and (3, 100) not in hits

    hot = dedup.benchmark_overlap(docs, bench, n=5).where("n_hits >= 8")
    clean = docs.join(hot.select("doc_id").distinct(), "doc_id", "left_anti")
    assert {r["doc_id"] for r in clean.collect()} == {1, 2, 3}
    # scale guard: the bench side is broadcast (no shuffle of doc text)
    plan = dedup.benchmark_overlap(docs, bench, n=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_line_dedup_c4_rule(spark):
    """Corpus-wide duplicated lines (count >= min_count) are dropped from
    every document; survivors keep their original order; within-document
    repeats count toward the corpus total (the C4 span rule)."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "alpha\nfooter\nbeta",       # footer dup'd across docs
            "gamma\nfooter",
            "delta\ndelta\nepsilon",     # in-doc repeat: delta x2 -> dropped
            None,                        # NULL -> one empty line, unique here
        ],
    }))
    out = {r["doc_id"]: r for r in dedup.line_dedup(docs, min_count=2).collect()}
    assert (out[0]["n_lines"], out[0]["n_kept"]) == (3, 2)
    assert out[0]["clean_text"] == "alpha\nbeta"
    assert out[1]["clean_text"] == "gamma"
    # delta occurs twice corpus-wide (both inside doc 2) -> both dropped
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (3, 1)
    assert out[2]["clean_text"] == "epsilon"
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (1, 1)
    assert out[3]["clean_text"] == ""


def test_line_dedup_all_boilerplate_doc_survives_empty(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["spam", "spam", "spam\nspam"],
    }))
    out = {r["doc_id"]: r for r in dedup.line_dedup(docs, min_count=2).collect()}
    for d in (0, 1, 2):
        assert out[d]["n_kept"] == 0 and out[d]["clean_text"] == ""
    assert out[2]["n_lines"] == 2
    with pytest.raises(ValueError, match="min_count"):
        dedup.line_dedup(docs, min_count=1)


def test_line_dedup_no_global_window_two_phase_agg(spark):
    """Scale guard: the corpus line count is a hash aggregate (2-phase),
    never a global window — no single-partition funnel at 100 TB."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1], "text": ["a\nb", "b\nc"]}))
    plan = dedup.line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in plan or "PartitionBy" in plan
    assert "HashAggregate" in plan


def test_apply_exact_survivor_membership(spark):
    """Survivors = min doc_id per exact text group with copy counts;
    NULL text forms ONE sentinel group; plan is a 2-phase hash agg."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [5, 3, 9, 1, 7, 2],
        "text": ["dup", "dup", "dup", "solo", None, None],
    }))
    out = {r["doc_id"]: r["n_copies"]
           for r in dedup.apply_exact(docs).collect()}
    assert out == {3: 3, 1: 1, 2: 2}
    plan = dedup.apply_exact(docs)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "WindowExec" not in plan


def test_apply_components_keeps_labels_and_singletons(spark):
    """Near-dedup apply: component-labelling members survive, other
    members drop, docs absent from the component map survive."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5], "text": list("abcde")}))
    comps = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 4], "component": [1, 1, 4]}))
    kept = sorted(r["doc_id"] for r in
                  dedup.apply_components(docs, comps).collect())
    assert kept == [1, 3, 4, 5]


def test_cdc_dup_spans_alignment_robust(spark):
    """Content-defined chunking: a span duplicated at DIFFERENT offsets
    in two docs produces identical interior chunks (the property
    fixed-stride windows lack); unrelated text contributes zero dups."""
    span = ("the quick brown fox jumps over the lazy dog again and "
            "again for breakfast today")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["PREFIX-A " + span + " SUFFIX-A",
                 "completely different preamble here then " + span + " tail",
                 "unrelated content with no shared spans whatsoever zq"],
    }))
    out = {r["doc_id"]: r for r in
           dedup.cdc_dup_spans(docs, w=8, modulus=16).collect()}
    assert out[0]["n_dup_chunks"] > 0
    assert out[0]["n_dup_chunks"] == out[1]["n_dup_chunks"]
    assert out[0]["dup_chars"] == out[1]["dup_chars"] > 0
    assert out[2]["n_dup_chunks"] == 0 and out[2]["dup_chars"] == 0
    # chunks cover the text exactly: concat(chunks) == text per doc
    ch = dedup.cdc_chunks(docs, w=8, modulus=16).orderBy(
        "doc_id", "chunk_idx").collect()
    rebuilt = {}
    for r in ch:
        rebuilt[r["doc_id"]] = rebuilt.get(r["doc_id"], "") + r["chunk"]
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rebuilt == texts


def test_cdc_short_and_empty_text(spark):
    """Texts shorter than the window form one chunk (no descending-
    sequence index error under ANSI); empty/NULL text keeps a zero row."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["short", "", None, "x" * 7],  # all < w=8
    }))
    out = {r["doc_id"]: r for r in dedup.cdc_dup_spans(docs).collect()}
    assert (out[0]["n_chunks"], out[0]["n_chars"]) == (1, 5)
    assert (out[1]["n_chunks"], out[1]["n_chars"]) == (0, 0)
    assert (out[2]["n_chunks"], out[2]["n_chars"]) == (0, 0)
    assert out[3]["n_chunks"] == 1
    with pytest.raises(ValueError, match="w must"):
        dedup.cdc_chunks(docs, w=1)
    with pytest.raises(ValueError, match="modulus"):
        dedup.cdc_chunks(docs, modulus=1)
    with pytest.raises(ValueError, match="min_count"):
        dedup.cdc_dup_spans(docs, min_count=1)
    # scale shape: 2-phase aggs + equi-join, no window
    plan = dedup.cdc_dup_spans(docs)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "HashAggregate" in plan and "WindowExec" not in plan


def test_fuzzy_decontam_planted(spark):
    """A lightly-edited copy (one word changed) is caught as a NEAR-dup
    candidate and flagged contaminated; an unrelated doc is not flagged
    against it; the benchmark side broadcasts and corpus text never
    shuffles (no Exchange above the corpus scan besides the candidate
    semi-join's broadcast)."""
    import pandas as pd
    import pytest as _pytest

    from geedim_spark.operators import dedup as dd

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [base, "completely different content about spark plans"],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "bench_id": [100],
        "text": [base.replace("tonight", "today")],
    }))
    out = dd.fuzzy_decontam(docs, bench, threshold_permille=500).collect()
    flagged = {(r["doc_id"], r["bench_id"]): r["contaminated"] for r in out}
    assert flagged.get((0, 100)) is True
    assert (1, 100) not in flagged or flagged[(1, 100)] is False
    with _pytest.raises(ValueError, match="threshold_permille"):
        dd.fuzzy_decontam(docs, bench, threshold_permille=0)
    plan = (dd.fuzzy_decontam(docs, bench)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_md5_u32_batch_matches_hashlib():
    """The vectorised single-block MD5 behind the shingle kernels must be
    bit-identical to int(hashlib.md5(m).hexdigest()[:8], 16) for every
    message length it accepts (0..55 bytes, incl. multi-byte UTF-8)."""
    import hashlib
    import random

    import numpy as np

    random.seed(7)
    msgs = [b"", b"a", b"hello", "héllo¡\U0001d11e".encode(),
            b"x" * 55]
    msgs += [bytes(random.randrange(256) for _ in range(random.randrange(56)))
             for _ in range(2000)]
    ref = np.array([int(hashlib.md5(m).hexdigest()[:8], 16) for m in msgs],
                   dtype=np.int64)
    got = dedup._md5_u32_batch(msgs)
    assert (ref == got).all()
    with pytest.raises(ValueError, match="single-block"):
        dedup._md5_u32_batch([b"y" * 56])


def test_lsh_pairs_bucket_list_plan_has_no_join(spark, docs):
    """r6 restructure guard: candidate pairs come from per-bucket member
    lists (one shuffle by the bucket key + the pair aggregate), so the
    capped pairs plan must contain NO join of any kind — the r5 shape's
    size-aggregate pass, broadcast anti-join and bucket self-join are
    gone — while the observed cap-metrics node stays in the lineage."""
    for out in (
        dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=4,
                                max_bucket_size=1000),
        dedup.phash_near_dup_pairs(
            spark.read.parquet(f"{SF}/embeddings.parquet")
            .select(F.col("vec_id").alias("image_id"),
                    F.col("vec_id").alias("phash")),
            max_hamming=1, max_bucket_size=1000),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan          # no self-join / anti-join
        assert "CollectMetrics" in plan    # cap report still observed
        assert "InMemoryRelation" not in plan  # no persist needed


def test_fuzzy_decontam_kernel_jaccard_matches_catalyst(spark):
    """The r6 set-cardinality kernel must reproduce the Catalyst
    array_intersect/array_union sizes over shingles() exactly, including
    multi-byte UTF-8, short (<n) and empty texts."""
    import pandas as pd

    texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog today",
        "héllo wörld ünïcode ¡stuff! \U0001d11e music",
        "hi", "", "aaaaaaaaaa",
    ]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    bench = spark.createDataFrame(pd.DataFrame(
        {"bench_id": [100 + i for i in range(len(texts))], "text": texts}))
    got = {(r["doc_id"], r["bench_id"]): (r["n_intersect"], r["n_union"])
           for r in dedup.fuzzy_decontam(docs, bench, bands=16,
                                         n_hashes=16).collect()}
    # Catalyst reference: exact sizes for EVERY (doc, bench) combination
    sh_a = docs.select("doc_id", dedup.shingles(F.col("text")).alias("a"))
    sh_b = bench.select("bench_id", dedup.shingles(F.col("text")).alias("b"))
    want = {(r["doc_id"], r["bench_id"]):
            (r["ni"], r["nu"]) for r in sh_a.crossJoin(sh_b).select(
                "doc_id", "bench_id",
                F.size(F.array_intersect("a", "b")).cast("long").alias("ni"),
                F.size(F.array_union("a", "b")).cast("long").alias("nu"),
            ).collect()}
    assert got  # candidates exist (identical texts co-bucket)
    for k, v in got.items():
        assert want[k] == v, k
