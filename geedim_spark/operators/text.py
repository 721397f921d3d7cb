"""Text-analysis operators over the documents table — pure Catalyst
column expressions (JVM-side regex/string ops; the one exception is the
dsir_weights bucket-count Arrow kernel, bit-identical to its Catalyst
form and tested so).

- token counting (whitespace + a BPE-ish word/punct regex)
- quality scoring (length / punctuation / stopword / alpha ratios)
- language-ID (stopword-hit heuristic over common-word lists)
- document fingerprinting (rolling polynomial hash)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geedim_spark.kernels import map_batches

# tiny common-word lists for the n-gram/stopword language heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "no", "es", "por", "una", "con"],
}


def whitespace_tokens(text: Column) -> Column:
    """Non-empty whitespace-delimited tokens."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def bpe_ish_tokens(text: Column) -> Column:
    """Word / number / single-punct tokens (BPE-style pre-tokenisation):
    maximal alpha runs, digit runs, individual punctuation marks."""
    return F.regexp_extract_all(
        text, F.lit("([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9" + r"\s" + "])"), 1
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_alpha, n_digit, n_punct)."""
    text = F.col("text")
    return documents.select(
        "doc_id",
        F.size(whitespace_tokens(text)).cast("long").alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(text)).cast("long").alias("n_bpe_tokens"),
        F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("long").alias("n_alpha"),
        F.length(F.regexp_replace(text, "[^0-9]", "")).cast("long").alias("n_digit"),
        F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")).cast("long").alias("n_punct"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]."""
    text = F.col("text")
    n = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    n_tokens = F.size(whitespace_tokens(text)).cast("double")
    mean_tok_len = F.when(n_tokens > 0, n_alpha / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n > 0, n_alpha / n).otherwise(F.lit(0.0))
    stop_hits = _stopword_hits(text, _LANG_MARKERS["en"])
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.least(n / F.lit(1000.0), F.lit(1.0)) * 0.2
        + F.least(alpha_ratio / F.lit(0.8), F.lit(1.0)) * 0.4
        + F.least(stop_ratio / F.lit(0.3), F.lit(1.0)) * 0.4
    )
    return documents.select(
        "doc_id",
        alpha_ratio.alias("alpha_ratio"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def _stopword_hits(text: Column, words: list[str]) -> Column:
    toks = F.transform(whitespace_tokens(F.lower(text)),
                       lambda t: F.regexp_replace(t, "[^a-z]", ""))
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("double")


def lang_id(documents: DataFrame) -> DataFrame:
    """(doc_id, lang_pred): argmax of stopword hits across marker lists;
    deterministic tie-break by language code.

    The tokenisation (split + per-token regexp normalise — the expensive
    part) is hoisted into ONE intermediate column instead of being
    re-evaluated inside every language's hit count: Catalyst does not CSE
    the identical subtree across array elements, so the inline form paid
    n_languages tokenisation passes per row."""
    toks = F.transform(whitespace_tokens(F.lower(F.col("text"))),
                       lambda t: F.regexp_replace(t, "[^a-z]", ""))
    stage = documents.select("doc_id", toks.alias("_toks"))

    def hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(F.col("_toks"), lambda t: F.array_contains(arr, t))
        ).cast("double")

    scored = F.array(*[
        F.struct(hits(words).alias("hits"), F.lit(code).alias("code"))
        for code, words in sorted(_LANG_MARKERS.items())
    ])
    best = F.array_max(F.filter(scored, lambda s: s["hits"] > 0))
    return stage.select(
        "doc_id",
        F.coalesce(best["code"], F.lit("und")).alias("lang_pred"),
    )


def fingerprint(documents: DataFrame, window: int = 64) -> DataFrame:
    """(doc_id, fp, n_len): rolling polynomial hash of the first ``window``
    characters — cheap near-identity fingerprint (ints, deterministic) plus
    the document length."""
    text = F.col("text")
    head = F.substring(text, 1, int(window))
    codes = F.transform(
        F.split(head, ""), lambda ch: F.when(ch != "", F.ascii(ch)).otherwise(F.lit(0))
    )
    # modulus 2^31-1 keeps acc*1000003 < 2^51 — no BIGINT overflow in any
    # engine (DuckDB errors on overflow, Spark wraps silently)
    fp = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(1000003) + c.cast("long")) % F.lit((1 << 31) - 1),
    )
    return documents.select("doc_id", fp.alias("fp"), F.length(text).cast("long").alias("n_len"))


def top_ngrams(
    documents: DataFrame, n: int = 3, k: int = 50, distinct_per_doc: bool = True
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent character n-grams with a
    deterministic total order (count desc, ngram asc) — the
    vocabulary-building / corpus-statistics primitive of a training-data
    pipeline, pure Catalyst end to end.

    ``distinct_per_doc=True`` counts DOCUMENT frequency (one vote per doc
    per n-gram — the dedup shingle machinery); ``False`` counts raw term
    frequency via the non-distinct shingle positions.  Scale shape:
    explode -> 2-phase hash aggregate on the n-gram (map-side combine
    absorbs the per-doc repetition) -> rank window; only (ngram, count)
    rows shuffle, never documents.
    """
    from geedim_spark.operators.dedup import shingles

    text = F.coalesce(F.col("text"), F.lit(""))
    grams = (
        shingles(F.col("text"), n) if distinct_per_doc
        else F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))
            ),
            lambda i: F.substring(text, i, n),
        )
    )
    counts = (
        documents.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    # Distributed top-k: orderBy().limit(k) compiles to TakeOrderedAndProject
    # (per-partition top-k + driver merge of k*P rows) — at 100 TB the distinct
    # n-gram vocabulary is huge (1e9+ rows for char 5-grams) and the old
    # row_number() over a global unpartitioned window funnelled every
    # (ngram, count) row through ONE task.  Ranks are stamped on the tiny
    # k-row result where a single partition is by construction bounded by k.
    topk = counts.orderBy(F.col("n_docs").desc(), F.col("ngram")).limit(k)
    w = Window.orderBy(F.col("n_docs").desc(), F.col("ngram"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def pack_sequences(
    documents: DataFrame,
    max_tokens: int,
    n_shards: int = 256,
    salt: str = "",
) -> DataFrame:
    """Deterministic sequence packing — assign each document to a fixed-
    capacity training sequence (pack) of ``max_tokens`` whitespace
    tokens: the document goes into the pack where its START lands under
    a contiguous fill (``pack = floor(cum_tokens_before / max_tokens)``),
    the streaming-packer rule re-expressed as a window cumsum.

    Determinism + scale: documents are first sharded by the portable
    content-hash bucket (operators/sampling.hash_bucket — a pure
    function of doc_id and ``salt``, independent of layout/engine/
    cluster size), and the cumulative sum runs per shard ordered by
    (doc_id) — so the window is PARTITIONED (no single-task global
    sort; each of the ``n_shards`` groups packs independently and in
    parallel) and the assignment is bit-reproducible across runs and
    engines.  At 100 TB, raise ``n_shards`` so a shard's doc count fits
    one task; pack ids are globally unique as (shard, pack).

    Output: doc_id, shard, pack, n_tokens, cum_before (tokens preceding
    this doc inside its shard's fill order).
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive (got {max_tokens})")
    from geedim_spark.operators.sampling import hash_bucket

    text = F.coalesce(F.col("text"), F.lit(""))
    n_tokens = F.size(
        F.filter(F.split(text, r"\s+"), lambda t: t != "")
    ).cast("long")
    shard = (hash_bucket(F.col("doc_id"), salt) % F.lit(n_shards)) \
        .alias("shard")
    w = Window.partitionBy("shard").orderBy("doc_id")
    toks = documents.select("doc_id", shard, n_tokens.alias("n_tokens"))
    return toks.select(
        "doc_id", "shard", "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .cast("long").alias("cum_before"),
    ).withColumn(
        "pack", F.floor(F.col("cum_before") / F.lit(max_tokens)).cast("long")
    )


def pack_stats(
    documents: DataFrame,
    max_tokens: int,
    n_shards: int = 256,
    salt: str = "",
) -> DataFrame:
    """Per-pack aggregates of :func:`pack_sequences` (n_docs, token sum)
    — the packing-efficiency view a data pipeline monitors (mean fill =
    sum_tokens / max_tokens per pack)."""
    packed = pack_sequences(documents, max_tokens, n_shards, salt)
    return packed.groupBy("shard", "pack").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


# redaction patterns: the common Java-regex / RE2 subset so Spark and the
# DuckDB oracle count identically (no lookarounds, no \b ambiguity)
_REDACT_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    "url": "https?://[^ ]+",
    "id_number": "[0-9]{10}[0-9]*",
}


def redact(documents: DataFrame) -> DataFrame:
    """PII/URL scrubbing — the redaction stage of a training-data
    pipeline: emails, URLs and long digit runs replaced by typed tokens
    (``<EMAIL>``/``<URL>``/``<ID>``), with per-category match counts.

    Pure Catalyst (JVM regexp_replace / regexp_extract_all — no UDF, no
    shuffle); patterns are restricted to the Java-regex/RE2 common
    subset so an external engine reproduces the counts bit-for-bit.
    Output: doc_id, n_email, n_url, n_id, redacted text + its length.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    counts = {
        k: F.size(F.regexp_extract_all(text, F.lit(p), 0)).cast("long")
        for k, p in _REDACT_PATTERNS.items()
    }
    red = text
    for k, p in _REDACT_PATTERNS.items():
        token = {"email": "<EMAIL>", "url": "<URL>", "id_number": "<ID>"}[k]
        red = F.regexp_replace(red, p, token)
    return documents.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["url"].alias("n_url"),
        counts["id_number"].alias("n_id"),
        red.alias("redacted"),
        F.length(red).cast("long").alias("n_redacted_chars"),
    )


def repetition_stats(documents: DataFrame, n: int = 10) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    duplicated-n-gram quality rule): over the POSITIONAL character
    n-grams of each document, how many positions sit inside an n-gram
    that occurs more than once, and how hard the worst n-gram repeats.

    Scale shape: explode positional grams -> 2-phase hash aggregate on
    (doc_id, gram) -> per-doc aggregate.  Shuffle payload is (doc_id,
    gram, count), never documents; partial aggregation absorbs the
    within-partition repetition that is exactly the signal measured.

    Output (ints, hash-stable): doc_id, n_grams (total positions),
    n_dup_positions (positions in duplicated grams), max_gram_count.
    A high ``n_dup_positions / n_grams`` marks boilerplate/spam.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
        lambda i: F.substring(text, i, n),
    )
    per_gram = (
        documents.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
        .cast("long").alias("n_dup_positions"),
        F.max("cnt").cast("long").alias("max_gram_count"),
    )


# the Gopher/MassiveText document-level quality rules (Rae et al. 2021,
# "Scaling Language Models", appendix A1.1): hard bounds on word count,
# mean word length, symbol-to-word ratio, bullet/ellipsis line shares,
# alphabetic-word share, and a minimum distinct-stop-word requirement.
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_words: int = 2,
) -> DataFrame:
    """Per-document Gopher rule verdicts: one boolean per rule plus the
    conjunction ``keep``.  Every signal is a pure Catalyst expression
    (token/line arrays + higher-order functions) — no UDF, no shuffle; the
    filter costs one codegen'd projection pass however large the corpus.

    Signals (whitespace tokens; tokens are NOT punctuation-stripped —
    a token is "alphabetic" if it contains any letter, matching the
    published rule's intent without a second tokenisation):

    - ``n_words`` in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - (count('#') + count('...')) / n_words < max_symbol_ratio
    - share of lines starting with a bullet (-, *, •) < max_bullet_ratio
    - share of lines ending with an ellipsis < max_ellipsis_ratio
    - share of words containing a letter > min_alpha_word_ratio
    - >= min_stop_words DISTINCT stop words from the 8-word Gopher list
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = whitespace_tokens(text)
    n_words = F.size(toks).cast("long")
    nw_d = n_words.cast("double")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("double")
    mean_len = F.when(n_words > 0, sum_len / nw_d).otherwise(F.lit(0.0))
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ).cast("double")
    alpha_ratio = F.when(n_words > 0, alpha_words / nw_d).otherwise(F.lit(0.0))
    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
              ).cast("double")
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    ).cast("double")
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis) / nw_d
    ).otherwise(F.lit(0.0))
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))).cast(
            "double") / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(
            lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")
        )).cast("double") / n_lines
    )
    stop_distinct = F.size(F.array_intersect(
        F.array_distinct(F.transform(toks, F.lower)),
        F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
    )).cast("long")

    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    ok_symbol = symbol_ratio < max_symbol_ratio
    ok_bullet = bullet_ratio < max_bullet_ratio
    ok_ellipsis = ellipsis_ratio < max_ellipsis_ratio
    ok_alpha = alpha_ratio > min_alpha_word_ratio
    ok_stop = stop_distinct >= min_stop_words
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        stop_distinct.alias("n_stop_words"),
        ok_words.alias("ok_words"),
        ok_mean.alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_bullet.alias("ok_bullet_lines"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stop_words"),
        (ok_words & ok_mean & ok_symbol & ok_bullet & ok_ellipsis
         & ok_alpha & ok_stop).alias("keep"),
    )


def length_quantiles(
    documents: DataFrame, permille: tuple[int, ...] = (250, 500, 750, 900, 990)
) -> DataFrame:
    """EXACT corpus quantiles of per-document token counts — the
    length-distribution report a curation pipeline cuts thresholds from.
    Quantiles are requested in integer permille so every threshold is
    pure integer arithmetic (ceil(p*N/1000) = (p*N + 999) div 1000):
    no float multiply whose last ulp could differ across engines, unlike
    percentile_approx (which is also only approximate).

    Definition: value(p) = smallest token count v whose cumulative doc
    count reaches ceil(p/1000 * n_docs) (percentile_disc, type-1).

    Scale shape (100 TB): the corpus reduces to a (n_tokens, count)
    HISTOGRAM via a 2-phase hash agg first — the only window runs over
    that histogram, whose cardinality is bounded by the max document
    length (~1e6 distinct values worst case), NOT by corpus size; the
    quantile probe is a broadcast join of the tiny permille frame.  No
    global sort of corpus rows anywhere.

    Output: (permille, n_docs, value) — one row per requested permille.
    """
    for p in permille:
        if not 1 <= int(p) <= 1000:
            raise ValueError(f"permille values must be in [1, 1000], got {p}")
    lens = documents.select(
        F.size(whitespace_tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_tokens")
    )
    hist = lens.groupBy("n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    # bounded window: rows here are DISTINCT LENGTH VALUES, not documents
    w = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    total = hist.agg(F.sum("cnt").cast("long").alias("n_docs"))
    ps = F.explode(
        F.array(*[F.lit(int(p)) for p in sorted(set(int(p) for p in permille))])
    ).alias("permille")
    probe = total.select(ps, "n_docs").withColumn(
        "thr", ((F.col("permille") * F.col("n_docs") + 999) / 1000)
        .cast("long"))
    return (
        cum.join(F.broadcast(probe), F.col("cum") >= F.col("thr"))
        .groupBy("permille", "n_docs")
        .agg(F.min("n_tokens").alias("value"))
        .select("permille", "n_docs", "value")
    )


def dsir_weights(
    documents: DataFrame,
    target: Column,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "dsir-v1",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how target-like its hashed n-gram bag is.  Features are lowercased
    whitespace unigrams + bigrams hashed into ``n_buckets`` buckets (the
    portable md5 bucket used repo-wide, so the DuckDB oracle replays the
    exact model); two add-``alpha``-smoothed unigram bucket models are
    fit — ``target`` rows vs the rest — and

        log_weight(doc) = sum_b k_b * (log p_target[b] - log p_raw[b])

    High-weight raw documents are the ones importance resampling keeps.
    Rows where ``target`` is NULL are scored but train neither model.

    Scale shape (100 TB): the model is <= n_buckets rows — broadcast on
    the scoring join, so corpus text shuffles only as (doc_id, bucket)
    count pairs bounded by n_buckets per doc; per-doc bucket counts are
    computed MAP-SIDE by a vectorised Arrow kernel (r6: tokenisation
    stays in Catalyst for exact JVM regex/lower semantics; the kernel
    only hashes batch-unique features with the shared single-block MD5
    and counts buckets per doc — the r5 feature explode plus its wide
    (doc, bucket) exchange and 2-phase aggregate are gone; A/B at sf0.1:
    ~2.0 s -> ~1.0 s, bit-identical output); both model fits are 2-phase
    hash aggregates over the (already tiny) per-doc frame.  The per-doc
    bucket frame is persisted once (MEMORY_AND_DISK) because model fit
    and scoring both consume it.  No window, no global sort.

    No reference analog — training-data curation capability, same tier
    as the dedup/quality block.

    Output: (doc_id, is_target, n_feats, log_weight).
    """
    from pyspark import StorageLevel

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    toks = F.transform(
        whitespace_tokens(F.coalesce(F.col("text"), F.lit(""))), F.lower
    )
    # stage the token array as a real column: CollapseProject will not
    # inline a multiply-referenced alias, so the element_at calls below
    # read the materialised array instead of re-tokenising per element
    base = documents.select(
        "doc_id", target.cast("boolean").alias("is_target"), toks.alias("t")
    )
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - F.lit(1)),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("t"), i),
                F.element_at(F.col("t"), i + F.lit(1)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = base.withColumn("bi", bigrams).select(
        "doc_id", "is_target", F.concat(F.col("t"), F.col("bi")).alias("_feats"),
    )
    # Map-side bucket counting (guide §4.2): one Arrow kernel pass emits
    # (doc_id, is_target, bucket, k) with bucket bit-identical to the
    # Catalyst form  conv(substring(md5(concat(feat, salt)), 1, 8), 16,
    # 10) % n_buckets  — pinned by test_dsir_kernel_buckets_match_catalyst.
    # Zero-feature documents emit one NULL-bucket row (the explode_outer
    # convention the rollup below relies on).  Batch-unique features hash
    # once (Zipf head dedup); >55-byte salted features (multi-block MD5)
    # fall back to hashlib.
    import numpy as np
    import pandas as pd

    from geedim_spark.operators.dedup import _md5_u32_batch

    salt_b = salt.encode("utf-8")
    nb = int(n_buckets)
    id_type = documents.schema["doc_id"].dataType.simpleString()
    kschema = f"doc_id {id_type}, is_target boolean, bucket long, k long"

    def _bucket_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        uniq: dict = {}
        idx_parts = []
        for feats in pdf["_feats"]:
            idx = np.empty(len(feats), dtype=np.int64)
            for j, s in enumerate(feats):
                u = uniq.get(s)
                if u is None:
                    u = len(uniq)
                    uniq[s] = u
                idx[j] = u
            idx_parts.append(idx)
        if uniq:
            msgs = [s.encode("utf-8") + salt_b for s in uniq]
            lens_m = np.fromiter(map(len, msgs), np.int64, len(msgs))
            buck = np.empty(len(msgs), np.int64)
            short = lens_m <= 55
            if short.all():
                buck = _md5_u32_batch(msgs) % nb
            else:
                buck[short] = _md5_u32_batch(
                    [m for m, ok in zip(msgs, short) if ok]) % nb
                buck[~short] = np.array(
                    [int(hashlib.md5(m).hexdigest()[:8], 16) % nb
                     for m, ok in zip(msgs, short) if not ok], dtype=np.int64)
        out_doc: list = []
        out_tgt: list = []
        out_bucket: list = []
        out_k: list = []
        doc_vals = pdf["doc_id"].values
        tgt_vals = pdf["is_target"].values
        for i, idx in enumerate(idx_parts):
            if len(idx) == 0:
                out_doc.append(doc_vals[i])
                out_tgt.append(tgt_vals[i])
                out_bucket.append(None)
                out_k.append(1)
                continue
            u, c = np.unique(buck[idx], return_counts=True)
            out_doc.extend([doc_vals[i]] * len(u))
            out_tgt.extend([tgt_vals[i]] * len(u))
            out_bucket.extend(u.tolist())
            out_k.extend(c.tolist())
        return pd.DataFrame({"doc_id": out_doc, "is_target": out_tgt,
                             "bucket": out_bucket, "k": out_k})

    per_doc = (
        map_batches(staged, kschema, _bucket_batch)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    model = per_doc.filter(F.col("bucket").isNotNull()).groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("k")).otherwise(F.lit(0)))
        .cast("long").alias("t_cnt"),
        F.sum(F.when(~F.col("is_target"), F.col("k")).otherwise(F.lit(0)))
        .cast("long").alias("r_cnt"),
    # lazy checkpoint: the totals broadcast materialises the (<= n_buckets
    # row) model once; the ratio projection reuses the cached rows instead
    # of re-aggregating per_doc a second time
    ).localCheckpoint(eager=False)
    totals = model.agg(
        F.sum("t_cnt").cast("double").alias("t_total"),
        F.sum("r_cnt").cast("double").alias("r_total"),
    )
    a, ab = float(alpha), float(alpha) * n_buckets
    ratio = model.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (F.log((F.col("t_cnt") + a) / (F.col("t_total") + ab))
         - F.log((F.col("r_cnt") + a) / (F.col("r_total") + ab))).alias("lr"),
    )
    per = (
        per_doc.join(F.broadcast(ratio), "bucket", "left")
        .groupBy("doc_id", "is_target")
        .agg(
            F.sum(F.when(F.col("bucket").isNotNull(), F.col("k"))
                  .otherwise(F.lit(0))).cast("long").alias("n_feats"),
            F.sum(F.when(F.col("bucket").isNotNull(),
                         F.col("k") * F.col("lr")).otherwise(F.lit(0.0)))
            .alias("_lw"),
        )
    )
    return per.select(
        "doc_id", "is_target",
        F.col("n_feats"),
        F.round(F.coalesce("_lw", F.lit(0.0)), 6).alias("log_weight"),
    )


def token_rarity(documents: DataFrame) -> DataFrame:
    """CCNet-style corpus-language-model quality signal (Wenzek et al.
    2020 use KenLM perplexity; this is the engine-native analogue): score
    every document by its tokens' CORPUS frequencies — the per-token
    unigram negative log-likelihood ``nll`` and the exact integer
    frequency mass ``sum_freq``.  Low-likelihood (rare-token) documents
    are gibberish/OCR-noise candidates; the extreme high end is
    boilerplate.

    Scale shape (100 TB): explode is linear; within-doc counts then
    corpus counts are both 2-phase hash aggregates (map-side partials
    absorb the Zipf head before any shuffle); the frequency join is an
    equi-join on the token key — stop-word keys are hot, which is
    exactly the shape AQE skew-join splitting handles (one row per token
    on the build side).  The corpus total is a 1-row broadcast.  No UDF,
    no window, no global sort.

    Returns (doc_id, n_tokens, sum_freq, avg_freq, nll); empty/NULL-text
    documents keep a row with zeros (left join back to the corpus).
    """
    toks = F.transform(whitespace_tokens(F.coalesce(F.col("text"),
                                                    F.lit(""))), F.lower)
    # explode_OUTER keeps zero-token documents as one NULL-token row, so
    # the per-doc rollup already covers the whole corpus and the final
    # documents-side left join (two exchanges + a corpus re-scan, purely
    # to re-attach empty docs) is gone — same restructure as dsir_weights.
    # (A map-side Counter kernel — the tfidf_top_terms r6 shape — was
    # A/B'd here and REVERTED: 0.66-0.78 s explode+codegen-agg vs
    # 0.89-1.03 s kernel at sf0.1; without tfidf's persist + second
    # consumer the JVM explode wins.)
    ex = documents.select("doc_id", F.explode_outer(toks).alias("token"))
    dt = ex.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("k"))
    counts = dt.filter(F.col("token").isNotNull()).groupBy("token").agg(
        F.sum("k").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    j = dt.join(counts, "token", "left").crossJoin(F.broadcast(total))
    real = F.col("token").isNotNull()
    per = j.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when(real, F.col("k"))), F.lit(0))
        .cast("long").alias("n_tokens"),
        F.coalesce(F.sum(F.when(real, F.col("k") * F.col("cnt"))), F.lit(0))
        .cast("long").alias("sum_freq"),
        (-F.sum(F.when(real,
                       F.col("k") * F.log(F.col("cnt") / F.col("n_total"))))
         / F.sum(F.when(real, F.col("k")))).alias("_nll"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "sum_freq",
        F.round(
            F.when(F.col("n_tokens") > 0,
                   F.col("sum_freq").cast("double") / F.col("n_tokens"))
            .otherwise(F.lit(0.0)), 6).alias("avg_freq"),
        F.round(F.coalesce("_nll", F.lit(0.0)), 6).alias("nll"),
    )


def domain_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus health aggregates — the RefinedWeb/C4 style
    per-domain curation table (Penedo et al. 2023 filter web data per
    registered domain): document counts, size, exact-duplicate ratio and
    language spread for every ``source``.

    Exact-dup counting shuffles md5(text) (32 bytes/row), never the text
    itself; everything else is a 2-phase hash aggregate on the ``source``
    key.  At 100 TB the distinct-count pre-aggregates per (source, hash)
    map-side before the per-source merge — no text bytes cross the wire,
    no window, no UDF.

    Returns one row per source:
    (source, n_docs, n_chars, n_unique_texts, dup_ratio, n_langs,
    mean_chars).
    """
    h = F.md5(F.coalesce(F.col("text"), F.lit("\x00NULL")))
    per = documents.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "lang", h.alias("th"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("th").cast("long").alias("n_unique_texts"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("th").cast("double") / F.count(F.lit(1)),
            6).alias("dup_ratio"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
    )


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k keyword extraction by tf-idf (Salton & Buckley
    1988) — the classic relevance signal for corpus exploration and
    topic-balanced sampling.

    Terms are lowercase alpha runs.  ``tf`` is the within-doc count,
    ``df`` the number of documents containing the term, and the emitted
    score ``tf * ln(n_docs / df)`` is informational (rounded to 6 dp);
    the RANKING uses only exact integer keys (tf DESC, df ASC, term ASC)
    so the selected rows are reproducible cross-engine regardless of
    float ulps.

    Scale shape (100 TB): per-doc tf is counted MAP-SIDE by an Arrow
    kernel (r6: tokenisation stays in Catalyst for exact JVM lower/regex
    semantics; the kernel is a plain Counter over the staged term array,
    exact integers, so the r5 term explode and its wide (doc, term)
    exchange + 2-phase aggregate are gone); corpus df is a 2-phase hash
    agg over the (already distinct-per-doc) tf frame; the df join is an
    equi-join on the term key (AQE skew-split absorbs stop-word heat);
    the corpus size is a 1-row broadcast; the ONLY window is PARTITIONED
    BY doc_id — bounded by a document's distinct vocabulary, never
    corpus-global.

    Returns (doc_id, rank, term, tf, df, score), ``k`` rows per
    non-empty document.
    """
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), "[^a-z]+"),
        lambda x: x != "")
    staged = documents.select("doc_id", terms.alias("_terms"))
    id_type = documents.schema["doc_id"].dataType.simpleString()
    kschema = f"doc_id {id_type}, term string, tf long"

    def _tf_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import Counter

        out_doc: list = []
        out_term: list = []
        out_tf: list = []
        for doc, t in zip(pdf["doc_id"], pdf["_terms"]):
            if len(t) == 0:
                continue  # empty docs emit nothing (explode semantics)
            c = Counter(t)
            out_doc.extend([doc] * len(c))
            out_term.extend(c.keys())
            out_tf.extend(c.values())
        return pd.DataFrame({"doc_id": out_doc, "term": out_term,
                             "tf": out_tf})

    # tf is one row per (doc, term); df derives from it directly — one
    # corpus pass feeds both aggregates, and the frame both sides consume
    # is persisted once (far smaller than the corpus).
    tf = map_batches(staged, kschema, _tf_batch).persist()
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = documents.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    j = tf.join(df_, "term").crossJoin(F.broadcast(n_docs))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    ranked = j.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)
    return ranked.select(
        "doc_id", F.col("rank").cast("int").alias("rank"), "term",
        "tf", "df",
        F.round(F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6).alias("score"),
    )


def quality_prune(
    documents: DataFrame, permille: int = 500, by: str = "lang"
) -> DataFrame:
    """Keep the top ``permille``/1000 of documents per group (default:
    per language) by an EXACT integer quality score — the percentile
    pruning step of corpus curation (C4 keeps the 'cleanest' fraction
    per language rather than a fixed absolute threshold).

    The score is integer alpha-permille (``n_alpha * 1000 DIV n_chars``,
    0 for empty docs) so ranking can never be flipped by float ulps.
    The cut is chosen so ``count(score > cut) <= k <= count(score >= cut)``
    with ``k = (permille * n + 999) DIV 1000`` per group; TIES AT THE
    CUT ARE KEPT (the result is a pure score filter, deterministic and
    engine-independent).

    Scale shape (100 TB): a per-group window over ROWS would funnel each
    language through one task — instead this is the bounded-domain
    histogram pattern: 2-phase hash agg to (group, score) counts (at
    most 1001 rows per group), a window over that BOUNDED domain to find
    the cut, then a broadcast join back and a filter.  The corpus itself
    never sorts and never windows.

    Returns the kept documents: (doc_id, group col, score, cut,
    n_group_docs).
    """
    if not 1 <= permille <= 1000:
        raise ValueError(f"permille must be in [1, 1000], got {permille}")
    text_col = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(text_col).cast("long")
    n_alpha = F.length(
        F.regexp_replace(text_col, "[^a-zA-Z]", "")).cast("long")
    scored = documents.select(
        "doc_id", F.col(by).alias("_grp"),
        F.when(n > 0, (n_alpha * 1000).cast("long"))
        .otherwise(F.lit(0)).alias("_num"),
        F.greatest(n, F.lit(1)).alias("_den"),
    ).select(
        "doc_id", "_grp",
        F.expr("CAST(_num DIV _den AS BIGINT)").alias("score"),
    )
    hist = scored.groupBy("_grp", "score").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    w = (Window.partitionBy("_grp").orderBy(F.desc("score"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("cum", F.sum("c").over(w))
    totals = hist.groupBy("_grp").agg(F.sum("c").cast("long").alias("n_grp"))
    k = totals.withColumn(
        "k", F.expr("CAST((%d * n_grp + 999) DIV 1000 AS BIGINT)"
                    % permille))
    cuts = (
        cum.join(k, "_grp")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("_grp", "n_grp")
        .agg(F.max("score").cast("long").alias("cut"))
    )
    return (
        scored.join(F.broadcast(cuts), "_grp")
        .filter(F.col("score") >= F.col("cut"))
        .select("doc_id", F.col("_grp").alias(by), "score", "cut",
                F.col("n_grp").alias("n_group_docs"))
    )


def chunk_documents(
    documents: DataFrame, size: int = 512, overlap: int = 64
) -> DataFrame:
    """Fixed-size overlapping character chunks — the RAG / context-window
    ingestion primitive (LangChain's CharacterTextSplitter semantics):
    chunk ``i`` covers ``[i*stride, i*stride + size)`` with
    ``stride = size - overlap``; the last chunk may be short; an empty
    document yields no chunks.

    Pure Catalyst: ``sequence`` over chunk starts + ``substring`` slices,
    exploded — no UDF, no shuffle, linear in corpus size.  The start
    sequence is guarded with ``when(n > 0)`` because Spark's
    ``sequence(a, b)`` DESCENDS when b < a (an empty doc would emit a
    bogus chunk).

    Returns (doc_id, chunk_idx, chunk_text, chunk_start, chunk_chars).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(
            f"overlap must be in [0, size), got {overlap} for size {size}")
    stride = size - overlap
    text_col = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(text_col)
    # number of chunks: ceil(max(n - overlap, 0) / stride), >= 1 iff n > 0
    n_chunks = F.when(
        n > 0, F.ceil((F.greatest(n - overlap, F.lit(0)))
                      / F.lit(stride)).cast("int")
    ).otherwise(F.lit(0))
    starts = F.when(
        n_chunks > 0,
        F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    ex = documents.select(
        "doc_id", text_col.alias("_t"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    chunk = F.substring(F.col("_t"), F.col("chunk_start") + 1, size)
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_chars"),
    )
