"""Text analysis operators for the training-data pipeline (beyond-reference
scope per BASELINE.json): language ID, quality scoring, token counting,
document fingerprinting. All built-in-function expressions (JVM-side,
whole-stage-codegen) — zero Python on the data path, all oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_int32, normalize_text, word_ngrams, word_ngrams_from, words

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"],
    "de": ["der", "die", "und", "das", "ist", "ein", "mit", "von", "zu", "den"],
}


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate (chars/4,
    the common ~4-chars-per-token heuristic) + distinct-token ratio."""
    w = words(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).alias("ws_tokens"),
        F.ceil(F.length("text") / 4).cast("long").alias("bpe_est_tokens"),
        F.size(F.array_distinct(w)).alias("distinct_tokens"),
        F.round(F.size(F.array_distinct(w)) / F.nullif(F.size(w), F.lit(0)), 6).alias("ttr"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio, mean word
    length, alpha ratio, and a composite [0,1] score.

    The composite mirrors common pretraining-data filters (C4/Gopher-style
    length + symbol + stopword gates) as a smooth score."""
    w = words(F.col("text"))
    n_words = F.size(w)
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    sw = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(w), sw))
    mean_wlen = (F.length(normalize_text(F.col("text"))) - (n_words - 1)) / F.nullif(n_words, F.lit(0))
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")) / F.nullif(n_chars, F.lit(0))
    score = (
        F.least(n_words / F.lit(20.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct / F.nullif(n_chars.cast("double"), F.lit(0.0)), F.lit(1.0))) * 0.2
        + F.least(stop_hits / F.lit(3.0), F.lit(1.0)) * 0.3
        + F.coalesce(alpha, F.lit(0.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(punct / F.nullif(n_chars.cast("double"), F.lit(0.0)), 6).alias("punct_ratio"),
        F.round(stop_hits / F.nullif(n_words.cast("double"), F.lit(0.0)), 6).alias("stopword_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Language ID via stopword-hit voting: count distinct-token hits against
    each language's stopword list, argmax with deterministic tiebreak
    (hit count desc, then language code asc), 'und' when zero hits."""
    w = F.array_distinct(words(F.col("text")))
    hit_cols = [
        F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in sws]))).alias(f"hits_{lang}")
        for lang, sws in sorted(LANG_STOPWORDS.items())
    ]
    d = docs.select("doc_id", *hit_cols)
    # argmax via greatest + chained when (deterministic: first lang asc wins ties)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in sorted(LANG_STOPWORDS)])
    pred = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)).otherwise(pred)
    return d.select(
        "doc_id",
        *[F.col(f"hits_{lang}") for lang in sorted(LANG_STOPWORDS)],
        pred.alias("pred_lang"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 of normalized text (exact-dup key) plus
    a 32-bit content hash (the rolling-hash analog, engine-agnostic)."""
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        md5_int32(norm).alias("fingerprint32"),
    )


# shared scrub patterns (kept engine-portable: RE2/ICU-safe, no lookaround)
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_RE = "https?://[^\\s]+"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII/URL scrubbing (standard pretraining-data hygiene): count and
    remove emails and URLs per document. Pure regexp expressions —
    whole-stage codegen, no Python.

    Columns: doc_id, n_emails, n_urls, scrubbed text, scrubbed_len.
    The counts are what a curation dashboard aggregates; the scrubbed text
    is the column a training-data sink would write."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(URL_RE), F.lit(0))).alias("n_urls"),
        scrubbed.alias("scrubbed"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


def repetition_scores(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition filters: the fraction of the document made of
    its single most-frequent word n-gram, plus the duplicate-token
    fraction. High values flag boilerplate/spam for the quality gate.

    One explode + two nested aggregates per doc — shuffle keyed by doc_id,
    map-side combinable. Columns: doc_id, n_tokens, top_bigram_count,
    top_bigram_frac, dup_token_frac (all 6-dp rounded doubles)."""
    w = docs.select("doc_id", words(F.col("text")).alias("ws"))
    grams = F.when(
        F.size("ws") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice("ws", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        w.select("doc_id", F.size("ws").alias("n_tokens"), F.explode_outer(grams).alias("g"))
        .groupBy("doc_id", "n_tokens", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # max count over grams; NULL g (short doc) contributes 0
    top = per_gram.groupBy("doc_id", "n_tokens").agg(
        F.max(F.when(F.col("g").isNotNull(), F.col("c")).otherwise(0)).alias("top_bigram_count")
    )
    toks = (
        w.select("doc_id", F.explode_outer("ws").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("t").isNotNull() & (F.col("c") > 1), F.col("c")).otherwise(0)).alias("dup_tokens"),
        )
    )
    return (
        top.join(toks, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("top_bigram_count").cast("long").alias("top_bigram_count"),
            F.round(
                F.col("top_bigram_count") * n / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            F.round(F.col("dup_tokens") / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)), 6).alias(
                "dup_token_frac"
            ),
        )
    )


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16) -> DataFrame:
    """Token-budget document chunking with overlap — the pretraining prep
    step that turns curated docs into training windows.

    stride = chunk_tokens - overlap; chunk i covers words
    [i*stride+1, i*stride+chunk_tokens] (1-based); the last chunk starts
    while any un-covered token remains: n_chunks = 1 if len <= chunk_tokens
    else ceil((len - chunk_tokens)/stride) + 1. One explode per doc — row
    count scales with corpus tokens / stride, shuffle-free (map-side only).

    Columns: doc_id, chunk_idx, n_chunk_tokens, chunk_text.
    """
    stride = chunk_tokens - overlap
    w = docs.select("doc_id", words(F.col("text")).alias("ws"))
    n_chunks = F.when(F.size("ws") <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((F.size("ws") - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("int") + F.lit(1)
    )
    return (
        w.select("doc_id", "ws", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            F.slice("ws", F.col("chunk_idx") * stride + 1, chunk_tokens).alias("cw"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("cw").alias("n_chunk_tokens"),
            F.array_join("cw", " ").alias("chunk_text"),
        )
    )


def pack_sequences(docs: DataFrame, budget: int = 256, n_buckets: int = 32) -> DataFrame:
    """Sequence packing for LLM pretraining batches: concat-and-chop docs
    into fixed token budgets (beyond-reference scope per BASELINE.json —
    the step after curation/chunking that forms the actual training rows).

    Docs shard deterministically into ``n_buckets`` by md5(doc_id); inside
    a bucket they are ordered by (md5, doc_id) — a seeded shuffle — and each
    doc joins the sequence ``floor(exclusive_prefix_tokens / budget)``.
    That is the streaming concatenate-then-chop packing (a sequence may
    overrun the budget by at most one doc's tail, exactly like GPT-style
    packing that splits a doc across windows).

    100-TB posture: the only window runs PER BUCKET — packing is
    embarrassingly parallel across hash shards and never needs a global
    sort; raising ``n_buckets`` to O(cluster cores) keeps every shard's
    running sum memory-resident. Output: one row per (bucket, seq_id) with
    n_docs, seq_tokens, fill_ratio — fully DuckDB-oracle-checkable.
    """
    from pyspark.sql import Window

    h = md5_int32(F.concat(F.lit("pack_"), F.col("doc_id").cast("string")))
    t = docs.select(
        "doc_id",
        F.size(words(F.col("text"))).alias("tokens"),
        h.alias("h"),
        F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn(
        "seq_id", F.floor(F.coalesce(F.sum("tokens").over(w), F.lit(0)) / F.lit(budget))
    )
    return packed.groupBy("bucket", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").cast("long").alias("seq_tokens"),
        F.round(F.sum("tokens") / F.lit(float(budget)), 6).alias("fill_ratio"),
    )


def decontaminate_splits(docs: DataFrame, n: int = 8) -> DataFrame:
    """Train/eval decontamination audit: flag val/test docs that share any
    verbatim word n-gram with the train split — the standard pretraining
    eval-leakage check (GPT-3's 13-gram / Llama's n-gram overlap audits;
    n=8 suits this corpus's short docs). Beyond-reference scope per
    BASELINE.json.

    Split is the same md5 80/10/10 as corpus_split_stats. Grams hash to
    60-bit ints before the membership join, so the shuffle carries longs,
    not strings; the train-gram set is distinct-deduped so the semi-join
    is gram-cardinality-bounded, never corpus-size × eval-size. At true
    100-TB gram counts, widen the hash to 128-bit — 60 bits keeps the
    DuckDB oracle exact (BIGINT-safe) at probe scale.

    Output: one row per eval doc — n_grams, n_overlap, overlap_rate,
    contaminated (any-hit flag).
    """
    gh = lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")  # noqa: E731
    lab = docs.select(
        "doc_id",
        "text",
        F.when(F.pmod(md5_int32(F.col("doc_id").cast("string")), F.lit(100)) < 80, "train")
        .when(F.pmod(md5_int32(F.col("doc_id").cast("string")), F.lit(100)) < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    train_g = (
        lab.filter(F.col("split") == "train")
        .select(F.explode(word_ngrams(F.col("text"), n)).alias("g"))
        .select(gh(F.col("g")).alias("g"))
        .distinct()
    )
    eval_docs = lab.filter(F.col("split") != "train")
    eg = (
        eval_docs.select("doc_id", "split", F.explode(word_ngrams(F.col("text"), n)).alias("g"))
        .select("doc_id", "split", gh(F.col("g")).alias("g"))
        .distinct()
    )
    tot = eg.groupBy("doc_id", "split").agg(F.count("*").alias("n_grams"))
    hit = eg.join(train_g, "g", "left_semi").groupBy("doc_id", "split").agg(
        F.count("*").alias("n_overlap")
    )
    return (
        eval_docs.select("doc_id", "split")
        .join(tot, ["doc_id", "split"], "left")
        .join(hit, ["doc_id", "split"], "left")
        .na.fill({"n_grams": 0, "n_overlap": 0})
        .select(
            "doc_id",
            "split",
            "n_grams",
            "n_overlap",
            F.round(
                F.coalesce(F.col("n_overlap") / F.nullif(F.col("n_grams"), F.lit(0)), F.lit(0.0)), 6
            ).alias("overlap_rate"),
            (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
        )
    )


def duplicate_span_coverage(docs: DataFrame, n: int = 8) -> DataFrame:
    """Duplicate-span coverage: per document, the fraction of tokens lying
    inside a word n-gram that occurs more than once in the corpus — the
    distributed approximation of exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", which uses
    a suffix array; at n-gram granularity the same signal is a pure
    aggregate + semi-join). Beyond-reference scope per BASELINE.json.

    Dataflow: posexplode n-grams with their start position -> count gram
    instances corpus-wide (map-side-combinable agg on the md5 gram key) ->
    semi-join instances against grams with count >= 2 -> explode each
    duplicated instance into its n covered token positions -> distinct
    (doc, position) -> per-doc coverage. No pair generation anywhere, so
    a pathological common gram costs per-instance marking, never a
    |docs-sharing-gram|² blowup — the shuffles are keyed by gram hash and
    doc_id and both combine map-side. 100-TB posture: row volume is
    tokens × 1 (grams) + dup_tokens × n (positions), linear in corpus size.

    Columns: doc_id, n_tokens, dup_tokens, dup_coverage (6dp).
    """
    w = docs.select("doc_id", words(F.col("text")).alias("ws"))
    # gram key = xxhash64 (r12, §2.3 narrower types): the hash is purely
    # internal (count >= 2 grouping + semi-join equality — the output only
    # carries coverage counts), so the 8-byte codegen-native key replaces
    # the 32-char md5 string: ~4× fewer shuffle bytes on the gram exchange
    # and no per-gram MD5+hex round (the dominant per-task cost of the
    # gram stage). Birthday bound: among n distinct grams the chance that
    # any two share a 64-bit key is p ≈ n²/2⁶⁵ — about 2.7e-4 at 10⁸
    # distinct grams and 2.7e-2 at 10⁹. A collision merges two grams into
    # one key, so two grams seen once each count as a duplicate: their
    # instances are marked and dup_tokens / dup_coverage rise for the docs
    # holding them. It can only over-report duplication, never hide a real
    # duplicate, and it never fails the job. The planted-dup invariant
    # test and the oracle parity runs pin behavior at test scale.
    grams = w.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.posexplode_outer(word_ngrams_from(F.col("ws"), n)),
    ).select("doc_id", "n_tokens", F.col("pos"), F.xxhash64(F.col("col")).alias("gh"))
    dup = (
        grams.filter(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    # r12 (§2.3 shuffle fewer bytes): the covered-token count is the size
    # of the union of intervals [pos, pos+n-1]; instead of exploding each
    # duplicated instance into its n positions and paying a distinct
    # exchange on (doc, tpos) (n× the instance rows), collect the per-doc
    # start positions (unique per doc by posexplode construction) and sum
    # min(gap, n) over the sorted array — |∪[p_i, p_i+n-1]| =
    # Σ min(p_{i+1}−p_i, n) + n. One exchange keyed doc_id, start
    # positions only; per-doc array is bounded by the document's length.
    covered = (
        grams.filter(F.col("gh").isNotNull())
        .join(dup, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
        .select(
            "doc_id",
            F.expr(
                f"aggregate(zip_with(slice(ps, 1, size(ps) - 1),"
                f" slice(ps, 2, size(ps) - 1),"
                f" (a, b) -> least(b - a, {n})), 0L, (acc, x) -> acc + x)"
                f" + {n}"
            ).alias("dup_tokens"),
        )
    )
    # base deliberately re-tokenizes from `w` rather than riding the grams
    # branch (r12 A/B): deriving it from the gram rows saved ~0.3 s of the
    # full-materialization drain but forced the count()-drain to evaluate
    # the whole gram explode it otherwise prunes (steady 0.40 → 0.99 s) —
    # a bad trade both ways.
    base = w.select("doc_id", F.size("ws").cast("long").alias("n_tokens"))
    return (
        base.join(covered, "doc_id", "left")
        .na.fill({"dup_tokens": 0})
        .select(
            "doc_id",
            "n_tokens",
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(F.col("dup_tokens") / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)), 6).alias(
                "dup_coverage"
            ),
        )
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram language-model scoring: fit token frequencies on the corpus
    itself, then score each document by its mean negative log-probability
    — the perplexity-style quality filter (CCNet/Wikipedia-LM filtering
    uses KenLM; the unigram LM is its first-order, fully-SQL-expressible
    form). Low avg_neg_logprob ≈ stereotypical text, high ≈ rare-token
    soup. Beyond-reference scope per BASELINE.json.

    Cross-engine determinism: per-distinct-token ``-ln p`` is rounded to
    9 dp and cast to DECIMAL(18,10) (lossless for a 9-dp value), so the
    per-doc sum is integer-weighted decimal arithmetic — exact and
    summation-order independent; only the final mean is a double, rounded
    to 6 dp. 100-TB posture: two map-side-combinable aggregates (corpus
    token counts = vocabulary-sized, per-doc token counts) joined on the
    token — the vocabulary side is broadcastable after aggregation.

    Columns: doc_id, n_tokens, avg_neg_logprob (6dp).
    """
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    neglogp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("n_total") / F.col("cnt")), 9).cast("decimal(18,10)").alias("nlp"),
    )
    per_doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    # no forced broadcast hint: the vocabulary side is usually dim-sized
    # (AQE will pick a broadcast join), but a web-scale corpus can push the
    # vocabulary past broadcast limits — let AQE decide from observed size
    return (
        per_doc_tok.join(neglogp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * F.col("nlp")).cast("double") / F.sum("c").cast("double"), 6
            ).alias("avg_neg_logprob"),
        )
    )


def bloom_gram_prefilter(
    docs: DataFrame, n: int = 8, m_bits: int = 65536, k_hashes: int = 3
) -> DataFrame:
    """Bloom-filter decontamination prefilter: build a Bloom filter over the
    train split's word n-grams, probe every val/test gram through it, and
    report per eval doc the Bloom hit count next to the exact semi-join
    overlap — realized false positives included. Beyond-reference scope:
    at 100 TB the broadcastable ``m_bits``-bit filter replaces the
    gram-shuffle semi-join as the first decontamination pass (probe-side
    work is a broadcast hash join against m_bits/63 longs), and only
    Bloom-positive docs proceed to the exact check.

    Deterministic by construction (md5 bit positions, 63 usable bits per
    word so the sign bit never participates — two's-complement-free
    cross-engine), so the filter bitmap AND every probe result carry a
    FULL DuckDB oracle — the repo's sketch-family discipline (KMV, CMS).

    Split is the same md5 80/10/10 as corpus_split_stats/decontamination.
    Columns: doc_id, split, n_grams, exact_overlap, bloom_overlap,
    false_positives (= bloom − exact ≥ 0 by the no-false-negative
    guarantee).
    """
    lab = docs.select(
        "doc_id",
        "text",
        F.when(F.pmod(md5_int32(F.col("doc_id").cast("string")), F.lit(100)) < 80, "train")
        .when(F.pmod(md5_int32(F.col("doc_id").cast("string")), F.lit(100)) < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    train_g = (
        lab.filter(F.col("split") == "train")
        .select(F.explode(word_ngrams(F.col("text"), n)).alias("g"))
        .distinct()
    )

    def positions(gcol):
        return [
            F.pmod(md5_int32(F.concat(F.lit(f"bloom{j}_"), gcol)), F.lit(m_bits))
            for j in range(k_hashes)
        ]

    bits_in = None
    for pos in positions(F.col("g")):
        p = train_g.select(F.floor(pos / 63).cast("long").alias("word"), pos.alias("p"))
        bits_in = p if bits_in is None else bits_in.unionByName(p)
    bitmap = bits_in.groupBy("word").agg(
        # shiftleft needs the SQL form for a column shift amount
        F.bit_or(F.expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))")).alias("bits")
    )

    eval_g = (
        lab.filter(F.col("split") != "train")
        .select("doc_id", "split", F.explode(word_ngrams(F.col("text"), n)).alias("g"))
        .distinct()
    )
    # probe: every hash position of the gram must be set
    probe = eval_g
    for j, pos in enumerate(positions(F.col("g"))):
        probe = probe.withColumn(f"w{j}", F.floor(pos / 63).cast("long")).withColumn(
            f"b{j}", pos % 63
        )
    for j in range(k_hashes):
        probe = probe.join(
            F.broadcast(bitmap.withColumnsRenamed({"word": f"w{j}", "bits": f"bits{j}"})),
            f"w{j}",
            "left",
        )
    hit = F.lit(True)
    for j in range(k_hashes):
        # shiftright with a column shift amount needs the SQL form
        hit = hit & (
            F.coalesce(
                F.expr(f"pmod(shiftright(bits{j}, cast(b{j} as int)), 2)"), F.lit(0).cast("long")
            )
            == 1
        )
    bloom = probe.groupBy("doc_id", "split").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(hit.cast("long")).alias("bloom_overlap"),
    )
    exact = (
        eval_g.join(train_g, "g", "left_semi")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        lab.filter(F.col("split") != "train")
        .select("doc_id", "split")
        .join(bloom, ["doc_id", "split"], "left")
        .join(exact, ["doc_id", "split"], "left")
        .na.fill({"n_grams": 0, "bloom_overlap": 0, "exact_overlap": 0})
        .select(
            "doc_id",
            "split",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("exact_overlap").cast("long").alias("exact_overlap"),
            F.col("bloom_overlap").cast("long").alias("bloom_overlap"),
            (F.col("bloom_overlap") - F.col("exact_overlap")).cast("long").alias("false_positives"),
        )
    )
