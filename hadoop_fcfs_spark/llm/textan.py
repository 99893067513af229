"""Text-analysis operators: language-ID, quality scoring, token
counting, fingerprinting. All pure Column expressions — codegen'd,
scale-free (per-row map work, no shuffle).

These generalize the reference's word-stats family
(examples/WordMean.java:196 etc.) into the per-document scoring ops a
training-data pipeline filters on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# Small deterministic stopword inventories (n-gram heuristic seed sets).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "que", "y", "es", "un", "en"),
}


def _tokens(text_col: str) -> Column:
    # One parsed expr string instead of the Column-API filter/lambda
    # build (~16 ms of py4j lambda plumbing per call site, 13 sites in
    # this module) — identical expression tree. The interpolated name is
    # backtick-quoted (embedded backticks doubled per SQL ident rules),
    # so a column named with spaces/dots/reserved words parses the same
    # as the old Column-API form did (r16 ADVICE #1).
    ident = text_col.replace("`", "``")
    return F.expr(rf"filter(split(`{ident}`, '\\s+'), w -> w != '')")


def _stop_ratio(toks: Column, words: tuple[str, ...]) -> Column:
    # Stopword array as one parsed literal (was len(words) py4j lit()
    # calls per use; lang_id builds one per language). Quotes in a
    # future stopword are escaped so the literal can't break the parse
    # (r16 ADVICE #1; today's dictionaries are quote-free ASCII).
    sw = F.expr(
        "array(" + ",".join("'" + w.replace("'", "\\'") + "'" for w in words) + ")"
    )
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.greatest(F.size(toks), F.lit(1))


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-ratio language heuristic. Per doc: one score per
    language; prediction = argmax (ties → lexicographically first
    language; 'und' = undetermined when all scores are 0).
    Output: (id, score_<lang>…, lang_pred)."""
    toks = _tokens(text_col)
    scores = {lang: F.round(_stop_ratio(toks, words), 4) for lang, words in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed alphabetical so the FIRST alphabetical language wins ties
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)
    cols = [F.col(id_col)] + [scores[lang].alias(f"score_{lang}") for lang in sorted(STOPWORDS)]
    return df.select(*cols, pred.alias("lang_pred"))


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality: token count, distinct ratio, mean
    token length, alphabetic-token ratio, English stopword ratio, and
    a bounded composite score. The filterable per-doc signal set of a
    pretraining pipeline; every term is deterministic and engine-
    portable (ANSI-SQL-expressible for the oracle)."""
    toks = _tokens(text_col)
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    mean_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    ) / F.greatest(n, F.lit(1))
    alpha_ratio = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))) / F.greatest(n, F.lit(1))
    stop_ratio = _stop_ratio(toks, STOPWORDS["en"])
    uniq_ratio = n_uniq / F.greatest(n, F.lit(1))
    score = (
        0.3 * F.least(n.cast("double") / 100.0, F.lit(1.0))
        + 0.3 * stop_ratio
        + 0.2 * uniq_ratio
        + 0.2 * alpha_ratio
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq_tokens"),
        F.round(mean_len, 4).alias("mean_tok_len"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(uniq_ratio, 4).alias("uniq_ratio"),
        # floor-to-micro-units instead of round: the composite's exact
        # rational value lands on decimal half-tails for round doc
        # lengths (e.g. n=64 → granularity 1/128000), where round()
        # implementations disagree across engines (Java shortest-repr
        # HALF_UP vs C scale-and-round). floor(x*1e6) is a pure IEEE
        # function of the (bit-identical) double — engine-portable.
        F.floor(score * 1_000_000).cast("long").alias("quality_e6"),
    )


# BPE-ish pre-tokenization: letter runs, digit runs, single other chars.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count + char count —
    the cost/budget accounting columns of a data pipeline."""
    toks = _tokens(text_col)
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def tokenizer_fertility(
    df: DataFrame, lang_col: str, text_col: str
) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per word
    (BPE-ish pre-tokens / whitespace words) and chars per subword
    token — the per-language cost columns a multilingual pretraining
    mix report needs next to token_budget_mix (a language whose
    fertility runs high pays proportionally more context budget per
    word; chars/token is the compression-rate sanity check on the
    tokenizer itself). Same BPE_PATTERN pre-tokenization as
    :func:`token_counts`, so the two gates share a definition.

    Scale shape: one scan, per-row array sizes (no explode — counts
    only), map-side-combined groupBy on the bounded language grain.
    Exact BIGINT sums; the e6 ratios lift the numerator to
    DECIMAL(38,0) before the integer division (1e6·n_tokens overflows
    BIGINT past ~9.2e12 tokens — a 100 TB corpus is past it), NULL
    when a language has no words/tokens (not 0 — no evidence).

    Output per language, ordered: (lang, n_docs, n_chars, n_words,
    n_tokens, fertility_e6, chars_per_token_e6)."""
    toks = _tokens(text_col)
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    per = df.select(
        F.col(lang_col).alias("lang"),
        F.size(toks).cast("long").alias("__w"),
        F.size(bpe).cast("long").alias("__t"),
        F.length(text_col).cast("long").alias("__c"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__c").cast("long").alias("n_chars"),
            F.sum("__w").cast("long").alias("n_words"),
            F.sum("__t").cast("long").alias("n_tokens"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "n_chars",
            "n_words",
            "n_tokens",
            "CASE WHEN n_words > 0 THEN"
            " CAST(1000000 AS DECIMAL(38,0)) * n_tokens div n_words"
            " END AS fertility_e6",
            "CASE WHEN n_tokens > 0 THEN"
            " CAST(1000000 AS DECIMAL(38,0)) * n_chars div n_tokens"
            " END AS chars_per_token_e6",
        )
        .orderBy("lang")
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, prefix_words: int = 8) -> DataFrame:
    """Document fingerprints: full-text digest (md5 of normalized
    text), prefix digest (first `prefix_words` words — cheap clustering
    key for prefix-dup detection), and a 64-bit rolling content hash
    (xxhash64 of the sorted distinct token set — order-insensitive)."""
    norm = F.lower(F.trim(F.col(text_col)))
    toks = _tokens(text_col)
    prefix = F.concat_ws(" ", F.slice(toks, 1, prefix_words))
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("md5_full"),
        F.md5(prefix).alias("md5_prefix"),
        F.xxhash64(bag).alias("bag_hash"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every word k-gram, then in each sliding window of
    `w` consecutive k-gram hashes keep the minimum — any shared
    contiguous run of ≥ k + w - 1 words between two documents is
    GUARANTEED to share a fingerprint (the local-minimum property),
    while only ~2/(w+1) of positions are kept.

    Pure expressions end-to-end (split → transform → sliding
    array_min → distinct → explode); per-row map work, no shuffle —
    the copy-detection substrate that pairs with the LSH dedup tier.
    Output: (doc, fp) distinct pairs.

    `hash_fn`: 'xxhash64' (default — fastest, JVM-side) or 'md5_60'
    (first 60 bits of md5 as a bigint — slower but byte-identical in
    any engine with md5, which is what makes the winnowing gate
    value-oracle-able in ANSI SQL; the winnowing GUARANTEE is hash-
    agnostic)."""
    if hash_fn == "xxhash64":
        def gram_hash(c):
            return F.xxhash64(c)
    elif hash_fn == "md5_60":
        def gram_hash(c):
            return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    base = df.select(F.col(id_col).alias("doc"), toks.alias("__t"))
    n = F.size(F.col("__t"))
    kgrams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: gram_hash(F.array_join(F.slice(F.col("__t"), i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    hashed = base.select("doc", kgrams.alias("__kh"))
    m = F.size(F.col("__kh"))
    fps = F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(1), m - w + 1),
            lambda i: F.array_min(F.slice(F.col("__kh"), i, w)),
        ),
    ).otherwise(F.col("__kh"))  # short docs: every k-gram hash is a fingerprint
    return (
        hashed.select("doc", F.explode(F.array_distinct(fps)).alias("fp"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# normalization / scrubbing / repetition / contamination
# ---------------------------------------------------------------------------

# PII patterns: RE2- and Java-regex-compatible (no \b, no lookaround) so
# Spark and ANSI-SQL oracles match byte-for-byte.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{3,6}",
}


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical text normalization: lowercase, punctuation → space,
    whitespace collapsed, trimmed. Pure per-row expressions (no
    shuffle); the standard pre-dedup canonical form.
    Output: (id, norm_text, norm_chars)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", " "),
            "\\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_chars"),
    )


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction: emails, IPv4 addresses, international-format phone
    numbers replaced with typed placeholders; per-kind match counts kept
    for audit. Counts are measured on the ORIGINAL text per pattern
    (independent), redaction is applied email → ip → phone. Pure
    expressions, no shuffle. Output: (id, clean_text, n_email, n_ip,
    n_phone)."""
    text = F.col(text_col)
    clean = text
    for kind in ("email", "ip", "phone"):
        clean = F.regexp_replace(clean, PII_PATTERNS[kind], f"<{kind.upper()}>")
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[k]), F.lit(0)))
        .cast("long")
        .alias(f"n_{k}")
        for k in ("email", "ip", "phone")
    ]
    return df.select(F.col(id_col), clean.alias("clean_text"), *counts)


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals: the fraction of the document
    covered by its single most frequent word bigram, and the duplicate
    fraction of its word trigrams. High values flag boilerplate /
    degenerate repetition for pipeline filtering.

    Trigram dup ratio is pure per-row expressions; the top-bigram count
    is an explode + two-level aggregation (shuffles (id, bigram) — at
    corpus scale this is the standard word-count shape with map-side
    partial aggregation). Ratios floor-to-micro for engine portability.
    Output: (id, n_bigrams, top_bigram_n, top_bigram_e6, dup_trigram_e6).
    Below 3 words only the TRIGRAM signal is zero; a 2-word doc still
    reports its single bigram (n_bigrams=1, top_bigram_e6=1000000)."""
    toks = _tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__t"))
    n = F.size(F.col("__t"))
    grams = lambda k: F.when(  # noqa: E731
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(F.col("__t"), i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri = grams(3)
    dup_tri = F.when(
        F.size(tri) > 0,
        F.floor(
            (1 - F.size(F.array_distinct(tri)) / F.size(tri).cast("double")) * 1_000_000
        ),
    ).otherwise(F.lit(0))
    per_doc = base.select(
        F.col(id_col), F.explode_outer(grams(2)).alias("__bg"), dup_tri.cast("long").alias("__dt")
    )
    counted = per_doc.groupBy(id_col, "__bg", "__dt").agg(F.count("*").alias("__c"))
    return (
        counted.groupBy(id_col, "__dt")
        .agg(
            F.sum(F.when(F.col("__bg").isNotNull(), F.col("__c")).otherwise(0)).alias("__n"),
            F.max(F.when(F.col("__bg").isNotNull(), F.col("__c")).otherwise(0)).alias("__top"),
        )
        .select(
            F.col(id_col),
            F.col("__n").cast("long").alias("n_bigrams"),
            F.col("__top").cast("long").alias("top_bigram_n"),
            F.when(F.col("__n") > 0, F.floor(F.col("__top") / F.col("__n").cast("double") * 1_000_000))
            .otherwise(0)
            .cast("long")
            .alias("top_bigram_e6"),
            F.col("__dt").alias("dup_trigram_e6"),
        )
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination check: for every (benchmark doc,
    corpus doc) pair sharing at least one word n-gram (n=13 is the
    conventional contamination shingle), the number of shared distinct
    n-grams. Corpus docs equal to the benchmark doc id are excluded.

    Shape: posting-list equi-join on the n-gram (the benchmark side is
    tiny → broadcast), grouped count — no quadratic document join.
    Output: (bench_id, doc_id, shared_ngrams)."""
    from hadoop_fcfs_spark.llm.dedup import _gram_rows

    cg = _gram_rows(corpus, id_col, text_col, n).select(
        F.col("doc").alias("doc_id"), "gram"
    )
    bg = _gram_rows(benchmark, id_col, text_col, n).select(
        F.col("doc").alias("bench_id"), "gram"
    )
    return (
        cg.join(F.broadcast(bg), "gram")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("bench_id", "doc_id")
        .agg(F.count("*").alias("shared_ngrams"))
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (bits) — the
    cheap perplexity proxy: degenerate/binary-ish text scores far from
    natural-language ~4.0-4.5. Explode chars → per-(doc,char) counts →
    one aggregation (word-count shape, map-side partials). Entropy in
    floor-micro bits for engine portability.
    Output: (id, n_chars, entropy_e6)."""
    # length=0 guard: sequence(1, 0) counts DOWNWARD ([1, 0]) — the same
    # pitfall _gram_rows guards against; empty docs must yield no chars.
    base = df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN length({text_col}) > 0 THEN "
                f"transform(sequence(1, length({text_col})), i -> substring({text_col}, i, 1)) "
                f"ELSE array() END"
            )
        ).alias("__c"),
    )
    counted = base.groupBy(id_col, "__c").agg(F.count("*").alias("__n"))
    per = counted.groupBy(id_col).agg(
        F.sum("__n").alias("__tot"),
        F.sum(F.col("__n") * F.log2(F.col("__n"))).alias("__nlogn"),
    )
    # H = log2(T) - (Σ n·log2 n)/T  (algebraic form: one pass, no p column)
    h = F.log2(F.col("__tot")) - F.col("__nlogn") / F.col("__tot")
    return per.select(
        F.col(id_col),
        F.col("__tot").cast("long").alias("n_chars"),
        F.floor(h * 1_000_000).cast("long").alias("entropy_e6"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-token-width chunks (the
    RAG / context-window preprocessing op). Chunks start every
    `chunk_tokens - overlap` tokens; the last chunk may be short; docs
    shorter than one stride yield a single chunk. Pure per-row
    expressions (sequence + slice + explode) — no shuffle.
    Output: (id, chunk_idx, chunk_text, n_tokens)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = _tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__t"))
    n = F.size(F.col("__t"))
    starts = F.when(
        n > 0, F.sequence(F.lit(1), n, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.filter(
        F.transform(
            starts,
            lambda s, i: F.struct(
                i.alias("chunk_idx"),
                F.slice(F.col("__t"), s, chunk_tokens).alias("toks"),
            ),
        ),
        # drop trailing windows fully covered by the previous chunk
        lambda st: (st["chunk_idx"] == 0) | (F.size(st["toks"]) > overlap),
    )
    ex = base.select(F.col(id_col), F.explode(chunks).alias("__ch"))
    return ex.select(
        F.col(id_col),
        F.col("__ch.chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(F.col("__ch.toks"), " ").alias("chunk_text"),
        F.size(F.col("__ch.toks")).cast("long").alias("n_tokens"),
    )


def _term_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The word-count family's shared statistics, built in one tokenize
    pass: (id, __dl, term, tf, doc_freq, __N, __avgdl) per (doc, term).

    `id_col` is a document key: one row per document. tf groups on
    (id, term) and N counts rows, so both assume it; tf_idf, bm25_scores
    and tfidf_cosine_pairs inherit the assumption from here.

    Each document is projected once to (id, tokens, dl) and exploded to
    (id, dl, term); dl rides with the pair, so no doc-length table is
    joined back on id. The pairs are hash-partitioned on term ONCE, and
    both tf (grouped by (id, term, dl)) and doc_freq (count(*) over the
    term partition) run on that one exchange; a caller's filter on term
    pushes below the window and the aggregate. The doc-frequency figures
    stay term-partitioned — never broadcast. (N, avgdl) is one
    single-exchange aggregate over the doc projection (docs with no
    tokens count in both), cross-joined as ONE broadcast scalar row;
    Spark prunes avgdl, and the split that feeds it, when the caller
    reads only N. explode_outer plus a non-NULL filter instead of
    explode: for an inner explode Spark infers a non-empty-array filter
    and pushes it below the tokens projection, which splits the text
    again. Partitioning on term ahead of the aggregate gives up the
    map-side combine (SCALING.md "Term statistics")."""
    from pyspark.sql import Window

    # no repartition ahead of the tokenize: measured at sf0.1, a
    # round-robin fan-out cost more than the explode parallelism buys
    # (tokenize-and-count is cheap per row), and the one exchange the
    # statistics need is on term, not on the document id the shingle
    # kernel partitions by. Two projections, so dl sizes the token
    # array instead of splitting the text again.
    docs = df.select(F.col(id_col), _tokens(text_col).alias("__toks")).select(
        id_col, "__toks", F.size("__toks").alias("__dl")
    )
    scalars = docs.agg(
        F.count("*").cast("double").alias("__N"), F.avg("__dl").alias("__avgdl")
    )
    return (
        docs.select(id_col, "__dl", F.explode_outer("__toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .repartition("term")
        .groupBy(id_col, "term", "__dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("doc_freq", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(scalars))
    )


def _smoothed_tfidf(scale: int) -> Column:
    """floor(tf · (ln((N+1)/(df+1)) + 1) · scale) over _term_stats columns."""
    idf = F.log((F.col("__N") + 1) / (F.col("doc_freq") + 1)) + 1
    return F.floor(F.col("tf") * idf * scale).cast("long")


def tf_idf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Smoothed TF-IDF per (doc, term): tf = in-doc term count,
    df = docs containing the term, idf = ln((N+1)/(df+1)) + 1, N = the
    document count (`id_col` is a document key, see _term_stats).
    A weight formula over _term_stats: one tokenize pass, one term
    exchange for tf and doc_freq, and N as a broadcast scalar row.
    Weights in floor-micro units (note: involves ln(), so cross-engine
    equality additionally assumes matching libm rounding — observed
    exact on JVM vs DuckDB here; pure-arithmetic micro-floors elsewhere
    don't carry that assumption).
    Output: (id, term, tf, doc_freq, tfidf_e6)."""
    return _term_stats(df, id_col, text_col).select(
        F.col(id_col),
        F.col("term"),
        F.col("tf").cast("long").alias("tf"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        _smoothed_tfidf(1_000_000).alias("tfidf_e6"),
    )


def bm25_scores(
    df: DataFrame, id_col: str, text_col: str, k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """Okapi BM25 per (doc, term) — tf_idf's retrieval-grade upgrade
    with document-length normalization (the scoring function behind
    Lucene/Elasticsearch ranking and retrieval-based data curation):

        idf  = ln(1 + (N - df + 0.5) / (df + 0.5))     [non-negative]
        s    = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    A weight formula over _term_stats (`id_col` is a document key, see
    there): one tokenize pass, one term exchange for tf and doc_freq, dl
    carried with each pair and (N, avgdl) as one broadcast scalar row.
    Scores in floor-micro units; cross-engine equality shares tf_idf's
    observed libm-ln parity.
    Output: (id, term, tf, doc_freq, bm25_e6)."""
    idf = F.log(1 + (F.col("__N") - F.col("doc_freq") + 0.5) / (F.col("doc_freq") + 0.5))
    denom = F.col("tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
    return _term_stats(df, id_col, text_col).select(
        F.col(id_col),
        F.col("term"),
        F.col("tf").cast("long").alias("tf"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.floor(idf * (F.col("tf") * (k1 + 1) / denom) * 1_000_000.0)
        .cast("long")
        .alias("bm25_e6"),
    )


def _bigrams(df: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """(*keep, w1, w2) per adjacent token pair of each document with at
    least two tokens: one sequence/transform explode over the token
    array. `keep` is the columns carried with each pair (the document id
    for per-doc scoring, none for corpus-wide model counts)."""
    base = df.select(*keep, _tokens(text_col).alias("__t")).filter(F.size("__t") >= 2)
    return base.select(
        *keep,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - 2),
                lambda i: F.struct(
                    F.col("__t")[i].alias("w1"), F.col("__t")[i + 1].alias("w2")
                ),
            )
        ).alias("g"),
    ).select(*keep, F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))


def bigram_lm_scores(
    df: DataFrame, id_col: str, text_col: str, k: float = 0.5
) -> DataFrame:
    """Per-doc negative log-likelihood under a corpus-trained bigram
    language model with add-k smoothing — the KenLM-style perplexity
    quality filter of pretraining pipelines, as pure relational algebra:

        p(w2 | w1) = (C(w1,w2) + k) / (C(w1) + k·V)
        nll(doc)   = mean over the doc's bigrams of −log2 p(w2|w1)

    Train and score in one plan: bigram counts and unigram counts are
    word-count-shaped aggregations; the per-doc score joins the doc's
    bigrams to both count tables ON THE SAME KEYS they were grouped by
    (co-located shuffles, no extra exchange) and only the scalar V
    (vocabulary size) broadcasts — the tf_idf scale shape. High nll =
    improbable text under the corpus model (gibberish/boilerplate
    outliers), the standard filter signal.

    Output: (id, n_bigrams, nll_e6) — floor-micro bits; docs with < 2
    tokens have no bigrams and are omitted (no model evidence).
    Cross-engine note: involves log2 — same libm caveat as tf_idf.
    """
    from hadoop_fcfs_spark.caching import waypoint

    grams = _bigrams(df, text_col, id_col)
    # per-doc bigram counts FIRST: repeated bigrams inside a doc collapse
    # before any join, and the three downstream consumers (model counts ×2
    # + scoring join) read one materialization (tracked waypoint)
    doc_big = waypoint(grams.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("cd")))
    big_c = doc_big.groupBy("w1", "w2").agg(F.sum("cd").alias("c12"))
    uni_c = doc_big.groupBy("w1").agg(F.sum("cd").alias("c1"))
    # V from the bigram-count table (vocab = tokens appearing as w1 or w2
    # — identical set, far fewer rows than the raw gram stream)
    vocab = big_c.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
        F.countDistinct("w").alias("__V")
    )
    p = (F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("__V"))
    return (
        doc_big.join(big_c, ["w1", "w2"])
        .join(uni_c, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("cd").cast("long").alias("n_bigrams"),
            F.floor(
                F.sum(F.col("cd") * -F.log2(p)) / F.sum("cd") * 1_000_000
            ).cast("long").alias("nll_e6"),
        )
    )


def token_distribution_divergence(
    df_a: DataFrame, df_b: DataFrame, text_col: str = "text", alpha: float = 0.5
) -> DataFrame:
    """Corpus drift detection: KL and Jensen-Shannon divergence between
    the token distributions of two corpus slices (yesterday vs today, one
    source vs another). Smoothed with add-``alpha`` over the UNION
    vocabulary so unseen-in-one-side tokens stay finite. Returns ONE row:
    (kl_ab_e6, kl_ba_e6, js_e6) floored to micros.

    Shape: two word-count aggregations + a full-outer join on the term
    (co-located shuffles, vocabulary-sized) + one scalar rollup. Nothing
    is ever corpus² and nothing collects to the driver. The standard
    pre-training monitor for "did the crawl distribution move" —
    a js_e6 alarm threshold is the cheap tripwire before expensive
    downstream evals.
    """
    def counts(df):
        return (
            df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count("*").alias("c"))
        )

    ca = counts(df_a).select(F.col("w"), F.col("c").alias("ca"))
    cb = counts(df_b).select(F.col("w"), F.col("c").alias("cb"))
    joined = ca.join(cb, "w", "full_outer").select(
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    # smoothed probabilities over the union vocabulary
    tot = joined.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"), F.count(F.lit(1)).alias("v")
    )
    j = joined.crossJoin(F.broadcast(tot))
    pa = (F.col("ca") + F.lit(alpha)) / (F.col("na") + F.lit(alpha) * F.col("v"))
    pb = (F.col("cb") + F.lit(alpha)) / (F.col("nb") + F.lit(alpha) * F.col("v"))
    pm = (pa + pb) / F.lit(2.0)
    log2 = F.log(F.lit(2.0))
    return j.agg(
        F.floor(F.sum(pa * F.log(pa / pb) / log2) * 1_000_000).cast("long").alias("kl_ab_e6"),
        F.floor(F.sum(pb * F.log(pb / pa) / log2) * 1_000_000).cast("long").alias("kl_ba_e6"),
        F.floor(
            (F.sum(pa * F.log(pa / pm) / log2) / 2 + F.sum(pb * F.log(pb / pm) / log2) / 2)
            * 1_000_000
        ).cast("long").alias("js_e6"),
    )


def kn_bigram_counts(
    df: DataFrame, id_col: str, text_col: str, discount: float = 0.75
) -> DataFrame:
    """Kneser-Ney bigram count tables + interpolated-KN probability —
    the count artifacts an n-gram LM TRAINING pipeline materializes
    (bigram_lm_scores is the scoring side; this is the model-building
    side with the counts a KenLM-style trainer consumes):

        c12           = C(w1,w2)
        c1            = C(w1·)   (as bigram prefix mass)
        left_types    = N1+(w1·) (distinct continuations of w1)
        right_types   = N1+(·w2) (distinct left contexts of w2 — the
                        "novel continuation" count KN is built on)
        p_kn(w2|w1)   = max(c12-D,0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/B
        (B = number of distinct bigram types)

    Scale shape: one gram explode → per-(w1,w2) count (map-side
    combined); both marginals group on a PREFIX of that key or on a
    key the pair table is already small under; the only broadcast is
    the scalar B. Division-only arithmetic — reproducible across
    engines (no libm).
    """
    from hadoop_fcfs_spark.caching import waypoint

    grams = _bigrams(df, text_col)
    big_c = waypoint(grams.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    left = big_c.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("left_types")
    )
    right = big_c.groupBy("w2").agg(F.count("*").alias("right_types"))
    btypes = big_c.agg(F.count("*").alias("__B"))
    d = F.lit(discount)
    pkn = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + d * F.col("left_types") / F.col("c1") * F.col("right_types") / F.col("__B")
    )
    return (
        big_c.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.col("c1").cast("long").alias("c1"),
            F.col("left_types").cast("long").alias("left_types"),
            F.col("right_types").cast("long").alias("right_types"),
            pkn.alias("p_kn"),
        )
    )


def char_class_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-class census: counts of Latin letters,
    CJK ideographs, digits, whitespace, and everything else — the
    script-mix signal that catches mislabeled languages, mojibake and
    code-heavy "text" before they hit a tokenizer (complements the
    vocabulary-based lang_id).

    Pure per-row expressions (length minus regexp_replace length per
    class) — no explode, no shuffle, whole-stage codegen. Output:
    (id, n_chars_total, n_latin, n_cjk, n_digit, n_space, n_other)."""
    text = F.col(text_col)
    total = F.length(text)

    def n_of(pattern: str) -> Column:
        return total - F.length(F.regexp_replace(text, pattern, ""))

    cjk = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"
    counts = {
        "n_latin": n_of("[A-Za-z]"),
        "n_cjk": n_of(cjk),
        "n_digit": n_of("[0-9]"),
        "n_space": n_of(r"\s"),
    }
    other = total
    for c in counts.values():
        other = other - c
    return df.select(
        F.col(id_col),
        total.cast("long").alias("n_chars_total"),
        *[c.cast("long").alias(n) for n, c in counts.items()],
        other.cast("long").alias("n_other"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df_frac: float = 0.5,
    quant: int = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join via the inverted index —
    the pre-embedding document-similarity workhorse: partial dot
    products are generated term-at-a-time (postings self-join on term,
    doc_a < doc_b) and summed per pair; norms re-aggregate from the
    same weight table.

    Determinism design: weights are FLOOR-quantized integers
    (tf · idf · quant), so dot products and norms are EXACT BIGINT sums
    — no float accumulation anywhere; the only float op is the final
    cos = dot/(√n²a·√n²b), identical single-expression shape per
    engine. quant=1000 keeps Σw² far from BIGINT overflow for any
    realistic document (overflow needs Σ(tf·idf)² > 9.2e12).

    Scale shape: terms with doc_freq > max_df_frac·N are pruned BEFORE
    the pair join (the stopword-fanout guard: a term in f docs emits
    O(f²) pairs; cosine is then defined over the pruned vocabulary,
    mirrored in any oracle). For thresholded similarity at corpus
    scale, prefix-filter first (llm.dedup.containment/jaccard PPJoin
    tier) — this operator is the exact-scoring stage.

    The weights are tf_idf's smoothed formula over _term_stats (`id_col`
    is a document key, see there) at `quant` instead of micro units.

    Output: (doc_a, doc_b, shared_terms, cos_e6)."""
    from hadoop_fcfs_spark.caching import waypoint

    w = waypoint(
        _term_stats(df, id_col, text_col)
        .filter(F.col("doc_freq") * (1.0 / max_df_frac) <= F.col("__N"))
        .select(F.col(id_col), "term", _smoothed_tfidf(quant).alias("__w"))
    )
    norms = w.groupBy(id_col).agg(F.sum(F.col("__w") * F.col("__w")).alias("__n2"))
    a = w.select(F.col(id_col).alias("doc_a"), "term", F.col("__w").alias("__wa"))
    b = w.select(F.col(id_col).alias("doc_b"), "term", F.col("__w").alias("__wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"),
            F.count("*").cast("long").alias("shared_terms"),
        )
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("__n2").alias("__na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("__n2").alias("__nb"))
    cos = F.col("__dot") / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb")))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", "shared_terms",
            F.floor(cos * 1_000_000).cast("long").alias("cos_e6"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    buckets: int = 10,
) -> DataFrame:
    """N-gram novelty curve over the corpus in ``id_col`` order: for
    each id-decile bucket, what fraction of its documents' distinct
    n-grams appear here FIRST (min doc id over the whole corpus falls
    in this doc)? The memorization/repetition-pressure signal a
    training-data pipeline tracks — a healthy stream keeps a fat
    novelty tail; a collapsing curve says later data is recombinations
    of earlier data (dedup finds copies; this quantifies the softer
    n-gram-level exhaustion).

    Scale shape: (doc, gram) distinct postings once (the only
    corpus-sized explode, shared shape with dedup's _gram_rows);
    first-occurrence = min(doc) per gram (map-side combined); one join
    back on gram; per-doc and per-bucket rollups are aggregation-only.
    All counters exact BIGINT; novelty_e6 by integer floor division.
    Docs with fewer than n tokens carry no grams and are excluded from
    the curve (documented denominator). Bucket = id·buckets div
    (max_id+1) — id·buckets must stay under 2^63."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.llm.dedup import _gram_rows

    grams = waypoint(_gram_rows(df, id_col, text_col, n))
    first = grams.groupBy("gram").agg(F.min("doc").alias("__first"))
    per_doc = (
        grams.join(first, "gram")
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("__ng"),
            F.sum(
                F.when(F.col("doc") == F.col("__first"), 1).otherwise(0)
            ).cast("long").alias("__nv"),
        )
    )
    mx = df.agg(F.max(F.col(id_col)).alias("__mx"))
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .withColumn(
            "bucket",
            F.least(
                F.lit(buckets - 1),
                F.expr(f"doc * {int(buckets)} div (__mx + 1)"),
            ).cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__ng").cast("long").alias("n_grams"),
            F.sum("__nv").cast("long").alias("n_novel"),
        )
        .withColumn(
            # DECIMAL(38,0) numerator: 1e6·gram-count is BIGINT-unsafe
            # past ~9.2e12 grams (the kendall/fertility remedy, r13)
            "novelty_e6",
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * n_novel) div n_grams"
            ).cast("long"),
        )
        .orderBy("bucket")
    )


def readability_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Flesch reading-ease per document, from three deterministic
    counts: words (whitespace tokens), sentences (runs of [.!?],
    floored at 1), and syllables approximated as vowel GROUPS
    ([aeiouy]+ runs in the lowercased text — the standard
    codec-free heuristic). FRE = 206.835 − 1.015·(W/S) − 84.6·(Y/W),
    coefficients frozen literals.

    Every count is a pure length-difference expression
    (len(regexp_replace(x, pat, '#')) − len(regexp_replace(x, pat,
    ''))) so the oracle replays it with the same two regexes; the
    per-doc score is flat scalar double arithmetic floor-quantized to
    milli (the quality_score discipline — round() half-tails disagree
    across engines; floor of the identical double does not). Rollups
    over documents then stay exact BIGINT sums.

    Output: (id, n_words, n_sentences, n_vowel_groups, flesch_e3)."""

    def runs(pat: str) -> Column:
        lowered = F.lower(F.col(text_col))
        return (
            F.length(F.regexp_replace(lowered, pat, "#"))
            - F.length(F.regexp_replace(lowered, pat, ""))
        ).cast("long")

    words = F.size(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    ).cast("long")
    sents = F.greatest(runs("[.!?]+"), F.lit(1).cast("long"))
    vg = runs("[aeiouy]+")
    w = F.greatest(words, F.lit(1).cast("long")).cast("double")
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (w / sents.cast("double"))
        - F.lit(84.6) * (vg.cast("double") / w)
    )
    return df.select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        vg.alias("n_vowel_groups"),
        F.floor(fre * 1000).cast("long").alias("flesch_e3"),
    )


def zipf_slope(
    tf: DataFrame, token_col: str = "w", freq_col: str = "n"
) -> DataFrame:
    """Zipf exponent of a token-frequency table: fit ln f = c − s·ln r
    by least squares over the WHOLE rank–frequency curve and report
    s — the one-number lexical-health summary under vocab_stats'
    counts (natural corpora sit near s ≈ 1; template/boilerplate-
    heavy or deduplicated-to-death corpora drift visibly; a shifted
    exponent between two snapshots is vocabulary drift the TTR
    misses).

    Determinism: ln is the ONE blessed libm call (bit-identical JVM/
    DuckDB, the tf_idf/weighted_sample_k precedent) and both logs are
    FLOOR-MICRO quantized IMMEDIATELY — the OLS moments over (u, w) =
    (⌊ln r·1e6⌋, ⌊ln f·1e6⌋) are then exact BIGINT/DECIMAL(38,0)
    integers, so accumulation order cannot matter. The exponent is
    reported positive (f ∝ r^−s): num = Σu·Σw − n·Σuw ≥ 0 for any
    downward-sloping curve, keeping the one truncating division on
    nonnegative operands (the probed div parity domain); an upward-
    sloping 'curve' yields NULL, not a sign-truncation hazard.

    Scale shape: ranks come from ops.sort.ranked_total_order (range-
    partitioned two-level — never a single-task window over the
    vocabulary), one scalar reduce after. Output: 1 row (vocab_size,
    n_tokens, zipf_exponent_e6)."""
    from hadoop_fcfs_spark.ops.sort import ranked_total_order

    ranked = ranked_total_order(
        tf.select(F.col(token_col).alias("__w"),
                  F.col(freq_col).cast("long").alias("__n")),
        [F.col("__n").desc(), F.col("__w").asc()],
        rank_col="__r",
    )
    dec = "decimal(38,0)"
    q = ranked.select(
        F.col("__n"),
        F.floor(F.log(F.col("__r").cast("double")) * 1_000_000)
        .cast("long").alias("__u"),
        F.floor(F.log(F.col("__n").cast("double")) * 1_000_000)
        .cast("long").alias("__lf"),
    )
    m = q.agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum("__u").cast("long").alias("__su"),
        F.sum("__lf").cast("long").alias("__sw"),
        F.sum(F.col("__u").cast(dec) * F.col("__u")).cast(dec).alias("__suu"),
        F.sum(F.col("__u").cast(dec) * F.col("__lf")).cast(dec).alias("__suw"),
    )
    return m.selectExpr(
        "__k AS vocab_size", "n_tokens",
        "CASE WHEN (CAST(__k AS DECIMAL(38,0)) * __suu"
        " - CAST(__su AS DECIMAL(38,0)) * __su) > 0"
        " AND (CAST(__su AS DECIMAL(38,0)) * __sw"
        " - CAST(__k AS DECIMAL(38,0)) * __suw) >= 0 THEN"
        " CAST(((CAST(__su AS DECIMAL(38,0)) * __sw"
        " - CAST(__k AS DECIMAL(38,0)) * __suw) * 1000000)"
        " div (CAST(__k AS DECIMAL(38,0)) * __suu"
        " - CAST(__su AS DECIMAL(38,0)) * __su) AS BIGINT)"
        " END AS zipf_exponent_e6",
    )


def heaps_vocab_growth(
    df: DataFrame, id_col: str, text_col: str, deciles: int = 10
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-token count vs
    cumulative token count at ``deciles`` corpus checkpoints in
    ``id_col`` order — the companion diagnostic to the Zipf exponent
    (zipf_slope reads the frequency CURVE's shape; this reads how fast
    NEW vocabulary keeps arriving as the corpus grows). A natural
    corpus grows V ~ N^β with β≈0.4–0.6; a flattening curve between
    snapshots means the new data is rehashing the old vocabulary
    (dedup leakage, source collapse), a steepening one means a domain
    or language slipped in.

    Exactness: the checkpoint at decile k is the document at global
    rank k·D div ``deciles`` in id order; cumulative tokens ride the
    same ONE two-column prefix pass (ops.sort.global_running_sum over
    the doc grain: rank + running token count); a token's arrival
    point is the RANK of its first-occurrence doc (min id per token),
    and vocab-at-checkpoint counts first-ranks <= boundary. Every
    number is an exact BIGINT.

    Scale shape: one explode + token-grain collapse (wordcount
    shape), one doc-grain prefix pass, one broadcast of <= ``deciles``
    checkpoint rows crossed against the token grain. Zero-token docs
    still advance the document axis (left join, not dropped).
    Checkpoints with boundary rank 0 (fewer docs than deciles) are
    omitted. Output: (decile, n_docs, n_tokens, vocab_size)."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sort import global_running_sum

    if deciles < 1:
        raise ValueError(f"deciles must be >= 1, got {deciles}")
    toks = waypoint(
        df.select(
            F.col(id_col).alias("__doc"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("__w"),
        ).filter(F.col("__w") != "")
    )
    per_doc = toks.groupBy("__doc").agg(
        F.count("*").cast("long").alias("__ntok")
    )
    docs = (
        df.select(F.col(id_col).alias("__doc"))
        .join(per_doc, "__doc", "left")
        .withColumn("__ntok", F.coalesce(F.col("__ntok"), F.lit(0)))
        .withColumn("__one", F.lit(1).cast("long"))
    )
    ranked = waypoint(
        global_running_sum(
            docs, ["__doc"], ["__one", "__ntok"],
            out_col=["__rank", "__cumtok"], inclusive=True,
        )
    )
    tot = docs.agg(F.count("*").cast("long").alias("__d"))
    ck = (
        df.sparkSession.range(1, deciles + 1)
        .select(F.col("id").cast("long").alias("decile"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__r", F.expr(f"CAST(decile * __d div {int(deciles)} AS BIGINT)")
        )
        .filter(F.col("__r") >= 1)
        .select("decile", "__r")
    )
    bounds = ranked.join(
        F.broadcast(ck), F.col("__rank") == F.col("__r")
    ).select(
        "decile",
        F.col("__r").alias("n_docs"),
        F.col("__cumtok").cast("long").alias("n_tokens"),
    )
    first_rank = (
        toks.groupBy("__w")
        .agg(F.min("__doc").alias("__fd"))
        .join(
            ranked.select(F.col("__doc").alias("__fd"), "__rank"), "__fd"
        )
    )
    vocab = (
        first_rank.crossJoin(F.broadcast(ck))
        .filter(F.col("__rank") <= F.col("__r"))
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("vocab_size"))
    )
    return bounds.join(vocab, "decile", "left").select(
        "decile", "n_docs", "n_tokens",
        F.coalesce(F.col("vocab_size"), F.lit(0)).cast("long")
        .alias("vocab_size"),
    )


def good_turing_mass(
    tf: DataFrame, term_col: str, count_col: str, max_r: int = 3
) -> DataFrame:
    """Simple Good–Turing mass estimates over a term-frequency table:
    the unseen-probability mass p₀ = N₁/N (the total probability an LM
    should reserve for types it has never seen — Good 1953) and the
    adjusted counts r* = (r+1)·N_{r+1}/N_r for small r, where N_r is
    the count-of-counts (how many types occur exactly r times). The
    smoothing statistic beneath Katz backoff and the sanity check on
    kn_bigram's absolute discounts: r − r* IS the empirical discount,
    and a corpus whose N₁/N drifts between snapshots is gaining or
    losing long-tail diversity (the same failure heaps_vocab_growth
    sees, summarized to one number).

    Exactness: counts-of-counts are exact BIGINT conditional sums over
    the term grain; p₀ and each r* quantize by ONE flooring integer
    division to micros (r* is a count, so rstar_r_e6 sits in
    [0, (r+1)·10⁶]·N_{r+1}/N_r units); NULL where N_r = 0. Output is
    ONE row. Scale shape: one map-side-combinable aggregation over the
    term-frequency grain — no shuffle beyond the final scalar."""
    if max_r < 1:
        raise ValueError(f"max_r must be >= 1, got {max_r}")
    cnt = F.col(count_col)
    aggs = [
        F.sum(cnt).cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    ]
    for r in range(1, max_r + 2):
        aggs.append(
            F.sum(F.when(cnt == r, 1).otherwise(0)).cast("long")
            .alias(f"n{r}")
        )
    out = tf.agg(*aggs)
    exprs = ["n_tokens", "vocab_size"]
    exprs += [f"n{r}" for r in range(1, max_r + 2)]
    exprs.append(
        "CASE WHEN n_tokens > 0 THEN "
        "CAST(n1 * 1000000 div n_tokens AS BIGINT) END AS p0_unseen_e6"
    )
    for r in range(1, max_r + 1):
        exprs.append(
            f"CASE WHEN n{r} > 0 THEN "
            f"CAST({r + 1} * n{r + 1} * 1000000 div n{r} AS BIGINT) "
            f"END AS rstar{r}_e6"
        )
    return out.selectExpr(*exprs)


def heaps_exponent(
    df: DataFrame, id_col: str, text_col: str, deciles: int = 10
) -> DataFrame:
    """Heaps'-law exponent: fit ln V = ln K + β·ln N by least squares
    over the :func:`heaps_vocab_growth` decile curve and report β —
    the growth curve summarized to the one number the literature
    quotes (natural corpora sit at β ≈ 0.4–0.6; β drifting DOWN
    between snapshots says the incoming data rehashes the old
    vocabulary, UP says a new domain/language slipped in). The
    growth-side twin of :func:`zipf_slope`'s frequency-side exponent,
    and the same determinism trick: both logs FLOOR-MICRO quantize
    IMMEDIATELY (ln is the one blessed libm call), so the OLS moments
    over (u, w) = (⌊ln N·1e6⌋, ⌊ln V·1e6⌋) are exact
    BIGINT/DECIMAL(38,0) integers and accumulation order cannot
    matter. β = (k·Σuw − Σu·Σw)/(k·Σuu − (Σu)²) ≥ 0 for any growing
    curve, keeping the one truncating division on nonnegative
    operands (the probed div parity domain); a non-increasing
    'growth' curve yields NULL rather than a sign-truncation hazard.

    Scale shape: heaps_vocab_growth's passes (one explode + token
    collapse, ONE doc-grain prefix) feed a <= ``deciles``-row OLS —
    the fit itself is driver-free and broadcast-grain. Output: 1 row
    (n_points, heaps_beta_e6)."""
    curve = heaps_vocab_growth(df, id_col, text_col, deciles=deciles)
    dec = "decimal(38,0)"
    q = curve.filter(
        (F.col("n_tokens") > 0) & (F.col("vocab_size") > 0)
    ).select(
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long").alias("__u"),
        F.floor(F.log(F.col("vocab_size").cast("double")) * 1_000_000)
        .cast("long").alias("__w"),
    )
    m = q.agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("__u").cast("long").alias("__su"),
        F.sum("__w").cast("long").alias("__sw"),
        F.sum(F.col("__u").cast(dec) * F.col("__u")).cast(dec).alias("__suu"),
        F.sum(F.col("__u").cast(dec) * F.col("__w")).cast(dec).alias("__suw"),
    )
    return m.selectExpr(
        "__k AS n_points",
        "CASE WHEN (CAST(__k AS DECIMAL(38,0)) * __suu"
        " - CAST(__su AS DECIMAL(38,0)) * __su) > 0"
        " AND (CAST(__k AS DECIMAL(38,0)) * __suw"
        " - CAST(__su AS DECIMAL(38,0)) * __sw) >= 0 THEN"
        " CAST(((CAST(__k AS DECIMAL(38,0)) * __suw"
        " - CAST(__su AS DECIMAL(38,0)) * __sw) * 1000000)"
        " div (CAST(__k AS DECIMAL(38,0)) * __suu"
        " - CAST(__su AS DECIMAL(38,0)) * __su) AS BIGINT)"
        " END AS heaps_beta_e6",
    )


def simpson_diversity(
    tf: DataFrame, term_col: str, count_col: str
) -> DataFrame:
    """Simpson's diversity index D over a term-frequency table:
    D = Σ f(f−1) / (N(N−1)) — the unbiased repeat-rate, i.e. the
    probability two tokens drawn WITHOUT replacement are the same type
    (Simpson 1949). The finite-sample partner of Yule's K (K ≈ 10⁴·D
    asymptotically — K uses Σf²/N², D the hypergeometric correction),
    quoted directly by the lexical-diversity literature because it is
    length-unbiased where TTR is not. Low D = diverse prose; high D =
    formulaic/boilerplate repetition.

    Exactness: Σ f(f−1) and N are exact BIGINT/DECIMAL(38,0) sums off
    the term grain; d_e9 = Σf(f−1)·10⁹ div (N(N−1)) in one flooring
    division on nonnegative operands — engine- and order-exact. NULL
    when N ≤ 1 (undefined, not zero). Scale shape: ONE
    map-side-combinable aggregation over the term-frequency grain;
    output is 1 row (vocab_size, n_tokens, simpson_d_e9)."""
    cnt = F.col(count_col)
    dec = "decimal(38,0)"
    m = tf.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(cnt).cast("long").alias("n_tokens"),
        F.sum(cnt.cast(dec) * (cnt - 1)).cast(dec).alias("__ff1"),
    )
    return m.selectExpr(
        "vocab_size", "n_tokens",
        "CASE WHEN n_tokens > 1 THEN "
        "CAST(__ff1 * 1000000000 "
        "div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT) "
        "END AS simpson_d_e9",
    )


def herdan_c(tf: DataFrame, term_col: str, count_col: str) -> DataFrame:
    """Herdan's C (log-TTR) over a term-frequency table:
    C = ln V / ln N — the log-scale type-token ratio (Herdan 1960),
    the vocabulary-richness constant that stays comparable across
    document lengths where raw TTR collapses (under Heaps' law
    V ≈ K·N^β, C → β as N grows, so C is the single-corpus reading of
    the :func:`heaps_exponent` fit). Natural prose sits ~0.85–0.95;
    low C = repetitive vocabulary, C near 1 = near-unique tokens
    (IDs/hashes masquerading as text).

    Exactness: the same determinism trick as heaps_exponent/zipf_slope
    — both logs FLOOR-MICRO quantize IMMEDIATELY (ln is the one
    blessed libm call), then c_e6 = ⌊ln V·1e6⌋·1e6 div ⌊ln N·1e6⌋ is
    one flooring BIGINT division on nonnegative operands. NULL when
    N ≤ 1 (ln N = 0 — undefined). Scale shape: ONE map-side-combinable
    aggregation over the term-frequency grain; output is 1 row
    (vocab_size, n_tokens, herdan_c_e6)."""
    cnt = F.col(count_col)
    m = tf.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(cnt).cast("long").alias("n_tokens"),
    )
    q = m.select(
        "vocab_size", "n_tokens",
        F.floor(F.log(F.col("vocab_size").cast("double")) * 1_000_000)
        .cast("long").alias("__lv"),
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long").alias("__ln"),
    )
    return q.selectExpr(
        "vocab_size", "n_tokens",
        "CASE WHEN n_tokens > 1 AND vocab_size >= 1 THEN "
        "CAST(__lv * 1000000 div __ln AS BIGINT) END AS herdan_c_e6",
    )


def hapax_richness(
    tf: DataFrame, term_col: str, count_col: str
) -> DataFrame:
    """Honoré's R and Sichel's S over a term-frequency table — the
    RARE-WORD legs of the lexical tier (yule_k/simpson_d read the
    repeat rate, herdan_c/entropy the whole distribution; R and S read
    the singleton/doubleton fringe where productive vocabulary lives):
    R = 100·ln N / (1 − V₁/V) (Honoré 1979 — grows with the hapax
    share; template/boilerplate text has almost no hapax legomena and
    reads LOW), S = V₂/V (Sichel 1975 — the dis-legomena proportion,
    empirically near-constant ~0.03–0.05 for natural prose across
    sizes, so drift flags synthetic or deduplicated-to-death text).
    Both are quoted by the stylometry/authorship literature alongside
    Yule's K, and both are Good–Turing-adjacent: V₁, V₂ are exactly
    the N₁, N₂ counts good_turing_mass already reads.

    Exactness: V, N, V₁, V₂ are exact BIGINT counts off the term
    grain; ln N floor-micro quantizes immediately (the heaps/herdan
    trick), then r_e3 = ⌊ln N·1e6⌋·V div (10·(V−V₁)) is one flooring
    division on nonnegative operands (R·10³ since 100·1e6/1e3·10⁻⁴…
    = the 1e6 log scale over 10·1e3) and s_e6 = V₂·1e6 div V another.
    NULL R when every type is a hapax (V₁ = V — R diverges) or N ≤ 1;
    NULL S when V = 0.

    Scale shape: ONE map-side-combinable aggregation over the
    term-frequency grain — no joins, no windows. Output: 1 row
    (vocab_size, n_tokens, n_hapax, n_dis, honore_r_e3,
    sichel_s_e6)."""
    cnt = F.col(count_col)
    m = tf.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(cnt).cast("long").alias("n_tokens"),
        F.sum(F.when(cnt == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.sum(F.when(cnt == 2, 1).otherwise(0)).cast("long").alias("n_dis"),
    )
    q = m.withColumn(
        "__ln",
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long"),
    )
    return q.selectExpr(
        "vocab_size", "n_tokens", "n_hapax", "n_dis",
        "CASE WHEN n_tokens > 1 AND vocab_size > n_hapax THEN "
        "CAST(CAST(__ln AS DECIMAL(38,0)) * vocab_size "
        "div (10 * (vocab_size - n_hapax)) AS BIGINT) END AS honore_r_e3",
        "CASE WHEN vocab_size > 0 THEN "
        "CAST(n_dis * 1000000 div vocab_size AS BIGINT) END AS sichel_s_e6",
    )


def ttr_family(tf: DataFrame, term_col: str, count_col: str) -> DataFrame:
    """Guiraud's R and Maas a² over a term-frequency table — the
    length-CORRECTED type-token ratios completing the TTR family
    (:func:`herdan_c` is the log ratio; these are the two corrections
    the lexical-diversity literature quotes when comparing corpora of
    different sizes): R = V/√N (Guiraud 1954 — root-TTR, stable where
    raw TTR collapses ∝ 1/N) and a² = (ln N − ln V)/ln²N (Maas 1972 —
    the most length-invariant of the classical family; LOW a² = rich
    vocabulary, and unlike R it is bounded and dimensionless).

    Exactness: √N floor-micro quantizes immediately (sqrt is
    correctly-rounded IEEE, the wilson/p_chart discipline), so
    guiraud_r_e3 = V·10⁹ div ⌊√N·1e6⌋ is one flooring BIGINT division;
    both logs floor-micro quantize (the heaps/herdan trick) and
    maas_a2_e6 = (⌊ln N·1e6⌋ − ⌊ln V·1e6⌋)·1e6 div (⌊ln N·1e6⌋² div
    1e6) keeps every operand a nonnegative BIGINT (V ≤ N ⇒ ln V ≤
    ln N). NULL a² when N ≤ 1 (ln N = 0). Scale shape: ONE
    map-side-combinable aggregation over the term-frequency grain —
    no joins, no windows. Output: 1 row (vocab_size, n_tokens,
    guiraud_r_e3, maas_a2_e6)."""
    cnt = F.col(count_col)
    m = tf.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(cnt).cast("long").alias("n_tokens"),
    )
    q = m.select(
        "vocab_size", "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long").alias("__sq"),
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long").alias("__ln"),
        F.floor(F.log(F.col("vocab_size").cast("double")) * 1_000_000)
        .cast("long").alias("__lv"),
    )
    return q.selectExpr(
        "vocab_size", "n_tokens",
        "CASE WHEN n_tokens > 0 THEN "
        "CAST(CAST(vocab_size AS DECIMAL(38,0)) * 1000000000 div __sq "
        "AS BIGINT) END AS guiraud_r_e3",
        "CASE WHEN n_tokens > 1 THEN "
        "CAST((__ln - __lv) * 1000000 div "
        "(CAST(__ln AS DECIMAL(38,0)) * __ln div 1000000) AS BIGINT) "
        "END AS maas_a2_e6",
    )


def ttr_curve_auc(
    tok: DataFrame, doc_col: str, pos_col: str, term_col: str
) -> DataFrame:
    """Area under the type-token (vocabulary-growth) curve over a
    POSITIONED token stream — the sequence-aware complement to the
    order-free TTR family (:func:`ttr_family` corrects raw TTR for
    length; this reads HOW vocabulary accrues: V(t) = #types among
    the first t tokens, and AUC = Σ_{t=1..N} V(t) is large when new
    types keep arriving late — Heaps-like growth — and small when the
    vocabulary saturates early, the repeated-boilerplate signature
    MTLD/vocd measure sequentially on a single document, lifted here
    to corpus scale).

    The curve never needs materializing: a type first seen at global
    position p contributes to V(t) for every t ≥ p, so AUC =
    Σ_types (N − p + 1) = V·(N + 1) − Σ first-positions — three exact
    BIGINT scalars off the first-occurrence grain. The global token
    order is (doc, within-doc position): within-doc ranks are
    DOC-bounded windows, doc offsets ONE range-partitioned exclusive
    prefix over the per-doc counts (ops.sort.global_running_sum — the
    log-rank/KS substrate) equi-joined back on the doc key (no
    broadcast hint — the offsets table is O(#documents); AQE
    broadcasts it when small, SMJ when not); no global sort, no
    unpartitioned window.

    Exactness: positions, V, N, Σp and AUC are exact BIGINTs (AUC ≤
    V·N — overflows past ~10⁹·10⁹; lift the final sum to
    DECIMAL(38,0) at that scale). auc_norm_e6 = AUC·10⁶ div (V·N) ∈
    [~10⁶/V, 10⁶] is one flooring division on a DECIMAL(38,0)
    product; 10⁶ means every type was seen at position 1 would
    require V = 1 — higher = earlier saturation. Output: 1 row
    (vocab_size, n_tokens, ttr_auc, auc_norm_e6)."""
    from pyspark.sql import Window

    from hadoop_fcfs_spark.ops.sort import global_running_sum

    w_doc = Window.partitionBy(doc_col).orderBy(pos_col)
    ranked = tok.select(doc_col, pos_col, term_col).withColumn(
        "__wpos", F.row_number().over(w_doc).cast("long")
    )
    per_doc = ranked.groupBy(doc_col).agg(
        F.count("*").cast("long").alias("__cnt")
    )
    offs = global_running_sum(
        per_doc, [doc_col], ["__cnt"], out_col=["__off"], inclusive=False
    )
    # plain equi-join on the doc key — NOT a forced broadcast: the
    # offsets table is O(#documents), so a hint would bake in a
    # driver/8 GB ceiling at corpus scale; AQE broadcasts it when it
    # is actually small and co-partitions an SMJ when it is not
    gpos = ranked.join(offs.select(doc_col, "__off"), doc_col).select(
        term_col, (F.col("__off") + F.col("__wpos")).alias("__gpos")
    )
    first = gpos.groupBy(term_col).agg(
        F.min("__gpos").alias("__p"),
        F.count("*").cast("long").alias("__n"),
    )
    m = first.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum("__p").cast("long").alias("__sump"),
    )
    return m.selectExpr(
        # empty input pins to (0, 0, 0, NULL) — COALESCE the sums the
        # empty aggregate leaves NULL
        "vocab_size",
        "COALESCE(n_tokens, 0) AS n_tokens",
        "CAST(vocab_size * (COALESCE(n_tokens, 0) + 1)"
        " - COALESCE(__sump, 0) AS BIGINT) AS ttr_auc",
        "CASE WHEN vocab_size > 0 AND n_tokens > 0 THEN"
        " CAST(CAST(vocab_size * (n_tokens + 1) - __sump AS DECIMAL(38,0))"
        "      * 1000000 div (CAST(vocab_size AS DECIMAL(38,0)) * n_tokens)"
        " AS BIGINT) END AS auc_norm_e6",
    )


def token_entropy(tf: DataFrame, term_col: str, count_col: str) -> DataFrame:
    """Shannon entropy of the token distribution (nats) plus its
    normalized form ("efficiency", H / ln V ∈ [0, 1]) over a
    term-frequency table: H = ln N − (Σ f·ln f)/N. The fourth leg of
    the lexical tripod-turned-quadripod — zipf_slope reads the curve
    shape, good_turing the unseen tail, yule_k/simpson_d the repeat
    rate, H the whole-distribution uncertainty (the unigram
    cross-entropy floor a tokenizer/LM can be sanity-checked against;
    efficiency near 1 = uniform vocabulary use, near 0 = a few tokens
    dominate).

    Exactness: the heaps/herdan determinism trick at per-TERM grain —
    each term's ln f floor-micro quantizes IMMEDIATELY, so
    Σ f·⌊ln f·1e6⌋ is an exact DECIMAL(38,0) sum (order cannot
    matter), and H_e6 = ⌊ln N·1e6⌋ − (Σ f·⌊ln f·1e6⌋) div N with one
    flooring division on nonnegative operands. eff_e6 = H_e6·1e6 div
    ⌊ln V·1e6⌋ (NULL when V = 1 — zero denominator; H is then exactly
    0). Scale shape: ONE map-side-combinable aggregation over the
    term-frequency grain; output is 1 row (vocab_size, n_tokens,
    entropy_e6, efficiency_e6)."""
    cnt = F.col(count_col)
    dec = "decimal(38,0)"
    m = tf.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(cnt).cast("long").alias("n_tokens"),
        F.sum(
            cnt.cast(dec)
            * F.floor(F.log(cnt.cast("double")) * 1_000_000).cast("long")
        ).cast(dec).alias("__sfl"),
    )
    q = m.select(
        "vocab_size", "n_tokens", "__sfl",
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1_000_000)
        .cast("long").alias("__ln"),
        F.floor(F.log(F.col("vocab_size").cast("double")) * 1_000_000)
        .cast("long").alias("__lv"),
    )
    return q.selectExpr(
        "vocab_size", "n_tokens",
        "CASE WHEN n_tokens > 0 THEN "
        "CAST(__ln - __sfl div n_tokens AS BIGINT) END AS entropy_e6",
        "CASE WHEN n_tokens > 0 AND vocab_size > 1 THEN "
        "CAST((__ln - __sfl div n_tokens) * 1000000 div __lv AS BIGINT) "
        "END AS efficiency_e6",
    )


def yule_k(tf: DataFrame, term_col: str, count_col: str) -> DataFrame:
    """Yule's characteristic K over a term-frequency table:
    K = 10⁴·(Σ f² − N)/N² — the classic repeat-rate summary of lexical
    concentration (Yule 1944; natural prose sits ~60–200, formulaic/
    boilerplate text reads far higher). The third leg of the lexical-
    statistics tripod: zipf_slope reads the frequency CURVE's shape,
    good_turing_mass the unseen tail, K the repeat concentration — and
    unlike TTR-family ratios K is (asymptotically) length-invariant,
    which is why the stylometry literature quotes it.

    Exactness: Σ f² and N are exact BIGINT sums off the term grain;
    K_e3 = (Σf² − N)·10⁷ div N² in one flooring DECIMAL(38,0)
    division (10⁷ = 10⁴ scale × 10³ milli-quantization) — engine- and
    order-exact. Scale shape: ONE map-side-combinable aggregation over
    the term-frequency grain; output is 1 row (vocab_size, n_tokens,
    yule_k_e3)."""
    cnt = F.col(count_col)
    dec = "decimal(38,0)"
    m = tf.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(cnt).cast("long").alias("n_tokens"),
        F.sum(cnt.cast(dec) * cnt).cast(dec).alias("__s2"),
    )
    return m.selectExpr(
        "vocab_size", "n_tokens",
        "CASE WHEN n_tokens > 0 THEN "
        "CAST((__s2 - n_tokens) * 10000000 "
        "div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT) "
        "END AS yule_k_e3",
    )


def lz76_complexity(seq) -> int:
    """Lempel–Ziv (1976) complexity of a symbol sequence — the number
    of phrases in its exhaustive self-referential parse, the classic
    production-complexity measure (low = repetitive/compressible,
    the boilerplate signature; grows ~n/log n for incompressible
    input). Kaspar & Schuster's O(n²) scan (Phys. Rev. A 36, 1987):
    each phrase is the longest reproduction of a substring of the
    prior history (self-overlap allowed, the LZ76 rule) plus one
    innovating symbol; the final phrase counts once whether or not
    it needs an innovation. Pure Python by design — an iterative
    symbol rewrite like bpe_encode, NOT SQL-expressible, so it ships
    pytest-locked (independent definition-based brute-force replay)
    and reaches Spark per-document via :func:`doc_lz_complexity`."""
    s = list(seq)
    n = len(s)
    if n == 0:
        return 0
    c, l, i, k, k_max = 1, 1, 0, 1, 1
    while l + k - 1 < n:
        if s[i + k - 1] == s[l + k - 1]:
            k += 1
        else:
            k_max = max(k_max, k)
            i += 1
            if i == l:
                c += 1
                l += k_max
                i, k, k_max = 0, 1, 1
            else:
                k = 1
    # the final (possibly incomplete) phrase counts once
    return c + (1 if l < n else 0)


def doc_lz_complexity(
    df: DataFrame, id_col: str, text_col: str, max_tokens: int = 10_000
) -> DataFrame:
    """Per-document LZ76 complexity over whitespace tokens — the
    sequence-compressibility quality signal completing the
    repetition tier (:func:`repetition_signals` counts literal
    n-gram repeats, :func:`ttr_curve_auc` reads corpus-level
    vocabulary growth; LZ76 catches STRUCTURED repetition — ABAB
    templates, cyclic boilerplate — that distinct-count measures
    miss). lz_ratio_e6 = phrases·10⁶ div tokens is the normalized
    readout (low = template-like, the dedup-candidate signature).

    Scale shape: one Arrow-batched ``mapInPandas`` pass, per-row cost
    O(len²) in the document's OWN token count, BOUNDED by
    ``max_tokens`` (the mp3/tar walk-cap discipline): a pathological
    multi-million-token document would otherwise stall an executor
    core for hours, so oversized docs quarantine as
    (n_tokens, NULL, NULL) rows — counted, never parsed. Empty docs
    yield (0, 0, NULL)."""
    # the id field keeps the caller's actual type (a hardcoded 'long'
    # silently Arrow-casts int ids and fails string ids)
    id_field = StructField(id_col, df.schema[id_col].dataType)
    out_schema = StructType(
        [
            id_field,
            StructField("n_tokens", LongType()),
            StructField("lz_phrases", LongType()),
            StructField("lz_ratio_e6", LongType()),
        ]
    )
    cols = [id_col, "n_tokens", "lz_phrases", "lz_ratio_e6"]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [w for w in (text or "").split() if w]
                m = len(toks)
                if m > max_tokens:
                    rows.append((did, m, None, None))
                    continue
                c = lz76_complexity(toks)
                rows.append(
                    (did, m, c, (c * 1_000_000 // m) if m else None)
                )
            # columns= keeps the schema on zero-row batches (the
            # multimodal-audit convention — a bare pd.DataFrame([])
            # has no columns and breaks Arrow conversion)
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, text_col).mapInPandas(run, out_schema)
