"""Correctness-gate queries: LLM-data-pipeline extensions (dedup,
similarity search, text analysis) over the `documents` and
`embeddings` tables.

Oracle coverage note: the LSH-based gates (minhash, near-dedup, the
composed pipeline, embedding near-dup) DO carry full value oracles —
their outputs are exact-verified (Jaccard / cosine), so whenever LSH
recall is complete the result equals a SQL-expressible exact pair set
(recall verified 100% at sf0.01 and sf0.1 for these thresholds; the
computation is deterministic xxhash64, so a local pass is a driver
pass). Winnowing gates run a portable md5_60 hash variant.
dedup_simhash and ann_rp_lsh_topk (whose xxhash64-derived internals
DuckDB cannot replay) use planted self-validating oracles: exact
copies unioned in-plan whose expected pair/top-k set is computable
exactly in SQL (hamming 0 / cosine 1.0); organic-behavior invariants
stay in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_fcfs_spark.llm.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from hadoop_fcfs_spark.llm.similarity import cosine_pairs, cosine_topk
from hadoop_fcfs_spark.llm.textan import fingerprint, lang_id, quality_score, token_counts
from hadoop_fcfs_spark.registry import register
from hadoop_fcfs_spark.tables import t

_EN = "'the','a','of','and','to','in','is','it'"
_DE = "'der','die','das','und','ist','ein','nicht','mit'"
_FR = "'le','la','les','et','est','un','une','dans'"
_ES = "'el','la','los','que','y','es','un','en'"

_TOKS = """
    toks AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
      WHERE w <> ''
    )
"""

# Shared language-ID prediction CTE chain builder (the SQL replay of
# llm.textan.lang_id over an arbitrary text expression). The suffixless
# instance below is composed by the langid gates (`langid_confusion`,
# `langid_kappa`, `fleiss_langid`) so the replay can't drift between
# them (the corpus_qa_panel shared-fragment precedent); suffixed
# instances let a PAIRED-model gate (`mcnemar_langid`) replay two
# predictor variants from the one template.
def _langid_chain(text_expr: str, sfx: str = "") -> str:
    return f"""
    toks{sfx} AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array({text_expr}, '\\s+')) AS w FROM documents)
      WHERE w <> ''
    ),
    scores{sfx} AS (
      SELECT doc_id,
        ROUND(SUM(CASE WHEN lower(w) IN ({_DE}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_de,
        ROUND(SUM(CASE WHEN lower(w) IN ({_EN}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_en,
        ROUND(SUM(CASE WHEN lower(w) IN ({_ES}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_es,
        ROUND(SUM(CASE WHEN lower(w) IN ({_FR}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_fr
      FROM toks{sfx} GROUP BY doc_id
    ),
    pred{sfx} AS (
      SELECT doc_id,
        CASE WHEN GREATEST(score_de, score_en, score_es, score_fr) <= 0 THEN 'und'
             WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
             WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
             WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM scores{sfx}
    )"""


_LANGID_PRED_CTES = _langid_chain("text")


@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id
    FROM documents GROUP BY md5(lower(trim(text)))
    """,
    doc="Exact dedup: hash-groupBy on md5(normalized text), min-id representative.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select("doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id AS doc, array_to_string(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM documents))
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_grams FROM grams GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc < b.doc
      GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b,
           ROUND(common / (sa.n_grams + sb.n_grams - common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    """,
    doc="Exact word-3-gram Jaccard over all shingle-sharing pairs.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3)


_EXACT_PAIRS = """
    grams AS (
      SELECT DISTINCT doc_id AS doc, array_to_string(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM {src}))
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_grams FROM grams GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc < b.doc
      GROUP BY a.doc, b.doc
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             ROUND(common / (sa.n_grams + sb.n_grams - common), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE ROUND(common / (sa.n_grams + sb.n_grams - common), 4) >= {thr}
    )
"""


@register(
    "dedup_minhash_lsh",
    oracle="WITH " + _EXACT_PAIRS.format(src="documents", thr=0.8) + """
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    doc="MinHash(64)+LSH(16×4) candidates verified with exact Jaccard — the "
    "sub-quadratic dedup path. Oracle is the exact all-pairs Jaccard ≥ 0.8 "
    "set: hash-equality asserts LSH recall completeness at this threshold on "
    "this corpus (verified 100% at sf0.01 and sf0.1), not just row counts. "
    "CORPUS-PINNED equality gate: precision is exact by construction (every "
    "candidate is Jaccard-verified before emission), while recall of 16×4 "
    "banding is probabilistic in general (P[miss] ≈ 2e-4 for a 0.8-Jaccard "
    "pair) — the gate's hashing is deterministic xxhash64 so the result is "
    "stable for THIS corpus, but a different corpus/SF could fail the "
    "equality with correct code; that event means 'recall gap', not a bug.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


@register(
    "dedup_simhash",
    oracle="""
    SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b, CAST(0 AS INT) AS hamming
    FROM documents WHERE doc_id < 20
    """,
    doc="SimHash-64 near-dup pairs (hamming ≤ 3, the 4-band pigeonhole-complete "
    "radius) via 16-bit band candidates. Planted self-validating value gate: "
    "exact copies of the 20 lowest-id docs are unioned in-plan at doc_id+1e6; "
    "identical text → identical term frequencies → identical signature, so the "
    "banding + bit_count-verify path MUST surface each (d, d+1e6) pair at "
    "hamming 0. The gate projects exactly those pairs (organic near-pairs have "
    "xxhash64-dependent hamming values DuckDB cannot replay; their invariants "
    "stay covered in tests/test_llm.py). Max organic doc_id ≪ 1e6 and planted "
    "ids stop at 1e6+19, so the doc_b = doc_a + 1e6 projection can admit only "
    "the planted pairs.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    pairs = simhash_pairs(docs.unionByName(copies), "doc_id", "text", max_hamming=3)
    return pairs.filter(F.col("doc_b") == F.col("doc_a") + F.lit(1_000_000))


@register(
    "ann_cosine_pairs",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10)
    SELECT query_id, e.vec_id,
           ROUND(list_dot_product(qv, e.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(qv, qv)) *
                  sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 4) + 0.0 AS cos
    FROM q CROSS JOIN embeddings e
    """,
    doc="Brute-force cosine: 10 query vectors × full corpus, broadcast queries.",
)
def ann_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, emb.filter(F.col("vec_id") < 10))


@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT query_id, e.vec_id,
             ROUND(list_dot_product(qv, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 4) + 0.0 AS cos
      FROM q CROSS JOIN embeddings e
      WHERE query_id <> e.vec_id
    )
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM pairs
    ) WHERE rank <= 3
    """,
    doc="Exact ANN baseline: per-query top-3 by cosine (tie-break vec_id).",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


@register(
    "lang_id",
    oracle=f"""
    WITH {_TOKS},
    scores AS (
      SELECT doc_id,
        ROUND(SUM(CASE WHEN lower(w) IN ({_DE}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_de,
        ROUND(SUM(CASE WHEN lower(w) IN ({_EN}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_en,
        ROUND(SUM(CASE WHEN lower(w) IN ({_ES}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_es,
        ROUND(SUM(CASE WHEN lower(w) IN ({_FR}) THEN 1 ELSE 0 END) * 1.0 / GREATEST(COUNT(*), 1), 4) AS score_fr
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, score_de, score_en, score_es, score_fr,
      CASE WHEN GREATEST(score_de, score_en, score_es, score_fr) <= 0 THEN 'und'
           WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
           WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
           WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
           ELSE 'fr' END AS lang_pred
    FROM scores
    """,
    doc="Stopword-ratio language-ID heuristic; argmax with alphabetical tie-break.",
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "quality_score",
    oracle=f"""
    WITH {_TOKS},
    per AS (
      SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS n_uniq,
             AVG(LENGTH(w)) AS mean_len,
             SUM(CASE WHEN regexp_full_match(w, '[a-z]+') THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS alpha_ratio,
             SUM(CASE WHEN lower(w) IN ({_EN}) THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS stop_ratio
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens, n_uniq AS n_uniq_tokens,
           ROUND(mean_len, 4) AS mean_tok_len,
           ROUND(alpha_ratio, 4) AS alpha_ratio,
           ROUND(stop_ratio, 4) AS stop_ratio,
           ROUND(n_uniq * 1.0 / n, 4) AS uniq_ratio,
           CAST(FLOOR((0.3 * LEAST(n / 100.0, 1.0) + 0.3 * stop_ratio
                 + 0.2 * (n_uniq * 1.0 / n) + 0.2 * alpha_ratio) * 1000000) AS BIGINT) AS quality_e6
    FROM per
    """,
    doc="Per-doc quality signals: counts, ratios, composite score.",
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="Whitespace + BPE-ish pre-token counting (pipeline budget accounting).",
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS md5_full,
           md5(array_to_string(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')[1:8], ' ')) AS md5_prefix
    FROM documents
    """,
    doc="Document fingerprints: full-text md5 + 8-word-prefix md5.",
)
def fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(t(spark, sf_dir, "documents"), "doc_id", "text").select(
        "doc_id", "md5_full", "md5_prefix"
    )


@register(
    "near_dedup_corpus",
    oracle="WITH " + _EXACT_PAIRS.format(src="documents", thr=0.8) + """
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
    """,
    doc="End-to-end near-dedup: LSH pairs -> greedy min-id representative "
    "filter. Oracle replays the greedy keep-set over the exact Jaccard ≥ 0.8 "
    "pair set (LSH recall verified complete at this threshold).",
)
def near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import near_dedup

    docs = t(spark, sf_dir, "documents")
    return near_dedup(docs, "doc_id", "text", threshold=0.8).select("doc_id", "lang", "source")


@register(
    "corpus_pipeline",
    oracle=f"""
    WITH {_TOKS},
    per AS (
      SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS n_uniq,
             SUM(CASE WHEN regexp_full_match(w, '[a-z]+') THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS alpha_ratio,
             SUM(CASE WHEN lower(w) IN ({_EN}) THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS stop_ratio
      FROM toks GROUP BY doc_id
    ),
    q AS (
      SELECT doc_id,
             CAST(FLOOR((0.3 * LEAST(n / 100.0, 1.0) + 0.3 * stop_ratio
                   + 0.2 * (n_uniq * 1.0 / n) + 0.2 * alpha_ratio) * 1000000) AS BIGINT) AS quality_e6
      FROM per
    ),
    good AS (SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE quality_e6 >= 300000),
    winners AS (SELECT MIN(doc_id) AS doc_id FROM good GROUP BY md5(lower(trim(text)))),
    uniq AS (SELECT g.* FROM good g JOIN winners USING (doc_id)),
    """ + _EXACT_PAIRS.format(src="uniq", thr=0.85) + """,
    kept AS (SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_b FROM pairs))
    SELECT doc_id, lang, source,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM kept
    """,
    doc="End-to-end training-data pipeline: quality filter -> exact dedup -> "
    "near dedup -> per-doc token accounting. The composed flagship of the "
    "LLM extension surface. Full-value oracle: every stage re-expressed in "
    "SQL over the same corpus (near-dedup stage via the exact Jaccard pair "
    "set; LSH recall verified complete at threshold 0.85).",
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.llm.dedup import exact_dedup, near_dedup
    from hadoop_fcfs_spark.llm.textan import quality_score, token_counts

    docs = t(spark, sf_dir, "documents")
    # 1. quality gate: drop the bottom tail. good is itself waypointed:
    # exact_dedup consumes it TWICE (digest census + the semi-join's
    # left side), so without the persist the quality aggregation —
    # a full pass over the corpus text — executed once per consumer.
    q = quality_score(docs, "doc_id", "text").select("doc_id", "quality_e6")
    good = waypoint(
        docs.join(q.filter(F.col("quality_e6") >= 300_000), "doc_id", "left_semi")
    )
    # 2. exact dedup, 3. near dedup (LSH). The survivors feed THREE
    # consumers each (near-dedup shingling, the anti join, token
    # accounting) — persist the two pipeline waypoints (tracked, see
    # caching.py) so the quality+dedup chain isn't re-derived per
    # consumer.
    unique = waypoint(exact_dedup(good, "doc_id", "text"))
    kept = waypoint(near_dedup(unique, "doc_id", "text", threshold=0.85))
    # 4. token accounting for the surviving corpus
    counts = token_counts(kept, "doc_id", "text")
    return kept.select("doc_id", "lang", "source").join(counts, "doc_id")


@register(
    "dedup_clusters",
    oracle="WITH RECURSIVE " + _EXACT_PAIRS.format(src="documents", thr=0.8) + """,
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT src AS doc, src AS comp FROM edges
      UNION
      SELECT e.dst AS doc, r.comp AS comp FROM reach r JOIN edges e ON e.src = r.doc
    )
    SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM (SELECT doc, MIN(comp) AS component FROM reach GROUP BY doc)
    GROUP BY component
    """,
    doc="Transitive near-dup clusters: exact Jaccard ≥ 0.8 pairs -> connected "
    "components (iterative min-label propagation with pointer doubling — the "
    "driver-loop tier) -> cluster size per component representative. Oracle "
    "computes the same components via a recursive-CTE reachability closure, "
    "so the iterative algorithm gets a full value-hash gate, not rows-only. "
    "(The LSH pair source is separately gated by dedup_minhash_lsh.)",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comps = connected_components(pairs)
    return comps.groupBy("component").agg(F.count("*").alias("cluster_size"))


@register(
    "embedding_near_dup",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 20
    ),
    allpairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 AS cos
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos FROM allpairs WHERE cos >= 0.95
    """,
    doc="Embedding-cosine near-dup pairs: LSH bucket self-join + exact cosine "
    "filter (the vector-side dedup method). The synthetic embeddings are "
    "near-orthogonal (max organic pairwise cosine ≈ 0.48), so the gate "
    "plants exact copies of the 20 lowest-id vectors in-plan — identical "
    "vectors share every RP bucket, so the operator MUST emit exactly "
    "those pairs at cos 1.0. Oracle: brute-force exact cosine over the "
    "same planted corpus (value-hash gate; RP-LSH recall for identical "
    "vectors is exact, and no organic pair reaches 0.95).",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import embedding_near_dup_pairs

    emb = t(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    return embedding_near_dup_pairs(emb.unionByName(copies), threshold=0.95)


_NIB = "instr('0123456789abcdef', substr(m, {p}, 1)) - 1"
_BYTE = f"(({_NIB.format(p='{a}')}) * 16 + ({_NIB.format(p='{b}')}))"


@register(
    "multimodal_pipeline",
    oracle=f"""
    WITH blobs AS (
      SELECT i AS media_id, 'RIFF' || repeat('px' || i::VARCHAR, 300) AS payload
      FROM generate_series(0, 63) s(i)
    ),
    hexed AS (SELECT media_id, payload, md5(payload) AS m FROM blobs)
    SELECT media_id,
           CAST(LENGTH(payload) AS BIGINT) AS size_bytes,
           m AS digest,
           'wav' AS format,
           CAST(16 + {_BYTE.format(a=1, b=2)} % 64 AS INT) AS width,
           CAST(16 + {_BYTE.format(a=3, b=4)} % 64 AS INT) AS height,
           FLOOR({_BYTE.format(a=5, b=6)} / 255.0 * 1000000) / 1000000 AS mean_luma
    FROM hexed
    """,
    doc="Multimodal binary-column pipeline: synthesize blobs, sniff format + "
    "digest metadata (pure exprs), pseudo-decode via mapInPandas (stubbed "
    "codec, real Arrow plumbing). The synthetic payload uses the ASCII "
    "'RIFF' magic so DuckDB can md5 the identical bytes as VARCHAR — "
    "full value-hash oracle including the digest and the md5-derived "
    "pseudo-decode outputs.",
)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.multimodal import attach_media_meta, decode_images

    blobs = spark.range(64).select(
        F.col("id").alias("media_id"),
        F.concat(
            F.lit(b"RIFF"),
            F.encode(F.repeat(F.concat(F.lit("px"), F.col("id").cast("string")), 300), "utf-8"),
        ).alias("payload"),
    )
    meta = attach_media_meta(blobs).select(
        "media_id",
        F.col("media_meta.size_bytes").cast("bigint").alias("size_bytes"),
        F.col("media_meta.digest").alias("digest"),
        F.col("media_meta.format").alias("format"),
    )
    decoded = decode_images(blobs)
    return meta.join(decoded, "media_id")


@register(
    "winnow_fingerprint_stats",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    kh AS (
      SELECT doc_id, lang,
             CASE WHEN len(ws) >= 5
                  THEN [CAST('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15) AS BIGINT)
                        FOR i IN range(1, len(ws) - 3)]
                  ELSE [] END AS khl
      FROM base
    ),
    fps AS (
      SELECT doc_id, lang,
             CASE WHEN len(khl) >= 4
                  THEN [list_min(khl[i:i+3]) FOR i IN range(1, len(khl) - 2)]
                  ELSE khl END AS fpl
      FROM kh
    ),
    per AS (SELECT doc_id, lang, len(list_distinct(fpl)) AS n_fp FROM fps WHERE len(fpl) > 0)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_fp) AS BIGINT) AS total_fp,
           CAST(SUM(n_fp) * 1000000 // COUNT(*) AS BIGINT) AS avg_fp_e6
    FROM per GROUP BY lang
    """,
    doc="Winnowing fingerprint index stats (MOSS scheme, llm.textan."
    "winnow_fingerprints, k=5 w=4): per language, total fingerprints and "
    "mean fingerprints per doc (integer micro-units — no float division). "
    "Gate runs the md5_60 portable hash variant so the full winnowing "
    "pipeline (k-gram hash → sliding min → distinct) is value-oracled in "
    "SQL; the xxhash64 production variant is guarantee-tested in pytest.",
)
def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import winnow_fingerprints

    docs = t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, "doc_id", "text", hash_fn="md5_60")
    per_doc = fp.groupBy("doc").agg(F.count("*").alias("n_fp"))
    joined = docs.select(F.col("doc_id").alias("doc"), "lang").join(per_doc, "doc")
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_fp").cast("long").alias("total_fp"),
        F.expr("CAST(SUM(n_fp) * 1000000 DIV COUNT(*) AS BIGINT)").alias("avg_fp_e6"),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                               '\\s+', ' ', 'g')) AS norm_text,
           CAST(LENGTH(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                           '\\s+', ' ', 'g'))) AS BIGINT) AS norm_chars
    FROM documents
    """,
    doc="Canonical text normalization (lower, punct→space, whitespace collapse) "
    "— the pre-dedup canonical form; full-string value oracle.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import normalize_text

    return normalize_text(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "pii_scrub",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact u' || doc_id::VARCHAR ||
                       '@example.com or +1-555-' || (doc_id % 10000)::VARCHAR ||
                       ' node 10.0.' || (doc_id % 255)::VARCHAR || '.' || (doc_id % 100)::VARCHAR
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'),
             '\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{3,6}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text, '\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{3,6}')) AS BIGINT) AS n_phone
    FROM planted
    """,
    doc="PII redaction (emails / IPv4 / intl phone numbers) with per-kind "
    "audit counts. The synthetic corpus carries no organic PII, so every "
    "7th doc gets a deterministic planted contact line in-plan (both "
    "engines) — non-vacuous by construction.",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import scrub_pii

    docs = t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"), (F.col("doc_id") % 10000).cast("string"),
                F.lit(" node 10.0."), (F.col("doc_id") % 255).cast("string"),
                F.lit("."), (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return scrub_pii(planted, "doc_id", "text")


@register(
    "repetition_signals",
    oracle="""
    WITH base AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    tri AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3
                  THEN [array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]
                  ELSE [] END AS tg
      FROM base
    ),
    dup AS (
      SELECT doc_id,
             CASE WHEN len(tg) > 0
                  THEN CAST(FLOOR((1 - len(list_distinct(tg)) / CAST(len(tg) AS DOUBLE)) * 1000000) AS BIGINT)
                  ELSE 0 END AS dup_trigram_e6
      FROM tri
    ),
    bg AS (
      SELECT doc_id, UNNEST(CASE WHEN len(ws) >= 2
                    THEN [array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]
                    ELSE [] END) AS g
      FROM base
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
    agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, CAST(MAX(c) AS BIGINT) AS top_bigram_n
            FROM cnt GROUP BY doc_id)
    SELECT b.doc_id,
           COALESCE(a.n_bigrams, 0) AS n_bigrams,
           COALESCE(a.top_bigram_n, 0) AS top_bigram_n,
           CASE WHEN COALESCE(a.n_bigrams, 0) > 0
                THEN CAST(FLOOR(a.top_bigram_n / CAST(a.n_bigrams AS DOUBLE) * 1000000) AS BIGINT)
                ELSE 0 END AS top_bigram_e6,
           d.dup_trigram_e6
    FROM base b LEFT JOIN agg a USING (doc_id) JOIN dup d ON d.doc_id = b.doc_id
    """,
    doc="Gopher-style repetition/boilerplate signals: top-bigram coverage "
    "fraction and duplicate-trigram fraction per document (floor-to-micro).",
)
def repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import repetition_signals

    return repetition_signals(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "contamination_check",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 500000, text FROM documents WHERE doc_id % 97 = 0
    ),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    cg AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 12)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM corpus))
    ),
    bg AS (
      SELECT DISTINCT doc_id AS bench_id, array_to_string(ws[i:i+12], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 12)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM bench))
    )
    SELECT bench_id, doc_id, COUNT(*) AS shared_ngrams
    FROM cg JOIN bg USING (gram)
    WHERE doc_id <> bench_id
    GROUP BY bench_id, doc_id
    """,
    doc="Benchmark decontamination: 13-gram overlap between a benchmark set "
    "(every 97th doc) and the corpus. Contaminated copies are planted "
    "in-plan (benchmark docs re-inserted at +500000) so the gate is "
    "non-vacuous; the benchmark docs themselves also match as full-overlap "
    "corpus members (self-pairs excluded).",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import contamination_overlap

    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    corpus = docs.select("doc_id", "text").unionByName(
        bench.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    )
    return contamination_overlap(corpus, bench, "doc_id", "text", n=13)


@register(
    "sequence_packing",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS tks
      FROM documents
    ),
    pre AS (
      SELECT doc_id, tks,
             COALESCE(SUM(tks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
      FROM tk
    )
    SELECT CAST(p // 2048 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tks) AS BIGINT) AS sum_tokens
    FROM pre GROUP BY 1
    """,
    doc="Training-sequence packing manifest: docs laid out in id order, a new "
    "2048-token sequence per budget boundary of the running total. Spark side "
    "is a TWO-LEVEL distributed prefix sum (per-chunk window + broadcast "
    "chunk offsets — no single-partition global window); oracle is the "
    "equivalent single-node window scan.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.packing import pack_sequences, packing_manifest
    from hadoop_fcfs_spark.llm.textan import token_counts

    docs = t(spark, sf_dir, "documents")
    tk = token_counts(docs, "doc_id", "text").select("doc_id", "ws_tokens")
    packed = pack_sequences(tk, "doc_id", "ws_tokens", budget=2048, chunk=1000)
    return packing_manifest(packed)


@register(
    "ann_ivf_topk",
    oracle="""
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 16),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT c.vec_id, c.v, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct) WHERE rn = 1
    ),
    queries AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, cid AS cell FROM (
        SELECT q.query_id, q.qv, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY list_distance(q.qv, ct.cv), ct.cid) AS rn
        FROM queries q CROSS JOIN cents ct) WHERE rn <= 4
    ),
    pairs AS (
      SELECT p.query_id, a.vec_id,
             ROUND(list_dot_product(p.qv, a.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) *
                    sqrt(list_dot_product(a.v, a.v))), 4) + 0.0 AS cos
      FROM probes p JOIN assign a USING (cell)
      WHERE p.query_id <> a.vec_id
    )
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM pairs) WHERE rank <= 3
    """,
    doc="IVF ANN (llm.similarity.ivf_topk): corpus partitioned into coarse "
    "cells, queries probe their 4 nearest of 16 cells, exact cosine top-3 "
    "within probed cells. Gate uses a FIXED coarse quantizer (the 16 "
    "lowest-id vectors) so the full IVF mechanics — assignment argmin, "
    "multi-cell probing, cell-restricted scoring — get a value-hash oracle; "
    "the k-means index build is covered by pytest (iterative tier).",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=3, n_probe=4, centroids=cents
    )


@register(
    "ann_rp_lsh_topk",
    oracle="""
    SELECT q.vec_id AS query_id,
           1000000 + q.vec_id * 3 + j AS vec_id,
           1.0::DOUBLE AS cos,
           CAST(j + 1 AS INT) AS rank
    FROM embeddings q, generate_series(0, 2) s(j)
    WHERE q.vec_id < 10
    """,
    doc="Random-hyperplane LSH ANN (llm.similarity.rp_lsh_topk): sign-pattern "
    "buckets, exact cosine within candidates. Planted self-validating value "
    "gate: 3 exact copies of each of the 10 query vectors are unioned in-plan "
    "at vec_id 1e6+3q+j. An identical vector has identical projections, hence "
    "shares EVERY bucket with its query (recall 1 by construction), and its "
    "cosine rounds to exactly 1.0 — while the organic corpus is "
    "near-orthogonal (max pairwise cos ≈ 0.48), so the top-3 per query MUST "
    "be the 3 planted copies ranked by vec_id. Bucket-recall invariants for "
    "organic vectors stay covered in pytest.",
)
def ann_rp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import rp_lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    copies = queries.select(
        "vec_id",
        "embedding",
        "label",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    ).select(
        (F.lit(1_000_000) + F.col("vec_id") * 3 + F.col("j")).alias("vec_id"),
        "embedding",
        "label",
    )
    return rp_lsh_topk(emb.unionByName(copies), queries, k=3)


@register(
    "char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, UNNEST([substr(text, i, 1) FOR i IN range(1, LENGTH(text) + 1)]) AS c
      FROM documents
    ),
    cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c),
    per AS (SELECT doc_id, SUM(n) AS tot, SUM(n * log2(n)) AS nlogn FROM cnt GROUP BY doc_id)
    SELECT doc_id, CAST(tot AS BIGINT) AS n_chars,
           CAST(FLOOR((log2(tot) - nlogn / tot) * 1000000) AS BIGINT) AS entropy_e6
    FROM per
    """,
    doc="Character-distribution Shannon entropy per doc (floor-micro bits) — "
    "the cheap perplexity proxy for pipeline filtering; algebraic one-pass "
    "form H = log2(T) − Σ n·log2 n / T.",
)
def char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import char_entropy

    return char_entropy(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "chunk_documents",
    oracle="""
    WITH base AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    st AS (
      SELECT doc_id, ws, UNNEST(CASE WHEN len(ws) > 0 THEN range(1, len(ws) + 1, 48)
                                     ELSE [] END) AS s
      FROM base
    ),
    ch AS (SELECT doc_id, CAST((s - 1) // 48 AS INT) AS chunk_idx, ws[s:s+63] AS toks FROM st)
    SELECT doc_id, chunk_idx, array_to_string(toks, ' ') AS chunk_text,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM ch WHERE chunk_idx = 0 OR len(toks) > 16
    """,
    doc="Overlapping fixed-width document chunking (64-token windows, "
    "16-token overlap, stride 48) — the RAG / context-window prep op; "
    "pure expressions, trailing windows fully covered by the previous "
    "chunk are dropped.",
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), "doc_id", "text", chunk_tokens=64, overlap=16
    )


@register(
    "tf_idf",
    oracle=f"""
    WITH {_TOKS},
    tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    nn AS (SELECT COUNT(*) AS N FROM documents)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(FLOOR(tf * (ln((N + 1) / (doc_freq + 1)) + 1) * 1000000) AS BIGINT) AS tfidf_e6
    FROM tf JOIN dfq USING (term) CROSS JOIN nn
    """,
    doc="Smoothed TF-IDF per (doc, term) over the term-statistics kernel "
    "(llm.textan._term_stats): one tokenize pass, tf and df on one term "
    "exchange + the broadcast document count N; idf = ln((N+1)/(df+1))+1, "
    "weights floor-micro.",
)
def tf_idf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import tf_idf

    return tf_idf(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "near_dedup_clustered",
    oracle="WITH RECURSIVE " + _EXACT_PAIRS.format(src="documents", thr=0.8) + """,
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT src AS doc, src AS comp FROM edges
      UNION
      SELECT e.dst AS doc, r.comp AS comp FROM reach r JOIN edges e ON e.src = r.doc
    ),
    labels AS (SELECT doc, MIN(comp) AS component FROM reach GROUP BY doc)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT doc FROM labels WHERE doc <> component)
    """,
    doc="Near-dedup with exact transitive-closure clusters: pairs -> "
    "connected components -> keep ONE representative (the min id) per "
    "component, unlike the greedy near_dedup which over-removes chains. "
    "Oracle replays the closure via recursive CTE and drops every "
    "non-representative member. Gate feeds the components from the exact "
    "Jaccard pairs so the keep-set is oracle-defined.",
)
def near_dedup_clustered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "source")


@register(
    "zipf_slope_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
      WHERE w <> ''
    ),
    tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w),
    rk AS (
      SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS r
      FROM tf
    ),
    qz AS (
      SELECT n,
             CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS u,
             CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS lf
      FROM rk
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(lf) AS BIGINT) AS sw,
             SUM(CAST(u AS HUGEINT) * u) AS suu,
             SUM(CAST(u AS HUGEINT) * lf) AS suw
      FROM qz
    )
    SELECT k AS vocab_size, n_tokens,
      CASE WHEN (CAST(k AS HUGEINT) * suu - CAST(su AS HUGEINT) * su) > 0
            AND (CAST(su AS HUGEINT) * sw - CAST(k AS HUGEINT) * suw) >= 0
      THEN CAST(((CAST(su AS HUGEINT) * sw - CAST(k AS HUGEINT) * suw)
                 * 1000000)
        // (CAST(k AS HUGEINT) * suu - CAST(su AS HUGEINT) * su) AS BIGINT)
      END AS zipf_exponent_e6
    FROM m
    """,
    doc="Zipf exponent of the corpus token-frequency curve "
    "(llm.textan.zipf_slope): least-squares fit of ln f = c - s*ln r "
    "over the ENTIRE rank-frequency table on the vocab_stats grain - "
    "the one-number lexical-health summary (natural corpora sit near "
    "s ~ 1; boilerplate-heavy or over-deduplicated corpora drift "
    "visibly; a moved exponent between snapshots is vocabulary drift "
    "TTR misses). ln is the one blessed bit-identical libm call and "
    "both logs floor-micro quantize IMMEDIATELY, making the OLS "
    "moments exact BIGINT/DECIMAL(38,0) - accumulation order cannot "
    "matter; the exponent is reported positive so the single "
    "truncating division stays on the probed nonnegative domain. "
    "Ranks via ranked_total_order (range-partitioned; the oracle's "
    "ROW_NUMBER window is the oracle's privilege).",
)
def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import zipf_slope

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return zipf_slope(tf, "w", "n")


@register(
    "vocab_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
      WHERE w <> ''
    ),
    tf AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w)
    SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(COUNT(*) FILTER (n = 1) AS BIGINT) AS hapax_n,
           CAST(FLOOR(COUNT(*) * 1000000.0 / SUM(n)) AS BIGINT) AS ttr_e6
    FROM tf
    """,
    doc="Corpus vocabulary statistics (word-count shape, "
    "AggregateWordCount parity applied to corpus QA): total tokens, "
    "vocabulary size, hapax-legomena count, floor-micro type/token ratio. "
    "One token-frequency aggregation (map-side combine) then a scalar "
    "rollup — the standard pre-training corpus health check.",
)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", r"\s+")).alias("w")).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").alias("n"))
    return tf.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax_n"),
        F.floor(F.count("*") * F.lit(1_000_000.0) / F.sum("n")).cast("long").alias("ttr_e6"),
    )


@register(
    "lm_perplexity",
    oracle="""
    WITH base AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 1)) AS i
            FROM base WHERE len(ws) >= 2)
    ),
    big_c AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY w1, w2),
    uni_c AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY w1),
    voc AS (SELECT COUNT(DISTINCT w) AS v
            FROM (SELECT w1 AS w FROM grams UNION ALL SELECT w2 FROM grams)),
    scored AS (
      SELECT g.doc_id,
             -log2((b.c12 + 0.5) / (u.c1 + 0.5 * voc.v)) AS nl
      FROM grams g
      JOIN big_c b USING (w1, w2)
      JOIN uni_c u USING (w1)
      CROSS JOIN voc
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(FLOOR(AVG(nl) * 1000000) AS BIGINT) AS nll_e6
    FROM scored GROUP BY doc_id
    """,
    doc="Corpus-trained bigram LM with add-0.5 smoothing scoring every doc's "
    "mean -log2 p(w2|w1) — the KenLM-style perplexity quality filter as "
    "relational algebra (llm.textan.bigram_lm_scores). Count tables join "
    "back on their own grouping keys (co-located shuffles); only the "
    "vocabulary-size scalar broadcasts.",
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import bigram_lm_scores

    return bigram_lm_scores(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS g
      FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk) - 8 + 2)) AS i FROM toks)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
    brks AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 7
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brks
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    """,
    doc="Exact duplicate-substring tier (Lee et al. 2022 suffix-array dedup "
    "re-expressed as posting lists): every maximal token span whose 8-token "
    "windows all repeat corpus-wide. One 8-byte-fingerprint aggregation + a "
    "semi-join + a per-DOCUMENT gaps-and-islands window — no global sort, "
    "no all-pairs join (llm.spans.duplicate_spans).",
)
def duplicate_spans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.spans import duplicate_spans

    docs = t(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text", w=8, min_count=2)


@register(
    "duplicate_span_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS g
      FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk) - 8 + 2)) AS i FROM toks)
    ),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
    brks AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 7
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brks
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
           CAST(MAX(e - s + 1) AS BIGINT) AS max_span_len
    FROM spans GROUP BY doc_id
    """,
    doc="Per-document duplicated-span triage summary (span count, duplicated "
    "token mass, longest span) — what a removal policy ranks documents by "
    "(llm.spans.duplicate_span_stats).",
)
def duplicate_span_stats_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.spans import duplicate_span_stats

    docs = t(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, "doc_id", "text", w=8, min_count=2)


@register(
    "semdedup",
    oracle="""
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 16),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT c.vec_id, c.v, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct) WHERE rn = 1
    ),
    losers AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b USING (cell)
      WHERE a.vec_id < b.vec_id
        AND ROUND(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 >= 0.95
    )
    SELECT vec_id, CAST(cell AS INT) AS cell
    FROM assign WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """,
    doc="SemDeDup (Abbas et al. 2023): k-means cells + within-cell cosine "
    "dedup, lowest-id survivor (llm.similarity.semdedup). Gate uses the "
    "FIXED 16-lowest-id coarse quantizer (ann_ivf_topk pattern) so cell "
    "assignment + the quadratic-within-cell-only pair step get a full "
    "value-hash oracle; the k-means build stays pytest-covered.",
)
def semdedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import semdedup

    emb = t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return semdedup(emb, threshold=0.95, centroids=cents)


@register(
    "boilerplate_removal",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    units AS (
      SELECT doc_id, i AS upos,
             array_to_string(tk[i*16+1 : i*16+16], ' ') AS unit
      FROM (SELECT doc_id, tk,
                   UNNEST(range(0, CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS i
            FROM toks)
    ),
    boiler AS (
      SELECT unit FROM units GROUP BY unit HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
      SELECT doc_id, upos, unit,
             unit IN (SELECT unit FROM boiler) AS is_b
      FROM units
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT is_b THEN unit END, ' ' ORDER BY upos), '')
             AS clean_text,
           CAST(COUNT(*) FILTER (NOT is_b) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (is_b) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY doc_id
    """,
    doc="CCNet/C4-style boilerplate pass (llm.spans.remove_boilerplate_units): "
    "16-token units duplicated across >= 2 DISTINCT documents are dropped "
    "and documents reassembled from surviving units in order. One "
    "fingerprint aggregation + one flag join + one per-doc reassembly — "
    "three linear shuffles.",
)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.spans import remove_boilerplate_units

    docs = t(spark, sf_dir, "documents")
    return remove_boilerplate_units(docs, "doc_id", "text", unit_tokens=16, min_docs=2)


@register(
    "dedup_incremental",
    oracle="""
    WITH ref AS (
      SELECT DISTINCT md5(lower(trim(text))) AS d FROM documents WHERE doc_id < 250
    ),
    fresh AS (
      SELECT doc_id, md5(lower(trim(text))) AS d FROM documents
      WHERE doc_id >= 250
        AND md5(lower(trim(text))) NOT IN (SELECT d FROM ref)
    )
    SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY d
    """,
    doc="Incremental-ingestion dedup (llm.dedup.incremental_exact_dedup): a "
    "new batch (doc_id >= 250) anti-joins the accumulated corpus's digest "
    "set (doc_id < 250), then exact-dedups within the batch. Digest-only "
    "shuffles; the reference side is a 16-byte/doc digest table at scale "
    "(bloom-backed via write_sorted_bucketed).",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import incremental_exact_dedup

    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= 250)
    reference = docs.filter(F.col("doc_id") < 250)
    return incremental_exact_dedup(batch, reference, "doc_id", "text").select("doc_id")


@register(
    "fuzzy_term_join",
    oracle="""
    WITH vocab0 AS (
      SELECT DISTINCT w AS term FROM (
        SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
      WHERE w <> '' AND LENGTH(w) >= 4
    ),
    vocab AS (
      SELECT term FROM vocab0
      UNION
      SELECT term || 'x' FROM vocab0
    ),
    keyed AS (
      SELECT term,
             UNNEST(list_append([term[1:i-1] || term[i+1:]
                                 FOR i IN range(1, LENGTH(term) + 1)], term)) AS v
      FROM vocab
    )
    SELECT term_a, term_b, CAST(levenshtein(term_a, term_b) AS BIGINT) AS dist
    FROM (
      SELECT DISTINCT a.term AS term_a, b.term AS term_b
      FROM keyed a JOIN keyed b USING (v)
      WHERE a.term < b.term
    )
    WHERE levenshtein(term_a, term_b) <= 1
    """,
    doc="Approximate string self-join at edit distance <= 1 "
    "(ops.textops.fuzzy_term_pairs, the FastSS deletion-neighborhood "
    "algorithm): O(len) variants per term + equi-join buckets, never "
    "vocabulary²; candidates verified with exact levenshtein. Gate plants "
    "an 'x'-suffixed misspelling of every vocab term in-plan so the pair "
    "set is non-trivial and exactly SQL-replayable.",
)
def fuzzy_term_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.textops import fuzzy_term_pairs

    docs = t(spark, sf_dir, "documents")
    vocab0 = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("term"))
        .filter((F.col("term") != "") & (F.length("term") >= 4))
        .distinct()
    )
    vocab = vocab0.unionByName(
        vocab0.select(F.concat(F.col("term"), F.lit("x")).alias("term"))
    ).distinct()
    return fuzzy_term_pairs(vocab).withColumn("dist", F.col("dist").cast("long"))


@register(
    "corpus_drift",
    oracle="""
    WITH ca AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
        FROM documents WHERE doc_id < 250)
      WHERE w <> '' GROUP BY w
    ),
    cb AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
        FROM documents WHERE doc_id >= 250)
      WHERE w <> '' GROUP BY w
    ),
    joined AS (
      SELECT COALESCE(ca.c, 0) AS xa, COALESCE(cb.c, 0) AS xb
      FROM ca FULL OUTER JOIN cb USING (w)
    ),
    tot AS (SELECT SUM(xa) AS na, SUM(xb) AS nb, COUNT(*) AS v FROM joined),
    p AS (
      SELECT (xa + 0.5) / (na + 0.5 * v) AS pa,
             (xb + 0.5) / (nb + 0.5 * v) AS pb
      FROM joined CROSS JOIN tot
    )
    SELECT CAST(FLOOR(SUM(pa * ln(pa / pb) / ln(2)) * 1000000) AS BIGINT) AS kl_ab_e6,
           CAST(FLOOR(SUM(pb * ln(pb / pa) / ln(2)) * 1000000) AS BIGINT) AS kl_ba_e6,
           CAST(FLOOR((SUM(pa * ln(pa / ((pa + pb) / 2.0)) / ln(2)) / 2
                     + SUM(pb * ln(pb / ((pa + pb) / 2.0)) / ln(2)) / 2)
                     * 1000000) AS BIGINT) AS js_e6
    FROM p
    """,
    doc="Corpus drift monitor (llm.textan.token_distribution_divergence): "
    "add-0.5-smoothed KL(A||B), KL(B||A) and Jensen-Shannon divergence "
    "between the token distributions of two corpus halves. Two word-count "
    "aggregations + a vocabulary-sized full-outer join + a scalar rollup "
    "— the cheap tripwire that fires before expensive downstream evals "
    "when the crawl distribution moves.",
)
def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import token_distribution_divergence

    docs = t(spark, sf_dir, "documents")
    return token_distribution_divergence(
        docs.filter(F.col("doc_id") < 250), docs.filter(F.col("doc_id") >= 250)
    )


@register(
    "corpus_pipeline_v2",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    units AS (
      SELECT doc_id, i AS upos,
             array_to_string(tk[i*16+1 : i*16+16], ' ') AS unit
      FROM (SELECT doc_id, tk,
                   UNNEST(range(0, CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS i
            FROM toks)
    ),
    boiler AS (
      SELECT unit FROM units GROUP BY unit HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cleaned AS (
      SELECT doc_id,
             COALESCE(string_agg(CASE WHEN unit NOT IN (SELECT unit FROM boiler)
                                      THEN unit END, ' ' ORDER BY upos), '') AS clean_text
      FROM units GROUP BY doc_id
    ),
    nonempty AS (SELECT * FROM cleaned WHERE clean_text <> ''),
    winners AS (
      SELECT MIN(doc_id) AS doc_id FROM nonempty GROUP BY md5(lower(trim(clean_text)))
    )
    SELECT n.doc_id,
           CAST(len(list_filter(regexp_split_to_array(n.clean_text, '\\s+'), x -> x <> ''))
                AS BIGINT) AS clean_tokens
    FROM nonempty n JOIN winners USING (doc_id)
    """,
    doc="Composed pipeline v2 over the round-3 tiers: CCNet boilerplate "
    "removal (cross-doc duplicated 16-token units dropped, docs "
    "reassembled) -> drop emptied docs -> exact dedup ON THE CLEANED "
    "text (boilerplate-stripped twins collapse that raw-text dedup "
    "misses) -> per-doc clean token accounting. Every stage linear; "
    "full-value SQL oracle composes the per-stage oracles.",
)
def corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import exact_dedup
    from hadoop_fcfs_spark.llm.spans import remove_boilerplate_units

    docs = t(spark, sf_dir, "documents")
    cleaned = remove_boilerplate_units(docs, "doc_id", "text", unit_tokens=16, min_docs=2)
    nonempty = cleaned.filter(F.col("clean_text") != "").select("doc_id", "clean_text")
    unique = exact_dedup(nonempty, "doc_id", "clean_text")
    ntok = F.size(F.filter(F.split(F.col("clean_text"), r"\s+"), lambda x: x != F.lit("")))
    return unique.select("doc_id", ntok.cast("long").alias("clean_tokens"))


@register(
    "bm25_retrieval",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    lens AS (SELECT doc_id, len(tk) AS dl FROM toks),
    pairs AS (SELECT doc_id, unnest(tk) AS term FROM toks),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM pairs GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
              FROM tf GROUP BY 1),
    sc AS (SELECT CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS n,
                  (SELECT AVG(dl) FROM lens) AS avgdl),
    scored AS (
      SELECT t.doc_id,
             FLOOR(ln(1 + (sc.n - d.doc_freq + 0.5) / (d.doc_freq + 0.5))
                   * (t.tf * (1.2 + 1.0)
                      / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avgdl)))
                   * 1000000.0) AS e6
      FROM tf t JOIN dfreq d USING (term) JOIN lens l USING (doc_id)
      CROSS JOIN sc
      WHERE t.term IN ('hash', 'join', 'scan')
    )
    SELECT doc_id, CAST(SUM(e6) AS BIGINT) AS score_e6
    FROM scored GROUP BY doc_id
    ORDER BY score_e6 DESC, doc_id LIMIT 20
    """,
    doc="BM25 retrieval (llm.textan.bm25_scores): Okapi BM25 with "
    "doc-length normalization — idf*(tf*(k1+1))/(tf+k1*(1-b+b*dl/avgdl)) "
    "— scored per (doc, term), summed over the query terms "
    "{hash, join, scan}, top-20 docs. The ranking function behind "
    "Lucene-style retrieval and retrieval-based data curation; per-term "
    "floor-micro scores summed exactly so ordering is engine-stable.",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import bm25_scores

    docs = t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, "doc_id", "text")
    return (
        scored.filter(F.col("term").isin("hash", "join", "scan"))
        .groupBy("doc_id")
        .agg(F.sum("bm25_e6").cast("long").alias("score_e6"))
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "containment_dedup",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    quotes AS (
      SELECT doc_id + 2000000 AS doc_id, array_to_string(ws[1:12], ' ') AS text
      FROM toks0 WHERE len(ws) >= 12
    ),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM quotes
    ),
    grams AS (
      SELECT DISTINCT doc_id AS doc, array_to_string(ws2[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws2, UNNEST(generate_series(1, len(ws2) - 2)) AS i
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws2
                  FROM corpus))
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_grams FROM grams GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc <> b.doc
      GROUP BY a.doc, b.doc
    )
    SELECT doc_a AS doc_small, doc_b AS doc_big,
           ROUND(common / sa.n_grams, 4) AS containment
    FROM inter JOIN sizes sa ON sa.doc = doc_a
    WHERE ROUND(common / sa.n_grams, 4) >= 0.99 AND doc_a >= 2000000
    """,
    doc="Asymmetric containment dedup (llm.dedup.containment_pairs): "
    "C(a in b) = |A∩B|/|A| over word 3-gram sets — catches a short doc "
    "quoted wholesale inside a long one, where symmetric Jaccard is "
    "tiny because the union is dominated by the long doc. Planted "
    "oracle: each doc's first 12 words re-enter as a quote doc at "
    "id+2e6; every quote's gram set is a subset of its source's, so "
    "containment is exactly 1.0 — the gate projects the quote-side "
    "pairs at threshold 0.99.",
)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import containment_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    quotes = (
        docs.withColumn("__ws", ws)
        .filter(F.size("__ws") >= 12)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.array_join(F.slice("__ws", 1, 12), " ").alias("text"),
        )
    )
    corpus = docs.unionByName(quotes)
    pairs = containment_pairs(corpus, "doc_id", "text", n=3, threshold=0.99)
    return pairs.filter(F.col("doc_small") >= 2_000_000)


@register(
    "corpus_report",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars,
             len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS ntok,
             md5(lower(trim(text))) AS dig
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT dig) AS BIGINT) AS n_unique_texts,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(FLOOR(AVG(ntok) * 1000000) AS BIGINT) AS mean_tokens_e6
    FROM d
    """,
    doc="Dataset-card summary in ONE pass: corpus size, exact-dup rate "
    "(distinct content digests vs docs), language/source cardinality, "
    "token and char mass, mean doc length — the numbers every corpus "
    "release documents. All algebraic aggregates + two distinct-counts "
    "over digests/categories; at 100 TB swap the exact distincts for "
    "the HLL tier (same query shape, agg.sketches).",
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")))
    dig = F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
    d = docs.select("lang", "source", "n_chars", ntok.alias("__ntok"), dig.alias("__dig"))
    return d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("__dig").cast("long").alias("n_unique_texts"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("__ntok").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.floor(F.avg("__ntok") * 1_000_000).cast("long").alias("mean_tokens_e6"),
    )


@register(
    "cross_source_duplication",
    oracle="""
    WITH d AS (
      SELECT DISTINCT source, md5(lower(trim(text))) AS dig
      FROM (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'mirror' AS source, text
        FROM documents WHERE doc_id % 5 = 0
      )
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_texts
    FROM d a JOIN d b USING (dig)
    WHERE a.source < b.source
    GROUP BY 1, 2
    """,
    doc="Cross-source duplication matrix: for every source pair, how many "
    "distinct text digests appear in BOTH — the mixing diagnostic that "
    "catches a mirrored/scraped-twice source before it double-weights "
    "the training mix. Planted: every 5th doc re-enters under a "
    "'mirror' source, so (srcN, mirror) rows pin exact expected counts. "
    "Digest-only shuffles; the digest self-join is bounded by per-digest "
    "source cardinality (stop-digest skew would need a max_doc_freq "
    "guard like the shingle joins).",
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("source", "text")
    mirror = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.lit("mirror").alias("source"), "text")
    )
    dig = F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
    d = docs.unionByName(mirror).select("source", dig.alias("dig")).distinct()
    a = d.select(F.col("source").alias("source_a"), "dig")
    b = d.select(F.col("source").alias("source_b"), "dig")
    return (
        a.join(b, "dig")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared_texts"))
    )


@register(
    "corpus_pipeline_v3",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, text,
             len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS ntok,
             md5(lower(trim(text))) AS dig
      FROM documents
    ),
    quality AS (SELECT * FROM toks WHERE ntok >= 20),
    winners AS (SELECT dig, MIN(doc_id) AS doc_id FROM quality GROUP BY dig),
    unique_docs AS (
      SELECT q.doc_id, q.source, q.ntok, q.dig
      FROM quality q JOIN winners w ON q.doc_id = w.doc_id AND q.dig = w.dig
    ),
    split AS (
      SELECT source, ntok,
             CASE WHEN CAST('0x' || substr(md5(dig), 1, 8) AS BIGINT) < 1073741824
                  THEN 'holdout' ELSE 'train' END AS split
      FROM unique_docs
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS tokens
    FROM split GROUP BY 1, 2
    """,
    doc="Composed pipeline v3 over the round-4 tiers: token-count "
    "quality floor -> exact dedup (min-id winners) -> DUPLICATE-SAFE "
    "train/holdout carve (content-digest split key: surviving docs and "
    "any residual copies land on the same side) -> per-(split, source) "
    "doc and token accounting, the table a mixing run starts from. "
    "Every stage linear, digest-only shuffles; full-value SQL oracle "
    "composes the per-stage oracles.",
)
def corpus_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import exact_dedup
    from hadoop_fcfs_spark.ops.sampling import duplicate_safe_split

    docs = t(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")))
    quality = docs.withColumn("__ntok", ntok).filter(F.col("__ntok") >= 20)
    unique = exact_dedup(quality, "doc_id", "text")
    carved = duplicate_safe_split(unique, "doc_id", "text", 0.25)
    return carved.groupBy("split", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__ntok").cast("long").alias("tokens"),
    )


@register(
    "centroid_separation",
    oracle="""
    WITH e AS (
      SELECT label, i - 1 AS pos, embedding[i] AS val
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS (SELECT label, pos, AVG(val) AS c FROM e GROUP BY 1, 2),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.c * b.c) AS dot, SUM(a.c * a.c) AS na, SUM(b.c * b.c) AS nb
      FROM cent a JOIN cent b USING (pos)
      WHERE a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           CAST(FLOOR(dot / sqrt(na * nb) * 1000000) AS BIGINT) AS cos_e6
    FROM pairs
    """,
    doc="Embedding class-separation report (llm.similarity."
    "label_centroids + centroid_cosines): per-label centroids computed "
    "dimension-sharded (posexplode + (label, dim) average — a label "
    "with a billion members never funnels through one task), pairwise "
    "centroid cosines from a tiny dimension-index self-join. The "
    "embedding-drift canary: a drifting or collapsing encoder moves "
    "centroid geometry long before top-k recall visibly degrades.",
)
def centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import centroid_cosines, label_centroids

    emb = t(spark, sf_dir, "embeddings")
    return centroid_cosines(label_centroids(emb, "vec_id", "embedding", "label"))


def _pq_sql_subdist(vec_expr: str, cb_expr: str) -> str:
    """Σ_{d=1..16} (double(vec[j*16+d]) - double(cb[j*16+d]))² with the
    same left-to-right accumulation and float→double promotion as the
    Spark expressions (FLOAT arithmetic in DuckDB would diverge)."""
    return (
        "list_sum(list_transform(generate_series(1, 16), d -> "
        f"(CAST({vec_expr}[s.j*16+d] AS DOUBLE) - CAST({cb_expr}[s.j*16+d] AS DOUBLE))"
        f" * (CAST({vec_expr}[s.j*16+d] AS DOUBLE) - CAST({cb_expr}[s.j*16+d] AS DOUBLE))))"
    )


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id - 100 AS c, embedding AS cemb
      FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    subspaces AS (SELECT UNNEST(generate_series(0, 3)) AS j),
    enc_d AS (
      SELECT e.vec_id, s.j, cb.c,
             {_pq_sql_subdist("e.embedding", "cb.cemb")} AS dist
      FROM embeddings e CROSS JOIN subspaces s CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM enc_d) WHERE rn = 1
    ),
    q_d AS (
      SELECT qe.vec_id AS query_id, s.j, cb.c,
             {_pq_sql_subdist("qe.embedding", "cb.cemb")} AS dist
      FROM embeddings qe CROSS JOIN subspaces s CROSS JOIN cb
      WHERE qe.vec_id < 5
    ),
    adc AS (
      SELECT q.query_id, co.vec_id, SUM(q.dist) AS dist
      FROM codes co JOIN q_d q ON q.j = co.j AND q.c = co.c
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id,
             CAST(FLOOR(dist * 1000000) AS BIGINT) AS dist_e6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY FLOOR(dist * 1000000), vec_id) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, dist_e6, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    doc="Product-quantization ANN (llm.similarity.pq_encode/pq_adc_topk, "
    "Jegou et al. 2011): 64-dim vectors -> 4 subspace codes against an "
    "8-centroid-per-subspace codebook (vectors 100..107, deterministic), "
    "then asymmetric-distance top-3 per query via per-query lookup "
    "tables — the memory-bound third ANN scale path next to brute/LSH/"
    "IVF (compose with IVF cells for IVFADC). Oracle replays encode + "
    "LUT + scan fully relationally; float->double promotion and "
    "accumulation order matched expression-for-expression.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import pq_adc_topk, pq_encode

    emb = t(spark, sf_dir, "embeddings")
    # codebooks: vectors 100..107 split into 4 x 16-dim subvectors —
    # bounded driver collect (8 rows), the fixed-quantizer pattern
    cb_rows = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") <= 107))
        .orderBy("vec_id")
        .collect()
    )
    codebooks = [
        [[float(x) for x in r["embedding"][j * 16 : (j + 1) * 16]] for r in cb_rows]
        for j in range(4)
    ]
    codes = pq_encode(emb, codebooks)
    queries = emb.filter(F.col("vec_id") < 5)
    return pq_adc_topk(codes, queries, codebooks, k=3)


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 16),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT c.vec_id, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct) WHERE rn = 1
    ),
    cb AS (
      SELECT vec_id - 100 AS c, embedding AS cemb
      FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    subspaces AS (SELECT UNNEST(generate_series(0, 3)) AS j),
    enc_d AS (
      SELECT e.vec_id, s.j, cb.c,
             {_pq_sql_subdist("e.embedding", "cb.cemb")} AS dist
      FROM embeddings e CROSS JOIN subspaces s CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM enc_d) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT q.vec_id AS query_id, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_distance(q.v, ct.cv), ct.cid) AS rn
        FROM corpus q CROSS JOIN cents ct WHERE q.vec_id < 5) WHERE rn <= 4
    ),
    q_d AS (
      SELECT qe.vec_id AS query_id, s.j, cb.c,
             {_pq_sql_subdist("qe.embedding", "cb.cemb")} AS dist
      FROM embeddings qe CROSS JOIN subspaces s CROSS JOIN cb
      WHERE qe.vec_id < 5
    ),
    adc AS (
      SELECT p.query_id, a.vec_id, SUM(q.dist) AS dist
      FROM probes p
      JOIN assign a USING (cell)
      JOIN codes co ON co.vec_id = a.vec_id
      JOIN q_d q ON q.query_id = p.query_id AND q.j = co.j AND q.c = co.c
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id,
             CAST(FLOOR(dist * 1000000) AS BIGINT) AS dist_e6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY FLOOR(dist * 1000000), vec_id) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, dist_e6, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    doc="IVFADC (llm.similarity.ivf_pq_topk, Jegou et al. 2011): the "
    "composed billion-scale ANN — coarse IVF routing (fixed 16-cell "
    "quantizer, 4 probes) bounds WHICH PQ codes each query scans; "
    "asymmetric-distance lookup tables bound WHAT a scan costs. Corpus "
    "stored as (cell, 4 subspace codes). Oracle replays assignment, "
    "encode, probing and the restricted ADC scan fully relationally.",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import ivf_pq_topk

    emb = t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    cb_rows = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") <= 107))
        .orderBy("vec_id")
        .collect()
    )
    codebooks = [
        [[float(x) for x in r["embedding"][j * 16 : (j + 1) * 16]] for r in cb_rows]
        for j in range(4)
    ]
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), codebooks, k=3, n_probe=4, centroids=cents
    )


@register(
    "kn_bigram_model",
    oracle="""
    WITH base AS (
      SELECT list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM (SELECT ws, UNNEST(generate_series(1, len(ws) - 1)) AS i
            FROM base WHERE len(ws) >= 2)
    ),
    big_c AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY w1, w2),
    lft AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS left_types FROM big_c GROUP BY w1),
    rgt AS (SELECT w2, COUNT(*) AS right_types FROM big_c GROUP BY w2),
    bt AS (SELECT COUNT(*) AS b FROM big_c)
    SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
           CAST(left_types AS BIGINT) AS left_types,
           CAST(right_types AS BIGINT) AS right_types,
           CAST(FLOOR((GREATEST(c12 - 0.75, 0.0) / c1
                 + 0.75 * left_types / c1 * right_types / b) * 1000000) AS BIGINT)
             AS pkn_e6
    FROM big_c JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN bt
    ORDER BY c12 DESC, w1, w2 LIMIT 100
    """,
    doc="Kneser-Ney bigram model tables (llm.textan.kn_bigram_counts): "
    "C(w1,w2), prefix mass C(w1.), continuation-type counts N1+(w1.) "
    "and N1+(.w2), and the interpolated-KN probability with discount "
    "0.75 — the count artifacts a KenLM-style trainer materializes "
    "(the model-building side; lm_perplexity is the scoring side). "
    "Top-100 bigrams by count, ties broken lexically; division-only "
    "float arithmetic with identical expression shapes both engines, "
    "floor-micro.",
)
def kn_bigram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import kn_bigram_counts

    kn = kn_bigram_counts(t(spark, sf_dir, "documents"), "doc_id", "text")
    return (
        kn.select(
            "w1", "w2", "c12", "c1", "left_types", "right_types",
            F.floor(F.col("p_kn") * 1_000_000).cast("long").alias("pkn_e6"),
        )
        .orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(100)
    )


@register(
    "contrastive_negatives",
    oracle="""
    WITH b AS (
      SELECT vec_id,
             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS bk
      FROM embeddings
    ),
    reps AS (SELECT bk, MIN(vec_id) AS negative_id FROM b GROUP BY bk),
    offs AS (SELECT UNNEST(range(1, 4)) AS j)
    SELECT a.vec_id AS anchor_id, CAST(offs.j AS INT) AS j, r.negative_id
    FROM b a CROSS JOIN offs
    JOIN reps r ON r.bk = (a.bk + offs.j) % 64
    WHERE r.negative_id <> a.vec_id
    """,
    doc="Deterministic contrastive negative sampling "
    "(ops.sampling.negative_pairs): each anchor embedding draws 3 "
    "partners — the min-id representatives of the md5-bucket ring at "
    "offsets 1..3 — with zero RNG state, so the pair set is replayable "
    "across engines and partitionings. One 64-row aggregate + "
    "broadcast join; the corpus never self-joins.",
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import negative_pairs

    emb = t(spark, sf_dir, "embeddings")
    return negative_pairs(emb, "vec_id", k=3, n_buckets=64).select(
        "anchor_id", F.col("j").cast("int").alias("j"), "negative_id"
    )


@register(
    "embedding_gram",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, UNNEST(v) AS val, UNNEST(range(1, len(v) + 1)) AS pos FROM q
    )
    SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.val * b.val) AS BIGINT) AS dot_m
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY 1, 2
    """,
    doc="Distributed Gram matrix XtX (llm.similarity.gram_matrix) over "
    "the embedding corpus, milli-quantized for exact integer "
    "accumulation — the blocked-matmul kernel: per-row upper-triangle "
    "products generated inside the vector array (one explode, no "
    "self-join), map-side partial Gram blocks, d^2-bounded shuffle. "
    "The oracle self-joins positions — same matrix, independent shape. "
    "Feature covariance / PCA prep at scale is this exact plan.",
)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import gram_matrix

    emb = t(spark, sf_dir, "embeddings")
    out = gram_matrix(emb, "embedding", quantize=1000)
    return out.select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        F.col("dot").cast("long").alias("dot_m"),
    )


# Shared 3-step power-iteration CTE chain (ends at p3 = the e6
# max-normalized top-PC estimate) — composed by BOTH the direction
# gate (`embedding_top_pc`) and the projection-outlier gate
# (`embedding_pc_outliers`) so the iteration replay cannot drift
# (the _kmeans_ctes precedent).
_TOP_PC_CTES = """
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, UNNEST(v) AS val, UNNEST(range(1, len(v) + 1)) AS pos FROM q
    ),
    gm AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.val * b.val) AS BIGINT) AS dot
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY 1, 2
    ),
    gs AS MATERIALIZED (
      SELECT i, j, dot // 1000 AS g FROM gm
      UNION ALL
      SELECT j AS i, i AS j, dot // 1000 AS g FROM gm WHERE i < j
    ),
    p0 AS (SELECT DISTINCT i AS node, CAST(1000000 AS BIGINT) AS p FROM gs),
    u1 AS (SELECT gs.i AS node, CAST(SUM(gs.g * p0.p) AS BIGINT) AS u
           FROM gs JOIN p0 ON gs.j = p0.node GROUP BY 1),
    m1 AS (SELECT MAX(ABS(u)) AS m FROM u1),
    p1 AS MATERIALIZED (
      SELECT node, CASE WHEN m > 0 THEN
        CAST(FLOOR(CAST(u AS DOUBLE) / CAST(m AS DOUBLE) * 1000000) AS BIGINT)
        ELSE CAST(0 AS BIGINT) END AS p
      FROM u1 CROSS JOIN m1),
    u2 AS (SELECT gs.i AS node, CAST(SUM(gs.g * p1.p) AS BIGINT) AS u
           FROM gs JOIN p1 ON gs.j = p1.node GROUP BY 1),
    m2 AS (SELECT MAX(ABS(u)) AS m FROM u2),
    p2 AS MATERIALIZED (
      SELECT node, CASE WHEN m > 0 THEN
        CAST(FLOOR(CAST(u AS DOUBLE) / CAST(m AS DOUBLE) * 1000000) AS BIGINT)
        ELSE CAST(0 AS BIGINT) END AS p
      FROM u2 CROSS JOIN m2),
    u3 AS (SELECT gs.i AS node, CAST(SUM(gs.g * p2.p) AS BIGINT) AS u
           FROM gs JOIN p2 ON gs.j = p2.node GROUP BY 1),
    m3 AS (SELECT MAX(ABS(u)) AS m FROM u3),
    p3 AS (
      SELECT node, CASE WHEN m > 0 THEN
        CAST(FLOOR(CAST(u AS DOUBLE) / CAST(m AS DOUBLE) * 1000000) AS BIGINT)
        ELSE CAST(0 AS BIGINT) END AS p
      FROM u3 CROSS JOIN m3)"""


@register(
    "embedding_top_pc",
    oracle="WITH " + _TOP_PC_CTES + """
    SELECT node AS dim, p AS component_e6 FROM p3
    """,
    doc="Top principal direction of the embedding corpus "
    "(llm.similarity.gram_power_iteration, 3 power-iteration steps "
    "on the milli-quantized Gram): the PCA first step and the "
    "anisotropy/drift probe - embedding corpora concentrate along a "
    "dominant direction and comparing it across snapshots is the "
    "cheap detector. The only corpus-sized pass is the blocked-"
    "matmul Gram (d^2-bounded shuffle, persisted once); iterations "
    "are d^2-edge x d-node joins with exact BIGINT matvecs "
    "(truncate-scaled Gram: Spark div and DuckDB integer // both "
    "truncate toward zero on negatives - measured; bound "
    "d*max|g|*1e6 < 2^63) and ONE double-divide+floor max-"
    "normalization per step (the bradley_terry contract). The GATE "
    "pins 3 iterations to match the unrolled MATERIALIZED oracle.",
)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import gram_power_iteration

    emb = t(spark, sf_dir, "embeddings")
    return gram_power_iteration(
        emb, "embedding", iterations=3, quantize=1000, scale_div=1000
    )


@register(
    "jaccard_prefix_dedup",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id AS doc, array_to_string(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM documents))
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM grams GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc < b.doc GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(common / (sa.n + sb.n - common) * 10000) AS BIGINT) AS jac_e4
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE common / (sa.n + sb.n - common) >= 0.5
    """,
    doc="Exact Jaccard>=0.5 shingle self-join via PREFIX FILTERING "
    "(llm.dedup.jaccard_prefix_pairs — the AllPairs/PPJoin candidate "
    "rule, Bayardo et al. WWW'07): candidates only from each doc's "
    "rarest-first prefix postings, then exact array_intersect verify. "
    "Same answer as the full posting join (the oracle IS the naive "
    "join), provably complete by the prefix pigeonhole; the join "
    "fan-out collapses to the rare-shingle postings. Floor-e4 "
    "jaccard; exact-division threshold identical both engines. "
    "Hashed-shingle convention (r16, the minhash_lsh_pairs "
    "precedent): Spark scores Jaccard over xxhash64'd shingles while "
    "the oracle uses strings — identical modulo ~2^-64 collision "
    "probability, so an eventual parity diff here points at that "
    "known caveat before a logic bug.",
)
def jaccard_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import jaccard_prefix_pairs

    docs = t(spark, sf_dir, "documents")
    out = jaccard_prefix_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select(
        "doc_a", "doc_b",
        F.floor(F.col("jaccard") * 10000).cast("long").alias("jac_e4"),
    )


@register(
    "dsir_selection",
    oracle="""
    WITH base AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    uni AS (SELECT doc_id, is_t, UNNEST(ws) AS g FROM base),
    bi AS (
      SELECT doc_id, is_t, ws[i] || ' ' || ws[i+1] AS g
      FROM (SELECT doc_id, is_t, ws, UNNEST(generate_series(1, len(ws)-1)) AS i
            FROM base WHERE len(ws) >= 2)
    ),
    feats AS (
      SELECT doc_id, is_t,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 8192 AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    stats AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS r,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tt
      FROM feats GROUP BY 1
    ),
    tot AS (SELECT SUM(r) AS rr, SUM(tt) AS t FROM stats),
    model AS (
      SELECT bucket,
             ln((tt + 1.0) / (t + 8192.0)) - ln((r + 1.0) / (rr + 8192.0)) AS lam
      FROM stats CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(FLOOR(SUM(lam) * 1000) AS BIGINT) AS logw_e3
    FROM feats JOIN model USING (bucket)
    GROUP BY doc_id
    """,
    doc="DSIR importance weighting for pretraining-data selection "
    "(llm.dsir.dsir_log_weights; Xie et al. 2023): hashed "
    "unigram+bigram bag-of-features (md5-uniform 8192 buckets), add-1 "
    "smoothed target-vs-raw log-ratio model (target = lang='en'), "
    "per-doc floor-milli log weight (selection itself is downstream — "
    "corpus_pipeline_v4 takes the top-k on this integer; on this "
    "shared-vocabulary synthetic corpus ALL weights are negative, so "
    "a sign threshold would be vacuous). One explode, aggregate-of-"
    "aggregate model, broadcast scoring join.",
)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dsir import dsir_log_weights

    docs = t(spark, sf_dir, "documents")
    out = dsir_log_weights(docs, "doc_id", "text", F.col("lang") == "en")
    return out.select(
        "doc_id", "n_features",
        F.floor(F.col("log_weight") * 1000).cast("long").alias("logw_e3"),
    )


@register(
    "bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    pc AS (
      SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, cnt
      FROM (SELECT word, cnt, UNNEST(range(1, length(word))) AS i
            FROM w WHERE length(word) >= 2)
      UNION ALL
      SELECT substr(word, length(word), 1), '</w>', cnt FROM w
    )
    SELECT l AS left_sym, r AS right_sym, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pc GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym LIMIT 100
    """,
    doc="BPE tokenizer training, iteration-1 pair statistics "
    "(llm.bpe.pair_counts over llm.bpe.word_vocab): adjacent-symbol "
    "counts weighted by word-type frequency — the kernel a corpus-scale "
    "BPE trainer re-runs per merge. Counts come from the |vocab|-sized "
    "type table, never the token stream; pairs are zipped inside the "
    "symbol array (one explode). Top-100, integer counts, lexical "
    "ties. Multi-merge learning is locked by pytest vs a pure-Python "
    "reference (the merge rewrite is not SQL-expressible).",
)
def bpe_pair_counts_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.bpe import pair_counts, word_vocab

    pc = pair_counts(word_vocab(t(spark, sf_dir, "documents"), "text"))
    return (
        pc.select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("pair_count").cast("long").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(100)
    )


@register(
    "wordpiece_pair_scores",
    oracle="""
    WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    pc AS (
      SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
                  ELSE '##' || substr(word, i, 1) END AS l,
             '##' || substr(word, i + 1, 1) AS r, cnt
      FROM (SELECT word, cnt, UNNEST(range(1, length(word))) AS i
            FROM w WHERE length(word) >= 2)
    ),
    pcc AS (SELECT l, r, SUM(cnt) AS pair_count FROM pc GROUP BY 1, 2),
    sc AS (
      SELECT sym, SUM(cnt) AS sym_count FROM (
        SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
                    ELSE '##' || substr(word, i, 1) END AS sym, cnt
        FROM (SELECT word, cnt, UNNEST(range(1, length(word) + 1)) AS i
              FROM w)
      ) GROUP BY 1
    )
    SELECT l AS left_sym, r AS right_sym,
           CAST(pair_count AS BIGINT) AS pair_count,
           CAST(ls.sym_count AS BIGINT) AS left_count,
           CAST(rs.sym_count AS BIGINT) AS right_count,
           CAST((1000000000000 * pair_count)
                // (ls.sym_count * rs.sym_count) AS BIGINT) AS score_e12
    FROM pcc JOIN sc ls ON pcc.l = ls.sym JOIN sc rs ON pcc.r = rs.sym
    ORDER BY score_e12 DESC, pair_count DESC, left_sym, right_sym
    LIMIT 50
    """,
    doc="WordPiece trainer criterion, iteration-1 statistics "
    "(llm.bpe.wordpiece_pair_scores over llm.bpe.wordpiece_word_vocab): "
    "score(a,b) = count(ab)/(count(a)*count(b)) — the likelihood-ratio "
    "merge ranking of the BERT tokenizer family (r14 absent-capability: "
    "BPE ranks pairs by raw frequency; a user training a BERT-family "
    "vocab ranks by THIS and could not before). '##' continuation "
    "marking, score_e12 = pair*1e12 div (cnt_a*cnt_b) with both "
    "products DECIMAL(38,0) (overflow-class rule applied from birth), "
    "top-50 with (score, count, lexical) total-order ties. Pair and "
    "symbol counts from the word-TYPE table, never the token stream; "
    "the symbol-count join sides are alphabet-bounded broadcasts. The "
    "merge LOOP (argmax + in-array rewrite) and greedy longest-match "
    "encode are pytest-locked vs a pure-Python reference per the "
    "declared bpe_encode rule.",
)
def wordpiece_pair_scores_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.llm.bpe import (
        wordpiece_pair_scores,
        wordpiece_word_vocab,
    )

    # the word-TYPE table feeds three consumers (pair census + both
    # symbol-count join sides) — waypoint it so the corpus is scanned
    # ONCE (the trainer loop localCheckpoints it for the same reason)
    vocab = waypoint(wordpiece_word_vocab(t(spark, sf_dir, "documents"), "text"))
    sc = wordpiece_pair_scores(vocab)
    return (
        sc.select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("pair_count").cast("long").alias("pair_count"),
            F.col("left_count").cast("long").alias("left_count"),
            F.col("right_count").cast("long").alias("right_count"),
            F.col("score_e12").cast("long").alias("score_e12"),
        )
        .orderBy(
            F.desc("score_e12"), F.desc("pair_count"), "left_sym", "right_sym"
        )
        .limit(50)
    )


@register(
    "unigram_seed_candidates",
    oracle="""
    WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    subs AS (
      SELECT substr(ws.word, ws.i, ls.l) AS piece, ws.word, ws.cnt
      FROM (SELECT word, cnt, UNNEST(range(1, length(word) + 1)) AS i
            FROM w) ws,
           generate_series(1, 4) ls(l)
      WHERE ws.i + ls.l - 1 <= length(ws.word)
    ),
    cand AS (
      SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
             CAST(SUM(cnt) AS BIGINT) AS piece_count,
             CAST(COUNT(DISTINCT word) AS BIGINT) AS n_word_types
      FROM subs GROUP BY 1
    )
    SELECT piece, piece_len, piece_count, n_word_types
    FROM cand WHERE piece_len = 1 OR piece_count >= 2
    ORDER BY piece_count DESC, piece LIMIT 200
    """,
    doc="Unigram-LM (SentencePiece family) seed-vocabulary census "
    "(llm.bpe.unigram_seed_candidates): every substring of length "
    "1..4 of every word TYPE, frequency-weighted with in-word "
    "multiplicity, single chars always kept (the Viterbi coverage "
    "floor), longer pieces clear min_count=2 (r14 absent-capability: "
    "the tokenizer family's third algorithm — this census seeds the "
    "hard-EM trainer llm.bpe.unigram_lm_em, whose iterative Viterbi "
    "re-estimation is pytest-locked integer-exact vs a pure-Python "
    "replay per the declared rule). Word-TYPE grain only (substring "
    "explode bounded by max_len x type length, never the token "
    "stream), one map-side-combined census. Top-200, (count, piece) "
    "total order.",
)
def unigram_seed_candidates_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.bpe import unigram_seed_candidates

    return (
        unigram_seed_candidates(
            t(spark, sf_dir, "documents"), "text", max_len=4, min_count=2
        )
        .orderBy(F.desc("piece_count"), "piece")
        .limit(200)
    )


@register(
    "knn_label_confusion",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id < 200),
    pairs AS (
      SELECT query_id, true_label, e.vec_id, e.label AS nb_label,
             ROUND(list_dot_product(qv, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 4) + 0.0 AS cos
      FROM q CROSS JOIN embeddings e
      WHERE query_id <> e.vec_id
    ),
    knn AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rank
        FROM pairs
      ) WHERE rank <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nb_label, COUNT(*) AS v
      FROM knn GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, nb_label AS pred_label
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY v DESC, nb_label) AS rk
            FROM votes) WHERE rk = 1
    )
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
    doc="k-NN majority-vote label confusion matrix over embeddings "
    "(llm.similarity.knn_classify, k=5, 200-query eval sample): the "
    "embedding-quality / label-noise probe. Neighbor ranking on "
    "quantized cosine (@1e-4, vec_id ties), prediction on integer "
    "vote counts with lexical ties — every discrete choice has a "
    "total order. Confusion counts are integers.",
)
def knn_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import knn_classify

    emb = t(spark, sf_dir, "embeddings")
    pred = knn_classify(emb, emb.filter(F.col("vec_id") < 200), k=5)
    return pred.groupBy("true_label", "pred_label").agg(
        F.count("*").cast("long").alias("n")
    )


@register(
    "hybrid_rank_fusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, n_chars,
             list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS dl FROM toks),
    tf AS (SELECT doc_id, len(list_filter(ws, w -> w = 'data')) AS tf FROM toks),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
    dfq AS (SELECT COUNT(*) AS doc_freq FROM tf WHERE tf > 0),
    bm AS (
      SELECT tf.doc_id,
             FLOOR(ln(1 + (n - doc_freq + 0.5) / (doc_freq + 0.5))
                   * (tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
                   * 1000000.0) AS bm25_e6
      FROM tf JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN dfq
      WHERE tf > 0
    ),
    ra AS (SELECT doc_id, rank FROM (
             SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY bm25_e6 DESC, doc_id) AS rank
             FROM bm) WHERE rank <= 100),
    rb AS (SELECT doc_id, rank FROM (
             SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank
             FROM documents) WHERE rank <= 100),
    fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             CAST((ra.rank IS NOT NULL) AS INT)
               + CAST((rb.rank IS NOT NULL) AS INT) AS in_lists,
             COALESCE(1.0 / (60 + ra.rank), 0.0)
               + COALESCE(1.0 / (60 + rb.rank), 0.0) AS rrf
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT doc_id, in_lists, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    doc="Hybrid retrieval by reciprocal rank fusion "
    "(ops.ranking.reciprocal_rank_fusion, k=60): a lexical BM25 "
    "ranking (term 'data', llm.textan.bm25_scores) fused with a "
    "document-length prior ranking — the calibration-free way to "
    "combine retrieval signals. Both input ranks come from INTEGER "
    "keys with id tiebreaks; the fused score is a fixed-order "
    "two-term float expression (no aggregation), so raw doubles "
    "hash-compare across engines. Top-20 by (rrf desc, doc_id).",
)
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_fcfs_spark.llm.textan import bm25_scores
    from hadoop_fcfs_spark.ops.ranking import reciprocal_rank_fusion

    from hadoop_fcfs_spark.ops.sort import top_k

    docs = t(spark, sf_dir, "documents")
    bm = bm25_scores(docs, "doc_id", "text").filter(F.col("term") == "data")
    # each ranker is TakeOrdered-bounded to its top-100 BEFORE the rank
    # window runs, so the only unpartitioned window is 100 rows — the
    # fusion consumes bounded lists by construction, at any corpus size
    ra = top_k(bm, 100, F.desc("bm25_e6"), F.asc("doc_id")).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_e6"), F.asc("doc_id")))
        .alias("rank"),
    )
    rb = top_k(
        docs.select("doc_id", "n_chars"), 100, F.desc("n_chars"), F.asc("doc_id")
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rank"),
    )
    fused = reciprocal_rank_fusion([ra, rb], "doc_id", k=60)
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@register(
    "script_profile",
    oracle=f"""
    WITH c AS (
      SELECT lang,
             LENGTH(text) AS total,
             LENGTH(text) - LENGTH(regexp_replace(text, '[A-Za-z]', '', 'g')) AS lat,
             LENGTH(text) - LENGTH(regexp_replace(text, '[{chr(0x4E00)}-{chr(0x9FFF)}]', '', 'g')) AS cjk,
             LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
             LENGTH(text) - LENGTH(regexp_replace(text, '\\s', '', 'g')) AS spc
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(total) AS BIGINT) AS n_chars,
           CAST(FLOOR(SUM(lat) * 1000000.0 / SUM(total)) AS BIGINT) AS latin_e6,
           CAST(FLOOR(SUM(cjk) * 1000000.0 / SUM(total)) AS BIGINT) AS cjk_e6,
           CAST(FLOOR(SUM(dig) * 1000000.0 / SUM(total)) AS BIGINT) AS digit_e6,
           CAST(FLOOR(SUM(spc) * 1000000.0 / SUM(total)) AS BIGINT) AS space_e6
    FROM c GROUP BY lang
    """,
    doc="Unicode script-mix census per language label "
    "(llm.textan.char_class_profile): Latin / CJK / digit / whitespace "
    "character shares — the mislabeled-language and mojibake screen "
    "that vocabulary lang_id can't see. Pure per-row regexp counting "
    "(no explode), one aggregation; integer counts, floor-micro "
    "shares.",
)
def script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import char_class_profile

    docs = t(spark, sf_dir, "documents")
    prof = char_class_profile(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    e6 = lambda c: F.floor(F.sum(c) * 1_000_000.0 / F.sum("n_chars_total")).cast("long")
    return prof.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars_total").cast("long").alias("n_chars"),
        e6("n_latin").alias("latin_e6"),
        e6("n_cjk").alias("cjk_e6"),
        e6("n_digit").alias("digit_e6"),
        e6("n_space").alias("space_e6"),
    )


@register(
    "tfidf_cosine_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                                        x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    w AS (
      SELECT doc_id, term,
             CAST(FLOOR(tf * (ln((n + 1) / (df + 1)) + 1) * 1000) AS BIGINT) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
      WHERE df * 2.0 <= n
    ),
    norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(a.w * b.w) AS dot, CAST(COUNT(*) AS BIGINT) AS shared_terms
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared_terms,
           CAST(FLOOR(dot / (sqrt(na.n2) * sqrt(nb.n2)) * 1000000) AS BIGINT)
             AS cos_e6
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY cos_e6 DESC, doc_a, doc_b LIMIT 100
    """,
    doc="Sparse TF-IDF cosine similarity join "
    "(llm.textan.tfidf_cosine_pairs): term-at-a-time partial dot "
    "products over the inverted index, stopword terms (df > N/2) "
    "pruned before the quadratic pair fanout. Weights floor-quantized "
    "to integers so dots and norms are EXACT BIGINT sums — the only "
    "float is the final single-expression cosine. Top-100 by "
    "(cos_e6, lexical pair).",
)
def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import tfidf_cosine_pairs

    out = tfidf_cosine_pairs(t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.orderBy(F.desc("cos_e6"), "doc_a", "doc_b").limit(100)


@register(
    "vocab_richness",
    oracle="""
    WITH c AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM c
    )
    SELECT v, n_tokens, f1, f2,
           CAST(FLOOR((v + f1 * (f1 - 1) / (2.0 * (f2 + 1))) * 1000000) AS BIGINT)
             AS chao1_e6,
           CAST(FLOOR((1 - f1 / CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
             AS coverage_e6
    FROM s
    """,
    doc="Vocabulary richness estimation: bias-corrected Chao1 unseen-"
    "species bound (V + F1(F1-1)/(2(F2+1))) and Good-Turing sample "
    "coverage (1 - F1/N) from the token frequency-of-frequencies — "
    "the 'how much more vocabulary would more data buy' question a "
    "corpus curator asks before scaling collection. One token count "
    "aggregation + one frequency-histogram reduce; integer counts, "
    "division-only float, floor-micro.",
)
def vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    c = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    s = c.agg(
        F.count("*").cast("long").alias("v"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return s.select(
        "v", "n_tokens", "f1", "f2",
        F.floor(
            (F.col("v") + F.col("f1") * (F.col("f1") - 1) / (2.0 * (F.col("f2") + 1)))
            * 1_000_000
        ).cast("long").alias("chao1_e6"),
        F.floor(
            (1 - F.col("f1") / F.col("n_tokens").cast("double")) * 1_000_000
        ).cast("long").alias("coverage_e6"),
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center CTE chain mirroring
    llm.similarity.kcenter_greedy: quantized integer vectors, exact
    squared-L2, argmax by (mindist desc, id) per step."""
    parts = [
        """    WITH q AS (
      SELECT vec_id AS id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    c1 AS (SELECT id, v FROM q ORDER BY id LIMIT 1),
    m1 AS MATERIALIZED (
      SELECT p.id, ANY_VALUE(p.v) AS v,
             SUM((p.v[t.i] - c.v[t.i]) * (p.v[t.i] - c.v[t.i])) AS md
      FROM q p CROSS JOIN c1 c, UNNEST(range(1, len(p.v) + 1)) AS t(i)
      GROUP BY p.id
    )"""
    ]
    for j in range(2, k + 1):
        p = j - 1
        parts.append(f"""    c{j} AS MATERIALIZED (
      SELECT id, v, md FROM m{p}
      WHERE id NOT IN ({" UNION ALL ".join(f"SELECT id FROM c{i}" for i in range(1, j))})
      ORDER BY md DESC, id LIMIT 1
    ),
    m{j} AS MATERIALIZED (
      SELECT p.id, ANY_VALUE(p.v) AS v,
             LEAST(ANY_VALUE(p.md),
                   SUM((p.v[t.i] - c.v[t.i]) * (p.v[t.i] - c.v[t.i]))) AS md
      FROM m{p} p CROSS JOIN c{j} c, UNNEST(range(1, len(p.v) + 1)) AS t(i)
      GROUP BY p.id
    )""")
    selects = ["SELECT 1 AS rank, id AS vec_id, CAST(0 AS BIGINT) AS mindist FROM c1"]
    selects += [
        f"SELECT {j} AS rank, id AS vec_id, CAST(md AS BIGINT) AS mindist FROM c{j}"
        for j in range(2, k + 1)
    ]
    return ",\n".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "kcenter_coreset",
    oracle=_kcenter_oracle(8),
    doc="Greedy k-center coreset selection over embeddings "
    "(llm.similarity.kcenter_greedy, k=8; Gonzalez 1985 — the "
    "facility-location diversity heuristic of coreset-based data "
    "selection): repeatedly take the point farthest from everything "
    "chosen. Quantized integer vectors make every distance an EXACT "
    "BIGINT and every argmax a discrete integer choice with id "
    "tiebreak — any engine replays the identical selection. Corpus "
    "stays distributed (literal-center column update + TakeOrdered "
    "argmax per step); the oracle unrolls the 8 steps as CTEs.",
)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import kcenter_greedy

    chosen = kcenter_greedy(t(spark, sf_dir, "embeddings"), k=8)
    return spark.createDataFrame(
        [(r, int(i), int(d)) for r, i, d in chosen],
        "rank int, vec_id long, mindist long",
    )


@register(
    "corpus_pipeline_v4",
    oracle="""
    WITH kept AS (
      SELECT doc_id, text, lang, source FROM documents
      WHERE doc_id IN (
        SELECT MIN(doc_id) FROM documents GROUP BY md5(lower(trim(text)))
      )
    ),
    base AS (
      SELECT doc_id, source, (lang = 'en') AS is_t,
             list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
      FROM kept
    ),
    uni AS (SELECT doc_id, source, is_t, UNNEST(ws) AS g FROM base),
    bi AS (
      SELECT doc_id, source, is_t, ws[i] || ' ' || ws[i+1] AS g
      FROM (SELECT doc_id, source, is_t, ws,
                   UNNEST(generate_series(1, len(ws) - 1)) AS i
            FROM base WHERE len(ws) >= 2)
    ),
    feats AS (
      SELECT doc_id, source, is_t,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 8192 AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    stats AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS r,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tt
      FROM feats GROUP BY 1
    ),
    tot AS (SELECT SUM(r) AS rr, SUM(tt) AS t FROM stats),
    model AS (
      SELECT bucket,
             ln((tt + 1.0) / (t + 8192.0)) - ln((r + 1.0) / (rr + 8192.0)) AS lam
      FROM stats CROSS JOIN tot
    ),
    weights AS (
      SELECT doc_id, ANY_VALUE(source) AS source,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(FLOOR(SUM(lam) * 1000) AS BIGINT) AS logw_e3
      FROM feats JOIN model USING (bucket)
      GROUP BY doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM (SELECT * FROM weights
          QUALIFY ROW_NUMBER() OVER (ORDER BY logw_e3 DESC, doc_id) <= 100)
    GROUP BY source
    """,
    doc="Composed training-data pipeline v4 (this round's tiers): "
    "exact dedup on normalized text -> DSIR importance model fit on "
    "the DEDUPED corpus (llm.dsir, target = lang='en') -> keep the "
    "top-100 docs by floor-milli log weight (deterministic integer "
    "rank, doc_id ties) -> per-source doc/token accounting. n_tok counts hashed features (uni+bigrams) — the "
    "same mass the DSIR model weighs. Spark chains exact_dedup and "
    "dsir_log_weights; the oracle chains independent SQL shapes.",
)
def corpus_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import exact_dedup
    from hadoop_fcfs_spark.llm.dsir import dsir_log_weights

    docs = t(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "doc_id", "text")
    w = dsir_log_weights(kept, "doc_id", "text", F.col("lang") == "en")
    from hadoop_fcfs_spark.ops.sort import top_k

    scored = w.select(
        "doc_id", "n_features",
        F.floor(F.col("log_weight") * 1000).cast("long").alias("__logw"),
    )
    sel = top_k(scored, 100, F.desc("__logw"), F.asc("doc_id"))
    return (
        sel.join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_features").cast("long").alias("n_tokens"),
        )
    )


@register(
    "term_dictionary",
    oracle="""
    WITH c AS (
      SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1
    )
    SELECT term, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS term_id
    FROM c
    """,
    doc="Global term dictionary: dense contiguous ids 1..V assigned by "
    "(frequency desc, lexical) — the embedding-table / feature-"
    "hashing-free vocabulary prep step. The global ranking runs "
    "through ops.sort.ranked_total_order (range partition + "
    "per-partition enumeration + broadcast prefix-sum offsets), NOT a "
    "single-partition row_number window — the id assignment stays "
    "distributed at any vocabulary size. Integer counts and ids.",
)
def term_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sort import ranked_total_order

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    c = (
        t(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ranked = ranked_total_order(
        c, [F.desc("cnt"), F.asc("term")], rank_col="term_id"
    )
    return ranked.select("term", "cnt", F.col("term_id").cast("long").alias("term_id"))


@register(
    "negative_table_draws",
    oracle="""
    WITH c AS (
      SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1
    ),
    cum AS (
      SELECT term, cnt,
             SUM(cnt) OVER (ORDER BY term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM c
    ),
    l AS (SELECT term, cnt, hi, hi - cnt AS lo FROM cum),
    tot AS (SELECT MAX(hi) AS tot FROM l),
    d AS (
      SELECT i AS draw_id,
             CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8) AS BIGINT) AS u
      FROM range(0, 10000) t(i)
    )
    SELECT term, CAST(ANY_VALUE(cnt) AS BIGINT) AS weight,
           CAST(COUNT(*) AS BIGINT) AS n_drawn
    FROM d CROSS JOIN tot
    JOIN l ON (u * tot) // 4294967296 >= lo AND (u * tot) // 4294967296 < hi
    GROUP BY term
    """,
    doc="Deterministic weighted categorical sampling "
    "(ops.sampling.weighted_draws): 10k word2vec-style negative draws "
    "from the term-frequency table via integer inverse-CDF — "
    "cumulative [lo,hi) ranges from the chunked distributed prefix "
    "sum, md5-uniform integer targets, bucketized interval equi-join "
    "routing. Zero RNG state: any engine replays draw-for-draw (the "
    "oracle is the naive range join). Pure integer math end to end.",
)
def negative_table_draws(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import weighted_draws

    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    c = (
        t(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    drawn = weighted_draws(
        c, "term", "cnt", n_draws=10_000,
        chunk_of=lambda k: F.substring(k, 1, 1),
    )
    return drawn.join(c, "term").groupBy("term").agg(
        F.max("cnt").cast("long").alias("weight"),
        F.count("*").cast("long").alias("n_drawn"),
    )


@register(
    "dup_family_histogram",
    oracle="""
    WITH fam AS (
      SELECT md5(lower(trim(text))) AS dig, CAST(COUNT(*) AS BIGINT) AS family_size
      FROM documents GROUP BY 1
    )
    SELECT family_size, CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(family_size * COUNT(*) AS BIGINT) AS n_docs
    FROM fam GROUP BY 1
    """,
    doc="Duplicate-family size histogram: how many exact-duplicate "
    "families of each size the corpus holds (the before/after "
    "diagnostic every dedup run reports — family_size 1 = unique "
    "docs, the tail = the copy mass). Digest groupBy then a "
    "frequency-of-frequencies reduce — the vocab_richness shape on "
    "content digests. Integer counts.",
)
def dup_family_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fam = docs.groupBy(
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("dig")
    ).agg(F.count("*").cast("long").alias("family_size"))
    return fam.groupBy("family_size").agg(
        F.count("*").cast("long").alias("n_families"),
        (F.col("family_size") * F.count("*")).cast("long").alias("n_docs"),
    )


@register(
    "embedding_norm_qa",
    oracle="""
    WITH n AS (
      SELECT label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(nrm), 6) AS mean_norm,
           ROUND(COALESCE(STDDEV_POP(nrm), 0.0), 6) AS std_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n GROUP BY label
    """,
    doc="Per-label embedding-norm QA: mean/std/min/max L2 norms — the "
    "sanity screen that catches un-normalized or degenerate vectors "
    "before they poison cosine ANN (a zero-norm vector NaNs every "
    "similarity). Per-row norm (same in-order dot-product expression "
    "shape both engines), one grouped moment aggregation, round@6 "
    "(the word_stats precedent).",
)
def embedding_norm_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    dot = F.aggregate(
        F.zip_with(vec, vec, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = emb.select("label", F.sqrt(dot).alias("__nrm"))
    return n.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.avg("__nrm"), 6).alias("mean_norm"),
        F.round(F.coalesce(F.stddev_pop("__nrm"), F.lit(0.0)), 6).alias("std_norm"),
        F.round(F.min("__nrm"), 6).alias("min_norm"),
        F.round(F.max("__nrm"), 6).alias("max_norm"),
    )


@register(
    "langid_confusion",
    oracle=f"""
    WITH {_LANGID_PRED_CTES}
    SELECT d.lang AS true_lang, COALESCE(p.lang_pred, 'und') AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents d LEFT JOIN pred p USING (doc_id)
    GROUP BY 1, 2
    """,
    doc="Language-ID confusion matrix: the stopword-heuristic "
    "prediction (llm.textan.lang_id) against the corpus's lang label "
    "— the classifier-quality rollup a curation pipeline monitors "
    "(zh has no stopword list, so it lands in 'und'/mispredictions by "
    "construction — an honest blind-spot row). Integer counts.",
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import lang_id

    docs = t(spark, sf_dir, "documents")
    pred = lang_id(docs, "doc_id", "text").select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id", "left")
        .groupBy("true_lang", F.coalesce("lang_pred", F.lit("und")).alias("pred_lang"))
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "mutual_nn_pairs",
    oracle="""
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 100),
    pairs AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb,
             ROUND(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 AS cos
      FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    r1 AS (
      SELECT qa, qb, cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qa
                    ORDER BY cos DESC, qb) AS rn
        FROM pairs
      ) WHERE rn = 1
    )
    SELECT a.qa AS doc_a, a.qb AS doc_b, a.cos
    FROM r1 a JOIN r1 b ON a.qa = b.qb AND a.qb = b.qa
    WHERE a.qa < a.qb
    """,
    doc="Reciprocal nearest-neighbor pairs "
    "(llm.similarity.mutual_topk_pairs over exact cosine_topk, k=1) "
    "within the vec_id<100 subset: keep (a,b) only when each is the "
    "other's rank-1 neighbor - the classic high-precision duplicate/"
    "alignment filter (one-directional top-1 matches hubs; reciprocity "
    "kills them). Non-empty by construction: the globally most-similar "
    "pair is always mutual. Composes with any ANN tier's ranking at "
    "scale; the reciprocity step itself is one pair-key semi-join.",
)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import cosine_topk, mutual_topk_pairs

    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return mutual_topk_pairs(cosine_topk(emb, emb, k=1))


@register(
    "greedy_gram_coverage",
    oracle="""
    WITH p AS MATERIALIZED (
      SELECT DISTINCT doc_id AS doc, array_to_string(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM documents))
    ),
    m1 AS MATERIALIZED (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS gain FROM p
      GROUP BY 1 ORDER BY gain DESC, doc LIMIT 1),
    c1 AS MATERIALIZED (SELECT DISTINCT gram FROM p JOIN m1 USING (doc)),
    m2 AS MATERIALIZED (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS gain FROM p
      WHERE doc NOT IN (SELECT doc FROM m1)
        AND gram NOT IN (SELECT gram FROM c1)
      GROUP BY 1 ORDER BY gain DESC, doc LIMIT 1),
    c2 AS MATERIALIZED (
      SELECT gram FROM c1
      UNION SELECT gram FROM p JOIN m2 USING (doc)),
    m3 AS MATERIALIZED (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS gain FROM p
      WHERE doc NOT IN (SELECT doc FROM m1 UNION SELECT doc FROM m2)
        AND gram NOT IN (SELECT gram FROM c2)
      GROUP BY 1 ORDER BY gain DESC, doc LIMIT 1),
    c3 AS MATERIALIZED (
      SELECT gram FROM c2
      UNION SELECT gram FROM p JOIN m3 USING (doc)),
    m4 AS MATERIALIZED (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS gain FROM p
      WHERE doc NOT IN (SELECT doc FROM m1 UNION SELECT doc FROM m2
                        UNION SELECT doc FROM m3)
        AND gram NOT IN (SELECT gram FROM c3)
      GROUP BY 1 ORDER BY gain DESC, doc LIMIT 1),
    c4 AS MATERIALIZED (
      SELECT gram FROM c3
      UNION SELECT gram FROM p JOIN m4 USING (doc)),
    m5 AS MATERIALIZED (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS gain FROM p
      WHERE doc NOT IN (SELECT doc FROM m1 UNION SELECT doc FROM m2
                        UNION SELECT doc FROM m3 UNION SELECT doc FROM m4)
        AND gram NOT IN (SELECT gram FROM c4)
      GROUP BY 1 ORDER BY gain DESC, doc LIMIT 1)
    SELECT CAST(1 AS INT) AS pick, doc AS doc_id, gain FROM m1
    UNION ALL SELECT 2, doc, gain FROM m2
    UNION ALL SELECT 3, doc, gain FROM m3
    UNION ALL SELECT 4, doc, gain FROM m4
    UNION ALL SELECT 5, doc, gain FROM m5
    """,
    doc="Greedy maximum-coverage data selection "
    "(llm.dsir.greedy_max_coverage, the (1-1/e) greedy): pick 5 "
    "documents maximizing newly-covered distinct word-3-gram shingles "
    "- the diversity-first complement to DSIR's distribution matching. "
    "Exact integer gains with (gain desc, doc asc) tiebreak make every "
    "pick engine-replayable; per pick one anti-join + count aggregation "
    "+ TakeOrdered(1). The unrolled oracle NEEDS AS MATERIALIZED "
    "(chained-CTE exponential inlining, r4 gotcha).",
)
def greedy_gram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import _gram_rows
    from hadoop_fcfs_spark.llm.dsir import greedy_max_coverage

    docs = t(spark, sf_dir, "documents")
    grams = _gram_rows(docs, "doc_id", "text", 3)
    picks = greedy_max_coverage(grams, k=5, doc_col="doc", item_col="gram")
    return spark.createDataFrame(
        [(p, int(d), int(g)) for p, d, g in picks],
        "pick int, doc_id long, gain long",
    )


@register(
    "temperature_mix_langs",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
    tot AS (
      SELECT SUM(n) AS nt,
             CAST(SUM(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1048576)) AS BIGINT)
               AS sq
      FROM c
    ),
    p AS (
      SELECT lang, n,
             LEAST(1.0, CAST(nt * 2 AS DOUBLE) / 5
               * sqrt(CAST(n AS DOUBLE)) * 1048576
               / sq / CAST(n AS DOUBLE)) AS pl
      FROM c CROSS JOIN tot
    ),
    k AS (
      SELECT d.lang, COUNT(*) AS n_kept
      FROM documents d JOIN p USING (lang)
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            < CAST(FLOOR(pl * 4294967296) AS BIGINT)
      GROUP BY 1
    )
    SELECT p.lang, CAST(p.n AS BIGINT) AS n_docs,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM p LEFT JOIN k USING (lang)
    """,
    doc="Temperature-weighted language mixing "
    "(ops.sampling.temperature_mix, alpha=0.5 - the mBERT/XLM "
    "exponent-smoothed rebalance): lang g keeps each doc with "
    "p_g = min(1, B*sqrt(n_g)/(sum sqrt)/n_g), B = 40% of the corpus - "
    "low-resource langs are UP-sampled relative to their share (the "
    "synthetic corpus is en-heavy). Selection is the md5-uniform32 key "
    "against floor(p*2^32) - deterministic, zero RNG. alpha fixed at "
    "0.5: IEEE sqrt is correctly rounded cross-engine where pow(n, a) "
    "is not. One tiny group aggregate broadcast back; the corpus is "
    "never shuffled.",
)
def temperature_mix_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import temperature_mix

    docs = t(spark, sf_dir, "documents")
    kept = temperature_mix(docs, "lang", "doc_id", budget_num=2, budget_den=5)
    n = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    k = kept.groupBy("lang").agg(F.count("*").cast("long").alias("__k"))
    return n.join(k, "lang", "left").select(
        "lang", "n_docs",
        F.coalesce(F.col("__k"), F.lit(0)).cast("long").alias("n_kept"),
    )


@register(
    "dedup_survivorship",
    oracle="""
    WITH base AS (SELECT doc_id, text, n_chars FROM documents),
    va AS (
      SELECT doc_id + 1000000 AS doc_id, upper(text) AS text, n_chars
      FROM base WHERE doc_id < 15
    ),
    vb AS (
      SELECT doc_id + 2000000 AS doc_id,
             replace(text, ' ', '  ') AS text,
             LENGTH(replace(text, ' ', '  ')) AS n_chars
      FROM base WHERE doc_id < 15
    ),
    allr AS (
      SELECT * FROM base UNION ALL SELECT * FROM va UNION ALL SELECT * FROM vb
    ),
    keyed AS (
      SELECT doc_id, n_chars,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS k
      FROM allr
    ),
    r AS (
      SELECT doc_id, n_chars, k,
             ROW_NUMBER() OVER (PARTITION BY k
               ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS m
      FROM keyed
    )
    SELECT CAST(doc_id AS BIGINT) AS survivor_id,
           CAST(m AS BIGINT) AS n_members,
           CAST(n_chars AS BIGINT) AS max_chars
    FROM r WHERE rn = 1 AND m > 1
    """,
    doc="Survivorship dedup (golden record): exact dedup on the "
    "case/whitespace-NORMALIZED text digest, but the survivor is "
    "chosen by QUALITY rule (max n_chars, id tiebreak) via "
    "ops.sort.latest_by_key - not lowest-id (dedup_exact's rule). "
    "Planted variants prove the rule bites: an uppercased copy "
    "(+1e6, same length - loses the tie to the original id) and a "
    "double-spaced copy (+2e6, LONGER - wins the group outright), so "
    "every planted group's survivor is the +2e6 variant. Digest-keyed "
    "shuffle only; WindowGroupLimit rank-1 per group.",
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sort import latest_by_key

    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", "n_chars")
    seed = base.filter(F.col("doc_id") < 15)
    va = seed.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.upper("text").alias("text"),
        "n_chars",
    )
    spaced = F.regexp_replace(F.col("text"), " ", "  ")
    vb = seed.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        spaced.alias("text"),
        F.length(spaced).cast("long").alias("n_chars"),
    )
    allr = base.unionByName(va).unionByName(vb)
    keyed = allr.select(
        "doc_id", "n_chars",
        F.md5(
            F.lower(F.regexp_replace("text", r"\s+", " ")).cast("binary")
        ).alias("k"),
    )
    surv = latest_by_key(keyed, ["k"], [F.desc("n_chars"), F.asc("doc_id")])
    m = keyed.groupBy("k").agg(F.count("*").alias("__m"))
    return (
        surv.join(m, "k")
        .filter(F.col("__m") > 1)
        .select(
            F.col("doc_id").cast("long").alias("survivor_id"),
            F.col("__m").cast("long").alias("n_members"),
            F.col("n_chars").cast("long").alias("max_chars"),
        )
    )


# Shared v5-pipeline oracle CTE chain (quality floor -> survivorship
# dedup -> temperature mix): composed by corpus_pipeline_v5 AND the v6
# shard-export flagship so the pipeline replay cannot drift between
# them (the corpus_qa_panel shared-fragment precedent).
_V5_PIPE_CTES = """q AS (
      SELECT doc_id, text, lang, n_chars,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             w -> w <> '')) AS ntok
      FROM documents
      WHERE n_chars >= 100
    ),
    qq AS (SELECT * FROM q WHERE ntok >= 10),
    keyed AS (
      SELECT doc_id, lang, n_chars, ntok,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS k
      FROM qq
    ),
    surv AS (
      SELECT doc_id, lang, ntok FROM (
        SELECT doc_id, lang, ntok,
               ROW_NUMBER() OVER (PARTITION BY k
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM keyed
      ) WHERE rn = 1
    ),
    c AS (SELECT lang, COUNT(*) AS n FROM surv GROUP BY 1),
    tot AS (
      SELECT SUM(n) AS nt,
             CAST(SUM(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1048576)) AS BIGINT)
               AS sq
      FROM c
    ),
    p AS (
      SELECT lang, n,
             LEAST(1.0, CAST(nt * 1 AS DOUBLE) / 2
               * sqrt(CAST(n AS DOUBLE)) * 1048576
               / sq / CAST(n AS DOUBLE)) AS pl
      FROM c CROSS JOIN tot
    ),
    mixed AS (
      SELECT s.doc_id, s.lang, s.ntok
      FROM surv s JOIN p USING (lang)
      WHERE CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            < CAST(FLOOR(pl * 4294967296) AS BIGINT)
    )"""


def _v5_stages(spark: SparkSession, sf_dir: str):
    """Shared Spark stages of the v5 pipeline (quality floor ->
    survivorship dedup -> temperature mix), the engine twin of
    ``_V5_PIPE_CTES``. Returns ``(surv, mixed)`` — the deduped corpus
    and its temperature-rebalanced selection — so corpus_pipeline_v5
    (per-lang accounting) and corpus_pipeline_v6 (shard-export
    manifest) replay the IDENTICAL pipeline by construction."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.ops.sampling import temperature_mix
    from hadoop_fcfs_spark.ops.sort import latest_by_key

    docs = t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    q = docs.filter(F.col("n_chars") >= 100).withColumn(
        "ntok", F.size(ws).cast("long")
    ).filter(F.col("ntok") >= 10)
    keyed = q.select(
        "doc_id", "lang", "n_chars", "ntok",
        F.md5(
            F.lower(F.regexp_replace("text", r"\s+", " ")).cast("binary")
        ).alias("k"),
    )
    surv = waypoint(
        latest_by_key(
            keyed, ["k"], [F.desc("n_chars"), F.asc("doc_id")]
        ).select("doc_id", "lang", "ntok")
    )
    mixed = temperature_mix(surv, "lang", "doc_id", budget_num=1, budget_den=2)
    return surv, mixed


@register(
    "corpus_pipeline_v5",
    oracle=f"""
    WITH {_V5_PIPE_CTES}
    SELECT p.lang,
           CAST(p.n AS BIGINT) AS n_dedup,
           CAST(COALESCE(m.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(m.tok_kept, 0) AS BIGINT) AS tokens_kept
    FROM p LEFT JOIN (
      SELECT lang, COUNT(*) AS n_kept, SUM(ntok) AS tok_kept
      FROM mixed GROUP BY 1
    ) m USING (lang)
    """,
    doc="Composed training-data pipeline v5, assembled entirely from "
    "audited pieces: (1) quality floor (n_chars >= 100 AND >= 10 ws "
    "tokens); (2) SURVIVORSHIP exact dedup on the case/whitespace-"
    "normalized digest keeping the longest variant "
    "(ops.sort.latest_by_key, dedup_survivorship's rule - not "
    "lowest-id); (3) temperature-weighted language rebalance at "
    "alpha=0.5 with a 50% budget (ops.sampling.temperature_mix, "
    "exact-integer normalizer, md5-uniform selection); (4) per-lang "
    "accounting of deduped vs kept docs and kept ws-token mass. "
    "Waypoints keep each stage's output single-scan; every stage "
    "shuffles on digests/ids, never raw text twice. The v4 sibling is "
    "distribution-MATCHING (DSIR); v5 is distribution-SHAPING "
    "(diversity rebalance) - together they bracket the selection "
    "design space.",
)
def corpus_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    surv, mixed = _v5_stages(spark, sf_dir)
    n = surv.groupBy("lang").agg(F.count("*").cast("long").alias("n_dedup"))
    m = mixed.groupBy("lang").agg(
        F.count("*").cast("long").alias("__k"),
        F.sum("ntok").cast("long").alias("__t"),
    )
    return n.join(m, "lang", "left").select(
        "lang", "n_dedup",
        F.coalesce(F.col("__k"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("__t"), F.lit(0)).cast("long").alias("tokens_kept"),
    )


@register(
    "corpus_pipeline_v6",
    oracle=f"""
    WITH {_V5_PIPE_CTES}
    SELECT (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            * 4) // 4294967296 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM mixed GROUP BY 1
    """,
    doc="Composed training-data pipeline v6 — v5's full chain (quality "
    "floor -> survivorship dedup -> temperature-weighted language "
    "rebalance) finished with the EXPORT LAST MILE: deterministic "
    "md5-shuffled assignment of the selected docs into 4 training "
    "shards (ops.sampling.shard_assignment) plus the per-shard "
    "manifest (doc count, ws-token budget, language-mixing audit). "
    "Both the pipeline replay and its oracle are COMPOSED from the "
    "audited v5 pieces (_v5_stages / _V5_PIPE_CTES shared fragments — "
    "a fix to either leg reaches v5 and v6 together, never by "
    "hand-copy). The shard key hashes doc_id, so selection "
    "(md5 prefix-8) and sharding (same u32, scaled) reuse ONE "
    "uniform key yet stay independent of storage order: every shard "
    "is an i.i.d. sample of the mixed corpus. Manifest = one "
    "map-side-combined groupBy over n_shards keys on top of the "
    "pipeline — the writer twin would partitionBy('shard') with zero "
    "extra shuffle. Reference parity: the hash-Partitioner reducer "
    "fan-out closing a MapReduce pipeline, made replayable.",
)
def corpus_pipeline_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import shard_assignment

    _, mixed = _v5_stages(spark, sf_dir)
    return (
        shard_assignment(mixed, "doc_id", 4)
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


# Shared oracle CTE fragments (used by their own gates AND composed into
# corpus_qa_panel — a fix to the audited fragment must reach the panel
# automatically, not by hand-copy).
_KS_DRIFT_CTES = """gg AS (
      SELECT source AS g, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    grp AS (SELECT g, SUM(c) AS ng FROM gg GROUP BY 1),
    gv AS (SELECT v, SUM(c) AS cc FROM gg GROUP BY 1),
    nn AS (SELECT SUM(cc) AS t FROM gv),
    gcum AS (
      SELECT v, SUM(cc) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcm
      FROM gv
    ),
    dense AS (
      SELECT grp.g, gv.v, grp.ng, COALESCE(gg.c, 0) AS c
      FROM gv CROSS JOIN grp
      LEFT JOIN gg ON gg.g IS NOT DISTINCT FROM grp.g AND gg.v = gv.v
    ),
    dcum AS (
      SELECT g, v, ng,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dense
    )"""

_NOVELTY_CTES = """toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '') AS a
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS gr
      FROM toks, LATERAL UNNEST(generate_series(1, len(a) - 2)) AS u(i)
      WHERE len(a) >= 3
    ),
    firsts AS (SELECT gr, MIN(doc_id) AS fd FROM grams GROUP BY 1),
    pd AS (
      SELECT doc_id, COUNT(*) AS ngr,
             SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS nv
      FROM grams JOIN firsts USING (gr) GROUP BY 1
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM documents)"""


@register(
    "ngram_novelty_curve",
    oracle=f"""
    WITH {_NOVELTY_CTES}
    SELECT LEAST(9, doc_id * 10 // (m + 1)) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ngr) AS BIGINT) AS n_grams,
           CAST(SUM(nv) AS BIGINT) AS n_novel,
           (1000000 * CAST(SUM(nv) AS BIGINT)) // CAST(SUM(ngr) AS BIGINT)
             AS novelty_e6
    FROM pd CROSS JOIN mx
    GROUP BY 1 ORDER BY 1
    """,
    doc="Word-trigram novelty curve over doc-id deciles "
    "(llm.textan.ngram_novelty): fraction of each bucket's distinct "
    "3-grams whose corpus-wide first occurrence lands in that bucket "
    "- the n-gram-exhaustion / memorization-pressure monitor next to "
    "the dedup tier (copies vs soft recombination). One posting "
    "explode (shared _gram_rows shape), min-doc first-occurrence, one "
    "gram join back; exact BIGINT counters, integer-div novelty. "
    "Sub-3-token docs carry no grams (documented denominator).",
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import ngram_novelty

    return ngram_novelty(t(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "ann_ivf_recall",
    oracle="""
    WITH corpus AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
    pairs AS (
      SELECT query_id, e.vec_id,
             ROUND(list_dot_product(qv, e.v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.v, e.v))), 4) + 0.0 AS cos
      FROM q CROSS JOIN corpus e WHERE query_id <> e.vec_id
    ),
    exact AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rank
        FROM pairs) WHERE rank <= 10
    ),
    cents AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv FROM corpus WHERE vec_id < 16
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT c.vec_id, c.v, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct) WHERE rn = 1
    ),
    probes AS MATERIALIZED (
      SELECT query_id, qv, cid AS cell FROM (
        SELECT qq.query_id, qq.qv, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY qq.query_id
                                  ORDER BY list_distance(qq.qv, ct.cv), ct.cid) AS rn
        FROM q qq CROSS JOIN cents ct) WHERE rn <= 4
    ),
    ipairs AS (
      SELECT p.query_id, a.vec_id,
             ROUND(list_dot_product(p.qv, a.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) *
                    sqrt(list_dot_product(a.v, a.v))), 4) + 0.0 AS cos
      FROM probes p JOIN assign a USING (cell)
      WHERE p.query_id <> a.vec_id
    ),
    ivf AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rank
        FROM ipairs) WHERE rank <= 10
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           (1000000 * CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0
                                    END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
             AS recall_e6
    FROM exact e LEFT JOIN ivf i
      ON i.query_id = e.query_id AND i.vec_id = e.vec_id
    GROUP BY 1
    """,
    doc="IVF index-quality audit: per-query recall@10 of the n_probe=4 "
    "IVF search against the exact brute-force cosine ranking - the "
    "standing monitor an ANN deployment runs on a benchmark query set "
    "every index rebuild (llm.similarity.ivf_topk vs cosine_topk, "
    "composed; left-semi hit join on (query, neighbor)). Both "
    "rankings share the @4-rounded cosine and vec_id tiebreak, so "
    "recall is deterministic; integer-division recall_e6. Fixed "
    "16-centroid quantizer as in ann_ivf_topk.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = ivf_topk(
        emb, queries, k=10, n_probe=4, centroids=cents
    ).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"], "left_semi")
    n_exact = exact.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    n_hits = hits.groupBy("query_id").agg(
        F.count("*").cast("long").alias("__h")
    )
    return (
        n_exact.join(n_hits, "query_id", "left")
        .withColumn("n_hits", F.coalesce(F.col("__h"), F.lit(0)).cast("long"))
        .select(
            "query_id", "n_exact", "n_hits",
            F.expr("(1000000 * n_hits) div n_exact").cast("long")
            .alias("recall_e6"),
        )
    )


@register(
    "ks_source_drift",
    oracle=f"""
    WITH {_KS_DRIFT_CTES}
    SELECT g AS source, CAST(MAX(ng) AS BIGINT) AS n_g,
           CAST(MAX(t) AS BIGINT) AS n_total,
           CAST(FLOOR(MAX(ABS(CAST(cum AS DOUBLE) / CAST(ng AS DOUBLE)
                - CAST(gcm AS DOUBLE) / CAST(t AS DOUBLE))) * 1000000)
             AS BIGINT) AS d_e6
    FROM dcum JOIN gcum USING (v) CROSS JOIN nn
    GROUP BY 1 ORDER BY 1
    """,
    doc="Per-source document-length drift vs the whole corpus "
    "(ops.stats.ks_group_drift on documents.n_chars by source): every "
    "source's KS D against the global ECDF in ONE pass - the "
    "which-source-drifted fleet report beside corpus_drift's "
    "token-divergence. A source's ECDF is flat where it has no mass "
    "and the sup can land there, so the gap is taken at each of the "
    "source's own values AND just before it (the two-sided endpoint "
    "rule, equal to the dense (source x global-value) grid bit for "
    "bit); per-source and pooled prefixes are windows inside one "
    "value-chunk exchange, with per-chunk offsets from a broadcast "
    "(source, chunk) summary; exact BIGINT counters, one division per "
    "side, order-independent max. The summary and output ride one "
    "partition (no range sort, no SinglePartition total).",
)
def ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.stats import ks_group_drift

    return ks_group_drift(t(spark, sf_dir, "documents"), "n_chars", "source")


@register(
    "corpus_qa_panel",
    oracle=f"""
    WITH {_KS_DRIFT_CTES},
    drift AS (
      SELECT 'ks_drift_e6' AS metric, g AS dim,
             CAST(FLOOR(MAX(ABS(CAST(cum AS DOUBLE) / CAST(ng AS DOUBLE)
                  - CAST(gcm AS DOUBLE) / CAST(t AS DOUBLE))) * 1000000)
               AS BIGINT) AS value
      FROM dcum JOIN gcum USING (v) CROSS JOIN nn
      GROUP BY 2
    ),
    {_NOVELTY_CTES},
    novelty AS (
      SELECT 'novelty_e6' AS metric,
             CAST(LEAST(9, doc_id * 10 // (m + 1)) AS VARCHAR) AS dim,
             (1000000 * CAST(SUM(nv) AS BIGINT)) // CAST(SUM(ngr) AS BIGINT)
               AS value
      FROM pd CROSS JOIN mx GROUP BY 2
    ),
    cls AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(DISTINCT n_chars // 1000) AS BIGINT) AS l
      FROM documents GROUP BY 1, 2
    ),
    priv AS (
      SELECT 'k_anonymity' AS metric, 'corpus' AS dim,
             CAST(MIN(c) AS BIGINT) AS value FROM cls
      UNION ALL
      SELECT 'l_diversity', 'corpus', CAST(MIN(l) AS BIGINT) FROM cls
      UNION ALL
      SELECT 'rows_below_k_share_e6', 'corpus',
             (1000000 * CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END)
                AS BIGINT)) // CAST(SUM(c) AS BIGINT)
      FROM cls
    )
    SELECT * FROM drift
    UNION ALL SELECT * FROM novelty
    UNION ALL SELECT * FROM priv
    ORDER BY metric, dim
    """,
    doc="Composed corpus QA panel - the one-query release dashboard: "
    "per-source length drift (ops.stats.ks_group_drift), trigram "
    "novelty decay by doc-id decile (llm.textan.ngram_novelty), and "
    "the (lang, source) k-anonymity / l-diversity / below-k exposure "
    "audit (ops.validate.k_anonymity_audit), reshaped to (metric, "
    "dim, value) rows and unioned. Each leg is the already-audited "
    "operator; the ORACLE composes the same shared CTE fragments the "
    "leg gates use (_KS_DRIFT_CTES / _NOVELTY_CTES), so a fix to an "
    "audited fragment reaches the panel automatically. The panel a "
    "training-data release gate actually reads.",
)
def corpus_qa_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import ngram_novelty
    from hadoop_fcfs_spark.ops.stats import ks_group_drift
    from hadoop_fcfs_spark.ops.validate import k_anonymity_audit

    docs = t(spark, sf_dir, "documents")
    drift = ks_group_drift(docs, "n_chars", "source").select(
        F.lit("ks_drift_e6").alias("metric"),
        F.col("source").alias("dim"),
        F.col("d_e6").alias("value"),
    )
    nov = ngram_novelty(docs, "doc_id", "text").select(
        F.lit("novelty_e6").alias("metric"),
        F.col("bucket").cast("string").alias("dim"),
        F.col("novelty_e6").alias("value"),
    )
    audit = k_anonymity_audit(
        docs.withColumn("__sens", F.expr("n_chars div 1000")),
        ["lang", "source"],
        "__sens",
        k=5,
    )
    priv = audit.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("k_anonymity").alias("metric"),
                    F.lit("corpus").alias("dim"),
                    F.col("k_anonymity").alias("value"),
                ),
                F.struct(
                    F.lit("l_diversity").alias("metric"),
                    F.lit("corpus").alias("dim"),
                    F.col("l_diversity").alias("value"),
                ),
                F.struct(
                    F.lit("rows_below_k_share_e6").alias("metric"),
                    F.lit("corpus").alias("dim"),
                    F.col("rows_below_k_share_e6").alias("value"),
                ),
            )
        ).alias("r")
    ).select("r.metric", "r.dim", "r.value")
    return drift.unionByName(nov).unionByName(priv).orderBy("metric", "dim")


@register(
    "doc_keywords",
    oracle=f"""
    WITH {_TOKS},
    tf AS (SELECT doc_id, w AS term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    nn AS (SELECT COUNT(*) AS N FROM documents),
    wts AS (
      SELECT doc_id, term,
             CAST(FLOOR(tf * (ln((N + 1) / (doc_freq + 1)) + 1) * 1000000)
               AS BIGINT) AS tfidf_e6
      FROM tf JOIN dfq USING (term) CROSS JOIN nn
    )
    SELECT doc_id, term, tfidf_e6, CAST(rk AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_e6 DESC, term) AS rk
      FROM wts) WHERE rk <= 3
    """,
    doc="Per-document keyword extraction: top-3 terms by smoothed "
    "TF-IDF weight (llm.textan.tf_idf + a per-doc rank) - the "
    "document-tagging / index-enrichment step retrieval pipelines "
    "run at ingest. Weights are the tf_idf gate's floor-micro "
    "integers, so ranking ties (weight, then term) are deterministic "
    "cross-engine; the per-doc window is WindowGroupLimit-bounded "
    "(O(3) state per doc at any corpus size).",
)
def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_fcfs_spark.llm.textan import tf_idf

    wts = tf_idf(t(spark, sf_dir, "documents"), "doc_id", "text")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_e6"), F.asc("term")
    )
    return (
        wts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf_e6", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "training_shard_manifest",
    oracle="""
    SELECT (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            * 8) // 4294967296 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY 1
    """,
    doc="Training-shard export manifest: deterministic md5-shuffled "
    "shard assignment (ops.sampling.shard_assignment — shard = "
    "floor(uniform32(md5(doc_id)) * 8 / 2^32), exact shiftright "
    "arithmetic) + per-shard accounting (doc count, char budget, "
    "source/lang mixing audit). The export last-mile of a training "
    "pipeline: hashing the id decorrelates source/time locality so "
    "every shard is an i.i.d. corpus sample (writers partitionBy "
    "the shard column; this manifest is the audit twin). One "
    "map-side-combined groupBy over n_shards keys — the distinct "
    "counts are per-shard-bounded. Reference parity: the "
    "hash-Partitioner fan-out into reducer output files, made "
    "replayable (rebuilding one shard never touches the others).",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import shard_assignment

    docs = t(spark, sf_dir, "documents")
    return (
        shard_assignment(docs, "doc_id", 8)
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


@register(
    "langid_kappa",
    oracle=f"""
    WITH {_LANGID_PRED_CTES},
    pairs AS (
      SELECT d.lang AS a, COALESCE(p.lang_pred, 'und') AS b
      FROM documents d LEFT JOIN pred p USING (doc_id)
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      FROM pairs
    ),
    ca AS (SELECT a AS l, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1),
    cb AS (SELECT b AS l, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1),
    pe AS (
      SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS pe_num
      FROM ca JOIN cb USING (l)
    )
    SELECT n, n_agree, pe_num,
           CASE WHEN n * n <> pe_num THEN
             CAST(FLOOR((CAST(n AS DOUBLE) * CAST(n_agree AS DOUBLE)
                         - CAST(pe_num AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           - CAST(pe_num AS DOUBLE)) * 1000000) AS BIGINT)
           END AS kappa_e6
    FROM base CROSS JOIN pe
    """,
    doc="Cohen's kappa between the stopword-heuristic language "
    "prediction and the corpus lang label (ops.stats.cohens_kappa "
    "over the langid_confusion pairing) - the chance-corrected "
    "labeling-QA scalar raw accuracy can't give on a skewed lang "
    "mix. Exact-integer numerators (n*agree, marginal product sum), "
    "one double division floored to e6; the oracle composes the "
    "SHARED _LANGID_PRED_CTES fragment so the prediction replay "
    "cannot drift from the confusion gate's.",
)
def langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.stats import cohens_kappa

    from hadoop_fcfs_spark.llm.textan import lang_id

    docs = t(spark, sf_dir, "documents")
    pred = lang_id(docs, "doc_id", "text").select("doc_id", "lang_pred")
    pairs = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .select(
            "lang", F.coalesce("lang_pred", F.lit("und")).alias("lang_pred")
        )
    )
    return cohens_kappa(pairs, "lang", "lang_pred")


@register(
    "mcnemar_langid",
    oracle=f"""
    WITH {_langid_chain("text")},{_langid_chain("substring(text, 1, 120)", "_t")},
    pairs AS (
      SELECT d.lang = COALESCE(p.lang_pred, 'und') AS ca,
             d.lang = COALESCE(pt.lang_pred, 'und') AS cb
      FROM documents d
      LEFT JOIN pred p USING (doc_id)
      LEFT JOIN pred_t pt USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
             AS both_right,
           CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
             AS both_wrong,
           CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
             AS a_only,
           CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
             AS b_only,
           CASE WHEN SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
                     + SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) > 0 THEN
             ROUND((ABS(CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
                             AS DOUBLE)
                        - SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)) - 1)
               * (ABS(CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
                           AS DOUBLE)
                      - SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)) - 1)
               / (CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
                       AS DOUBLE)
                  + SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)), 6)
           END AS chi2_cc_r6
    FROM pairs
    """,
    doc="McNemar paired-classifier test (ops.stats.mcnemar_test): "
    "full-text language-ID vs a cheap 120-char-prefix variant of the "
    "SAME heuristic, scored against the corpus lang label on the "
    "same documents - the right significance test for 'is the "
    "cheaper model actually worse' because it tests only the "
    "DISCORDANT pairs (independent accuracy intervals ignore the "
    "pairing and overstate the evidence needed). Both predictors "
    "replay through the shared _langid_chain template (suffixed "
    "instance for the truncated variant) so neither can drift; "
    "exact BIGINT 2x2 discordance cells, one flat continuity-"
    "corrected double ratio rounded @6, NULL when the models never "
    "disagree.",
)
def mcnemar_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.stats import mcnemar_test

    from hadoop_fcfs_spark.llm.textan import lang_id

    docs = t(spark, sf_dir, "documents")
    pa = lang_id(docs, "doc_id", "text").select(
        "doc_id", F.col("lang_pred").alias("__pa")
    )
    pb = lang_id(
        docs.select("doc_id", F.substring("text", 1, 120).alias("text")),
        "doc_id", "text",
    ).select("doc_id", F.col("lang_pred").alias("__pb"))
    pairs = (
        docs.select("doc_id", "lang")
        .join(pa, "doc_id", "left")
        .join(pb, "doc_id", "left")
        .select(
            (F.col("lang") == F.coalesce("__pa", F.lit("und"))).alias("ca"),
            (F.col("lang") == F.coalesce("__pb", F.lit("und"))).alias("cb"),
        )
    )
    return mcnemar_test(pairs, "ca", "cb")


@register(
    "readability_sources",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                  w -> w <> '')) AS BIGINT) AS nw,
             GREATEST(CAST(length(regexp_replace(lower(text), '[.!?]+', '#', 'g'))
               - length(regexp_replace(lower(text), '[.!?]+', '', 'g'))
               AS BIGINT), 1) AS ns,
             CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
               - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
               AS BIGINT) AS vg
      FROM documents
    ),
    scored AS (
      SELECT source, nw, ns, vg,
             CAST(FLOOR((206.835
               - 1.015 * (CAST(GREATEST(nw, 1) AS DOUBLE) / ns)
               - 84.6 * (CAST(vg AS DOUBLE) / GREATEST(nw, 1)))
               * 1000) AS BIGINT) AS fe3
      FROM per_doc
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nw) AS BIGINT) AS sum_words,
           CAST(SUM(fe3) // COUNT(*) AS BIGINT) AS avg_flesch_e3
    FROM scored GROUP BY 1
    """,
    doc="Flesch reading-ease per source (llm.textan.readability_scores "
    "rolled up): words/sentences/vowel-group counts as pure "
    "length-difference regexp expressions (syllables ~= [aeiouy]+ "
    "runs, the codec-free heuristic; sentence runs of [.!?] floored "
    "at 1), frozen-coefficient FRE per doc floor-quantized to milli "
    "(quality_score discipline - round() half-tails disagree across "
    "engines, floor of the identical double does not), then EXACT "
    "BIGINT sums and one flooring division per source - no float "
    "aggregation over documents.",
)
def readability_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import readability_scores

    docs = t(spark, sf_dir, "documents")
    scored = readability_scores(docs, "doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.expr("CAST(SUM(flesch_e3) div COUNT(*) AS BIGINT)").alias(
            "avg_flesch_e3"
        ),
    )


@register(
    "js_drift_sources",
    oracle="""
    WITH base AS (
      SELECT source AS g, n_chars // 64 AS b FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ),
    gb AS (SELECT g, b, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
    buckets AS (SELECT b, CAST(SUM(c) AS BIGINT) AS gc FROM gb GROUP BY 1),
    groups AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ns FROM gb GROUP BY 1),
    tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS n FROM buckets),
    grid AS (
      SELECT groups.g, groups.ns, buckets.b, buckets.gc, tot.n,
             COALESCE(gb.c, 0) AS c
      FROM groups CROSS JOIN buckets CROSS JOIN tot
      LEFT JOIN gb ON gb.g = groups.g AND gb.b = buckets.b
    )
    SELECT g AS source, CAST(MAX(ns) AS BIGINT) AS n_group,
           ROUND(SUM(
             CASE WHEN c > 0 THEN
               (CAST(c AS DOUBLE) / ns)
               * log2((CAST(c AS DOUBLE) / ns)
                      / ((CAST(c AS DOUBLE) / ns
                          + CAST(gc AS DOUBLE) / n) / 2.0)) / 2.0
             ELSE 0.0 END
             + (CAST(gc AS DOUBLE) / n)
               * log2((CAST(gc AS DOUBLE) / n)
                      / ((CAST(c AS DOUBLE) / ns
                          + CAST(gc AS DOUBLE) / n) / 2.0)) / 2.0
           ), 6) AS jsd_r6
    FROM grid GROUP BY 1
    """,
    doc="Per-source Jensen-Shannon divergence "
    "(ops.stats.js_divergence_binned) between each source's doc-length "
    "distribution (n_chars in 64-char buckets) and the corpus-wide "
    "one - the bounded, symmetric, always-finite drift scalar "
    "complementing ks_source_drift's max-gap statistic (KL blows up "
    "on empty bins; JSD in [0,1] bits never does). Dense "
    "(source x global-bucket) grid - the ks_source_drift lesson: "
    "buckets a source MISSES are exactly where it diverges. Exact "
    "BIGINT counts; double p*log2 terms summed over the bounded "
    "bucket grid only (MI precedent), rounded to 6.",
)
def js_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.stats import js_divergence_binned

    docs = t(spark, sf_dir, "documents")
    return js_divergence_binned(docs, "source", "n_chars", bin_width=64)


@register(
    "blocking_quality_mingram",
    oracle="WITH " + _EXACT_PAIRS.format(src="documents", thr=0.5) + """,
    keys AS (SELECT doc, MIN(gram) AS k FROM grams GROUP BY doc),
    cand AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM keys a JOIN keys b ON a.k = b.k WHERE a.doc < b.doc
    ),
    scal AS (
      SELECT (SELECT COUNT(*) FROM documents) AS nd,
             (SELECT COUNT(*) FROM cand) AS nc,
             (SELECT COUNT(*) FROM pairs) AS nt,
             (SELECT COUNT(*) FROM pairs p JOIN cand c
                ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b) AS nh
    )
    SELECT CAST(nd AS BIGINT) AS n_docs, CAST(nt AS BIGINT) AS n_truth,
           CAST(nc AS BIGINT) AS n_cand, CAST(nh AS BIGINT) AS n_hit,
           CASE WHEN nt > 0
                THEN CAST(nh * 1000000 // nt AS BIGINT) END AS pc_micro,
           CASE WHEN nd >= 2
                THEN CAST((nd * (nd - 1) // 2 - nc) * 1000000
                          // (nd * (nd - 1) // 2) AS BIGINT)
           END AS rr_micro
    FROM scal
    """,
    doc="Blocking-scheme QA (llm.dedup.mingram_blocking_quality): pair "
    "completeness and reduction ratio (Christen's PC/RR) of "
    "single-min-shingle blocking vs the exact 3-gram Jaccard >= 0.5 "
    "truth set - the entity-resolution audit that decides whether a "
    "cheap 1-key-per-doc blocking scheme is safe before running it "
    "at corpus scale (the dedup twin of ann_ivf_recall's exact-kNN "
    "audit). Min-shingle blocking is deterministic and "
    "vocabulary-free, so the ORACLE replays the full candidate set - "
    "unlike MinHash banding, whose xxhash64 candidates ANSI SQL "
    "cannot replay. PROBED: PC is 964285 micro at sf0.001 (1 of 28 "
    "true pairs missed) and 1000000 at sf0.01 - data-dependent, not "
    "vacuously 1. Exact BIGINT counts, two flooring micro divisions.",
)
def blocking_quality_mingram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import mingram_blocking_quality

    docs = t(spark, sf_dir, "documents")
    return mingram_blocking_quality(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "feature_hash_profile",
    oracle=f"""
    WITH {_TOKS},
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 64 AS feat_idx,
             CASE WHEN CAST('0x' || substr(md5(w), 9, 1) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM toks
    ),
    v AS (
      SELECT doc_id, feat_idx, CAST(SUM(s) AS BIGINT) AS val
      FROM h GROUP BY 1, 2
    )
    SELECT feat_idx,
           CAST(COUNT(*) AS BIGINT) AS nnz_docs,
           CAST(SUM(val) AS BIGINT) AS total_val,
           CAST(SUM(ABS(val)) AS BIGINT) AS l1_val
    FROM v WHERE val <> 0 GROUP BY 1
    """,
    doc="Hashing-trick vectorization profile (ops.encode.feature_hash, "
    "D=64): per-feature nonzero-document count and signed/L1 mass "
    "over the whole corpus - pins index assignment, sign debiasing, "
    "per-doc signed sums AND zero-cancellation dropping in one "
    "compact D-row table. feat_idx = md5_uniform32(token) mod D with "
    "a +-1 sign from an independent md5 nibble (the _sample_key "
    "md5-tier idiom - vocabulary-free, RNG-free, engine-replayable). "
    "ONE shuffle to the (doc, feat) grain + the D-key rollup, both "
    "map-side combined.",
)
def feature_hash_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.encode import feature_hash

    docs = t(spark, sf_dir, "documents")
    vec = feature_hash(docs, "doc_id", "text", n_features=64)
    return vec.groupBy("feat_idx").agg(
        F.count("*").cast("long").alias("nnz_docs"),
        F.sum("val").cast("long").alias("total_val"),
        F.sum(F.abs("val")).cast("long").alias("l1_val"),
    )


@register(
    "fleiss_langid",
    oracle=f"""
    WITH {_LANGID_PRED_CTES},
    pred2 AS (
      SELECT doc_id,
        CASE WHEN score_en >= 0.05 THEN 'en'
             WHEN score_de >= 0.05 THEN 'de'
             WHEN score_es >= 0.05 THEN 'es'
             WHEN score_fr >= 0.05 THEN 'fr'
             ELSE 'und' END AS lang_pred2
      FROM scores
    ),
    votes AS (
      SELECT doc_id, COALESCE(lang, 'und') AS l FROM documents
      UNION ALL
      SELECT d.doc_id, COALESCE(p.lang_pred, 'und')
      FROM documents d LEFT JOIN pred p USING (doc_id)
      UNION ALL
      SELECT d.doc_id, COALESCE(p2.lang_pred2, 'und')
      FROM documents d LEFT JOIN pred2 p2 USING (doc_id)
    ),
    nij AS (SELECT doc_id, l, COUNT(*) AS c FROM votes GROUP BY 1, 2),
    aa AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS a,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_items
      FROM nij
    ),
    ss AS (
      SELECT CAST(SUM(cj * cj) AS BIGINT) AS s2
      FROM (SELECT l, SUM(c) AS cj FROM nij GROUP BY 1)
    )
    SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
           CASE WHEN n_items > 0
                 AND CAST(s2 AS DOUBLE)
                     / (CAST(n_items AS DOUBLE) * 3
                        * CAST(n_items AS DOUBLE) * 3) <> 1.0 THEN
             CAST(FLOOR(
               ((CAST(a AS DOUBLE) - CAST(n_items AS DOUBLE) * 3)
                  / (CAST(n_items AS DOUBLE) * 3 * 2)
                - CAST(s2 AS DOUBLE)
                  / (CAST(n_items AS DOUBLE) * 3
                     * CAST(n_items AS DOUBLE) * 3))
               / (1.0 - CAST(s2 AS DOUBLE)
                        / (CAST(n_items AS DOUBLE) * 3
                           * CAST(n_items AS DOUBLE) * 3))
               * 1000000) AS BIGINT)
           END AS kappa_e6
    FROM aa CROSS JOIN ss
    """,
    doc="Fleiss' kappa (ops.stats.fleiss_kappa) among THREE raters of "
    "each document's language: the corpus label, the argmax stopword "
    "heuristic (shared _LANGID_PRED_CTES replay - the langid_kappa "
    "pairing), and a threshold-priority heuristic derived from the "
    "SAME shared scores CTE (en>=0.05 first, then de/es/fr) - the "
    "multi-rater inter-annotator-agreement scalar that decides "
    "whether labeling judgments can be aggregated at all. Exact "
    "BIGINT A = Sum n_ij^2 and category-total square sum; kappa is "
    "flat scalar double arithmetic floored to micro (an all-BIGINT "
    "ratio needs N^3 products - overflows at ~2e6 items).",
)
def fleiss_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.stats import fleiss_kappa

    docs = t(spark, sf_dir, "documents")
    li = lang_id(docs, "doc_id", "text")

    def s(lng: str):
        return F.col(f"score_{lng}")

    pred2 = (
        F.when(s("en") >= 0.05, "en")
        .when(s("de") >= 0.05, "de")
        .when(s("es") >= 0.05, "es")
        .when(s("fr") >= 0.05, "fr")
        .otherwise("und")
    )
    trip = (
        docs.select("doc_id", F.coalesce("lang", F.lit("und")).alias("r_truth"))
        .join(
            li.select(
                "doc_id",
                F.col("lang_pred").alias("r_argmax"),
                pred2.alias("r_thresh"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", "r_truth",
            F.coalesce("r_argmax", F.lit("und")).alias("r_argmax"),
            F.coalesce("r_thresh", F.lit("und")).alias("r_thresh"),
        )
    )
    return fleiss_kappa(trip, "doc_id", ["r_truth", "r_argmax", "r_thresh"])


# Shared supplier-preference CTE prefix (winner = supplier of the
# priciest lineitem in a multi-line order, loser = the cheapest's;
# deterministic linenumber tiebreaks, self-matches dropped) — composed
# by BOTH preference gates (`bradley_terry_suppliers`,
# `supplier_winrate_bounds`) so the comparison-log replay cannot
# drift between them (_KNN_RANKED_CTES precedent).
_SUPPLIER_PREF_CTES = """
    rk AS MATERIALIZED (
      SELECT l_orderkey AS o, l_suppkey AS s,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rw,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_extendedprice ASC, l_linenumber DESC) AS rl,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS cnt
      FROM lineitem
    ),
    pref AS MATERIALIZED (
      SELECT w.s AS a, l.s AS b
      FROM (SELECT o, s FROM rk WHERE rw = 1 AND cnt >= 2) w
      JOIN (SELECT o, s FROM rk WHERE rl = 1) l USING (o)
      WHERE w.s <> l.s
    )"""


@register(
    "bradley_terry_suppliers",
    oracle=f"""
    WITH {_SUPPLIER_PREF_CTES},
    dirc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM pref GROUP BY 1, 2),
    e AS MATERIALIZED (
      SELECT i, j, CAST(SUM(g) AS BIGINT) AS g, CAST(SUM(w) AS BIGINT) AS w
      FROM (
        SELECT a AS i, b AS j, n AS g, n AS w FROM dirc
        UNION ALL
        SELECT b AS i, a AS j, n AS g, 0 AS w FROM dirc
      ) GROUP BY 1, 2
    ),
    wn AS MATERIALIZED (
      SELECT i AS node, CAST(SUM(w) AS BIGINT) AS wins,
             CAST(SUM(g) AS BIGINT) AS games
      FROM e GROUP BY 1
    ),
    p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM wn),
    d1 AS (SELECT e.i AS node,
                  SUM(e.g * 1000000000000 // (pi.p + pj.p)) AS d
           FROM e JOIN p0 pi ON e.i = pi.node JOIN p0 pj ON e.j = pj.node
           GROUP BY 1),
    r1 AS (SELECT wn.node, (wn.wins * 1000000000000) // d1.d AS praw
           FROM wn JOIN d1 USING (node)),
    p1 AS MATERIALIZED (
      SELECT node, GREATEST(CAST(1 AS BIGINT),
        CAST(FLOOR(CAST(praw AS DOUBLE)
          / CAST((SELECT MAX(praw) FROM r1) AS DOUBLE) * 1000000)
          AS BIGINT)) AS p
      FROM r1),
    d2 AS (SELECT e.i AS node,
                  SUM(e.g * 1000000000000 // (pi.p + pj.p)) AS d
           FROM e JOIN p1 pi ON e.i = pi.node JOIN p1 pj ON e.j = pj.node
           GROUP BY 1),
    r2 AS (SELECT wn.node, (wn.wins * 1000000000000) // d2.d AS praw
           FROM wn JOIN d2 USING (node)),
    p2 AS MATERIALIZED (
      SELECT node, GREATEST(CAST(1 AS BIGINT),
        CAST(FLOOR(CAST(praw AS DOUBLE)
          / CAST((SELECT MAX(praw) FROM r2) AS DOUBLE) * 1000000)
          AS BIGINT)) AS p
      FROM r2),
    d3 AS (SELECT e.i AS node,
                  SUM(e.g * 1000000000000 // (pi.p + pj.p)) AS d
           FROM e JOIN p2 pi ON e.i = pi.node JOIN p2 pj ON e.j = pj.node
           GROUP BY 1),
    r3 AS (SELECT wn.node, (wn.wins * 1000000000000) // d3.d AS praw
           FROM wn JOIN d3 USING (node)),
    p3 AS (
      SELECT node, GREATEST(CAST(1 AS BIGINT),
        CAST(FLOOR(CAST(praw AS DOUBLE)
          / CAST((SELECT MAX(praw) FROM r3) AS DOUBLE) * 1000000)
          AS BIGINT)) AS p
      FROM r3)
    SELECT p3.node AS supplier, p3.p AS strength_e6, wn.wins, wn.games
    FROM p3 JOIN wn USING (node)
    """,
    doc="Bradley-Terry preference-strength fitting "
    "(ops.ranking.bradley_terry, 3 MM iterations): the aggregation "
    "that turns pairwise preference judgments into per-item strengths "
    "- the RLHF comparison-data reduction, run here on a synthetic "
    "preference log (within each multi-lineitem order, the supplier "
    "of the priciest lineitem 'beats' the cheapest's; deterministic "
    "linenumber tiebreaks; self-matches dropped). Batch MM is the "
    "order-independent alternative to sequential Elo, so it "
    "distributes: comparison log collapses to the symmetric match-up "
    "grain once, then each iteration is two node-state joins + one "
    "node aggregation with exact per-edge floor(g*1e12/(p_i+p_j)) "
    "BIGINT terms and double-ratio max-normalization (the hits "
    "discipline). The GATE pins 3 iterations to match the unrolled "
    "MATERIALIZED oracle (kcore precedent: the gate, not the "
    "operator, carries the bound; engine default is 5).",
)
def bradley_terry_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.ranking import bradley_terry

    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.expr(
            "max_by(l_suppkey, struct(l_extendedprice, -l_linenumber))"
        ).alias("winner"),
        F.expr(
            "min_by(l_suppkey, struct(l_extendedprice, -l_linenumber))"
        ).alias("loser"),
        F.count("*").alias("__cnt"),
    )
    prefs = agg.filter(
        (F.col("__cnt") >= 2) & (F.col("winner") != F.col("loser"))
    )
    return bradley_terry(prefs, "winner", "loser", iterations=3).select(
        F.col("node").alias("supplier"), "strength_e6", "wins", "games"
    )


@register(
    "supplier_winrate_bounds",
    oracle=f"""
    WITH {_SUPPLIER_PREF_CTES},
    mu AS (
      SELECT LEAST(a, b) AS pa, GREATEST(a, b) AS pb,
             CAST(SUM(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
             CAST(COUNT(*) AS BIGINT) AS games
      FROM pref GROUP BY 1, 2
    )
    SELECT pa AS a, pb AS b, wins_a, games,
           CAST(wins_a * 1000000 // games AS BIGINT) AS winrate_micro,
           CAST(FLOOR(GREATEST(0.0,
             ((CAST(wins_a AS DOUBLE) / CAST(games AS DOUBLE))
              + (1.96 * 1.96) / (2 * CAST(games AS DOUBLE))
              - (1.96 * sqrt((CAST(wins_a AS DOUBLE) / CAST(games AS DOUBLE))
                  * (1 - (CAST(wins_a AS DOUBLE) / CAST(games AS DOUBLE)))
                  / CAST(games AS DOUBLE)
                  + (1.96 * 1.96)
                    / (4 * CAST(games AS DOUBLE) * CAST(games AS DOUBLE)))))
             / (1 + (1.96 * 1.96) / CAST(games AS DOUBLE)))
             * 1000000) AS BIGINT) AS wilson_lo_e6,
           CAST(FLOOR(LEAST(1.0,
             ((CAST(wins_a AS DOUBLE) / CAST(games AS DOUBLE))
              + (1.96 * 1.96) / (2 * CAST(games AS DOUBLE))
              + (1.96 * sqrt((CAST(wins_a AS DOUBLE) / CAST(games AS DOUBLE))
                  * (1 - (CAST(wins_a AS DOUBLE) / CAST(games AS DOUBLE)))
                  / CAST(games AS DOUBLE)
                  + (1.96 * 1.96)
                    / (4 * CAST(games AS DOUBLE) * CAST(games AS DOUBLE)))))
             / (1 + (1.96 * 1.96) / CAST(games AS DOUBLE)))
             * 1000000) AS BIGINT) AS wilson_hi_e6
    FROM mu
    """,
    doc="Head-to-head supplier win rates with Wilson 95% bounds "
    "(ops.ranking.pairwise_winrates) on the bradley_terry_suppliers "
    "comparison log (shared _SUPPLIER_PREF_CTES replay - the two "
    "preference gates cannot drift): BT gives one global strength "
    "per supplier; this is the match-up-grain evidence table under "
    "it, where the Wilson interval keeps a 2-0 pair from reading "
    "stronger than a 48-52 one. One map-side-combined collapse to "
    "the canonical (min id, max id) pair grain; exact BIGINT "
    "wins/games, one flooring winrate division, division-only-float-"
    "plus-one-sqrt bounds in the identical flat shape both engines "
    "(wilson_conversion_bounds contract), floored to e6.",
)
def supplier_winrate_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.ranking import pairwise_winrates

    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.expr(
            "max_by(l_suppkey, struct(l_extendedprice, -l_linenumber))"
        ).alias("winner"),
        F.expr(
            "min_by(l_suppkey, struct(l_extendedprice, -l_linenumber))"
        ).alias("loser"),
        F.count("*").alias("__cnt"),
    )
    prefs = agg.filter(
        (F.col("__cnt") >= 2) & (F.col("winner") != F.col("loser"))
    )
    return pairwise_winrates(prefs, "winner", "loser", z=1.96)


# NDCG@10 discount table: floor(1e6/log2(i+1)) for rank i = 1..10, and
# its prefix sums (the ideal DCG for R relevant items, R capped at 10).
# FROZEN INTEGER LITERALS shared verbatim by the Spark expression and
# the DuckDB oracle — the log2 never runs at query time on either
# engine, so the metric is exact BIGINT arithmetic end to end.
_NDCG_D = (1000000, 630929, 500000, 430676, 386852,
           356207, 333333, 315464, 301029, 289064)
_NDCG_CUM = (1000000, 1630929, 2130929, 2561605, 2948457,
             3304664, 3637997, 3953461, 4254490, 4543554)

# Shared retrieval-ranking CTE chain (exact cosine ranking of the
# first 10 query vectors with the ann_cosine_topk determinism
# discipline: ROUND(cos,4), vec_id tiebreak) — composed by BOTH
# ranking-eval gates (`knn_ndcg_labels`, `knn_mrr_labels`) so the
# replay cannot drift between them (_LANGID_PRED_CTES precedent).
_KNN_RANKED_CTES = """
    q AS (SELECT vec_id AS query_id, label AS qlab,
                 embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT query_id, qlab, e.vec_id, e.label,
             ROUND(list_dot_product(qv, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 4)
               + 0.0 AS cos
      FROM q CROSS JOIN embeddings e
      WHERE query_id <> e.vec_id
    ),
    ranked AS (
      SELECT query_id, qlab, label,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM pairs
    )"""


@register(
    "knn_mrr_labels",
    oracle=f"""
    WITH {_KNN_RANKED_CTES},
    firsts AS (
      SELECT query_id, CAST(MIN(rank) AS BIGINT) AS first_rel_rank
      FROM ranked WHERE rank <= 10 AND label = qlab GROUP BY 1
    )
    SELECT q.query_id, f.first_rel_rank,
           CAST(COALESCE(1000000 // f.first_rel_rank, 0) AS BIGINT)
             AS rr_micro
    FROM q LEFT JOIN firsts f USING (query_id)
    """,
    doc="Reciprocal rank of the first same-label hit in the cosine "
    "top-10 per query (MRR's per-query table) - the "
    "first-useful-result eval completing the retrieval tier "
    "(recall@10 = set overlap, NDCG = graded depth, RR = how fast the "
    "first hit arrives). rr_micro = 1000000 div first_rank is ONE "
    "exact integer division - no transcendental anywhere; 0 (not "
    "NULL) when no relevant doc makes the top-10, so the mean over "
    "queries is the standard MRR. The oracle composes the SHARED "
    "_KNN_RANKED_CTES fragment with knn_ndcg_labels so the two "
    "ranking replays cannot drift.",
)
def knn_mrr_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = cosine_topk(emb, queries, k=10)
    labs = emb.select("vec_id", "label")
    qlabs = labs.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "qlab"
    )
    firsts = (
        top.join(labs, "vec_id")
        .join(F.broadcast(qlabs), "query_id")
        .filter(F.col("label") == F.col("qlab"))
        .groupBy("query_id")
        .agg(F.min("rank").cast("long").alias("first_rel_rank"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(firsts, "query_id", "left")
        .selectExpr(
            "query_id", "first_rel_rank",
            "CAST(COALESCE(1000000 div first_rel_rank, 0) AS BIGINT)"
            " AS rr_micro",
        )
    )


@register(
    "knn_ndcg_labels",
    oracle=f"""
    WITH {_KNN_RANKED_CTES},
    dcg AS (
      SELECT query_id, qlab,
             CAST(SUM(CASE WHEN label = qlab THEN
               CASE rank {' '.join(f'WHEN {i + 1} THEN {d}' for i, d in enumerate(_NDCG_D))}
               END ELSE 0 END) AS BIGINT) AS dcg_u,
             CAST(SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_top10
      FROM ranked WHERE rank <= 10 GROUP BY 1, 2
    ),
    rel AS (
      SELECT q.query_id,
             CAST(COUNT(*) AS BIGINT) AS r_total
      FROM q JOIN embeddings e
        ON e.label = q.qlab AND e.vec_id <> q.query_id
      GROUP BY 1
    )
    SELECT d.query_id, d.n_rel_top10, rel.r_total,
           CASE WHEN rel.r_total > 0 THEN
             CAST((d.dcg_u * 1000000) // (CASE LEAST(rel.r_total, 10)
               {' '.join(f'WHEN {i + 1} THEN {c}' for i, c in enumerate(_NDCG_CUM))}
               END) AS BIGINT)
           END AS ndcg_micro
    FROM dcg d JOIN rel USING (query_id)
    """,
    doc="Exact NDCG@10 of brute-force cosine retrieval against label "
    "relevance (same-label = relevant) for the first 10 query vectors "
    "- the GRADED ranking-quality eval the tier lacked (recall@10 = "
    "set overlap, P@k = binary; NDCG weights early ranks). The log2 "
    "discounts are FROZEN micro-integer literals (floor(1e6/log2(i+1)) "
    "for i<=10) shared verbatim by engine and oracle, and IDCG is a "
    "literal prefix-sum lookup at min(R, 10) - so despite NDCG's "
    "transcendental definition the whole metric is exact BIGINT "
    "sums and ONE integer division per query, bit-identical across "
    "engines. Ranking determinism is the ann_cosine_topk discipline "
    "(ROUND(cos, 4), vec_id tiebreak). Scale shape: query-bounded "
    "top-10 (10 x corpus brute force here; the IVF/LSH variants are "
    "the scale path) + one label-count broadcast.",
)
def knn_ndcg_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = cosine_topk(emb, queries, k=10)
    labs = emb.select("vec_id", "label")
    qlabs = labs.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "qlab"
    )
    d_case = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_D]), F.col("rank")
    ).cast("long")
    dcg = (
        top.join(labs, "vec_id")
        .join(F.broadcast(qlabs), "query_id")
        .groupBy("query_id", "qlab")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("qlab"), d_case).otherwise(0)
            ).cast("long").alias("__dcg"),
            F.sum(
                F.when(F.col("label") == F.col("qlab"), 1).otherwise(0)
            ).cast("long").alias("n_rel_top10"),
        )
    )
    rel = (
        F.broadcast(qlabs)
        .join(labs, qlabs.qlab == labs.label)
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("r_total"))
    )
    idcg = F.element_at(
        F.array(*[F.lit(c) for c in _NDCG_CUM]),
        F.least(F.col("r_total"), F.lit(10)).cast("int"),
    ).cast("long")
    return (
        dcg.join(rel, "query_id")
        .select(
            "query_id", "n_rel_top10", "r_total",
            F.when(F.col("r_total") > 0, (F.col("__dcg") * 1_000_000))
            .alias("__num"),
            idcg.alias("__idcg"),
        )
        .selectExpr(
            "query_id", "n_rel_top10", "r_total",
            "CAST(__num div __idcg AS BIGINT) AS ndcg_micro",
        )
    )


@register(
    "knn_map_labels",
    oracle=f"""
    WITH {_KNN_RANKED_CTES},
    hits AS (
      SELECT query_id, rank,
             CASE WHEN label = qlab THEN 1 ELSE 0 END AS rel,
             CAST(SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END)
               OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT) AS h
      FROM ranked WHERE rank <= 10
    ),
    ap AS (
      SELECT query_id,
             CAST(SUM(CASE WHEN rel = 1
               THEN (2520 // rank) * h ELSE 0 END) AS BIGINT) AS ap_num,
             CAST(SUM(rel) AS BIGINT) AS n_rel_top10
      FROM hits GROUP BY 1
    ),
    rel_tot AS (
      SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS r_total
      FROM q JOIN embeddings e
        ON e.label = q.qlab AND e.vec_id <> q.query_id
      GROUP BY 1
    )
    SELECT a.query_id, a.n_rel_top10, r.r_total,
           CAST((a.ap_num * 1000000) // (2520 * LEAST(r.r_total, 10))
             AS BIGINT) AS ap_micro
    FROM ap a JOIN rel_tot r USING (query_id)
    """,
    doc="Exact average precision at 10 (AP@10, the per-query table "
    "under MAP) of the cosine retrieval against label relevance - "
    "the last standard ranking eval the tier lacked (recall@10 = set "
    "overlap, MRR = first hit, NDCG = graded depth; AP integrates "
    "precision over EVERY hit). P@k = hits/k is made exact by "
    "scaling with 2520 = lcm(1..10): each relevant rank k "
    "contributes (2520 div k) * hits@k in BIGINT, and ap_micro = "
    "ap_num * 1e6 div (2520 * min(R, 10)) is ONE integer division - "
    "no float anywhere. hits@k is a rank-ordered running sum over "
    "the KEY-BOUNDED top-10 window (10 rows per query, never data-"
    "grain). Ranking determinism and the R-total broadcast are the "
    "knn_ndcg_labels machinery verbatim (shared _KNN_RANKED_CTES "
    "replay); zero-relevant queries drop, the ndcg convention.",
)
def knn_map_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_fcfs_spark.llm.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = cosine_topk(emb, queries, k=10)
    labs = emb.select("vec_id", "label")
    qlabs = labs.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "qlab"
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    scored = (
        top.join(labs, "vec_id")
        .join(F.broadcast(qlabs), "query_id")
        .withColumn(
            "__rel", (F.col("label") == F.col("qlab")).cast("long")
        )
        .withColumn("__h", F.sum("__rel").over(w))
    )
    ap = scored.groupBy("query_id").agg(
        F.sum(
            F.expr("CASE WHEN __rel = 1 THEN (2520 div rank) * __h"
                   " ELSE 0 END")
        ).cast("long").alias("__num"),
        F.sum("__rel").cast("long").alias("n_rel_top10"),
    )
    rel = (
        F.broadcast(qlabs)
        .join(labs, qlabs.qlab == labs.label)
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("r_total"))
    )
    return ap.join(rel, "query_id").selectExpr(
        "query_id", "n_rel_top10", "r_total",
        "CAST((__num * 1000000) div (2520 * LEAST(r_total, 10))"
        " AS BIGINT) AS ap_micro",
    )


def _rake_pass(prev: str, out: str, part: str, nd: str) -> str:
    """One unrolled IPF pass: rescale w so the ``part`` margin hits its
    uniform target mass (N·1e6 div nd), truncating integer division —
    the same template discipline as the kmeans unrolled oracle."""
    return f"""
    {out} AS MATERIALIZED (
      SELECT source, lang, n, NT, KR, KC,
             (w * ((NT * 1000000) // {nd}))
               // (SUM(n * w) OVER (PARTITION BY {part})) AS w
      FROM {prev}
    )"""


@register(
    "rake_source_lang",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents
      WHERE source IS NOT NULL AND lang IS NOT NULL
      GROUP BY 1, 2
    ),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS NT,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS KR,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS KC FROM cells),
    w0 AS (SELECT source, lang, n, CAST(1000000 AS BIGINT) AS w, NT, KR, KC
           FROM cells CROSS JOIN g),
    {_rake_pass('w0', 'p1', 'source', 'KR')},
    {_rake_pass('p1', 'p2', 'lang', 'KC')},
    {_rake_pass('p2', 'p3', 'source', 'KR')},
    {_rake_pass('p3', 'p4', 'lang', 'KC')}
    SELECT source, lang, n, CAST(w AS BIGINT) AS w_micro FROM p4
    """,
    doc="Raking / iterative proportional fitting of the corpus "
    "(source, lang) cell table to UNIFORM source and language margins "
    "(ops.sampling.rake_weights, Deming-Stephan): the survey-"
    "calibration reweighting a training mix needs when one source "
    "floods one language - every source and every language ends up "
    "contributing equal weighted mass WITHOUT dropping rows "
    "(temperature_mix_langs rebalances one margin; this balances two "
    "simultaneously). Two unrolled rounds of row-then-column "
    "rescaling in TRUNCATING integer micro arithmetic (the kmeans "
    "unrolled-oracle template - both engines replay the identical "
    "weight trajectory); one data-sized pass to the 100-cell grain, "
    "then margin-sized broadcast passes only.",
)
def rake_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import rake_weights

    docs = t(spark, sf_dir, "documents")
    return rake_weights(docs, "source", "lang", rounds=2)


@register(
    "cochran_langid",
    oracle=f"""
    WITH {_langid_chain("text")},{_langid_chain("substring(text, 1, 120)", "_t")},{_langid_chain("substring(text, 1, 60)", "_s")},
    trip AS (
      SELECT
        CASE WHEN d.lang = COALESCE(p.lang_pred, 'und') THEN 1 ELSE 0 END AS ia,
        CASE WHEN d.lang = COALESCE(pt.lang_pred, 'und') THEN 1 ELSE 0 END AS ib,
        CASE WHEN d.lang = COALESCE(ps.lang_pred, 'und') THEN 1 ELSE 0 END AS ic
      FROM documents d
      LEFT JOIN pred p USING (doc_id)
      LEFT JOIN pred_t pt USING (doc_id)
      LEFT JOIN pred_s ps USING (doc_id)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ia + ib + ic) AS BIGINT) AS t,
             CAST(SUM((ia + ib + ic) * (ia + ib + ic)) AS BIGINT) AS sr2,
             CAST(SUM(ia) AS BIGINT) AS c0, CAST(SUM(ib) AS BIGINT) AS c1,
             CAST(SUM(ic) AS BIGINT) AS c2
      FROM trip
    )
    SELECT n AS n_subjects, CAST(3 AS BIGINT) AS k_treatments,
           t AS t_total,
           CASE WHEN (3 * t - sr2) > 0 THEN CAST(FLOOR(
             CAST(2 * (3 * (c0 * c0 + c1 * c1 + c2 * c2) - t * t) AS DOUBLE)
             / CAST(3 * t - sr2 AS DOUBLE) * 1000000) AS BIGINT)
           END AS q_e6
    FROM m
    """,
    doc="Cochran's Q across THREE language-ID variants (full text, "
    "first 120 chars, first 60 chars - the mcnemar_langid pair plus a "
    "harsher truncation) on shared _langid_chain replays: the k-arm "
    "paired-classifier omnibus (ops.stats.cochran_q) that mcnemar "
    "generalizes to - run Q first, pairwise McNemar follow-ups on the "
    "arms it flags (the kruskal->MWU discipline for binary paired "
    "data). Doc-grain correctness triples in ONE map-side-combined "
    "pass; exact BIGINT C_j/T/sum-R-squared; Q = one double division, "
    "floor e6; NULL on zero discordance. NULL predictions count as "
    "wrong (COALESCE 'und', the mcnemar convention).",
)
def cochran_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import lang_id
    from hadoop_fcfs_spark.ops.stats import cochran_q

    docs = t(spark, sf_dir, "documents")
    pa = lang_id(docs, "doc_id", "text").select(
        "doc_id", F.col("lang_pred").alias("__pa")
    )
    pb = lang_id(
        docs.select("doc_id", F.substring("text", 1, 120).alias("text")),
        "doc_id", "text",
    ).select("doc_id", F.col("lang_pred").alias("__pb"))
    pc = lang_id(
        docs.select("doc_id", F.substring("text", 1, 60).alias("text")),
        "doc_id", "text",
    ).select("doc_id", F.col("lang_pred").alias("__pc"))
    trip = (
        docs.select("doc_id", "lang")
        .join(pa, "doc_id", "left")
        .join(pb, "doc_id", "left")
        .join(pc, "doc_id", "left")
        .select(
            (F.col("lang") == F.coalesce("__pa", F.lit("und"))).alias("ca"),
            (F.col("lang") == F.coalesce("__pb", F.lit("und"))).alias("cb"),
            (F.col("lang") == F.coalesce("__pc", F.lit("und"))).alias("cc"),
        )
    )
    return cochran_q(trip, ["ca", "cb", "cc"])


def _kmeans_ctes(k: int, iterations: int, quantize: int) -> str:
    """Unrolled MATERIALIZED Lloyd CTE chain (the bradley_terry /
    embedding_top_pc iterative-oracle pattern), SHARED by the kmeans
    gates so the fit replays cannot drift: c0 = k lowest-id quantized
    vectors; per step assign by exact integer sqdist argmin (ties ->
    lowest cell) and recompute centroids as truncating // of exact
    dimension sums, emptied cells keeping their previous centroid;
    ends at af (all (vec_id, cell, d) under the final centroids) and
    bf (the rn=1 assigned rows with their d)."""
    parts = [f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {quantize}) AS BIGINT)) AS v
      FROM embeddings
    ),
    e AS MATERIALIZED (
      SELECT vec_id, UNNEST(v) AS val, UNNEST(range(1, len(v) + 1)) AS pos FROM q
    ),
    sel AS (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell
      FROM q ORDER BY vec_id LIMIT {k}
    ),
    c0 AS MATERIALIZED (
      SELECT s.cell, e.pos, e.val AS cval FROM e JOIN sel s USING (vec_id)
    )"""]
    for i in range(iterations):
        parts.append(f"""
    a{i} AS (
      SELECT e.vec_id, c.cell,
             CAST(SUM((e.val - c.cval) * (e.val - c.cval)) AS BIGINT) AS d
      FROM e JOIN c{i} c USING (pos) GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM a{i}) t WHERE rn = 1
    ),
    u{i} AS (
      SELECT b.cell, e.pos, CAST(SUM(e.val) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e JOIN b{i} b USING (vec_id) GROUP BY 1, 2
    ),
    c{i + 1} AS MATERIALIZED (
      SELECT c.cell, c.pos, COALESCE(u.s // u.cnt, c.cval) AS cval
      FROM c{i} c LEFT JOIN u{i} u ON u.cell = c.cell AND u.pos = c.pos
    )""")
    n = iterations
    parts.append(f"""
    af AS (
      SELECT e.vec_id, c.cell,
             CAST(SUM((e.val - c.cval) * (e.val - c.cval)) AS BIGINT) AS d
      FROM e JOIN c{n} c USING (pos) GROUP BY 1, 2
    ),
    bf AS (
      SELECT vec_id, cell, d FROM (
        SELECT vec_id, cell, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM af) t WHERE rn = 1
    )""")
    return "WITH " + ",".join(parts)


def _kmeans_oracle(k: int, iterations: int, quantize: int) -> str:
    return (
        _kmeans_ctes(k, iterations, quantize)
        + """
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d) AS BIGINT) AS inertia
    FROM bf GROUP BY 1
    """
    )


@register(
    "kmeans_embedding_cells",
    oracle=_kmeans_oracle(k=8, iterations=2, quantize=1000),
    doc="Exact-integer Lloyd k-means over the embedding corpus "
    "(llm.similarity.kmeans_lloyd_exact, k=8, 2 iterations, milli "
    "quantization): the clustering first step under semdedup / IVF "
    "curation, finally value-oracled end-to-end (kmeans_centroids "
    "averages in floats and was only reachable through downstream "
    "gates). Init = k lowest-id vectors; assignment = exact BIGINT "
    "squared-L2 argmin with lowest-cell ties; update = TRUNCATING "
    "integer division of exact dimension sums (DuckDB // truncates "
    "toward zero, Python // floors - measured, so the driver-side "
    "update divides via abs; emptied cells keep their centroid). Per "
    "iteration ONE data pass with centroids on a 1-row broadcast "
    "array column and a dimension-sharded (cell,dim) update; driver holds k*dim "
    "ints (bounded round trips, the BPE-merges discipline). Output "
    "(cell, n, inertia) per non-empty cell, inertia exact BIGINT.",
)
def kmeans_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import kmeans_lloyd_exact

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_lloyd_exact(
        emb, k=8, iterations=2, quantize=1000
    )


def _mmr_steps(k: int) -> str:
    """Unrolled greedy MMR CTE chain (argmax via ORDER BY ... LIMIT 1,
    max-sim carry via GREATEST against the picked id) — the
    rake/kmeans unrolled-oracle template for a sequential algorithm."""
    parts = ["""
    s1 AS MATERIALIZED (SELECT vec_id, rel FROM base
                        ORDER BY rel DESC, vec_id LIMIT 1),
    m1 AS MATERIALIZED (
      SELECT b.vec_id, b.rel, p.s AS mm
      FROM base b JOIN ps p ON p.ai = b.vec_id
        AND p.bi = (SELECT vec_id FROM s1)
    )"""]
    for i in range(2, k + 1):
        parts.append(f"""
    s{i} AS MATERIALIZED (SELECT vec_id, rel, mm FROM m{i - 1}
      ORDER BY 7 * rel - 3 * mm DESC, vec_id LIMIT 1)""")
        if i < k:
            parts.append(f"""
    m{i} AS MATERIALIZED (
      SELECT m.vec_id, m.rel, GREATEST(m.mm, p.s) AS mm
      FROM m{i - 1} m JOIN ps p ON p.ai = m.vec_id
        AND p.bi = (SELECT vec_id FROM s{i})
    )""")
    tail = ["""
    SELECT CAST(1 AS INT) AS pos, vec_id, rel,
           CAST(NULL AS DOUBLE) AS maxsim FROM s1"""]
    tail += [
        f"""
    UNION ALL SELECT CAST({i} AS INT), vec_id, rel, mm FROM s{i}"""
        for i in range(2, k + 1)
    ]
    return ",".join(parts) + "".join(tail)


@register(
    "mmr_rerank_embeddings",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    base AS MATERIALIZED (
      SELECT e.vec_id,
             ROUND(list_dot_product(qv, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 4)
               + 0.0 AS rel,
             e.embedding::DOUBLE[] AS v
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT 10
    ),
    ps AS MATERIALIZED (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             ROUND(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 AS s
      FROM base a JOIN base b ON a.vec_id <> b.vec_id
    ),{_mmr_steps(5)}
    """,
    doc="Maximal-marginal-relevance rerank of query vector 0's cosine "
    "top-10 down to 5 diversified results, lambda = 0.7 "
    "(llm.similarity.mmr_rerank, Carbonell-Goldstein): the "
    "redundancy-pruning stage every retrieval stack runs between ANN "
    "and the consumer - diversified_top_orders caps by category, MMR "
    "penalizes by ACTUAL pairwise similarity so near-duplicate hits "
    "cannot fill the page. Greedy argmax over the integer-scaled "
    "score 7*rel - 3*maxsim (same ordering as 0.7/0.3, sidesteps the "
    "1-0.7 float-literal trap); rel/sims are the ann_cosine_topk "
    "quantized cosines with id tiebreaks, so the whole trajectory is "
    "engine-replayable. Five unrolled steps over 10-row bounded "
    "state with per-step eager localCheckpoint; nothing data-sized "
    "after the one cosine scan.",
)
def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import mmr_rerank

    emb = t(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, query_id=0, k=5, n_candidates=10)


@register(
    "ari_kmeans_labels",
    oracle=_kmeans_ctes(k=8, iterations=2, quantize=1000)
    + """,
    cont AS (
      SELECT b.cell AS pa, e2.label AS pb, CAST(COUNT(*) AS BIGINT) AS cn
      FROM bf b JOIN embeddings e2 ON e2.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    sm AS (SELECT CAST(SUM(cn * (cn - 1)) AS BIGINT) AS s2 FROM cont),
    ar AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_a,
                  CAST(SUM(na * (na - 1)) AS BIGINT) AS a2,
                  CAST(SUM(na) AS BIGINT) AS nn
           FROM (SELECT pa, CAST(SUM(cn) AS BIGINT) AS na
                 FROM cont GROUP BY 1)),
    br AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_b,
                  CAST(SUM(nb * (nb - 1)) AS BIGINT) AS b2
           FROM (SELECT pb, CAST(SUM(cn) AS BIGINT) AS nb
                 FROM cont GROUP BY 1))
    SELECT nn AS n, n_cells_a, n_cells_b,
      CASE WHEN (CAST(nn AS HUGEINT) * (nn - 1) * (a2 + b2) // 2
                 - CAST(a2 AS HUGEINT) * b2) <> 0 THEN
        CAST((CAST(nn AS HUGEINT) * (nn - 1) * s2
              - CAST(a2 AS HUGEINT) * b2) * 1000000
          // (CAST(nn AS HUGEINT) * (nn - 1) * (a2 + b2) // 2
              - CAST(a2 AS HUGEINT) * b2) AS BIGINT)
      END AS ari_micro
    FROM ar CROSS JOIN br CROSS JOIN sm
    """,
    doc="Adjusted Rand Index between the exact-Lloyd k-means cells "
    "and the ground-truth embedding labels "
    "(ops.stats.adjusted_rand_index over "
    "llm.similarity.kmeans_assignments - the SAME shared "
    "_kmeans_ctes/_lloyd_quantize_fit replay as the inertia and "
    "silhouette gates, so the three clustering QA views cannot "
    "drift): silhouette scores geometry, inertia scores tightness, "
    "ARI finally scores whether the cells recover the labeling at "
    "all, chance-corrected (0 = random relabeling, negative = worse "
    "than chance). Exact 2x-binomial pair counting end to end - NMI "
    "needs logs, ARI does not; the micro numerator rides "
    "DECIMAL(38,0)/HUGEINT and truncates toward zero on either "
    "sign. One contingency-grain pass (8x|labels| cells), margin "
    "re-aggregations, scalar combine.",
)
def ari_kmeans_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import kmeans_assignments
    from hadoop_fcfs_spark.ops.stats import adjusted_rand_index

    emb = t(spark, sf_dir, "embeddings")
    assign = kmeans_assignments(emb, k=8, iterations=2, quantize=1000)
    joined = assign.join(emb.select("vec_id", "label"), "vec_id")
    return adjusted_rand_index(joined, "cell", "label")


@register(
    "minhash_estimate_audit",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id AS doc, array_to_string(ws[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(generate_series(1, len(ws) - 2)) AS i
            FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws FROM documents))
    ),
    sizes AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS ng FROM grams GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(common * 1000000 // (sa.ng + sb.ng - common) AS BIGINT)
               AS jac_micro
      FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
      WHERE CAST(common * 1000000 // (sa.ng + sb.ng - common) AS BIGINT)
            >= 300000
    ),
    h AS MATERIALIZED (
      SELECT doc, i,
             MIN(CAST('0x' || substr(md5(gram || '|' || CAST(i AS VARCHAR)),
                                     1, 15) AS BIGINT)) AS hv
      FROM grams CROSS JOIN range(32) t(i)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT p.doc_a, p.doc_b, p.jac_micro,
             CAST(SUM(CASE WHEN ha.hv = hb.hv THEN 1 ELSE 0 END)
                  * 1000000 // 32 AS BIGINT) AS est_micro
      FROM pairs p
      JOIN h ha ON ha.doc = p.doc_a
      JOIN h hb ON hb.doc = p.doc_b AND hb.i = ha.i
      GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(32 AS BIGINT) AS m_hashes,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(ABS(est_micro - jac_micro)) // COUNT(*) AS BIGINT)
           END AS mean_abs_err_e6,
           CAST(MAX(ABS(est_micro - jac_micro)) AS BIGINT) AS max_abs_err_e6
    FROM est
    """,
    doc="MinHash estimation-error audit "
    "(llm.dedup.minhash_estimate_audit, m=32, 3-gram shingles, exact "
    "Jaccard >= 0.3): per qualifying pair, |signature-agreement "
    "estimate - exact Jaccard|, rolled up to mean/max - the QA loop "
    "for the MinHash tier exactly as ann_ivf_recall is for ANN (is m "
    "wide enough, is banding about to mis-bucket). Signatures use "
    "md5-derived 60-bit permutations (the sampling-tier cross-engine "
    "hash) so the audit is value-oracled end-to-end; error stats "
    "transfer to the production xxhash64 family. Exact posting-list "
    "pairs (dedup_ngram_jaccard shape), one signature aggregation, "
    "sig joins only onto the thresholded pair set; all-BIGINT micro "
    "arithmetic (integer div everywhere).",
)
def minhash_estimate_audit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import minhash_estimate_audit

    docs = t(spark, sf_dir, "documents")
    return minhash_estimate_audit(
        docs, "doc_id", "text", n=3, num_hashes=32, min_jaccard_micro=300_000
    )


@register(
    "kmeans_silhouette_cells",
    oracle=_kmeans_ctes(k=8, iterations=2, quantize=1000)
    + """,
    b2 AS (
      SELECT a.vec_id, MIN(a.d) AS b2
      FROM af a JOIN bf ON bf.vec_id = a.vec_id
      WHERE a.cell <> bf.cell
      GROUP BY 1
    ),
    sil AS (
      SELECT bf.cell,
             CASE WHEN GREATEST(bf.d, b2.b2) > 0 THEN
               (b2.b2 - bf.d) * 1000000 // GREATEST(bf.d, b2.b2)
             ELSE CAST(0 AS BIGINT) END AS s
      FROM bf JOIN b2 USING (vec_id)
    )
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(s) AS BIGINT) // COUNT(*) AS BIGINT)
             AS mean_sil_micro
    FROM sil GROUP BY 1
    """,
    doc="Per-cell simplified silhouette of the exact-Lloyd clustering "
    "(llm.similarity.kmeans_silhouette, same k=8 / 2-iteration / "
    "milli-quantized fit as kmeans_embedding_cells via the SHARED "
    "_kmeans_ctes replay): inertia says how tight cells are; this "
    "says whether points sit closer to their own centroid than the "
    "runner-up - the is-k-wrong / merge-these-cells QA under any "
    "curation step that trusts the cells (semdedup, IVF). Squared-"
    "distance simplified silhouette keeps every per-point score "
    "exact: s = (b2 - a2)*1e6 div max(a2, b2) on BIGINT sqdists "
    "(argmin own, array_sort runner-up; equal-distance ties give 0), "
    "cell mean = sum div n - no double ever aggregated across rows. "
    "One extra data pass over the checkpointed quantized corpus.",
)
def kmeans_silhouette_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import kmeans_silhouette

    emb = t(spark, sf_dir, "embeddings")
    return kmeans_silhouette(emb, k=8, iterations=2, quantize=1000)


@register(
    "fd_source_lang",
    oracle="""
    WITH grain AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nxy
      FROM documents WHERE source IS NOT NULL
      GROUP BY 1, 2
    ),
    per_key AS (
      SELECT source, CAST(SUM(nxy) AS BIGINT) AS nx,
             CAST(MAX(nxy) AS BIGINT) AS mx
      FROM grain GROUP BY 1
    ),
    m AS (
      SELECT CAST(SUM(nx) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN nx > mx THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys,
             CAST(SUM(nx - mx) AS BIGINT) AS n_violations
      FROM per_key
    )
    SELECT n_rows, n_keys, n_violating_keys, n_violations,
           CASE WHEN n_rows > 0 THEN
             CAST(n_violations * 1000000 // n_rows AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS violation_micro
    FROM m
    """,
    doc="Functional-dependency audit source -> lang "
    "(ops.validate.fd_violations): the g3 violation count - minimum "
    "rows to delete so every source maps to ONE language (here "
    "deliberately violated: every source mixes languages, so the gate "
    "exercises nonzero violations). The profiling check under every "
    "'this column should be derivable' assumption; complements "
    "check_unique (uniqueness) and check_foreign_key (containment) "
    "with DETERMINATION. One (source, lang) grain pass, per-key "
    "max/sum re-aggregation, exact BIGINT + one micro division.",
)
def fd_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.validate import fd_violations

    return fd_violations(t(spark, sf_dir, "documents"), ["source"], "lang")


@register(
    "embedding_pc_outliers",
    oracle="WITH " + _TOP_PC_CTES + """,
    pcv AS (SELECT node AS pos, p FROM p3),
    proj AS (
      SELECT e.vec_id, CAST(SUM(e.val * pcv.p) AS BIGINT) AS projection
      FROM e JOIN pcv USING (pos)
      GROUP BY 1
    )
    SELECT vec_id, projection FROM proj
    ORDER BY ABS(projection) DESC, vec_id ASC
    LIMIT 10
    """,
    doc="Top-10 |projection| outliers along the dominant principal "
    "direction (llm.similarity.pc_projection_outliers, same 3-step "
    "exact power iteration as embedding_top_pc via the SHARED "
    "_TOP_PC_CTES replay): the direction alone is a drift probe - "
    "the documents that EXTREMIZE it are what you inspect (axis-"
    "riding near-dups, templated boilerplate, encoder pathologies). "
    "Direction components collected to the driver (d bounded ints, "
    "the kmeans-centroid collect class) and broadcast back as a "
    "1-row array column (data, not literals - the kmeans planning "
    "lesson); per-doc projection is one exact-BIGINT zip_with fold, "
    "zero shuffle; TakeOrdered top-10 with lowest-id ties.",
)
def embedding_pc_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import pc_projection_outliers

    emb = t(spark, sf_dir, "embeddings")
    return pc_projection_outliers(
        emb, k=10, iterations=3, quantize=1000, scale_div=1000
    )


@register(
    "corpus_pipeline_v7",
    oracle=f"""
    WITH {_V5_PIPE_CTES},
    sharded AS (
      SELECT (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) * 4) // 4294967296 AS shard,
             ntok
      FROM mixed
    ),
    gg AS (
      SELECT shard AS g, ntok AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM sharded WHERE ntok IS NOT NULL GROUP BY 1, 2
    ),
    grp AS (SELECT g, SUM(c) AS ng FROM gg GROUP BY 1),
    gv AS (SELECT v, SUM(c) AS cc FROM gg GROUP BY 1),
    nnx AS (SELECT SUM(cc) AS t FROM gv),
    gcum AS (
      SELECT v, SUM(cc) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcm
      FROM gv
    ),
    dense AS (
      SELECT grp.g, gv.v, grp.ng, COALESCE(gg.c, 0) AS c
      FROM gv CROSS JOIN grp
      LEFT JOIN gg ON gg.g IS NOT DISTINCT FROM grp.g AND gg.v = gv.v
    ),
    dcum AS (
      SELECT g, v, ng,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dense
    )
    SELECT g AS shard, CAST(MAX(ng) AS BIGINT) AS n_g,
           CAST(MAX(t) AS BIGINT) AS n_total,
           CAST(FLOOR(MAX(ABS(CAST(cum AS DOUBLE) / CAST(ng AS DOUBLE)
                - CAST(gcm AS DOUBLE) / CAST(t AS DOUBLE))) * 1000000)
             AS BIGINT) AS d_e6
    FROM dcum JOIN gcum USING (v) CROSS JOIN nnx
    GROUP BY 1
    """,
    doc="Composed training-data pipeline v7 - the publish QA gate: "
    "v5's audited chain (quality floor -> survivorship dedup -> "
    "temperature mix, SHARED _v5_stages / _V5_PIPE_CTES fragments) "
    "-> v6's md5-shuffled 4-shard assignment -> per-shard "
    "Kolmogorov-Smirnov D of the token-length distribution vs the "
    "pooled export (ops.stats.ks_group_drift, the gap at each shard's "
    "own values and just before them, on one value-chunk exchange). "
    "shard_assignment promises every shard is "
    "an i.i.d. sample of the corpus; v7 MEASURES that promise before "
    "anything ships - a skewed shard hash or a locality leak reads "
    "as one shard's D spiking. Composition adds only the drift "
    "machinery on the 4-shard grain; the shard key stays a "
    "zero-exchange projection.",
)
def corpus_pipeline_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.sampling import shard_assignment
    from hadoop_fcfs_spark.ops.stats import ks_group_drift

    _, mixed = _v5_stages(spark, sf_dir)
    sharded = shard_assignment(mixed, "doc_id", 4)
    return ks_group_drift(sharded, "ntok", "shard")


@register(
    "pq_distortion_audit",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id - 100 AS c, embedding AS cemb
      FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    subspaces AS (SELECT UNNEST(generate_series(0, 3)) AS j),
    enc_d AS (
      SELECT e.vec_id, s.j, cb.c,
             {_pq_sql_subdist("e.embedding", "cb.cemb")} AS dist
      FROM embeddings e CROSS JOIN subspaces s CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        FROM enc_d) WHERE rn = 1
    ),
    q_d AS (
      SELECT qe.vec_id AS query_id, s.j, cb.c,
             {_pq_sql_subdist("qe.embedding", "cb.cemb")} AS dist
      FROM embeddings qe CROSS JOIN subspaces s CROSS JOIN cb
      WHERE qe.vec_id < 5
    ),
    adc AS (
      SELECT q.query_id, co.vec_id,
             list_sum(list(q.dist ORDER BY q.j)) AS adist
      FROM codes co JOIN q_d q ON q.j = co.j AND q.c = co.c
      GROUP BY 1, 2
    ),
    ex_d AS (
      SELECT qe.vec_id AS query_id, e.vec_id, s.j,
             {_pq_sql_subdist("qe.embedding", "e.embedding")} AS dist
      FROM embeddings qe CROSS JOIN embeddings e CROSS JOIN subspaces s
      WHERE qe.vec_id < 5
    ),
    exact AS (
      SELECT query_id, vec_id,
             list_sum(list(dist ORDER BY j)) AS edist
      FROM ex_d GROUP BY 1, 2
    ),
    rd AS (
      SELECT CAST(FLOOR(ABS(a.adist - x.edist) / x.edist * 1000000)
               AS BIGINT) AS r
      FROM adc a JOIN exact x USING (query_id, vec_id)
      WHERE x.edist > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(r) // COUNT(*) AS BIGINT)
           END AS mean_rel_distortion_micro,
           CAST(MAX(r) AS BIGINT) AS max_rel_distortion_micro
    FROM rd
    """,
    doc="PQ quantization-distortion audit "
    "(llm.similarity.pq_distortion_audit, same 4x16-subspace / "
    "8-codeword fixture as ann_pq_adc_topk): per (query, doc) pair, "
    "|ADC approximate - exact squared L2| / exact, rolled up to "
    "mean/max - the measured-error loop that completes the "
    "approximation tier (ann_ivf_recall audits IVF routing, "
    "minhash_estimate_audit the signature estimator, this the "
    "CODEBOOK: distortion creeping up means the codebook no longer "
    "fits the corpus and recall follows it down). Exact distance uses "
    "the SAME per-subspace fold as ADC on raw subvectors - identical "
    "accumulation order (ordered list_sum over j in the oracle), so "
    "the two numbers differ only by quantization; per-pair relative "
    "distortion is an exact floor-micro integer, mean = sum div n.",
)
def pq_distortion_audit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import pq_distortion_audit

    emb = t(spark, sf_dir, "embeddings")
    cb_rows = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") <= 107))
        .orderBy("vec_id")
        .collect()
    )
    codebooks = [
        [[float(x) for x in r["embedding"][j * 16 : (j + 1) * 16]]
         for r in cb_rows]
        for j in range(4)
    ]
    queries = emb.filter(F.col("vec_id") < 5)
    return pq_distortion_audit(emb, queries, codebooks)


@register(
    "heaps_vocab_growth",
    oracle="""
    WITH dt AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    pd AS (
      SELECT d.doc_id, COALESCE(c.n, 0) AS ntok
      FROM documents d
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY 1) c
        USING (doc_id)
    ),
    rk AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS r,
             SUM(ntok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtok
      FROM pd
    ),
    tot AS (SELECT COUNT(*) AS d FROM pd),
    cb AS (
      SELECT decile, (decile * d) // 10 AS r
      FROM (SELECT UNNEST(generate_series(1, 10)) AS decile) CROSS JOIN tot
      WHERE (decile * d) // 10 >= 1
    ),
    fr AS (
      SELECT fd.w, rk.r
      FROM (SELECT w, MIN(doc_id) AS fdoc FROM dt GROUP BY 1) fd
      JOIN rk ON rk.doc_id = fd.fdoc
    ),
    vc AS (
      SELECT cb.decile, CAST(COUNT(fr.w) AS BIGINT) AS vocab_size
      FROM cb LEFT JOIN fr ON fr.r <= cb.r GROUP BY 1
    )
    SELECT CAST(cb.decile AS BIGINT) AS decile,
           CAST(cb.r AS BIGINT) AS n_docs,
           CAST(rk.cumtok AS BIGINT) AS n_tokens,
           vc.vocab_size
    FROM cb JOIN rk ON rk.r = cb.r JOIN vc USING (decile)
    """,
    doc="Heaps'-law vocabulary growth curve at corpus deciles "
    "(llm.textan.heaps_vocab_growth): distinct-token count vs "
    "cumulative token count at each 10%-of-docs checkpoint in doc_id "
    "order - how fast NEW vocabulary keeps arriving as the corpus "
    "grows, the growth-side companion to zipf_slope_tokens' "
    "frequency-curve shape (a flattening curve between snapshots "
    "means the new data rehashes the old vocabulary - dedup leakage, "
    "source collapse; a steepening one means a domain or language "
    "slipped in). Exact BIGINTs end-to-end: ONE two-column "
    "global_running_sum prefix over the doc grain gives rank + "
    "running tokens, a token's arrival point is its min-doc rank, "
    "vocab-at-checkpoint counts first-ranks <= boundary against <= "
    "10 broadcast checkpoint rows (the oracle's ROW_NUMBER window is "
    "the oracle's privilege). Zero-token docs still advance the doc "
    "axis.",
)
def heaps_vocab_growth_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import heaps_vocab_growth

    return heaps_vocab_growth(
        t(spark, sf_dir, "documents"), "doc_id", "text", deciles=10
    )


@register(
    "good_turing_tokens",
    oracle="""
    WITH base AS (
      SELECT list_filter(regexp_split_to_array(text, '\\s+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    tf AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        FROM (SELECT ws, UNNEST(generate_series(1, len(ws) - 2)) AS i
              FROM base WHERE len(ws) >= 3)
      ) GROUP BY 1
    ),
    m AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN n = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM tf
    )
    SELECT n_tokens, vocab_size, n1, n2, n3, n4,
           CASE WHEN n_tokens > 0 THEN
             CAST(n1 * 1000000 // n_tokens AS BIGINT) END AS p0_unseen_e6,
           CASE WHEN n1 > 0 THEN
             CAST(2 * n2 * 1000000 // n1 AS BIGINT) END AS rstar1_e6,
           CASE WHEN n2 > 0 THEN
             CAST(3 * n3 * 1000000 // n2 AS BIGINT) END AS rstar2_e6,
           CASE WHEN n3 > 0 THEN
             CAST(4 * n4 * 1000000 // n3 AS BIGINT) END AS rstar3_e6
    FROM m
    """,
    doc="Simple Good-Turing mass estimates over the corpus word-"
    "TRIGRAM frequencies (llm.textan.good_turing_mass): unseen-"
    "probability mass p0 = N1/N and adjusted counts r* = "
    "(r+1)N_{r+1}/N_r for r = 1..3 from the count-of-counts table - "
    "the smoothing statistic beneath Katz backoff, the empirical "
    "check on kn_bigram_model's absolute discounts (r - r* IS the "
    "discount), and a one-number long-tail-diversity drift monitor "
    "(N1/N moving between snapshots = the tail is growing or "
    "collapsing). Trigram grain because the synthetic unigram (31 "
    "types) and bigram (916) vocabularies saturate - every type "
    "repeats and all N_r vanish; trigrams keep a real singleton tail "
    "(9.4k of 16k types at sf0.01). One gram explode + one map-side-"
    "combinable aggregation; exact BIGINT conditional sums, flooring "
    "micro divisions, NULL where N_r = 0. ONE row out.",
)
def good_turing_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import good_turing_mass

    docs = t(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    base = docs.select(ws.alias("__t")).filter(F.size("__t") >= 3)
    grams = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - 3),
                lambda i: F.concat_ws(
                    " ", F.col("__t")[i], F.col("__t")[i + 1],
                    F.col("__t")[i + 2],
                ),
            )
        ).alias("g")
    )
    tf = grams.groupBy("g").agg(F.count("*").cast("long").alias("n"))
    return good_turing_mass(tf, "g", "n", max_r=3)


# Perturbed second view of customers for the record-linkage gate:
# deterministic md5-parity corruptions (the sampling-tier cross-engine
# hash) - ~25% of segments get a '*' suffix (never agree), ~25% of
# balance buckets shift by one; names stay intact (a u=0 perfect
# discriminator by construction, since names are unique per custkey).
_FS_B_VIEW = """
      SELECT c_custkey, c_nationkey,
             c_name AS name,
             CASE WHEN CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                    || ':seg'), 1, 8) AS BIGINT) < 1073741824
                  THEN c_mktsegment || '*' ELSE c_mktsegment END AS seg,
             CAST(FLOOR(c_acctbal / 100) AS BIGINT)
               + CASE WHEN CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                    || ':bal'), 1, 8) AS BIGINT) < 1073741824
                      THEN 1 ELSE 0 END AS bal
      FROM customer"""


@register(
    "fellegi_sunter_customers",
    oracle=f"""
    WITH a AS (
      SELECT c_custkey, c_nationkey, c_name AS name, c_mktsegment AS seg,
             CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS bal
      FROM customer
    ),
    b AS ({_FS_B_VIEW}
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nm,
             CAST(SUM(CASE WHEN a.name = b.name THEN 1 ELSE 0 END)
               AS BIGINT) AS ma_name,
             CAST(SUM(CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END)
               AS BIGINT) AS ma_seg,
             CAST(SUM(CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END)
               AS BIGINT) AS ma_bal
      FROM a JOIN b USING (c_custkey, c_nationkey)
    ),
    tp AS (
      SELECT CAST(SUM(na * nb) AS BIGINT) AS tp FROM
        (SELECT c_nationkey, COUNT(*) AS na FROM a GROUP BY 1) ba
        JOIN (SELECT c_nationkey, COUNT(*) AS nb FROM b GROUP BY 1) bb
        USING (c_nationkey)
    ),
    vp AS (
      SELECT 'name' AS field, CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS vp
      FROM (SELECT c_nationkey, name AS v, COUNT(*) AS ca FROM a GROUP BY 1, 2) ga
      JOIN (SELECT c_nationkey, name AS v, COUNT(*) AS cb FROM b GROUP BY 1, 2) gb
        USING (c_nationkey, v)
      UNION ALL
      SELECT 'seg', CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT)
      FROM (SELECT c_nationkey, seg AS v, COUNT(*) AS ca FROM a GROUP BY 1, 2) ga
      JOIN (SELECT c_nationkey, seg AS v, COUNT(*) AS cb FROM b GROUP BY 1, 2) gb
        USING (c_nationkey, v)
      UNION ALL
      SELECT 'bal', CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT)
      FROM (SELECT c_nationkey, bal AS v, COUNT(*) AS ca FROM a GROUP BY 1, 2) ga
      JOIN (SELECT c_nationkey, bal AS v, COUNT(*) AS cb FROM b GROUP BY 1, 2) gb
        USING (c_nationkey, v)
    )
    SELECT field, nm AS n_matches, tp - nm AS n_nonmatch_pairs,
           CASE WHEN nm > 0 THEN CAST(
             (CASE field WHEN 'name' THEN ma_name WHEN 'seg' THEN ma_seg
                         ELSE ma_bal END) * 1000000 // nm AS BIGINT)
           END AS m_e6,
           CASE WHEN tp - nm > 0 THEN CAST(
             (vp - CASE field WHEN 'name' THEN ma_name WHEN 'seg'
                    THEN ma_seg ELSE ma_bal END) * 1000000 // (tp - nm)
             AS BIGINT)
           END AS u_e6,
           CASE WHEN nm > 0 AND tp - nm > 0 AND
             (vp - CASE field WHEN 'name' THEN ma_name WHEN 'seg'
                    THEN ma_seg ELSE ma_bal END) * 1000000 // (tp - nm) > 0
           THEN CAST(
             ((CASE field WHEN 'name' THEN ma_name WHEN 'seg' THEN ma_seg
                          ELSE ma_bal END) * 1000000 // nm) * 1000000
             // ((vp - CASE field WHEN 'name' THEN ma_name WHEN 'seg'
                        THEN ma_seg ELSE ma_bal END) * 1000000 // (tp - nm))
             AS BIGINT)
           END AS lr_e6
    FROM vp CROSS JOIN m CROSS JOIN tp
    """,
    doc="Fellegi-Sunter record-linkage m/u estimation "
    "(ops.linkage.fellegi_sunter_mu): two views of the customer "
    "population - the table itself and a deterministically corrupted "
    "copy (md5-parity ~25% segment corruption, ~25% balance-bucket "
    "shift; names intact) - blocked on nation, ground truth = "
    "custkey equality. Estimates per-field P(agree|match) and "
    "P(agree|non-match) and their likelihood ratio, the evidence "
    "weights of the 1969 decision model and the scoring layer above "
    "the fuzzy/containment join tier. THE scale point: u needs "
    "agreement rates over the quadratic non-match pair set, computed "
    "here WITHOUT materializing any pair - within-block agreeing "
    "pairs = sum over (block, value) of cntA*cntB, two grain "
    "aggregations and a grain join; m is the single truth-key "
    "equi-join. Names are unique per key so u(name) = 0 - reported "
    "as NULL lr (a perfect discriminator), by construction. All "
    "exact BIGINTs, flooring micro divisions.",
)
def fellegi_sunter_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.ops.linkage import fellegi_sunter_mu

    cust = t(spark, sf_dir, "customer")
    u32 = lambda salt: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(F.col("c_custkey").cast("string"), F.lit(salt))
                .cast("binary")
            ),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    a = cust.select(
        "c_custkey", "c_nationkey",
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal"),
    )
    b = cust.select(
        "c_custkey", "c_nationkey",
        F.col("c_name").alias("name"),
        F.when(
            u32(":seg") < 1073741824,
            F.concat(F.col("c_mktsegment"), F.lit("*")),
        ).otherwise(F.col("c_mktsegment")).alias("seg"),
        (
            F.floor(F.col("c_acctbal") / 100).cast("long")
            + F.when(u32(":bal") < 1073741824, 1).otherwise(0)
        ).cast("long").alias("bal"),
    )
    return fellegi_sunter_mu(
        a, b, "c_custkey", "c_nationkey", ["name", "seg", "bal"]
    )


@register(
    "heaps_exponent_docs",
    oracle="""
    WITH dt AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    pd AS (
      SELECT d.doc_id, COALESCE(c.n, 0) AS ntok
      FROM documents d
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY 1) c
        USING (doc_id)
    ),
    rk AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS r,
             SUM(ntok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtok
      FROM pd
    ),
    tot AS (SELECT COUNT(*) AS d FROM pd),
    cb AS (
      SELECT decile, (decile * d) // 10 AS r
      FROM (SELECT UNNEST(generate_series(1, 10)) AS decile) CROSS JOIN tot
      WHERE (decile * d) // 10 >= 1
    ),
    fr AS (
      SELECT fd.w, rk.r
      FROM (SELECT w, MIN(doc_id) AS fdoc FROM dt GROUP BY 1) fd
      JOIN rk ON rk.doc_id = fd.fdoc
    ),
    vc AS (
      SELECT cb.decile, CAST(COUNT(fr.w) AS BIGINT) AS vocab_size
      FROM cb LEFT JOIN fr ON fr.r <= cb.r GROUP BY 1
    ),
    curve AS (
      SELECT rk.cumtok AS n_tokens, vc.vocab_size
      FROM cb JOIN rk ON rk.r = cb.r JOIN vc USING (decile)
      WHERE rk.cumtok > 0 AND vc.vocab_size > 0
    ),
    q AS (
      SELECT CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS u,
             CAST(FLOOR(ln(CAST(vocab_size AS DOUBLE)) * 1000000) AS BIGINT)
               AS w
      FROM curve
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(w) AS BIGINT) AS sw,
             SUM(CAST(u AS HUGEINT) * u) AS suu,
             SUM(CAST(u AS HUGEINT) * w) AS suw
      FROM q
    )
    SELECT k AS n_points,
           CASE WHEN (CAST(k AS HUGEINT) * suu
                  - CAST(su AS HUGEINT) * su) > 0
                 AND (CAST(k AS HUGEINT) * suw
                  - CAST(su AS HUGEINT) * sw) >= 0 THEN
             CAST(((CAST(k AS HUGEINT) * suw - CAST(su AS HUGEINT) * sw)
                   * 1000000)
                  // (CAST(k AS HUGEINT) * suu - CAST(su AS HUGEINT) * su)
                  AS BIGINT)
           END AS heaps_beta_e6
    FROM m
    """,
    doc="Heaps'-law exponent over the decile growth curve "
    "(llm.textan.heaps_exponent): least-squares fit of ln V = ln K + "
    "beta*ln N over heaps_vocab_growth's checkpoints, reporting beta "
    "- the growth curve summarized to the one number the literature "
    "quotes (natural corpora ~0.4-0.6; beta drifting down between "
    "snapshots = the new data rehashes the old vocabulary, up = a "
    "domain/language slipped in), the growth-side twin of "
    "zipf_slope_tokens and the same determinism trick: both logs "
    "floor-micro quantize IMMEDIATELY so the OLS moments are exact "
    "BIGINT/DECIMAL integers and accumulation order cannot matter; "
    "the slope division runs on nonnegative operands only (upward "
    "curve), NULL otherwise.",
)
def heaps_exponent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import heaps_exponent

    return heaps_exponent(
        t(spark, sf_dir, "documents"), "doc_id", "text", deciles=10
    )


@register(
    "yule_k_tokens",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             SUM(CAST(n AS HUGEINT) * n) AS s2
      FROM tf
    )
    SELECT vocab_size, n_tokens,
           CASE WHEN n_tokens > 0 THEN
             CAST((s2 - n_tokens) * 10000000
                  // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
           END AS yule_k_e3
    FROM m
    """,
    doc="Yule's characteristic K over the corpus token-frequency "
    "table (llm.textan.yule_k): K = 1e4*(Sum f^2 - N)/N^2, the "
    "classic repeat-rate summary of lexical concentration and the "
    "third leg of the lexical-statistics tripod (zipf_slope_tokens "
    "reads the curve shape, good_turing_tokens the unseen tail, K "
    "the repeat concentration; unlike TTR-family ratios K is "
    "asymptotically length-invariant, which is why stylometry "
    "quotes it). Exact BIGINT/DECIMAL moments off the wordcount "
    "grain, one flooring division to milli-units; one "
    "map-side-combinable aggregation.",
)
def yule_k_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import yule_k

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return yule_k(tf, "w", "n")


@register(
    "simpson_d_tokens",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             SUM(CAST(n AS HUGEINT) * (n - 1)) AS ff1
      FROM tf
    )
    SELECT vocab_size, n_tokens,
           CASE WHEN n_tokens > 1 THEN
             CAST(ff1 * 1000000000
                  // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
           END AS simpson_d_e9
    FROM m
    """,
    doc="Simpson's diversity index over the corpus token-frequency "
    "table (llm.textan.simpson_diversity): D = Sum f(f-1) / (N(N-1)), "
    "the unbiased repeat-rate - the probability two tokens drawn "
    "without replacement are the same type (Simpson 1949), the "
    "finite-sample partner of yule_k_tokens (K ~ 1e4*D "
    "asymptotically; D carries the hypergeometric correction) and "
    "length-unbiased where raw TTR is not. Exact BIGINT/DECIMAL "
    "moments off the wordcount grain, one flooring division to "
    "nano-units; one map-side-combinable aggregation.",
)
def simpson_d_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import simpson_diversity

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return simpson_diversity(tf, "w", "n")


@register(
    "herdan_c_tokens",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM tf
    ),
    q AS (
      SELECT vocab_size, n_tokens,
             CAST(FLOOR(ln(CAST(vocab_size AS DOUBLE)) * 1000000)
               AS BIGINT) AS lv,
             CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
               AS BIGINT) AS lnn
      FROM m
    )
    SELECT vocab_size, n_tokens,
           CASE WHEN n_tokens > 1 AND vocab_size >= 1 THEN
             CAST(lv * 1000000 // lnn AS BIGINT)
           END AS herdan_c_e6
    FROM q
    """,
    doc="Herdan's C (log-TTR) over the corpus token-frequency table "
    "(llm.textan.herdan_c): C = ln V / ln N, the vocabulary-richness "
    "constant that stays comparable across lengths where raw TTR "
    "collapses (under Heaps' law C converges on the "
    "heaps_exponent_docs beta - this is its single-corpus reading; "
    "natural prose ~0.85-0.95, C near 1 = near-unique tokens "
    "masquerading as text). Same determinism trick as the heaps fit: "
    "both logs floor-micro quantize immediately, then one flooring "
    "BIGINT division on nonnegative operands; one "
    "map-side-combinable aggregation over the wordcount grain.",
)
def herdan_c_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import herdan_c

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return herdan_c(tf, "w", "n")


@register(
    "ttr_family_tokens",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM tf
    ),
    q AS (
      SELECT vocab_size, n_tokens,
             CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
               AS BIGINT) AS sq,
             CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
               AS BIGINT) AS lnn,
             CAST(FLOOR(ln(CAST(vocab_size AS DOUBLE)) * 1000000)
               AS BIGINT) AS lv
      FROM m
    )
    SELECT vocab_size, n_tokens,
           CASE WHEN n_tokens > 0 THEN
             CAST(CAST(vocab_size AS HUGEINT) * 1000000000 // sq AS BIGINT)
           END AS guiraud_r_e3,
           CASE WHEN n_tokens > 1 THEN
             CAST((lnn - lv) * 1000000
                  // (CAST(lnn AS HUGEINT) * lnn // 1000000) AS BIGINT)
           END AS maas_a2_e6
    FROM q
    """,
    doc="Guiraud's R and Maas a^2 over the corpus token-frequency "
    "table (llm.textan.ttr_family) - the length-corrected type-token "
    "ratios completing the TTR family alongside herdan_c_tokens: "
    "R = V/sqrt(N) (root-TTR, stable where raw TTR collapses), "
    "a^2 = (ln N - ln V)/ln^2 N (the most length-invariant classical "
    "correction; LOW = rich vocabulary). sqrt and ln floor-micro "
    "quantize immediately (correctly-rounded IEEE on exact integer "
    "inputs), both ratios one flooring BIGINT division on "
    "nonnegative operands; ONE map-side-combinable aggregation, no "
    "joins.",
)
def ttr_family_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import ttr_family

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return ttr_family(tf, "w", "n")


@register(
    "hapax_richness_tokens",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis
      FROM tf
    ),
    q AS (
      SELECT *, CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
               AS BIGINT) AS lnn
      FROM m
    )
    SELECT vocab_size, n_tokens, n_hapax, n_dis,
           CASE WHEN n_tokens > 1 AND vocab_size > n_hapax THEN
             CAST(CAST(lnn AS HUGEINT) * vocab_size
                  // (10 * (vocab_size - n_hapax)) AS BIGINT)
           END AS honore_r_e3,
           CASE WHEN vocab_size > 0 THEN
             CAST(n_dis * 1000000 // vocab_size AS BIGINT)
           END AS sichel_s_e6
    FROM q
    """,
    doc="Honore's R and Sichel's S over the corpus token-frequency "
    "table (llm.textan.hapax_richness) - the rare-word legs of the "
    "lexical tier: R = 100 ln N / (1 - V1/V) grows with the "
    "hapax-legomena share (boilerplate reads low), S = V2/V is the "
    "dis-legomena proportion the stylometry literature treats as a "
    "near-constant for natural prose (~0.03-0.05), so drift flags "
    "synthetic or over-deduplicated text. V1/V2 are exactly "
    "good_turing's N1/N2 counts; ln N floor-micro quantizes "
    "immediately (the heaps/herdan trick) and both ratios are one "
    "flooring BIGINT division on nonnegative operands; ONE "
    "map-side-combinable aggregation over the wordcount grain, no "
    "joins.",
)
def hapax_richness_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import hapax_richness

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return hapax_richness(tf, "w", "n")


@register(
    "token_entropy",
    oracle="""
    WITH tf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             SUM(CAST(n AS HUGEINT)
                 * CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT))
               AS sfl
      FROM tf
    ),
    q AS (
      SELECT vocab_size, n_tokens, sfl,
             CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
               AS BIGINT) AS lnn,
             CAST(FLOOR(ln(CAST(vocab_size AS DOUBLE)) * 1000000)
               AS BIGINT) AS lv
      FROM m
    )
    SELECT vocab_size, n_tokens,
           CASE WHEN n_tokens > 0 THEN
             CAST(lnn - sfl // n_tokens AS BIGINT) END AS entropy_e6,
           CASE WHEN n_tokens > 0 AND vocab_size > 1 THEN
             CAST((lnn - sfl // n_tokens) * 1000000 // lv AS BIGINT)
           END AS efficiency_e6
    FROM q
    """,
    doc="Shannon entropy (nats) + normalized efficiency of the corpus "
    "token distribution (llm.textan.token_entropy): H = ln N - "
    "(Sum f ln f)/N, the whole-distribution uncertainty completing "
    "the lexical quadripod (zipf_slope_tokens curve shape, "
    "good_turing_tokens unseen tail, yule_k/simpson_d repeat rate) - "
    "the unigram cross-entropy floor an LM/tokenizer sanity-checks "
    "against; efficiency = H/ln V near 1 = uniform vocabulary use. "
    "Per-term ln floor-micro quantizes immediately so the moment sum "
    "is exact DECIMAL/HUGEINT and order-free; one flooring division "
    "each; one map-side-combinable aggregation over the wordcount "
    "grain.",
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import token_entropy as _te

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    tf = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    return _te(tf, "w", "n")


@register(
    "krippendorff_langid",
    oracle=f"""
    WITH {_LANGID_PRED_CTES},
    pred2 AS (
      SELECT doc_id,
        CASE WHEN score_en >= 0.05 THEN 'en'
             WHEN score_de >= 0.05 THEN 'de'
             WHEN score_es >= 0.05 THEN 'es'
             WHEN score_fr >= 0.05 THEN 'fr'
             ELSE 'und' END AS lang_pred2
      FROM scores
    ),
    votes AS (
      SELECT doc_id, COALESCE(lang, 'und') AS l FROM documents
      UNION ALL
      SELECT d.doc_id, COALESCE(p.lang_pred, 'und')
      FROM documents d LEFT JOIN pred p USING (doc_id)
      WHERE d.doc_id % 2 = 0
      UNION ALL
      SELECT d.doc_id, COALESCE(p2.lang_pred2, 'und')
      FROM documents d LEFT JOIN pred2 p2 USING (doc_id)
      WHERE d.doc_id % 3 = 0
    ),
    nuc AS (
      SELECT doc_id, l, CAST(COUNT(*) AS BIGINT) AS k
      FROM votes GROUP BY 1, 2
    ),
    pu AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS m,
             SUM(CAST(k AS HUGEINT) * k) AS s2
      FROM nuc GROUP BY 1 HAVING SUM(k) >= 2
    ),
    don AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nup,
             CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM((CAST(m AS HUGEINT) * m - s2) * 1000000 // (m - 1))
               AS BIGINT) AS don
      FROM pu
    ),
    ncat AS (
      SELECT l, CAST(SUM(k) AS BIGINT) AS nc
      FROM nuc JOIN pu USING (doc_id) GROUP BY 1
    ),
    ded AS (SELECT SUM(CAST(nc AS HUGEINT) * nc) AS sc2 FROM ncat)
    SELECT nup AS n_units_pairable, n AS n_pairable,
           CASE WHEN n > 1 AND (CAST(n AS HUGEINT) * n - sc2) > 0 THEN
             CAST(1000000 - CAST(don AS HUGEINT) * (n - 1)
                  // (CAST(n AS HUGEINT) * n - sc2) AS BIGINT)
           END AS alpha_e6
    FROM don CROSS JOIN ded
    """,
    doc="Krippendorff's alpha (nominal) over the langid rater grid "
    "WITH MISSINGNESS (ops.stats.krippendorff_alpha): rater 1 = "
    "ground-truth lang on every doc, rater 2 = argmax stopword "
    "predictor on even doc_ids only, rater 3 = threshold predictor "
    "on doc_id%3==0 only - the agreement coefficient Fleiss' kappa "
    "cannot compute (variable raters per unit, missing judgments: "
    "the normal state of a crowdsourced labeling table; "
    "fleiss_langid needs the complete grid). Long-format coincidence "
    "arithmetic: per-unit disagreement numerators floor-micro "
    "quantize independently over varying (m_u - 1) denominators "
    "(pr_auc/logrank per-term discipline), expected disagreement is "
    "one exact DECIMAL number, alpha = 1e6 - don*(n-1) div deD.",
)
def krippendorff_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import lang_id
    from hadoop_fcfs_spark.ops.stats import krippendorff_alpha

    docs = t(spark, sf_dir, "documents")
    li = lang_id(docs, "doc_id", "text")

    def s(lng: str):
        return F.col(f"score_{lng}")

    pred2 = (
        F.when(s("en") >= 0.05, "en")
        .when(s("de") >= 0.05, "de")
        .when(s("es") >= 0.05, "es")
        .when(s("fr") >= 0.05, "fr")
        .otherwise("und")
    )
    r1 = docs.select("doc_id", F.coalesce("lang", F.lit("und")).alias("l"))
    r2 = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .join(li.select("doc_id", "lang_pred"), "doc_id", "left")
        .select("doc_id", F.coalesce("lang_pred", F.lit("und")).alias("l"))
    )
    r3 = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .join(li.select("doc_id", pred2.alias("lp2")), "doc_id", "left")
        .select("doc_id", F.coalesce("lp2", F.lit("und")).alias("l"))
    )
    votes = r1.unionByName(r2).unionByName(r3)
    return krippendorff_alpha(votes, "doc_id", "l")


@register(
    "ttr_curve_auc_tokens",
    oracle="""
    WITH tok AS (
      SELECT doc_id, arr[i] AS w, i AS rpos
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS arr
            FROM documents)
      CROSS JOIN LATERAL (
        SELECT UNNEST(generate_series(1, len(arr))) AS i
      ) pos
    ),
    nz AS (SELECT doc_id, w, rpos FROM tok WHERE w <> ''),
    g AS (
      SELECT w, ROW_NUMBER() OVER (ORDER BY doc_id, rpos) AS gpos
      FROM nz
    ),
    f AS (
      SELECT w, CAST(MIN(gpos) AS BIGINT) AS p,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM g GROUP BY w
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(SUM(p) AS BIGINT) AS sump
      FROM f
    )
    SELECT vocab_size, n_tokens,
           CAST(vocab_size * (n_tokens + 1) - sump AS BIGINT) AS ttr_auc,
           CASE WHEN vocab_size > 0 AND n_tokens > 0 THEN
             CAST((CAST(vocab_size AS HUGEINT) * (n_tokens + 1) - sump)
                  * 1000000
                  // (CAST(vocab_size AS HUGEINT) * n_tokens) AS BIGINT)
           END AS auc_norm_e6
    FROM m
    """,
    doc="Area under the corpus vocabulary-growth curve "
    "(llm.textan.ttr_curve_auc) - the sequence-aware complement to "
    "the order-free TTR family: V(t) = #types among the first t "
    "tokens in (doc, position) order, AUC = sum_t V(t); late-arriving "
    "vocabulary (Heaps-like growth) reads low-normalized, early "
    "saturation (repeated boilerplate) reads high. The curve never "
    "materializes: AUC = V*(N+1) - sum of first-occurrence positions "
    "- three exact BIGINT scalars off the first-occurrence grain. "
    "Global positions = doc-bounded within-doc ranks + ONE "
    "range-partitioned exclusive prefix over per-doc counts "
    "(global_running_sum, the KS/log-rank substrate) broadcast back; "
    "no global sort, no unpartitioned window; auc_norm_e6 one "
    "flooring DECIMAL division.",
)
def ttr_curve_auc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import ttr_curve_auc

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"\s+")).alias("rpos", "w"),
    ).filter(F.col("w") != "")
    return ttr_curve_auc(toks, "doc_id", "rpos", "w")


@register(
    "tokenizer_fertility_lang",
    oracle="""
    WITH per AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             w -> w <> '')) AS w,
             len(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS t,
             LENGTH(text) AS c
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CASE WHEN SUM(w) > 0 THEN
             CAST((1000000 * CAST(SUM(t) AS HUGEINT))
                  // CAST(SUM(w) AS HUGEINT) AS BIGINT)
           END AS fertility_e6,
           CASE WHEN SUM(t) > 0 THEN
             CAST((1000000 * CAST(SUM(c) AS HUGEINT))
                  // CAST(SUM(t) AS HUGEINT) AS BIGINT)
           END AS chars_per_token_e6
    FROM per GROUP BY 1 ORDER BY 1
    """,
    doc="Tokenizer fertility per language (llm.textan."
    "tokenizer_fertility): BPE-ish pre-tokens per whitespace word and "
    "chars per pre-token by lang - the per-language cost columns a "
    "multilingual pretraining mix report reads next to "
    "token_budget_mix (high fertility = more context budget per word; "
    "chars/token = tokenizer compression-rate sanity). Shares "
    "BPE_PATTERN with the token_counts gate; one scan, per-row array "
    "sizes (no explode), map-side-combined groupBy on the bounded "
    "lang grain; exact BIGINT sums, e6 ratios via DECIMAL(38,0) "
    "numerators (1e6*n_tokens is BIGINT-unsafe at corpus scale), "
    "NULL on empty denominators.",
)
def tokenizer_fertility_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.textan import tokenizer_fertility

    return tokenizer_fertility(t(spark, sf_dir, "documents"), "lang", "text")


@register(
    "ann_ivf_recall_curve",
    oracle="""
    WITH corpus AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 10),
    pairs AS (
      SELECT query_id, e.vec_id,
             ROUND(list_dot_product(qv, e.v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.v, e.v))), 4) + 0.0 AS cos
      FROM q CROSS JOIN corpus e WHERE query_id <> e.vec_id
    ),
    exact AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rank
        FROM pairs) WHERE rank <= 10
    ),
    cents AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv FROM corpus WHERE vec_id < 16
    ),
    assign AS MATERIALIZED (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT c.vec_id, c.v, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY list_distance(c.v, ct.cv), ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct) WHERE rn = 1
    ),
    probes AS MATERIALIZED (
      SELECT query_id, qv, cid AS cell, rn AS cell_rank FROM (
        SELECT qq.query_id, qq.qv, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY qq.query_id
                                  ORDER BY list_distance(qq.qv, ct.cv), ct.cid) AS rn
        FROM q qq CROSS JOIN cents ct) WHERE rn <= 8
    ),
    sweep AS (SELECT * FROM (VALUES (1), (2), (4), (8)) s(np)),
    ipairs AS (
      SELECT s.np, p.query_id, a.vec_id,
             ROUND(list_dot_product(p.qv, a.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) *
                    sqrt(list_dot_product(a.v, a.v))), 4) + 0.0 AS cos
      FROM probes p JOIN sweep s ON p.cell_rank <= s.np
      JOIN assign a USING (cell)
      WHERE p.query_id <> a.vec_id
    ),
    ivf AS MATERIALIZED (
      SELECT np, query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY np, query_id
                                     ORDER BY cos DESC, vec_id) AS rank
        FROM ipairs) WHERE rank <= 10
    )
    -- driven from the sweep VALUES with a LEFT JOIN to exact (r14
    -- ADVICE): an empty exact set yields one row per n_probe with
    -- NULL recall, matching the Spark fn's empty-input contract,
    -- instead of collapsing to 0 rows
    SELECT CAST(s.np AS BIGINT) AS n_probe,
           CAST(COUNT(DISTINCT e.query_id) AS BIGINT) AS n_queries,
           CAST(COUNT(e.query_id) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           CASE WHEN COUNT(e.query_id) > 0 THEN
             (1000000 * CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0
                                      END) AS BIGINT))
               // CAST(COUNT(e.query_id) AS BIGINT)
           END AS recall_e6
    FROM sweep s LEFT JOIN exact e ON TRUE
    LEFT JOIN ivf i
      ON i.np = s.np AND i.query_id = e.query_id AND i.vec_id = e.vec_id
    GROUP BY 1 ORDER BY 1
    """,
    doc="IVF recall@10 vs n_probe curve (llm.similarity."
    "ivf_recall_sweep): pooled recall against the exact brute-force "
    "ranking at n_probe in {1,2,4,8} - the operating-point picker "
    "that turns ann_ivf_recall's single spot-check into the tuning "
    "curve an ANN deployment reads ('how many cells for 95% "
    "recall'). Candidate pairs generated ONCE at max n_probe with "
    "their cell's probe rank; the sweep filters cell_rank <= np and "
    "re-ranks per (np, query) - nested candidate sets, no extra "
    "corpus work per point. Same fixed 16-centroid quantizer, "
    "@4-rounded cosine and vec_id tiebreak as the ANN tier; exact "
    "BIGINT hit counts, integer-division recall_e6.",
)
def ann_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import ivf_recall_sweep

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return ivf_recall_sweep(
        emb, queries, k=10, probes=(1, 2, 4, 8), centroids=cents
    )


@register(
    "ann_rp_lsh_recall_curve",
    oracle="""
    SELECT CAST(p AS BIGINT) AS num_planes,
           CAST(10 AS BIGINT) AS n_queries,
           CAST(30 AS BIGINT) AS n_exact,
           CAST(30 AS BIGINT) AS n_hits,
           CAST(1000000 AS BIGINT) AS recall_e6
    FROM (VALUES (2), (4), (6), (8)) s(p) ORDER BY 1
    """,
    doc="RP-LSH recall@3 vs num_planes curve (llm.similarity."
    "rp_lsh_recall_sweep): the second index family's tuning sweep "
    "beside ann_ivf_recall_curve - signatures computed ONCE at the "
    "max plane count, candidates generated ONCE at the coarsest "
    "point tagged with agree = trailing zeros of the signature XOR "
    "(low-bit prefixes nest), each sweep point filters agree >= p. "
    "Planted self-validating value gate (the ann_rp_lsh_topk "
    "precedent - xxhash64 planes are not SQL-expressible): 3 exact "
    "copies of each of the 10 query vectors share EVERY plane sign "
    "with their query, so they are the exact top-3 AND survive every "
    "sweep point - recall is 1e6 at all four plane counts BY "
    "CONSTRUCTION while the organic corpus is near-orthogonal. The "
    "organic monotone-recall behavior (candidate sets shrink with "
    "planes) is pinned in pytest where the replay can read the "
    "buckets. GATE INVARIANT (r14 ADVICE): the constant oracle "
    "assumes no ORGANIC corpus vector has @4-rounded cosine 1.0 "
    "with any query (such a vector would beat the 1e6+ planted ids "
    "on the ascending-id tiebreak); "
    "test_rp_lsh_planted_gate_fixture_assumption asserts it against "
    "the live fixture so a regeneration fails THERE, not as a "
    "mysterious oracle mismatch.",
)
def ann_rp_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.similarity import rp_lsh_recall_sweep

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    copies = queries.select(
        "vec_id",
        "embedding",
        "label",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    ).select(
        (F.lit(1_000_000) + F.col("vec_id") * 3 + F.col("j")).alias("vec_id"),
        "embedding",
        "label",
    )
    return rp_lsh_recall_sweep(
        emb.unionByName(copies), queries, k=3, planes_sweep=(2, 4, 6, 8)
    )


@register(
    "host_cap_documents",
    oracle="""
    SELECT doc_id, host,
           CAST(host_total AS BIGINT) AS host_total,
           CAST(CASE WHEN host_total < 10 THEN host_total ELSE 10 END
                AS BIGINT) AS host_kept
    FROM (
      SELECT doc_id, host,
             ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY n_chars DESC,
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT),
                        doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY host) AS host_total
      FROM (SELECT doc_id, n_chars,
                   CASE WHEN doc_id % 4 = 0 THEN 'bulk-mirror.example'
                        ELSE source || '.' || CAST(doc_id % 3 AS VARCHAR)
                        END AS host
            FROM documents)
    ) WHERE rk <= 10
    """,
    doc="Per-host document-cap dedup (llm.dedup.host_cap_documents) - "
    "the CommonCrawl/RefinedWeb host-level policy applied before "
    "near-dedup: at most 10 survivors per host, preferring LONGER "
    "documents (n_chars as the quality proxy), md5-sample-key + id "
    "fallback for ties (the ops.sampling determinism convention), "
    "each survivor carrying the host_total/host_kept drop audit. The "
    "over-represented host is PLANTED deterministically (every "
    "doc_id % 4 == 0 maps to 'bulk-mirror.example' - ~25% of the "
    "corpus on one host; organic hosts are source subhosts of ~8 "
    "docs at sf0.01), so the gate exercises BOTH policy branches at "
    "the driver's SF: the planted mega-host caps at 10 of its "
    "host_total while the under-cap organic hosts keep everything "
    "(host_kept == host_total). ONE hash exchange on host - rank and "
    "audit count share the partitioning (plan-tripwired).",
)
def host_cap_documents_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import host_cap_documents

    hosted = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.when(F.col("doc_id") % 4 == 0, F.lit("bulk-mirror.example"))
        .otherwise(
            F.concat(
                F.col("source"), F.lit("."), (F.col("doc_id") % 3).cast("string")
            )
        )
        .alias("host"),
    )
    return host_cap_documents(
        hosted, "host", "doc_id", 10, prefer_col="n_chars"
    ).select("doc_id", "host", "host_total", "host_kept")

def _url_canon_sql(inner: str, passthrough: str) -> str:
    """DuckDB staged replay of ``llm.dedup.canonical_url`` over
    ``inner`` (any SELECT producing a ``url`` column plus the
    ``passthrough`` columns). ONE definition shared by the
    url_dedup_documents oracle and the three-engine fuzz battery
    (tests/test_llm.py) so the oracle's canonicalization and the
    battery's can never drift apart."""
    return rf"""
      SELECT {passthrough},
             host || path ||
             (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS canonical_url
      FROM (
        SELECT {passthrough},
               regexp_replace(lower(split_part(pq, '/', 1)),
                              ':(80|443)$', '') AS host,
               regexp_replace(substring(pq,
                              length(split_part(pq, '/', 1)) + 1),
                              '/+$', '') AS path,
               array_to_string(list_sort(list_filter(
                 string_split(substring(rest,
                              length(split_part(rest, '?', 1)) + 2), '&'),
                 p -> p <> ''
                      AND substring(lower(split_part(p, '=', 1)), 1, 4)
                          <> 'utm_'
                      AND lower(split_part(p, '=', 1)) NOT IN
                          ('fbclid','gclid','msclkid','ref','igshid',
                           'mc_eid','mc_cid'))), '&') AS q2
        FROM (
          SELECT {passthrough}, rest,
                 split_part(rest, '?', 1) AS pq
          FROM (
            SELECT {passthrough},
                   regexp_replace(
                     regexp_replace(split_part(url, '#', 1),
                                    '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                     '^(?i)www\.', '') AS rest
            FROM ({inner})))) """


# Deterministic planted crawl over documents — the input both the
# url_dedup_documents gate and corpus_pipeline_v8 replay (one SQL
# fragment + one Spark builder, the _V5_PIPE_CTES shared-fragment
# convention): doc_id%6 in {0,1,2} are three variant spellings of one
# article URL, {3,4} param-order/tracking variants per (source,
# doc_id%5) page, 5 the singleton branch.
_PLANTED_CRAWL_SQL = r"""SELECT doc_id, n_chars,
                CASE doc_id % 6
                  WHEN 0 THEN 'https://WWW.News-Site.com/articles/item?id='
                              || CAST(doc_id % 40 AS VARCHAR)
                              || '&utm_source=feed#top'
                  WHEN 1 THEN 'http://news-site.com:80/articles/item/?id='
                              || CAST(doc_id % 40 AS VARCHAR)
                  WHEN 2 THEN 'https://news-site.com/articles/item?utm_campaign=x&id='
                              || CAST(doc_id % 40 AS VARCHAR) || '&fbclid=ZZZ'
                  WHEN 3 THEN 'https://' || source || '.example.net/p/'
                              || CAST(doc_id % 5 AS VARCHAR) || '?a=1&b=2'
                  WHEN 4 THEN 'https://' || source || '.example.net/p/'
                              || CAST(doc_id % 5 AS VARCHAR)
                              || '?b=2&a=1&gclid=G' || CAST(doc_id AS VARCHAR)
                  ELSE 'https://unique-' || CAST(doc_id AS VARCHAR)
                       || '.org/page/' || CAST(doc_id AS VARCHAR)
                END AS url
              FROM documents"""

_URL_CANON_SQL = _url_canon_sql(_PLANTED_CRAWL_SQL, "doc_id, n_chars")


def _planted_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PLANTED_CRAWL_SQL: (doc_id, n_chars, url)."""
    d = F.col("doc_id")
    b = (d % 40).cast("string")
    k = (d % 5).cast("string")
    url = (
        F.when(
            d % 6 == 0,
            F.concat(
                F.lit("https://WWW.News-Site.com/articles/item?id="),
                b,
                F.lit("&utm_source=feed#top"),
            ),
        )
        .when(
            d % 6 == 1,
            F.concat(F.lit("http://news-site.com:80/articles/item/?id="), b),
        )
        .when(
            d % 6 == 2,
            F.concat(
                F.lit("https://news-site.com/articles/item?utm_campaign=x&id="),
                b,
                F.lit("&fbclid=ZZZ"),
            ),
        )
        .when(
            d % 6 == 3,
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.net/p/"),
                k,
                F.lit("?a=1&b=2"),
            ),
        )
        .when(
            d % 6 == 4,
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.net/p/"),
                k,
                F.lit("?b=2&a=1&gclid=G"),
                d.cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://unique-"),
                d.cast("string"),
                F.lit(".org/page/"),
                d.cast("string"),
            )
        )
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", url.alias("url")
    )


@register(
    "url_dedup_documents",
    oracle="SELECT doc_id, canonical_url, CAST(url_dupes AS BIGINT) AS url_dupes"
    """
    FROM (
      SELECT doc_id, canonical_url,
             ROW_NUMBER() OVER (
               PARTITION BY canonical_url
               ORDER BY n_chars DESC,
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT),
                        doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY canonical_url) AS url_dupes
      FROM ("""
    + _URL_CANON_SQL
    + """)
    ) WHERE rk = 1
    """,
    doc="URL-level dedup (llm.dedup.url_dedup_documents + canonical_url) "
    "- the FIRST dedup rung of the CCNet/RefinedWeb pipeline, applied "
    "before any content hashing: URL VARIANTS (scheme, www, host case, "
    "default port :80/:443, trailing slash, fragment, tracking params "
    "utm_*/fbclid/gclid/..., query-param order) collapse to one "
    "canonical key; one survivor per key (longer doc preferred, "
    "md5-sample-key + id fallback), each carrying url_dupes (the "
    "re-crawl count). URLs are PLANTED deterministically over "
    "documents so every rule branch exercises at the driver's SF: "
    "doc_id%6 in {0,1,2} are three variant spellings of the same "
    "article URL (40 canonical articles, ~6 re-crawls each at sf0.01), "
    "{3,4} are param-order/tracking variants per (source, doc_id%5) "
    "page, 5 is the singleton branch (url_dupes=1). Canonicalization "
    "is row-local builtin string/array ops (rides the scan, "
    "byte-identical DuckDB twin); then ONE hash exchange on the "
    "canonical key - rank and dupe-count windows share it "
    "(plan-tripwired).",
)
def url_dedup_documents_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_fcfs_spark.llm.dedup import url_dedup_documents

    crawled = _planted_crawl(spark, sf_dir)
    return url_dedup_documents(crawled, "url", "doc_id", prefer_col="n_chars").select(
        "doc_id", "canonical_url", "url_dupes"
    )


_SKEY_SQL = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"


@register(
    "corpus_pipeline_v8",
    oracle=f"""
    WITH canon AS ({_url_canon_sql(_PLANTED_CRAWL_SQL, "doc_id, n_chars")}),
    u AS (
      SELECT doc_id, n_chars, canonical_url,
             ROW_NUMBER() OVER (
               PARTITION BY canonical_url
               ORDER BY n_chars DESC, {_SKEY_SQL}, doc_id) AS rk
      FROM canon
    ),
    s1 AS (SELECT doc_id, n_chars, canonical_url FROM u WHERE rk = 1),
    h AS (
      SELECT *, split_part(split_part(canonical_url, '?', 1), '/', 1) AS host
      FROM s1
    ),
    c AS (
      SELECT doc_id, ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY n_chars DESC, {_SKEY_SQL}, doc_id) AS hk
      FROM h
    ),
    s2 AS (SELECT doc_id FROM c WHERE hk <= 8),
    s3 AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY doc_id % 120),
    n0 AS (SELECT COUNT(*) AS n FROM documents),
    n1 AS (SELECT COUNT(*) AS n FROM s1),
    n2 AS (SELECT COUNT(*) AS n FROM s2),
    n3 AS (SELECT COUNT(*) AS n FROM s3)
    SELECT 'url_dedup' AS stage, CAST(n0.n AS BIGINT) AS rows_in,
           CAST(n1.n AS BIGINT) AS rows_kept,
           CAST(n0.n - n1.n AS BIGINT) AS rows_dropped FROM n0, n1
    UNION ALL
    SELECT 'host_cap', n1.n, n2.n, n1.n - n2.n FROM n1, n2
    UNION ALL
    SELECT 'exact_dedup', n2.n, n3.n, n2.n - n3.n FROM n2, n3
    """,
    doc="Composed training-data pipeline v8 - the ACQUISITION layer in "
    "the CCNet/RefinedWeb stage order, which v1-v7 never exercise "
    "(they all start at the quality floor / content-hash rungs): URL "
    "canonicalization dedup (url_dedup_documents over the SHARED "
    "planted crawl, _PLANTED_CRAWL_SQL / _planted_crawl) -> per-host "
    "document cap at 8 on the host of the CANONICAL key (the planted "
    "news host holds 40 url-survivors, so the cap branch exercises; "
    "example.net hosts stay under-cap) -> exact content dedup "
    "(exact_dedup on a planted content key, doc_id%120 - cross-host "
    "mirrors collapse). Output is the per-stage drop LEDGER (stage, "
    "rows_in, rows_kept, rows_dropped) every production pipeline "
    "publishes with its corpus. Scale shape: the corpus scans ONCE - "
    "the url stage's rows_in is derived from its own audit column "
    "(sum(url_dupes) = input rows, no second scan), later stages "
    "count waypointed survivors; ledger rows assemble via 1x1 "
    "cross-joins + inline, nothing collects.",
)
def corpus_pipeline_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    crawled = _planted_crawl(spark, sf_dir).withColumn(
        "ckey",
        F.concat(F.lit("article-"), (F.col("doc_id") % 120).cast("string")),
    )
    return _acquisition_ledger(crawled)


def _acquisition_ledger(crawled: DataFrame) -> DataFrame:
    """The v8 pipeline body over any (doc_id, n_chars, url, ckey)
    crawl: url dedup → host-cap(8) on the canonical host → exact
    content dedup, returning the 3-row drop ledger. Split out so the
    empty-crawl contract (all-zero ledger, never NULL — an empty
    shard must telescope like any other) is testable directly."""
    from hadoop_fcfs_spark.caching import waypoint
    from hadoop_fcfs_spark.llm.dedup import (
        exact_dedup,
        host_cap_documents,
        url_dedup_documents,
    )

    s1 = waypoint(url_dedup_documents(crawled, "url", "doc_id", prefer_col="n_chars"))
    hosted = s1.withColumn(
        "host",
        F.split_part(
            F.split_part(F.col("canonical_url"), F.lit("?"), F.lit(1)),
            F.lit("/"),
            F.lit(1),
        ),
    )
    s2 = waypoint(host_cap_documents(hosted, "host", "doc_id", 8, prefer_col="n_chars"))
    s3 = exact_dedup(s2, "doc_id", "ckey", normalize=False)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias(name))

    # rows_in of the url stage from its own audit column: every input
    # row maps to exactly one canonical key, so sum(url_dupes) is the
    # crawl size — no second corpus scan. coalesce: an EMPTY crawl's
    # sum is NULL; the ledger contract is zeros. n0 and n1 FUSE into
    # one aggregate over the cached s1 (r15 verdict advisory #2: the
    # split form paid two passes over the waypoint for one line).
    counts = (
        s1.agg(
            F.coalesce(F.sum("url_dupes"), F.lit(0)).cast("long").alias("n0"),
            F.count("*").cast("long").alias("n1"),
        )
        .crossJoin(cnt(s2, "n2"))
        .crossJoin(cnt(s3, "n3"))
    )
    return counts.selectExpr(
        """inline(array(
             named_struct('stage', 'url_dedup',
                          'rows_in', n0, 'rows_kept', n1,
                          'rows_dropped', n0 - n1),
             named_struct('stage', 'host_cap',
                          'rows_in', n1, 'rows_kept', n2,
                          'rows_dropped', n1 - n2),
             named_struct('stage', 'exact_dedup',
                          'rows_in', n2, 'rows_kept', n3,
                          'rows_dropped', n2 - n3)))"""
    )
