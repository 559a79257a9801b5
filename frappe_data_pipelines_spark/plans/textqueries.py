"""Text-pipeline queries: chunking, text analysis, BM25/RRF hybrid search,
deduplication (SURVEY §2.H/§2.J + training-data extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frappe_data_pipelines_spark.functions.text import (
    STOPWORDS,
    detect_language_expr,
    fingerprint_expr,
    punct_ratio_expr,
    quality_score_expr,
    token_count_expr,
    tokens_expr,
)
from frappe_data_pipelines_spark.operators.chunker import chunk_documents, chunk_embed_documents
from frappe_data_pipelines_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from frappe_data_pipelines_spark.operators.search import (
    bm25_scores,
    knn_topk,
    lexical_rerank,
    rrf_fuse,
)
from frappe_data_pipelines_spark.plans.catalog import register
from frappe_data_pipelines_spark.sources.tables import load_table

QUERY_TERMS = ["fast", "join", "table", "scan"]

# DuckDB mirror of functions/text.py tokenization.
_SQL_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_SQL_SW = "['" + "', '".join(STOPWORDS) + "']"


# ---------------------------------------------------------------------------
# Chunking (rows-only: procedural semantics; property tests in tests/)
# ---------------------------------------------------------------------------

@register("chunk_recursive", tags=("H1", "E1", "rows-only"))
def chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 recursive character chunker (exact LangChain semantics, reference:
    services/chunking_service.py:127-163) at size 200 / overlap 40 so the
    word-salad test docs genuinely split. Shuffle-free mapInPandas."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40).select(
        "doc_id", "chunk_index", "chunk_text", "character_count", "total_chunks"
    )


@register("chunk_semantic", tags=("H4", "H5", "rows-only"))
def chunk_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic chunker: header sectionizing + stateful section paths
    (reference: chunking_service.py:166-481), target 300 chars."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, strategy="semantic", chunk_size=300, chunk_overlap=60).select(
        "doc_id", "chunk_index", "chunk_text", "character_count", "section_path"
    )


@register(
    "chunk_counts_per_doc",
    tags=("D4", "rows-only"),
)
def chunk_counts_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 chunk-count accounting over the chunker output."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40)
    return chunks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("character_count").cast("bigint").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Text analysis (SQL-oracle)
# ---------------------------------------------------------------------------

@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKS}) AS BIGINT) AS token_count,
           CAST(len(list_distinct({_SQL_TOKS})) AS BIGINT) AS distinct_tokens,
           round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio
    FROM documents
    """,
    tags=("text-analysis",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation ratio — whole-stage-codegen column
    expressions, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_expr(F.col("text")).alias("token_count"),
        F.size(F.array_distinct(tokens_expr(F.col("text")))).cast("bigint").alias("distinct_tokens"),
        F.round(punct_ratio_expr(F.col("text")), 6).alias("punct_ratio"),
    )


@register(
    "text_language_id",
    # literal unicode chars (DuckDB's regex engine rejects \uXXXX escapes)
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN regexp_matches(text, '[{chr(0x0600)}-{chr(0x06FF)}]') THEN 'ar'
                WHEN regexp_matches(text, '[{chr(0x4E00)}-{chr(0x9FFF)}]') THEN 'zh'
                WHEN regexp_matches(text, '[a-zA-Z]') THEN 'en'
                ELSE 'unknown' END AS detected_lang
    FROM documents
    """,
    tags=("H6", "text-analysis"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 unicode-range language heuristic (reference:
    services/ocr_service.py:189-226)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", detect_language_expr(F.col("text")).alias("detected_lang"))


@register(
    "text_quality_scores",
    # formula mirrors functions/text.py:quality_score_expr exactly (no inner
    # rounding); final 6-dp cut uses floor() which is deterministic on
    # bit-identical doubles in both engines (round() half-up differs at rare
    # representation boundaries)
    oracle=f"""
    SELECT doc_id,
           floor((least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0)
                  + (1.0 - least(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) * 5.0, 1.0))
                  + least(CAST(len(list_filter({_SQL_TOKS}, t -> list_contains({_SQL_SW}, t))) AS DOUBLE)
                          / len({_SQL_TOKS}) * 5.0, 1.0)) / 3.0 * 1000000) / 1000000 AS quality
    FROM documents
    """,
    tags=("text-analysis",),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length / punctuation / prose-likeness)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score_expr(F.col("text")).alias("quality"))


@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    tags=("dedup", "text-analysis"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (whitespace-normalized md5)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_expr(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized fingerprint. One shuffle
    on a uniform short key — no skew at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_duplicates(docs)
        .select(
            "fp",
            "n_docs",
            F.array_min("doc_ids").alias("min_doc"),
            F.array_max("doc_ids").alias("max_doc"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(common * 1.0 / (x.n_sh + y.n_sh - common), 6) AS jaccard
    FROM common JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
    WHERE round(common * 1.0 / (x.n_sh + y.n_sh - common), 6) >= 0.5
    """,
    tags=("dedup", "headline"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (5-word shingles, τ=0.5) via
    inverted-index join — no n² crossJoin; cost bounded by shingle
    co-occurrence. The testdata plants ~0.99-jaccard pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=5, threshold=0.5)


_MINHASH_LSH_SQL = """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 3
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % 2147483647 AS h
      FROM sh
    ), sigrows AS (
      SELECT doc_id, i.i AS hash_index,
             min(((2 * i.i + 1) * h + i.i * 12582917) % 2147483647) AS min_hash
      FROM hashed, LATERAL (SELECT unnest(generate_series(0, 15)) AS i) i
      GROUP BY doc_id, i.i
    ), sigs AS (
      SELECT doc_id, list(min_hash ORDER BY hash_index) AS sig FROM sigrows GROUP BY doc_id
    ), buckets AS (
      SELECT doc_id, b.b AS band,
             md5('[' || array_to_string(sig[b.b * 4 + 1 : b.b * 4 + 4], ',') || ']') AS bucket
      FROM sigs, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) b
    ), pairs AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM buckets x JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
      WHERE x.doc_id < y.doc_id
    )
    SELECT p.id_a, p.id_b,
           round(CAST(len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16.0, 6)
             AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    """


@register("dedup_minhash_lsh", oracle=_MINHASH_LSH_SQL, tags=("dedup",))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH candidate pairs with estimated jaccard.
    Rows-only (hash-family composition is procedural); tests/test_dedup.py
    checks precision/recall against exact jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_n=3)


_SIMHASH_SQL = """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
    ), votes AS (
      SELECT doc_id,
             sum(CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
             sum(CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
             sum(CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
             sum(CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
             sum(CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
             sum(CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
             sum(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
             sum(CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
             sum(CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
             sum(CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
             sum(CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
             sum(CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
             sum(CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
             sum(CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
             sum(CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
             sum(CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15,
             sum(CASE WHEN (h >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16,
             sum(CASE WHEN (h >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17,
             sum(CASE WHEN (h >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18,
             sum(CASE WHEN (h >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19,
             sum(CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20,
             sum(CASE WHEN (h >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21,
             sum(CASE WHEN (h >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22,
             sum(CASE WHEN (h >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23,
             sum(CASE WHEN (h >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24,
             sum(CASE WHEN (h >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25,
             sum(CASE WHEN (h >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26,
             sum(CASE WHEN (h >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27,
             sum(CASE WHEN (h >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28,
             sum(CASE WHEN (h >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29,
             sum(CASE WHEN (h >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30,
             sum(CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31,
             sum(CASE WHEN (h >> 32) & 1 = 1 THEN 1 ELSE -1 END) AS b32,
             sum(CASE WHEN (h >> 33) & 1 = 1 THEN 1 ELSE -1 END) AS b33,
             sum(CASE WHEN (h >> 34) & 1 = 1 THEN 1 ELSE -1 END) AS b34,
             sum(CASE WHEN (h >> 35) & 1 = 1 THEN 1 ELSE -1 END) AS b35,
             sum(CASE WHEN (h >> 36) & 1 = 1 THEN 1 ELSE -1 END) AS b36,
             sum(CASE WHEN (h >> 37) & 1 = 1 THEN 1 ELSE -1 END) AS b37,
             sum(CASE WHEN (h >> 38) & 1 = 1 THEN 1 ELSE -1 END) AS b38,
             sum(CASE WHEN (h >> 39) & 1 = 1 THEN 1 ELSE -1 END) AS b39,
             sum(CASE WHEN (h >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS b40,
             sum(CASE WHEN (h >> 41) & 1 = 1 THEN 1 ELSE -1 END) AS b41,
             sum(CASE WHEN (h >> 42) & 1 = 1 THEN 1 ELSE -1 END) AS b42,
             sum(CASE WHEN (h >> 43) & 1 = 1 THEN 1 ELSE -1 END) AS b43,
             sum(CASE WHEN (h >> 44) & 1 = 1 THEN 1 ELSE -1 END) AS b44,
             sum(CASE WHEN (h >> 45) & 1 = 1 THEN 1 ELSE -1 END) AS b45,
             sum(CASE WHEN (h >> 46) & 1 = 1 THEN 1 ELSE -1 END) AS b46,
             sum(CASE WHEN (h >> 47) & 1 = 1 THEN 1 ELSE -1 END) AS b47,
             sum(CASE WHEN (h >> 48) & 1 = 1 THEN 1 ELSE -1 END) AS b48,
             sum(CASE WHEN (h >> 49) & 1 = 1 THEN 1 ELSE -1 END) AS b49,
             sum(CASE WHEN (h >> 50) & 1 = 1 THEN 1 ELSE -1 END) AS b50,
             sum(CASE WHEN (h >> 51) & 1 = 1 THEN 1 ELSE -1 END) AS b51,
             sum(CASE WHEN (h >> 52) & 1 = 1 THEN 1 ELSE -1 END) AS b52,
             sum(CASE WHEN (h >> 53) & 1 = 1 THEN 1 ELSE -1 END) AS b53,
             sum(CASE WHEN (h >> 54) & 1 = 1 THEN 1 ELSE -1 END) AS b54,
             sum(CASE WHEN (h >> 55) & 1 = 1 THEN 1 ELSE -1 END) AS b55,
             sum(CASE WHEN (h >> 56) & 1 = 1 THEN 1 ELSE -1 END) AS b56,
             sum(CASE WHEN (h >> 57) & 1 = 1 THEN 1 ELSE -1 END) AS b57,
             sum(CASE WHEN (h >> 58) & 1 = 1 THEN 1 ELSE -1 END) AS b58,
             sum(CASE WHEN (h >> 59) & 1 = 1 THEN 1 ELSE -1 END) AS b59,
             sum(CASE WHEN (h >> 60) & 1 = 1 THEN 1 ELSE -1 END) AS b60,
             sum(CASE WHEN (h >> 61) & 1 = 1 THEN 1 ELSE -1 END) AS b61,
             sum(CASE WHEN (h >> 62) & 1 = 1 THEN 1 ELSE -1 END) AS b62,
             sum(CASE WHEN (h >> 63) & 1 = 1 THEN 1 ELSE -1 END) AS b63
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST((CASE WHEN b0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN b1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN b2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN b3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN b4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN b5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN b6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN b7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN b8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN b9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN b10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN b11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN b12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN b13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN b14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN b15 > 0 THEN 32768 ELSE 0 END) + (CASE WHEN b16 > 0 THEN 65536 ELSE 0 END) + (CASE WHEN b17 > 0 THEN 131072 ELSE 0 END) + (CASE WHEN b18 > 0 THEN 262144 ELSE 0 END) + (CASE WHEN b19 > 0 THEN 524288 ELSE 0 END) + (CASE WHEN b20 > 0 THEN 1048576 ELSE 0 END) + (CASE WHEN b21 > 0 THEN 2097152 ELSE 0 END) + (CASE WHEN b22 > 0 THEN 4194304 ELSE 0 END) + (CASE WHEN b23 > 0 THEN 8388608 ELSE 0 END) + (CASE WHEN b24 > 0 THEN 16777216 ELSE 0 END) + (CASE WHEN b25 > 0 THEN 33554432 ELSE 0 END) + (CASE WHEN b26 > 0 THEN 67108864 ELSE 0 END) + (CASE WHEN b27 > 0 THEN 134217728 ELSE 0 END) + (CASE WHEN b28 > 0 THEN 268435456 ELSE 0 END) + (CASE WHEN b29 > 0 THEN 536870912 ELSE 0 END) + (CASE WHEN b30 > 0 THEN 1073741824 ELSE 0 END) + (CASE WHEN b31 > 0 THEN 2147483648 ELSE 0 END) + (CASE WHEN b32 > 0 THEN 4294967296 ELSE 0 END) + (CASE WHEN b33 > 0 THEN 8589934592 ELSE 0 END) + (CASE WHEN b34 > 0 THEN 17179869184 ELSE 0 END) + (CASE WHEN b35 > 0 THEN 34359738368 ELSE 0 END) + (CASE WHEN b36 > 0 THEN 68719476736 ELSE 0 END) + (CASE WHEN b37 > 0 THEN 137438953472 ELSE 0 END) + (CASE WHEN b38 > 0 THEN 274877906944 ELSE 0 END) + (CASE WHEN b39 > 0 THEN 549755813888 ELSE 0 END) + (CASE WHEN b40 > 0 THEN 1099511627776 ELSE 0 END) + (CASE WHEN b41 > 0 THEN 2199023255552 ELSE 0 END) + (CASE WHEN b42 > 0 THEN 4398046511104 ELSE 0 END) + (CASE WHEN b43 > 0 THEN 8796093022208 ELSE 0 END) + (CASE WHEN b44 > 0 THEN 17592186044416 ELSE 0 END) + (CASE WHEN b45 > 0 THEN 35184372088832 ELSE 0 END) + (CASE WHEN b46 > 0 THEN 70368744177664 ELSE 0 END) + (CASE WHEN b47 > 0 THEN 140737488355328 ELSE 0 END) + (CASE WHEN b48 > 0 THEN 281474976710656 ELSE 0 END) + (CASE WHEN b49 > 0 THEN 562949953421312 ELSE 0 END) + (CASE WHEN b50 > 0 THEN 1125899906842624 ELSE 0 END) + (CASE WHEN b51 > 0 THEN 2251799813685248 ELSE 0 END) + (CASE WHEN b52 > 0 THEN 4503599627370496 ELSE 0 END) + (CASE WHEN b53 > 0 THEN 9007199254740992 ELSE 0 END) + (CASE WHEN b54 > 0 THEN 18014398509481984 ELSE 0 END) + (CASE WHEN b55 > 0 THEN 36028797018963968 ELSE 0 END) + (CASE WHEN b56 > 0 THEN 72057594037927936 ELSE 0 END) + (CASE WHEN b57 > 0 THEN 144115188075855872 ELSE 0 END) + (CASE WHEN b58 > 0 THEN 288230376151711744 ELSE 0 END) + (CASE WHEN b59 > 0 THEN 576460752303423488 ELSE 0 END) + (CASE WHEN b60 > 0 THEN 1152921504606846976 ELSE 0 END) + (CASE WHEN b61 > 0 THEN 2305843009213693952 ELSE 0 END) + (CASE WHEN b62 > 0 THEN 4611686018427387904 ELSE 0 END) AS BIGINT) AS simhash
    FROM votes
    """


@register("dedup_simhash", oracle=_SIMHASH_SQL, tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures per doc (majority-vote bits over md5 token
    hashes) — relational bit-vote formulation, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs)


# ---------------------------------------------------------------------------
# BM25 / RRF / rerank (the declared-but-missing hybrid search, done properly)
# ---------------------------------------------------------------------------

_BM25_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ), doclen AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM doclen
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
      WHERE term IN ('fast', 'join', 'table', 'scan') GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           round(SUM(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl / stats.avgdl))), 6) AS bm25
    FROM tf JOIN df USING (term) JOIN doclen USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
"""


@register("bm25_keyword_search", oracle=_BM25_SQL, tags=("hybrid-search", "headline"))
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) for query terms — implements the
    capability the reference only claims in docstrings (reference:
    services/search_service.py:1-6 declares BM25; none exists)."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, QUERY_TERMS)


@register(
    "rrf_hybrid_fusion",
    oracle=f"""
    WITH bm AS ({_BM25_SQL}),
    dense AS (
      SELECT e.vec_id AS doc_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                   (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS score
      FROM embeddings e
    ),
    dense_pool AS (
      SELECT doc_id, score FROM dense ORDER BY score DESC, doc_id ASC LIMIT 100
    ),
    bm_pool AS (
      SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 100
    ),
    ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_a FROM dense_pool),
    rb AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_b FROM bm_pool)
    SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
           round(COALESCE(1.0 / (60 + rank_a), 0.0) + COALESCE(1.0 / (60 + rank_b), 0.0), 6) AS rrf
    FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    ORDER BY rrf DESC, doc_id ASC
    LIMIT 20
    """,
    tags=("hybrid-search", "headline"),
)
def rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of the dense cosine ranking and the BM25
    ranking — the declared-but-missing fusion, rrf = Σ 1/(60 + rank)."""
    from frappe_data_pipelines_spark.operators.search import _score

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    dense = _score(emb, qv, "embedding").select(F.col("vec_id").alias("doc_id"), "score")
    bm = bm25_scores(docs, QUERY_TERMS)
    return rrf_fuse(dense, bm, top_k=20)


@register(
    "rerank_overfetch_cut",
    oracle=f"""
    WITH bm AS ({_BM25_SQL}),
    cands AS (
      SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 50
    )
    SELECT c.doc_id,
           round(CAST(len(list_intersect(list_distinct({_SQL_TOKS}),
                 ['fast', 'join', 'table', 'scan'])) AS DOUBLE) / 4, 6) AS relevance
    FROM cands c JOIN documents USING (doc_id)
    ORDER BY relevance DESC, c.doc_id ASC
    LIMIT 10
    """,
    tags=("E3", "J4"),
)
def rerank_overfetch_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/J4 rerank-then-cut: overfetch candidates (50 = 10×5, the
    reference's top_k×5 heuristic, search_service.py:83), re-score with the
    deterministic lexical reranker, keep top 10."""
    docs = load_table(spark, sf_dir, "documents")
    cands = (
        bm25_scores(docs, QUERY_TERMS)
        .orderBy(F.desc("bm25"), F.col("doc_id").asc())
        .limit(50)
        .join(docs, "doc_id")
    )
    return lexical_rerank(cands, QUERY_TERMS, top_k=10).select("doc_id", "relevance")


# ---------------------------------------------------------------------------
# Flagship pipeline (rows-only — exercises chunk → embed → search end-to-end)
# ---------------------------------------------------------------------------

@register("flagship_chunk_embed_search", tags=("M0", "J1", "H1", "C6", "rows-only", "headline"))
def flagship_chunk_embed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M0 flagship: documents → recursive chunks → deterministic embeddings
    → cosine top-10 for an embedded text query. The full ingest+search path
    of the reference in one declarative plan."""
    from frappe_data_pipelines_spark.operators.embed import HashingEmbedder

    docs = load_table(spark, sf_dir, "documents")
    embedded = chunk_embed_documents(docs, strategy="recursive", chunk_size=200, chunk_overlap=40)
    qv = HashingEmbedder().embed([" ".join(QUERY_TERMS)])[0]
    return knn_topk(
        embedded, qv, k=10, vec_col="embedding", id_col="doc_id"
    ).select("doc_id", "chunk_index", "chunk_text", "score")


@register(
    "dataset_splits",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM b
    """,
    tags=("text-analysis", "extension"),
)
def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment (80/10/10) by salted
    content hash — the standard training-data split that survives
    re-partitioning, re-runs, and incremental appends (no rand(), SURVEY
    hard spot (c))."""
    from frappe_data_pipelines_spark.functions.text import md5_bucket_expr

    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket_expr(F.col("doc_id"), "split:", 8, 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@register(
    "dedup_aware_splits",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
      FROM documents
    ), b AS (
      SELECT doc_id, fingerprint,
             CAST(('0x' || substring(md5('split:' || fingerprint), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM fp
    )
    SELECT doc_id, fingerprint,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM b
    """,
    tags=("text-analysis", "dedup", "extension"),
)
def dedup_aware_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation/test assignment: the split hash is
    salted over the CONTENT FINGERPRINT (whitespace-normalized lowercase
    md5), not the doc id — so byte-identical documents (the duplicates
    exact dedup finds) always land in the SAME split and can never leak a
    test document into training. The standard eval-hygiene complement to
    dedup (Lee et al. 2021 §5 discuss train/test contamination via
    duplicates); one narrow projection + hash, no shuffle at all."""
    from frappe_data_pipelines_spark.functions.text import (
        fingerprint_expr,
        md5_bucket_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint_expr(F.col("text"))
    bucket = md5_bucket_expr(fp, "split:", 8, 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "validation").otherwise("test")
    )
    return docs.select(
        "doc_id", fp.alias("fingerprint"), split.alias("split")
    )


@register(
    "cluster_safe_splits",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(c / (sa.n_sh + sb.n_sh - c), 6) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), cc AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ), assigned AS (
      SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CASE WHEN CAST(('0x' || substring(
                    md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 100 < 80 THEN 'train'
                WHEN CAST(('0x' || substring(
                    md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 100 < 90 THEN 'validation'
                ELSE 'test' END AS split
    FROM assigned
    """,
    tags=("text-analysis", "dedup", "extension", "scale-path"),
)
def cluster_safe_splits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-DUP rung of leakage-safe splitting: ``dedup_aware_splits``
    keeps byte-identical docs together, but transitively-near-duplicate
    docs (jaccard >= 0.5 chains) still straddle splits there. Here the
    split hash is salted over the connected-component id of the near-dup
    graph (star contraction, O(log n) rounds), so a whole duplicate
    FAMILY lands in one split — eval text can never leak into training
    through a paraphrased or lightly-edited copy. The oracle rebuilds the
    components via recursive transitive closure and re-derives every
    assignment."""
    from frappe_data_pipelines_spark.operators.dedup import (
        cluster_safe_splits,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.5)
    return cluster_safe_splits(docs, pairs)


@register(
    "corpus_quality_filter",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE regexp_matches(text, '[a-zA-Z]')
      AND NOT regexp_matches(text, '[{chr(0x0600)}-{chr(0x06FF)}{chr(0x4E00)}-{chr(0x9FFF)}]')
      AND n_chars BETWEEN 100 AND 100000
      AND length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
            <= length(text) * 0.2
      AND len(list_filter({_SQL_TOKS}, t -> list_contains({_SQL_SW}, t)))
            * 10 >= len({_SQL_TOKS})
    """,
    tags=("text-analysis", "extension", "B11"),
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training corpus filter (C4/Gopher-style rules over the
    engine's text-analysis functions): latin-script language, length bounds,
    punctuation ratio ≤ 0.2, stopword ratio ≥ 0.1 — one conjunctive
    predicate, fully pushed/codegen'd; at 100 TB this is a single scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n_toks = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(F.lit(STOPWORDS).cast("array<string>"), t)))
    punct_len = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9\\s]", ""))
    keep = (
        F.col("text").rlike("[a-zA-Z]")
        & ~F.col("text").rlike("[؀-ۿ一-鿿]")
        & F.col("n_chars").between(100, 100000)
        & (punct_len <= F.length("text") * 0.2)
        & (n_stop * 10 >= n_toks)
    )
    return docs.filter(keep).select("doc_id", "lang", "n_chars")


@register(
    "quality_funnel_accounting",
    oracle=f"""
    WITH p AS (
      SELECT regexp_matches(text, '[a-zA-Z]')
               AND NOT regexp_matches(text, '[{chr(0x0600)}-{chr(0x06FF)}{chr(0x4E00)}-{chr(0x9FFF)}]') AS p1,
             n_chars BETWEEN 100 AND 100000 AS p2,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
               <= length(text) * 0.2 AS p3,
             len(list_filter({_SQL_TOKS}, t -> list_contains({_SQL_SW}, t)))
               * 10 >= len({_SQL_TOKS}) AS p4
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS s0,
             CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
             CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
      FROM p
    )
    SELECT 0 AS stage, 'input' AS rule, s0 AS n_pass,
           CAST(0 AS BIGINT) AS n_dropped_here FROM agg
    UNION ALL SELECT 1, 'latin_script', s1, s0 - s1 FROM agg
    UNION ALL SELECT 2, 'length_bounds', s2, s1 - s2 FROM agg
    UNION ALL SELECT 3, 'punct_ratio', s3, s2 - s3 FROM agg
    UNION ALL SELECT 4, 'stopword_ratio', s4, s3 - s4 FROM agg
    """,
    tags=("text-analysis", "quality", "extension"),
)
def quality_funnel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style filter-cascade accounting: the corpus_quality_filter
    rules applied CUMULATIVELY, one row per stage with survivors and
    per-stage drops — the report a corpus curator reads before shipping a
    filter change. ONE scan, one 5-counter aggregate (conditional sums
    combine map-side), then a 5-row reshape — nothing here grows with
    corpus size, so the query is scale-free beyond the scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n_toks = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(
        F.lit(STOPWORDS).cast("array<string>"), t)))
    punct_len = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9\\s]", ""))
    p1 = F.col("text").rlike("[a-zA-Z]") & ~F.col("text").rlike("[؀-ۿ一-鿿]")
    p2 = F.col("n_chars").between(100, 100000)
    p3 = punct_len <= F.length("text") * 0.2
    p4 = n_stop * 10 >= n_toks
    one = F.lit(1)
    agg = docs.agg(
        F.count("*").cast("bigint").alias("s0"),
        F.sum(F.when(p1, one).otherwise(0)).cast("bigint").alias("s1"),
        F.sum(F.when(p1 & p2, one).otherwise(0)).cast("bigint").alias("s2"),
        F.sum(F.when(p1 & p2 & p3, one).otherwise(0)).cast("bigint").alias("s3"),
        F.sum(F.when(p1 & p2 & p3 & p4, one).otherwise(0)).cast("bigint").alias("s4"),
    )
    zero = F.lit(0).cast("bigint")
    return agg.select(F.explode(F.array(
        F.struct(F.lit(0).alias("stage"), F.lit("input").alias("rule"),
                 F.col("s0").alias("n_pass"), zero.alias("n_dropped_here")),
        F.struct(F.lit(1).alias("stage"), F.lit("latin_script").alias("rule"),
                 F.col("s1").alias("n_pass"),
                 (F.col("s0") - F.col("s1")).alias("n_dropped_here")),
        F.struct(F.lit(2).alias("stage"), F.lit("length_bounds").alias("rule"),
                 F.col("s2").alias("n_pass"),
                 (F.col("s1") - F.col("s2")).alias("n_dropped_here")),
        F.struct(F.lit(3).alias("stage"), F.lit("punct_ratio").alias("rule"),
                 F.col("s3").alias("n_pass"),
                 (F.col("s2") - F.col("s3")).alias("n_dropped_here")),
        F.struct(F.lit(4).alias("stage"), F.lit("stopword_ratio").alias("rule"),
                 F.col("s4").alias("n_pass"),
                 (F.col("s3") - F.col("s4")).alias("n_dropped_here")),
    )).alias("r")).select("r.stage", "r.rule", "r.n_pass", "r.n_dropped_here")


@register(
    "text_bpe_token_estimate",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
           round(CAST(length(text) AS DOUBLE)
                 / len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')), 6)
             AS chars_per_token
    FROM documents WHERE length(text) > 0
    """,
    tags=("text-analysis", "extension"),
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation with a BPE-style pre-tokenizer regex (GPT-2's
    contraction / word / number / punctuation / whitespace classes) next to
    plain whitespace counting — the budget estimator every training-data
    pipeline runs before paying for real tokenization. Pure regexp
    expressions, identical pattern both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # F.lit, not F.expr: the SQL double-quoted literal would strip the
    # backslash from \s, changing the pattern (punctuation class would stop
    # excluding whitespace). Native API hands the JVM regex the exact string.
    pat = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
    bpe = F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    ws = F.split(F.trim("text"), "\\s+")
    return docs.filter(F.length("text") > 0).select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.round(F.length("text").cast("double") / F.size(bpe), 6).alias("chars_per_token"),
    )


@register("chunk_hybrid", tags=("H1", "H4", "H5", "rows-only"))
def chunk_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid chunker (Docling-hybrid analogue, chunking_service.py:23-124):
    semantic sectioning, oversized sections re-split recursively with their
    section path kept — the third strategy of the reference's factory."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, strategy="hybrid", chunk_size=300, chunk_overlap=60).select(
        "doc_id", "chunk_index", "chunk_text", "character_count", "section_path"
    )


@register(
    "dedup_dup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(c / (sa.n_sh + sb.n_sh - c), 6) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
    tags=("dedup", "extension"),
)
def dedup_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters (connected components by
    min-label propagation, operators/dedup.py). cluster_id = min doc of the
    component — the canonical doc a dedup pipeline keeps. The oracle
    computes the same components via a recursive transitive closure."""
    from frappe_data_pipelines_spark.operators.dedup import connected_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.5)
    return connected_dup_clusters(pairs)


@register(
    "dedup_star_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(c / (sa.n_sh + sb.n_sh - c), 6) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
    tags=("dedup", "extension", "scale-path"),
)
def dedup_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components as ``dedup_dup_clusters`` but via alternating
    large-star/small-star contraction (Kiveris et al., SoCC'14) — O(log n)
    shuffle rounds on ANY pair topology, vs label propagation's
    O(component diameter). This is the variant that survives the
    pathological transitive-near-dup chains a 100 TB crawl produces; same
    recursive-transitive-closure oracle as the propagation query, so the
    driver verifies both algorithms land identical components."""
    from frappe_data_pipelines_spark.operators.dedup import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.5)
    return connected_components_star(pairs)


@register(
    "dedup_canonical_corpus",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 5
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(c / (sa.n_sh + sb.n_sh - c), 6) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), clusters AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    tags=("dedup", "extension", "C2"),
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: corpus after near-dup removal — every
    untouched doc plus one canonical representative (min id) per duplicate
    cluster. At 100 TB this is the filter between raw crawl and training
    corpus; pairs→clusters→anti-join, all relational."""
    from frappe_data_pipelines_spark.operators.dedup import connected_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.5)
    clusters = connected_dup_clusters(pairs)
    dupes_to_drop = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return docs.join(dupes_to_drop, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


@register(
    "text_clean_normalize",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             '  <b>' || text || '</b> ' || chr(9) || 'tail  ' AS raw
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(raw,
             '<[^>]+>', '', 'g'),
             '[\\t\\r\\n]+', ' ', 'g'),
             ' {2,}', ' ', 'g')) AS clean,
           CAST(length(raw) - length(trim(regexp_replace(regexp_replace(regexp_replace(raw,
             '<[^>]+>', '', 'g'),
             '[\\t\\r\\n]+', ' ', 'g'),
             ' {2,}', ' ', 'g'))) AS BIGINT) AS chars_removed
    FROM dirty
    """,
    tags=("text-analysis", "extension"),
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning: strip markup tags, collapse control/whitespace runs,
    trim — the normalization pass before dedup/tokenization (dirty input
    synthesized identically on both engines; the cleaning chain is the
    operator). Pure regexp_replace — whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(F.lit("  <b>"), F.col("text"), F.lit("</b> \t"), F.lit("tail  "))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(raw, "<[^>]+>", ""), "[\\t\\r\\n]+", " "),
            " {2,}", " ",
        )
    )
    return docs.select(
        "doc_id",
        clean.alias("clean"),
        (F.length(raw) - F.length(clean)).cast("bigint").alias("chars_removed"),
    )


@register(
    "pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 192.168.' ||
             (doc_id % 255) || '.1 phone 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
             '\\b\\d{3}-\\d{4,}\\b', '<PHONE>', 'g') AS scrubbed,
           CAST(length(raw) - length(replace(regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
             '\\b\\d{3}-\\d{4,}\\b', '<PHONE>', 'g'), '<', '')) AS BIGINT) / 7 > 0 AS has_pii
    FROM seeded
    """,
    tags=("text-analysis", "extension", "B10"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / IPv4 / phone patterns → typed masks) — the
    redaction pass a compliant training pipeline runs before storage. PII is
    seeded deterministically (same expression both engines); the scrub chain
    is the operator under test."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or 192.168."),
        (F.col("doc_id") % 255).cast("string"), F.lit(".1 phone 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>",
        ),
        "\\b\\d{3}-\\d{4,}\\b", "<PHONE>",
    )
    has_pii = (F.length(raw) - F.length(F.replace(scrubbed, F.lit("<"), F.lit("")))).cast("bigint") / 7 > 0
    return docs.select("doc_id", scrubbed.alias("scrubbed"), has_pii.alias("has_pii"))


@register(
    "doc_winnowed_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i.i AS INT) AS pos,
             CAST(('0x' || substring(md5(array_to_string(t[i.i:i.i+3], ' ')), 1, 15)) AS BIGINT) AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 3, 0))) AS i) i
      WHERE len(t) >= 4
    ), winmin AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM grams
    )
    SELECT doc_id, fp FROM winmin GROUP BY doc_id, fp
    """,
    tags=("dedup", "text-analysis", "extension"),
)
def doc_winnowed_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. MOSS scheme, simplified):
    rolling 4-gram hashes, keep each sliding-window minimum — a document
    sketch robust to insertions/reorderings that whole-doc md5
    (doc_fingerprints) is not. Pure window function over the hash sequence;
    two docs sharing fingerprints are near-dup candidates."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    d = docs.select("doc_id", toks.alias("t"))
    # short docs (< 4 tokens) are dropped by a null-yielding WHEN inside
    # the projection, not a .filter(size(t) >= 4): such a filter is pushed
    # into the scan with the tokenize subtree substituted — a duplicate
    # tokenize pass (r12 plan audit). posexplode(null) yields no rows, so
    # the result is identical.
    idx = F.when(F.size("t") >= 4, F.sequence(F.lit(1), F.size("t") - 3))
    gram = F.transform(idx, lambda i: F.array_join(F.slice(F.col("t"), i, 4), " "))
    grams = d.select("doc_id", F.posexplode(gram).alias("pos0", "g")).select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, Window.currentRow)
    return (
        grams.withColumn("fp", F.min("h").over(w))
        .groupBy("doc_id", "fp")
        .agg(F.lit(1).alias("_one"))
        .select("doc_id", "fp")
    )


@register(
    "winnow_neardup_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i.i AS INT) AS pos,
             CAST(('0x' || substring(md5(array_to_string(t[i.i:i.i+3], ' ')), 1, 15)) AS BIGINT) AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 3, 0))) AS i) i
      WHERE len(t) >= 4
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        FROM grams)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c / least(sa.n_fp, sb.n_fp), 6) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(c / least(sa.n_fp, sb.n_fp), 6) >= 0.5
    """,
    tags=("dedup", "extension"),
)
def winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint containment (shared fps /
    smaller sketch ≥ 0.5) — the MOSS detection step: inverted-index join on
    the SKETCH (orders of magnitude smaller than the shingle set), so the
    candidate join touches a fraction of ngram_jaccard's index."""
    from pyspark.sql.window import Window

    fps = doc_winnowed_fingerprints(spark, sf_dir).cache()
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    common = (
        fps.alias("a")
        .join(fps.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_fp", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_fp", "n_b"), "id_b")
        .withColumn("containment", F.round(F.col("c") / F.least("n_a", "n_b"), 6))
        .filter(F.col("containment") >= 0.5)
        .select("id_a", "id_b", "containment")
    )


@register(
    "pivot_lang_by_source",
    oracle="""
    SELECT source,
           CAST(count(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
           CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
           CAST(count(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
           CAST(count(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
           CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
    FROM documents GROUP BY source
    """,
    tags=("D1", "pivot", "extension"),
)
def pivot_lang_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT to wide format: language distribution per source — the corpus
    composition report. Values enumerated explicitly (never let pivot infer
    its columns with an extra distinct pass at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    out = docs.groupBy("source").pivot("lang", langs).count()
    for c in langs:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("bigint"))
    return out


_NEW_SOURCES = ("src0", "src1")


@register(
    "dedup_incremental_simhash",
    oracle=f"""
    WITH sig AS ({_SIMHASH_SQL}),
    j AS (SELECT s.doc_id, s.simhash, d.source
          FROM sig s JOIN documents d USING (doc_id))
    SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
           CAST(bit_count(xor(n.simhash, c.simhash)) AS INT) AS hamming
    FROM j n, j c
    WHERE n.source IN {_NEW_SOURCES}
      AND c.source NOT IN {_NEW_SOURCES}
      AND bit_count(xor(n.simhash, c.simhash)) <= 3
    """,
    tags=("dedup", "extension"),
)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (operators/dedup.py:simhash_incremental_pairs):
    today's batch (source in src0/src1) against the standing corpus via
    SimHash 4x16-bit band blocking + exact Hamming <= 3 — the nightly
    "dedupe the new crawl against 100 TB" shape. The oracle brute-forces
    all cross pairs; banding is pigeonhole-exact at this threshold, so the
    results must match exactly."""
    from frappe_data_pipelines_spark.operators.dedup import simhash_incremental_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_incremental_pairs(docs, list(_NEW_SOURCES), max_hamming=3)


@register(
    "corpus_mixture_sample",
    oracle="""
    WITH rated AS (
      SELECT doc_id, source,
             CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4') THEN 0.9
                  WHEN source IN ('src5', 'src6', 'src7', 'src8', 'src9') THEN 0.5
                  ELSE 0.2 END AS rate,
             CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS bucket
      FROM documents
    )
    SELECT doc_id, source FROM rated WHERE bucket < rate * 1000
    """,
    tags=("text-analysis", "extension"),
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling — the training-mixture operator: per-source
    sampling rates (high-quality sources oversampled) applied via a salted
    content hash, so the sample is deterministic, re-runnable, and stable
    under repartitioning/appends (no rand(); same stance as dataset_splits).
    At 100 TB this is one scan with a pushed-down CASE predicate."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 0.9)
        .when(F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 0.5)
        .otherwise(0.2)
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary")),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        % 1000
    )
    return docs.select("doc_id", "source").filter(bucket < rate * 1000)


@register(
    "benchmark_decontamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 3
    ), j AS (
      SELECT sh.doc_id, sh.shingle, d.source
      FROM sh JOIN documents d USING (doc_id)
    ), eval_sh AS (
      SELECT DISTINCT shingle FROM j WHERE source = 'src19'
    ), train AS (
      SELECT * FROM j WHERE source <> 'src19'
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM train GROUP BY doc_id
    ), hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM train WHERE shingle IN (SELECT shingle FROM eval_sh)
      GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_shingles, h.n_hit,
           round(h.n_hit * 1.0 / s.n_shingles, 6) AS contamination
    FROM sizes s JOIN hits h USING (doc_id)
    """,
    tags=("text-analysis", "dedup", "extension"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:benchmark_contamination):
    per-training-doc share of 3-gram shingles leaking from the eval set
    (source src19) — broadcast semi-join against the eval shingle set, no
    pair explosion. The standard pre-training hygiene filter."""
    from frappe_data_pipelines_spark.operators.dedup import benchmark_contamination

    docs = load_table(spark, sf_dir, "documents")
    return benchmark_contamination(docs, ["src19"], n=3)


@register(
    "sequence_packing",
    tags=("text-analysis", "extension"),  # rows-only: bin packing is procedural
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): greedy first-fit-decreasing
    fill of 2048-token training sequences, packed independently per hash
    shard — deterministic, linear-scaling. Property tests in
    tests/test_packing.py (partition coverage, budget bound)."""
    from frappe_data_pipelines_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget_tokens=2048, n_shards=32)


@register(
    "text_bpe_trained_tokens",
    tags=("text-analysis", "extension"),  # rows-only: sequential merge fit
)
def text_bpe_trained_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real trained BPE token counts (operators/bpe.py): distributed
    pretoken histogram → deterministic driver-side merge learning (the
    vocab is a small model artifact, like the PQ codebooks) → Arrow-batched
    encode with a Zipfian pretoken LRU. The strict upgrade of
    text_bpe_token_estimate; verified token-exact against a pure-Python
    GPT-2-style encoder in tests/test_bpe.py."""
    from frappe_data_pipelines_spark.operators.bpe import (
        bpe_token_counts,
        pretoken_frequencies,
        train_bpe,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(pretoken_frequencies(docs, max_pretokens=20000), n_merges=192)
    return bpe_token_counts(docs, merges)


@register(
    "sequence_packing_bpe",
    tags=("text-analysis", "extension"),  # rows-only: bin packing is procedural
)
def sequence_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by REAL trained-BPE token counts instead of
    the whitespace estimator — token budgets now mean what the training job
    thinks they mean. Same deterministic per-shard first-fit-decreasing;
    the token-count column is computed upstream and passed through
    pack_sequences' token_count_col hook."""
    from frappe_data_pipelines_spark.operators.bpe import (
        bpe_token_counts,
        pretoken_frequencies,
        train_bpe,
    )
    from frappe_data_pipelines_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(pretoken_frequencies(docs, max_pretokens=20000), n_merges=192)
    counted = docs.join(bpe_token_counts(docs, merges).select("doc_id", "n_tokens"), "doc_id")
    return pack_sequences(
        counted.withColumnRenamed("n_tokens", "bpe_tokens"),
        budget_tokens=2048,
        n_shards=32,
        token_count_col="bpe_tokens",
    )


@register(
    "packing_rebalance_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
           CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS total_tokens
    FROM documents
    """,
    tags=("text-analysis", "extension"),
)
def packing_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservation audit for pack + cross-shard rebalance: every document
    appears in exactly one pack and token mass is preserved through BOTH
    procedural passes (per-shard FFD, then tail merge across shards), so the
    oracle is a direct aggregate over the input corpus. The pack-shape
    invariants (budget bound, at-most-one-half-empty merged pack) live in
    tests/test_packing.py."""
    from frappe_data_pipelines_spark.operators.packing import (
        pack_sequences,
        rebalance_tail_packs,
    )

    docs = load_table(spark, sf_dir, "documents")
    packs = rebalance_tail_packs(pack_sequences(docs, budget_tokens=2048, n_shards=32))
    return packs.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
    )


@register(
    "corpus_mixture_upsample",
    oracle="""
    WITH rated AS (
      SELECT doc_id, source,
             CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4') THEN 2.5
                  WHEN source IN ('src5', 'src6', 'src7', 'src8', 'src9') THEN 1.0
                  ELSE 0.25 END AS rate,
             CAST(('0x' || substring(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS bucket
      FROM documents
    ), counted AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS INT)
               + CASE WHEN bucket < (rate - floor(rate)) * 1000 THEN 1 ELSE 0 END AS n_copies
      FROM rated
    )
    SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_idx
    FROM counted WHERE n_copies > 0
    """,
    tags=("text-analysis", "extension"),
)
def corpus_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture with UPSAMPLING: rates > 1 replicate high-quality
    sources (epochs-per-source), fractional parts resolved by salted hash —
    deterministic replication without rand() or a shuffle: floor(rate)
    copies plus one more iff the doc's hash bucket falls under the
    fractional mass; copies materialize via sequence()+explode."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 2.5)
        .when(F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 1.0)
        .otherwise(0.25)
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("up:"), F.col("doc_id").cast("string")).cast("binary")),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        % 1000
    )
    n_copies = (
        F.floor(rate).cast("int")
        + F.when(bucket < (rate - F.floor(rate)) * 1000, 1).otherwise(0)
    )
    return (
        docs.select("doc_id", "source", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id", "source",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("int"))
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting (data selection; operators/selection.py)
# ---------------------------------------------------------------------------

_DSIR_WEIGHTS_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
    ), feats AS (
      SELECT doc_id, lang = 'en' AS is_target,
             unnest(t || list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> t[i] || ' ' || t[i+1])) AS f
      FROM toks WHERE len(t) > 0
    ), tf AS (
      SELECT doc_id, is_target, f, CAST(count(*) AS BIGINT) AS tf
      FROM feats GROUP BY 1, 2, 3
    ), dict AS (
      SELECT f, SUM(tf) AS c_raw,
             COALESCE(SUM(tf) FILTER (WHERE is_target), 0) AS c_tgt
      FROM tf GROUP BY f
    ), stats AS (
      SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt, COUNT(*) AS v FROM dict
    ), scored AS (
      SELECT f, CAST(round(ln((c_tgt + 1.0) / (n_tgt + v))
                         - ln((c_raw + 1.0) / (n_raw + v)), 6)
                     AS DECIMAL(18,6)) AS lr
      FROM dict CROSS JOIN stats
    )
    SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_features,
           round(CAST(SUM(CAST(tf.tf AS DECIMAL(10,0)) * scored.lr) AS DOUBLE), 6) AS dsir_weight
    FROM tf JOIN scored USING (f)
    GROUP BY tf.doc_id
"""


@register(
    "dsir_importance_weights",
    oracle=_DSIR_WEIGHTS_SQL,
    tags=("data-selection", "extension"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al., NeurIPS 2023) importance weights: log-likelihood
    ratio of target (lang='en') vs raw unigram+bigram distributions with
    Laplace smoothing — the published data-selection estimator, as a pure
    word-count-shaped relational plan (two feature aggregates + one
    dictionary join; decimal-summed so the result is partition-invariant).
    operators/selection.py; scale path hashes features into 2^k buckets."""
    from frappe_data_pipelines_spark.operators.selection import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(docs, F.col("lang") == "en")


@register(
    "dsir_selected_corpus",
    oracle=f"""
    WITH w AS ({_DSIR_WEIGHTS_SQL})
    SELECT doc_id, n_features, dsir_weight FROM w
    ORDER BY dsir_weight DESC, doc_id ASC LIMIT 100
    """,
    tags=("data-selection", "extension"),
)
def dsir_selected_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection end product: top-100 documents by DSIR weight
    (deterministic tie-break) — the subset a pre-training run would keep.
    Top-k is DSIR's deterministic selection variant; the paper's Gumbel
    resampling adds noise an oracled pipeline can't reproduce."""
    from frappe_data_pipelines_spark.operators.selection import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    return dsir_select(docs, F.col("lang") == "en", k=100)


# ---------------------------------------------------------------------------
# CCNet-style LM perplexity buckets (operators/selection.py)
# ---------------------------------------------------------------------------

_LM_BUCKETS_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
    ), words AS (
      SELECT doc_id, lang, unnest(t) AS w FROM toks WHERE len(t) > 0
    ), tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM words GROUP BY 1, 2
    ), ref AS (
      SELECT tf.w, SUM(tf.tf) AS c
      FROM tf JOIN (SELECT doc_id FROM documents WHERE lang = 'en') r USING (doc_id)
      GROUP BY tf.w
    ), stats AS (
      SELECT SUM(c) AS n_ref, COUNT(*) AS v FROM ref
    ), scored AS (
      SELECT tf.doc_id, tf.tf,
             CAST(round(ln((COALESCE(ref.c, 0) + 1.0) / (stats.n_ref + stats.v)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM tf LEFT JOIN ref USING (w) CROSS JOIN stats
    ), per_doc AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(tf AS DECIMAL(10,0)) * lp) AS DOUBLE) / SUM(tf), 6)
               AS lm_score
      FROM scored GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, n_tokens, lm_score,
             ntile(3) OVER (ORDER BY lm_score DESC, doc_id ASC) AS b
      FROM per_doc
    )
    SELECT doc_id, n_tokens, lm_score,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
    FROM ranked
"""


@register(
    "lm_perplexity_buckets",
    oracle=_LM_BUCKETS_SQL,
    tags=("text-analysis", "quality", "extension"),
)
def lm_perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): unigram LM
    word-counted from the English reference slice, every document scored
    by average token log-prob (add-one smoothing, OOV included), corpus
    cut into head/middle/tail perplexity terciles by a deterministic
    ranked ntile. The classic pretraining-corpus quality signal, as two
    shuffles and a window."""
    from frappe_data_pipelines_spark.operators.selection import lm_perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return lm_perplexity_buckets(docs, F.col("lang") == "en")


# ---------------------------------------------------------------------------
# Moore-Lewis cross-entropy-difference selection (operators/selection.py)
# ---------------------------------------------------------------------------

_ML_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
    ), words AS (
      SELECT doc_id, lang, unnest(t) AS w FROM toks WHERE len(t) > 0
    ), tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM words GROUP BY 1, 2
    ), ref_in AS (
      SELECT tf.w, SUM(tf.tf) AS c
      FROM tf JOIN (SELECT doc_id FROM documents WHERE lang = 'en') r USING (doc_id)
      GROUP BY tf.w
    ), st_in AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM ref_in),
    ref_out AS (
      SELECT tf.w, SUM(tf.tf) AS c
      FROM tf JOIN (SELECT doc_id FROM documents WHERE lang <> 'en') r USING (doc_id)
      GROUP BY tf.w
    ), st_out AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM ref_out),
    d_in AS (
      SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
               CAST(round(ln((COALESCE(ref_in.c, 0) + 1.0) / (st_in.n + st_in.v)), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) / SUM(tf), 6) AS lm_in
      FROM tf LEFT JOIN ref_in USING (w) CROSS JOIN st_in
      GROUP BY tf.doc_id
    ), d_out AS (
      SELECT tf.doc_id,
             round(CAST(SUM(CAST(tf AS DECIMAL(10,0)) *
               CAST(round(ln((COALESCE(ref_out.c, 0) + 1.0) / (st_out.n + st_out.v)), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) / SUM(tf), 6) AS lm_out
      FROM tf LEFT JOIN ref_out USING (w) CROSS JOIN st_out
      GROUP BY tf.doc_id
    )
    SELECT d_in.doc_id, n_tokens, lm_in, lm_out,
           round(lm_out - lm_in, 6) AS ce_diff,
           round(lm_out - lm_in, 6) < 0.0 AS selected
    FROM d_in JOIN d_out ON d_in.doc_id = d_out.doc_id
"""


@register(
    "moore_lewis_selection",
    oracle=_ML_SQL,
    tags=("data-selection", "quality", "extension"),
)
def moore_lewis_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis cross-entropy-difference selection (Moore & Lewis
    2010): unigram LMs word-counted from the English (in-domain) and
    non-English (general) slices, every document scored by
    H_in - H_out = lm_out - lm_in, selected when below 0 — the classic
    domain-adaptation data filter, as three shuffles over one shared tf
    relation. Complements DSIR (importance weights) and the CCNet
    perplexity buckets in the selection toolbox."""
    from frappe_data_pipelines_spark.operators.selection import moore_lewis_scores

    docs = load_table(spark, sf_dir, "documents")
    return moore_lewis_scores(docs, F.col("lang") == "en")


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (operators/selection.py)
# ---------------------------------------------------------------------------

_KN_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
    ), pairs AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                                   i -> struct_pack(u := t[i], w := t[i+1]))) AS p
      FROM toks WHERE len(t) >= 2
    ), tfb AS (
      SELECT doc_id, lang, p.u AS u, p.w AS w, CAST(count(*) AS BIGINT) AS tf
      FROM pairs GROUP BY 1, 2, 3, 4
    ), bi AS (
      SELECT u, w, CAST(SUM(tf) AS BIGINT) AS c
      FROM tfb WHERE lang = 'en' GROUP BY u, w
    ), ctx AS (
      SELECT u, CAST(SUM(c) AS BIGINT) AS c_u, CAST(COUNT(*) AS BIGINT) AS n1p_u
      FROM bi GROUP BY u
    ), cont AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w FROM bi GROUP BY w
    ), st AS (
      SELECT (SELECT COUNT(*) FROM bi) AS b, (SELECT COUNT(*) FROM cont) AS v
    ), scored AS (
      SELECT doc_id, tf,
             CAST(round(ln(CASE WHEN COALESCE(c_u, 0) > 0
               THEN (greatest(CAST(COALESCE(c, 0) AS DOUBLE) - 0.75, 0.0)
                     + 0.75 * n1p_u * ((COALESCE(n1p_w, 0) + 1.0) / (b + v + 1.0)))
                    / c_u
               ELSE (COALESCE(n1p_w, 0) + 1.0) / (b + v + 1.0) END), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM tfb
      LEFT JOIN bi USING (u, w)
      LEFT JOIN ctx USING (u)
      LEFT JOIN cont USING (w)
      CROSS JOIN st
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_transitions,
           round(CAST(SUM(CAST(tf AS DECIMAL(10,0)) * lp) AS DOUBLE) / SUM(tf), 6)
             AS kn_score
    FROM scored GROUP BY doc_id
"""


@register(
    "kneser_ney_bigram_lm",
    oracle=_KN_SQL,
    tags=("data-selection", "quality", "extension"),
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM quality scoring (Kneser & Ney
    1995 / Chen & Goodman 1998): the canonical bigram member of the
    modified-KN family that CCNet's production KenLM filter uses
    (Wenzek et al. 2020; Heafield 2011). Trains on the English slice —
    absolute-discount bigram probabilities interpolated with the
    continuation distribution ("how many contexts does w follow"), the
    statistic that defeats repeated-boilerplate corpora fooling plain
    frequency LMs — and scores every document's average transition
    log-prob. Three word-count shuffles to train, three dictionary
    joins to score; round(·,6) DECIMAL transition terms keep the
    per-doc sum associative and hash-stable vs the oracle."""
    from frappe_data_pipelines_spark.operators.selection import (
        kneser_ney_bigram_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return kneser_ney_bigram_scores(docs, F.col("lang") == "en")


def _kn_cache_dir(sf_dir: str) -> str:
    """Cache location for the persisted KN bigram LM — keyed per sf_dir
    AND the source table's size+mtime (VERDICT r12 item 8) so correctness
    and bench runs never share an LM and replaced testdata forces a
    rebuild (same convention as the suffix-index and SQ8 caches)."""
    import hashlib
    import os
    import tempfile

    from frappe_data_pipelines_spark.sources.tables import source_stat_key

    key = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}|kn-bigram|v1"
        f"|{source_stat_key(sf_dir, 'documents')}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"fdp_kn_lm_{key}")


_KN_CTX_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents WHERE lang = 'en'
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                                   i -> struct_pack(u := t[i], w := t[i+1]))) AS p
      FROM toks WHERE len(t) >= 2
    ), tfb AS (
      SELECT doc_id, p.u AS u, p.w AS w, CAST(count(*) AS BIGINT) AS tf
      FROM pairs GROUP BY 1, 2, 3
    ), bi AS (
      SELECT u, w, CAST(SUM(tf) AS BIGINT) AS c
      FROM tfb GROUP BY u, w
    )
    SELECT u, CAST(SUM(c) AS BIGINT) AS c_u, CAST(COUNT(*) AS BIGINT) AS n1p_u
    FROM bi GROUP BY u
"""


@register(
    "kn_lm_build",
    oracle=_KN_CTX_SQL,
    tags=("data-selection", "quality", "extension", "scale-path"),
)
def kn_lm_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD half of the Kneser-Ney build/serve split
    (operators/selection.py:kn_write): train the bigram LM on the
    English slice, persist the three dictionaries + stats sidecar.
    Always rebuilds (the cost being measured — bench's BUILD_TIER row).
    Returns the context dictionary read back FROM DISK, which the
    oracle re-derives from raw documents — so what's persisted is
    value-checked bit-for-bit (counts are exact integers; the
    sq_index_build pattern)."""
    import os

    from frappe_data_pipelines_spark.operators.selection import kn_write

    docs = load_table(spark, sf_dir, "documents")
    path = _kn_cache_dir(sf_dir)
    kn_write(docs, F.col("lang") == "en", path)
    return spark.read.schema("u string, c_u bigint, n1p_u bigint").parquet(
        os.path.join(path, "ctx")
    )


@register(
    "kneser_ney_cached",
    oracle=_KN_SQL,
    tags=("data-selection", "quality", "extension", "scale-path"),
)
def kneser_ney_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY half of the KN split (operators/selection.py:
    kn_read_score): score the corpus against the PERSISTED bigram LM —
    one bigram-tf aggregate over the scoring docs plus three dictionary
    joins; no training shuffles, no reference-slice scan, (B, V) as
    sidecar literals. SAME oracle as ``kneser_ney_bigram_lm``, so the
    gate proves persisted == from-scratch on the full per-document
    score relation (the suffix-index family's cached==uncached
    pattern). Builds on a cold cache (first call after ``kn_lm_build``
    is always warm)."""
    import os

    from frappe_data_pipelines_spark.operators.selection import (
        kn_read_score,
        kn_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = _kn_cache_dir(sf_dir)
    if not os.path.isfile(os.path.join(path, "_kn_meta.json")):
        kn_write(docs, F.col("lang") == "en", path)
    return kn_read_score(spark, docs, path)


# ---------------------------------------------------------------------------
# UniMax language-budget water-filling (operators/selection.py)
# ---------------------------------------------------------------------------

_UNIMAX_SQL = f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
      HAVING SUM(len({_SQL_TOKS})) > 0
    ), capped AS (
      SELECT lang, n_docs, n_tokens,
             CAST(2 * n_tokens AS BIGINT) AS cap_tokens
      FROM counts
    ), ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY cap_tokens ASC, lang ASC) AS i,
             COALESCE(SUM(cap_tokens) OVER (
               ORDER BY cap_tokens ASC, lang ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS presum,
             COUNT(*) OVER () AS n
      FROM capped
    ), sat AS (
      SELECT *, cap_tokens * (n - i + 1) <= 40000 - presum AS saturated
      FROM ranked
    ), lev AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN saturated THEN cap_tokens END) OVER (), 0)
               AS sat_sum,
             SUM(CASE WHEN saturated THEN 0 ELSE 1 END) OVER () AS n_unsat
      FROM sat
    )
    SELECT lang, n_docs, n_tokens, cap_tokens,
           round(CASE WHEN saturated THEN CAST(cap_tokens AS DOUBLE)
                      ELSE CAST(40000 - sat_sum AS DOUBLE) / n_unsat END, 6)
             AS budget_tokens,
           round((CASE WHEN saturated THEN CAST(cap_tokens AS DOUBLE)
                       ELSE CAST(40000 - sat_sum AS DOUBLE) / n_unsat END)
                 / n_tokens, 6) AS epochs
    FROM lev
"""


@register(
    "unimax_language_budgets",
    oracle=_UNIMAX_SQL,
    tags=("data-selection", "mixture", "extension"),
)
def unimax_language_budgets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023): water-fill a
    40k-token training budget across languages under a 2-epoch cap —
    small corpora receive their full repeated size, the rest split the
    remainder equally. The saturation predicate is pure integer
    arithmetic (cap·remaining <= budget−prefix), so the allocation is
    cross-engine exact; the only shuffle is the per-language token
    count, after which every window runs over one row per language."""
    from frappe_data_pipelines_spark.operators.selection import (
        unimax_language_budgets,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unimax_language_budgets(docs, total_budget=40_000, max_epochs=2)


# ---------------------------------------------------------------------------
# Corpus statistics: Zipf rank-frequency fit
# ---------------------------------------------------------------------------

_ZIPF_SQL = f"""
    WITH tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
      GROUP BY w
    ), top AS (
      SELECT w, c FROM tf ORDER BY c DESC, w ASC LIMIT 1000
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rank FROM top
    ), xy AS (
      SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM ranked
    ), s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*y) AS sxy, sum(x*x) AS sxx
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / n, 6) AS zipf_intercept
    FROM s
"""


@register("token_zipf_fit", oracle=_ZIPF_SQL, tags=("text-analysis", "extension"))
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS slope/intercept
    of ln(freq) over ln(rank) for the top-1000 terms — the standard sanity
    statistic for a pre-training mix (natural text ≈ -1 slope; scrape loops
    and template spam bend it).

    Scale shape: term frequencies are one map-side-combined groupBy; the
    global ordering problem is bounded by taking top-1000 FIRST
    (TakeOrderedAndProject heap, no full sort) so the rank window runs
    over ≤1000 rows. ln terms are round(·,6)-ed then accumulated in exact
    DECIMAL, so the regression is bit-identical to the oracle under any
    partitioning."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    from frappe_data_pipelines_spark.operators.guards import bounded_window_key

    top = tf.orderBy(F.col("c").desc(), F.col("w").asc()).limit(1000)
    # the rank window's input is the ≤1000-row TakeOrderedAndProject pool —
    # bounded_window_key declares that bounded single partition
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(bounded_window_key("w")).orderBy(
                F.col("c").desc(), F.col("w").asc()
            )
        ),
    )
    d6 = "decimal(18,6)"
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 6).cast(d6).alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6).cast(d6).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n"), 6).alias("zipf_intercept"),
    )


_VOCAB_GROWTH_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), tok AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> t[i] || ' ' || t[i+1])) AS w
      FROM toks WHERE len(t) >= 2
    ), bounds AS (
      SELECT max(doc_id) + 1 AS m FROM documents
    ), first_seen AS (
      SELECT w, min(doc_id) AS fs FROM tok GROUP BY w
    ), bucketed AS (
      SELECT least(9, CAST(floor(fs * 10.0 / (SELECT m FROM bounds)) AS BIGINT)) AS decile,
             count(*) AS new_terms
      FROM first_seen GROUP BY 1
    )
    SELECT decile,
           CAST(new_terms AS BIGINT) AS new_terms,
           CAST(sum(new_terms) OVER (ORDER BY decile) AS BIGINT) AS vocab_size
    FROM bucketed
"""


@register("vocab_growth_curve", oracle=_VOCAB_GROWTH_SQL, tags=("text-analysis", "extension"))
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct BIGRAM count as the corpus is
    consumed in doc_id order, sampled at deciles (bigrams because the
    synthetic corpus's unigram vocabulary saturates in the first docs). Computed without any
    ordered scan: each token's FIRST-occurrence doc (one map-side-combined
    min-aggregate) is bucketed into deciles, and the running sum over ten
    bucket rows is the growth curve — the cumulative window touches 10
    rows, never the corpus. Sub-linear growth is the healthy-corpus
    signature; near-linear growth flags id-like token spam."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg((F.max("doc_id") + 1).alias("m"))
    toks = tokens_expr(F.col("text"))
    heads = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    bigrams = F.zip_with(heads, tails, lambda a, b: F.concat(a, F.lit(" "), b))
    first_seen = (
        docs.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigrams).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fs"))
    )
    bucketed = (
        first_seen.crossJoin(F.broadcast(m))
        .select(
            F.least(
                F.lit(9),
                F.floor(F.col("fs") * 10.0 / F.col("m")).cast("bigint"),
            ).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("new_terms"))
    )
    from frappe_data_pipelines_spark.operators.guards import bounded_window_key

    # ≤10 decile rows — bounded by construction
    w = (
        Window.partitionBy(bounded_window_key("decile"))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return bucketed.select(
        "decile",
        F.col("new_terms").cast("bigint").alias("new_terms"),
        F.sum("new_terms").over(w).cast("bigint").alias("vocab_size"),
    )


# ---------------------------------------------------------------------------
# Temperature-based language sampling (operators/selection.py) — the
# pre-UniMax multilingual mixing standard (XLM-R alpha=0.3, mT5)
# ---------------------------------------------------------------------------

_TEMP_MIX_SQL = f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
      HAVING SUM(len({_SQL_TOKS})) > 0
    ), pw AS (
      SELECT *, CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.3), 6)
                     AS DECIMAL(28,6)) AS qpow
      FROM counts
    ), tot AS (
      SELECT CAST(SUM(qpow) AS DOUBLE) AS zt,
             CAST(SUM(n_tokens) AS DOUBLE) AS total
      FROM pw
    )
    SELECT lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / total, 6) AS share_natural,
           round(CAST(qpow AS DOUBLE) / zt, 6) AS share_temperature,
           round((CAST(qpow AS DOUBLE) / zt)
                 / (CAST(n_tokens AS DOUBLE) / total), 6) AS boost
    FROM pw, tot
"""


@register(
    "temperature_language_mixture",
    oracle=_TEMP_MIX_SQL,
    tags=("data-selection", "mixture", "extension"),
)
def temperature_language_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling q_l ∝ n_l^0.3 (XLM-R / mT5): the flattened
    language distribution plus per-language boost factor (q_l/p_l) a
    mixture executor applies. Complements ``unimax_language_budgets``
    (the fix for temperature sampling's failure modes) so an engine user
    can run either policy. pow() rounded to 6 decimals per language and
    summed in DECIMAL — the partition function is summation-order exact."""
    from frappe_data_pipelines_spark.operators.selection import (
        temperature_mixture_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_weights(docs, alpha=0.3)


@register(
    "char_entropy_signal",
    oracle="""
    WITH ch AS (
      SELECT doc_id, substr(text, CAST(i.i AS INT), 1) AS c
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, len(text))) AS i) i
      WHERE len(text) > 0
    ), f AS (
      SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
    ), n AS (
      SELECT doc_id, sum(k) AS n FROM f GROUP BY 1
    )
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(-sum((k / n) * ln(k / n)), 6) AS char_entropy_nats
    FROM f JOIN n USING (doc_id)
    GROUP BY f.doc_id
    """,
    tags=("text-analysis", "extension"),
)
def char_entropy_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram character entropy per document — the information-density
    quality signal corpus pipelines use to catch keyboard-mash, repeated
    padding, and base64-ish blobs (low or anomalously high entropy;
    Dolma's unigram-entropy filter family). Two hash aggregations on
    (doc_id, char) then doc_id — no window, no Python; entropy in nats,
    round(·, 6) so the cross-engine double-addition-order jitter (~1e-15)
    can't flip a hash. Empty docs are excluded (entropy undefined)."""
    docs = load_table(spark, sf_dir, "documents")
    ch = (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substring(text, i, 1)").alias("c"))
    )
    f = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    n = f.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k") / F.col("n")
    return (
        f.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct_chars"),
            F.round(-F.sum(p * F.log(p)), 6).alias("char_entropy_nats"),
        )
    )
