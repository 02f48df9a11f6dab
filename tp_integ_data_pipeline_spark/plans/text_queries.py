"""Text-analysis (X4) and multimodal (X5) queries over `documents`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.multimodal import (
    attach_payload,
    decode_batch,
    frame_sample,
    payload_meta,
)
from tp_integ_data_pipeline_spark.operators.text import (
    bpe_ish_token_count,
    char_ngrams,
    fingerprint,
    quality_score,
    stopword_count,
    token_count,
)
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


@query(
    "q55_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))) AS BIGINT)
               AS total_stopwords
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q55_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count()).cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(stopword_count()).cast("long").alias("total_stopwords"),
        )
        .orderBy("lang")
    )


@query(
    "q56_lang_id_confusion",
    oracle="""
    WITH grams AS (
        SELECT d.lang, substr(d.text, i, 3) AS gram
        FROM documents d, UNNEST(range(1, greatest(len(d.text) - 1, 1))) AS u(i)
    ),
    prof AS (
        SELECT lang, gram FROM (
            SELECT lang, gram,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, gram) AS rn
            FROM grams GROUP BY lang, gram
        ) WHERE rn <= 20
    ),
    doc_grams AS (
        SELECT DISTINCT d.doc_id, substr(d.text, i, 3) AS gram
        FROM documents d, UNNEST(range(1, greatest(len(d.text) - 1, 1))) AS u(i)
    ),
    scores AS (
        SELECT g.doc_id, p.lang, COUNT(*) AS score
        FROM doc_grams g JOIN prof p ON g.gram = p.gram
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, lang AS predicted_lang FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT d.lang AS true_lang, COALESCE(b.predicted_lang, 'und') AS predicted_lang,
           COUNT(*) AS n
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q56_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused profile-build + self-classification (one gram explode for
    # both, operators/text.lang_profile_and_id) — the separate
    # lang_profiles/lang_id operators remain for offline-profile use.
    from tp_integ_data_pipeline_spark.operators.text import lang_profile_and_id

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pred = lang_profile_and_id(docs, k=3, top_n=20)
    return (
        docs.select(F.col("doc_id").alias("id"), F.col("lang").alias("true_lang"))
        .join(pred, "id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "predicted_lang")
    )


@query(
    "q57_fingerprint",
    oracle="""
    WITH g AS (
        SELECT doc_id, substr(text, i, 8) AS gram
        FROM documents, UNNEST(range(1, greatest(len(text) - 6, 1))) AS u(i)
    ),
    fp AS (
        SELECT doc_id, MIN(md5(gram)) AS fp, CAST(COUNT(DISTINCT gram) AS INT) AS n_shingles
        FROM g GROUP BY doc_id
    )
    SELECT d.doc_id, f.fp, CAST(COALESCE(f.n_shingles, 0) AS INT) AS n_shingles
    FROM documents d LEFT JOIN fp f ON d.doc_id = f.doc_id
    ORDER BY d.doc_id
    """,
)
def q57_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode + map-side-combined min/count beats the array-transform
    # form (operators.text.fingerprint) ~1.6×: md5 runs inside
    # whole-stage codegen instead of the interpreted higher-order
    # lambda. Left join keeps shingle-less (short) docs with null fp.
    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(char_ngrams("text", k=8))).alias("g")
    )
    fp = grams.groupBy("doc_id").agg(
        F.min(F.md5("g")).alias("fp"), F.count(F.lit(1)).cast("int").alias("n")
    )
    return (
        docs.select("doc_id")
        .join(fp, "doc_id", "left")
        .select("doc_id", "fp", F.coalesce("n", F.lit(0)).alias("n_shingles"))
        .orderBy("doc_id")
    )


@query(
    "q58_quality_buckets",
    oracle="""
    SELECT CAST(floor((0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
                 + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / CAST(len(string_split(text, ' ')) AS DOUBLE))
                 + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                                     t -> t IN ('a', 'the'))) AS DOUBLE)
                                / CAST(len(string_split(text, ' ')) AS DOUBLE))) * 10) AS INT)
               AS bucket,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def q58_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.floor(quality_score() * 10).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@query(
    "q59_token_counts",
    oracle="""
    SELECT lang,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|\\S'))) AS BIGINT)
               AS total_bpe_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q59_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(token_count()).cast("long").alias("total_ws_tokens"),
            F.sum(bpe_ish_token_count()).cast("long").alias("total_bpe_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Multimodal (X5)
# ---------------------------------------------------------------------------


@query(
    "q65_payload_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    ORDER BY doc_id
    """,
)
def q65_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return payload_meta(attach_payload(docs)).select("doc_id", "n_bytes", "digest").orderBy("doc_id")


@query(
    "q66_decode_stub",
    # Text payloads are not BMP/WAV, so the decode takes the documented
    # deterministic fallback (fmt='other'); the real BMP/WAV header
    # parse in the same mapInPandas path is pytest-covered with
    # constructed payload bytes (tests/test_text_multimodal.py).
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
           CAST(octet_length(encode(text)) // 1000 + 1 AS INT) AS n_frames,
           'other' AS fmt,
           md5(text) AS digest
    FROM documents
    ORDER BY doc_id
    """,
)
def q66_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    return decode_batch(docs).orderBy("doc_id")


@query(
    "q67_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST((greatest(octet_length(encode(text)), 1) - 1) // 1024 + 1 AS INT) AS n_frames
    FROM documents
    ORDER BY doc_id
    """,
)
def q67_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    return frame_sample(docs).select("doc_id", "n_frames").orderBy("doc_id")


# --------------------------------------------------------------------------
# q121 — canonicalize-then-dedup (normalization-robust exact dedup)
# --------------------------------------------------------------------------
@query(
    "q121_canonical_dedup",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g')) AS ctext
        FROM documents
    ),
    g AS (SELECT ctext, COUNT(*) AS c, MIN(doc_id) AS keeper FROM canon GROUP BY ctext)
    SELECT COUNT(*) AS n_distinct,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(c - 1) AS BIGINT) AS n_duplicates,
           CAST(MAX(c) AS BIGINT) AS max_group,
           CAST(SUM(keeper) AS BIGINT) AS keeper_checksum
    FROM g
    """,
)
def q121_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the CANONICAL text form (lowercase, punctuation
    and whitespace jitter removed — operators/text.canonical_text):
    the normalize-then-hash step production dedup runs before any
    hashing, so 'Hello,  World!' and 'hello world' collapse. Reports
    the dup profile plus a keeper-id checksum proving the min-id
    canonical choice, all from ONE canonical-key shuffle."""
    from tp_integ_data_pipeline_spark.operators.text import canonical_text

    docs = load_table(spark, sf_dir, "documents")
    canon = docs.select("doc_id", canonical_text("text").alias("ctext"))
    g = canon.groupBy("ctext").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keeper")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum(F.col("c") - 1).cast("long").alias("n_duplicates"),
        F.max("c").cast("long").alias("max_group"),
        F.sum("keeper").cast("long").alias("keeper_checksum"),
    )
