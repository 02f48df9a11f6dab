"""Text-analysis (X4) and multimodal (X5) queries over `documents`:
text statistics and quality signals, inverted-index and BM25 search,
image and audio payload analysis, and a Python UDTF tokenizer."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from tp_integ_data_pipeline_spark.operators.dedup import LINE_W, segment_blocks
from tp_integ_data_pipeline_spark.operators.multimodal import (
    attach_payload,
    decode_batch,
    frame_sample,
    payload_meta,
)
from tp_integ_data_pipeline_spark.operators.search import bm25_topk, postings, search_all_terms
from tp_integ_data_pipeline_spark.operators.text import (
    bpe_ish_token_count,
    char_ngrams,
    quality_score,
    stopword_count,
    token_count,
    tokens,
    word_ngrams,
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


# --------------------------------------------------------------------------
# q161 — inverted-index conjunctive keyword search
# --------------------------------------------------------------------------
_SEARCH_TERMS = ["join", "filter"]


@query(
    "q161_inverted_search",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE list_contains(string_split(text, ' '), '{_SEARCH_TERMS[0]}')
      AND list_contains(string_split(text, ' '), '{_SEARCH_TERMS[1]}')
    ORDER BY doc_id
    """,
)
def q161_inverted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-search for documents containing all query terms THROUGH the
    inverted index (operators/search.py): the engine filters the
    posting relation to the m terms and intersects with one doc-keyed
    aggregate — cost tracks the terms' posting lengths, not corpus
    size — while the oracle rescans every document's text. The
    hash-match proves the index path returns exactly the rescan's
    answer."""
    docs = load_table(spark, sf_dir, "documents")
    post = postings(docs, "doc_id", "text")
    hits = search_all_terms(post, _SEARCH_TERMS, id_col="id")
    return (
        hits.join(docs, hits["id"] == docs["doc_id"])
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q164 — BM25 ranked retrieval over the document corpus
# --------------------------------------------------------------------------
_BM25_TERMS = ["join", "filter", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "q164_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tfs AS (
        SELECT token, id, COUNT(*) AS tf FROM toks
        WHERE token IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}', '{_BM25_TERMS[2]}')
          AND token <> ''
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tfs GROUP BY 1),
    dls AS (
        SELECT doc_id AS id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
        FROM documents
    ),
    n_avg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dls)
    SELECT id, ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * ((1.0 - {_BM25_B}) + {_BM25_B} * dl / avgdl))
           ), 6) AS score
    FROM tfs JOIN dfreq USING (token) JOIN dls USING (id) CROSS JOIN n_avg
    GROUP BY id
    ORDER BY score DESC, id
    LIMIT 20
    """,
)
def q164_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed bag of query terms —
    ranked retrieval (Robertson-Spärck Jones), the quality step above
    q161's boolean AND search. The engine path (operators/search.
    bm25_topk) scores ONLY the query terms' postings (filter before
    any join); N/avgdl ride a 1-row broadcast; the cut is
    TakeOrderedAndProject. Score rounded to 6 dp before the cut (the
    q130 libm-ULP rule; BM25 scores are strictly positive, so no -0.0
    trap). The oracle recomputes the identical formula from raw text."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)


# --------------------------------------------------------------------------
# q174 — image perceptual-hash near-dup pairs (multimodal dedup)
# --------------------------------------------------------------------------
# Rows-only by design: the payload synthesis + pixel decode + dHash run
# in Arrow mapInPandas (not SQL-expressible); the hard checks are
# tests/test_text_multimodal.py's dHash goldens (planted near-identical
# and distinct images, hamming bounds) and the banded-pair machinery is
# the SAME hash-checked path text SimHash (q43) exercises.
@query("q174_image_dhash_pairs")
def q174_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: deterministic synthetic BMP corpus (ids
    sharing a residue render near-identical images — the fixture media
    this sandbox lacks), REAL pixel decode -> 64-bit dHash -> the
    generic hamming_pairs banded join (shared with text SimHash q43).
    Returns (a, b, hamming) for visually-duplicate image pairs plus
    per-pair group agreement as the self-audit column."""
    from tp_integ_data_pipeline_spark.operators.dedup import hamming_pairs
    from tp_integ_data_pipeline_spark.operators.multimodal import (
        image_dhash,
        synth_bmp_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    payloads = synth_bmp_payload(docs, "doc_id", group_mod=250)
    sigs = image_dhash(payloads, "doc_id")
    pairs = hamming_pairs(sigs, "dhash", max_hamming=3, id_col="doc_id")
    return pairs.select(
        "a",
        "b",
        "hamming",
        (F.col("a") % 250 == F.col("b") % 250).alias("same_group"),
    ).orderBy("a", "b")


# --------------------------------------------------------------------------
# q183 — Gopher-style intra-document repetition signals
# --------------------------------------------------------------------------
@query(
    "q183_repetition_signals",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    b AS (
        SELECT doc_id, array_to_string(w[i:i+{LINE_W - 1}], ' ') AS line
        FROM t, UNNEST(range(1, greatest(len(w), 1) + 1, {LINE_W})) AS u(i)
    ),
    lc AS (SELECT doc_id, line, COUNT(*) AS c FROM b GROUP BY 1, 2),
    lstat AS (
        SELECT doc_id, SUM(c) AS n_lines,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_lines
        FROM lc GROUP BY 1
    ),
    bg AS (
        SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        FROM t, UNNEST(range(1, greatest(len(w), 1))) AS u(i)
    ),
    bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bstat AS (SELECT doc_id, SUM(c) AS m2, MAX(c) AS cmax FROM bgc GROUP BY 1),
    tg AS (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        FROM t, UNNEST(range(1, greatest(len(w) - 1, 1))) AS u(i)
    ),
    tgc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
    tstat AS (
        SELECT doc_id, SUM(c) AS m3,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3
        FROM tgc GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(l.n_lines AS BIGINT) AS n_lines,
           ROUND(CASE WHEN l.n_lines = 0 THEN 0 ELSE l.dup_lines * 1.0 / l.n_lines END, 6) AS dup_line_frac,
           ROUND(CASE WHEN b.m2 = 0 THEN 0 ELSE b.cmax * 1.0 / b.m2 END, 6) AS top_bigram_frac,
           ROUND(CASE WHEN s.m3 = 0 THEN 0 ELSE s.dup3 * 1.0 / s.m3 END, 6) AS dup_trigram_frac,
           CAST(CASE WHEN (CASE WHEN l.n_lines = 0 THEN 0 ELSE l.dup_lines * 1.0 / l.n_lines END) > 0.30
                       OR (CASE WHEN b.m2 = 0 THEN 0 ELSE b.cmax * 1.0 / b.m2 END) > 0.05
                       OR (CASE WHEN s.m3 = 0 THEN 0 ELSE s.dup3 * 1.0 / s.m3 END) > 0.20
                THEN 1 ELSE 0 END AS INT) AS flagged
    FROM documents d
    JOIN lstat l USING (doc_id) JOIN bstat b USING (doc_id) JOIN tstat s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q183_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Rae-et-al. repetition quality signals, per document:
    fraction of line occurrences that are within-doc duplicates
    (6-word lines, the q180 unit), fraction of bigram occurrences in
    the single most frequent bigram, and fraction of trigram
    occurrences whose trigram repeats — the pre-training filters that
    kill boilerplate-looping pages. One scan feeding three
    occurrence-explodes, each folded by a map-side-combinable
    (doc, gram) count then a per-doc rollup; everything doc-keyed, no
    corpus-wide shuffle beyond the counts. Ratios of non-negative
    ints rounded to 6 dp (no -0.0 trap); the flag uses only the MAX
    count per doc, so no tie-break surface between engines. Flag
    thresholds: the bigram cut (0.05) splits this corpus ~80/20; the
    dup-line/dup-trigram cuts (0.30/0.20) are the Gopher-magnitude
    ones, exercised by the planted repetitive docs in
    tests/test_round7_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens().alias("w"))

    blocks = segment_blocks(docs, LINE_W)
    lc = blocks.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("c"))
    lstat = lc.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_lines"),
    )
    bgc = (
        toked.select("doc_id", F.explode(word_ngrams("w", 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bstat = bgc.groupBy("doc_id").agg(F.sum("c").alias("m2"), F.max("c").alias("cmax"))
    tgc = (
        toked.select("doc_id", F.explode(word_ngrams("w", 3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tstat = tgc.groupBy("doc_id").agg(
        F.sum("c").alias("m3"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup3"),
    )
    frac = lambda num, den: F.when(F.col(den) == 0, F.lit(0.0)).otherwise(  # noqa: E731
        F.col(num) / F.col(den)
    )
    joined = (
        docs.select("doc_id")
        .join(lstat, "doc_id")
        .join(bstat, "doc_id")
        .join(tstat, "doc_id")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            frac("dup_lines", "n_lines").alias("_dlf"),
            frac("cmax", "m2").alias("_tbf"),
            frac("dup3", "m3").alias("_dtf"),
        )
    )
    return joined.select(
        "doc_id",
        "n_lines",
        F.round("_dlf", 6).alias("dup_line_frac"),
        F.round("_tbf", 6).alias("top_bigram_frac"),
        F.round("_dtf", 6).alias("dup_trigram_frac"),
        (
            (F.col("_dlf") > 0.30) | (F.col("_tbf") > 0.05) | (F.col("_dtf") > 0.20)
        ).cast("int").alias("flagged"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q198 — character-entropy quality signal (row-local run-length histogram)
# --------------------------------------------------------------------------
@query(
    "q198_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, substr(text, i, 1) AS c
        FROM documents, UNNEST(range(1, len(text) + 1)) AS t(i)
    ),
    cc AS (
        SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_chars_counted,
           CAST(COUNT(*) AS BIGINT) AS d_chars,
           ROUND(ln(SUM(n)) - SUM(n * ln(n)) / SUM(n), 6) AS entropy
    FROM cc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q198_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's character distribution — the
    cheap gibberish/encoding-junk detector (binary blobs and repeated
    padding score far from prose). Identity: H = ln(N) − Σ c·ln(c)/N,
    so every ln() argument is an exact integer (bit-identical across
    engines; summation-order ULP noise dies under ROUND(,6)).

    Scale shape: the oracle's relational form explodes one row per
    CHARACTER — at 100 TB that shuffle is the corpus size itself. The
    engine instead computes the histogram ROW-LOCALLY: sort the char
    array, find run boundaries with an indexed filter, turn boundary
    gaps into run lengths, and fold the entropy terms — one
    projection, zero data shuffles (the memory's row-local-over-
    relational rule). Entropy is nonnegative (no −0.0 trap): c·ln(c)
    ≤ N·ln(N) by concavity, exactly 0 for single-char docs on both
    engines."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # run boundaries: 1-based positions p where sorted[p] != sorted[p-1];
    # the gap to the NEXT boundary (or N+1) is that run's length
    bnds = F.expr(
        """filter(sequence(1, size(__s)),
                  p -> p = 1 OR element_at(__s, p) != element_at(__s, p - 1))"""
    )
    runs = F.expr(
        """transform(__b,
             (x, i) -> if(i + 1 < size(__b), element_at(__b, i + 2),
                          cast(n_chars_counted as int) + 1) - x)"""
    )
    ent = F.expr(
        """round(ln(n_chars_counted) -
                 aggregate(__r, 0.0D, (a, c) -> a + c * ln(c)) / n_chars_counted, 6)"""
    )
    return (
        docs.select("doc_id", F.expr("array_sort(split(text, ''))").alias("__s"))
        .select(
            "doc_id",
            F.size("__s").cast("long").alias("n_chars_counted"),
            "__s",
        )
        .select("doc_id", "n_chars_counted", bnds.alias("__b"))
        .select(
            "doc_id",
            "n_chars_counted",
            F.size("__b").cast("long").alias("d_chars"),
            runs.alias("__r"),
        )
        .select("doc_id", "n_chars_counted", "d_chars", ent.alias("entropy"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q199 — compression-ratio quality proxy (rows-only by nature)
# --------------------------------------------------------------------------
@query("q199_compression_quality")
def q199_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style redundancy scoring: per-source distribution of the
    zlib compression ratio (min/median-ish mean/max plus the share of
    docs under 0.3 — the 'mostly boilerplate' flag). Rows-only BY
    NATURE: deflate lengths depend on the zlib build, so there is no
    DuckDB oracle; determinism-within-run, repetitive<diverse ordering
    and byte-accounting invariants are pytest-pinned
    (tests/test_round7_ops.py). Scale: one Arrow mapInPandas pass
    (no shuffle) + a #sources-row rollup."""
    from tp_integ_data_pipeline_spark.operators.text import compression_signals

    docs = load_table(spark, sf_dir, "documents")
    sig = compression_signals(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return (
        sig.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.avg("ratio"), 6).alias("avg_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
            F.round(
                F.avg(F.when(F.col("ratio") < 0.3, 1.0).otherwise(0.0)), 6
            ).alias("share_high_redundancy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q225 — audio silence-span detection (multimodal VAD segmentation)
# --------------------------------------------------------------------------
# Rows-only by design: WAV synthesis + PCM decode + frame RMS run in
# Arrow mapInPandas (not SQL-expressible); the hard checks are
# tests/test_round7_ops.py's planted-span goldens (ids % 5 == 0 carry
# exactly frames 5-6 and 15-17 silent; loud ids emit nothing).
@query("q225_audio_silence")
def q225_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio segmentation: deterministic synthetic 16-bit
    PCM WAV corpus (every 5th id carries two planted silent spans —
    the fixture media this sandbox lacks), REAL RIFF/PCM decode →
    per-160-sample-frame RMS → merged sub-threshold spans, with the
    planted-truth agreement as the self-audit column. The VAD-style
    segmentation an audio training pipeline runs before chunking;
    plumbing (schema, Arrow batching, row-local spans) is the real
    100 TB shape."""
    from tp_integ_data_pipeline_spark.operators.multimodal import (
        audio_silence_spans,
        synth_wav_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    payloads = synth_wav_payload(docs, "doc_id")
    spans = audio_silence_spans(payloads, "doc_id")
    return spans.select(
        "doc_id",
        "start_frame",
        "end_frame",
        "n_frames",
        (F.col("doc_id") % 5 == 0).alias("planted"),
    ).orderBy("doc_id", "start_frame")


# --------------------------------------------------------------------------
# q46 — Python UDTF (§2.9 UDTF surface)
# --------------------------------------------------------------------------
@udtf(returnType="tok string, pos int")
class SplitTokens:
    """Python UDTF (Spark 4): one row per token with its position —
    the table-function generalization of the reference's row-wise
    Series.apply surface."""

    def eval(self, text: str):
        if text:
            for i, tok in enumerate(text.split(" ")):
                yield tok, i


@query(
    "q46_udtf_tokens",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split(text, ' ')) AS tok,
               unnest(range(len(string_split(text, ' ')))) AS pos
        FROM documents
    )
    WHERE pos < 3
    GROUP BY tok
    ORDER BY tok
    """,
)
def q46_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-token histogram via a LATERAL Python UDTF join."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("split_tokens", SplitTokens)
    return spark.sql(
        """
        SELECT s.tok, COUNT(*) AS n
        FROM documents, LATERAL split_tokens(text) s
        WHERE s.pos < 3
        GROUP BY s.tok
        ORDER BY s.tok
        """
    )
