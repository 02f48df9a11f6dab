"""Corpus-curation operators: the remaining everyday verbs of a
100 TB training-data pipeline — benchmark decontamination, heuristic
quality filtering, token-budget chunking, deterministic sharding, and
an end-to-end curation pass composing them with dedup + splits.

Scale notes (design point: 1000 executors, 100 TB corpus):

* Decontamination broadcasts the BENCHMARK gram set, never the corpus
  side. Unlike customer/supplier (which grow with SF and must stay
  stats-gated — see operators/joins.maybe_broadcast), an eval
  benchmark is a fixed, human-curated artifact: thousands of docs,
  bounded forever. Broadcasting it is the correct plan at any corpus
  scale; the corpus side streams through a semi-join probe with no
  shuffle of the heavy text at all.
* Everything else is expression-level (split / transform / aggregate
  inside whole-stage codegen) or a single keyed shuffle; no Python
  rows, no driver actions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.admission import bounded_bench_grams
from tp_integ_data_pipeline_spark.operators.dedup import exact_dedup
from tp_integ_data_pipeline_spark.operators.text import tokens, word_ngrams
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table
from tp_integ_data_pipeline_spark.sources.shards import shard_id


# --------------------------------------------------------------------------
# q93 — benchmark decontamination (word-8-gram overlap)
# --------------------------------------------------------------------------
@query(
    "q93_decontam",
    oracle="""
    WITH words AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, lang,
               [array_to_string(w[i:i+7], ' ')
                for i in range(1, greatest(len(w) - 6, 1))] AS g
        FROM words
    ),
    bench AS (
        SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0
    ),
    corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
    hits AS (
        SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, unnest(g) AS gram FROM corpus) c
        JOIN bench USING (gram)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE hits.doc_id IS NOT NULL) AS n_contaminated
    FROM corpus LEFT JOIN hits USING (doc_id)
    GROUP BY lang
    ORDER BY lang
    """,
)
def q93_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus docs sharing any word-8-gram with a benchmark set
    (GPT-3-style n-gram decontamination; docs with doc_id % 97 == 0
    stand in for the eval suite). The benchmark gram set is broadcast
    — bounded by the benchmark, not the corpus — and the corpus makes
    one pass: explode row-local-distinct grams, semi-join, re-group.
    """
    docs = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", "lang", tokens().alias("w"))
        .select("doc_id", "lang", word_ngrams("w", 8).alias("g"))
    )
    bench_grams = bounded_bench_grams(
        docs.filter(F.col("doc_id") % 97 == 0), "g"
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    hits = (
        corpus.select("doc_id", F.explode(F.array_distinct("g")).alias("gram"))
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q94 — heuristic quality filter (Gopher-style word rules)
# --------------------------------------------------------------------------
@query(
    "q94_quality_filter",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE keep) AS n_keep,
           CAST(SUM(n_chars) FILTER (WHERE keep) AS BIGINT) AS kept_chars
    FROM (
        SELECT source, n_chars,
               len(w) >= 10
               AND (list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w))
                   BETWEEN 3.0 AND 10.0
               AND (len(list_distinct(w)) * 1.0 / len(w)) >= 0.3 AS keep
        FROM (SELECT source, n_chars, string_split(text, ' ') AS w FROM documents)
    )
    GROUP BY source
    ORDER BY source
    """,
)
def q94_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level quality gate (doc length, mean word length band,
    distinct-word ratio — the repetition signal) applied per source.
    All expression-level: one codegen'd projection, one group-by; the
    two ratios are single IEEE divisions of exact integers, so the
    threshold comparisons are bit-stable across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    n_words = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_wl = sum_len * F.lit(1.0) / n_words
    distinct_ratio = F.size(F.array_distinct(w)) * F.lit(1.0) / n_words
    keep = (
        (n_words >= 10)
        & mean_wl.between(3.0, 10.0)
        & (distinct_ratio >= 0.3)
    )
    return (
        docs.select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
            F.sum(F.when(F.col("keep"), F.col("n_chars"))).cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q95 — token-budget chunking (width 64, stride 56)
# --------------------------------------------------------------------------
@query(
    "q95_chunking",
    oracle="""
    SELECT doc_id, i AS chunk_start,
           len(w[i:i+63]) AS chunk_len,
           w[i] AS first_tok
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         LATERAL unnest(range(1, greatest(len(w), 1) + 1, 56)) AS t(i)
    ORDER BY doc_id, chunk_start
    """,
)
def q95_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into ≤64-token windows overlapping by 8
    (stride 56) — the context-packing transform feeding a tokenizer.
    Chunk starts come from `sequence`, the window from `slice`: pure
    expression work, parallel in the docs' existing partitioning, no
    shuffle at all (the final orderBy is presentation-only).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", tokens().alias("w"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(56))
    return (
        docs.select("doc_id", "w", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size(F.slice("w", F.col("chunk_start"), 64)).cast("long").alias("chunk_len"),
            F.element_at("w", F.col("chunk_start")).alias("first_tok"),
        )
        .orderBy("doc_id", "chunk_start")
    )


# --------------------------------------------------------------------------
# q96 — deterministic shard assignment + balance stats
# --------------------------------------------------------------------------
@query(
    "q96_shard_stats",
    oracle="""
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 16
               AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def q96_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable shard id from md5(doc_id) — the write-side
    partitioner for training shards. Hash-based like q76's split:
    membership survives re-runs and resharding. The stats double as a
    balance audit (a skewed shard here means a straggling data-loader
    at training time)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(shard_id("doc_id", 16).alias("shard"), "n_chars", "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q97 — end-to-end curation pass (dedup → quality → split → shard)
# --------------------------------------------------------------------------
@query(
    "q97_curation_pipeline",
    oracle="""
    WITH canon AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ),
    quality AS (
        SELECT doc_id, n_chars,
               len(w) >= 10
               AND (list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w))
                   BETWEEN 3.0 AND 10.0
               AND (len(list_distinct(w)) * 1.0 / len(w)) >= 0.3 AS keep
        FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w
              FROM canon WHERE rn = 1)
    )
    SELECT CASE WHEN d < 12 THEN 'train' WHEN d < 14 THEN 'val' ELSE 'test' END
               AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT CAST(('0x' || substr(h, 1, 2)) AS INT) % 16) AS n_shards
    FROM (SELECT n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INT) AS d
          FROM quality WHERE keep)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q97_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pass as ONE lazy plan: exact-dedup canonical
    pick (window over text), quality gate (q94's rules), hash split
    (q76's digits), shard assignment (q96's) — Catalyst fuses the
    post-dedup steps into the same stage, so the corpus is shuffled
    exactly once (on text) before the final group-by."""
    canon = exact_dedup(load_table(spark, sf_dir, "documents"), ["text"], "doc_id")
    w = tokens()
    n_words = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    keep = (
        (n_words >= 10)
        & (sum_len * F.lit(1.0) / n_words).between(3.0, 10.0)
        & (F.size(F.array_distinct(w)) * F.lit(1.0) / n_words >= 0.3)
    )
    d = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10).cast("int")
    split = F.when(d < 12, "train").when(d < 14, "val").otherwise("test")
    return (
        canon.filter(keep)
        .select(split.alias("split"), "n_chars", shard_id("doc_id", 16).alias("shard"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("shard").alias("n_shards"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q98 — blocklist/PII-style regex redaction audit
# --------------------------------------------------------------------------
_REDACT_PAT = r"\b(customer|merge)\b"


@query(
    "q98_redaction_audit",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE n_hits > 0) AS n_redacted_docs,
           CAST(SUM(n_hits) AS BIGINT) AS total_redactions,
           CAST(SUM(length(text) - length(redacted)) AS BIGINT) AS chars_removed
    FROM (
        SELECT lang, text,
               len(regexp_extract_all(text, '\b(customer|merge)\b')) AS n_hits,
               regexp_replace(text, '\b(customer|merge)\b', '■', 'g') AS redacted
        FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def q98_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrub pass — the shape of PII/blocklist redaction at
    corpus scale (here a stand-in term blocklist; swap the pattern for
    email/phone/SSN regexes in production). Match counting and
    replacement are JVM-side regexp expressions in one codegen'd
    projection; the audit is a single group-by. chars_removed is
    measured from actual before/after lengths, so the redaction
    transform itself is what's being checked, not just the counter."""
    docs = load_table(spark, sf_dir, "documents")
    n_hits = F.size(F.regexp_extract_all("text", F.lit(_REDACT_PAT), F.lit(0)))
    redacted = F.regexp_replace("text", _REDACT_PAT, "■")
    return (
        docs.select(
            "lang",
            n_hits.alias("n_hits"),
            (F.length("text") - F.length(redacted)).alias("removed"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_hits") > 0, 1)).alias("n_redacted_docs"),
            F.sum("n_hits").cast("long").alias("total_redactions"),
            F.sum("removed").cast("long").alias("chars_removed"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q99 — phrase-level repetition profile (duplicate word-3-gram fraction)
# --------------------------------------------------------------------------
@query(
    "q99_repetition_profile",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE n_grams > 0 AND
               (n_grams - n_distinct) * 1.0 / n_grams > 0.2) AS n_repetitive,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_grams - n_distinct) AS BIGINT) AS dup_grams
    FROM (
        SELECT source, len(g) AS n_grams, len(list_distinct(g)) AS n_distinct
        FROM (
            SELECT source,
                   [array_to_string(w[i:i+2], ' ')
                    for i in range(1, greatest(len(w) - 1, 1))] AS g
            FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
        )
    )
    GROUP BY source
    ORDER BY source
    """,
)
def q99_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repeated-phrase signal: fraction of word-3-grams
    that are duplicates within the doc. Entirely expression-level
    (n-grams, array_distinct, one IEEE division for the threshold) —
    zero shuffle before the per-source rollup; the integer gram
    totals make the aggregate bit-stable across engines."""
    docs = load_table(spark, sf_dir, "documents").select("source", tokens().alias("w"))
    g = word_ngrams("w", 3)
    n_grams = F.size(g)
    n_distinct = F.size(F.array_distinct(g))
    dup_frac = (n_grams - n_distinct) * F.lit(1.0) / n_grams
    repetitive = (n_grams > 0) & (dup_frac > 0.2)
    return (
        docs.select(
            "source",
            n_grams.alias("n_grams"),
            (n_grams - n_distinct).alias("n_dup"),
            repetitive.alias("rep"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("rep"), 1)).alias("n_repetitive"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_dup").cast("long").alias("dup_grams"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q100 — cross-document sequence packing (training-batch assembly)
# --------------------------------------------------------------------------
@query(
    "q100_pack_sequences",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM d
    )
    SELECT CAST(cum_before // 512 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           ROUND(SUM(n_tokens) / 512.0, 4) AS fill_ratio,
           CAST(GREATEST(MAX(cum_before % 512 + n_tokens) - 512, 0) AS BIGINT)
               AS overflow_tokens
    FROM c
    GROUP BY 1
    ORDER BY seq_id
    """,
)
def q100_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack curated documents into 512-token training sequences
    (operators/packing.py): seq_id = exclusive-prefix-sum // budget in
    doc_id order, computed as a DISTRIBUTED prefix sum (range shuffle +
    per-partition offsets) — the naive global window would drag the
    corpus through one task. The oracle is the naive window, proving
    the distributed decomposition exact."""
    from tp_integ_data_pipeline_spark.operators.packing import (
        pack_sequences,
        sequence_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens()).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(docs, budget=512)
    return sequence_stats(packed, budget=512).orderBy("seq_id")


# --------------------------------------------------------------------------
# q107 — token-level packed-sequence materialization
# --------------------------------------------------------------------------
@query(
    "q107_pack_token_runs",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cb
        FROM d
    ),
    r AS (
        SELECT doc_id, n_tokens, cb, t.s
        FROM c, UNNEST(range(CAST(cb // 512 AS BIGINT),
                             CAST((cb + n_tokens - 1) // 512 + 1 AS BIGINT))) AS t(s)
        WHERE n_tokens > 0
    )
    SELECT CAST(s AS BIGINT) AS seq_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id) - 1 AS BIGINT)
               AS slot,
           doc_id,
           CAST(GREATEST(s * 512, cb) - cb AS BIGINT) AS token_start,
           CAST(LEAST((s + 1) * 512, cb + n_tokens) - GREATEST(s * 512, cb)
                AS BIGINT) AS token_len
    FROM r
    ORDER BY seq_id, slot
    """,
)
def q107_pack_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the trainer consumes: per-sequence token runs with
    straddling documents SPLIT at sequence boundaries (doc-granular
    q100 only assigns whole docs). Every sequence's runs sum to exactly
    512 tokens except the tail; the oracle recomputes the layout from a
    naive global window, proving the distributed prefix-sum + explode
    decomposition exact row-for-row."""
    from tp_integ_data_pipeline_spark.operators.packing import pack_token_runs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens()).cast("long").alias("n_tokens")
    )
    return pack_token_runs(docs, budget=512).orderBy("seq_id", "slot")


# --------------------------------------------------------------------------
# q102 — deterministic source-mixture sampling (data mixing)
# --------------------------------------------------------------------------
def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Down-sample a multi-source corpus to TARGET mixture proportions —
    the "data mixing" step (Pile/Dolma-style) that turns raw source
    counts into the training distribution.

    Largest achievable corpus under the weights: T = min_s(n_s / w_s);
    each source keeps fraction f_s = min(1, w_s·T / n_s), membership
    decided by md5(id) (content-stable across runs, engines and
    resharding — same convention as the q76 splits and q96 shards, as an
    integer compare against floor(f_s·2³²)). Fully lazy: per-source
    counts are a small aggregate, T a 1-row broadcast scalar, fractions
    broadcast-joined back onto the corpus — no driver collect. Sources
    absent from ``weights`` are dropped (weight 0).
    """
    spark = docs.sparkSession
    w = spark.createDataFrame(
        [(s, float(wt)) for s, wt in weights.items() if wt > 0],
        f"{source_col} string, wt double",
    )
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n")).join(w, source_col)
    total = counts.agg(F.min(F.col("__n") / F.col("wt")).alias("__total"))
    frac = (
        counts.crossJoin(F.broadcast(total))
        .select(
            source_col,
            F.least(
                F.lit(1.0), F.col("wt") * F.col("__total") / F.col("__n")
            ).alias("__frac"),
        )
        .select(
            source_col,
            F.floor(F.col("__frac") * F.lit(4294967296.0)).cast("long").alias("__thr"),
        )
    )
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long")
    return docs.join(F.broadcast(frac), source_col).filter(u < F.col("__thr")).drop("__thr")


@query(
    "q102_mixture_sample",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    w AS (
        SELECT * FROM (VALUES
            ('src0', CAST(0.5 AS DOUBLE)),
            ('src1', CAST(0.3 AS DOUBLE)),
            ('src2', CAST(0.2 AS DOUBLE))
        ) AS t(source, wt)
    ),
    j AS (SELECT c.source, c.n, w.wt FROM counts c JOIN w USING (source)),
    f AS (
        SELECT source,
               CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
                                wt * (SELECT MIN(n / wt) FROM j) / n)
                          * 4294967296.0) AS BIGINT) AS thr
        FROM j
    )
    SELECT d.source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_checksum
    FROM documents d JOIN f USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < thr
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def q102_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix src0/src1/src2 at 50/30/20 target proportions; the oracle
    recomputes the same capacity solve + hash memberships in SQL, so
    the exact kept id-set (checksummed) must match."""
    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.sum("doc_id").cast("long").alias("kept_id_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q104 — block-level boilerplate stripping (CCNet-style)
# --------------------------------------------------------------------------
@query(
    "q104_boilerplate_strip",
    oracle="""
    WITH b AS (
        SELECT doc_id, (i - 1) // 8 AS pos, array_to_string(w[i:i+7], ' ') AS block
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, 8)) AS t(i)
    ),
    boiler AS (
        SELECT block FROM (
            SELECT block, COUNT(DISTINCT doc_id) AS df FROM b GROUP BY block
        ) WHERE df >= 2
    ),
    kept AS (SELECT * FROM b WHERE block NOT IN (SELECT block FROM boiler)),
    reb AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(block, ' ' ORDER BY pos) AS txt
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_blocks FROM b GROUP BY doc_id)
    SELECT d.doc_id, t.n_blocks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(r.txt, '')) AS stripped_md5
    FROM documents d JOIN tot t USING (doc_id) LEFT JOIN reb r USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q104_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal at block granularity: split each
    document into non-overlapping 8-word blocks, count each block's
    document frequency across the corpus, strip blocks appearing in ≥2
    documents (headers/footers/templated text at web scale), and
    reassemble the survivors in original order. All relational: one
    block explode, a df aggregate, an anti-join, and an order-preserving
    re-concat (array_sort over (pos, block) structs — no
    single-partition window). The md5 of every rebuilt document must
    match the oracle's, proving order-exact reassembly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("w")
    )
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(8))
    blocks = docs.select("doc_id", "w", F.explode(starts).alias("i")).select(
        "doc_id",
        ((F.col("i") - 1) / 8).cast("int").alias("pos"),
        F.concat_ws(" ", F.slice("w", F.col("i"), 8)).alias("block"),
    )
    boiler = (
        blocks.groupBy("block")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("block")
    )
    kept = blocks.join(boiler, "block", "left_anti")
    reb = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "block"))),
                lambda s: s["block"],
            ),
            " ",
        ).alias("txt"),
    )
    tot = blocks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_blocks"))
    return (
        tot.join(reb, "doc_id", "left")
        .select(
            "doc_id",
            "n_blocks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.md5(F.coalesce(F.col("txt"), F.lit(""))).alias("stripped_md5"),
        )
        .orderBy("doc_id")
    )
