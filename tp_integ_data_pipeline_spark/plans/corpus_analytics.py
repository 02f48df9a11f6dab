"""Corpus-analytics queries: dense global IDs, vocabulary-growth
(Heaps-law) curves, PMI collocations, exact-percentile length trimming,
per-source n-gram overlap, novelty and diversity, token-distribution
drift, prompt-prefix sharing and the one-row dataset card.

No reference-repo counterpart — SURVEY.md §2.10 extension surface: the
"measure and re-key the corpus" verbs of a 100 TB curation job. Every
query here is exactly SQL-expressible, so each carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.dedup import LINE_W, segment_blocks
from tp_integ_data_pipeline_spark.operators.packing import global_cumsum
from tp_integ_data_pipeline_spark.operators.text import tokens, word_ngrams
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q128 — dense contiguous global row ids WITHOUT a global window
# --------------------------------------------------------------------------
@query(
    "q128_dense_ids",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id
    FROM documents
    ORDER BY doc_id
    """,
)
def q128_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign 0-based contiguous ids in doc_id order — the "stable
    sample index" every training run wants. ROW_NUMBER over an
    unpartitioned window is a single-reducer sort at 100 TB;
    monotonically_increasing_id is non-contiguous and
    partition-layout-dependent. The scale shape is the distributed
    exclusive prefix sum over value 1 (operators/packing.global_cumsum:
    per-bucket windows + a <= n_buckets offset table broadcast back)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    withc = global_cumsum(docs.withColumn("__one", F.lit(1)), "doc_id", "__one")
    return (
        withc.select("doc_id", F.col("cum_before").alias("row_id")).orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q129 — vocabulary growth curve (Heaps' law) over ingestion shards
# --------------------------------------------------------------------------
_N_GROWTH_SHARDS = 10


@query(
    "q129_vocab_growth",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id % {_N_GROWTH_SHARDS} AS shard,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tok_tot AS (SELECT shard, COUNT(*) AS n_tokens FROM toks GROUP BY shard),
    first_seen AS (SELECT tok, MIN(shard) AS shard FROM toks GROUP BY tok),
    news AS (SELECT shard, COUNT(*) AS new_types FROM first_seen GROUP BY shard)
    SELECT t.shard,
           t.n_tokens,
           COALESCE(n.new_types, 0) AS new_types,
           CAST(SUM(COALESCE(n.new_types, 0))
                OVER (ORDER BY t.shard) AS BIGINT) AS cum_types
    FROM tok_tot t LEFT JOIN news n ON n.shard = t.shard
    ORDER BY t.shard
    """,
)
def q129_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How fast does the type vocabulary grow as shards arrive? Per
    shard: token volume, first-seen new types, cumulative types. The
    heavy aggregations key on (shard, tok) / tok — fully distributed;
    the only unpartitioned window runs over the {_N_GROWTH_SHARDS}-row
    shard summary (bounded by construction, same justification as the
    prefix-sum offset table)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % _N_GROWTH_SHARDS).alias("shard"),
        F.explode(tokens()).alias("tok"),
    )
    tok_tot = toks.groupBy("shard").agg(F.count(F.lit(1)).alias("n_tokens"))
    first_seen = toks.groupBy("tok").agg(F.min("shard").alias("shard"))
    news = first_seen.groupBy("shard").agg(F.count(F.lit(1)).alias("new_types"))
    w = W.partitionBy(F.lit(0)).orderBy("shard").rowsBetween(W.unboundedPreceding, 0)
    return (
        tok_tot.join(news, "shard", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)))
        .withColumn("cum_types", F.sum("new_types").over(w).cast("long"))
        .select("shard", "n_tokens", "new_types", "cum_types")
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q130 — PMI collocations (top bigrams by pointwise mutual information)
# --------------------------------------------------------------------------
_PMI_MIN_COUNT = 5
_PMI_TOP = 50


@query(
    "q130_bigram_pmi",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    uni AS (
        SELECT unnest(a) AS tok FROM t
    ),
    uni_c AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    n_uni AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni),
    bi AS (
        SELECT a[i] AS w1, a[i + 1] AS w2
        FROM t, UNNEST(range(1, len(a))) AS r(i)
    ),
    bi_c AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY w1, w2
             HAVING COUNT(*) >= {_PMI_MIN_COUNT}),
    n_bi AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM bi),
    scored AS (
        SELECT b.w1, b.w2, b.c_xy,
               ROUND(ln((b.c_xy / (SELECT n FROM n_bi))
                        / ((cx.c / (SELECT n FROM n_uni))
                           * (cy.c / (SELECT n FROM n_uni)))), 6) + 0 AS pmi
        FROM bi_c b
        JOIN uni_c cx ON cx.tok = b.w1
        JOIN uni_c cy ON cy.tok = b.w2
    )
    SELECT w1, w2, c_xy, pmi
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rn FROM scored)
    WHERE rn <= {_PMI_TOP}
    ORDER BY pmi DESC, w1, w2
    """,
)
def q130_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: PMI = ln(p(xy) / (p(x) p(y))) over word
    bigrams, count floor {_PMI_MIN_COUNT}, top {_PMI_TOP}. Bigrams are
    built row-locally (zip_with over two shifted slices — no
    self-join, no window over token rows); unigram/bigram totals ride
    as 1-row broadcast aggregates; the unigram-count joins stay
    shuffle joins by design — at 100 TB the vocabulary outgrows
    broadcast range (same call as q54's df join). PMI is rounded to 6
    dp BEFORE the global top-k so cross-engine libm ULPs cannot flip
    the cut."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens().alias("a"))
    uni = t.select(F.explode("a").alias("tok"))
    uni_c = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.count(F.lit(1)).cast("double").alias("n_uni"))
    # slice(a, 2, n) with n = size-1 is [] for single-token docs (slice
    # clamps); zip_with pairs position i with i+1 without indexing, so
    # there is no sequence(1, 0) descending-range trap.
    pairs = F.zip_with(
        F.slice("a", 1, F.greatest(F.size("a") - 1, F.lit(0))),
        F.slice("a", 2, F.greatest(F.size("a") - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bi = t.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    n_bi = bi.agg(F.count(F.lit(1)).cast("double").alias("n_bi"))
    bi_c = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    scored = (
        bi_c.join(uni_c.select(F.col("tok").alias("w1"), F.col("c").alias("__cx")), "w1")
        .join(uni_c.select(F.col("tok").alias("w2"), F.col("c").alias("__cy")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "c_xy",
            (
                F.round(
                    F.log(
                        (F.col("c_xy") / F.col("n_bi"))
                        / ((F.col("__cx") / F.col("n_uni")) * (F.col("__cy") / F.col("n_uni")))
                    ),
                    6,
                )
                + F.lit(0.0)  # normalize IEEE -0.0 (cross-engine hash trap)
            ).alias("pmi"),
        )
    )
    # Global top-k via orderBy().limit() = TakeOrderedAndProject: each
    # partition keeps its local top-50, the driver merges k-row heads —
    # never a single-partition window over the vocabulary-sized scored
    # relation (the engine-wide top-k rule, operators/sketches.py and
    # q119; gate-enforced by scripts/audit_plans.py's WindowExec check).
    # Output identical: total ordering with deterministic tie-break.
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(_PMI_TOP)


# --------------------------------------------------------------------------
# q131 — per-language exact-percentile length trim (robust filtering)
# --------------------------------------------------------------------------
@query(
    "q131_length_trim",
    oracle="""
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    ),
    bounds AS (
        SELECT lang,
               MIN(CASE WHEN rk >= 0.05 * n THEN n_chars END) AS p05,
               MIN(CASE WHEN rk >= 0.95 * n THEN n_chars END) AS p95
        FROM ranked GROUP BY lang
    )
    SELECT d.lang,
           b.p05, b.p95,
           COUNT(*) FILTER (WHERE d.n_chars BETWEEN b.p05 AND b.p95) AS n_kept,
           COUNT(*) FILTER (WHERE d.n_chars < b.p05 OR d.n_chars > b.p95) AS n_trimmed
    FROM documents d JOIN bounds b ON b.lang = d.lang
    GROUP BY d.lang, b.p05, b.p95
    ORDER BY d.lang
    """,
)
def q131_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim each language's length-outlier tails at EXACT p05/p95,
    computed with the rank/count window formulation (sort within the
    lang partition — distributed) rather than Spark's exact
    `percentile` aggregate, whose buffer holds every group value in
    one task at 100 TB. The per-lang bounds relation is |langs| rows →
    broadcast back for the keep/trim count."""
    docs = load_table(spark, sf_dir, "documents")
    wlang = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(wlang).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n"),
    )
    bounds = ranked.groupBy("lang").agg(
        F.min(F.when(F.col("rk") >= 0.05 * F.col("n"), F.col("n_chars"))).alias("p05"),
        F.min(F.when(F.col("rk") >= 0.95 * F.col("n"), F.col("n_chars"))).alias("p95"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .groupBy("lang", "p05", "p95")
        .agg(
            F.count(
                F.when(
                    (F.col("n_chars") >= F.col("p05")) & (F.col("n_chars") <= F.col("p95")),
                    1,
                )
            ).alias("n_kept"),
            F.count(
                F.when(
                    (F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95")), 1
                )
            ).alias("n_trimmed"),
        )
        .select("lang", "p05", "p95", "n_kept", "n_trimmed")
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q133 — mergeable fixed-bin histogram quantiles (telemetry percentiles)
# --------------------------------------------------------------------------
_N_HIST_BINS = 64


@query(
    "q133_histogram_quantiles",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ),
    binned AS (
        SELECT event_type,
               CAST(LEAST(FLOOR((value - b.lo) / (b.hi - b.lo) * {_N_HIST_BINS}),
                          {_N_HIST_BINS - 1}) AS INT) AS bin
        FROM events, bounds b
    ),
    hist AS (
        SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM hist
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND((SELECT lo FROM bounds)
                 + MIN(CASE WHEN cum >= 0.5 * n THEN bin END)
                   * ((SELECT hi FROM bounds) - (SELECT lo FROM bounds))
                   / {_N_HIST_BINS}, 6) + 0 AS p50_lo,
           ROUND((SELECT lo FROM bounds)
                 + MIN(CASE WHEN cum >= 0.95 * n THEN bin END)
                   * ((SELECT hi FROM bounds) - (SELECT lo FROM bounds))
                   / {_N_HIST_BINS}, 6) + 0 AS p95_lo
    FROM cum
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q133_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles from a MERGEABLE fixed-bin histogram: global
    [lo, hi) from a 1-row scalar, {_N_HIST_BINS} bins, per-(type, bin)
    counts, quantile = lower edge of the first bin whose cumulative
    count crosses q*n. The histogram relation is re-aggregable partial
    state (shards union by summing bin counts — the same property HLL
    gives distincts, q120), ≤ {_N_HIST_BINS} rows per key, so the
    cumulative window is bounded; raw values are never sorted or
    collected. Identical double expressions on both engines, rounded
    at the end."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _N_HIST_BINS),
            F.lit(_N_HIST_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("event_type").orderBy("bin").rangeBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min(F.when(F.col("cum") >= 0.5 * F.col("n"), F.col("bin"))).alias("__b50"),
            F.min(F.when(F.col("cum") >= 0.95 * F.col("n"), F.col("bin"))).alias("__b95"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            "n",
            (
                F.round(
                    F.col("lo") + F.col("__b50") * (F.col("hi") - F.col("lo")) / _N_HIST_BINS, 6
                )
                + F.lit(0.0)  # normalize IEEE -0.0 (cross-engine hash trap)
            ).alias("p50_lo"),
            (
                F.round(
                    F.col("lo") + F.col("__b95") * (F.col("hi") - F.col("lo")) / _N_HIST_BINS, 6
                )
                + F.lit(0.0)
            ).alias("p95_lo"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q134 — pairwise source-corpus overlap (exact Jaccard over 3-gram sets)
# --------------------------------------------------------------------------
@query(
    "q134_source_overlap",
    oracle="""
    WITH grams AS (
        SELECT DISTINCT source, gram
        FROM (
            SELECT source,
                   a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS gram
            FROM (SELECT source, string_split(text, ' ') AS a FROM documents),
                 UNNEST(range(1, len(a) - 1)) AS r(i)
        )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           ROUND(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY src_a, src_b
    """,
)
def q134_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do the corpus's sources overlap? Exact Jaccard between
    each source pair over distinct word-3-gram sets. The pair counts
    come from ONE grouped pass: per gram, the distinct sources as a
    sorted array (bounded by |sources|, a catalog constant), pair
    expansion row-local from that array — never a gram-keyed self-join
    of the corpus against itself (the oracle's shape: fine at check
    scale, quadratic scan at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("source", tokens().alias("w"))
        .select("source", F.explode(word_ngrams("w", 3)).alias("gram"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    by_gram = grams.groupBy("gram").agg(F.array_sort(F.collect_set("source")).alias("ss"))
    pairs = by_gram.filter(F.size("ss") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss)), y -> struct(x AS src_a, y AS src_b))))"
            )
        ).alias("p")
    )
    inter = pairs.select("p.src_a", "p.src_b").groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return (
        inter.join(F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("__na"))), "src_a")
        .join(F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("__nb"))), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(F.col("n_common") / (F.col("__na") + F.col("__nb") - F.col("n_common")), 6).alias(
                "jaccard"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# q147 — mergeable heavy-hitters rollup (shard top-k partials →
# global bounded merge) — the frequent-items member of the sketch
# family (HLL q120 = distinct, histogram q133 = quantiles)
# --------------------------------------------------------------------------
@query(
    "q147_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
    SELECT tok, n AS lower, n AS upper,
           ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
    FROM counts
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def q147_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 corpus tokens via mergeable shard partials
    (operators/sketches.py): 16 hash shards each keep their exact
    top-c counts plus a scalar cutoff; the merge sums kept counts and
    derives [lower, upper] bounds without rescanning tokens — the
    partial-state contract that lets daily shards re-aggregate into
    monthly top-k. Run in the EXACT regime (c above per-shard distinct
    tokens, every cutoff 0, lower == upper == true count — asserted by
    tests/test_sketches.py at both graded SFs), so the exact-count
    oracle applies; under-capacity shards get the documented bound
    guarantees instead (property-tested)."""
    from tp_integ_data_pipeline_spark.operators.sketches import (
        merge_shard_topk,
        shard_topk_partials,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("shard"),
        F.explode(tokens()).alias("tok"),
    )
    kept, cutoffs = shard_topk_partials(toks, key="tok", shard="shard", c=200_000)
    return merge_shard_topk(kept, cutoffs, key="tok", shard="shard", k=20).select(
        "tok", "lower", "upper", "rank"
    )


# --------------------------------------------------------------------------
# q167 — per-source n-gram novelty attribution (data valuation)
# --------------------------------------------------------------------------
@query(
    "q167_source_novelty",
    oracle="""
    WITH grams AS (
        SELECT DISTINCT source,
               a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS gram
        FROM (SELECT source, string_split(text, ' ') AS a FROM documents),
             UNNEST(range(1, len(a) - 1)) AS r(i)
    ),
    owner AS (SELECT gram, MIN(source) AS first_source FROM grams GROUP BY gram)
    SELECT g.source,
           COUNT(*) AS n_grams,
           COUNT(CASE WHEN o.first_source = g.source THEN 1 END) AS n_novel,
           ROUND(COUNT(CASE WHEN o.first_source = g.source THEN 1 END)
                 * 1.0 / COUNT(*), 6) AS novelty_rate
    FROM grams g JOIN owner o USING (gram)
    GROUP BY g.source
    ORDER BY g.source
    """,
)
def q167_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does each source ADD to the corpus? Every distinct word-
    3-gram is attributed to its first owner under a fixed priority
    (source name order — deterministic, engine-portable); per source:
    distinct grams, grams it alone introduces, novelty rate. The
    data-valuation complement of q134's pairwise overlap: overlap says
    sources share material, novelty says which source you could DROP
    with least loss. Shape: the distinct (source, gram) relation feeds
    one gram-keyed min-aggregate and one source-keyed rollup — two
    bounded shuffles, never a per-pair comparison (novelty rate is
    strictly in (0, 1] — no -0.0 trap)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = (
        docs.select("source", tokens().alias("w"))
        .select("source", F.explode(word_ngrams("w", 3)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds owner agg AND the rollup
    )
    owner = grams.groupBy("gram").agg(F.min("source").alias("first_source"))
    return (
        grams.join(owner, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("first_source") == F.col("source"), 1)).alias("n_novel"),
            F.round(
                F.count(F.when(F.col("first_source") == F.col("source"), 1))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q191 — shared-prefix (prompt-cache) analysis
# --------------------------------------------------------------------------
_PFX_W = 8


@query(
    "q191_prefix_cache_share",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    p AS (
        SELECT doc_id,
               array_to_string(w[1:{_PFX_W}], ' ') AS prefix,
               LEAST(len(w), {_PFX_W}) AS pfx_tok
        FROM t
    ),
    g AS (
        SELECT prefix, pfx_tok, COUNT(*) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM p GROUP BY prefix, pfx_tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN (n_docs - 1) * pfx_tok ELSE 0 END) AS BIGINT)
               AS cacheable_tokens,
           CAST(SUM(first_doc) AS BIGINT) AS group_checksum
    FROM g
    """,
)
def q191_prefix_cache_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-prefix cache analysis: group documents by their first
    8 tokens and report how many share a prefix and how many tokens a
    prefix cache would save (every repeat of a shared prefix skips
    its pfx_tok tokens — the KV-cache-sharing win a serving stack
    gets from templated prompts). One row-local prefix projection,
    one map-side-combined groupBy, a 1-row corpus rollup; the
    group_checksum (sum of per-group min doc ids) pins the exact
    grouping, not just the counts."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    p = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(w, 1, _PFX_W)).alias("prefix"),
        F.least(F.size(w), F.lit(_PFX_W)).alias("pfx_tok"),
    )
    g = p.groupBy("prefix", "pfx_tok").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("long").alias("shared_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("n_docs") >= 2, (F.col("n_docs") - 1) * F.col("pfx_tok")).otherwise(0)
        )
        .cast("long")
        .alias("cacheable_tokens"),
        F.sum("first_doc").cast("long").alias("group_checksum"),
    )


# --------------------------------------------------------------------------
# q192 — per-source token-distribution JS divergence vs the corpus
# --------------------------------------------------------------------------
_JSD_B = 512  # hashed-vocab width: bounded forever, broadcast-able


@query(
    "q192_source_token_jsd",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) % {_JSD_B} AS b
        FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
    ),
    sc AS (SELECT source, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c) AS n FROM sc GROUP BY 1),
    corpus AS (SELECT b, SUM(c) AS cc FROM sc GROUP BY 1),
    ctot AS (SELECT SUM(cc) AS cn FROM corpus),
    grid AS (
        SELECT s.source, g.range AS b,
               (COALESCE(sc.c, 0) + 1.0) / (s.n + {_JSD_B}) AS p,
               (COALESCE(corpus.cc, 0) + 1.0) / ((SELECT cn FROM ctot) + {_JSD_B}) AS q
        FROM stot s
        CROSS JOIN range(0, {_JSD_B}) g
        LEFT JOIN sc ON sc.source = s.source AND sc.b = g.range
        LEFT JOIN corpus ON corpus.b = g.range
    )
    SELECT source,
           ROUND(SUM(0.5 * p * ln(2 * p / (p + q)) + 0.5 * q * ln(2 * q / (p + q))), 6)
               AS jsd
    FROM grid GROUP BY source ORDER BY source
    """,
)
def q192_source_token_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source is most off-distribution: Jensen-Shannon
    divergence between each source's hashed-token distribution and
    the whole-corpus distribution (Laplace-smoothed over a FIXED
    512-bucket hashed vocab — the q112 bounded-feature-space trick,
    so the per-source histograms stay broadcast-able at any corpus
    size and the md5 bucketing replays exactly in DuckDB). JSD is
    symmetric and bounded (unlike q170's PSI) — the corpus-drift
    score a mixture owner tracks per feed. Every term is
    nonnegative (p·ln(2p/(p+q)) + q·ln(2q/(p+q)) >= 0 pairwise), so
    no -0.0 trap; ln's last-ULP libm variance dies under ROUND(,6)
    (the q170 convention). One token explode -> (source, bucket)
    map-side counts; everything after is bucket-grid-sized."""
    from tp_integ_data_pipeline_spark.operators.selection import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens()).alias("__t")).select(
        "source", hash_bucket(F.col("__t"), _JSD_B).alias("b")
    )
    sc = tok.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    sc = sc.localCheckpoint(eager=False)  # feeds stot, corpus, and the grid join
    stot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = sc.groupBy("b").agg(F.sum("c").alias("cc"))
    ctot = corpus.agg(F.sum("cc").alias("cn"))
    # full 0..B-1 grid via a ROW-LOCAL sequence explode per source —
    # never a relation-against-relation cross join (B is a constant;
    # the only BNLJ left is the 1-row corpus-total scalar). Laplace
    # smoothing is defined over the FULL hashed vocab on both engines,
    # so never-observed buckets contribute identically.
    grid = (
        stot.select(
            "source",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(_JSD_B - 1))).alias("b"),
        )
        .join(sc, ["source", "b"], "left")
        .join(F.broadcast(corpus), "b", "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("n") + _JSD_B)).alias("p"),
            (
                (F.coalesce(F.col("cc"), F.lit(0)) + 1.0) / (F.col("cn") + _JSD_B)
            ).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    term = 0.5 * p * F.log(2 * p / (p + q)) + 0.5 * q * F.log(2 * q / (p + q))
    return (
        grid.groupBy("source")
        .agg(F.round(F.sum(term), 6).alias("jsd"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q195 — n-gram diversity / self-repetition per source
# --------------------------------------------------------------------------
@query(
    "q195_ngram_diversity",
    oracle="""
    WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    utok AS (
        SELECT source, t.tok AS g FROM d, UNNEST(w) AS t(tok)
    ),
    uc AS (
        SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c FROM utok GROUP BY 1, 2
    ),
    us AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS d_unigrams
        FROM uc GROUP BY 1
    ),
    ttok AS (
        SELECT source, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        FROM d, UNNEST(range(1, len(w) - 1)) AS t(i)
    ),
    tc AS (
        SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2
    ),
    ts AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_trigrams,
               CAST(COUNT(*) AS BIGINT) AS d_trigrams
        FROM tc GROUP BY 1
    ),
    spread AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ns FROM tc GROUP BY 1
    ),
    uniq AS (
        SELECT tc.source,
               CAST(SUM(CASE WHEN s.ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_tri
        FROM tc JOIN spread s ON s.g = tc.g GROUP BY 1
    )
    SELECT us.source, us.n_tokens, us.d_unigrams,
           ROUND(CAST(us.d_unigrams AS DOUBLE) / us.n_tokens, 6) AS ttr,
           ts.n_trigrams, ts.d_trigrams,
           ROUND(CAST(ts.d_trigrams AS DOUBLE) / ts.n_trigrams, 6) AS tri_ttr,
           ROUND(CAST(ts.n_trigrams AS DOUBLE) / ts.d_trigrams, 6) AS rep_factor,
           ROUND(CAST(uniq.u_tri AS DOUBLE) / ts.d_trigrams, 6) AS uniq_tri_share
    FROM us JOIN ts ON ts.source = us.source JOIN uniq ON uniq.source = us.source
    ORDER BY us.source
    """,
)
def q195_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity report per source (the self-repetition /
    mode-collapse check run on synthetic and scraped feeds alike):
    unigram type-token ratio, trigram type-token ratio, trigram
    repetition factor (occurrences per distinct trigram), and the
    share of the source's distinct trigrams that appear in NO other
    source (content uniqueness — the complement of q134's overlap
    and q167's novelty-over-time). All graded doubles are ratios of
    exact nonnegative integers at 6 dp.

    Scale shape: trigrams materialize row-locally in the token array
    (no join, no window); (source, gram) counts are map-side
    combinable; the uniqueness pass reuses the SAME distinct
    (source, trigram) relation (checkpointed once) keyed by trigram —
    cost tracks the distinct-gram count, never pairs of sources."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toked = docs.select("source", tokens().alias("w"))

    uc = (
        toked.select("source", F.explode("w").alias("g"))
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    us = uc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("d_unigrams")
    )
    tc = (
        toked.select("source", F.explode(word_ngrams("w", 3)).alias("g"))
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tc = tc.localCheckpoint(eager=False)  # feeds ts, spread, and uniq
    ts = tc.groupBy("source").agg(
        F.sum("c").alias("n_trigrams"), F.count(F.lit(1)).alias("d_trigrams")
    )
    spread = tc.groupBy("g").agg(F.count(F.lit(1)).alias("ns"))
    uniq = (
        tc.join(spread, "g")
        .groupBy("source")
        .agg(F.sum(F.when(F.col("ns") == 1, 1).otherwise(0)).alias("u_tri"))
    )
    return (
        us.join(ts, "source")
        .join(uniq, "source")
        .select(
            "source",
            "n_tokens",
            "d_unigrams",
            F.round(F.col("d_unigrams").cast("double") / F.col("n_tokens"), 6).alias(
                "ttr"
            ),
            "n_trigrams",
            "d_trigrams",
            F.round(F.col("d_trigrams").cast("double") / F.col("n_trigrams"), 6).alias(
                "tri_ttr"
            ),
            F.round(F.col("n_trigrams").cast("double") / F.col("d_trigrams"), 6).alias(
                "rep_factor"
            ),
            F.round(F.col("u_tri").cast("double") / F.col("d_trigrams"), 6).alias(
                "uniq_tri_share"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q238 — one-row dataset card (corpus profile capstone)
# --------------------------------------------------------------------------
@query(
    "q238_dataset_card",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, (i - 1) // {LINE_W} AS pos,
               array_to_string(w[i:i+{LINE_W - 1}], ' ') AS line
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, greatest(len(w), 1) + 1, {LINE_W})) AS t(i)
    ),
    lines AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_lines,
               CAST(COUNT(DISTINCT line) AS DOUBLE) AS n_uniq
        FROM b
    ),
    d AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_chars
        FROM documents
    )
    SELECT d.n_docs, d.total_tokens, d.n_langs, d.n_sources, d.mean_chars,
           ROUND(1.0 - lines.n_uniq / lines.n_lines, 6) AS dup_line_share
    FROM d, lines
    """,
)
def q238_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD: the corpus profile a data release ships
    with — doc/token/language/source counts, mean length, and the
    duplicate-line share (1 − distinct/total over q180's 6-word line
    unit, the Falcon-style dedup headroom number). Composes the
    engine's existing segmentation into the single summary artifact.

    Scale shape: one scan feeds a global rollup (count-distincts are
    the only shuffles, each key-bounded); the line relation is the
    row-local segment_blocks explode with one distinct rollup; the
    two 1-row summaries cross-join (BNLJ_ALLOWED)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens())).cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("mean_chars"),
    )
    blocks = segment_blocks(docs.select("doc_id", "text"), LINE_W)
    lines = blocks.agg(
        F.count(F.lit(1)).cast("double").alias("n_lines"),
        F.countDistinct("line").cast("double").alias("n_uniq"),
    )
    return d.crossJoin(F.broadcast(lines)).select(
        "n_docs",
        "total_tokens",
        "n_langs",
        "n_sources",
        "mean_chars",
        F.round(1.0 - F.col("n_uniq") / F.col("n_lines"), 6).alias("dup_line_share"),
    )
