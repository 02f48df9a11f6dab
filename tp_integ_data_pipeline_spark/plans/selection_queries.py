"""Data-selection and corpus-analytics queries: DSIR importance
weights (q112), trigram-LM surprisal scoring (q113), BPE first-merge
pair counts (q114), event retention cohorts (q115), weighted and
stratified sampling (q119, q158), per-domain caps (q182) and
backoff-LM quality scoring (q193).

q112/q113 are the two model-free data-SELECTION verbs (pick
target-like documents; rank by LM surprisal) that sit between
curation (q93-q99) and mixture/packing (q100/q102) in a real
pre-training pipeline; q114 is the tokenizer-training counting step;
q115 is the classic cohort rollup every event warehouse runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.selection import (
    bpe_pair_counts,
    domain_cap,
    dsir_weights,
    trigram_surprisal,
    url_host,
)
from tp_integ_data_pipeline_spark.operators.text import tokens
from tp_integ_data_pipeline_spark.operators.timeseries import stratified_sample
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q112 — DSIR hashed-n-gram importance weights (target = lang 'en')
# --------------------------------------------------------------------------
@query(
    "q112_dsir_weights",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
               unnest(list_concat(
                   w, [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS g
        FROM base
    ),
    b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bucket
        FROM grams
    ),
    counts AS (
        SELECT bucket,
               COUNT(*) FILTER (WHERE lang = 'en') AS ct,
               COUNT(*) AS cr
        FROM b GROUP BY 1
    ),
    tot AS (SELECT SUM(ct) AS t, SUM(cr) AS r FROM counts),
    lr AS (
        SELECT bucket,
               ln((ct + 1.0) / (t + 4096.0)) - ln((cr + 1.0) / (r + 4096.0)) AS lr
        FROM counts CROSS JOIN tot
    )
    SELECT doc_id, round(SUM(lr), 6) + 0 AS weight
    FROM b JOIN lr USING (bucket)
    GROUP BY doc_id
    ORDER BY weight DESC, doc_id
    LIMIT 100
    """,
)
def q112_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 raw documents by DSIR importance weight against the
    lang='en' target slice — the selection pass that upsamples
    target-like data out of a raw crawl. Weight math and hashing in
    operators/selection.dsir_weights (md5-bucketed features, so the
    oracle replays the exact bucketing)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    w = dsir_weights(docs, F.col("lang") == "en")
    return (
        w.select(F.col("id").alias("doc_id"), "weight")
        .orderBy(F.col("weight").desc(), "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q113 — char-trigram surprisal scoring (perplexity-filter shape)
# --------------------------------------------------------------------------
@query(
    "q113_trigram_surprisal",
    oracle="""
    WITH tri AS (
        SELECT doc_id,
               unnest([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS gram
        FROM documents WHERE length(text) >= 3
    ),
    counts AS (SELECT gram, COUNT(*) AS c FROM tri GROUP BY 1),
    tot AS (SELECT SUM(c) AS n FROM counts)
    SELECT doc_id, COUNT(*) AS n_grams,
           round(-AVG(ln(c * 1.0 / n)), 6) + 0 AS surprisal
    FROM tri JOIN counts USING (gram) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY surprisal DESC, doc_id
    LIMIT 50
    """,
)
def q113_trigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 50 most surprising documents under the corpus's own char-
    trigram model — the CCNet-style perplexity-filter shape with a
    count LM standing in for KenLM (operators/selection.trigram_
    surprisal; stats-gated vocab broadcast)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    s = trigram_surprisal(docs)
    return (
        s.select(F.col("id").alias("doc_id"), "n_grams", "surprisal")
        .orderBy(F.col("surprisal").desc(), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q114 — BPE first-merge pair counts over the word vocabulary
# --------------------------------------------------------------------------
@query(
    "q114_bpe_pairs",
    oracle="""
    WITH vocab AS (
        SELECT w AS word, COUNT(*) AS wf
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1
    ),
    p AS (
        SELECT wf,
               unnest([substr(word, i, 2) for i in range(1, length(word))]) AS pair
        FROM vocab
    )
    SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt
    FROM p GROUP BY 1
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
)
def q114_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-symbol pairs by frequency-weighted count — the
    pair a BPE trainer merges first, computed over the vocabulary
    (not the token stream; operators/selection.bpe_pair_counts)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(docs)
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q115 — weekly retention cohorts over the events stream
# --------------------------------------------------------------------------
@query(
    "q115_retention_cohorts",
    oracle="""
    WITH ue AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ue GROUP BY 1)
    SELECT CAST(cohort_wk AS DATE) AS cohort_week,
           CAST(datediff('day', cohort_wk, wk) // 7 AS INT) AS week_offset,
           COUNT(*) AS n_active
    FROM ue JOIN cohort USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q115_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: users bucketed by first-seen ISO week,
    counted in each later week they were active. ONE user-keyed
    shuffle: per-user week sets are collect_set'd (bounded by the
    calendar, not the event volume), the cohort week is the row-local
    array_min, and the explode re-derives (user, week) pairs without a
    second pass over events — vs the join formulation's extra
    distinct+join exchanges. The final (cohort, offset) rollup is a
    second, output-sized shuffle."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.date_trunc("week", "ts").alias("wk"))
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("wks"))
        .select(
            F.array_min("wks").alias("cohort_wk"), F.explode("wks").alias("wk")
        )
    )
    return (
        per_user.select(
            F.col("cohort_wk").cast("date").alias("cohort_week"),
            F.expr("datediff(wk, cohort_wk) div 7").cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q116 — ordered conversion funnel (view → click → purchase)
# --------------------------------------------------------------------------
@query(
    "q116_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, event_type, ts,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS v_first
        FROM events
    ),
    s2 AS (
        SELECT user_id, event_type, ts, v_first,
               MIN(CASE WHEN event_type = 'click' AND ts > v_first THEN ts END)
                   OVER (PARTITION BY user_id) AS c_first
        FROM s1
    ),
    s3 AS (
        SELECT user_id, v_first, c_first,
               MIN(CASE WHEN event_type = 'purchase' AND ts > c_first THEN ts END)
                   OVER (PARTITION BY user_id) AS p_first
        FROM s2
    ),
    u AS (
        SELECT user_id, MAX(v_first IS NOT NULL) AS v,
               MAX(c_first IS NOT NULL) AS c, MAX(p_first IS NOT NULL) AS p
        FROM s3 GROUP BY user_id
    )
    SELECT stage, n_users FROM (
        SELECT 1 AS ord, 'view' AS stage, COUNT(*) FILTER (WHERE v) AS n_users FROM u
        UNION ALL
        SELECT 2, 'view>click', COUNT(*) FILTER (WHERE c) FROM u
        UNION ALL
        SELECT 3, 'view>click>purchase', COUNT(*) FILTER (WHERE p) FROM u
    ) ORDER BY ord
    """,
)
def q116_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: a user converts a stage only if its
    event happens strictly AFTER the previous stage's first event
    (first view → first later click → first later purchase). Three
    stacked windows over the SAME user partitioning — one shuffle, the
    second and third windows reuse the first's exchange — then a
    per-user rollup and a 3-row summary. The staged strictly-after
    semantics (not mere presence) is what makes this a funnel rather
    than three filters."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    s1 = ev.select(
        "user_id", "event_type", "ts"
    ).withColumn(
        "v_first", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "c_first",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("v_first")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "p_first",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_first")),
                F.col("ts"),
            )
        ).over(w),
    )
    u = s3.groupBy("user_id").agg(
        F.max(F.col("v_first").isNotNull()).alias("v"),
        F.max(F.col("c_first").isNotNull()).alias("c"),
        F.max(F.col("p_first").isNotNull()).alias("p"),
    )
    summary = u.agg(
        F.count(F.when(F.col("v"), 1)).alias("n_view"),
        F.count(F.when(F.col("c"), 1)).alias("n_click"),
        F.count(F.when(F.col("p"), 1)).alias("n_purchase"),
    )
    stages = F.array(
        F.struct(F.lit(1).alias("ord"), F.lit("view").alias("stage"), F.col("n_view").alias("n_users")),
        F.struct(F.lit(2).alias("ord"), F.lit("view>click").alias("stage"), F.col("n_click").alias("n_users")),
        F.struct(F.lit(3).alias("ord"), F.lit("view>click>purchase").alias("stage"), F.col("n_purchase").alias("n_users")),
    )
    return (
        summary.select(F.explode(stages).alias("s"))
        .select(F.col("s.ord").alias("ord"), F.col("s.stage").alias("stage"), F.col("s.n_users").alias("n_users"))
        .orderBy("ord")
        .select("stage", F.col("n_users").cast("long"))
    )


# --------------------------------------------------------------------------
# q117 — time-RANGE window: per-user trailing 1h moving average
# --------------------------------------------------------------------------
@query(
    "q117_trailing_window_avg",
    oracle="""
    SELECT event_id,
           round(AVG(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS avg_1h
    FROM events
    ORDER BY event_id
    """,
)
def q117_trailing_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour moving average of `value` per user — a
    RANGE-frame window keyed on event TIME, not row position (two
    events 5 s apart share almost their whole frame; a 2 h gap empties
    it). Spark's rangeBetween needs a numeric ordering key; the frame
    is anchored on INTEGER epoch MICROseconds (unix_micros ==
    DuckDB's epoch_us, the q28 convention) — whole-second keys
    (unix_timestamp vs DuckDB's fractional epoch()) would disagree on
    any frame whose true gap straddles the 3600 s boundary within the
    truncation error. Per-user partitions: one shuffle, no global
    window."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# q119 — weighted sampling without replacement (Efraimidis–Spirakis)
# --------------------------------------------------------------------------
@query(
    "q119_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               round(
                 ln((CAST(('0x' || substr(md5('ws1:' || CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) + 1.0) / 4294967297.0)
                 / n_chars, 9) AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, k
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 100
    """,
)
def q119_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, weight =
    n_chars (Efraimidis & Spirakis 2006: draw u~U(0,1) per item, keep
    the top-k by u^(1/w), equivalently by ln(u)/w): the standard
    one-pass distributed reservoir for "sample 100 docs proportional
    to length". u is md5-derived ((h+1)/(2^32+1) ∈ (0,1], seeded by a
    'ws1:' tag) so membership is content-stable across runs, engines
    and partitionings — rerunning yields the SAME sample, and changing
    the seed tag gives an independent one. Keys rounded to 9 dp before
    ranking (ULP-level libm differences can't flip an order decided by
    doc_id ties); top-k is a single TakeOrdered, no shuffle of the
    corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws1:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    key = F.round(
        F.log((h + F.lit(1.0)) / F.lit(4294967297.0)) / F.col("n_chars"), 9
    )
    return (
        docs.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q120 — mergeable HLL sketch rollup (shard-partials → global union)
# --------------------------------------------------------------------------
@query(
    "q120_hll_shard_rollup",
    oracle="""
    SELECT source, COUNT(DISTINCT doc_id) AS n_docs_est
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q120_hll_shard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count rollup the way a 100 TB warehouse actually runs
    it: each shard builds a LOCAL HLL sketch (one pass, fixed 2^14
    registers), shard sketches UNION per source, one estimate at the
    end — partials are mergeable state, so re-aggregation across
    shards/days/retries never rescans raw data (the Dataflow-model
    combiner contract; same shape as datasketches rollups).

    The oracle is the EXACT distinct count: DataSketches HLL is exact
    below ~0.75·2^lgK distinct (coupon mode), and every fixture SF
    keeps per-source doc cardinality under that bound — asserted by
    tests/test_selection.py::test_hll_rollup_exact_regime, so a
    fixture growing past the regime fails loudly in pytest rather than
    silently in the driver. At true 100 TB cardinalities the estimate
    carries the documented ~1.6/sqrt(2^14) ≈ 1.3% relative error and
    the oracle comparison would be dropped to rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("shard")
    per_shard = docs.select("source", shard, "doc_id").groupBy("source", "shard").agg(
        F.hll_sketch_agg("doc_id", F.lit(14)).alias("sk")
    )
    return (
        per_shard.groupBy("source")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_docs_est"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q125 — tokenizer vocabulary coverage / OOV-rate audit
# --------------------------------------------------------------------------
@query(
    "q125_vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
            ORDER BY c DESC, tok LIMIT 100
        )
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE tok IN (SELECT tok FROM vocab)) AS n_in_vocab,
           round(COUNT(*) FILTER (WHERE tok NOT IN (SELECT tok FROM vocab))
                 * 1.0 / COUNT(*), 6) AS oov_rate
    FROM toks
    GROUP BY source
    ORDER BY source
    """,
)
def q125_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: fix the top-100 corpus tokens as the
    'tokenizer vocabulary' and measure per-source OOV rate — the check
    run before shipping a tokenizer to training (a source with high
    OOV gets its text mangled into unknowns). The vocab is a bounded
    top-k (broadcast); token stream aggregates once per (source,
    in-vocab) — two corpus-token shuffles total, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens()).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(100)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("__in").isNotNull(), 1)).alias("n_in_vocab"),
            F.round(
                F.count(F.when(F.col("__in").isNull(), 1)) * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


def _bpe_oracle(n_merges: int = 8) -> str:
    """Unrolled DuckDB replay of the full BPE train→apply workflow.

    The training loop is iterative, but the merge BUDGET is a fixed
    constant (8) — so the loop unrolls into 8 chained CTE rounds, each
    computing the round's argmax pair then applying the merge. The key
    identity making the merge pass SQL-expressible: greedy left-to-
    right adjacent-pair merging over a symbol array == one standard
    ``replace()`` over the separator-joined symbol string (both scan
    left to right, take non-overlapping matches, and continue AFTER
    the replacement — 'a a a' + (a,a) → [aa, a] in both). To stop the
    pattern matching ACROSS symbol boundaries (symbols [th, e] must
    not match merge (h, e): 'th·e' contains 'h·e'), every boundary
    separator is DOUBLED and the ends padded before the replace, so
    the pattern ·a··b· only matches a fully-delimited symbol pair;
    doubling (rather than single padding) keeps consecutive matches
    intact ([a,b,a,b]+(a,b) → [ab, ab], since each match consumes its
    own trailing · without stealing the next match's leading ·). The
    result is split on ·, empties dropped, and re-joined single-·
    (round-6 ADVICE finding). chr(31) (ASCII unit separator) is the
    join char; asserted absent from the corpus. Argmax tie-break
    (cnt DESC, a, b) matches train_bpe.
    NOTE: no early-stop branch — valid while every learned merge has
    count >= min_count (holds at both check SFs; tests/test_bpe.py
    covers the early-stop path on a tiny corpus)."""
    sep = "chr(31)"
    parts = [
        f"""
    WITH r0 AS MATERIALIZED (
        SELECT word, wf, array_to_string(string_split(word, ''), {sep}) AS s
        FROM (
            SELECT w AS word, COUNT(*) AS wf
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE len(w) > 0 GROUP BY w
        )
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
    b{i} AS MATERIALIZED (
        SELECT pr[1] AS a, pr[2] AS b
        FROM (
            SELECT pr, SUM(wf) AS cnt
            FROM (
                SELECT wf, unnest([[l[j], l[j+1]] for j in range(1, len(l))]) AS pr
                FROM (SELECT wf, string_split(s, {sep}) AS l FROM r{i - 1})
            )
            GROUP BY pr
        )
        ORDER BY cnt DESC, pr[1], pr[2] LIMIT 1
    ),
    r{i} AS MATERIALIZED (
        SELECT word, wf,
               array_to_string(list_filter(string_split(
                   replace({sep} || replace(s, {sep}, {sep} || {sep}) || {sep},
                           {sep} || (SELECT a FROM b{i}) || {sep} || {sep}
                                 || (SELECT b FROM b{i}) || {sep},
                           {sep} || (SELECT a FROM b{i})
                                 || (SELECT b FROM b{i}) || {sep}),
                   {sep}), x -> length(x) > 0), {sep}) AS s
        FROM r{i - 1}
    )"""
        )
    final = f"""
    SELECT token, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(length(token) AS BIGINT) AS token_chars
    FROM (
        SELECT token, SUM(wf) AS n_occurrences
        FROM (SELECT wf, unnest(string_split(s, {sep})) AS token FROM r{n_merges})
        GROUP BY token
    )
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """
    return ",".join(parts) + final


# Hash-checked since round 6: the fixed 8-merge budget lets the train
# loop unroll into chained CTEs (see _bpe_oracle — greedy merge ==
# string replace). tests/test_bpe.py keeps the loop-shape checks
# (hand-computed merges, greedy-overlap semantics, early stop).
@query("q153_bpe_tokenizer", oracle=_bpe_oracle(8))
def q153_bpe_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer pass over the corpus (operators/bpe.py):
    train 8 merges distributed (pair counts and greedy merge passes
    over the word VOCABULARY — one corpus-token shuffle total, 1-row
    driver state per round), apply the merge table via
    vocabulary-side mapInPandas, and report the top tokens by corpus
    occurrence plus the compression this merge table bought
    (chars-per-token fertility). Completes q114 (one counting round)
    into the actual train→apply tokenizer workflow."""
    from tp_integ_data_pipeline_spark.operators.bpe import apply_bpe, train_bpe, word_vocab

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus-token shuffle feeds both train and apply
    vocab = word_vocab(docs, "text").localCheckpoint(eager=False)
    merges = train_bpe(docs, n_merges=8, vocab=vocab)
    toked = apply_bpe(docs, merges, vocab=vocab)
    return (
        toked.select(
            "wf", F.explode("tokens").alias("token")
        )
        .groupBy("token")
        .agg(F.sum("wf").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(20)
        .select(
            "token",
            "n_occurrences",
            F.length("token").cast("long").alias("token_chars"),
        )
    )


# --------------------------------------------------------------------------
# q158 — deterministic exact-k stratified sample
# --------------------------------------------------------------------------
_STRAT_K = 5


@query(
    "q158_stratified_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT lang, source, doc_id, n_chars
    FROM ranked WHERE rk <= {_STRAT_K}
    ORDER BY lang, source, doc_id
    """,
)
def q158_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {_STRAT_K}-per-(lang, source) sample, ranked by a content
    hash of the id so the draw is uniform-ish yet BIT-reproducible
    across engines and runs (md5 exists in both; xxhash64 does not in
    DuckDB). The stratum window is keyed (partition columns present →
    plan-gate clean) and Spark's rank-limit pushdown keeps per-task
    state at k rows per stratum."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, ["lang", "source"], "doc_id", _STRAT_K)
        .select("lang", "source", "doc_id", "n_chars")
        .orderBy("lang", "source", "doc_id")
    )


# --------------------------------------------------------------------------
# q182 — per-domain page caps over a URL column
# --------------------------------------------------------------------------
# Same deterministic URL on both engines; only the string-cast type
# name differs (Spark: STRING, DuckDB: VARCHAR).
_URL_EXPR = "'https://' || source || '-' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/page/' || CAST(doc_id AS VARCHAR)"
_URL_EXPR_SPARK = _URL_EXPR.replace("AS VARCHAR", "AS STRING")


@query(
    "q182_domain_cap",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, n_chars, {_URL_EXPR} AS url FROM documents
    ),
    h AS (
        SELECT doc_id, n_chars,
               lower(regexp_extract(url, '^[a-z][a-z0-9+.\\-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
        FROM u
    ),
    ranked AS (
        SELECT host, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id) AS rn
        FROM h
    ),
    kept AS (SELECT * FROM ranked WHERE rn <= 3)
    SELECT h.host,
           COUNT(*) AS n_docs,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(k.n_chars), 0) AS BIGINT) AS kept_chars,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_checksum
    FROM h LEFT JOIN kept k ON h.doc_id = k.doc_id
    GROUP BY h.host ORDER BY h.host
    """,
)
def q182_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/Gopher-style per-site page cap: derive each page's
    host from its URL (deterministic synthetic URL — the fixture has
    no URL column; host EXTRACTION is the real, RE2-portable
    machinery), keep at most 3 pages per host preferring longer
    documents (n_chars desc, doc_id tiebreak), and report per-host
    keep stats with the kept id-set checksummed so the oracle pins
    the exact selection. The cap is the salted two-phase top-N
    (operators/selection.domain_cap) — no windows, hot hosts spread
    over 16 tasks, each shuffle row bounded by the cap."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(_URL_EXPR_SPARK).alias("url")
    )
    hosts = docs.withColumn("host", url_host("url")).drop("url")
    kept = domain_cap(
        hosts,
        "host",
        3,
        [(-F.col("n_chars")).alias("neg_chars"), F.col("doc_id").alias("tb")],
        "doc_id",
    )
    kept_stats = kept.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.sum("doc_id").cast("long").alias("kept_id_checksum"),
    )
    totals = hosts.groupBy("host").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(kept_stats, "host", "left")
        .select(
            "host",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).cast("long").alias("kept_chars"),
            F.coalesce("kept_id_checksum", F.lit(0)).cast("long").alias("kept_id_checksum"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# q193 — stupid-backoff bigram LM: train on one slice, score the other
# --------------------------------------------------------------------------
@query(
    "q193_backoff_lm_score",
    oracle="""
    WITH tr AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 2 = 0
    ),
    te AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 2 = 1
    ),
    uni AS (
        SELECT t.tok AS w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM tr, UNNEST(w) AS t(tok) GROUP BY 1
    ),
    scal AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n_tok,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM uni
    ),
    bi AS (
        SELECT w[i] AS w1, w[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c2
        FROM tr, UNNEST(range(1, len(w))) AS t(i) GROUP BY 1, 2
    ),
    bi2 AS (
        SELECT b.w1, b.w2, b.c2, u.c1 AS c1w1
        FROM bi b JOIN uni u ON u.w = b.w1
    ),
    occ AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM te, UNNEST(range(1, len(w))) AS t(i)
    ),
    sc AS (
        SELECT o.doc_id,
               CASE WHEN b.c2 IS NOT NULL
                    THEN CAST(b.c2 AS DOUBLE) / CAST(b.c1w1 AS DOUBLE)
                    ELSE CAST(2 * (COALESCE(u2.c1, 0) + 1) AS DOUBLE)
                         / CAST(5 * (s.n_tok + s.vocab) AS DOUBLE)
               END AS p,
               CASE WHEN b.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM occ o
        LEFT JOIN bi2 b ON b.w1 = o.w1 AND b.w2 = o.w2
        LEFT JOIN uni u2 ON u2.w = o.w2
        CROSS JOIN scal s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS hit_rate,
           ROUND(SUM(ln(p)) / COUNT(*), 6) + 0 AS avg_ll
    FROM sc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q193_backoff_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring without KenLM: train a
    stupid-backoff bigram model (Brants et al. 2007 — score is
    c(w1 w2)/c(w1), backing off to 0.4-weighted Laplace-smoothed
    unigrams, no normalization) on the even-doc_id half of the corpus
    and score every odd-doc_id document: per-doc mean log-score (the
    perplexity-filter proxy) and seen-bigram hit rate. Cross-engine
    hash rules: every ln() argument is ONE division of two exact
    integers (bit-identical both engines; ln's last-ULP variance dies
    under ROUND(,6) — the q192 convention), and avg_ll is
    negative-capable so it gets `+ 0` after ROUND.

    Scale shape: bigrams are materialized ROW-LOCALLY inside the token
    array (no self-join), counted with one map-side-combinable keyed
    agg each; the model (unigram + bigram relations) is
    vocab/vocab²-bounded and attaches to the scored occurrences by
    plain equi-joins on the gram key; the only cross join is the 1-row
    (n_tok, vocab) scalar. No window anywhere; output is one row per
    scored doc."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    arr = tokens()
    pair_structs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("w1"),
                F.element_at(arr, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)

    uni = (
        train.select(F.explode(arr).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    uni = uni.localCheckpoint(eager=False)  # feeds scal, bi2, and the w2 backoff join
    scal = uni.agg(F.sum("c1").alias("n_tok"), F.count(F.lit(1)).alias("vocab"))
    bi = (
        train.select(F.explode(pair_structs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    bi2 = bi.join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1w1")), "w1")

    occ = test.select("doc_id", F.explode(pair_structs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    joined = (
        occ.join(bi2, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(scal))
    )
    p = F.when(
        F.col("c2").isNotNull(),
        F.col("c2").cast("double") / F.col("c1w1").cast("double"),
    ).otherwise(
        (2 * (F.coalesce(F.col("c1w2"), F.lit(0)) + 1)).cast("double")
        / (5 * (F.col("n_tok") + F.col("vocab"))).cast("double")
    )
    hit = F.when(F.col("c2").isNotNull(), 1).otherwise(0)
    return (
        joined.select("doc_id", p.alias("p"), hit.alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("hit").alias("n_hits"),
            F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "hit_rate"
            ),
            (F.round(F.sum(F.log("p")) / F.count(F.lit(1)), 6) + F.lit(0)).alias(
                "avg_ll"
            ),
        )
        .orderBy("doc_id")
    )
