"""Round-6 operator surface: BM25 ranked retrieval, count-min sketch
point frequencies, k-anonymity/l-diversity release audit, and
per-source n-gram novelty attribution. All SURVEY.md §2.10 extension
operators (no reference-repo counterpart; file:line citations live on
the operator docstrings they delegate to)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.privacy import k_anonymity_report
from tp_integ_data_pipeline_spark.operators.search import bm25_topk
from tp_integ_data_pipeline_spark.operators.sketches import cms_build, cms_estimate
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

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
# q165 — count-min sketch point-frequency estimates
# --------------------------------------------------------------------------
_CMS_DEPTH, _CMS_WIDTH = 4, 256
_CMS_PROBES = [
    "join", "filter", "window", "spark", "table", "hash",
    "merge", "scan", "agg", "zzz_absent_token",
]


def _cms_oracle() -> str:
    probes = ", ".join(f"('{t}')" for t in _CMS_PROBES)
    return f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    placed AS (
        SELECT r, CAST(('0x' || substr(md5(token), r * 8 + 1, 8)) AS BIGINT)
                  % {_CMS_WIDTH} AS bucket
        FROM toks, UNNEST(range(0, {_CMS_DEPTH})) AS t(r)
        WHERE token <> ''
    ),
    sketch AS (SELECT r, bucket, COUNT(*) AS c FROM placed GROUP BY 1, 2),
    probes(token) AS (VALUES {probes}),
    pb AS (
        SELECT token, r,
               CAST(('0x' || substr(md5(token), r * 8 + 1, 8)) AS BIGINT)
               % {_CMS_WIDTH} AS bucket
        FROM probes, UNNEST(range(0, {_CMS_DEPTH})) AS t(r)
    ),
    est AS (
        SELECT pb.token, MIN(COALESCE(s.c, 0)) AS cms_est
        FROM pb LEFT JOIN sketch s ON s.r = pb.r AND s.bucket = pb.bucket
        GROUP BY 1
    ),
    truth AS (
        SELECT p.token, COUNT(t.token) AS true_cnt
        FROM probes p LEFT JOIN toks t ON t.token = p.token
        GROUP BY 1
    )
    SELECT token, CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(cms_est AS BIGINT) AS cms_est
    FROM est JOIN truth USING (token)
    ORDER BY token
    """


@query("q165_count_min_sketch", oracle=_cms_oracle())
def q165_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed with a
    fixed key list (including one absent key): (token, true_cnt,
    cms_est) with est >= truth always and the depth-min bounding the
    collision overshoot. The sketch is depth x width = {d}x{w} counter
    rows — REAGGREGABLE partial state (shard sketches re-sum into the
    corpus sketch), which is the whole point at 100 TB: point
    frequencies without keeping the unbounded key dictionary. Counter
    placement chunks ONE engine-portable md5 digest per occurrence
    into the depth row-hashes (operators/sketches.cms_bucket — 4x
    fewer hashes on the hot path than per-row salting, r7), so the
    oracle reproduces every collision exactly.""".format(
        d=_CMS_DEPTH, w=_CMS_WIDTH
    )
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .localCheckpoint(eager=False)  # feeds the sketch AND the truth branch
    )
    sketch = cms_build(toks, "token", _CMS_DEPTH, _CMS_WIDTH)
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "token string")
    est = cms_estimate(sketch, probes, "token", _CMS_DEPTH, _CMS_WIDTH)
    truth = (
        probes.join(toks.withColumn("__one", F.lit(1)), "token", "left")
        .groupBy("token")
        .agg(F.count("__one").alias("true_cnt"))
    )
    return (
        est.join(truth, "token")
        .select("token", "true_cnt", "cms_est")
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# q166 — k-anonymity / l-diversity release audit
# --------------------------------------------------------------------------
_KANON_K = 5


@query(
    "q166_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS class_size,
           COUNT(DISTINCT FLOOR(c_acctbal / 1000)) AS l_diversity,
           COUNT(*) < {_KANON_K} AS at_risk
    FROM customer
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q166_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity audit of the customer table under the
    quasi-identifier (nation, market segment), sensitive attribute =
    account-balance band: one row per equivalence class with its size,
    sensitive diversity, and an at_risk flag for classes below k={k}.
    The release gate a GDPR pipeline runs AFTER pseudonymization
    (q148): pseudonyms stop direct lookup, this catches re-
    identification through quasi-identifier combinations. One keyed
    aggregate, output bounded by the quasi-value cross product
    (operators/privacy.k_anonymity_report).""".format(k=_KANON_K)
    cust = load_table(spark, sf_dir, "customer")
    banded = cust.withColumn("__band", F.floor(F.col("c_acctbal") / 1000))
    return (
        k_anonymity_report(banded, ["c_nationkey", "c_mktsegment"], "__band", k=_KANON_K)
        .orderBy("c_nationkey", "c_mktsegment")
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
    from tp_integ_data_pipeline_spark.plans.curation import word_ngrams

    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = (
        docs.select("source", F.split("text", " ").alias("w"))
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
# q168 — KMV distinct-count estimation across fact foreign keys
# --------------------------------------------------------------------------
_KMV_K = 256
_KMV_COLS = [("orders", "o_custkey"), ("lineitem", "l_partkey"), ("lineitem", "l_suppkey")]


def _kmv_oracle() -> str:
    parts = []
    for tbl, col in _KMV_COLS:
        parts.append(f"""
    SELECT '{col}' AS col, CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*) * 1.0
                      ELSE {_KMV_K - 1}.0 / MAX(h) END, 6) AS est,
           (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) FROM {tbl}) AS true_distinct
    FROM (
        SELECT DISTINCT (CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 12))
                         AS BIGINT) + 1.0) / 281474976710656.0 AS h
        FROM {tbl} ORDER BY h LIMIT {_KMV_K}
    )""")
    return " UNION ALL ".join(parts) + " ORDER BY col"


@query("q168_kmv_distinct", oracle=_kmv_oracle())
def q168_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality sketches over the fact foreign keys: per column
    (n_kept, estimate, true distinct). The sketch is k={k} hash-sample
    rows — the cardinality family member that, unlike HLL registers
    (q120), also supports sketch INTERSECTION for join-size estimation,
    and merges by union + re-take-k-min. The k-min cut is
    TakeOrderedAndProject (per-partition k-min, k-row driver merge —
    never a global sort), and the md5 hash is engine-portable so the
    oracle reproduces the exact sample and estimate. true_distinct is
    the audit column (estimate within ~1/sqrt(k) ≈ 6%).""".format(k=_KMV_K)
    from tp_integ_data_pipeline_spark.operators.sketches import kmv_estimate, kmv_sketch

    outs = []
    for tbl, col in _KMV_COLS:
        t = load_table(spark, sf_dir, tbl)
        est = kmv_estimate(kmv_sketch(t, col, _KMV_K), _KMV_K)
        true = t.agg(F.countDistinct(col).alias("true_distinct"))
        outs.append(
            est.crossJoin(F.broadcast(true)).select(
                F.lit(col).alias("col"),
                "n_kept",
                F.round("est", 6).alias("est"),
                "true_distinct",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col")


# --------------------------------------------------------------------------
# q169 — exact per-group decile vectors (rank/count formulation)
# --------------------------------------------------------------------------
_DECILES = [1, 2, 3, 4, 5, 6, 7, 8, 9]


@query(
    "q169_grouped_deciles",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_type, CAST(tenth AS INT) AS tenth, value AS v
    FROM ranked
    JOIN (SELECT unnest(range(1, 10)) AS tenth)
      ON rk = (tenth * n + 9) // 10
    ORDER BY event_type, tenth
    """,
)
def q169_grouped_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10..p90 of event value per event type — percentile_disc
    semantics (the value at rank ceil(q*n)) via one group-keyed window
    sort and an INTEGER rank formula (t*n+9) div 10, so no q*n
    floating-point boundary exists for the engines to disagree on.
    The decile-vector generalization of q162's median/MAD machinery
    (operators/timeseries.grouped_quantiles): feature-binning edges /
    SLA percentiles without a percentile aggregate that buffers whole
    groups in one task."""
    from tp_integ_data_pipeline_spark.operators.timeseries import grouped_quantiles

    ev = load_table(spark, sf_dir, "events")
    return (
        grouped_quantiles(ev, ["event_type"], "value", _DECILES)
        .select("event_type", "tenth", "v")
        .orderBy("event_type", "tenth")
    )


# --------------------------------------------------------------------------
# q170 — PSI distribution-drift report between two time slices
# --------------------------------------------------------------------------
_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_BINS = 10


@query(
    "q170_psi_drift",
    oracle=f"""
    WITH bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    binned AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 0 ELSE 1 END AS half,
               CAST(LEAST(FLOOR((value - b.lo) / (b.hi - b.lo) * {_PSI_BINS}),
                          {_PSI_BINS - 1}) AS INT) AS bin
        FROM events, bounds b
    ),
    counts AS (
        SELECT event_type, half, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2, 3
    ),
    totals AS (SELECT event_type, half, SUM(c) AS n FROM counts GROUP BY 1, 2),
    grid AS (
        SELECT t.event_type, g.bin
        FROM (SELECT DISTINCT event_type FROM binned) t,
             (SELECT unnest(range(0, {_PSI_BINS})) AS bin) g
    ),
    probs AS (
        SELECT g.event_type, g.bin,
               (COALESCE(ca.c, 0) + 1.0)
               / (COALESCE((SELECT n FROM totals
                            WHERE event_type = g.event_type AND half = 0), 0)
                  + {_PSI_BINS}.0) AS pa,
               (COALESCE(cb.c, 0) + 1.0)
               / (COALESCE((SELECT n FROM totals
                            WHERE event_type = g.event_type AND half = 1), 0)
                  + {_PSI_BINS}.0) AS pb
        FROM grid g
        LEFT JOIN counts ca ON ca.event_type = g.event_type AND ca.bin = g.bin AND ca.half = 0
        LEFT JOIN counts cb ON cb.event_type = g.event_type AND cb.bin = g.bin AND cb.half = 1
    )
    SELECT p.event_type,
           COALESCE((SELECT CAST(n AS BIGINT) FROM totals
                     WHERE event_type = p.event_type AND half = 0), 0) AS n_a,
           COALESCE((SELECT CAST(n AS BIGINT) FROM totals
                     WHERE event_type = p.event_type AND half = 1), 0) AS n_b,
           ROUND(SUM((pb - pa) * ln(pb / pa)), 6) AS psi
    FROM probs p
    GROUP BY p.event_type
    ORDER BY p.event_type
    """,
)
def q170_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between the first and
    second half of the event stream, per event type — the model-ops
    gate that decides whether a feature's distribution moved enough to
    retrain. Fixed-width bins from a GLOBAL 1-row [lo, hi] scalar (the
    q133 mergeable-histogram pattern), Laplace-smoothed bin shares so
    empty bins contribute finite mass, PSI = sum (p_b - p_a) ln(p_b /
    p_a) — every term non-negative, so no -0.0 trap. Shape: one
    (type, half, bin)-keyed aggregate over the corpus + a types x bins
    grid join (catalog-bounded) — raw values are never sorted or
    collected."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), 0).otherwise(1).alias("half"),
        F.least(
            F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _PSI_BINS),
            F.lit(_PSI_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
    )
    # counts is the ONLY consumer of the events-sized binned relation;
    # everything below derives from this bounded (type, half, bin)
    # table — the lazy checkpoint stops its five downstream readers
    # from re-scanning events five times (the q163 recomputation
    # lesson, caught by this round's plan audit)
    counts = (
        binned.groupBy("event_type", "half", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("event_type", "half").agg(F.sum("c").alias("n"))
    # types x bins grid row-locally (explode of a constant array — no
    # join node, nothing to allowlist)
    grid = (
        counts.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.array(*[F.lit(b) for b in range(_PSI_BINS)])).alias("bin"),
        )
    )
    na = totals.filter(F.col("half") == 0).select("event_type", F.col("n").alias("__na"))
    nb = totals.filter(F.col("half") == 1).select("event_type", F.col("n").alias("__nb"))
    ca = counts.filter(F.col("half") == 0).select("event_type", "bin", F.col("c").alias("__ca"))
    cb = counts.filter(F.col("half") == 1).select("event_type", "bin", F.col("c").alias("__cb"))
    probs = (
        grid.join(F.broadcast(ca), ["event_type", "bin"], "left")
        .join(F.broadcast(cb), ["event_type", "bin"], "left")
        # LEFT joins + coalesce-to-0: a type confined to one half keeps
        # its row, the empty half degrading to the uniform Laplace
        # floor pa = 1/BINS (n_a/n_b report 0) — matching the oracle's
        # COALESCE'd scalar subqueries instead of silently dropping
        # the type (round-6 ADVICE finding)
        .join(F.broadcast(na), "event_type", "left")
        .join(F.broadcast(nb), "event_type", "left")
        .select(
            "event_type",
            F.coalesce("__na", F.lit(0)).alias("__na"),
            F.coalesce("__nb", F.lit(0)).alias("__nb"),
            (
                (F.coalesce("__ca", F.lit(0)) + 1.0)
                / (F.coalesce("__na", F.lit(0)) + float(_PSI_BINS))
            ).alias("pa"),
            (
                (F.coalesce("__cb", F.lit(0)) + 1.0)
                / (F.coalesce("__nb", F.lit(0)) + float(_PSI_BINS))
            ).alias("pb"),
        )
    )
    return (
        probs.groupBy("event_type")
        .agg(
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
            F.round(F.sum((F.col("pb") - F.col("pa")) * F.log(F.col("pb") / F.col("pa"))), 6).alias(
                "psi"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q171 — KMV sketch intersection: join-size estimation without a join
# --------------------------------------------------------------------------
_KMV_SPLIT = "1998-06-01 00:00:00"


@query(
    "q171_kmv_join_estimate",
    oracle=f"""
    WITH a_keys AS (SELECT DISTINCT l_partkey AS k FROM lineitem
                    WHERE l_shipdate < TIMESTAMP '{_KMV_SPLIT}'),
    b_keys AS (SELECT DISTINCT l_partkey AS k FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '{_KMV_SPLIT}'),
    sa AS (SELECT (CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12)) AS BIGINT)
                   + 1.0) / 281474976710656.0 AS h
           FROM a_keys ORDER BY h LIMIT {_KMV_K}),
    sb AS (SELECT (CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12)) AS BIGINT)
                   + 1.0) / 281474976710656.0 AS h
           FROM b_keys ORDER BY h LIMIT {_KMV_K}),
    u AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb))
          ORDER BY h LIMIT {_KMV_K}),
    stats AS (
        SELECT (SELECT MAX(h) FROM u) AS theta,
               (SELECT COUNT(*) FROM u) AS ku,
               (SELECT COUNT(*) FROM u WHERE h IN (SELECT h FROM sa)
                                         AND h IN (SELECT h FROM sb)) AS c
    )
    SELECT CAST(ku AS BIGINT) AS k_used, CAST(c AS BIGINT) AS n_both,
           ROUND((ku - 1) / theta, 6) AS est_union,
           ROUND(c * 1.0 / ku, 6) AS est_jaccard,
           ROUND((c * 1.0 / ku) * ((ku - 1) / theta), 6) AS est_inter,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a_keys JOIN b_keys USING (k)) AS true_inter
    FROM stats
    """,
)
def q171_kmv_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the key overlap of two corpus slices WITHOUT joining
    them — the join-size/cardinality planning question a 100 TB
    optimizer asks before committing to a shuffle. KMV sketches of the
    parts shipped before/after the split date; the union sketch's
    theta estimates |A u B|, the fraction of union samples present in
    BOTH sketches estimates Jaccard, and their product the
    intersection (Beyer et al. 2007). Everything after the two k-row
    TakeOrdered cuts runs over <= 2k sample rows; true_inter is the
    audit column (exact semi-join, fine at check scale — the contrast
    is the point). The md5 draw is engine-portable, so the oracle
    reproduces the sample sets exactly."""
    from tp_integ_data_pipeline_spark.operators.sketches import kmv_sketch

    li = load_table(spark, sf_dir, "lineitem")
    split = F.lit(_KMV_SPLIT).cast("timestamp")
    a = li.filter(F.col("l_shipdate") < split).select(F.col("l_partkey").alias("k"))
    b = li.filter(F.col("l_shipdate") >= split).select(F.col("l_partkey").alias("k"))
    sa = kmv_sketch(a, "k", _KMV_K).localCheckpoint(eager=False)
    sb = kmv_sketch(b, "k", _KMV_K).localCheckpoint(eager=False)
    u = sa.unionByName(sb).distinct().orderBy("h").limit(_KMV_K)
    tagged = (
        u.join(sa.withColumn("__a", F.lit(1)), "h", "left")
        .join(sb.withColumn("__b", F.lit(1)), "h", "left")
    )
    stats = tagged.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.count(F.when(F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1)).alias(
            "n_both"
        ),
        F.max("h").alias("__theta"),
    )
    true_inter = a.distinct().join(b.distinct(), "k").agg(
        F.count(F.lit(1)).alias("true_inter")
    )
    return stats.crossJoin(F.broadcast(true_inter)).select(
        "k_used",
        "n_both",
        F.round((F.col("k_used") - 1) / F.col("__theta"), 6).alias("est_union"),
        F.round(F.col("n_both") * 1.0 / F.col("k_used"), 6).alias("est_jaccard"),
        F.round(
            (F.col("n_both") * 1.0 / F.col("k_used"))
            * ((F.col("k_used") - 1) / F.col("__theta")),
            6,
        ).alias("est_inter"),
        "true_inter",
    )


# --------------------------------------------------------------------------
# q172 — Bloom-filter semi-join pruning audit
# --------------------------------------------------------------------------
_BLOOM_M = 65536


@query(
    "q172_bloom_prune",
    oracle=f"""
    WITH keys AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    pos AS (
        SELECT CAST(('0x' || substr(md5(r || ':' || CAST(p_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_BLOOM_M} AS pos
        FROM keys, UNNEST(range(0, 3)) t(r)
    ),
    words AS (
        -- bit 63: DuckDB's checked shift overflows on 1<<63, Spark's
        -- shiftleft wraps to the sign bit — spell the wrap explicitly
        SELECT pos // 64 AS w,
               bit_or(CASE WHEN pos % 64 = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                           ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END) AS bits
        FROM pos GROUP BY 1
    ),
    lp AS (SELECT l_partkey, COUNT(*) AS nrows FROM lineitem GROUP BY 1),
    probe AS (
        SELECT l_partkey, nrows, r,
               CAST(('0x' || substr(md5(r || ':' || CAST(l_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % {_BLOOM_M} AS pos
        FROM lp, UNNEST(range(0, 3)) t(r)
    ),
    hits AS (
        SELECT l_partkey, MIN(nrows) AS nrows,
               COUNT(CASE WHEN (w.bits >> CAST(pos % 64 AS INT)) & 1 = 1 THEN 1 END) AS nb
        FROM probe LEFT JOIN words w ON w.w = pos // 64
        GROUP BY 1
    ),
    flags AS (
        SELECT nrows, nb = 3 AS pass,
               l_partkey IN (SELECT p_partkey FROM keys) AS truly
        FROM hits
    )
    SELECT CAST(SUM(nrows) AS BIGINT) AS n_fact,
           CAST(COALESCE(SUM(CASE WHEN pass THEN nrows END), 0) AS BIGINT) AS n_pass_bloom,
           CAST(COALESCE(SUM(CASE WHEN truly THEN nrows END), 0) AS BIGINT) AS n_true_match,
           CAST(COALESCE(SUM(CASE WHEN pass AND NOT truly THEN nrows END), 0) AS BIGINT)
               AS n_false_pos
    FROM flags
    """,
)
def q172_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join pruning with a Bloom filter built on the PROMO part
    keys and shipped to the fact scan as a PLAN LITERAL (exactly how
    Spark's own runtime filters work — operators/sketches.bloom_words
    / bloom_might_contain): the fact side drops non-matching rows
    ROW-LOCALLY inside the scan stage, before any exchange, paying
    m/8 bytes of broadcast instead of a shuffle of the full fact
    relation. Output audits the filter: fact rows, Bloom passes, true
    semi-join matches, false positives (no false negatives by
    construction — asserted by n_pass >= n_true). The md5 bit
    placement is engine-portable, so the oracle reproduces every
    collision; the dim-side driver pull is bounded by the CONSTANT
    m = {m} bits, never data-sized.""".format(m=_BLOOM_M)
    from tp_integ_data_pipeline_spark.operators.sketches import (
        bloom_might_contain,
        bloom_words,
    )

    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    keys = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    words = bloom_words(keys, "p_partkey", _BLOOM_M)
    flagged = li.select(
        "l_partkey",
        bloom_might_contain("l_partkey", words, _BLOOM_M).alias("pass"),
    ).join(
        F.broadcast(keys.withColumn("__t", F.lit(1))),
        F.col("l_partkey") == F.col("p_partkey"),
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.count(F.when(F.col("pass"), 1)).alias("n_pass_bloom"),
        F.count(F.when(F.col("__t").isNotNull(), 1)).alias("n_true_match"),
        F.count(F.when(F.col("pass") & F.col("__t").isNull(), 1)).alias("n_false_pos"),
    )


# --------------------------------------------------------------------------
# q173 — ANALYZE-style column statistics snapshot
# --------------------------------------------------------------------------
_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _column_stats_oracle() -> str:
    parts = []
    for c in _STATS_COLS:
        parts.append(f"""
    SELECT '{c}' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
           ROUND(MIN({c}), 6) AS min_v,
           ROUND(MAX({c}), 6) AS max_v,
           ROUND((CAST(SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS DOUBLE) / 100.0)
                 / COUNT({c}), 6) AS avg_v
    FROM lineitem""")
    return " UNION ALL ".join(parts) + " ORDER BY col"


@query("q173_column_stats", oracle=_column_stats_oracle())
def q173_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style per-column statistics snapshot (rows, nulls,
    exact NDV, min/max/avg) over the fact measures — the stats a
    cost-based optimizer feeds on, and the nightly profile a data
    contract monitors. ONE scan: all columns' aggregates fuse into a
    single map-side-combined pass (the q157 one-scan-audit shape),
    unpivoted row-locally to long form. Exact NDV is the check-scale
    oracle contrast; the 100 TB estimation path is the KMV sketch
    (q168) or HLL (q120). Values are non-negative fact measures — no
    -0.0 trap."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _STATS_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__ndv_{c}"),
            F.round(F.min(c), 6).alias(f"__mn_{c}"),
            F.round(F.max(c), 6).alias(f"__mx_{c}"),
            # avg via an exact INTEGER-CENTS sum: a float AVG's
            # partial-combine order follows the scan layout (the r15
            # scan spread exposed a one-ULP ROUND(,6) flip here). All
            # four fact measures are exactly 2-decimal at every SF (max
            # |frac(100·c)| ≤ 1e-9, re-verified round 16), so summing
            # ROUND(c*100) as DECIMAL(38,0) is exact and
            # order-independent. It is not summed as LONG, which wraps
            # silently on overflow under non-ANSI mode while the
            # oracle's SUM(BIGINT) widens to HUGEINT; the decimal sum
            # costs ~1.8x the LONG one at sf0.1. The final double
            # division + ROUND(,6) is the same IEEE op in both engines.
            F.round(
                F.sum(F.round(F.col(c) * 100).cast("decimal(38,0)")).cast("double")
                / F.lit(100.0)
                / F.count(F.col(c)),
                6,
            ).alias(f"__av_{c}"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', __n_{c}, __nn_{c}, __ndv_{c}, __mn_{c}, __mx_{c}, __av_{c}"
        for c in _STATS_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_STATS_COLS)}, {stack})"
            " as (col, n_rows, n_nulls, ndv, min_v, max_v, avg_v)"
        )
    ).orderBy("col")


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
# q175 — exact set-similarity join via prefix filtering (AllPairs)
# --------------------------------------------------------------------------
_SSJ_T = 0.6

# The ordered-sets relation (shingle → global-frequency order → per-doc
# arrays) is THRESHOLD-INDEPENDENT and dominates both q175's (t=0.6)
# and q185's (t=0.5) wall time — share one lazily-checkpointed copy
# per (session, corpus), the r7-VERDICT item-5 fix
# (plans/session_cache.py carries the eviction discipline).
def _ordered_sets(spark: SparkSession, sf_dir: str) -> "DataFrame":
    from tp_integ_data_pipeline_spark.operators.dedup import (
        ordered_token_sets,
        shingles,
    )
    from tp_integ_data_pipeline_spark.plans.session_cache import session_cached

    def build() -> "DataFrame":
        docs = load_table(spark, sf_dir, "documents", spread=True)
        sh = shingles(docs, "doc_id", "text", k=3).select(
            "id", F.col("sh").alias("tok")
        )
        return ordered_token_sets(sh)

    return session_cached(spark, "ordered_sets", (sf_dir,), build)


def _ssj_oracle() -> str:
    from tp_integ_data_pipeline_spark.operators.dedup import shingle_sql

    return f"""
    WITH {shingle_sql("documents", "doc_id", "text", 3)},
    n AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
    i AS (
        SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT a, b, ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
    FROM i JOIN n na ON na.id = i.a JOIN n nb ON nb.id = i.b
    WHERE ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) >= {_SSJ_T}
    ORDER BY a, b
    """


@query("q175_prefix_similarity_join", oracle=_ssj_oracle())
def q175_prefix_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs (3-gram-shingle Jaccard >= 0.6) via prefix
    filtering (AllPairs/PPJoin, Bayardo et al. 2007) — the lossless
    complement to MinHash-LSH q42 over the same shingle unit: rarest-
    first global ordering bounds each set's candidate-generating
    prefix to (1-t)|s|+1 elements, candidates come from ONE prefix-
    element equi-join (provably complete — no recall caveat, which is
    why this query hash-checks while LSH's guarantee is
    probabilistic), verification is row-local array_intersect. The
    oracle is the naive all-pairs shingle self-join — fine at check
    scale, the prefix bound is what survives 100 TB
    (operators/dedup.set_similarity_join). The threshold-independent
    ordered-sets prework is shared with q185 via _ordered_sets."""
    from tp_integ_data_pipeline_spark.operators.dedup import set_similarity_join

    ordered = _ordered_sets(spark, sf_dir)
    return set_similarity_join(None, _SSJ_T, ordered=ordered).orderBy("a", "b")


# --------------------------------------------------------------------------
# q177 — exact per-group weighted median
# --------------------------------------------------------------------------
@query(
    "q177_weighted_median",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice AS v,
               SUM(l_quantity) OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_quantity
                   ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
        FROM lineitem
    )
    SELECT l_returnflag, MIN(v) AS wmedian
    FROM ranked WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q177_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — the
    lower weighted median (smallest value whose running weight reaches
    half the group total; deterministic: rows sort by value, so the
    minimal crossed value cannot depend on tie order, and the result
    is a RAW data value — no arithmetic, no rounding, no -0.0
    surface). operators/timeseries.grouped_weighted_median: one
    group-keyed window sort carrying the running weight sum, row-local
    first-crossing pick — the weighted sibling of q24/q162's exact
    medians, and the robust center a skewed revenue distribution needs
    (a plain median treats a 1-unit and a 50-unit line item alike)."""
    from tp_integ_data_pipeline_spark.operators.timeseries import (
        grouped_weighted_median,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return (
        grouped_weighted_median(li, ["l_returnflag"], "l_extendedprice", "l_quantity")
        .select("l_returnflag", "wmedian")
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q178 — per-group winsorization (decile-edge clipping) audit
# --------------------------------------------------------------------------
@query(
    "q178_winsorize",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    edges AS (
        SELECT event_type,
               MIN(CASE WHEN rk = (1 * n + 9) // 10 THEN value END) AS lo,
               MIN(CASE WHEN rk = (9 * n + 9) // 10 THEN value END) AS hi
        FROM ranked GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN value < lo THEN 1 END) AS BIGINT) AS n_clip_lo,
           CAST(COUNT(CASE WHEN value > hi THEN 1 END) AS BIGINT) AS n_clip_hi,
           ROUND(AVG(value), 6) AS mean_raw,
           ROUND(AVG(LEAST(GREATEST(value, lo), hi)), 6) AS mean_winsor
    FROM events e JOIN edges USING (event_type)
    GROUP BY e.event_type, lo, hi
    ORDER BY e.event_type
    """,
)
def q178_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit: clip event values at the exact per-type
    p10/p90 decile edges (grouped_quantiles — the q169 integer-rank
    machinery, so the edges are engine-identical) and report clip
    counts plus the raw-vs-winsorized mean — the outlier-robust
    feature-cleaning pass run before training on heavy-tailed metrics.
    Shape: one group-keyed window sort for the edges, the |types|-row
    edge table broadcast back, one aggregate; values are strictly
    positive (no -0.0 surface)."""
    from tp_integ_data_pipeline_spark.operators.timeseries import grouped_quantiles

    ev = load_table(spark, sf_dir, "events")
    q = grouped_quantiles(ev, ["event_type"], "value", [1, 9])
    edges = q.groupBy("event_type").agg(
        F.min(F.when(F.col("tenth") == 1, F.col("v"))).alias("lo"),
        F.min(F.when(F.col("tenth") == 9, F.col("v"))).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(edges), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clip_lo"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clip_hi"),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clipped), 6).alias("mean_winsor"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q179 — containment join: pairwise benchmark decontamination
# --------------------------------------------------------------------------
_CONT_T = 0.8


@query(
    "q179_containment_join",
    oracle=f"""
    WITH bench AS (
        SELECT doc_id AS id,
               array_to_string(toks[1:greatest(3, CAST(FLOOR(len(toks) * 0.6) AS INT))], ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE doc_id % 83 = 0
    ),
    q AS (
        SELECT DISTINCT id, array_to_string(toks[i:i+2], ' ') AS tok
        FROM (SELECT id, string_split(text, ' ') AS toks FROM bench),
             UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)
    ),
    c AS (
        SELECT DISTINCT doc_id AS id, array_to_string(toks[i:i+2], ' ') AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)
    ),
    qn AS (SELECT id, COUNT(*) AS n FROM q GROUP BY 1),
    inter AS (
        SELECT q.id AS q_id, c.id AS c_id, COUNT(*) AS i
        FROM q JOIN c ON q.tok = c.tok
        GROUP BY 1, 2
    )
    SELECT q_id, c_id, ROUND(i * 1.0 / qn.n, 6) AS containment
    FROM inter JOIN qn ON qn.id = inter.q_id
    WHERE ROUND(i * 1.0 / qn.n, 6) >= {_CONT_T}
    ORDER BY q_id, c_id
    """,
)
def q179_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise benchmark decontamination: which corpus documents
    CONTAIN >= 80% of a benchmark item's 3-gram shingles? Containment
    |q∩c|/|q| is the right asymmetric measure (Jaccard misses a short
    prompt embedded in a long page — the real contamination shape).
    The benchmark suite is synthesized as EXCERPTS (first 60% of
    tokens) of every 83rd document, so each item is contained in its
    source by construction — guaranteed signal at every SF — plus any
    near-dup of that source. operators/dedup.containment_join: the
    prefix bound applies on the QUERY side only (n - ceil(t*n) + 1
    rarest-in-corpus elements, epsilon-guarded ceil), so candidate
    cost tracks those rare elements' posting lengths, never
    |benchmark| x |corpus| — the pairwise-evidence complement of
    q93's membership-only decontam. Oracle = naive all-pairs."""
    from tp_integ_data_pipeline_spark.operators.dedup import containment_join, shingles

    docs = load_table(spark, sf_dir, "documents", spread=True)
    bench = docs.filter(F.col("doc_id") % 83 == 0).select(
        F.col("doc_id").alias("bid"),
        F.expr(
            "array_join(slice(split(text, ' '), 1,"
            " greatest(3, CAST(FLOOR(size(split(text, ' ')) * 0.6) AS INT))), ' ')"
        ).alias("btext"),
    )
    q = shingles(bench, "bid", "btext", k=3).select("id", F.col("sh").alias("tok"))
    c = shingles(docs, "doc_id", "text", k=3).select("id", F.col("sh").alias("tok"))
    return containment_join(q, c, _CONT_T).orderBy("q_id", "c_id")
