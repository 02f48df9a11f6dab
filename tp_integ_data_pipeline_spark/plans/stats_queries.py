"""Statistics, data-quality and sketch queries: DQ audit batteries
(null/range/enum checks, functional dependencies, referential
integrity, Benford, reconciliation), mergeable sketches (count-min,
KMV, Bloom, rank sketch) and the approximate-aggregate audit, exact
grouped quantiles and medians, exact moments, a grouped-agg pandas
UDAF, drift and dependence measures (PSI, WOE/IV, correlation,
chi-squared, mutual information, calibration, jackknife, rater
agreement) and release audits (k-anonymity, l-diversity). No reference-repo counterpart — SURVEY.md
§2.10 extension operators; file:line citations live on the operator
docstrings they delegate to."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tp_integ_data_pipeline_spark.operators.privacy import k_anonymity_report
from tp_integ_data_pipeline_spark.operators.quality_audit import (
    audit_checks,
    audit_reference,
    audit_uniqueness,
)
from tp_integ_data_pipeline_spark.operators.rank_sketch import (
    rank_error_audit,
    rank_summaries,
    summary_quantiles,
)
from tp_integ_data_pipeline_spark.operators.sketches import cms_build, cms_estimate
from tp_integ_data_pipeline_spark.operators.text import tokens
from tp_integ_data_pipeline_spark.operators.timeseries import exact_moments, robust_outliers
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table, register_views


# --------------------------------------------------------------------------
# q157 — data-quality audit battery (one report, alert-ready)
# --------------------------------------------------------------------------
@query(
    "q157_dq_audit",
    oracle="""
    SELECT 'orders.null_custkey' AS check_name,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS violations FROM orders
    UNION ALL
    SELECT 'orders.bad_status',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) FROM orders
    UNION ALL
    SELECT 'orders.nonpositive_total',
           COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
    UNION ALL
    SELECT 'orders.dup_orderkey',
           CAST(SUM(n - 1) AS BIGINT) FROM (
               SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'lineitem.discount_range',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) FROM lineitem
    UNION ALL
    SELECT 'lineitem.ship_before_order',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    UNION ALL
    SELECT 'lineitem.orphan_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    ORDER BY check_name
    """,
)
def q157_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The load-gate audit a warehouse runs per batch: null/range/enum
    checks (fused into ONE scan per table via conditional counts +
    stack unpivot), key-uniqueness (one keyed aggregate), cross-table
    ship-before-order consistency and referential orphans (one join
    each). Output is the long-format (check, violations) report an
    alerting rule consumes — the engine-side equivalent of the
    reference trusting its API schema implicitly."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    single = audit_checks(
        orders,
        {
            "orders.null_custkey": F.col("o_custkey").isNull(),
            "orders.bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
            "orders.nonpositive_total": F.col("o_totalprice") <= 0,
        },
    )
    li_single = audit_checks(
        li, {"lineitem.discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)}
    )
    uniq = audit_uniqueness(orders, ["o_orderkey"], "orders.dup_orderkey")
    consistency = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(
            F.lit("lineitem.ship_before_order").alias("check"),
            F.count(F.lit(1)).alias("violations"),
        )
    )
    orphans = audit_reference(li, orders, ["l_orderkey"], ["o_orderkey"], "lineitem.orphan_orderkey")
    return (
        single.unionByName(li_single)
        .unionByName(uniq)
        .unionByName(consistency)
        .unionByName(orphans)
        .select(F.col("check").alias("check_name"), F.col("violations").cast("long").alias("violations"))
        .orderBy("check_name")
    )


# --------------------------------------------------------------------------
# q162 — robust per-group outlier detection (median/MAD modified z)
# --------------------------------------------------------------------------
@query(
    "q162_robust_outliers",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type, AVG(value) AS med FROM ranked
        WHERE rk = FLOOR((n + 1) / 2.0) OR rk = CEIL((n + 1) / 2.0)
        GROUP BY event_type
    ),
    ad AS (
        SELECT e.event_type, ABS(e.value - m.med) AS adv, m.med
        FROM events e JOIN med m USING (event_type)
    ),
    ranked2 AS (
        SELECT event_type, adv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adv) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ad
    ),
    mad AS (
        SELECT event_type, AVG(adv) AS mad FROM ranked2
        WHERE rk = FLOOR((n + 1) / 2.0) OR rk = CEIL((n + 1) / 2.0)
        GROUP BY event_type
    )
    SELECT e.event_type, ROUND(m.med, 6) AS med, ROUND(d.mad, 6) AS mad,
           COUNT(*) AS n,
           COUNT(*) FILTER (
               WHERE d.mad > 0 AND ABS(0.6745 * (e.value - m.med) / d.mad) > 3.5
           ) AS n_outliers
    FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY e.event_type, m.med, d.mad
    ORDER BY e.event_type
    """,
)
def q162_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier rates per event type via the Iglewicz-Hoaglin modified
    z-score over exact median/MAD — robust to the outliers themselves,
    unlike mean/stddev. Both medians use the rank/count formulation
    (distributed in-group sort, q131's pattern; the oracle spells the
    identical formulation so even-count interpolation is arithmetic-
    for-arithmetic the same), never Spark's one-buffer percentile
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    out = robust_outliers(ev.select("event_type", "value"), ["event_type"], "value")
    return out.select(
        "event_type",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "n",
        "n_outliers",
    ).orderBy("event_type")


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
        docs.select(F.explode(tokens()).alias("token"))
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
# q181 — mergeable rank sketch quantiles per event type, graded through
# the SQL-checkable error-bound AUDIT (upgraded from rows-only in r14)
# --------------------------------------------------------------------------
# The two-level MRL resampling itself is not SQL — but its CONTRACT is:
# for every probed quantile p the estimate's exact rank (count of
# values <= est, recomputed from raw events, NOT from the sketch) must
# sit within 2n/k + n_salts of p·n, and the estimate must be an actual
# data element (MRL never interpolates). Both booleans plus the exact
# per-key n are DuckDB-predictable constants when (and only when) the
# sketch honors its bound — so the hash check grades the invariant, the
# same upgrade shape as q127 (PCA whitened-covariance identity) and
# q153 (BPE). The float estimates themselves stay covered by
# tests/test_round7_ops.py (exactness when k >= n, salt-fan-out
# invariance, run-determinism) and the merge-tree bound test.
@query(
    "q181_rank_sketch_quantiles",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    ),
    probs AS (
        SELECT CAST(p AS DOUBLE) AS p
        FROM (VALUES (0.1), (0.25), (0.5), (0.75), (0.9)) AS t(p)
    )
    SELECT g.event_type, probs.p, g.n,
           TRUE AS rank_err_ok,
           TRUE AS est_in_data
    FROM g CROSS JOIN probs
    ORDER BY g.event_type, probs.p
    """,
)
def q181_rank_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates {0.1, 0.25, 0.5, 0.75, 0.9}
    of the value column from a k=256 mergeable MRL summary — the
    shardable complement to q169's exact deciles — graded through the
    rank-error audit: join the 25-row estimate relation back to raw
    events (broadcast — the sketch output is model-sized) and check
    |exact_rank(est) - p·n| <= 2n/k + n_salts per (key, p), plus
    est ∈ data (MRL estimates are picked elements, never arithmetic
    on values, so equality is exact on the untouched doubles). Scale
    shape: one pass over events with a broadcast hash join + map-side
    partial agg; the audit costs the same as any grouped count at
    100 TB. Bound slack n_salts matches rank_summaries' default
    fan-out (16 stage-1 salt groups, each compaction deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    summ = rank_summaries(ev, "event_type", "value", "event_id", k=256)
    est = summary_quantiles(summ, [0.1, 0.25, 0.5, 0.75, 0.9])
    return (
        rank_error_audit(ev, "event_type", "value", est, k=256, n_salts=16)
        .withColumnRenamed("key", "event_type")
        .orderBy("event_type", "p")
    )


# --------------------------------------------------------------------------
# q201 — functional-dependency discovery (schema profiling)
# --------------------------------------------------------------------------
_FD_SPECS = [
    # (table, lhs, rhs) — candidate "lhs determines rhs" dependencies
    ("orders", "o_orderkey", "o_custkey"),
    ("lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("part", "p_brand", "p_type"),
    ("supplier", "s_suppkey", "s_nationkey"),
    ("events", "user_id", "event_type"),
    ("documents", "doc_id", "source"),
]


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_SPECS:
        parts.append(f"""
        SELECT '{tbl}.{lhs}->{rhs}' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_lhs,
               CAST(MAX(nd) AS BIGINT) AS max_rhs_per_lhs,
               CAST(CASE WHEN MAX(nd) = 1 THEN 1 ELSE 0 END AS BIGINT) AS holds,
               ROUND(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS violation_rate
        FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd FROM {tbl} GROUP BY 1)
        """)
    return " UNION ALL ".join(parts) + " ORDER BY fd"


@query("q201_functional_dependencies", oracle=_fd_oracle())
def q201_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metanome-style schema profiling: for each candidate functional
    dependency lhs→rhs, count the lhs values that map to more than one
    rhs — holds/violation-rate output is the input to key discovery,
    normalization advice, and DQ alerting. Candidates cover true keys
    (order→cust, custkey→segment), real violations (orderkey→suppkey:
    multi-supplier orders), and cross-table shapes.

    Scale shape: each FD is one column-pruned scan + a two-phase
    (lhs, distinct-rhs) aggregate — map-side combinable, shuffled on
    lhs only — folded to ONE summary row; the union is report-sized.
    No joins, no windows; cost is Σ per-table scans regardless of FD
    count per table (Catalyst reuses nothing across specs by design —
    at 100 TB you'd batch same-table FDs into one grouping-sets pass;
    the per-FD form keeps each check independently schedulable)."""
    out = None
    for tbl, lhs, rhs in _FD_SPECS:
        t = load_table(spark, sf_dir, tbl)
        g = (
            t.select(F.col(lhs).alias("__l"), F.col(rhs).alias("__r"))
            .groupBy("__l")
            .agg(F.countDistinct("__r").alias("nd"))
        )
        row = g.agg(
            F.lit(f"{tbl}.{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_violating_lhs"),
            F.max("nd").alias("max_rhs_per_lhs"),
            F.when(F.max("nd") == 1, 1).otherwise(0).cast("long").alias("holds"),
            F.round(
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("violation_rate"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fd")


# --------------------------------------------------------------------------
# q202 — referential-integrity audit (orphan-key rates)
# --------------------------------------------------------------------------
_RI_SPECS = [
    # (child table, fk col, parent table, pk col, parent is dim-sized)
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("orders", "o_custkey", "customer", "c_custkey", False),
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("events", "user_id", "customer", "c_custkey", False),
]


def _ri_oracle() -> str:
    parts = []
    for child, fk, parent, pk, _ in _RI_SPECS:
        parts.append(f"""
        SELECT '{child}.{fk}->{parent}.{pk}' AS edge,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
               CAST(COUNT(*) AS BIGINT) AS n_orphan,
               CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_orphan_keys,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM {child}), 6) AS orphan_rate
        FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})
        """)
    return " UNION ALL ".join(parts) + " ORDER BY edge"


@query("q202_referential_integrity", oracle=_ri_oracle())
def q202_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table DQ audit: for every declared FK edge, the count and
    rate of child rows whose key has no parent (plus distinct orphan
    keys — 1M orphan rows from 3 keys is a different incident than 1M
    keys). The lake-wide complement of q157's single-table audit and
    q75's rule checks.

    Scale shape: each edge is ONE left-anti equi-join on the key —
    shuffled on the FK for fact-sized parents, broadcast for dims
    (nation) — folded map-side to a 1-row summary; n_child comes from
    the same column-pruned scan, not a second pass over wide rows.
    Orphan checks never materialize matches (anti-join emits only
    misses)."""
    from pyspark.sql.functions import broadcast

    out = None
    for child, fk, parent, pk, is_dim in _RI_SPECS:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("__k"))
        c = c.localCheckpoint(eager=False)  # feeds total AND the anti join
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("__k"))
        if is_dim:
            p = broadcast(p)
        orphans = c.join(p, "__k", "left_anti")
        total = c.agg(F.count(F.lit(1)).alias("n_child"))
        row = (
            orphans.agg(
                F.count(F.lit(1)).alias("n_orphan"),
                F.countDistinct("__k").alias("n_orphan_keys"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
                "n_child",
                "n_orphan",
                "n_orphan_keys",
                F.round(
                    F.col("n_orphan").cast("double") / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge")


# --------------------------------------------------------------------------
# q203 — Benford first-digit audit (fraud/DQ signal on amount columns)
# --------------------------------------------------------------------------
def _benford_oracle() -> str:
    branches = []
    for label, tbl, col in [
        ("lineitem.l_extendedprice", "lineitem", "l_extendedprice"),
        ("orders.o_totalprice", "orders", "o_totalprice"),
    ]:
        branches.append(f"""
        SELECT '{label}' AS col,
               CAST(substr(CAST(CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)
                           AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM {tbl} WHERE {col} > 0
        """)
    u = " UNION ALL ".join(branches)
    return f"""
    WITH d AS ({u}),
    cnt AS (SELECT col, digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
    tot AS (SELECT col, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
    grid AS (
        SELECT tot.col, g.range AS digit, tot.t, COALESCE(cnt.n, 0) AS n,
               CAST(COALESCE(cnt.n, 0) AS DOUBLE) / tot.t AS obs,
               (ln(g.range + 1) - ln(g.range)) / ln(10) AS exp
        FROM tot CROSS JOIN range(1, 10) g
        LEFT JOIN cnt ON cnt.col = tot.col AND cnt.digit = g.range
    ),
    tvd AS (SELECT col, ROUND(0.5 * SUM(ABS(obs - exp)), 6) AS tvd FROM grid GROUP BY 1)
    SELECT grid.col, grid.digit, CAST(grid.n AS BIGINT) AS n,
           ROUND(grid.obs, 6) AS obs_share,
           ROUND(grid.exp, 6) AS exp_share,
           ROUND(ABS(grid.obs - grid.exp), 6) AS abs_dev,
           tvd.tvd
    FROM grid JOIN tvd ON tvd.col = grid.col
    ORDER BY grid.col, grid.digit
    """


@query("q203_benford_audit", oracle=_benford_oracle())
def q203_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance for the monetary columns — the
    classic synthetic-data / fraud / unit-mixup detector (organically
    grown amounts follow P(d) = log10(1+1/d); flat or spiked first
    digits flag generated or corrupted feeds). Output: per (column,
    digit) observed vs expected share, absolute deviation, and the
    per-column total-variation distance.

    Cross-engine rules: the first digit comes from the INTEGER cents
    string (FLOOR(x·100 + 0.5) — never from double formatting, which
    the engines render differently); expected shares are
    (ln(d+1)−ln(d))/ln 10 over exact-integer inputs; the 1..9 grid is
    materialized row-locally per column so an absent digit is an
    explicit 0 on both engines.

    Scale shape: one column-pruned scan per audited column folded to
    ≤9 map-side (col, digit) counts — everything after is
    constant-sized (18-row grid, 2-row TVD rollup)."""
    cols = [
        ("lineitem.l_extendedprice", "lineitem", "l_extendedprice"),
        ("orders.o_totalprice", "orders", "o_totalprice"),
    ]
    cnt = None
    for label, tbl, col in cols:
        t = load_table(spark, sf_dir, tbl)
        d = (
            t.where(F.col(col) > 0)
            .select(
                F.lit(label).alias("col"),
                F.substring(
                    F.floor(F.col(col) * 100 + 0.5).cast("long").cast("string"), 1, 1
                )
                .cast("long")
                .alias("digit"),
            )
            .groupBy("col", "digit")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cnt = d if cnt is None else cnt.unionByName(d)
    cnt = cnt.localCheckpoint(eager=False)  # feeds tot and the grid join
    tot = cnt.groupBy("col").agg(F.sum("n").alias("t"))
    grid = (
        tot.select(
            "col", "t", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit")
        )
        .join(cnt, ["col", "digit"], "left")
        .select(
            "col",
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            (F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("t")).alias(
                "obs"
            ),
            (
                (F.log(F.col("digit") + 1) - F.log(F.col("digit"))) / F.log(F.lit(10.0))
            ).alias("exp"),
        )
    )
    grid = grid.localCheckpoint(eager=False)  # feeds tvd and the final join
    tvd = grid.groupBy("col").agg(
        F.round(0.5 * F.sum(F.abs(F.col("obs") - F.col("exp"))), 6).alias("tvd")
    )
    return (
        grid.join(tvd, "col")
        .select(
            "col",
            F.col("digit").cast("long").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.round("obs", 6).alias("obs_share"),
            F.round("exp", 6).alias("exp_share"),
            F.round(F.abs(F.col("obs") - F.col("exp")), 6).alias("abs_dev"),
            "tvd",
        )
        .orderBy("col", "digit")
    )


# --------------------------------------------------------------------------
# q210 — inter-rater agreement (Cohen's kappa) between two labelers
# --------------------------------------------------------------------------
_KAPPA_LABELS = ["short", "medium", "long"]


@query(
    "q210_rater_agreement",
    oracle="""
    WITH lab AS (
        SELECT CASE WHEN n_chars < 220 THEN 'short'
                    WHEN n_chars < 380 THEN 'medium' ELSE 'long' END AS label_a,
               CASE WHEN len(string_split(text, ' ')) < 40 THEN 'short'
                    WHEN len(string_split(text, ' ')) < 70 THEN 'medium'
                    ELSE 'long' END AS label_b
        FROM documents
    ),
    c AS (SELECT label_a, label_b, COUNT(*) AS n FROM lab GROUP BY 1, 2),
    s AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS total,
               CAST(SUM(CASE WHEN label_a = label_b THEN n ELSE 0 END) AS DOUBLE) AS diag
        FROM c
    ),
    ma AS (SELECT label_a AS l, SUM(n) AS na FROM c GROUP BY 1),
    mb AS (SELECT label_b AS l, SUM(n) AS nb FROM c GROUP BY 1),
    pe AS (
        SELECT CAST(SUM(COALESCE(ma.na, 0) * COALESCE(mb.nb, 0)) AS DOUBLE) AS pe_num
        FROM ma FULL JOIN mb USING (l)
    ),
    k AS (
        SELECT ROUND(s.diag / s.total, 6) AS po,
               ROUND(pe.pe_num / (s.total * s.total), 6) AS pe,
               ROUND(
                   (s.diag / s.total - pe.pe_num / (s.total * s.total))
                   / NULLIF(1.0 - pe.pe_num / (s.total * s.total), 0.0),
                   6
               ) + 0 AS kappa
        FROM s, pe
    ),
    grid AS (
        SELECT a.l AS label_a, b.l AS label_b
        FROM (VALUES ('short'), ('medium'), ('long')) a(l),
             (VALUES ('short'), ('medium'), ('long')) b(l)
    )
    SELECT g.label_a, g.label_b,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
           k.po, k.pe, k.kappa
    FROM grid g LEFT JOIN c USING (label_a, label_b) CROSS JOIN k
    ORDER BY g.label_a, g.label_b
    """,
)
def q210_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent labelers — the
    annotator-agreement / weak-supervision QA verb (chance-corrected:
    kappa = (po - pe)/(1 - pe)). Here the raters are two deterministic
    length heuristics (char-bucket vs word-bucket) so both engines
    label identically; the operator is generic over any two
    categorical columns. Output: the full label x label confusion
    grid (absent cells explicit 0) with po / pe / kappa attached.

    Scale shape: one map-side-combinable (label_a, label_b) rollup to
    <= |labels|^2 rows; marginals, po/pe/kappa, and the grid are all
    label-bounded; the kappa scalar is a 1-row broadcast attach
    (BNLJ_ALLOWED scalar_aggs). kappa is negative-capable ->
    ROUND+0 on both engines."""
    docs = load_table(spark, sf_dir, "documents").select("n_chars", "text")
    lab = docs.select(
        F.when(F.col("n_chars") < 220, "short")
        .when(F.col("n_chars") < 380, "medium")
        .otherwise("long")
        .alias("label_a"),
        F.when(F.size(tokens()) < 40, "short")
        .when(F.size(tokens()) < 70, "medium")
        .otherwise("long")
        .alias("label_b"),
    )
    c = (
        lab.groupBy("label_a", "label_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # feeds scalars, marginals, grid join
    )
    s = c.agg(
        F.sum("n").cast("double").alias("total"),
        F.sum(F.when(F.col("label_a") == F.col("label_b"), F.col("n")).otherwise(0))
        .cast("double")
        .alias("diag"),
    )
    ma = c.groupBy(F.col("label_a").alias("l")).agg(F.sum("n").alias("na"))
    mb = c.groupBy(F.col("label_b").alias("l")).agg(F.sum("n").alias("nb"))
    pe_num = (
        ma.join(mb, "l", "full")
        .agg(
            F.sum(
                F.coalesce("na", F.lit(0)) * F.coalesce("nb", F.lit(0))
            )
            .cast("double")
            .alias("pe_num")
        )
    )
    po_c = F.col("diag") / F.col("total")
    pe_c = F.col("pe_num") / (F.col("total") * F.col("total"))
    k = s.crossJoin(pe_num).select(
        F.round(po_c, 6).alias("po"),
        F.round(pe_c, 6).alias("pe"),
        (
            F.round((po_c - pe_c) / F.nullif(F.lit(1.0) - pe_c, F.lit(0.0)), 6) + 0
        ).alias("kappa"),
    )
    grid = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(a) for a in _KAPPA_LABELS])
            ).alias("label_a")
        )
        .select(
            "label_a",
            F.explode(
                F.array(*[F.lit(b) for b in _KAPPA_LABELS])
            ).alias("label_b"),
        )
    )
    return (
        grid.join(c, ["label_a", "label_b"], "left")
        .crossJoin(F.broadcast(k))
        .select(
            "label_a",
            "label_b",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            "po",
            "pe",
            "kappa",
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------------------------------
# q211 — numeric correlation-matrix profile
# --------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "q211_corr_profile",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               corr(l_quantity, l_extendedprice) AS c01,
               corr(l_quantity, l_discount) AS c02,
               corr(l_quantity, l_tax) AS c03,
               corr(l_extendedprice, l_discount) AS c12,
               corr(l_extendedprice, l_tax) AS c13,
               corr(l_discount, l_tax) AS c23
        FROM lineitem
    )
    SELECT col_x, col_y, n, ROUND(r, 6) + 0 AS r FROM (
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n, c01 AS r FROM s
        UNION ALL SELECT 'l_quantity', 'l_discount', n, c02 FROM s
        UNION ALL SELECT 'l_quantity', 'l_tax', n, c03 FROM s
        UNION ALL SELECT 'l_extendedprice', 'l_discount', n, c12 FROM s
        UNION ALL SELECT 'l_extendedprice', 'l_tax', n, c13 FROM s
        UNION ALL SELECT 'l_discount', 'l_tax', n, c23 FROM s
    ) ORDER BY col_x, col_y
    """,
)
def q211_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation profile over the numeric measure
    columns — the schema-profiling complement to q173's univariate
    stats and q201's FD discovery (redundant/derived-column and
    unit-mixup detector). Sample correlation on both engines,
    ROUND+0 (negative-capable). Spark's native corr() raises
    DIVIDE_BY_ZERO under ANSI mode when a column has zero variance,
    while DuckDB's corr() returns NULL — so the engine side builds
    r = covar_samp / nullif(stddev*stddev, 0), which is the same
    sample statistic with the degenerate case explicitly NULL.

    Scale shape: ONE map-side-combinable global aggregate computes
    all C(4,2) correlations in a single pass over the column-pruned
    scan (co-moment partial state merges associatively); the unpivot
    to (col_x, col_y, r) rows is over that 1-row summary."""
    li = load_table(spark, sf_dir, "lineitem").select(*_CORR_COLS)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    stack_parts = []
    for i in range(len(_CORR_COLS)):
        for j in range(i + 1, len(_CORR_COLS)):
            a, b = _CORR_COLS[i], _CORR_COLS[j]
            nm = f"c{i}{j}"
            ax, bx = F.col(a).cast("double"), F.col(b).cast("double")
            aggs.append(
                (
                    F.covar_samp(ax, bx)
                    / F.nullif(F.stddev_samp(ax) * F.stddev_samp(bx), F.lit(0.0))
                ).alias(nm)
            )
            stack_parts.append(f"'{a}', '{b}', {nm}")
    s = li.agg(*aggs)
    n_pairs = len(stack_parts)
    return (
        s.selectExpr(
            "n",
            f"stack({n_pairs}, {', '.join(stack_parts)}) AS (col_x, col_y, r)",
        )
        .select("col_x", "col_y", "n", (F.round("r", 6) + 0).alias("r"))
        .orderBy("col_x", "col_y")
    )


# --------------------------------------------------------------------------
# q212 — quality-score calibration curve + expected calibration error
# --------------------------------------------------------------------------
@query(
    "q212_calibration_ece",
    oracle="""
    WITH scored AS (
        SELECT LEAST(1.0, len(string_split(text, ' ')) / 100.0) AS score,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
        FROM documents
    ),
    bins AS (
        SELECT CAST(LEAST(9, FLOOR(score * 10)) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(score) AS conf_raw,
               AVG(CAST(label AS DOUBLE)) AS acc_raw
        FROM scored GROUP BY 1
    ),
    e AS (
        SELECT ROUND(
                   SUM(n * ABS(acc_raw - conf_raw)) / SUM(n), 6
               ) AS ece
        FROM bins
    )
    SELECT b.bin, b.n,
           ROUND(b.conf_raw, 6) AS conf,
           ROUND(b.acc_raw, 6) AS acc,
           e.ece
    FROM bins b, e
    ORDER BY b.bin
    """,
)
def q212_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-calibration audit (reliability curve + expected
    calibration error) — the quality-filter QA verb: a score that
    ranks well but is miscalibrated silently shifts every threshold
    cut. Score = capped words/100 heuristic, label = n_chars >= 300
    (both deterministic so the engines agree); 10 equal-width bins,
    per-bin mean confidence vs empirical accuracy, ECE = Σ (n_b/N)·
    |acc_b − conf_b| computed from the UNROUNDED bin values.

    Scale shape: one column-pruned scan → map-side-combinable rollup
    to ≤ 10 bin rows; the ECE scalar is a 1-row broadcast attach over
    those bins (BNLJ_ALLOWED scalar_aggs)."""
    docs = load_table(spark, sf_dir, "documents").select("text", "n_chars")
    scored = docs.select(
        F.least(F.lit(1.0), F.size(tokens()) / 100.0).alias(
            "score"
        ),
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("label"),
    )
    bins = (
        scored.groupBy(
            F.least(F.lit(9), F.floor(F.col("score") * 10)).cast("int").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("score").alias("conf_raw"),
            F.avg(F.col("label").cast("double")).alias("acc_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the ECE scalar AND the output
    )
    e = bins.agg(
        F.round(
            F.sum(F.col("n") * F.abs(F.col("acc_raw") - F.col("conf_raw")))
            / F.sum("n"),
            6,
        ).alias("ece")
    )
    return (
        bins.crossJoin(F.broadcast(e))
        .select(
            "bin",
            "n",
            F.round("conf_raw", 6).alias("conf"),
            F.round("acc_raw", 6).alias("acc"),
            "ece",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q213 — chi-squared independence test + Cramér's V (lang × source)
# --------------------------------------------------------------------------
@query(
    "q213_chi2_independence",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    n AS (SELECT CAST(SUM(o) AS DOUBLE) AS total FROM c),
    ma AS (SELECT lang, SUM(o) AS na FROM c GROUP BY 1),
    mb AS (SELECT source, SUM(o) AS nb FROM c GROUP BY 1),
    cells AS (
        SELECT c.lang, c.source, c.o,
               ma.na * mb.nb / n.total AS e_raw
        FROM c JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN n
    ),
    s AS (
        -- absent (lang, source) combos contribute (0 - e)^2 / e = e
        -- to chi2, and SUM(e) over the FULL grid is exactly N, so the
        -- unobserved-cell mass is N - SUM(e over observed cells):
        -- no grid materialization needed.
        SELECT SUM((o - e_raw) * (o - e_raw) / e_raw)
                   + (SUM(o) - SUM(e_raw)) AS chi2_raw,
               COUNT(DISTINCT lang) AS r,
               COUNT(DISTINCT source) AS k,
               SUM(o) AS total
        FROM cells
    ),
    kk AS (
        SELECT ROUND(chi2_raw, 6) AS chi2,
               CAST((r - 1) * (k - 1) AS BIGINT) AS dof,
               ROUND(
                   sqrt(chi2_raw / (total * LEAST(r - 1, k - 1))), 6
               ) AS cramers_v
        FROM s
    )
    SELECT cells.lang, cells.source, cells.o,
           ROUND(cells.e_raw, 6) AS expected,
           kk.chi2, kk.dof, kk.cramers_v
    FROM cells, kk
    ORDER BY cells.lang, cells.source
    """,
)
def q213_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between two categorical
    columns (lang × source) with Cramér's V effect size — the
    categorical complement to q211's numeric correlation profile
    (detects source/language confounds in a corpus mix). Output: every
    observed contingency cell with its expected count, plus the
    chi2 / dof / V test summary attached to each row. Unobserved
    (lang, source) combos are NOT materialized, but their chi2 mass is
    exact: each absent cell contributes (0−e)²/e = e, and Σe over the
    full grid is N, so the absent-cell term is N − Σ_observed e.

    Scale shape: one map-side-combinable (lang, source) rollup to
    ≤ |langs|·|sources| cells; marginals are rollups OF that bounded
    relation (broadcast equi-joins back); the grand total and the
    chi2/V summary are 1-row broadcast attaches (BNLJ_ALLOWED
    scalar_aggs: 2). Nothing downstream exceeds the cell count."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    c = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .localCheckpoint(eager=False)  # feeds marginals, total, cells
    )
    n = c.agg(F.sum("o").cast("double").alias("total"))
    ma = c.groupBy("lang").agg(F.sum("o").alias("na"))
    mb = c.groupBy("source").agg(F.sum("o").alias("nb"))
    cells = (
        c.join(ma, "lang")
        .join(mb, "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "o",
            (F.col("na") * F.col("nb") / F.col("total")).alias("e_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the chi2 scalar AND the output
    )
    s = cells.agg(
        (
            F.sum(
                (F.col("o") - F.col("e_raw"))
                * (F.col("o") - F.col("e_raw"))
                / F.col("e_raw")
            )
            + (F.sum("o") - F.sum("e_raw"))
        ).alias("chi2_raw"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("k"),
        F.sum("o").alias("total"),
    )
    kk = s.select(
        F.round("chi2_raw", 6).alias("chi2"),
        ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("total") * F.least(F.col("r") - 1, F.col("k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )
    return (
        cells.crossJoin(F.broadcast(kk))
        .select(
            "lang",
            "source",
            "o",
            F.round("e_raw", 6).alias("expected"),
            "chi2",
            "dof",
            "cramers_v",
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# q214 — delete-a-group jackknife CI for a per-event mean (user-clustered)
# --------------------------------------------------------------------------
_JK_GROUPS = 20


@query(
    "q214_jackknife_ci",
    oracle=f"""
    WITH g AS (
        SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % {_JK_GROUPS} AS grp,
               value
        FROM events
    ),
    b AS (
        SELECT grp, SUM(value) AS s, CAST(COUNT(*) AS DOUBLE) AS c
        FROM g GROUP BY 1
    ),
    tot AS (SELECT SUM(s) AS st, SUM(c) AS ct, COUNT(*) AS ng FROM b),
    loo AS (
        SELECT (tot.st - b.s) / (tot.ct - b.c) AS r_g
        FROM b CROSS JOIN tot
    ),
    v AS (
        SELECT (COUNT(*) - 1.0) / COUNT(*)
                   * (SUM(r_g * r_g) - COUNT(*) * AVG(r_g) * AVG(r_g)) AS var_jk
        FROM loo
    )
    SELECT CAST(tot.ng AS BIGINT) AS n_groups,
           ROUND(tot.st / tot.ct, 6) + 0 AS metric,
           ROUND(sqrt(v.var_jk), 6) AS se,
           ROUND(tot.st / tot.ct - 1.96 * sqrt(v.var_jk), 6) + 0 AS ci_lo,
           ROUND(tot.st / tot.ct + 1.96 * sqrt(v.var_jk), 6) + 0 AS ci_hi
    FROM tot CROSS JOIN v
    """,
)
def q214_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife confidence interval for a ratio metric
    (mean event value), with USERS as the randomization unit — the
    scale-safe uncertainty verb production experimentation systems use
    when per-user resampling is infeasible: hash users into G=20
    buckets, compute the metric leaving each bucket out, and estimate
    Var = (G-1)/G · Σ (R_g − R̄)². User-level bucketing makes the SE
    cluster-robust (correlated events of one user stay together).

    Cross-engine: the bucket hash is the portable first-8-hex-md5
    rule; metric/ci are ROUND+0 (negative-capable in general).

    Scale shape: one map-side-combinable groupBy(grp) rollup to G
    rows; totals, leave-one-out ratios, and the variance are all
    G-bounded; two 1-row broadcast attaches (BNLJ_ALLOWED
    scalar_aggs: 2). No per-user state, no resampling shuffle."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    g = ev.select(
        (
            F.expr(
                "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            )
            % _JK_GROUPS
        ).alias("grp"),
        "value",
    )
    b = (
        g.groupBy("grp")
        .agg(
            F.sum("value").alias("s"),
            F.count(F.lit(1)).cast("double").alias("c"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND leave-one-out rows
    )
    tot = b.agg(
        F.sum("s").alias("st"),
        F.sum("c").alias("ct"),
        F.count(F.lit(1)).alias("ng"),
    )
    loo = b.crossJoin(F.broadcast(tot)).select(
        ((F.col("st") - F.col("s")) / (F.col("ct") - F.col("c"))).alias("r_g")
    )
    v = loo.agg(
        (
            (F.count(F.lit(1)) - 1.0)
            / F.count(F.lit(1))
            * (
                F.sum(F.col("r_g") * F.col("r_g"))
                - F.count(F.lit(1)) * F.avg("r_g") * F.avg("r_g")
            )
        ).alias("var_jk")
    )
    est = F.col("st") / F.col("ct")
    se = F.sqrt(F.col("var_jk"))
    return tot.crossJoin(F.broadcast(v)).select(
        F.col("ng").cast("long").alias("n_groups"),
        (F.round(est, 6) + 0).alias("metric"),
        F.round(se, 6).alias("se"),
        (F.round(est - 1.96 * se, 6) + 0).alias("ci_lo"),
        (F.round(est + 1.96 * se, 6) + 0).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# q219 — weight-of-evidence / information-value feature audit
# --------------------------------------------------------------------------
_WOE_BINS = 10


@query(
    "q219_woe_iv",
    oracle=f"""
    WITH bd AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
    binned AS (
        SELECT CAST(LEAST(FLOOR((o_totalprice - bd.lo)
                                / NULLIF(bd.hi - bd.lo, 0.0) * {_WOE_BINS}),
                          {_WOE_BINS - 1}) AS INT) AS bin,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
        FROM orders, bd
    ),
    c AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ev) AS BIGINT) AS e
        FROM binned GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(e) AS DOUBLE) AS et,
               CAST(SUM(n) - SUM(e) AS DOUBLE) AS nt,
               COUNT(*) AS nb
        FROM c
    ),
    w AS (
        SELECT c.bin, c.n, c.e,
               (c.e + 0.5) / (t.et + 0.5 * t.nb) AS pe,
               (c.n - c.e + 0.5) / (t.nt + 0.5 * t.nb) AS pn
        FROM c, t
    ),
    iv AS (SELECT ROUND(SUM((pe - pn) * ln(pe / pn)), 6) AS iv FROM w)
    SELECT w.bin, w.n, w.e AS n_event,
           ROUND(ln(w.pe / w.pn), 6) + 0 AS woe,
           iv.iv
    FROM w, iv ORDER BY w.bin
    """,
)
def q219_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value audit of a numeric
    feature against a binary outcome (o_totalprice predicting
    finished status) — the standard feature-screening verb: per-bin
    WOE = ln(P(bin|event)/P(bin|non-event)) with +0.5 Laplace
    smoothing (so empty cells stay finite), IV = Σ(pe−pn)·WOE.
    Equal-WIDTH bins over the [min,max] scalar (q170's binning rule:
    row-local, tie-free, no cross-engine quantile drift).

    Scale shape: bounds are a 1-row broadcast onto the scan; the bin
    rollup is map-side combinable to ≤ 10 rows; totals / smoothed
    shares / IV are all bin-bounded with 1-row scalar attaches
    (BNLJ_ALLOWED)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderstatus"
    )
    bd = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bd)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
                * _WOE_BINS
            ),
            F.lit(_WOE_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
    )
    c = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ev").cast("long").alias("e"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND the share rows
    )
    t = c.agg(
        F.sum("e").cast("double").alias("et"),
        (F.sum("n") - F.sum("e")).cast("double").alias("nt"),
        F.count(F.lit(1)).alias("nb"),
    )
    w = (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            "e",
            ((F.col("e") + 0.5) / (F.col("et") + 0.5 * F.col("nb"))).alias("pe"),
            (
                (F.col("n") - F.col("e") + 0.5)
                / (F.col("nt") + 0.5 * F.col("nb"))
            ).alias("pn"),
        )
        .localCheckpoint(eager=False)  # feeds the IV scalar AND the output
    )
    iv = w.agg(
        F.round(
            F.sum((F.col("pe") - F.col("pn")) * F.log(F.col("pe") / F.col("pn"))), 6
        ).alias("iv")
    )
    return (
        w.crossJoin(F.broadcast(iv))
        .select(
            "bin",
            "n",
            F.col("e").alias("n_event"),
            (F.round(F.log(F.col("pe") / F.col("pn")), 6) + 0).alias("woe"),
            "iv",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q220 — l-diversity audit (distinct + entropy) over quasi-identifiers
# --------------------------------------------------------------------------
_LDIV_L = 3


@query(
    "q220_l_diversity",
    oracle=f"""
    WITH sv AS (
        SELECT o_orderpriority AS qi1, o_orderstatus AS qi2, o_custkey,
               COUNT(*) AS c
        FROM orders GROUP BY 1, 2, 3
    ),
    g AS (
        SELECT qi1, qi2,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS l_distinct,
               -SUM(c * ln(c)) / SUM(c) + ln(SUM(c)) AS h_raw
        FROM sv GROUP BY 1, 2
    )
    SELECT qi1, qi2, n, l_distinct,
           ROUND(h_raw, 6) + 0 AS entropy,
           CAST(h_raw >= ln({_LDIV_L}.0) AS INT) AS meets_entropy_l
    FROM g ORDER BY qi1, qi2
    """,
)
def q220_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the release-safety complement to q166's
    k-anonymity: per quasi-identifier group (priority × status), the
    count of DISTINCT sensitive values (custkey) and the ENTROPY of
    their distribution, flagged against entropy-l-diversity H ≥ ln(3)
    (a group k-anonymous on size can still leak if one sensitive value
    dominates — the entropy form catches that). H is computed as
    ln(n) − Σ c·ln(c)/n, algebraically equal to −Σ p·ln p but summed
    over EXACT integer counts so partial-agg order can't drift.

    Scale shape: two map-side-combinable keyed rollups — (qi, custkey)
    then (qi) — both shuffle-bounded by group cardinality; no distinct
    subquery, no window, no scalar attach."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("qi1"),
        F.col("o_orderstatus").alias("qi2"),
        "o_custkey",
    )
    sv = orders.groupBy("qi1", "qi2", "o_custkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    h_raw = -F.sum(F.col("c") * F.log("c")) / F.sum("c") + F.log(F.sum("c"))
    g = sv.groupBy("qi1", "qi2").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        h_raw.alias("h_raw"),
    )
    import math

    return g.select(
        "qi1",
        "qi2",
        "n",
        "l_distinct",
        (F.round("h_raw", 6) + 0).alias("entropy"),
        (F.col("h_raw") >= math.log(_LDIV_L)).cast("int").alias("meets_entropy_l"),
    ).orderBy("qi1", "qi2")


# --------------------------------------------------------------------------
# q234 — cross-table total reconciliation audit
# --------------------------------------------------------------------------
@query(
    "q234_reconciliation",
    oracle="""
    WITH derived AS (
        SELECT l_orderkey AS ok,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))
                   * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS calc
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey,
           ROUND(CAST(o.o_totalprice AS DOUBLE), 6) AS stated,
           ROUND(CAST(d.calc AS DOUBLE), 6) AS derived,
           ROUND(CAST(d.calc AS DOUBLE) - o.o_totalprice, 6) + 0 AS delta
    FROM orders o JOIN derived d ON d.ok = o.o_orderkey
    ORDER BY ABS(ROUND(CAST(d.calc AS DOUBLE) - o.o_totalprice, 6)) DESC,
             o.o_orderkey
    LIMIT 20
    """,
)
def q234_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: recompute each order's total from
    its line items (extendedprice·(1−disc)·(1+tax), summed in EXACT
    DECIMAL so partial-agg order can't drift) and report the 20 worst
    |stated − derived| discrepancies — the financial-close /
    invariant-violation audit that q202's referential checks (keys
    exist) and q75's column rules (values in range) don't cover:
    whether two tables AGREE.

    Scale shape: one map-side-combinable orderkey rollup of lineitem,
    one orderkey equi-join, and a TakeOrdered(20) — no global sort
    materializes; ties on |delta| break on orderkey so top-k is
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    derived = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(18,2)"))
            * (1 + F.col("l_tax").cast("decimal(18,2)"))
        ).alias("calc")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    delta = F.round(F.col("calc").cast("double") - F.col("o_totalprice"), 6)
    return (
        orders.join(derived, orders.o_orderkey == F.col("ok"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 6).alias("stated"),
            F.round(F.col("calc").cast("double"), 6).alias("derived"),
            (delta + 0).alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q240 — mutual information between two categorical columns
# --------------------------------------------------------------------------
@query(
    "q240_mutual_information",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS n
        FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS total FROM c),
    ma AS (SELECT lang, SUM(n) AS na FROM c GROUP BY 1),
    mb AS (SELECT source, SUM(n) AS nb FROM c GROUP BY 1),
    mi AS (
        SELECT SUM(c.n / t.total
                   * ln(c.n * t.total / (ma.na * mb.nb))) AS mi_raw,
               -SUM(c.n / t.total * ln(c.n / t.total)) AS h_joint
        FROM c JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN t
    )
    SELECT ROUND(mi.mi_raw, 6) + 0 AS mi_nats,
           ROUND(mi.h_joint, 6) AS h_joint,
           ROUND(mi.mi_raw / NULLIF(mi.h_joint, 0.0), 6) + 0 AS nmi
    FROM mi
    """,
)
def q240_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats, with the joint
    entropy and the normalized MI (I / H_joint) — the
    information-theoretic association measure alongside q213's
    chi-squared (MI weighs by probability mass, so rare-cell noise
    that inflates chi2 barely moves it; together they complete the
    categorical-dependence audit). Unobserved cells contribute
    exactly 0 to both sums (lim p→0 of p·ln(...) = 0), so only the
    observed contingency cells are needed.

    Scale shape: one map-side-combinable (lang, source) rollup to
    bounded cells; marginals are rollups OF that relation; the total
    and the final fold are 1-row scalars (BNLJ_ALLOWED)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    c = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .localCheckpoint(eager=False)  # feeds marginals, total, the fold
    )
    t = c.agg(F.sum("n").alias("total"))
    ma = c.groupBy("lang").agg(F.sum("n").alias("na"))
    mb = c.groupBy("source").agg(F.sum("n").alias("nb"))
    p = F.col("n") / F.col("total")
    mi = (
        c.join(ma, "lang")
        .join(mb, "source")
        .crossJoin(F.broadcast(t))
        .agg(
            F.sum(
                p * F.log(F.col("n") * F.col("total") / (F.col("na") * F.col("nb")))
            ).alias("mi_raw"),
            (-F.sum(p * F.log(p))).alias("h_joint"),
        )
    )
    return mi.select(
        (F.round("mi_raw", 6) + 0).alias("mi_nats"),
        F.round("h_joint", 6).alias("h_joint"),
        (
            F.round(F.col("mi_raw") / F.nullif(F.col("h_joint"), F.lit(0.0)), 6) + 0
        ).alias("nmi"),
    )


# --------------------------------------------------------------------------
# q24 — discrete median per group (deterministic positional pick)
# --------------------------------------------------------------------------
@query(
    "q24_median_disc",
    oracle="""
    SELECT event_type, value AS median_value FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    WHERE rn = (n + 1) // 2
    ORDER BY event_type
    """,
)
def q24_median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("median_value"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q26 — approximate aggregates, graded through the SQL-checkable
# error-contract AUDIT (upgraded from rows-only in r14, the q181 shape)
# --------------------------------------------------------------------------
# The sketches (HLL++ approx_count_distinct, Greenwald-Khanna-style
# percentile_approx) are not SQL — their published CONTRACTS are:
# |hll - exact| within 3x the rsd (0.05 default) of the exact distinct
# count, and the approx median an ACTUAL data value whose exact rank
# sits within n/accuracy (+1 tie slack) of 0.5n. Exact counts are SQL;
# when the sketches honor their contracts the booleans are constant
# TRUE — so DuckDB predicts the whole relation. At 100 TB a pipeline
# runs the approx side alone; this audit (one extra broadcast-join
# pass, itself fully distributed) is what certifies the sketch against
# its contract at validation SFs.
@query(
    "q26_approx_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_distinct_ok,
           TRUE AS median_rank_ok,
           TRUE AS median_in_data
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q26_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("med"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n"),
    )
    audited = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(agg), "l_returnflag")
        .groupBy("l_returnflag", "approx_parts", "med", "exact_parts", "n")
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("med")).cast("long")).alias(
                "cnt_lt"
            ),
            F.sum((F.col("l_extendedprice") <= F.col("med")).cast("long")).alias(
                "cnt_le"
            ),
            F.max(F.col("l_extendedprice") == F.col("med")).alias("median_in_data"),
        )
    )
    # with duplicate values rank is an interval [cnt_lt, cnt_le]; the
    # target 0.5n must land within it, extended by the GK rank-error
    # n/accuracy (default accuracy 10000) plus 1 for the ceil
    slack = F.col("n") / F.lit(10000) + F.lit(1)
    target = F.lit(0.5) * F.col("n")
    return audited.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.col("exact_parts").cast("long").alias("exact_parts"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.lit(3 * 0.05) * F.col("exact_parts")
        ).alias("approx_distinct_ok"),
        (
            (target >= F.col("cnt_lt") - slack) & (target <= F.col("cnt_le") + slack)
        ).alias("median_rank_ok"),
        "median_in_data",
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# q136 — grouped-aggregate pandas UDF (UDAF), registered and called
# from SQL — completes the custom-function family (q37 scalar
# pandas_udf, q44 applyInPandas, q46 UDTF)
# --------------------------------------------------------------------------
@query(
    "q136_grouped_agg_udaf",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(EXP(AVG(LN(l_extendedprice))), 6) AS gmean_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q136_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (geometric mean) as a GROUPED_AGG pandas UDF —
    the UDAF surface: Arrow ships each group's column once, numpy
    reduces it, and the result is usable BOTH from the DataFrame agg
    API and from SQL via spark.udf.register. Geometric mean is chosen
    as a real custom metric that still has an exact SQL form
    (exp(avg(ln))) so the UDAF answer is oracle-checkable; rounded to
    6 dp because the two engines (and any two partition orders) sum
    logs in different orders. Scale note: GROUPED_AGG materializes one
    group per Arrow batch — fine for bounded groups like returnflag;
    unbounded-group metrics should use expression-level partial aggs
    instead (the q88 pattern)."""
    import numpy as np

    @F.pandas_udf("double")
    def gmean(s: pd.Series) -> float:
        return float(np.exp(np.log(s.to_numpy(dtype="float64")).mean()))

    spark.udf.register("gmean", gmean)
    register_views(spark, sf_dir, ["lineitem"])
    # A GROUPED_AGG pandas UDF cannot share an Aggregate with built-in
    # (non-pandas) aggregates — Spark restriction — so the count rides
    # a separate 4-row aggregate joined back on the group key.
    return spark.sql(
        """
        WITH g AS (
            SELECT l_returnflag, ROUND(gmean(l_extendedprice), 6) AS gmean_price
            FROM lineitem GROUP BY l_returnflag
        ),
        c AS (
            SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag
        )
        SELECT c.l_returnflag, c.n, g.gmean_price
        FROM c JOIN g USING (l_returnflag)
        ORDER BY c.l_returnflag
        """
    )


# --------------------------------------------------------------------------
# q88 — statistics battery (corr / stddev / covariance per group).
# Spark's corr()/stddev() stream doubles in partition order, so their
# low bits differ from DuckDB's sequential pass. Both engines get the
# IDENTICAL result here by computing the raw moments (n, Σx, Σy, Σxy,
# Σx², Σy²) as exact DECIMAL sums and deriving the statistics with the
# same double expression tree — every operation is then an IEEE
# correctly-rounded function of identical inputs.
#
# The moments come from `exact_moments`, whose inputs are cast to
# DECIMAL *before* multiplying (casting the double product showed up
# as a 1-ULP corr mismatch). The raw columns are 2-decimal-clean
# (verified: max |v·100 − round(v·100)| ≤ 1e-9 over the fixture), so
# DECIMAL(18,2) casts are exact and every product/sum after them is
# exact integer arithmetic in both engines.
#
# Derived statistics are reported at 10 dp (round() in both engines):
# the moments are identical, but each engine's DECIMAL→DOUBLE cast of
# the huge Σxy/Σx²/Σy² decimals is separately rounded and can differ
# in the last bit, which surfaced as a 1-ULP corr mismatch at
# sf0.001. 10 dp is far inside double precision for these magnitudes
# and matches the q54 round-before-compare contract.
# --------------------------------------------------------------------------
@query(
    "q88_stats_moments",
    oracle="""
    SELECT l_returnflag,
           n,
           round(sx / n, 10) AS mean_qty,
           round((sxx - sx * sx / n) / (n - 1), 10) AS var_qty,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 10) AS stddev_qty,
           round((sxy - sx * sy / n) / (n - 1), 10) + 0 AS covar_qty_price,
           round((sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 10) + 0 AS corr_qty_price
    FROM (
        SELECT l_returnflag,
               COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM (SELECT l_returnflag,
                     CAST(l_quantity AS DECIMAL(18,2)) AS x,
                     CAST(l_extendedprice AS DECIMAL(18,2)) AS y
              FROM lineitem)
        GROUP BY l_returnflag
    )
    ORDER BY l_returnflag
    """,
)
def q88_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    base = l.select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    mom = exact_moments(base, "l_returnflag")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return mom.select(
        "l_returnflag",
        "n",
        F.round(sx / n, 10).alias("mean_qty"),
        F.round((sxx - sx * sx / n) / (n - 1), 10).alias("var_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 10).alias("stddev_qty"),
        # + 0.0 normalizes IEEE -0.0: DuckDB's ROUND keeps the sign of a
        # tiny-negative pre-image, Spark's BigDecimal round drops it —
        # numerically equal, hash-different (the q126 round-5 lesson).
        (F.round((sxy - sx * sy / n) / (n - 1), 10) + F.lit(0.0)).alias("covar_qty_price"),
        (
            F.round(
                (sxy - sx * sy / n)
                / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)),
                10,
            )
            + F.lit(0.0)
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")
