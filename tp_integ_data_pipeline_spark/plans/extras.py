"""Remaining surface: salted aggregation, array-agg, unpivot, Python
UDTF, IVF-style ANN."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.skew import salted_agg
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.plans.similarity_queries import ivf_centroids
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q29 — two-phase salted aggregation ≡ direct aggregation
# --------------------------------------------------------------------------
@query(
    "q29_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q29_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe aggregation: the oracle is the DIRECT group-by —
    salting must be semantically invisible. Salt derived
    deterministically from event_id."""
    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs=[
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
            F.count(F.lit(1)).alias("pn"),
        ],
        final_aggs=[
            F.sum("pv").cast("double").alias("total_value"),
            F.sum("pn").alias("n"),
        ],
        n_salts=16,
        salt_source="event_id",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q38 — collect_set + sort_array + array_join (array aggregation)
# --------------------------------------------------------------------------
@query(
    "q38_collect_sorted",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_list
    FROM events
    WHERE user_id < 15
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q38_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.array_join(F.sort_array(F.collect_set("user_id")), ",").alias("user_list"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q39 — unpivot / stack
# --------------------------------------------------------------------------
@query(
    "q39_unpivot",
    oracle="""
    SELECT measure,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
        SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT 'tax', l_tax FROM lineitem
        UNION ALL
        SELECT 'discount', l_discount FROM lineitem
    )
    GROUP BY measure
    ORDER BY measure
    """,
)
def q39_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    unpivoted = li.unpivot(
        ids=[], values=["l_quantity", "l_tax", "l_discount"], variableColumnName="col", valueColumnName="val"
    ).withColumn(
        "measure",
        F.when(F.col("col") == "l_quantity", "quantity")
        .when(F.col("col") == "l_tax", "tax")
        .otherwise("discount"),
    )
    return (
        unpivoted.groupBy("measure")
        .agg(F.sum(F.col("val").cast("decimal(18,2)")).cast("double").alias("total"))
        .orderBy("measure")
    )


# --------------------------------------------------------------------------
# q52 — IVF-style ANN: offline-trained coarse quantizer + probed exact
# re-rank (approximate → rows-only check; recall tested vs brute force
# in tests/). The model is similarity_queries.ivf_centroids, trained
# once per (session, corpus) and shared with q101 and q139.
# --------------------------------------------------------------------------
@query("q52_ann_ivf")
def q52_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    centroids = ivf_centroids(spark, sf_dir, 16, 42)
    return ivf_topk(emb, queries_df, centroids, k=5, n_probe=4).orderBy("q_id", "rank")


# --------------------------------------------------------------------------
# q92 — VARIANT semi-structured handling (Spark 4 parse_json /
# variant_get): shredded-at-read JSON beats per-query string parsing at
# 100 TB (binary variant encoding, pushdown-friendly), complementing
# q19's get_json_object string path.
# --------------------------------------------------------------------------
@query(
    "q92_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q92_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q101 — SemDeDup-style semantic dedup, graded through the per-vector
# keep/drop CHARACTERIZATION audit (upgraded from rows-only in r14)
# --------------------------------------------------------------------------
# The KMeans cell assignment is not SQL — but GIVEN the materialized
# assignment, semantic_dedup's contract is exact: a vector is dropped
# iff it has a LOWER-id same-cell neighbor at cosine >= t. An
# independent numpy replica (dense per-cell Gram matrix inside
# applyInPandas — a different cosine code path from the engine's
# zip_with/aggregate SQL expressions) recomputes that predicate per
# vector; the graded relation is one row per embedding with the
# engine-vs-replica agreement boolean, which DuckDB predicts as
# (vec_id, TRUE) iff the engine honors its characterization on every
# vector. Same invariant-upgrade shape as q127/q153/q242. Recall/
# threshold properties stay pytest-covered (test_dedup_similarity.py).
@query(
    "q101_semantic_dedup",
    oracle="""
    SELECT vec_id AS id, TRUE AS keep_matches_exact_replica
    FROM embeddings ORDER BY vec_id
    """,
)
def q101_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023) over the embeddings table with
    the offline IVF centroids (16 cells, t=0.45), audited per vector:
    the engine's keep flag must equal NOT(exists lower-id same-cell
    neighbor >= t) as recomputed by a brute-force numpy replica within
    each cell. Scale shape: the audit is Σ|cell|² — the SAME cost
    class as the operator itself (the published method's whole point
    is confining pairwise work to cells), shipped as one Arrow batch
    per cell. Float caveat: engine cosine is a left-fold aggregate,
    replica is a numpy matmul — a pair landing within ~1e-15 of t
    could disagree; verified stable at all three fixture SFs."""
    from tp_integ_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_exact_replica,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_centroids(spark, sf_dir, 16, 42)
    engine = semantic_dedup(emb, centroids, threshold=0.45)
    audit = semantic_dedup_exact_replica(emb, centroids, threshold=0.45)
    return (
        engine.join(audit, "id")
        .select(
            "id",
            (F.col("keep") == ~F.col("drop_exact")).alias(
                "keep_matches_exact_replica"
            ),
        )
        .orderBy("id")
    )
