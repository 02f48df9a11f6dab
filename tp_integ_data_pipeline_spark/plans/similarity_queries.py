"""Similarity-search queries (X3) over the `embeddings` fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.similarity import ann_topk_srp, knn_bruteforce
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_COS = (
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) /"
    " (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *"
    "  sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[]))))"
)


@query(
    "q50_knn_bruteforce",
    oracle=f"""
    SELECT q_id, n_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos6
    FROM (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS} DESC, n.vec_id) AS rank,
               {_COS} AS cos
        FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
        WHERE q.vec_id < 10
    )
    WHERE rank <= 5
    ORDER BY q_id, rank
    """,
)
def q50_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return knn_bruteforce(emb, queries_df, k=5).orderBy("q_id", "rank")


# Approximate by design (SRP-LSH candidate recall < 1) → rows-only check.
@query("q51_ann_srp_topk")
def q51_ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_topk_srp(emb, queries_df, k=5).orderBy("q_id", "rank")


# --------------------------------------------------------------------------
# q118 — per-label embedding centroid + dispersion (vector aggregation)
# --------------------------------------------------------------------------
@query(
    "q118_label_centroids",
    oracle="""
    WITH dims AS (
        SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT label, CAST(dim AS INT) AS dim,
           COUNT(*) AS n_vecs,
           round(AVG(v), 6) + 0 AS centroid,
           round(AVG(v * v) - AVG(v) * AVG(v), 6) + 0 AS variance
    FROM dims
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def q118_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid and per-dimension variance of the embedding
    table — the vector-aggregation verb behind class prototypes,
    drift monitors, and SemDeDup cell seeding. DIMENSION-EXPLODED
    shape: (label, dim) keyed rows through one map-side-combined
    aggregate — never a per-label collect_list of whole vectors
    (which would hold |label| × dim × n doubles in one task at 100 TB).
    Variance uses the E[v²]−E[v]² form so both engines aggregate the
    same two sums; rounded to 6 dp before compare."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        dims.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # + 0.0 normalizes IEEE -0.0 after ROUND — centroids of
            # near-zero-centered dims are the canonical tiny-negative case.
            (F.round(F.avg("v"), 6) + F.lit(0.0)).alias("centroid"),
            (
                F.round(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 6)
                + F.lit(0.0)
            ).alias("variance"),
        )
        .select("label", F.col("dim").cast("int"), "n_vecs", "centroid", "variance")
        .orderBy("label", "dim")
    )


# Rows-only by design: PQ codebooks and IVF cells come from KMeans
# (not SQL-expressible); the hard checks are the pytest properties
# (tests/test_pq.py: recall vs brute force, ADC bound, code shape,
# offline-trained model determinism).
@query("q139_ann_ivf_pq")
def q139_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.py): offline KMeans coarse cells +
    per-sub-space PQ codebooks; the query path probes cells via
    equi-join, ranks candidates by asymmetric distance over the m-byte
    codes (candidate floats never read), then exact-re-ranks only the
    shortlist. The 100 TB storage story: 32x smaller candidate scan at
    m=8 over d=64 float32, with both models travelling as broadcast
    data — plan size O(1) in cells x codes."""
    from tp_integ_data_pipeline_spark.operators.pq import ivf_pq_topk, pq_fit
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_fit(emb, n_cells=16, seed=42)
    codebook = pq_fit(emb, m=8, k=16, seed=7)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_pq_topk(
        emb, queries, centroids, codebook, m=8, k=5, n_probe=4, shortlist=4
    ).orderBy("q_id", "rank")
