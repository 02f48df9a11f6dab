"""Embedding queries: distributed covariance and PCA whitening
(operators/embed_stats.py), quantization, and embedding-cosine near-dup
clusters. No reference-repo counterpart —
SURVEY.md §2.10 extension surface for the embedding side of a training
pipeline (decorrelation before quantization/ANN, drift detection,
SemDeDup preprocessing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.dedup import dup_clusters
from tp_integ_data_pipeline_spark.operators.embed_stats import (
    covariance_matrix,
    fit_pca,
    transform_pca,
)
from tp_integ_data_pipeline_spark.operators.quantize import (
    quantize_codes,
    reconstruction_report,
)
from tp_integ_data_pipeline_spark.operators.similarity import cosine_pairs
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q126 — full covariance matrix of the embedding table
# --------------------------------------------------------------------------
@query(
    "q126_embedding_covariance",
    oracle="""
    WITH x AS (
        SELECT vec_id, CAST(i - 1 AS INT) AS i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
    m AS (SELECT i, SUM(v) / (SELECT n FROM n) AS mean FROM x GROUP BY i),
    g AS (
        SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    )
    SELECT g.i, g.j,
           ROUND(g.sxy / (SELECT n FROM n) - mi.mean * mj.mean, 6) + 0 AS cov
    FROM g JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j
    ORDER BY g.i, g.j
    """,
)
def q126_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance (upper triangle, d*(d+1)/2 rows) of the
    embedding table. The Spark plan is the partial-Gram shape: BLAS
    ``X.T @ X`` per Arrow batch inside mapInPandas, O(partitions * d^2)
    partial rows shuffled, bounded broadcast joins to finish — NOT an
    n*d^2 pair explode (the oracle's shape, fine for DuckDB at check
    scale, fatal at 100 TB). Graded queries run the deterministic fold
    (id-keyed fixed repartition + fixed chunks + exact DECIMAL partial
    combine) so a ROUND(,6) boundary cell cannot flip with the
    environment's partitioning — the round-4 driver-hash lesson. Both
    sides also add +0 after ROUND to normalize IEEE -0.0 (the round-5
    residual: one cell Spark 0.0 vs DuckDB -0.0, numerically equal but
    hash-different)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        covariance_matrix(emb, "embedding", id_col="vec_id")
        .select("i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov"))
        .orderBy("i", "j")
    )


# --------------------------------------------------------------------------
# q127 — PCA whitening end-to-end, graded through SQL-checkable
# INVARIANTS (hash-checked since round 7; previously rows-only)
# --------------------------------------------------------------------------
# The eigendecomposition itself (np.linalg.eigh) is not SQL — but its
# defining identities ARE, so the graded output is built from them
# (round-6 VERDICT item 6):
#   * whitened_cov(i, j): population covariance of the whitened
#     projection, COMPUTED FROM THE DATA through the full distributed
#     transform path. Mathematically the k x k identity; the oracle
#     states that identity, so any defect in fit/project/whiten/
#     re-aggregate breaks the hash.
#   * eig_trace: sum of ALL d eigenvalues == trace of the covariance.
#     Spark emits the eigh side; DuckDB recomputes the trace from the
#     raw table (q126's moment shape) — a genuine cross-engine value.
#   * eig_frobenius_sq: sum of eigenvalues^2 == ||C||_F^2, DuckDB
#     summing cov_ij^2 over the full matrix (off-diagonal doubled).
# The pytest property suite still carries spectrum ordering and
# run-determinism — tests/test_embed_stats.py.
@query(
    "q127_pca_whitening",
    oracle="""
    WITH x AS (
        SELECT vec_id, CAST(i - 1 AS INT) AS i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
    m AS (SELECT i, SUM(v) / (SELECT n FROM n) AS mean FROM x GROUP BY i),
    g AS (
        SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    cov AS (
        SELECT g.i, g.j, g.sxy / (SELECT n FROM n) - mi.mean * mj.mean AS c
        FROM g JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j
    ),
    grid AS (
        SELECT CAST(ta.range AS INT) AS i, CAST(tb.range AS INT) AS j
        FROM range(0, 8) ta, range(0, 8) tb
        WHERE ta.range <= tb.range
    )
    SELECT metric, i, j, val FROM (
        SELECT 'whitened_cov' AS metric, i, j,
               CASE WHEN i = j THEN 1.0 ELSE 0.0 END + 0 AS val
        FROM grid
        UNION ALL
        SELECT 'eig_trace', -1, -1,
               ROUND(SUM(CASE WHEN i = j THEN c ELSE 0 END), 6) + 0
        FROM cov
        UNION ALL
        SELECT 'eig_frobenius_sq', -1, -1,
               ROUND(SUM(CASE WHEN i = j THEN c * c ELSE 2 * c * c END), 6) + 0
        FROM cov
    ) ORDER BY metric, i, j
    """,
)
def q127_pca_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit PCA on the embedding table (one scan -> d x d moments ->
    driver eigh, deterministic fold so the model is run-stable),
    whiten-project with the model as a SparkContext broadcast, then
    re-derive the k x k covariance of the PROJECTED DATA with the same
    O(partitions * k^2) partial-moment fold — plus the trace and
    squared-Frobenius eigenvalue identities against the raw table.
    Output (metric, i, j, val): 36 whitened-covariance cells (rounded
    to 4 dp — identity to ~1e-7 by construction, eps=1e-9 << min top-8
    eigenvalue ~0.02) and the two spectrum scalars at 6 dp, -0.0
    normalized via +0 on both engines (PLANS.md rule)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # deterministic moment fold: the fitted model is run-stable
    full = fit_pca(emb, "embedding", k=None, id_col="vec_id")
    evals = full["eigenvalues"]
    model = {
        "mean": full["mean"],
        "components": full["components"][:, :8],
        "eigenvalues": evals[:8],
        "eps": full["eps"],
    }
    proj = transform_pca(
        emb, model, "embedding", out_col="proj", whiten=True, keep_cols=["vec_id"]
    )
    wcov = (
        covariance_matrix(proj, "proj", id_col="vec_id")
        .select(
            F.lit("whitened_cov").alias("metric"),
            "i",
            "j",
            (F.round("cov", 4) + F.lit(0.0)).alias("val"),
        )
    )
    scalars = spark.createDataFrame(
        [
            ("eig_trace", -1, -1, float(round(float(evals.sum()), 6)) + 0.0),
            (
                "eig_frobenius_sq",
                -1,
                -1,
                float(round(float((evals**2).sum()), 6)) + 0.0,
            ),
        ],
        "metric string, i int, j int, val double",
    )
    return wcov.unionByName(scalars).orderBy("metric", "i", "j")


# --------------------------------------------------------------------------
# q137 — int8 scalar quantization of the embedding table + per-dim
# reconstruction audit (operators/quantize.py)
# --------------------------------------------------------------------------
@query(
    "q137_embedding_quantize",
    oracle="""
    WITH x AS (
        SELECT vec_id, CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    st AS (SELECT dim, MIN(v) AS cmin, MAX(v) AS cmax FROM x GROUP BY dim),
    q AS (
        SELECT x.dim, v, cmin, cmax,
               CASE WHEN cmax = cmin THEN 0
                    ELSE LEAST(255, GREATEST(0,
                        CAST(FLOOR((v - cmin) / (cmax - cmin) * 255 + 0.5) AS INT)))
               END AS code
        FROM x JOIN st USING (dim)
    ),
    r AS (
        SELECT dim, cmin, cmax, code,
               ABS(v - (cmin + code * (cmax - cmin) / 255)) AS abs_err
        FROM q
    )
    SELECT dim, ROUND(MIN(cmin), 6) AS cmin, ROUND(MAX(cmax), 6) AS cmax,
           COUNT(DISTINCT code) AS n_codes,
           ROUND(AVG(abs_err), 6) AS avg_abs_err,
           ROUND(MAX(abs_err), 6) AS max_abs_err
    FROM r GROUP BY dim ORDER BY dim
    """,
)
def q137_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max int8 codes over every embedding dimension, audited per
    dim (bounds, code spread, reconstruction error). The whole code
    path — not just the aggregate — is engine-reproducible (float32 ->
    double exact, floor(x+0.5) instead of round()), so the oracle
    recomputes the identical codes; the d-row stats table rides a
    broadcast equi-join on dim (never a 1-row cross join). Storage
    win at scale: 4x smaller ANN corpus with max error <= range/510
    per dim (bound asserted in tests/test_quantize.py). Complements
    q53's per-VECTOR symmetric quantizer: per-dim asymmetric min-max
    adapts to anisotropic dimensions and supports the frozen-stats
    train/apply split an incremental corpus needs."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = quantize_codes(emb, "embedding", "vec_id", levels=255)
    return reconstruction_report(ex).orderBy("dim")


# --------------------------------------------------------------------------
# q159 — embedding-cosine near-dup clusters (the embedding-side analogue
# of q87's MinHash clusters; completes the dedup-family matrix)
# --------------------------------------------------------------------------
_COS_TAU = 0.45


@query(
    "q159_embedding_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
              (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
               sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
              >= {_COS_TAU}
    ),
    sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    reach(src, dst) AS (
        SELECT a AS src, a AS dst FROM sym
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
    ),
    membership AS (SELECT src AS id, MIN(dst) AS cluster FROM reach GROUP BY src)
    SELECT cluster, COUNT(*) AS n_members, MIN(id) AS canonical
    FROM membership GROUP BY cluster
    ORDER BY cluster
    """,
)
def q159_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup CLUSTERS: threshold the blocked-numpy
    cosine pairs (q44's operator) at {_COS_TAU}, run the large-star/
    small-star connected-components loop (q87's operator), and report
    per-cluster size + min-id canonical. The engine side composes the
    two scale paths (blocked matmul, O(log n) CC rounds); the oracle
    recomputes the identical clusters with a quadratic join + recursive
    CTE — fine at check scale, the point at 100 TB is precisely that
    the engine does NOT do that."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, threshold=_COS_TAU).select("a", "b")
    membership = dup_clusters(pairs)
    return (
        membership.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("id").alias("canonical"))
        .orderBy("cluster")
    )
