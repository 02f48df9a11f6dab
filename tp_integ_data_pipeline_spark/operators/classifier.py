"""Distributed quality classifier: hashed word features + logistic
regression trained by IRLS (Newton) — the fastText-style quality
filter the curation suite previously proxied with hand rules
(q94 quality rules, q113 surprisal, q193 backoff-LM). No reference
counterpart (reference main.py:46-454 has no ML surface) — SURVEY.md
§2.10 extension, round-7 VERDICT item 7.

Shape, at 100 TB:

- **Featurize** — one row-local explode + one (id, bucket)-keyed
  map-side-combinable rollup; the feature space is a FIXED ``d``
  hashed buckets (feature hashing / "the hashing trick",
  Weinberger et al. 2009), so state never grows with vocabulary.
- **Train** — each Newton iteration reduces the training relation to
  model-sized partial state: the gradient (``d`` rows) and the
  Hessian (≤ d² rows, sparse) via per-doc pair fan-out that is
  bounded row-locally (a doc has ≤ distinct-words-per-doc features).
  Only that bounded state is collected; the d×d solve is O(d³) on
  the driver — the same model-as-broadcast-data discipline as
  IVF/PQ/PCA (similarity.py, embed_stats.py).
- **Score** — fully relational: broadcast the (≤ d+1)-row weight
  table, one equi-join + keyed rollup + sigmoid. No Python anywhere
  in the hot path, and the frozen-weight variant is exactly
  reproducible by the DuckDB oracle (portable md5 bucketing).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.joins import session_width_repartition
from tp_integ_data_pipeline_spark.operators.text import tokens


def feature_bucket(col: F.Column, n_buckets: int) -> F.Column:
    """Engine-portable hashed-feature bucket: first 8 md5 hex chars →
    uint32 → mod n_buckets (the PLANS.md portable-hash canon; DuckDB:
    CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % n)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets).cast(
        "int"
    )


def hashed_word_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    bias: bool = False,
) -> DataFrame:
    """Sparse hashed bag-of-words: (id, j, x) with x = term frequency
    of bucket j in the doc. With ``bias`` a constant feature row
    (j = n_buckets, x = 1.0) is appended per doc so the trainer can
    treat the intercept uniformly."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("w")
    ).where(F.col("w") != "")
    feats = (
        toks.select("id", feature_bucket(F.col("w"), n_buckets).alias("j"))
        .groupBy("id", "j")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    if bias:
        feats = feats.unionByName(
            docs.select(
                F.col(id_col).alias("id"),
                F.lit(n_buckets).cast("int").alias("j"),
                F.lit(1.0).alias("x"),
            )
        )
    return feats


def weights_df(spark: SparkSession, beta: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        [(int(j), float(b)) for j, b in enumerate(beta)], "j int, beta double"
    )


def margins(features: DataFrame, weights: DataFrame) -> DataFrame:
    """Per-doc linear score and sigmoid probability: one broadcast
    equi-join on the bucket key + one id-keyed rollup. (id, z, p)."""
    return (
        features.join(F.broadcast(weights), "j")
        .groupBy("id")
        .agg(F.sum(F.col("x") * F.col("beta")).alias("z"))
        .select("id", "z", (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p"))
    )


def logreg_irls_train(
    spark: SparkSession,
    features: DataFrame,
    labels: DataFrame,
    d: int,
    n_iters: int = 10,
    l2: float = 1.0,
    tol: float | None = None,
    stats: dict | None = None,
    beta0: "np.ndarray | list[float] | None" = None,
) -> np.ndarray:
    """IRLS / Newton for L2-regularized logistic regression.

    ``features`` = (id, j, x) sparse (j in [0, d)), ``labels`` =
    (id, y) with y ∈ {0.0, 1.0}. Per iteration the cluster computes
    only model-sized partials:

    - gradient  g_j = Σ_i x_ij (y_i − p_i) − λ β_j   (d rows)
    - Hessian   H_jk = Σ_i p_i(1−p_i) x_ij x_ik + λ·1[j=k]
      (≤ d² rows; the outer product is an id-keyed self equi-join,
      bounded per doc by its distinct-feature count)

    and the driver solves the d×d system (strictly convex for
    λ > 0, so Newton converges globally — L2 also keeps the optimum
    finite on separable data). Returns the weight vector; callers
    verify the stationarity invariant g(β*) = 0 rather than comparing
    engine-specific floats (the q127 whitening-invariant trick).

    Newton-step plan shape (ONE action, ONE model-sized exchange per
    iteration — the knobs that keep 10 iterations cheap):

    - ``features`` must include the bias row (j = d−1, x = 1); the
      gradient then needs no second aggregate: pair rows with
      k = bias carry xx = x_ij·1, so g_j = Σ (y−p)·xx over exactly
      those rows, fused into the Hessian groupBy as a conditional sum.
    - weights enter as a LITERAL array (element_at), not a join — no
      broadcast build per step.
    - everything is co-partitioned by id up front, at an explicit
      count (the session's shuffle width), so the per-doc margin
      aggregate and the pair⋈margin join run exchange-free; only the
      final ≤ d² (j, k) rollup shuffles.

    ``tol`` enables early stopping: the gradient needed for the check
    is already in the per-iteration collected partials, so when
    ‖g(β)‖∞ < tol the loop returns the CURRENT β without the update —
    zero extra cluster actions, and ``n_iters`` becomes a cap rather
    than a fixed bill (Newton converges quadratically here, so the
    last iterations of a fixed schedule are usually pure overhead,
    while a harder corpus iterates as long as the cap allows)."""
    # Warm start (optional): Newton on the strictly-convex L2
    # objective converges to the SAME unique optimum from any start; a
    # production re-train initialized from the shipped weights just gets
    # there in fewer model-sized reduces (measured at sf0.1: 9 -> 6
    # collect rounds, final beta identical to < 1e-10 — both ends inside
    # the tol ball). Validated before any checkpoint or join runs.
    if beta0 is not None:
        beta = np.asarray(beta0, dtype=float).copy()
        if beta.shape != (d,):
            raise ValueError(f"beta0 must have shape ({d},), got {beta.shape}")
    else:
        beta = np.zeros(d)
    feats = session_width_repartition(features, "id").localCheckpoint(eager=True)
    lab = session_width_repartition(labels, "id").localCheckpoint(eager=True)
    # the per-doc feature outer product is ITERATION-INDEPENDENT —
    # build the (id, j, k, xx) pair relation once (id-keyed self
    # equi-join, row-locally bounded by per-doc distinct features,
    # exchange-free on the co-partitioned input) and checkpoint it;
    # each Newton step then only re-weights it.
    pairs = (
        feats.alias("a")
        .join(feats.alias("b"), F.col("a.id") == F.col("b.id"))
        .select(
            F.col("a.id").alias("id"),
            F.col("a.j").alias("j"),
            F.col("b.j").alias("k"),
            (F.col("a.x") * F.col("b.x")).alias("xx"),
        )
        .join(lab, "id")
        .localCheckpoint(eager=True)
    )
    bias_j = d - 1
    iters_run = 0
    for _ in range(n_iters):
        iters_run += 1
        blit = F.lit([float(b) for b in beta])
        m = feats.groupBy("id").agg(
            F.sum(F.col("x") * F.element_at(blit, F.col("j") + 1)).alias("z")
        )
        m = m.select(
            "id", (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p")
        )
        rows = (
            pairs.join(m, "id")
            .groupBy("j", "k")
            .agg(
                F.sum(F.col("p") * (1.0 - F.col("p")) * F.col("xx")).alias("h"),
                F.sum(
                    F.when(
                        F.col("k") == bias_j, (F.col("y") - F.col("p")) * F.col("xx")
                    )
                ).alias("g"),
            )
            .collect()
        )
        # the gradient rides exclusively on k = bias rows: features
        # built WITHOUT the bias row would silently train to β = 0
        # (g ≡ −λβ = 0 from the start) — fail loudly instead
        if rows and not any(r["k"] == bias_j for r in rows):
            raise ValueError(
                "logreg_irls_train: features carry no bias row "
                f"(j = {bias_j}); build them with "
                "hashed_word_features(..., bias=True) and d = n_buckets + 1"
            )
        g = -l2 * beta
        H = l2 * np.eye(d)
        for r in rows:
            H[r["j"], r["k"]] += r["h"]
            if r["k"] == bias_j and r["g"] is not None:
                g[r["j"]] += r["g"]
        if tol is not None and np.abs(g).max() < tol:
            break
        beta = beta + np.linalg.solve(H, g)
    if stats is not None:
        # cluster reduces run (the last one is the convergence check)
        stats["collect_rounds"] = iters_run
    return beta


def stationarity_residuals(
    features: DataFrame, labels: DataFrame, weights: DataFrame, l2: float = 1.0
) -> DataFrame:
    """Per-bucket score-equation residual g_j = Σ x_ij (y_i − p_i) −
    λ β_j — exactly 0 at the L2-logistic optimum, which makes a
    CONVERGED model hash-checkable without reproducing float-for-float
    training in another engine. Buckets with no support still carry
    the −λβ_j term (β_j stays 0 there, so the invariant holds
    corpus-wide). Output: (j, grad_res)."""
    m = margins(features, weights)
    data_part = (
        features.join(labels, "id")
        .join(m, "id")
        .groupBy("j")
        .agg(F.sum(F.col("x") * (F.col("y") - F.col("p"))).alias("gd"))
    )
    return (
        weights.join(data_part, "j", "left")
        .select(
            "j",
            (F.coalesce(F.col("gd"), F.lit(0.0)) - F.lit(l2) * F.col("beta")).alias(
                "raw"
            ),
        )
        # ROUND(x, 6) + 0 normalizes -0.0 (engine-conventions canon)
        .select("j", (F.round(F.col("raw"), 6) + F.lit(0.0)).alias("grad_res"))
    )


def score_frozen(
    docs: DataFrame,
    frozen: list[float],
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Production scoring path with a FROZEN (shipped) weight vector:
    featurize → broadcast-join the d-row weight table → sigmoid.
    Deterministic and exactly reproducible in ANSI SQL, so the whole
    inference path is oracle-hash-checkable. Output: (id, score)."""
    spark = docs.sparkSession
    d = len(frozen)
    w_df = spark.createDataFrame(
        [(j, float(v)) for j, v in enumerate(frozen)], "j int, beta double"
    )
    feats = hashed_word_features(docs, id_col, text_col, n_buckets=d, bias=False)
    return (
        feats.join(F.broadcast(w_df), "j")
        .groupBy("id")
        .agg(F.sum(F.col("x") * F.col("beta")).alias("zs"))
        # right join keeps empty-text docs (no feature rows): z = bias
        .join(docs.select(F.col(id_col).alias("id")), "id", "right")
        .select(
            "id",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.coalesce(F.col("zs"), F.lit(0.0)) + F.lit(bias))))
            ).alias("score"),
        )
    )
