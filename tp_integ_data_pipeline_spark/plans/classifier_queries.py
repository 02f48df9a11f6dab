"""Distributed quality classifier: hashed word features +
IRLS-trained logistic regression + frozen-weight relational inference
(q241–q247). The fastText-style learned quality filter that the
curation suite otherwise approximates with hand rules (q94 quality
rules, q113 surprisal, q193 backoff-LM score). No reference-repo
counterpart (reference main.py:46-454 carries no ML surface) —
SURVEY.md §2.10 extension.

Oracle strategy: the FEATURIZE and SCORE paths are pure relational
plans over an engine-portable md5 bucket hash, so DuckDB replays them
exactly (full hash check). TRAINING is iterative linear algebra no
SQL engine replays float-for-float — so q242 grades the model by its
STATIONARITY INVARIANT instead: at the L2-logistic optimum the score
equation g_j = Σ_i x_ij (y_i − p_i) − λβ_j is exactly 0 for every
bucket, a value both engines agree on after round-6 normalization
(the q127 whitened-covariance-identity trick)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.classifier import (
    _weights_df,
    hashed_word_features,
    logreg_irls_train,
    score_frozen,
    stationarity_residuals,
)
from tp_integ_data_pipeline_spark.operators.text import tokens
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

# Feature space: 256 hashed buckets + bias. At d = 256 the fixture
# vocabulary's two label-rule words ("spark" → 122, "vector" → 77)
# are collision-free, so the weak rule is linearly expressible and
# the trained model's accuracy gates mean something (~0.99 train,
# ~0.97 at sf0.1 with frozen weights — tests/test_classifier.py).
_D = 256
_L2 = 1.0
# cap, not a fixed bill: training early-stops once the gradient is
# safely INSIDE the stationarity grading boundary (round-6 residual
# ≡ 0 ⇔ |g| < 5e-7), so an easy corpus pays ~9 iterations and a hard
# one iterates to the cap before the explicit non-convergence error
# fires (r8 ADVICE). The stop tolerance sits 5× below the boundary
# (r9 ADVICE): the early-stop gradient and the graded residual come
# from DIFFERENT plans (different float summation orders), so a run
# stopping marginally under 5e-7 could recompute marginally above it
# and trip q242's hard ValueError — 1e-7 leaves headroom far beyond
# any reordering noise (~ulp-scale, << 4e-7 of margin).
_IRLS_ITERS = 25
_IRLS_TOL = 1e-7

# Weak label the classifier is distilled from (the production pattern:
# distill an expensive rule/teacher into a cheap linear scorer):
# y = 1 iff the doc mentions {spark, vector} at least 3 times total.
# (Lazy: building a Column requires an active SparkContext.)
def _rule_label() -> F.Column:
    return (
        F.size(F.filter(tokens(), lambda w: w.isin("spark", "vector")))
        >= 3
    ).cast("double")
_RULE_SQL = (
    "(len(list_filter(string_split(text, ' '), w -> w IN ('spark', 'vector'))) >= 3)"
)

# Frozen production weights: logreg_irls_train at sf0.01 (full 500-doc
# corpus, d=256, λ=1.0, 12 Newton iters), rounded to 4 decimals and
# SHIPPED as constants — the inference path is a model artifact, not a
# per-run fit, exactly like the IVF/PQ codebooks (similarity.py).
_BIAS = -5.8864
_FROZEN = {
    27: -0.0402, 49: -0.1747, 55: -0.1697, 56: -0.2763, 76: 0.1864,
    77: 2.6679, 87: 0.1083, 95: -0.2694, 96: 0.1099, 105: 0.0757,
    109: 0.0192, 122: 2.5835, 125: 0.0066, 129: -0.1185, 133: 0.3117,
    138: 0.1425, 141: 0.164, 142: -0.1713, 147: -0.1095, 153: 0.0145,
    177: 0.0831, 185: 0.1505, 192: -0.1933, 214: -0.0595, 222: -0.1725,
    228: 0.101, 231: -0.1885, 240: -0.0246, 250: -0.0665,
}

_BUCKET_SQL = "CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 256"
_W_VALUES = ", ".join(f"({j}, {v})" for j, v in sorted(_FROZEN.items()))
_TOKENS_SQL = f"""
    tok AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE w <> ''
    ),
    feat AS (
        SELECT doc_id, {_BUCKET_SQL} AS j, COUNT(*) AS x
        FROM tok GROUP BY doc_id, {_BUCKET_SQL}
    )
"""
_SCORE_SQL = f"""
    wt(j, beta) AS (VALUES {_W_VALUES}),
    z AS (
        SELECT f.doc_id, SUM(f.x * wt.beta) AS zs
        FROM feat f JOIN wt ON wt.j = f.j GROUP BY f.doc_id
    ),
    sc AS (
        SELECT d.doc_id,
               ROUND(1.0 / (1.0 + exp(-(COALESCE(z.zs, 0.0) + ({_BIAS})))), 6)
                   AS score
        FROM documents d LEFT JOIN z USING (doc_id)
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared frozen-weight scoring: (id, score) with score already
    round-6 normalized so downstream thresholds/bins are decided on
    IDENTICAL doubles in both engines (pred flips at z≈0 otherwise)."""
    docs = load_table(spark, sf_dir, "documents")
    frozen = [0.0] * _D
    for j, v in _FROZEN.items():
        frozen[j] = v
    raw = score_frozen(docs, frozen, _BIAS)
    return raw.select("id", F.round("score", 6).alias("score"))


# --------------------------------------------------------------------------
# q241 — hashed-feature profile (the featurizer itself, hash-checked)
# --------------------------------------------------------------------------
@query(
    "q241_hashed_features",
    oracle=f"""
    WITH {_TOKENS_SQL}
    SELECT CAST(j AS INTEGER) AS j, COUNT(*) AS df_docs,
           CAST(SUM(x) AS BIGINT) AS total_tf
    FROM feat GROUP BY j ORDER BY j
    """,
)
def q241_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile of the hashing-trick feature space (Weinberger
    et al. 2009): per 256-way md5 bucket, document frequency and total
    term frequency. The fixed-d bucket hash is what keeps classifier
    state O(d) — independent of vocabulary growth — at 100 TB; this
    query hash-checks the featurizer every other family member builds
    on. One row-local explode + two keyed map-side-combinable rollups;
    output ≤ d rows."""
    docs = load_table(spark, sf_dir, "documents")
    feats = hashed_word_features(docs, n_buckets=_D, bias=False)
    return (
        feats.groupBy("j")
        .agg(
            F.count(F.lit(1)).alias("df_docs"),
            F.sum("x").cast("long").alias("total_tf"),
        )
        .orderBy("j")
    )


# --------------------------------------------------------------------------
# q242 — IRLS training, graded by the stationarity invariant
# --------------------------------------------------------------------------
@query(
    "q242_classifier_train",
    oracle=f"""
    WITH s AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
    tok AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM s
        ) WHERE w <> ''
    ),
    feat AS (
        SELECT doc_id, {_BUCKET_SQL} AS j
        FROM tok GROUP BY doc_id, {_BUCKET_SQL}
    ),
    fb AS (
        SELECT doc_id, j FROM feat
        UNION ALL SELECT doc_id, {_D} AS j FROM s
    ),
    cnt AS (SELECT j, COUNT(*) AS n_docs FROM fb GROUP BY j)
    SELECT CAST(g.j AS INTEGER) AS j,
           CAST(COALESCE(cnt.n_docs, 0) AS BIGINT) AS n_docs,
           0.0 AS grad_res
    FROM range({_D + 1}) AS g(j) LEFT JOIN cnt USING (j)
    ORDER BY g.j
    """,
)
def q242_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the L2-logistic quality classifier with distributed IRLS
    on the deterministic doc_id % 7 == 0 sample (train-on-sample,
    score-everything — the production split), labels from the weak
    rule being distilled. Per Newton iteration the cluster reduces the
    training relation to MODEL-SIZED partials only (gradient d rows,
    Hessian ≤ d² sparse rows via an id-keyed self equi-join bounded by
    per-doc distinct features); the d×d solve is driver-side, the same
    model-as-broadcast-data shape as PCA/IVF (embed_stats.py,
    similarity.py). Graded by the stationarity invariant: at the
    strictly-convex optimum every per-bucket score-equation residual
    is exactly 0 (round-6) — engine-reproducible where raw trained
    floats are not (the q127 trick) — plus the per-bucket training
    support counts, which DuckDB recomputes relationally."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    labels = docs.select(F.col("doc_id").alias("id"), _rule_label().alias("y"))
    feats = hashed_word_features(docs, n_buckets=_D, bias=True)
    # warm start from the SHIPPED production weights (the standard
    # periodic-re-train pattern): strictly-convex objective -> same
    # unique optimum, reached in 6 Newton reduces instead of 9 at
    # sf0.1 (round-16; final beta identical to <1e-10, and the
    # stationarity gate below still hard-verifies convergence)
    beta_init = [0.0] * (_D + 1)
    for _j, _v in _FROZEN.items():
        beta_init[_j] = _v
    beta_init[_D] = _BIAS
    beta = logreg_irls_train(
        spark,
        feats,
        labels,
        d=_D + 1,
        n_iters=_IRLS_ITERS,
        l2=_L2,
        tol=_IRLS_TOL,
        beta0=beta_init,
    )
    w_df = _weights_df(spark, beta)
    res = stationarity_residuals(feats, labels, w_df, l2=_L2).localCheckpoint(
        eager=True
    )
    # The oracle hardcodes grad_res ≡ 0.0, which is only valid at the
    # optimum. Surface non-convergence (larger/less-separable corpora,
    # too few Newton iters) as an EXPLICIT error here instead of a
    # silent hash mismatch (r8 ADVICE): the residual relation is
    # model-sized (d+1 rows), so the check is O(d).
    worst = res.agg(F.max(F.abs("grad_res"))).first()[0]
    if worst is not None and worst != 0.0:
        raise ValueError(
            f"q242: IRLS did not converge — max |grad_res| = {worst} "
            f"within the {_IRLS_ITERS}-iteration cap (round-6 residual must be 0)"
        )
    n_docs = feats.groupBy("j").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        res.join(n_docs, "j", "left")
        .select(
            "j",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            "grad_res",
        )
        .orderBy("j")
    )


# --------------------------------------------------------------------------
# q243 — frozen-weight inference (the production scoring path)
# --------------------------------------------------------------------------
@query(
    "q243_quality_score_frozen",
    oracle=f"""
    WITH {_TOKENS_SQL}, {_SCORE_SQL}
    SELECT doc_id, score,
           CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS pred
    FROM sc ORDER BY doc_id
    """,
)
def q243_quality_score_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the SHIPPED weight vector: featurize
    → broadcast-join the ≤ d-row weight table → id-keyed rollup →
    sigmoid. Zero Python, zero iteration — the plan a 1000-executor
    inference pass would run, and the whole path hash-checks against
    DuckDB (portable md5 buckets, round-6 sigmoid). The predicted
    label thresholds the ROUNDED score so both engines decide borderline
    docs on identical doubles."""
    sc = _scored(spark, sf_dir)
    return sc.select(
        F.col("id").alias("doc_id"),
        "score",
        (F.col("score") >= 0.5).cast("int").alias("pred"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q244 — classifier-gated corpus filter, per-source yield
# --------------------------------------------------------------------------
@query(
    "q244_quality_filter_stats",
    oracle=f"""
    WITH {_TOKENS_SQL}, {_SCORE_SQL}
    SELECT d.source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN sc.score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           ROUND(AVG(sc.score), 6) + 0 AS mean_score
    FROM documents d JOIN sc USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
)
def q244_quality_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation verb the classifier exists for: gate the corpus on
    the frozen model score and report per-source yield (kept/total)
    and mean score — what a 100 TB filtering pass publishes per shard
    before the kept set is written. Scoring join is bucket-keyed +
    broadcast; the rollup is source-keyed, map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    sc = _scored(spark, sf_dir)
    return (
        docs.select(F.col("doc_id").alias("id"), "source")
        .join(sc, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("score") >= 0.5).cast("int")).cast("long").alias("n_kept"),
            (F.round(F.avg("score"), 6) + F.lit(0.0)).alias("mean_score"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q245 — calibration of the frozen scorer against the teacher rule
# --------------------------------------------------------------------------
@query(
    "q245_quality_calibration",
    oracle=f"""
    WITH {_TOKENS_SQL}, {_SCORE_SQL}
    SELECT CAST(LEAST(CAST(FLOOR(sc.score * 10) AS INTEGER), 9) AS INTEGER)
               AS bin,
           COUNT(*) AS n,
           ROUND(AVG(CASE WHEN {_RULE_SQL} THEN 1.0 ELSE 0.0 END), 6) + 0
               AS frac_pos,
           ROUND(AVG(sc.score), 6) + 0 AS mean_score
    FROM documents d JOIN sc USING (doc_id)
    GROUP BY bin ORDER BY bin
    """,
)
def q245_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the frozen scorer vs the teacher rule it
    distills: decile bins of the round-6 score × (empirical positive
    rate, mean score) — the q212-style ECE evidence, here for a
    LEARNED scorer. A well-calibrated distillation has frac_pos ≈
    mean_score per bin. Bounded output (≤ 10 rows) from one keyed
    rollup; binning happens on the already-normalized score so bin
    edges agree across engines."""
    docs = load_table(spark, sf_dir, "documents")
    sc = _scored(spark, sf_dir)
    rule = docs.select(
        F.col("doc_id").alias("id"), _rule_label().alias("y")
    )
    return (
        sc.join(rule, "id")
        .select(
            F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9)).alias("bin"),
            "score",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("y"), 6) + F.lit(0.0)).alias("frac_pos"),
            (F.round(F.avg("score"), 6) + F.lit(0.0)).alias("mean_score"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q246 — per-language evaluation report of the frozen scorer
# --------------------------------------------------------------------------
@query(
    "q246_classifier_eval",
    oracle=f"""
    WITH {_TOKENS_SQL}, {_SCORE_SQL}
    SELECT d.lang,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN sc.score >= 0.5 AND {_RULE_SQL} THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN sc.score >= 0.5 AND NOT {_RULE_SQL} THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN sc.score < 0.5 AND {_RULE_SQL} THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
           ROUND(AVG(CASE WHEN (sc.score >= 0.5) = {_RULE_SQL}
                          THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
           ROUND(COALESCE(
               SUM(CASE WHEN sc.score >= 0.5 AND {_RULE_SQL} THEN 1.0 ELSE 0.0 END)
               / NULLIF(SUM(CASE WHEN sc.score >= 0.5 THEN 1.0 ELSE 0.0 END), 0),
               0.0), 6) AS precision_,
           ROUND(COALESCE(
               SUM(CASE WHEN sc.score >= 0.5 AND {_RULE_SQL} THEN 1.0 ELSE 0.0 END)
               / NULLIF(SUM(CASE WHEN {_RULE_SQL} THEN 1.0 ELSE 0.0 END), 0),
               0.0), 6) AS recall_
    FROM documents d JOIN sc USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q246_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality report of the frozen scorer against the
    teacher rule: confusion counts + accuracy/precision/recall at the
    0.5 threshold — the sliced regression dashboard a shipped filter
    model is monitored with (a slice whose recall collapses flags a
    distribution the hashed features stopped separating). One
    bucket-keyed scoring join + one bounded lang-keyed rollup; empty
    slices' undefined ratios are pinned to 0.0 on both engines
    (NULLIF + coalesce — the ANSI divide-by-zero rule). Threshold
    decisions reuse the round-6-normalized score (q243 discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    sc = _scored(spark, sf_dir)
    pred = (F.col("score") >= 0.5).cast("int")
    y = F.col("y").cast("int")
    joined = (
        docs.select(F.col("doc_id").alias("id"), "lang", _rule_label().alias("y"))
        .join(sc, "id")
        .select("lang", "score", y.alias("y"), pred.alias("pred"))
    )
    tp = F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("int")).cast("long")
    fp = F.sum(((F.col("pred") == 1) & (F.col("y") == 0)).cast("int")).cast("long")
    fn = F.sum(((F.col("pred") == 0) & (F.col("y") == 1)).cast("int")).cast("long")
    n_pred_pos = F.sum((F.col("pred") == 1).cast("double"))
    n_pos = F.sum(F.col("y").cast("double"))
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            tp.alias("tp"),
            fp.alias("fp"),
            fn.alias("fn"),
            F.round(F.avg((F.col("pred") == F.col("y")).cast("double")), 6).alias(
                "accuracy"
            ),
            F.round(
                F.coalesce(
                    F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("double"))
                    / F.nullif(n_pred_pos, F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("precision_"),
            F.round(
                F.coalesce(
                    F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("double"))
                    / F.nullif(n_pos, F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("recall_"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q247 — feature-importance report (explain the frozen model)
# --------------------------------------------------------------------------
@query(
    "q247_feature_importance",
    oracle=f"""
    WITH {_TOKENS_SQL},
    wt(j, beta) AS (VALUES {_W_VALUES}),
    vocab AS (
        SELECT {_BUCKET_SQL} AS j, w,
               COUNT(DISTINCT doc_id) AS df
        FROM tok GROUP BY {_BUCKET_SQL}, w
    )
    SELECT wt.j, wt.beta,
           COALESCE(string_agg(v.w, ' ' ORDER BY v.w), '') AS words,
           CAST(COALESCE(SUM(v.df), 0) AS BIGINT) AS total_df
    FROM wt LEFT JOIN vocab v ON v.j = wt.j
    GROUP BY wt.j, wt.beta
    ORDER BY abs(wt.beta) DESC, wt.j
    """,
)
def q247_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explain the frozen model: for every nonzero-weight bucket, the
    actual corpus words hashing into it (the hashing trick makes
    buckets opaque — this inverts them against the live vocabulary)
    plus their summed document frequency, ordered by |weight|. The
    interpretability artifact a quality-filter audit wants ("WHY is
    this doc downweighted") and the collision report in the same
    breath (multi-word rows show exactly which terms share a bucket).
    Vocabulary rollup is token-keyed and map-side combinable; the
    ≤ d-row weight table drives a broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    from tp_integ_data_pipeline_spark.operators.classifier import feature_bucket

    w_df = spark.createDataFrame(
        [(j, float(v)) for j, v in sorted(_FROZEN.items())], "j int, beta double"
    )
    toks = (
        docs.select(F.col("doc_id"), F.explode(tokens()).alias("w"))
        .where(F.col("w") != "")
    )
    vocab = (
        toks.groupBy(feature_bucket(F.col("w"), _D).alias("j"), "w")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    return (
        F.broadcast(w_df)
        .join(vocab, "j", "left")
        .groupBy("j", "beta")
        .agg(
            F.array_join(F.array_sort(F.collect_list("w")), " ").alias("words"),
            F.coalesce(F.sum("df"), F.lit(0)).cast("long").alias("total_df"),
        )
        .orderBy(F.abs("beta").desc(), "j")
    )
