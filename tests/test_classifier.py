"""Quality-classifier family (q241–q245): hashed featurizer units,
IRLS recovery on planted synthetic data, stationarity invariant,
frozen-model accuracy gates, and calibration sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.classifier import (
    feature_bucket,
    hashed_word_features,
    logreg_irls_train,
    margins,
    score_frozen,
    stationarity_residuals,
    weights_df,
)
from tp_integ_data_pipeline_spark.plans.registry import QUERIES
from tp_integ_data_pipeline_spark.plans.classifier_queries import _BIAS, _D, _FROZEN


def test_feature_bucket_matches_duckdb(spark):
    """The md5 bucket must equal DuckDB's CAST(('0x'||substr(md5,1,8))
    AS BIGINT) % n — the portability the whole family's oracles rest
    on."""
    import duckdb

    words = ["spark", "vector", "the", "dup", "Zebra!"]
    got = {
        r.w: r.j
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", feature_bucket(F.col("w"), 256).alias("j"))
        .collect()
    }
    con = duckdb.connect()
    for w in words:
        (exp,) = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 8)) AS BIGINT) % 256", [w]
        ).fetchone()
        assert got[w] == exp


def test_hashed_word_features_counts(spark):
    """tf per (doc, bucket); empty tokens dropped; bias row appended
    once per doc at j = n_buckets."""
    df = spark.createDataFrame([(1, "a b a"), (2, "")], "doc_id long, text string")
    rows = hashed_word_features(df, n_buckets=8, bias=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, {})[r.j] = r.x
    # doc 1: two distinct words + bias; doc 2: bias only
    assert by_doc[2] == {8: 1.0}
    assert by_doc[1].pop(8) == 1.0
    assert sorted(by_doc[1].values()) == [1.0, 2.0]


def test_irls_recovers_planted_separator(spark):
    """Two planted clusters separable on one feature: the trained
    model must classify the training set perfectly and put its largest
    weight on the separating bucket."""
    # docs: label 1 ⇔ word 'pos' appears ≥ 2 times; 'neg'/'filler' noise
    rows = []
    for i in range(120):
        pos = i % 2 == 0
        words = (["pos"] * (2 + i % 3) if pos else ["pos"] * (i % 2)) + [
            "filler",
            "neg",
        ] * (1 + i % 4)
        rows.append((i, " ".join(words), 1.0 if pos else 0.0))
    df = spark.createDataFrame(rows, "doc_id long, text string, y double")
    d = 32
    feats = hashed_word_features(df, n_buckets=d, bias=True)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    beta = logreg_irls_train(spark, feats, labels, d=d + 1, n_iters=10, l2=1.0)
    j_pos = (
        spark.createDataFrame([("pos",)], "w string")
        .select(feature_bucket(F.col("w"), d).alias("j"))
        .collect()[0][0]
    )
    assert int(np.argmax(beta[:d])) == j_pos
    m = margins(feats, weights_df(spark, beta))
    acc = (
        m.join(labels, "id")
        .select(((F.col("p") >= 0.5).cast("double") == F.col("y")).cast("double").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc == 1.0
    # stationarity: the invariant q242 is graded on
    res = stationarity_residuals(feats, labels, weights_df(spark, beta), l2=1.0)
    assert res.agg(F.max(F.abs("grad_res"))).collect()[0][0] == 0.0


def test_irls_l2_shrinks_unused_buckets(spark):
    """Buckets with zero support must keep exactly weight 0 (their
    gradient is −λβ, which starts and stays 0) — the corpus-wide
    stationarity invariant depends on it."""
    df = spark.createDataFrame(
        [(1, "a a b", 1.0), (2, "b", 0.0), (3, "a b", 1.0), (4, "b b", 0.0)],
        "doc_id long, text string, y double",
    )
    feats = hashed_word_features(df, n_buckets=16, bias=True)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    beta = logreg_irls_train(spark, feats, labels, d=17, n_iters=8, l2=1.0)
    used = {
        r.j
        for r in spark.createDataFrame([("a",), ("b",)], "w string")
        .select(feature_bucket(F.col("w"), 16).alias("j"))
        .collect()
    } | {16}
    for j in range(17):
        if j not in used:
            assert beta[j] == 0.0


def test_frozen_model_accuracy_gates(spark, sf_dir):
    """The SHIPPED weights must still beat the teacher rule at ≥ 0.97
    on their training corpus and ≥ 0.95 at the held-out sf0.1 scale —
    the gate that makes the frozen artifact more than dead constants."""
    frozen = [0.0] * _D
    for j, v in _FROZEN.items():
        frozen[j] = v
    for d, floor in ((sf_dir, 0.97), ("/root/testdata/sf0.1", 0.95)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        lab = docs.select(
            F.col("doc_id").alias("id"),
            (
                F.size(F.filter(F.split("text", " "), lambda w: w.isin("spark", "vector")))
                >= 3
            ).cast("double").alias("y"),
        )
        sc = score_frozen(docs, frozen, _BIAS)
        acc = (
            sc.join(lab, "id")
            .select(((F.col("score") >= 0.5).cast("double") == F.col("y")).cast("double").alias("ok"))
            .agg(F.avg("ok"))
            .collect()[0][0]
        )
        assert acc >= floor, (d, acc)


def test_score_frozen_keeps_featureless_docs(spark):
    """Docs whose text produces no feature rows (empty string) must
    still be scored — at sigmoid(bias), not dropped by the join."""
    df = spark.createDataFrame([(1, ""), (2, "x")], "doc_id long, text string")
    rows = score_frozen(df, [0.0] * 8, -2.0, text_col="text").collect()
    got = {r.id: r.score for r in rows}
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(1.0 / (1.0 + np.exp(2.0)))


def test_q242_invariant_rows(spark, sf_dir):
    """q242's grading surface: 257 rows, every residual exactly 0.0,
    bias-bucket support = sample size."""
    out = QUERIES["q242_classifier_train"](spark, sf_dir).collect()
    assert len(out) == _D + 1
    assert all(r.grad_res == 0.0 for r in out)
    n_sample = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 7 == 0)
        .count()
    )
    assert [r.n_docs for r in out if r.j == _D] == [n_sample]


def test_q245_calibration_is_monotone_enough(spark, sf_dir):
    """Bottom calibration bin must be overwhelmingly negative and the
    top bin overwhelmingly positive — the distilled scorer orders the
    classes."""
    rows = QUERIES["q245_quality_calibration"](spark, sf_dir).collect()
    by_bin = {r.bin: r for r in rows}
    lo, hi = min(by_bin), max(by_bin)
    assert by_bin[lo].frac_pos <= 0.1
    assert by_bin[hi].frac_pos >= 0.9


def test_irls_all_one_class(spark):
    """Degenerate all-positive sample: strictly-convex L2 objective
    still has a finite optimum (bias-dominated), stationarity still
    holds, and every prediction is > 0.5."""
    df = spark.createDataFrame(
        [(i, "a b", 1.0) for i in range(12)], "doc_id long, text string, y double"
    )
    feats = hashed_word_features(df, n_buckets=8, bias=True)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    beta = logreg_irls_train(spark, feats, labels, d=9, n_iters=8, l2=1.0)
    assert np.all(np.isfinite(beta))
    res = stationarity_residuals(feats, labels, weights_df(spark, beta), l2=1.0)
    assert res.agg(F.max(F.abs("grad_res"))).collect()[0][0] == 0.0
    m = margins(feats, weights_df(spark, beta))
    assert all(r.p > 0.5 for r in m.collect())


def test_q242_empty_sample_is_graceful(spark, tmp_path):
    """A corpus whose doc_id % 7 sample is EMPTY must still return the
    full 257-row invariant relation (β stays 0, residuals −λ·0 = 0,
    n_docs all 0) instead of erroring — the boundary a tiny shard of a
    100 TB corpus can hit."""
    docs = spark.createDataFrame(
        [(1, "a b", "en", "s", 3), (8, "b c", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["q242_classifier_train"](spark, str(tmp_path)).collect()
    assert len(out) == _D + 1
    assert all(r.grad_res == 0.0 and r.n_docs == 0 for r in out)


def test_irls_early_stop_matches_fixed_schedule(spark, sf_dir):
    """tol= early stopping (r9) must land on the same optimum as the
    fixed schedule — the L2-logistic problem is strictly convex, so
    both converge to the unique β*; the tol run just stops paying for
    iterations once ‖g‖∞ < tol."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 7 == 0
    )
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (
            F.size(F.filter(F.split("text", " "), lambda w: w.isin("spark", "vector")))
            >= 3
        ).cast("double").alias("y"),
    )
    feats = hashed_word_features(docs, n_buckets=_D, bias=True)
    fixed = logreg_irls_train(spark, feats, labels, d=_D + 1, n_iters=12, l2=1.0)
    tol = logreg_irls_train(
        spark, feats, labels, d=_D + 1, n_iters=25, l2=1.0, tol=5e-7
    )
    assert np.abs(fixed - tol).max() < 1e-6
    res = stationarity_residuals(feats, labels, weights_df(spark, tol), l2=1.0)
    assert res.agg(F.max(F.abs("grad_res"))).collect()[0][0] == 0.0


def test_irls_tol_margin_below_grading_boundary(spark, sf_dir):
    """r9 ADVICE regression: the early-stop tolerance must sit WELL
    below the 5e-7 round-6 grading boundary — the training loop's
    gradient and the graded residual come from DIFFERENT plans
    (different float summation orders), so a stop at exactly the
    boundary could recompute marginally above it and trip q242's
    hard non-convergence error. Asserts the constant's headroom AND
    that a model trained at the production tolerance recomputes a RAW
    (pre-round) residual with at least 2× margin under the boundary."""
    from tp_integ_data_pipeline_spark.plans.classifier_queries import _IRLS_TOL

    assert _IRLS_TOL <= 5e-7 / 4  # ≥4× headroom below the boundary
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 7 == 0
    )
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (
            F.size(F.filter(F.split("text", " "), lambda w: w.isin("spark", "vector")))
            >= 3
        ).cast("double").alias("y"),
    )
    feats = hashed_word_features(docs, n_buckets=_D, bias=True)
    beta = logreg_irls_train(
        spark, feats, labels, d=_D + 1, n_iters=25, l2=1.0, tol=_IRLS_TOL
    )
    w = weights_df(spark, beta)
    m = margins(feats, w)
    gd = (
        feats.join(labels, "id")
        .join(m, "id")
        .groupBy("j")
        .agg(F.sum(F.col("x") * (F.col("y") - F.col("p"))).alias("gd"))
    )
    worst_raw = (
        w.join(gd, "j", "left")
        .select(
            (F.coalesce(F.col("gd"), F.lit(0.0)) - F.col("beta")).alias("raw")
        )
        .agg(F.max(F.abs("raw")))
        .collect()[0][0]
    )
    assert worst_raw < 5e-7 / 2  # recomputation stays inside with margin


def test_q242_nonconvergence_raises_explicitly(spark, sf_dir, monkeypatch):
    """r8 ADVICE regression: the oracle hardcodes grad_res ≡ 0, so an
    UNCONVERGED model must surface as an explicit ValueError from the
    query, never a silent hash mismatch. Forcing 0 Newton iterations
    leaves β = 0, whose residual g_j = Σ x(y − 0.5) is nonzero."""
    from tp_integ_data_pipeline_spark.plans import classifier_queries as r8

    monkeypatch.setattr(r8, "_IRLS_ITERS", 0)
    with pytest.raises(ValueError, match="did not converge"):
        QUERIES["q242_classifier_train"](spark, sf_dir)


def test_q247_empty_bucket_matches_oracle(spark, tmp_path):
    """r8 ADVICE regression: a frozen-weight bucket with NO vocabulary
    support must yield words = '' on BOTH engines (Spark array_join of
    an empty collect_list vs DuckDB COALESCE(string_agg, '')). A
    two-word corpus leaves 27 of the 29 frozen buckets empty — the
    exact case the previous oracle returned NULL for."""
    import duckdb

    from tp_integ_data_pipeline_spark.plans.registry import ORACLES

    docs = spark.createDataFrame(
        [(1, "spark vector", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.j: (r.words, r.total_df)
        for r in QUERIES["q247_feature_importance"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    exp = {
        j: (w, df)
        for j, _beta, w, df in con.execute(
            ORACLES["q247_feature_importance"]
        ).fetchall()
    }
    assert got == exp
    assert got[77] == ("vector", 1) and got[122] == ("spark", 1)
    empties = [j for j, (w, _) in got.items() if w == ""]
    assert len(empties) == len(_FROZEN) - 2  # all unsupported buckets are ''


def test_irls_missing_bias_fails_loudly(spark):
    """Features built without the bias row would silently train to
    β = 0 (the gradient rides on k = bias pair rows) — the trainer
    must raise instead."""
    df = spark.createDataFrame(
        [(1, "a b", 1.0), (2, "b", 0.0)], "doc_id long, text string, y double"
    )
    feats = hashed_word_features(df, n_buckets=8, bias=False)
    labels = df.select(F.col("doc_id").alias("id"), "y")
    with pytest.raises(ValueError, match="bias row"):
        logreg_irls_train(spark, feats, labels, d=9, n_iters=2, l2=1.0)


def test_q246_eval_confusion_counts(spark, sf_dir):
    """Confusion identities per slice: tp+fp = predicted positives,
    tp+fn = rule positives, accuracy = (n − fp − fn)/n; global counts
    match an independent recomputation."""
    rows = QUERIES["q246_classifier_eval"](spark, sf_dir).collect()
    assert rows
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frozen = [0.0] * _D
    for j, v in _FROZEN.items():
        frozen[j] = v
    sc = score_frozen(docs, frozen, _BIAS).select(
        "id", (F.round("score", 6) >= 0.5).cast("int").alias("pred")
    )
    truth = docs.select(
        F.col("doc_id").alias("id"),
        F.col("lang"),
        (
            F.size(F.filter(F.split("text", " "), lambda w: w.isin("spark", "vector")))
            >= 3
        ).cast("int").alias("y"),
    )
    j = truth.join(sc, "id")
    for r in rows:
        sl = j.where(F.col("lang") == r.lang)
        tp = sl.where((F.col("pred") == 1) & (F.col("y") == 1)).count()
        fp = sl.where((F.col("pred") == 1) & (F.col("y") == 0)).count()
        fn = sl.where((F.col("pred") == 0) & (F.col("y") == 1)).count()
        assert (r.tp, r.fp, r.fn) == (tp, fp, fn)
        assert r.accuracy == pytest.approx((r.n - fp - fn) / r.n, abs=1e-6)


def test_q247_importance_inverts_buckets(spark, sf_dir):
    """The report must place 'vector' (bucket 77) and 'spark' (bucket
    122) on the two highest-|weight| rows, and every row's words list
    exactly the corpus words hashing to that bucket (collision rows
    list them all, space-joined sorted)."""
    rows = QUERIES["q247_feature_importance"](spark, sf_dir).collect()
    assert len(rows) == len(_FROZEN)
    top2 = rows[:2]
    assert {r.j for r in top2} == {77, 122}
    by_j = {r.j: r for r in rows}
    assert by_j[77].words == "vector"
    assert by_j[122].words == "spark"
    # bucket 250 carries the order/stream collision at d=256
    assert by_j[250].words == "order stream"
    assert all(r.total_df > 0 for r in rows)
