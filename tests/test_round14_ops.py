"""Round-14: the two rows-only → invariant-hash oracle upgrades
(r13 verdict item 3) must be REAL checks, not tautologies — each
audit is mutation-tested here: a corrupted input flips the graded
boolean, so a hash-green q181/q101 genuinely certifies the invariant.

1. q181 rank sketch: rank_error_audit recomputes each estimate's
   exact rank from raw data (independent of the sketch) and checks
   the MRL 2n/k + n_salts bound plus est-is-a-data-element. Honest
   sketch → all TRUE with SQL-exact n; an out-of-bound or
   interpolated estimate is detected.

2. q101 semantic dedup: semantic_dedup_exact_replica recomputes the
   drop predicate per cell with a dense float64 numpy Gram matrix (a
   different cosine code path from the engine's zip_with left-fold);
   (keep == NOT drop_exact) is semantic_dedup's exact
   characterization GIVEN the cell assignment. Agreement holds on
   random data, a flipped keep flag is caught, and the chain case
   (a~b, b~c, a!~c) pins the lower-id-ANY-neighbor rule — the
   kept-neighbor phrasing would wrongly expect c kept.

3. Marker-migration guard (r13 ADVICE): committed_epochs must
   refuse a sink written by pre-_DRAIN_COMMITTED code (epochs with
   _SUCCESS but no marker below/at the marker high-water mark, or more
   than one such epoch) instead of silently repacking at wrong
   offsets — while still accepting the ONE trailing unmarked epoch
   that a legitimate crash window leaves (test_round12_ops kills
   there; re-asserted structurally here).

No reference-repo counterpart (SURVEY.md §2.10 extension surface).
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.rank_sketch import (
    rank_error_audit,
    rank_summaries,
    summary_quantiles,
)
from tp_integ_data_pipeline_spark.operators.similarity import (
    semantic_dedup,
    semantic_dedup_exact_replica,
)

PROBS = [0.1, 0.25, 0.5, 0.75, 0.9]


def _values_df(spark, n=4000, seed=7):
    rng = random.Random(seed)
    rows = [(i, "g" if i % 3 else "h", rng.lognormvariate(0.0, 1.0)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, k string, v double")


def test_rank_error_audit_green_on_honest_sketch(spark):
    df = _values_df(spark).repartition(8)
    summ = rank_summaries(df, "k", "v", "id", k=256)
    est = summary_quantiles(summ, PROBS)
    out = rank_error_audit(df, "k", "v", est, k=256, n_salts=16).collect()
    assert len(out) == 2 * len(PROBS)
    exact_n = {r.k: r.n for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    for r in out:
        assert r.rank_err_ok, (r.key, r.p)
        assert r.est_in_data, (r.key, r.p)
        assert r.n == exact_n[r.key]


def test_rank_error_audit_detects_corrupt_estimates(spark):
    df = _values_df(spark)
    vmax = df.agg(F.max("v")).collect()[0][0]
    # p=0.1 "estimate" at the max value: rank = n, |n - 0.1n| >> 2n/k;
    # and a value strictly above the max is not a data element.
    bad = spark.createDataFrame(
        [("g", 0.1, float(vmax)), ("g", 0.5, float(vmax) + 1.0)],
        "key string, p double, est double",
    )
    out = {r.p: r for r in rank_error_audit(df, "k", "v", bad, k=256).collect()}
    assert not out[0.1].rank_err_ok
    assert out[0.1].est_in_data  # max IS a data element — only the rank is off
    assert not out[0.5].est_in_data  # interpolated value detected


def _emb_df(spark, n=120, dim=8, seed=3):
    rng = random.Random(seed)
    base = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n // 2)]
    rows = []
    for i in range(n):
        if i % 2 == 0:
            v = base[i // 2]
        else:  # near-dup of the previous even id: tiny perturbation
            v = [x + rng.gauss(0.0, 0.01) for x in base[i // 2]]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _centroids_df(spark, emb, n_cells=4):
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit

    return spark.createDataFrame(
        ivf_fit(emb, n_cells=n_cells, seed=42).collect(),
        "cell int, centroid array<double>",
    )


def test_semantic_dedup_replica_agrees_with_engine(spark):
    emb = _emb_df(spark)
    cents = _centroids_df(spark, emb)
    engine = semantic_dedup(emb, cents, threshold=0.9)
    rep = semantic_dedup_exact_replica(emb, cents, threshold=0.9)
    joined = engine.join(rep, "id").collect()
    assert len(joined) == 120
    assert all(r.keep == (not r.drop_exact) for r in joined)
    # the construction plants near-dup pairs: some drops must happen
    assert any(r.drop_exact for r in joined)
    assert any(not r.drop_exact for r in joined)


def test_semantic_dedup_audit_detects_flipped_keep(spark):
    emb = _emb_df(spark)
    cents = _centroids_df(spark, emb)
    engine = semantic_dedup(emb, cents, threshold=0.9)
    flip_id = engine.filter("NOT keep").agg(F.min("id")).collect()[0][0]
    mutated = engine.withColumn(
        "keep", F.when(F.col("id") == flip_id, ~F.col("keep")).otherwise(F.col("keep"))
    )
    rep = semantic_dedup_exact_replica(emb, cents, threshold=0.9)
    bad = (
        mutated.join(rep, "id")
        .filter(F.col("keep") != ~F.col("drop_exact"))
        .collect()
    )
    assert [r.id for r in bad] == [flip_id]


def _fake_sink(spark, marked, unmarked_success):
    """Builds a sink with epoch dirs: ``marked`` get parquet data +
    _DRAIN_COMMITTED (+ _SUCCESS, as the local committer leaves), and
    ``unmarked_success`` get parquet data + _SUCCESS only."""
    from tp_integ_data_pipeline_spark.sources.fixtures import scratch_dir
    from tp_integ_data_pipeline_spark.streaming.refresh import _COMMIT_MARKER

    sink = scratch_dir(prefix="legacy_sink_")
    for e in sorted(set(marked) | set(unmarked_success)):
        d = os.path.join(sink, f"epoch={e}")
        spark.createDataFrame(
            [(e, 1, "t")], "batch_id int, n_tokens long, text string"
        ).write.mode("overwrite").parquet(d)
        assert os.path.exists(os.path.join(d, "_SUCCESS"))
        if e in marked:
            with open(os.path.join(d, _COMMIT_MARKER), "w"):
                pass
    return sink


def test_recover_refuses_legacy_premarker_sink(spark):
    from tp_integ_data_pipeline_spark.streaming.refresh import committed_epochs

    # pre-marker code: every epoch has _SUCCESS, none has the marker
    sink = _fake_sink(spark, marked=[], unmarked_success=[0, 1])
    with pytest.raises(RuntimeError, match="pre-_DRAIN_COMMITTED"):
        committed_epochs(sink)


def test_recover_refuses_unmarked_epoch_below_high_water(spark):
    from tp_integ_data_pipeline_spark.streaming.refresh import committed_epochs

    # epoch 0 unmarked below a marked epoch 1: sequential drains can
    # never leave this shape — must be a foreign/mixed sink
    sink = _fake_sink(spark, marked=[1], unmarked_success=[0])
    with pytest.raises(RuntimeError, match="pre-_DRAIN_COMMITTED"):
        committed_epochs(sink)


def test_recover_accepts_single_trailing_crash_window_epoch(spark):
    from tp_integ_data_pipeline_spark.streaming.refresh import (
        carried_offset,
        committed_epochs,
    )

    # one trailing unmarked epoch with NO committed prefix = a first-
    # epoch crash between the parquet commit and the marker write; the
    # replay recomputes it, so recovery reports a clean empty state
    sink = _fake_sink(spark, marked=[], unmarked_success=[0])
    committed = committed_epochs(sink)
    assert committed == []
    assert carried_offset(spark, sink, committed, 500).first()._off == 500


def test_semantic_dedup_chain_rule_is_any_lower_neighbor(spark):
    # a~b (cos>=t), b~c, a!~c: the keep-min rule drops BOTH b and c
    # (c's trigger b is itself dropped). One cell forced via a single
    # centroid so the rule, not the clustering, is under test.
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.9, 0.4359, 0.0, 0.0]  # cos(a,b) = 0.9
    c = [0.62, 0.7846, 0.0, 0.0]  # cos(b,c) ≈ 0.9, cos(a,c) = 0.62
    emb = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], "cell int, centroid array<double>")
    keep = {r.id: r.keep for r in semantic_dedup(emb, cents, threshold=0.85).collect()}
    assert keep == {0: True, 1: False, 2: False}
    drop = {
        r.id: r.drop_exact
        for r in semantic_dedup_exact_replica(emb, cents, threshold=0.85).collect()
    }
    assert drop == {0: False, 1: True, 2: True}
