"""Round-16 optimization tests: the plan-bound corpus-scan spread, the shim
engagement probe, the warm-started IRLS trainer, and the 2-trigger
streaming flush staging."""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_spread_is_bound_in_the_plan(spark, sf_dir):
    """The corpus-scan spread is part of the consumer's built plan: q57
    carries the fixed-width round-robin exchange, while q164 (a light
    consumer) does not, even when built right after q57."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES
    from tp_integ_data_pipeline_spark.sources import fixtures

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    spread = f"RoundRobinPartitioning({fixtures._SPREAD_PARTITIONS})"
    orig = fixtures._SPREAD_MIN_BYTES
    fixtures._SPREAD_MIN_BYTES = 1
    try:
        q57 = QUERIES["q57_fingerprint"](spark, sf_dir)
        q164 = QUERIES["q164_bm25_topk"](spark, sf_dir)
        assert spread in plan(q57)
        assert spread not in plan(q164)
        assert q57.count() > 0
    finally:
        fixtures._SPREAD_MIN_BYTES = orig


def test_worker_shim_engagement_probe(spark):
    """One 1-task Python job asks the WORKER whether the shim engaged.
    The shim's zipimport patch is the marker: it is applied when the
    shim module is imported, which only happens through the daemon's
    spark.python.worker.module hook. That hook is an internal conf set
    through the live SparkEnv, so a Spark that ignores it fails here
    instead of silently running stock (correct, slower) workers."""
    if os.environ.get("SPARK_GRAFT_NO_WORKER_SHIM") == "1":
        pytest.skip("shim opted out")

    def engaged(_):
        import zipimport

        return bool(getattr(zipimport.zipimporter, "_engine_mtime_patched", False))

    assert spark.sparkContext.parallelize([0], 1).map(engaged).collect() == [True]


def test_irls_warm_start_same_optimum(spark):
    """Warm-started IRLS converges to the same optimum as the
    zeros start (strict convexity), in no more reduces."""
    from tp_integ_data_pipeline_spark.operators.classifier import (
        hashed_word_features,
        logreg_irls_train,
    )

    docs = spark.createDataFrame(
        [(i, ("spark vector " * (1 + i % 4)) + "w" + str(i % 7)) for i in range(60)],
        "doc_id long, text string",
    )
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (F.size(F.split("text", " ")) >= 7).cast("double").alias("y"),
    )
    d = 17
    feats = hashed_word_features(docs, n_buckets=d - 1, bias=True)
    s0: dict = {}
    b0 = logreg_irls_train(
        spark, feats, labels, d=d, n_iters=25, l2=1.0, tol=1e-7, stats=s0
    )
    s1: dict = {}
    b1 = logreg_irls_train(
        spark, feats, labels, d=d, n_iters=25, l2=1.0, tol=1e-7, stats=s1, beta0=b0
    )
    assert np.abs(b0 - b1).max() < 1e-6
    assert s1["collect_rounds"] <= s0["collect_rounds"]
    # a bad warm start fails before any Spark job (checkpoint, join)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    with pytest.raises(ValueError, match="beta0"):
        logreg_irls_train(spark, feats, labels, d=d, beta0=np.zeros(d + 3))
    assert set(tracker.getJobIdsForGroup()) == jobs_before


def test_flush_staging_two_files(spark, tmp_path):
    """The flushed events stream stages exactly TWO mtime-ordered
    files (real+sentinel1, sentinel2) — one micro-batch fewer than the
    r15 three-file layout — and q235 still emits every real window."""
    from tp_integ_data_pipeline_spark.plans import streaming_queries as SQ
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 1), 1, "view", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 0, 20), 2, "click", 2.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    rows = QUERIES["q235_stream_tumbling_append"](spark, str(tmp_path)).collect()
    got = {(r.win_start.isoformat(), r.event_type): r.n for r in rows}
    assert got == {
        ("2024-01-01T00:00:00", "view"): 1,
        ("2024-01-01T00:15:00", "click"): 1,
    }
    staging = SQ._flush_staging(spark, str(tmp_path))
    files = sorted(os.listdir(staging))
    assert len([f for f in files if f.endswith(".parquet")]) == 2


def test_refresh_batch_spread_widen_only(spark):
    """The drain's micro-batch spread must widen a single-partition
    batch and leave a wider batch alone."""
    from tp_integ_data_pipeline_spark.streaming import refresh as R

    one = R._spread_batch(spark.range(0, 10, 1, 1))
    wide = R._spread_batch(spark.range(0, 10, 1, 16))
    assert one.rdd.getNumPartitions() == R._BATCH_SPREAD
    assert wide.rdd.getNumPartitions() == 16
