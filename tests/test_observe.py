"""Inline observability: metrics come from the SAME action (no second
scan), audited_write round-trip, misuse guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.observe import audited_write, with_audit


def test_audited_write_metrics_match_data(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0, None), (2, 20.0, "x"), (3, None, "y")], "k long, v double, s string"
    )
    m = audited_write(
        df,
        str(tmp_path / "out"),
        {
            "n": F.count(F.lit(1)),
            "v_nulls": F.count(F.when(F.col("v").isNull(), 1)),
            "k_max": F.max("k"),
        },
    )
    assert (m["n"], m["v_nulls"], m["k_max"]) == (3, 1, 3)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 3  # the write really happened


def test_with_audit_single_pass_and_plan_free_of_second_scan(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    observed, obs = with_audit(df, {"n": F.count(F.lit(1)), "vsum": F.sum("v")})
    # metrics appear after ONE action on the observed frame
    assert observed.count() == 100
    got = dict(obs.get)
    assert got == {"n": 100, "vsum": 9900}
    # the observed plan is the same single scan + CollectMetrics: no
    # extra exchange/aggregate subtree for the metrics
    plan = observed._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan


def test_with_audit_rejects_empty_metrics(spark):
    with pytest.raises(ValueError):
        with_audit(spark.range(1), {})


# ---------------------------------------------------------------------------
# CHECK-constrained commits (observe.constrained_overwrite)
# ---------------------------------------------------------------------------
def test_constrained_overwrite_commits_clean_data(spark, tmp_path):
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.operators.observe import constrained_overwrite

    tbl = VersionedParquetTable(spark, str(tmp_path / "ct"))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    counts = constrained_overwrite(
        tbl, df, {"v_positive": "v > 0", "k_not_null": "k IS NOT NULL"}
    )
    assert counts == {"v_positive": 0, "k_not_null": 0}
    assert tbl.read().count() == 2
    assert tbl.meta() == {"op": "constrained", "checks": counts}


def test_constrained_overwrite_rejects_and_leaves_no_trace(spark, tmp_path):
    import os

    import pytest as _pytest

    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.operators.observe import (
        CheckViolation,
        constrained_overwrite,
    )

    tbl = VersionedParquetTable(spark, str(tmp_path / "ct2"))
    constrained_overwrite(
        tbl, spark.createDataFrame([(1, 1.0)], "k long, v double"), {"ok": "v > 0"}
    )
    bad = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None), (None, 4.0)], "k long, v double"
    )
    with _pytest.raises(CheckViolation) as ei:
        constrained_overwrite(
            tbl, bad, {"v_positive": "v > 0", "k_not_null": "k IS NOT NULL"}
        )
    # null predicate counts as violation (SQL CHECK unknown -> fail here)
    assert ei.value.counts == {"v_positive": 2, "k_not_null": 1}
    # failed load never became readable; staged dir cleaned up
    assert tbl.read().count() == 1
    vdirs = [d for d in os.listdir(tbl.path) if d.startswith("v")]
    assert len(vdirs) == 1
