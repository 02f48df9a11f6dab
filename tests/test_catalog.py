"""Catalog/DDL layer tests (S10-S14)."""

from __future__ import annotations

import pytest

from tp_integ_data_pipeline_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def catalog(spark):
    return Catalog(spark, database="orion_test")


def test_create_insert_truncate_roundtrip(spark, catalog):
    catalog.create_table("meteor_stg", {"date": "STRING", "time": "STRING", "temp": "DOUBLE"})
    df = spark.createDataFrame([("15/07/2023", "10:00", 20.5)], ["date", "time", "temp"])
    catalog.insert_append("meteor_stg", df)
    assert catalog.sql("SELECT COUNT(*) AS n FROM orion_test.meteor_stg").first().n == 1
    catalog.truncate("meteor_stg")  # S12
    assert catalog.sql("SELECT COUNT(*) AS n FROM orion_test.meteor_stg").first().n == 0
    catalog.insert_append("meteor_stg", df)
    assert catalog.show_table("meteor_stg").count() == 1


def test_database_idempotent(spark):
    # S10: re-instantiation must not fail (CREATE DATABASE IF NOT EXISTS)
    Catalog(spark, database="orion_test")
    Catalog(spark, database="orion_test")
    assert spark.catalog.databaseExists("orion_test")


def test_analyze_table_collects_stats(spark, catalog):
    from tp_integ_data_pipeline_spark.sources.catalog import analyze_table

    catalog.create_table("stats_t", {"k": "BIGINT", "v": "DOUBLE"})
    catalog.insert_append(
        "stats_t", spark.createDataFrame([(i, float(i)) for i in range(50)], ["k", "v"])
    )
    analyze_table(spark, "orion_test.stats_t", columns=["k"])
    desc = {r.col_name: r.data_type for r in spark.sql(
        "DESCRIBE TABLE EXTENDED orion_test.stats_t"
    ).collect()}
    assert "Statistics" in desc  # rowCount/sizeInBytes recorded


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S8/S9 over REAL JDBC — Derby's embedded driver ships on Spark's
    own classpath, so the actual format('jdbc') read/write path runs
    (option names, type mapping, Spark's DerbyDialect), not just the
    catalog-table fallback. Mirrors the reference's chunked append +
    verification read (main.py:406-414, 437-454)."""
    from tp_integ_data_pipeline_spark.sources.catalog import jdbc_append, jdbc_scan

    url = f"jdbc:derby:{tmp_path}/wh_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    rows = [("15/07/2023", "10:00", 20.5), ("15/07/2023", "10:15", 21.0),
            ("16/07/2023", "09:00", 18.0)]
    df = spark.createDataFrame(rows, ["fecha", "hora", "temperature_2m"])

    # batchsize below row count → multi-chunk executeBatch path exercised.
    # createTableColumnTypes: Derby's dialect maps StringType to CLOB,
    # which Derby cannot compare/push filters against — pin VARCHAR,
    # exercising writer-option passthrough at the same time.
    jdbc_append(
        df, url, "meteor_proc", batchsize=2, driver=driver,
        createTableColumnTypes="fecha VARCHAR(32), hora VARCHAR(16)",
    )
    back = jdbc_scan(spark, url, "meteor_proc", driver=driver)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    # type mapping survives the round trip
    assert dict(back.dtypes)["temperature_2m"] == "double"

    # append semantics (mode=append): a second chunked load accumulates
    more = spark.createDataFrame([("17/07/2023", "11:00", 25.0)], df.columns)
    jdbc_append(more, url, "meteor_proc", driver=driver)
    assert jdbc_scan(spark, url, "meteor_proc", driver=driver).count() == 4

    # predicate pushdown reaches the JDBC source (PushedFilters in scan)
    q = jdbc_scan(spark, url, "meteor_proc", driver=driver).filter("fecha = '15/07/2023'")
    assert q.count() == 2
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "fecha" in plan.split("PushedFilters")[1][:120]


def test_jdbc_merge_passthrough_matches_scd1(spark, tmp_path):
    """M1 MERGE pushed SERVER-side through JDBC (the reference's actual
    path — transf.py:215-273 sends the MERGE text to the warehouse):
    execute a real MERGE statement against embedded Derby (MERGE
    supported since 10.11) and assert the end state equals
    scd1_upsert's Spark-computed end state row-for-row."""
    import datetime

    from tp_integ_data_pipeline_spark.operators.merge_ops import scd1_upsert
    from tp_integ_data_pipeline_spark.sources.catalog import (
        jdbc_append,
        jdbc_execute,
        jdbc_scan,
    )

    url = f"jdbc:derby:{tmp_path}/merge_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    d0 = datetime.date(2023, 7, 1)
    target_rows = [(1, 20.0, d0), (2, 21.0, d0)]
    stage_rows = [(2, 99.0), (3, 18.0)]
    target = spark.createDataFrame(
        target_rows, "id bigint, temp double, fecha_actualizacion date"
    )
    stage = spark.createDataFrame(stage_rows, "id bigint, temp double")
    jdbc_append(target, url, "tgt", driver=driver)
    jdbc_append(stage, url, "stg", driver=driver)

    jdbc_execute(
        spark,
        url,
        """
        MERGE INTO tgt USING stg ON tgt."id" = stg."id"
        WHEN MATCHED THEN UPDATE SET
            "temp" = stg."temp",
            "fecha_actualizacion" = DATE('2023-07-20')
        WHEN NOT MATCHED THEN INSERT ("id", "temp", "fecha_actualizacion")
            VALUES (stg."id", stg."temp", DATE('2023-07-20'))
        """,
    )

    server_state = sorted(
        map(tuple, jdbc_scan(spark, url, "tgt", driver=driver).collect())
    )
    spark_state = sorted(
        map(tuple, scd1_upsert(target, stage, ["id"], merge_date="2023-07-20").collect())
    )
    assert server_state == spark_state
    assert len(server_state) == 3  # 1 untouched, 1 updated, 1 inserted
