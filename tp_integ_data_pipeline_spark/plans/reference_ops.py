"""Queries pinning the reference's transform semantics (SURVEY.md §2.6).

The reference's domain is weather telemetry; the driver fixtures are a
star schema, so each F-operator is exercised over the analogous fixture
columns (FIXTURES.md §B "operator → fixture mapping"). The *semantics*
(formats, constants, the non-standard F8 cardinal mapping, the 'None'
normalization) are verbatim from /root/reference/transf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.functions.reference import (
    date_ddmmyyyy,
    hpa_to_mmhg,
    none_to_null,
    partition_date,
    shift_gmt3,
    time_hhmm,
    wind_cardinal,
    wind_cardinal_sql,
)
from tp_integ_data_pipeline_spark.operators.joins import maybe_broadcast
from tp_integ_data_pipeline_spark.operators.text import tokens
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.plans.relational import _dsum, dsum_sql
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q00 — flagship: the EP2 transform-chain shape as ONE lazy Catalyst plan
# (scan → filter → derive → broadcast-join dims → group → sort); this is
# what __spark_entry__.entry() runs at sf0.001.
# --------------------------------------------------------------------------
@query(
    "q00_flagship",
    oracle=f"""
    SELECT r.r_name AS region,
           strftime(o.o_orderdate, '%d/%m/%Y') AS order_date,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY r.r_name, strftime(o.o_orderdate, '%d/%m/%Y')
    HAVING COUNT(*) >= 2
    ORDER BY region, order_date
    """,
)
def q00_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("order_date", date_ddmmyyyy("o_orderdate"))
        .groupBy(F.col("r_name").alias("region"), "order_date")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .filter(F.col("n_items") >= 2)
        .orderBy("region", "order_date")
    )


# --------------------------------------------------------------------------
# q30 — the EP2 scalar transform chain (F3/F4/F5/F6/F7/F8 in one plan),
# reference transf.py:36-108 semantics over events.
# --------------------------------------------------------------------------
@query(
    "q30_transform_chain",
    oracle=f"""
    SELECT event_id,
           strftime(ts - INTERVAL 3 HOUR, '%d/%m/%Y') AS date,
           strftime(ts - INTERVAL 3 HOUR, '%H:%M') AS time,
           value * 0.750064 AS pressure_mmhg,
           (user_id % 2) = 1 AS is_day,
           {wind_cardinal_sql('(event_id % 361)')} AS wind_cardinal
    FROM events
    ORDER BY event_id
    """,
)
def q30_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    local_ts = shift_gmt3("ts")
    return ev.select(
        "event_id",
        date_ddmmyyyy(local_ts).alias("date"),
        time_hhmm(local_ts).alias("time"),
        hpa_to_mmhg("value").alias("pressure_mmhg"),
        ((F.col("user_id") % 2) == 1).alias("is_day"),
        wind_cardinal(F.col("event_id") % 361).alias("wind_cardinal"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# q31 — F8 cardinal mapping over its full domain incl. boundaries,
# negatives and >360 (the verified truth table is the contract).
# --------------------------------------------------------------------------
@query(
    "q31_wind_cardinal_hist",
    oracle=f"""
    SELECT {wind_cardinal_sql('((event_id % 800) - 40)')} AS cardinal,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q31_wind_cardinal_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(wind_cardinal((F.col("event_id") % 800) - 40).alias("cardinal"))
        .groupBy("cardinal")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cardinal")
    )


# --------------------------------------------------------------------------
# q32 — F10 'None'-string → null normalization (transf.py:124-129)
# --------------------------------------------------------------------------
@query(
    "q32_none_normalization",
    oracle="""
    SELECT COALESCE(CASE WHEN src = 'None' THEN NULL ELSE src END, '<null>') AS source_norm,
           COUNT(*) AS n
    FROM (SELECT CASE WHEN lang = 'zh' THEN 'None' ELSE source END AS src FROM documents)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q32_none_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src = F.when(F.col("lang") == "zh", "None").otherwise(F.col("source"))
    return (
        docs.select(F.coalesce(none_to_null(src), F.lit("<null>")).alias("source_norm"))
        .groupBy("source_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source_norm")
    )


# --------------------------------------------------------------------------
# q33 — array-typed column surface (F9 postcodes formatting analog):
# split → size → index → slice → array_join.
# --------------------------------------------------------------------------
@query(
    "q33_array_ops",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
           string_split(text, ' ')[1] AS first_tok,
           array_to_string(string_split(text, ' ')[1:3], ', ') AS first3
    FROM documents
    ORDER BY doc_id
    """,
)
def q33_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        toks.getItem(0).alias("first_tok"),
        F.array_join(F.slice(toks, 1, 3), ", ").alias("first3"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q34 — F2 lake partition-key derivation (main.py:213) over l_shipdate
# --------------------------------------------------------------------------
@query(
    "q34_partition_key",
    oracle="""
    SELECT strftime(l_shipdate, '%m-%d-%y') AS fecha_partic,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-10-01'
    GROUP BY 1
    ORDER BY 1
    """,
)
def q34_partition_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-10-01").cast("timestamp")
    )
    return (
        li.select(partition_date("l_shipdate").alias("fecha_partic"))
        .groupBy("fecha_partic")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("fecha_partic")
    )


# --------------------------------------------------------------------------
# q35 — P5 schema alignment: unionByName(allowMissingColumns) ≙ the
# reference's fixed-schema fill of absent JSON fields (main.py:251-263)
# --------------------------------------------------------------------------
@query(
    "q35_union_by_name",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(o_totalprice) AS n_with_price
    FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL BY NAME
        SELECT o_orderkey, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q35_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    evens = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    odds = o.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey", "o_orderstatus")
    aligned = evens.unionByName(odds, allowMissingColumns=True)
    return (
        aligned.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.count("o_totalprice").alias("n_with_price"))
        .orderBy("o_orderstatus")
    )
