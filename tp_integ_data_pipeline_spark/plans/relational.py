"""Standard relational surface (SURVEY.md §2.4, §2.5, plus P/J rows).

The reference itself only exercises scans, projections, one broadcast
left join and anti-join dedup; the engine ships the full relational
surface as thin Catalyst-native plans, each differentially tested
against a DuckDB oracle:

* agg, window, set-ops, rollup/pivot, sort/limit, and the TPC-H shapes
  (Q1-Q22 analogs adapted to the driver star schema: there is no
  partsupp table, so cost-based shapes substitute ``p_retailprice``);
* the SQL surface: grouping sets, EXISTS, scalar, LATERAL and
  recursive subqueries, SQL and pandas UDFs;
* the scalar, null, date and error-safe (try_*) expression batteries,
  array aggregation, unpivot and VARIANT extraction;
* the skew verbs (salted hot-key join and aggregation, key-skew
  profile) and market-basket pair lift.

Scale shape: every query shuffles only on its group/join keys; dims
(nation/supplier/part/customer at fixture scale) broadcast; fact-fact
joins (orders⋈lineitem) hash-partition on orderkey — co-partitioned
under bucketing in a real deployment.

Determinism contract with the oracle: every floating-point aggregate
is summed as DECIMAL (exact, order-independent) and cast back to
DOUBLE, so Spark's partition-parallel aggregation and DuckDB's
sequential one produce bit-identical values. Pure row-level double
arithmetic (products of identical inputs) is already IEEE-deterministic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.joins import maybe_broadcast
from tp_integ_data_pipeline_spark.operators.skew import salted_agg, salted_join
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table, register_views


def dsum(expr, scale: int = 6):
    """Exact (order-independent) sum of a double expr via decimal."""
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double")


def _davg(expr, scale: int = 6):
    """Deterministic average: exact decimal sum, then double division."""
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double") / F.count(F.lit(1))


def dsum_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def davg_sql(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) / COUNT(*)"


# --------------------------------------------------------------------------
# q01 — grouped aggregation (TPC-H Q1 shape; SURVEY §2.4)
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_sql('l_quantity', 2)} AS avg_qty,
           {davg_sql('l_extendedprice', 2)} AS avg_price,
           {davg_sql('l_discount', 4)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            _davg(F.col("l_quantity"), 2).alias("avg_qty"),
            _davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            _davg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q02 — filter + projection pushdown (P1-P8; predicates reach the scan)
# --------------------------------------------------------------------------
@query(
    "q02_filter_project",
    oracle="""
    SELECT p_partkey, p_name, p_brand,
           CAST(p_retailprice * 1.1 AS DOUBLE) AS uplift_price
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_type IN ('PROMO', 'ECONOMY')
      AND p_brand LIKE 'Brand#1%'
    ORDER BY p_partkey
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_size").between(10, 30)
            & F.col("p_type").isin("PROMO", "ECONOMY")
            & F.col("p_brand").like("Brand#1%")
        )
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            (F.col("p_retailprice") * F.lit(1.1)).alias("uplift_price"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# q03 — 3-way join + group + top-k (TPC-H Q3 shape)
# --------------------------------------------------------------------------
@query(
    "q03_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           strftime(o.o_orderdate, '%d/%m/%Y') AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND l.l_shipdate > TIMESTAMP '1999-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "dd/MM/yyyy").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q05 — star join through region/nation (broadcast dims; TPC-H Q5 shape)
# --------------------------------------------------------------------------
@query(
    "q05_region_revenue",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# q06 — selective scan aggregate (TPC-H Q6 shape; single row)
# --------------------------------------------------------------------------
@query(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS promo_revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# q07 — left outer join incl. unmatched; fan-out histogram
# --------------------------------------------------------------------------
@query(
    "q07_order_fanout",
    oracle="""
    SELECT n_items, COUNT(*) AS n_orders
    FROM (
        SELECT o.o_orderkey, COUNT(l.l_orderkey) AS n_items
        FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey
    )
    GROUP BY n_items
    ORDER BY n_items
    """,
)
def q07_order_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .groupBy(o.o_orderkey)
        .agg(F.count(l.l_orderkey).alias("n_items"))
    )
    return per_order.groupBy("n_items").agg(F.count(F.lit(1)).alias("n_orders")).orderBy("n_items")


# --------------------------------------------------------------------------
# q08/q09 — semi / anti joins (J2 generalization)
# --------------------------------------------------------------------------
@query(
    "q08_semi_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "q09_anti_join",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    ORDER BY c.c_custkey
    """,
)
def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q10/q11/q12 — window functions (§2.5)
# --------------------------------------------------------------------------
@query(
    "q10_window_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 2
    ORDER BY o_custkey, rn
    """,
)
def q10_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


@query(
    "q11_window_running_sum",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value
    FROM events
    ORDER BY user_id, event_id
    """,
)
def q11_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn("running_value", F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select("event_id", "user_id", "running_value")
        .orderBy("user_id", "event_id")
    )


@query(
    "q12_window_lag_gap",
    oracle="""
    SELECT user_id,
           MAX(gap_us) AS max_gap_us,
           COUNT(*) AS n_events
    FROM (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q12_window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return (
        ev.withColumn("gap_us", us - F.lag(us).over(w))
        .groupBy("user_id")
        .agg(F.max("gap_us").alias("max_gap_us"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q13/q14 — set operations (§2.5)
# --------------------------------------------------------------------------
@query(
    "q13_set_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    ORDER BY user_id
    """,
)
def q13_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errored = ev.filter(F.col("event_type") == "error").select("user_id")
    return buyers.intersect(errored).orderBy("user_id")


@query(
    "q14_set_except",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'purchase'
    ORDER BY user_id, day
    """,
)
def q14_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signup_days = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.to_date("ts").alias("day")
    )
    purchase_days = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day")
    )
    return signup_days.subtract(purchase_days).orderBy("user_id", "day")


# --------------------------------------------------------------------------
# q15 — distinct aggregation
# --------------------------------------------------------------------------
@query(
    "q15_distinct_agg",
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           {dsum_sql('value', 2)} AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q15_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q16 — rollup (grouping sets surface)
# --------------------------------------------------------------------------
@query(
    "q16_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# q17 — pivot (conditional aggregation in the oracle)
# --------------------------------------------------------------------------
@query(
    "q17_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q17_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q18 — order by + limit (top-k global)
# --------------------------------------------------------------------------
@query(
    "q18_orderby_limit",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 15
    """,
)
def q18_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), "p_partkey")
        .limit(15)
    )


# --------------------------------------------------------------------------
# q19 — JSON field extraction (S5/F13 surface over events.props)
# --------------------------------------------------------------------------
@query(
    "q19_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.max("k").alias("max_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q20 — tumbling time-window aggregation (batch shape of T4)
# --------------------------------------------------------------------------
@query(
    "q20_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS win_start,
           event_type,
           COUNT(*) AS n,
           {dsum_sql('value', 2)} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q20_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
        .orderBy("win_start", "event_type")
    )

_N_SALTS = 8


# --------------------------------------------------------------------------
# q154 — skew-mitigated (salted) join == plain join, plus the skew report
# --------------------------------------------------------------------------
@query(
    "q154_salted_join",
    oracle="""
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 < 4 THEN 1 ELSE l_suppkey END AS sk,
               l_extendedprice
        FROM lineitem
    ),
    dim AS (SELECT s_suppkey AS sk, s_nationkey FROM supplier)
    SELECT d.s_nationkey,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM fact f JOIN dim d USING (sk)
    GROUP BY d.s_nationkey
    ORDER BY d.s_nationkey
    """,
)
def q154_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join under DELIBERATE skew: 40% of the fact lands on one
    key (sk=1), the regime where a plain shuffle join stalls one
    reducer at 100 TB. The engine runs the SALTED join — fact key
    extended with a deterministic xxhash64 salt, dim exploded once per
    salt, join on (key, salt) — while the oracle runs the plain join:
    the hash-match proves salting preserves row multiplicity exactly.
    The dim's replication factor (n_salts=8) is the bounded cost that
    buys an 8-way spread of the hot key."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 4, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("sk"),
        "l_extendedprice",
    )
    dim = sup.select(F.col("s_suppkey").alias("sk"), "s_nationkey")
    joined = salted_join(fact, dim, ["sk"], n_salts=_N_SALTS)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# q194 — key-skew profiler (the salted-join/salted-agg prescription)
# --------------------------------------------------------------------------
@query(
    "q194_key_skew_profile",
    oracle="""
    WITH pk AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    prof AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt * cnt) AS BIGINT) AS s2
        FROM pk GROUP BY 1
    )
    SELECT event_type, n_keys, n_rows, max_cnt,
           ROUND(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS top1_share,
           ROUND(CAST(max_cnt * n_keys AS DOUBLE) / n_rows, 6) AS skew,
           ROUND(sqrt(CAST(n_keys * s2 - n_rows * n_rows AS DOUBLE)) / n_rows, 6)
               AS cv,
           (max_cnt * n_keys + n_rows - 1) // n_rows AS salt_factor
    FROM prof ORDER BY event_type
    """,
)
def q194_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic: for each event_type, profile the
    user_id key distribution a join/agg on (event_type, user_id) would
    shuffle on — key count, max key frequency, hottest-key share,
    skew = max/mean, coefficient of variation, and the recommended
    salting fan-out ceil(max/mean) (the factor q154's salted join and
    q29's salted agg take as input). CV uses the order-independent
    integer identity sqrt(k·Σc² − (Σc)²)/Σc — every value inside
    sqrt is an exact BIGINT at test scale (a 100 TB deployment widens
    the Σc² accumulator to DECIMAL(38,0); the identity is unchanged),
    int→double conversion is correctly rounded on both engines, and
    all outputs are nonnegative so no −0.0 trap. salt_factor uses
    integer ceil-div ((a+b−1) div b) — FLOOR/CEIL on doubles never
    touches a graded integer.

    Scale shape: one map-side-combinable (type, user) count, then a
    #types-row rollup — two keyed shuffles, the second tiny. This is
    the cheap pre-flight a pipeline runs BEFORE committing to a join
    strategy at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    pk = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    prof = pk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    n_keys, n_rows, max_cnt, s2 = (
        F.col("n_keys"),
        F.col("n_rows"),
        F.col("max_cnt"),
        F.col("s2"),
    )
    return prof.select(
        "event_type",
        "n_keys",
        "n_rows",
        "max_cnt",
        F.round(max_cnt.cast("double") / n_rows, 6).alias("top1_share"),
        F.round((max_cnt * n_keys).cast("double") / n_rows, 6).alias("skew"),
        F.round(
            F.sqrt((n_keys * s2 - n_rows * n_rows).cast("double")) / n_rows, 6
        ).alias("cv"),
        F.expr("(max_cnt * n_keys + n_rows - 1) div n_rows").alias("salt_factor"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q209 — market-basket pair lift (association mining)
# --------------------------------------------------------------------------
@query(
    "q209_basket_pair_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS DOUBLE) AS n_orders FROM items),
    pc AS (SELECT pk, COUNT(*) AS n_ok FROM items GROUP BY 1),
    pairs AS (
        SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS pair_cnt
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    )
    SELECT p.p1, p.p2, CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
           CAST(c1.n_ok AS BIGINT) AS n1, CAST(c2.n_ok AS BIGINT) AS n2,
           ROUND(p.pair_cnt / n.n_orders, 6) AS support,
           ROUND(CAST(p.pair_cnt AS DOUBLE) / c1.n_ok, 6) AS confidence,
           ROUND(p.pair_cnt * n.n_orders / (c1.n_ok * c2.n_ok), 6) AS lift
    FROM pairs p
    JOIN pc c1 ON c1.pk = p.p1
    JOIN pc c2 ON c2.pk = p.p2
    CROSS JOIN n
    WHERE p.pair_cnt >= 2
    ORDER BY p.p1, p.p2
    """,
)
def q209_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: for every part pair co-bought
    in >= 2 orders, support / confidence / lift vs independence — the
    recommendation / co-occurrence verb.

    Scale shape: pairs are expanded ROW-LOCALLY from the per-order
    sorted item array (one groupBy(order) shuffle; fan-out bounded by
    basket size squared, ~21 pairs for TPC-H's <= 7 items), never via
    an order-keyed self-join relation; the >= 2 floor prunes before
    the part-frequency joins; the n_orders denominator is a 1-row
    broadcast attach (BNLJ_ALLOWED scalar_aggs). The count-based
    floor (not a top-k on a double) keeps the output set identical
    across engines."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds baskets, part counts, n_orders
    )
    baskets = items.groupBy("ok").agg(
        F.array_sort(F.collect_set("pk")).alias("ps")
    ).localCheckpoint(eager=False)  # feeds the pair fan-out AND n_orders
    pc = items.groupBy("pk").agg(F.count(F.lit(1)).alias("n_ok"))
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 2)
    )
    return (
        pairs.join(pc.withColumnRenamed("pk", "p1").withColumnRenamed("n_ok", "n1"), "p1")
        .join(pc.withColumnRenamed("pk", "p2").withColumnRenamed("n_ok", "n2"), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(F.col("pair_cnt") / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("pair_cnt").cast("double") / F.col("n1"), 6
            ).alias("confidence"),
            F.round(
                F.col("pair_cnt") * F.col("n_orders") / (F.col("n1") * F.col("n2")), 6
            ).alias("lift"),
        )
        .orderBy("p1", "p2")
    )


# --------------------------------------------------------------------------
# q04 — order-priority count with EXISTS (TPC-H Q4 shape)
# --------------------------------------------------------------------------
@query(
    "q04_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    ).select("l_orderkey").distinct()
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q72 — conditional aggregation by priority class (TPC-H Q12 shape)
# --------------------------------------------------------------------------
@query(
    "q72_priority_class",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def q72_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# q73 — promo revenue share (TPC-H Q14 shape; ratio of exact sums)
# --------------------------------------------------------------------------
@query(
    "q73_promo_share",
    oracle=f"""
    SELECT
        100.0 * {dsum_sql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
            / {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS promo_share_pct,
        COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q73_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey).agg(
        (F.lit(100.0) * dsum(promo_rev) / dsum(rev)).alias("promo_share_pct"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# q74 — disjunctive multi-clause predicate (TPC-H Q19 shape)
# --------------------------------------------------------------------------
@query(
    "q74_or_predicates",
    oracle=f"""
    SELECT {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 5)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 15)
       OR (p.p_type = 'ECONOMY' AND p.p_size >= 40 AND l.l_quantity < 25)
    """,
)
def q74_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 15))
        | ((F.col("p_type") == "ECONOMY") & (F.col("p_size") >= 40) & (F.col("l_quantity") < 25))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# q77 — returned-item report (TPC-H Q10 shape): top customers by
# revenue lost to returns. 4-way join + group + top-k.
# --------------------------------------------------------------------------
@query(
    "q77_returned_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q77_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q78 — customer order-count distribution (TPC-H Q13 shape):
# left outer join + per-customer count + count-of-counts.
# --------------------------------------------------------------------------
@query(
    "q78_cust_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q78_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# q79 — top supplier by quarterly revenue (TPC-H Q15 shape):
# CTE/view + scalar-max selection (ties all kept, like the spec).
# --------------------------------------------------------------------------
@query(
    "q79_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q79_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    # Scalar max as a 1-row aggregate joined back on equality — a
    # BroadcastHashJoin, never an empty-frame window (which would sort
    # the whole supplier-cardinality relation into ONE partition; the
    # audit_plans global-window gate now rejects that shape).
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_rev"))
        .join(maybe_broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# q80 — large-volume customers (TPC-H Q18 shape): HAVING-filtered
# semi-join from an aggregated subquery back to the fact chain.
# --------------------------------------------------------------------------
@query(
    "q80_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 140
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 50
    """,
)
def q80_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 140)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q81 — bilateral trade volume (TPC-H Q7 shape): nation dim joined in
# TWO roles (supplier side + customer side) with a symmetric pair
# predicate, yearly rollup.
# --------------------------------------------------------------------------
@query(
    "q81_nation_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q81_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(dsum(rev).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# q82 — product-line profit by nation and year (TPC-H Q9 shape; cost
# term substitutes p_retailprice for the missing ps_supplycost).
# --------------------------------------------------------------------------
@query(
    "q82_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity', 4)} AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q82_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(maybe_broadcast(p), l.l_partkey == p.p_partkey)
        .join(maybe_broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit, 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# q83 — cheapest part per type (TPC-H Q2's correlated-min shape):
# rows whose price equals their group minimum.
# --------------------------------------------------------------------------
@query(
    "q83_min_price_per_type",
    oracle="""
    SELECT p.p_type, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (
        SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
    )
    ORDER BY p.p_type, p.p_partkey
    """,
)
def q83_min_price_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    # Correlated scalar subquery ≙ per-group min window; one shuffle on
    # p_type, no self-join (the naive Q2 translation joins part twice).
    w = W.partitionBy("p_type")
    return (
        p.withColumn("min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_type", "p_partkey")
    )


# --------------------------------------------------------------------------
# q84 — lone late shipper (TPC-H Q21 shape): suppliers that were the
# ONLY late shipper on multi-supplier orders. EXISTS + NOT EXISTS over
# self-joined facts → semi/anti joins on (orderkey, suppkey) sets.
# --------------------------------------------------------------------------
@query(
    "q84_lone_late_suppliers",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3
                        ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 75 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q84_lone_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS")

    base = l.join(o, l.l_orderkey == o.o_orderkey)
    # Q21 counts every qualifying l1 ROW (a supplier twice-late on one
    # order counts twice) — no distinct here; dedup only the semi/anti
    # probe sides, where multiplicity is irrelevant.
    l1 = base.filter(F.col("l_shipdate") > late_cut).select("l_orderkey", "l_suppkey")
    # EXISTS other-supplier rows: distinct (order, supp) pairs beat the
    # raw fact self-join — dedup before the shuffle, not after.
    pairs = l.select("l_orderkey", "l_suppkey").distinct()
    other = pairs.alias("a").join(
        pairs.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    )
    late_pairs = l1.alias("x")
    other_late = (
        base.filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .alias("c")
    )
    lone = (
        late_pairs.join(
            other.alias("oth"),
            (F.col("x.l_orderkey") == F.col("oth.l_orderkey"))
            & (F.col("x.l_suppkey") == F.col("oth.l_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("x.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("x.l_suppkey") != F.col("c.l_suppkey")),
            "left_anti",
        )
    )
    return (
        lone.join(maybe_broadcast(s), F.col("x.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


# --------------------------------------------------------------------------
# q85 — idle high-balance customers (TPC-H Q22 shape): scalar AVG
# subquery + NOT EXISTS (anti-join), grouped by a derived code.
# --------------------------------------------------------------------------
@query(
    "q85_idle_rich_customers",
    oracle=f"""
    SELECT c.c_nationkey % 5 AS code,
           COUNT(*) AS numcust,
           {dsum_sql('c.c_acctbal', 2)} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT {davg_sql('c2.c_acctbal', 2)} FROM customer c2 WHERE c2.c_acctbal > 0
    )
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY code
    ORDER BY code
    """,
)
def q85_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # Scalar AVG as a 1-row broadcast cross join — the plan Catalyst
    # itself produces for an uncorrelated scalar subquery.
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(_davg(F.col("c_acctbal"), 2).alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
            .select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .groupBy((F.col("c_nationkey") % 5).alias("code"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("code")
    )


# --------------------------------------------------------------------------
# q86 — part value concentration (TPC-H Q11 shape): per-part value
# HAVING > scalar subquery. TPC-H uses a fixed fraction of total
# (0.0001/SF); we use 1.2× the average per-part value instead so the
# predicate is scale-free — a fixed fraction selects 0 rows once the
# part count outgrows it (verified: 38/380/3965 rows at the three SFs).
# --------------------------------------------------------------------------
@query(
    "q86_part_value_concentration",
    oracle=f"""
    SELECT l_partkey,
           {dsum_sql('l_extendedprice * l_quantity', 2)} AS value
    FROM lineitem
    GROUP BY l_partkey
    HAVING {dsum_sql('l_extendedprice * l_quantity', 2)} > (
        SELECT 1.2 * {dsum_sql('l_extendedprice * l_quantity', 2)}
                   / COUNT(DISTINCT l_partkey)
        FROM lineitem
    )
    ORDER BY value DESC, l_partkey
    """,
)
def q86_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = l.groupBy("l_partkey").agg(dsum(val, 2).alias("value"))
    total = l.agg(
        (F.lit(1.2) * dsum(val, 2) / F.countDistinct("l_partkey")).alias("cutoff")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("cutoff"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


# --------------------------------------------------------------------------
# q21 — rank / dense_rank / lag / lead
# --------------------------------------------------------------------------
@query(
    "q21_rank_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk,
           prev_price, next_price
    FROM (
        SELECT o_custkey, o_orderkey,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               LAG(o_totalprice) OVER w AS prev_price,
               LEAD(o_totalprice) OVER w AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    WHERE rnk <= 3
    ORDER BY o_custkey, rnk
    """,
)
def q21_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")
    )


# --------------------------------------------------------------------------
# q22 — GROUPING SETS through the SQL API (same text both engines)
# --------------------------------------------------------------------------
_Q22_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query("q22_grouping_sets", oracle=_Q22_SQL)
def q22_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(_Q22_SQL)


# --------------------------------------------------------------------------
# q23 — correlated EXISTS subquery (Catalyst rewrites to semi join)
# --------------------------------------------------------------------------
_Q23_SQL = """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o2
        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P'
    )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""


@query("q23_exists_subquery", oracle=_Q23_SQL)
def q23_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_Q23_SQL)


# --------------------------------------------------------------------------
# q25 — scalar string-function battery (both engines share semantics)
# --------------------------------------------------------------------------
@query(
    "q25_scalar_battery",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up, lower(p_brand) AS lo,
           substr(p_name, 1, 4) AS sub4,
           trim(concat('  ', p_name, ' ')) AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           replace(p_type, 'A', '@') AS repl,
           regexp_replace(p_name, '[0-9]+', '#') AS re_repl,
           concat_ws('|', p_brand, p_type) AS joined,
           CAST(length(p_name) AS INT) AS len, reverse(p_brand) AS rev,
           CAST(strpos(p_name, '_') AS INT) AS pos_underscore,
           translate(p_brand, '#', '-') AS trans,
           split_part(p_brand, '#', 2) AS brand_num,
           -- DuckDB lacks initcap; p_type is single-word so this is equivalent
           upper(substr(lower(p_type), 1, 1)) || substr(lower(p_type), 2) AS cap
    FROM part
    ORDER BY p_partkey
    """,
)
def q25_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 4).alias("sub4"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("@")).alias("repl"),
        F.regexp_replace("p_name", "[0-9]+", "#").alias("re_repl"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.length("p_name").alias("len"),
        F.reverse("p_brand").alias("rev"),
        F.instr("p_name", "_").alias("pos_underscore"),
        F.translate("p_brand", "#", "-").alias("trans"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_num"),
        F.initcap(F.lower("p_type")).alias("cap"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# q36 — F1 explicit: ISO-string parse roundtrip
# --------------------------------------------------------------------------
@query(
    "q36_iso_parse",
    oracle="""
    SELECT CAST(EXTRACT(year FROM strptime(iso, '%Y-%m-%dT%H:%M:%S')) AS INT) AS y,
           COUNT(*) AS n
    FROM (SELECT strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S') AS iso FROM lineitem)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q36_iso_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    iso = F.date_format("l_shipdate", "yyyy-MM-dd'T'HH:mm:ss")
    return (
        li.select(F.to_timestamp(iso).alias("ts"))
        .select(F.year("ts").alias("y"))
        .groupBy("y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("y")
    )


# --------------------------------------------------------------------------
# q37 — vectorized Pandas UDF registration path (§2.9 surface)
# --------------------------------------------------------------------------
@query(
    "q37_pandas_udf",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value * 0.750064 AS DECIMAL(18,6))) AS DOUBLE) AS total_mmhg
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q37_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Series.apply scalar transform surface
    (transf.py:80-91), re-expressed as an Arrow-vectorized pandas_udf —
    the sanctioned slow path for arbitrary Python scalar logic."""

    @F.pandas_udf("double")
    def to_mmhg(s: pd.Series) -> pd.Series:
        return s * 0.750064

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", to_mmhg("value").alias("mmhg"))
        .groupBy("event_type")
        .agg(dsum(F.col("mmhg")).alias("total_mmhg"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q123 — LATERAL correlated subquery (per-group top-k, same text both engines)
# --------------------------------------------------------------------------
_Q123_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


@query("q123_lateral_topk", oracle=_Q123_SQL)
def q123_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via a LATERAL correlated subquery —
    the FROM-clause correlation surface (Catalyst decorrelates it into
    a ranked join; DuckDB executes the identical text), distinct from
    q10's window formulation and q23's WHERE-clause EXISTS. One SQL
    string serves as both the Spark query and the oracle, so the
    engines cannot drift."""
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_Q123_SQL)


# --------------------------------------------------------------------------
# q124 — WITH RECURSIVE chain walk (same text both engines)
# --------------------------------------------------------------------------
_Q124_SQL = """
    WITH RECURSIVE ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey) AS rn
        FROM orders WHERE o_custkey < 50
    ),
    walk(o_custkey, rn, run_total) AS (
        SELECT o_custkey, rn, o_totalprice FROM ranked WHERE rn = 1
        UNION ALL
        SELECT r.o_custkey, r.rn, w.run_total + r.o_totalprice
        FROM walk w JOIN ranked r
          ON r.o_custkey = w.o_custkey AND r.rn = w.rn + 1
    )
    SELECT o_custkey, CAST(rn AS INT) AS rn, round(run_total, 2) AS run_total
    FROM walk
    ORDER BY o_custkey, rn
"""


@query("q124_recursive_walk", oracle=_Q124_SQL)
def q124_recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order totals computed by WITH RECURSIVE —
    the recursive-CTE surface that landed in Spark 4, run from the
    SAME text the DuckDB oracle executes. The recursion walks each
    customer's order chain in rank order (acyclic by construction —
    Spark requires UNION ALL recursion, which would not terminate on
    a cyclic edge set), one frontier join per step, depth = the
    longest chain. The window formulation (q11) is the right tool for
    THIS computation at scale; the query exists to pin the recursion
    semantics against an independent engine."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_Q124_SQL)


# --------------------------------------------------------------------------
# q146 — analytic window-function battery (the rank-family gaps:
# ntile / percent_rank / cume_dist / nth_value / ignore-nulls
# first+last). Engine-syntax differs (Spark: first(x, ignorenulls);
# DuckDB: FIRST(x IGNORE NULLS)) so this is DataFrame-API + oracle
# text, not the one-SQL-text q123/q124 pattern.
# --------------------------------------------------------------------------
@query(
    "q146_window_rank_battery",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority AS prio, o_totalprice AS price,
               CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_totalprice END
                   AS nullable_price
        FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT o_orderkey, prio,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           NTH_VALUE(price, 3) OVER w2 AS third_price,
           FIRST(nullable_price IGNORE NULLS) OVER w2 AS first_nn,
           LAST(nullable_price IGNORE NULLS) OVER w2 AS last_nn
    FROM base
    WINDOW w AS (PARTITION BY prio ORDER BY price, o_orderkey),
           w2 AS (PARTITION BY prio ORDER BY price, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """,
)
def q146_window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic rank family not exercised by q10-q18: quartile
    buckets (ntile), relative standing (percent_rank / cume_dist —
    exact rationals, bit-identical across engines), positional
    nth_value, and null-skipping first/last over an explicit
    full-partition frame. Single priority-keyed shuffle serves all six
    functions (one WindowExec, deterministic (price, orderkey)
    ordering); the %11 filter keeps the check bounded while spanning
    every partition."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("nullable_price"),
    )
    w = W.partitionBy("prio").orderBy("price", "o_orderkey")
    w2 = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return base.select(
        "o_orderkey",
        "prio",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("price", 3).over(w2).alias("third_price"),
        F.first("nullable_price", ignorenulls=True).over(w2).alias("first_nn"),
        F.last("nullable_price", ignorenulls=True).over(w2).alias("last_nn"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q152 — SQL UDFs (CREATE FUNCTION ... RETURN, Spark 4): the
# declarative member of the custom-function family (q37 scalar
# pandas_udf, q44 applyInPandas, q46 UDTF, q136 grouped-agg UDAF).
# Unlike every Python-side variant these inline into Catalyst —
# optimized, codegen'd, zero serde — which is exactly why a pipeline
# should prefer them for expressible logic.
# --------------------------------------------------------------------------
@query(
    "q152_sql_udf",
    oracle="""
    SELECT CASE WHEN c.c_acctbal < 0 THEN 'neg'
                WHEN c.c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS tier,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
                    * (1 - CAST(0.05 AS DECIMAL(3,2)))) AS DOUBLE) AS disc_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q152_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two SQL UDFs (a scalar discount and a CASE-based tiering
    function) declared with CREATE FUNCTION ... RETURN and used inside
    a join+aggregate. The oracle inlines the same expressions — which
    is also what Catalyst does to the UDF bodies, the point of the
    feature: user-defined logic with zero Python worker cost. Inputs
    are cast to DECIMAL before the arithmetic (not after): Spark's
    double->decimal cast rounds the shortest string repr while DuckDB
    rounds the binary value, so casting a computed double diverges by
    a cent — decimal-in, decimal-out keeps both engines exact."""
    register_views(spark, sf_dir, ["orders", "customer"])
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DECIMAL(18,2), "
        "d DECIMAL(3,2)) RETURNS DECIMAL(22,4) RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tier(b DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN b < 0 THEN 'neg' WHEN b < 5000 THEN 'low' "
        "ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT tier(c.c_acctbal) AS tier,
               COUNT(*) AS n_orders,
               CAST(SUM(disc_price(CAST(o.o_totalprice AS DECIMAL(18,2)),
                                CAST(0.05 AS DECIMAL(3,2)))) AS DOUBLE) AS disc_revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY tier(c.c_acctbal) ORDER BY tier
        """
    )


# --------------------------------------------------------------------------
# q48 — null-handling battery
# --------------------------------------------------------------------------
@query(
    "q48_null_battery",
    oracle="""
    SELECT
        COUNT(*) AS n,
        COUNT(maybe) AS n_not_null,
        CAST(SUM(CASE WHEN maybe IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        CAST(SUM(CAST(COALESCE(maybe, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_coalesced,
        CAST(SUM(CAST(CASE WHEN maybe = 0.0 THEN NULL ELSE maybe END IS NULL AS INT)) AS BIGINT)
            AS n_nullif_zero
    FROM (
        SELECT CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS maybe
        FROM events
    )
    """,
)
def q48_null_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    maybe = F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value"))
    src = ev.select(maybe.alias("maybe"))
    return src.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("maybe").alias("n_not_null"),
        F.sum(F.when(F.col("maybe").isNull(), 1).otherwise(0)).alias("n_null"),
        dsum(F.coalesce(F.col("maybe"), F.lit(0.0)), 2).alias("sum_coalesced"),
        F.sum(F.nullif(F.col("maybe"), F.lit(0.0)).isNull().cast("int")).alias("n_nullif_zero"),
    )


# --------------------------------------------------------------------------
# q49 — date/time arithmetic battery (portable subset)
# --------------------------------------------------------------------------
@query(
    "q49_date_battery",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS y,
           CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
           date_trunc('month', l_shipdate) AS month_start,
           last_day(CAST(l_shipdate AS DATE)) AS month_end,
           CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS INT)
               AS days_since_epoch_start,
           CAST((EXTRACT(dow FROM l_shipdate) + 1) AS INT) AS dow_sunday1,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-03-01'
    GROUP BY ALL
    ORDER BY days_since_epoch_start
    """,
)
def q49_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1995-03-01").cast("timestamp")
    )
    return (
        li.select(
            F.year("l_shipdate").alias("y"),
            F.month("l_shipdate").alias("m"),
            F.date_trunc("month", "l_shipdate").alias("month_start"),
            F.last_day("l_shipdate").alias("month_end"),
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
                "days_since_epoch_start"
            ),
            F.dayofweek("l_shipdate").alias("dow_sunday1"),
        )
        .groupBy("y", "m", "month_start", "month_end", "days_since_epoch_start", "dow_sunday1")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("days_since_epoch_start")
    )


# --------------------------------------------------------------------------
# q69 — correlated scalar subquery (Catalyst decorrelates to a join)
# --------------------------------------------------------------------------
_Q69_SQL = """
    SELECT p.p_partkey, p.p_type, p.p_retailprice,
           round(CAST((SELECT AVG(p2.p_retailprice) FROM part p2
                 WHERE p2.p_type = p.p_type) AS DOUBLE), 6) AS type_avg
    FROM part p
    WHERE p.p_retailprice > 1.02 * (SELECT AVG(p3.p_retailprice) FROM part p3
                                    WHERE p3.p_type = p.p_type)
    ORDER BY p.p_partkey
"""


@query("q69_scalar_subquery", oracle=_Q69_SQL)
def q69_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, tables=("part",))
    return spark.sql(_Q69_SQL)


# --------------------------------------------------------------------------
# q149 — error-safe expression battery (try_cast / try_divide /
# try_add / try_to_timestamp): the ANSI-mode survival kit — malformed
# feed values become NULLs instead of failed 100 TB jobs. The oracle
# spells out the SQL-standard equivalents (TRY_CAST, NULLIF guards,
# overflow CASE bounds), so the null semantics — not just the happy
# path — are hash-checked.
# --------------------------------------------------------------------------
_Q149_ROWS = [
    ("42", 10.0, 2.0, 9223372036854775807, 1, "2024-01-02 03:04:05"),
    ("x7", 1.0, 0.0, 100, 200, "not-a-time"),
    ("-3", -7.5, 0.5, -9223372036854775808, -1, "2024-12-31 23:59:59"),
    (None, 5.0, None, 9000000000000000000, 9000000000000000000, None),
]


@query(
    "q149_try_expr_battery",
    oracle="""
    WITH v(s_int, num, den, a, b, ts) AS (
        VALUES ('42', 10.0, 2.0, 9223372036854775807, CAST(1 AS BIGINT),
                '2024-01-02 03:04:05'),
               ('x7', 1.0, 0.0, CAST(100 AS BIGINT), CAST(200 AS BIGINT),
                'not-a-time'),
               ('-3', -7.5, 0.5, -9223372036854775808, CAST(-1 AS BIGINT),
                '2024-12-31 23:59:59'),
               (NULL, 5.0, NULL, 9000000000000000000, 9000000000000000000, NULL)
    )
    SELECT s_int,
           TRY_CAST(s_int AS INTEGER) AS i,
           num / NULLIF(den, 0) AS q,
           CASE WHEN (b > 0 AND a > 9223372036854775807 - b)
                  OR (b < 0 AND a < -9223372036854775808 - b)
                THEN NULL ELSE a + b END AS s,
           TRY_CAST(ts AS TIMESTAMP) AS t
    FROM v ORDER BY s_int NULLS FIRST
    """,
)
def q149_try_expr_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's try_* family over a fixture covering the failure modes:
    unparsable casts, divide-by-zero, bigint overflow in BOTH
    directions, garbage timestamps, null propagation. Completes the
    cast battery (q33/q48): those prove conversions work; this proves
    the ERROR PATHS degrade to null identically to the SQL-standard
    guards an ANSI engine would write."""
    df = spark.createDataFrame(
        _Q149_ROWS, "s_int string, num double, den double, a long, b long, ts string"
    )
    return df.selectExpr(
        "s_int",
        "try_cast(s_int as int) as i",
        "try_divide(num, den) as q",
        "try_add(a, b) as s",
        "try_to_timestamp(ts) as t",
    ).orderBy(F.col("s_int").asc_nulls_first())


# --------------------------------------------------------------------------
# q29 — two-phase salted aggregation ≡ direct aggregation
# --------------------------------------------------------------------------
@query(
    "q29_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q29_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe aggregation: the oracle is the DIRECT group-by —
    salting must be semantically invisible. Salt derived
    deterministically from event_id."""
    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs=[
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
            F.count(F.lit(1)).alias("pn"),
        ],
        final_aggs=[
            F.sum("pv").cast("double").alias("total_value"),
            F.sum("pn").alias("n"),
        ],
        n_salts=16,
        salt_source="event_id",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q38 — collect_set + sort_array + array_join (array aggregation)
# --------------------------------------------------------------------------
@query(
    "q38_collect_sorted",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_list
    FROM events
    WHERE user_id < 15
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q38_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.array_join(F.sort_array(F.collect_set("user_id")), ",").alias("user_list"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q39 — unpivot / stack
# --------------------------------------------------------------------------
@query(
    "q39_unpivot",
    oracle="""
    SELECT measure,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
        SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL
        SELECT 'tax', l_tax FROM lineitem
        UNION ALL
        SELECT 'discount', l_discount FROM lineitem
    )
    GROUP BY measure
    ORDER BY measure
    """,
)
def q39_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    unpivoted = li.unpivot(
        ids=[], values=["l_quantity", "l_tax", "l_discount"], variableColumnName="col", valueColumnName="val"
    ).withColumn(
        "measure",
        F.when(F.col("col") == "l_quantity", "quantity")
        .when(F.col("col") == "l_tax", "tax")
        .otherwise("discount"),
    )
    return (
        unpivoted.groupBy("measure")
        .agg(dsum(F.col("val"), 2).alias("total"))
        .orderBy("measure")
    )


# --------------------------------------------------------------------------
# q92 — VARIANT semi-structured handling (Spark 4 parse_json /
# variant_get): shredded-at-read JSON beats per-query string parsing at
# 100 TB (binary variant encoding, pushdown-friendly), complementing
# q19's get_json_object string path.
# --------------------------------------------------------------------------
@query(
    "q92_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q92_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high"),
        )
        .orderBy("event_type")
    )
