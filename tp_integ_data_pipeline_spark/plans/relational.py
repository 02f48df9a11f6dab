"""Standard relational surface (SURVEY.md §2.4, §2.5, plus P/J rows).

The reference itself only exercises scans, projections, one broadcast
left join and anti-join dedup; the engine ships the full relational
surface (agg, window, set-ops, rollup/pivot, sort/limit) as thin
Catalyst-native plans, each differentially tested against a DuckDB
oracle, plus the skew verbs (salted hot-key join, key-skew profile) and
market-basket pair lift.

Determinism contract with the oracle: every floating-point aggregate
is summed as DECIMAL (exact, order-independent) and cast back to
DOUBLE, so Spark's partition-parallel aggregation and DuckDB's
sequential one produce bit-identical values. Pure row-level double
arithmetic (products of identical inputs) is already IEEE-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.joins import maybe_broadcast
from tp_integ_data_pipeline_spark.operators.skew import salted_join
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


def _dsum(expr, scale: int = 6):
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
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
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
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
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
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
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
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("promo_revenue"),
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
            _dsum(F.col("value"), 2).alias("total_value"),
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
        .agg(_dsum(F.col("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
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
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value"), 2).alias("total_value"))
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
