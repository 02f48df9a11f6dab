"""Advanced relational surface: ranking, grouping sets, correlated
subqueries (SQL API), as-of join, sessionization, sliding/session
windows, scalar-function battery, vectorized-UDF registration path.

These go beyond the reference's own operator set (SURVEY.md §2.5
notes they ship as built-ins) and cover the patterns a 100 TB
analytics user actually runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.asof import asof_join
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.plans.relational import _dsum
from tp_integ_data_pipeline_spark.sources.fixtures import load_table, register_views


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
# q24 — discrete median per group (deterministic positional pick)
# --------------------------------------------------------------------------
@query(
    "q24_median_disc",
    oracle="""
    SELECT event_type, value AS median_value FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    WHERE rn = (n + 1) // 2
    ORDER BY event_type
    """,
)
def q24_median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("median_value"))
        .orderBy("event_type")
    )


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
# q26 — approximate aggregates, graded through the SQL-checkable
# error-contract AUDIT (upgraded from rows-only in r14, the q181 shape)
# --------------------------------------------------------------------------
# The sketches (HLL++ approx_count_distinct, Greenwald-Khanna-style
# percentile_approx) are not SQL — their published CONTRACTS are:
# |hll - exact| within 3x the rsd (0.05 default) of the exact distinct
# count, and the approx median an ACTUAL data value whose exact rank
# sits within n/accuracy (+1 tie slack) of 0.5n. Exact counts are SQL;
# when the sketches honor their contracts the booleans are constant
# TRUE — so DuckDB predicts the whole relation. At 100 TB a pipeline
# runs the approx side alone; this audit (one extra broadcast-join
# pass, itself fully distributed) is what certifies the sketch against
# its contract at validation SFs.
@query(
    "q26_approx_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_distinct_ok,
           TRUE AS median_rank_ok,
           TRUE AS median_in_data
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q26_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("med"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n"),
    )
    audited = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(agg), "l_returnflag")
        .groupBy("l_returnflag", "approx_parts", "med", "exact_parts", "n")
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("med")).cast("long")).alias(
                "cnt_lt"
            ),
            F.sum((F.col("l_extendedprice") <= F.col("med")).cast("long")).alias(
                "cnt_le"
            ),
            F.max(F.col("l_extendedprice") == F.col("med")).alias("median_in_data"),
        )
    )
    # with duplicate values rank is an interval [cnt_lt, cnt_le]; the
    # target 0.5n must land within it, extended by the GK rank-error
    # n/accuracy (default accuracy 10000) plus 1 for the ceil
    slack = F.col("n") / F.lit(10000) + F.lit(1)
    target = F.lit(0.5) * F.col("n")
    return audited.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.col("exact_parts").cast("long").alias("exact_parts"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.lit(3 * 0.05) * F.col("exact_parts")
        ).alias("approx_distinct_ok"),
        (
            (target >= F.col("cnt_lt") - slack) & (target <= F.col("cnt_le") + slack)
        ).alias("median_rank_ok"),
        "median_in_data",
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# q27 — as-of join (backward): last click before each purchase
# --------------------------------------------------------------------------
@query(
    "q27_asof_join",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_id, 0 AS side, ts AS r_ts
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, event_id, 1 AS side, NULL AS r_ts
        FROM events WHERE event_type = 'purchase'
    ),
    w AS (
        SELECT *,
               LAST_VALUE(r_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS asof_ts
        FROM tagged
    )
    SELECT event_id, user_id, asof_ts AS last_click_ts
    FROM w WHERE side = 1
    ORDER BY event_id
    """,
)
def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    # click_id breaks ties between clicks at one ts; the click's ts is
    # the carried right value
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("last_click_ts"),
    )
    joined = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_seq="click_id", right_vals=["last_click_ts"],
    )
    return joined.select("event_id", "user_id", "last_click_ts").orderBy("event_id")


# --------------------------------------------------------------------------
# q28 — sessionization via window gap analysis
# --------------------------------------------------------------------------
@query(
    "q28_sessionization",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT user_id,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        FROM g
    ),
    per_sess AS (SELECT user_id, sess_id, COUNT(*) AS n FROM s GROUP BY 1, 2)
    SELECT user_id,
           CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
           CAST(MAX(n) AS BIGINT) AS largest_session
    FROM per_sess
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q28_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        (us - F.lag(us).over(w) >= 1800 * 1000 * 1000) | F.lag("ts").over(w).isNull(), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_sess.groupBy("user_id")
        .agg(F.max("sess_id").alias("n_sessions"), F.max("n").alias("largest_session"))
        .orderBy("user_id")
    )


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
        .agg(_dsum(F.col("mmhg")).alias("total_mmhg"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q62/q63 — sliding and session time windows
# --------------------------------------------------------------------------
@query(
    "q62_sliding_window",
    oracle="""
    SELECT win_start, event_type, COUNT(*) AS n
    FROM (
        SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
                       time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes'])
                   AS win_start,
               event_type
        FROM events
    )
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q62_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 — each event lands in 2."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
        .orderBy("win_start", "event_type")
    )


@query(
    "q63_session_window",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) >= 600000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def q63_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (10-minute gap) — oracle reproduces the
    merge semantics with gap-island SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .orderBy("user_id", "session_start")
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
# q136 — grouped-aggregate pandas UDF (UDAF), registered and called
# from SQL — completes the custom-function family (q37 scalar
# pandas_udf, q44 applyInPandas, q46 UDTF)
# --------------------------------------------------------------------------
@query(
    "q136_grouped_agg_udaf",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(EXP(AVG(LN(l_extendedprice))), 6) AS gmean_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q136_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (geometric mean) as a GROUPED_AGG pandas UDF —
    the UDAF surface: Arrow ships each group's column once, numpy
    reduces it, and the result is usable BOTH from the DataFrame agg
    API and from SQL via spark.udf.register. Geometric mean is chosen
    as a real custom metric that still has an exact SQL form
    (exp(avg(ln))) so the UDAF answer is oracle-checkable; rounded to
    6 dp because the two engines (and any two partition orders) sum
    logs in different orders. Scale note: GROUPED_AGG materializes one
    group per Arrow batch — fine for bounded groups like returnflag;
    unbounded-group metrics should use expression-level partial aggs
    instead (the q88 pattern)."""
    import numpy as np

    @F.pandas_udf("double")
    def gmean(s: pd.Series) -> float:
        return float(np.exp(np.log(s.to_numpy(dtype="float64")).mean()))

    spark.udf.register("gmean", gmean)
    register_views(spark, sf_dir, ["lineitem"])
    # A GROUPED_AGG pandas UDF cannot share an Aggregate with built-in
    # (non-pandas) aggregates — Spark restriction — so the count rides
    # a separate 4-row aggregate joined back on the group key.
    return spark.sql(
        """
        WITH g AS (
            SELECT l_returnflag, ROUND(gmean(l_extendedprice), 6) AS gmean_price
            FROM lineitem GROUP BY l_returnflag
        ),
        c AS (
            SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag
        )
        SELECT c.l_returnflag, c.n, g.gmean_price
        FROM c JOIN g USING (l_returnflag)
        ORDER BY c.l_returnflag
        """
    )


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
