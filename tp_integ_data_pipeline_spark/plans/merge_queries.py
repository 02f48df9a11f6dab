"""MERGE end-state queries (SURVEY.md §2.8 M1/M2) and CDC-log compaction.

The DuckDB oracle expresses the merge RESULT as a SELECT (set algebra
over target/stage), which is exactly the plain-Spark rewrite's
contract, so the two engines' end states are directly comparable.
Merge dates are fixed literals (not current_date) for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.change_feed import compact_cdc
from tp_integ_data_pipeline_spark.operators.merge_ops import insert_if_absent, scd1_upsert
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table, scratch_dir


def _customer_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SCD1 stage: updates for custkey%7==0 (new balance
    and name), inserts for custkey%13==0 (shifted key)."""
    c = load_table(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("_v2")).alias("c_name"),
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("2024-06-01").cast("date").alias("load_date"),
    )
    inserts = c.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW_"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("2024-06-01").cast("date").alias("load_date"),
    )
    return updates.unionByName(inserts)


@query(
    "q70_scd1_merge",
    oracle="""
    WITH stage AS (
        SELECT c_custkey, c_name || '_v2' AS c_name, c_acctbal + 100 AS c_acctbal,
               DATE '2024-06-01' AS load_date
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR), 0.0,
               DATE '2024-06-01'
        FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT c.c_custkey, c.c_name, c.c_acctbal,
           CAST(NULL AS DATE) AS fecha_actualizacion_origen,
           CAST(NULL AS DATE) AS fecha_actualizacion
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM stage)
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.c_acctbal, s.load_date, DATE '2024-07-01'
    FROM stage s
    ORDER BY c_custkey
    """,
)
def q70_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    stage = _customer_stage(spark, sf_dir)
    merged = scd1_upsert(
        target, stage, ["c_custkey"], merge_date="2024-07-01", origin_date_col="load_date"
    )
    return merged.select(
        "c_custkey", "c_name", "c_acctbal", "fecha_actualizacion_origen", "fecha_actualizacion"
    ).orderBy("c_custkey")


@query(
    "q71_insert_if_absent",
    oracle="""
    WITH stage AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'O', 1.5
        FROM orders WHERE o_orderkey % 11 = 0
    ),
    merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT s.* FROM stage s
        WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM merged
    """,
)
def q71_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    stage = o.filter(F.col("o_orderkey") % 5 == 0).unionByName(
        o.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_custkey",
            F.lit("O").alias("o_orderstatus"),
            F.lit(1.5).alias("o_totalprice"),
        )
    )
    merged = insert_if_absent(o, stage, ["o_orderkey"])
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "q132_table_changes",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice
        FROM v1 WHERE o_orderkey % 3 = 0
    ),
    ins AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderkey, 'delete' AS _change_type, o_custkey, o_orderstatus, o_totalprice
    FROM v1 WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, 'insert', o_custkey, o_orderstatus, o_totalprice
    FROM ins WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT o_orderkey, 'update_preimage', o_custkey, o_orderstatus, o_totalprice
    FROM v1 WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
    UNION ALL
    SELECT o_orderkey, 'update_postimage', o_custkey, o_orderstatus, o_totalprice
    FROM upd WHERE o_orderkey % 5 <> 0
    ORDER BY o_orderkey, _change_type
    """,
)
def q132_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across three commits of a VersionedParquetTable
    (overwrite base → overwrite updated+inserted → targeted delete),
    diffed with operators/change_feed.table_changes: one full-outer key join
    of the two AS-OF states, change rows emitted by a row-local
    when/explode (never four filtered re-evaluations of the join). The
    oracle reconstructs both states with set algebra and derives the
    same feed — insert/delete/update_pre/update_post all hash-checked.
    """
    
    from tp_integ_data_pipeline_spark.operators.change_feed import table_changes
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    t = VersionedParquetTable(spark, scratch_dir(prefix="cdf_q132_"))
    t.overwrite(base)
    upd = base.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    v2 = (
        base.filter(F.col("o_orderkey") % 3 != 0)
        .unionByName(upd)
        .unionByName(o.filter(F.col("o_orderkey") % 7 == 0))
    )
    t.overwrite(v2)
    t.delete_keys(o.filter(F.col("o_orderkey") % 5 == 0), ["o_orderkey"])
    versions = [h["version"] for h in t.history()]
    return (
        table_changes(t, versions[0], versions[-1], ["o_orderkey"])
        .select("o_orderkey", "_change_type", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey", "_change_type")
    )


@query(
    "q138_incremental_view",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    upd AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 5.0 AS o_totalprice
        FROM v1 WHERE o_orderkey % 3 = 0
    ),
    v2 AS (
        SELECT * FROM v1 WHERE o_orderkey % 3 <> 0
        UNION ALL SELECT * FROM upd
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    v3 AS (SELECT * FROM v2 WHERE o_orderkey % 5 <> 0)
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM v3 GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q138_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-customer (count, sum) view
    materialized at commit v1 is rolled forward to v3 by applying the
    change data feed (operators/ivm.delta_aggregate + apply_delta) —
    the base table is never rescanned; work is O(|changes| + |touched
    groups|). The oracle recomputes the view from the FINAL state with
    set algebra, so the check is the IVM contract itself: delta-applied
    == full recompute, exactly (sums ride decimal(18,2) so no float
    summation-order slack; the update is +5.0, not *1.1, because Spark's
    double->decimal cast rounds the SHORTEST string repr while DuckDB
    rounds the binary value — off-cent prices would diverge). The reference's nightly full-refresh MERGE
    (transf.py:215-273) is the shape this replaces at 100 TB."""
    
    from tp_integ_data_pipeline_spark.operators.ivm import apply_delta, delta_aggregate
    from tp_integ_data_pipeline_spark.operators.change_feed import table_changes
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    t = VersionedParquetTable(spark, scratch_dir(prefix="ivm_q138_"))
    t.overwrite(base)
    upd = base.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", (F.col("o_totalprice") + 5.0).alias("o_totalprice")
    )
    v2 = (
        base.filter(F.col("o_orderkey") % 3 != 0)
        .unionByName(upd)
        .unionByName(o.filter(F.col("o_orderkey") % 7 == 0))
    )
    t.overwrite(v2)
    t.delete_keys(o.filter(F.col("o_orderkey") % 5 == 0), ["o_orderkey"])
    versions = [h["version"] for h in t.history()]

    dec = lambda df: df.withColumn(  # noqa: E731
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    view_v1 = (
        dec(t.read(versions[0]))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_dec").alias("total_price"),
        )
    )
    feed = dec(table_changes(t, versions[0], versions[-1], ["o_orderkey"]))
    delta = delta_aggregate(
        feed, ["o_custkey"], {"total_price": "price_dec"}, count_col="n_orders"
    )
    maintained = apply_delta(
        view_v1, delta, ["o_custkey"], {"total_price": "price_dec"}, count_col="n_orders"
    )
    return maintained.select(
        "o_custkey", "n_orders", F.col("total_price").cast("double").alias("total_price")
    ).orderBy("o_custkey")


@query(
    "q142_scd2_history",
    oracle="""
    WITH tgt AS (
        SELECT c_custkey, c_name, c_acctbal,
               DATE '2024-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               TRUE AS is_current
        FROM customer
    ),
    stg AS (
        SELECT c_custkey, c_name || '_v2' AS c_name, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal
        FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR), 0.0
        FROM customer WHERE c_custkey % 13 = 0
    ),
    changed_keys AS (
        SELECT t.c_custkey FROM tgt t JOIN stg s USING (c_custkey)
        WHERE s.c_name IS DISTINCT FROM t.c_name
           OR s.c_acctbal IS DISTINCT FROM t.c_acctbal
    )
    SELECT t.c_custkey, t.c_name, t.c_acctbal, t.valid_from,
           DATE '2024-06-01' AS valid_to, FALSE AS is_current
    FROM tgt t JOIN changed_keys USING (c_custkey)
    UNION ALL
    SELECT * FROM tgt
    WHERE c_custkey NOT IN (SELECT c_custkey FROM changed_keys)
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.c_acctbal,
           DATE '2024-06-01', CAST(NULL AS DATE), TRUE
    FROM stg s
    WHERE s.c_custkey IN (SELECT c_custkey FROM changed_keys)
       OR s.c_custkey NOT IN (SELECT c_custkey FROM tgt)
    ORDER BY c_custkey, valid_from
    """,
)
def q142_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history-keeping merge (operators/merge_ops.scd2_upsert):
    changed keys close their current version (valid_to = effective
    date) AND append a new one; unchanged stage rows (the %11 branch)
    produce NO spurious version — null-safe attribute compare; new
    keys insert a first version; history rows pass through. One
    key-equi-join + output-sized unions, same end-state-as-SELECT
    contract as q70's Type-1. Extends the reference's MERGE
    (transf.py:215-273) with the history dimension it drops."""
    from tp_integ_data_pipeline_spark.operators.merge_ops import scd2_upsert

    c = load_table(spark, sf_dir, "customer")
    target = c.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    stage = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.concat(F.col("c_name"), F.lit("_v2")).alias("c_name"),
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
        )
        .unionByName(
            c.filter((F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0))
            .select("c_custkey", "c_name", "c_acctbal")
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.concat(F.lit("NEW_"), F.col("c_custkey").cast("string")).alias(
                    "c_name"
                ),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return scd2_upsert(
        target,
        stage,
        keys=["c_custkey"],
        tracked=["c_name", "c_acctbal"],
        effective_date="2024-06-01",
    ).orderBy("c_custkey", "valid_from")


@query(
    "q150_point_in_time_join",
    oracle="""
    WITH tgt AS (
        SELECT c_custkey, c_acctbal,
               DATE '1992-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               TRUE AS is_current
        FROM customer
    ),
    stg AS (
        SELECT c_custkey, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 7 = 0
    ),
    dim AS (
        SELECT t.c_custkey, t.c_acctbal, t.valid_from,
               DATE '1995-06-01' AS valid_to, FALSE AS is_current
        FROM tgt t JOIN stg s USING (c_custkey)
        UNION ALL
        SELECT t.* FROM tgt t
        WHERE c_custkey NOT IN (SELECT c_custkey FROM stg)
        UNION ALL
        SELECT s.c_custkey, s.c_acctbal, DATE '1995-06-01',
               CAST(NULL AS DATE), TRUE
        FROM stg s
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           d.c_acctbal AS acctbal_at_order, d.is_current AS from_current_version
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    WHERE o.o_orderkey % 13 = 0
    ORDER BY o.o_orderkey
    """,
)
def q150_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal point-in-time join — the SCD2 CONSUMER side: every
    order row picks the customer-dimension VERSION that was valid at
    its order date (half-open [valid_from, valid_to) semantics, the
    q142 history as input). Spark shape: plain key equi-join + a
    row-local validity predicate — per-key fan-out is bounded by
    versions-per-key (2 here, always small for an SCD2 dim), so this
    never becomes an interval cross join; at 100 TB the dim side
    passes through the stats-gated broadcast. The dim is built with
    scd2_upsert itself (balances changed for custkey%7 at 1995-06-01,
    mid-way through TPC-H's 1992-1998 order dates), so every order
    straddling the change date exercises the historical branch."""
    from tp_integ_data_pipeline_spark.operators.merge_ops import scd2_upsert

    c = load_table(spark, sf_dir, "customer")
    target = c.select(
        "c_custkey",
        "c_acctbal",
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    stage = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal")
    )
    dim = scd2_upsert(
        target, stage, keys=["c_custkey"], tracked=["c_acctbal"],
        effective_date="1995-06-01",
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    j = o.join(dim, o["o_custkey"] == dim["c_custkey"]).filter(
        (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to")))
    )
    return j.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("c_acctbal").alias("acctbal_at_order"),
        F.col("is_current").alias("from_current_version"),
    ).orderBy("o_orderkey")


@query(
    "q151_mor_delete_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
    ORDER BY o_orderkey
    """,
)
def q151_mor_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read retraction end state: two stacked deletion-vector
    commits (operators/table_store.delete_keys_mor — tombstone key sets
    only, the 10-GB-of-keys-not-100-TB-of-rewrite shape) applied at
    read time as lazy anti-joins. The oracle is the plain residue
    SELECT, so the read-side tombstone application — including the
    stacking order — is hash-checked end-to-end, not just
    pytest-checked."""
    
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = VersionedParquetTable(spark, scratch_dir(prefix="mor_q151_"))
    t.overwrite(o)
    t.delete_keys_mor(o.filter(F.col("o_orderkey") % 3 == 0), ["o_orderkey"])
    t.delete_keys_mor(o.filter(F.col("o_orderkey") % 5 == 0), ["o_orderkey"])
    return t.read().select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        "o_orderkey"
    )


# --------------------------------------------------------------------------
# q155 — CDC changelog compaction to the latest-state snapshot
# --------------------------------------------------------------------------
@query(
    "q155_cdc_compaction",
    oracle="""
    WITH feed AS (
        SELECT user_id % 500 AS k, ts, event_id AS seq,
               CASE WHEN event_type = 'purchase' THEN 'delete' ELSE 'upsert' END AS op,
               value
        FROM events
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
        FROM feed
    )
    SELECT k, ROUND(value, 6) AS value, ts, seq
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    ORDER BY k
    """,
)
def q155_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse a CDC event log (built from the events table: purchases
    act as deletes) to its latest-state snapshot. The engine compacts
    via ONE max_by aggregate per key — no window, no full-log sort,
    map-side combinable — while the oracle ranks with a window: the
    hash-match proves the aggregate picks the identical last row under
    the (ts, seq) total order, including dropping delete-terminated
    keys."""
    ev = load_table(spark, sf_dir, "events")
    feed = ev.select(
        (F.col("user_id") % 500).alias("k"),
        "ts",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    snap = compact_cdc(feed, ["k"], "ts", "seq", op_col="op")
    return snap.select("k", F.round("value", 6).alias("value"), "ts", "seq").orderBy("k")
