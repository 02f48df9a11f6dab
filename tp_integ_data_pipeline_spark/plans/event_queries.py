"""Product-analytics queries over the `events` table: sequenced
funnels, cohort retention, transition matrices, new vs returning
users, A/B readouts (two-proportion z-test, sample-ratio check,
difference-in-differences), attribution, gap sessionization, session
entry paths and concurrency, a bucketized range self-join, and
time-to-purchase survival. No reference-repo
counterpart — SURVEY.md §2.10 extension surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table


# --------------------------------------------------------------------------
# q204 — sequenced funnel conversion (view → click → purchase)
# --------------------------------------------------------------------------
@query(
    "q204_funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
    ),
    n AS (
        SELECT (SELECT COUNT(*) FROM s1) AS n1,
               (SELECT COUNT(*) FROM s2) AS n2,
               (SELECT COUNT(*) FROM s3) AS n3
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step,
               CAST(n1 AS BIGINT) AS n_users,
               ROUND(CAST(n1 AS DOUBLE) / NULLIF(n1, 0), 6) AS conv_vs_first,
               ROUND(CAST(n1 AS DOUBLE) / NULLIF(n1, 0), 6) AS conv_vs_prev
        FROM n
        UNION ALL
        SELECT 2, 'click', n2,
               ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6),
               ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6)
        FROM n
        UNION ALL
        SELECT 3, 'purchase', n3,
               ROUND(CAST(n3 AS DOUBLE) / NULLIF(n1, 0), 6),
               ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 6)
        FROM n
    ) ORDER BY step_no
    """,
)
def q204_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequenced funnel: a user converts step k only with an event
    STRICTLY after their step-(k-1) time (min view → first later click
    → first later purchase) — the order-sensitive verb product
    analytics needs and a plain per-type count can't express.

    Scale shape: ONE groupBy(user_id) collecting that user's (ts,
    event_id, type) structs, sorted row-locally, then a single
    higher-order F.aggregate fold carries the (t1, t2, t3) state —
    sequencing costs one keyed shuffle, no self-joins, no windows.
    Per-user event counts are session-bounded in practice; a hot-user
    cap (or the 3-stage min-join rewrite) is the escape hatch if a
    key exceeds memory. The 3-row summary is driver-sized."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    ts_null = F.lit(None).cast("timestamp")
    per_user = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("evs"))
        .select(
            F.aggregate(
                "evs",
                F.struct(ts_null.alias("t1"), ts_null.alias("t2"), ts_null.alias("t3")),
                lambda acc, e: F.struct(
                    F.when(
                        acc.t1.isNull() & (e.event_type == "view"), e.ts
                    ).otherwise(acc.t1).alias("t1"),
                    F.when(
                        acc.t2.isNull()
                        & acc.t1.isNotNull()
                        & (e.event_type == "click")
                        & (e.ts > acc.t1),
                        e.ts,
                    ).otherwise(acc.t2).alias("t2"),
                    F.when(
                        acc.t3.isNull()
                        & acc.t2.isNotNull()
                        & (e.event_type == "purchase")
                        & (e.ts > acc.t2),
                        e.ts,
                    ).otherwise(acc.t3).alias("t3"),
                ),
            ).alias("s")
        )
    )
    counts = per_user.agg(
        F.count(F.col("s.t1")).alias("n1"),
        F.count(F.col("s.t2")).alias("n2"),
        F.count(F.col("s.t3")).alias("n3"),
    )
    return counts.selectExpr(
        """stack(3,
            1L, 'view',     n1, n1, n1,
            2L, 'click',    n2, n1, n1,
            3L, 'purchase', n3, n1, n2
        ) AS (step_no, step, n_users, denom_first, denom_prev)"""
    ).select(
        "step_no",
        "step",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(
            F.col("n_users").cast("double") / F.nullif(F.col("denom_first"), F.lit(0)), 6
        ).alias("conv_vs_first"),
        F.round(
            F.col("n_users").cast("double") / F.nullif(F.col("denom_prev"), F.lit(0)), 6
        ).alias("conv_vs_prev"),
    ).orderBy("step_no")


# --------------------------------------------------------------------------
# q205 — weekly cohort retention
# --------------------------------------------------------------------------
_COHORT_EPOCH = "2024-01-01"


@query(
    "q205_cohort_retention",
    oracle=f"""
    WITH uw AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '{_COHORT_EPOCH}', CAST(ts AS DATE)) // 7 AS w
        FROM events
    ),
    cohort AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY 1),
    act AS (
        SELECT c.cw AS cohort_week, uw.w - c.cw AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM uw JOIN cohort c USING (user_id) GROUP BY 1, 2
    ),
    sz AS (SELECT cohort_week, n_active AS cohort_size FROM act WHERE week_offset = 0)
    SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
           ROUND(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM act a JOIN sz s USING (cohort_week)
    ORDER BY a.cohort_week, a.week_offset
    """,
)
def q205_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first activity; for each (cohort, week-offset) the active-user
    count and retention vs the cohort's size. Week = integer floor-div
    of the day index from a fixed epoch — identical integer arithmetic
    on both engines (no date_trunc week-start semantics to reconcile).

    Scale shape: distinct(user, week) is one keyed shuffle; the
    cohort min reuses the user key (co-partitioned groupBy + join);
    the (cohort, offset) rollup is map-side combinable to a
    weeks²-bounded summary, and the offset-0 size join is a broadcast
    of that summary against itself."""
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.select(
            "user_id",
            F.expr(
                f"datediff(to_date(ts), date '{_COHORT_EPOCH}') div 7"
            ).alias("w"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds cohort min AND the activity join
    )
    cohort = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    act = (
        uw.join(cohort, "user_id")
        .groupBy(F.col("cw").alias("cohort_week"), (F.col("w") - F.col("cw")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .localCheckpoint(eager=False)  # feeds sizes AND the final join
    )
    sz = act.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        act.join(F.broadcast(sz), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q206 — event-type transition matrix (first-order Markov)
# --------------------------------------------------------------------------
@query(
    "q206_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS tn FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           ROUND(CAST(t.n AS DOUBLE) / tot.tn, 6) AS p
    FROM t JOIN tot USING (from_type)
    ORDER BY t.from_type, t.to_type
    """,
)
def q206_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence (deterministic (ts, event_id) order): transition counts
    and row-normalized probabilities — the sequence-model / anomalous-
    flow summary a plain type histogram can't give.

    Scale shape: ONE user-partitioned window (LAG — keyed shuffle,
    no global sort), then a map-side-combinable (from, to) rollup to
    a ≤|types|² summary; the row-total join is a broadcast of that
    summary. Nothing downstream of the window exceeds types²."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # feeds totals AND the final join
    )
    tot = t.groupBy("from_type").agg(F.sum("n").alias("tn"))
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("tn"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# q207 — daily new vs returning actives + cumulative reach
# --------------------------------------------------------------------------
@query(
    "q207_new_returning",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    act AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM ud GROUP BY 1),
    firsts AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY 1),
    new_d AS (SELECT fday AS day, CAST(COUNT(*) AS BIGINT) AS n_new FROM firsts GROUP BY 1)
    SELECT a.day, a.n_active,
           COALESCE(n.n_new, 0) AS n_new,
           a.n_active - COALESCE(n.n_new, 0) AS n_returning,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day) AS BIGINT) AS cum_users,
           ROUND(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / a.n_active, 6) AS new_share
    FROM act a LEFT JOIN new_d n USING (day)
    ORDER BY a.day
    """,
)
def q207_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity decomposition: active users split into first-
    ever-seen (new) vs returning, plus the cumulative distinct-user
    reach — the growth-accounting view; the exact running-distinct
    comes free from summing the new-user counts (no per-day distinct
    rescans, no HLL needed at day granularity).

    Scale shape: distinct(user, day) is one keyed shuffle reused
    (checkpointed) for both the per-day count and the per-user first
    day; everything after is per-DAY rows (span-bounded), so the
    running-sum window is over a calendar-sized relation, not data."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds actives AND first-day
    )
    act = ud.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    new_d = (
        ud.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        act.join(new_d, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (F.col("n_active") - F.coalesce("n_new", F.lit(0))).alias("n_returning"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("long"))
        .withColumn(
            "new_share",
            F.round(F.col("n_new").cast("double") / F.col("n_active"), 6),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q208 — A/B experiment two-proportion z-test
# --------------------------------------------------------------------------
@query(
    "q208_ab_test",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(conv) AS BIGINT) AS n_conv
        FROM pu GROUP BY 1
    ),
    s AS (
        SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
               MAX(CASE WHEN arm = 'A' THEN n_conv END) AS ca,
               MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
               MAX(CASE WHEN arm = 'B' THEN n_conv END) AS cb
        FROM arms
    ),
    z AS (
        SELECT ROUND(
                   (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                   / NULLIF(
                       sqrt(
                           (CAST(ca + cb AS DOUBLE) / (na + nb))
                           * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                           * (1.0 / na + 1.0 / nb)
                       ),
                       0.0
                   ),
                   6
               ) + 0 AS z_score
        FROM s
    )
    SELECT a.arm, a.n_users, a.n_conv,
           ROUND(CAST(a.n_conv AS DOUBLE) / a.n_users, 6) AS conv_rate,
           z.z_score,
           CAST(ABS(z.z_score) > 1.96 AS INT) AS significant
    FROM arms a, z
    ORDER BY a.arm
    """,
)
def q208_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to
    arms (user_id parity — the hash-bucketing stand-in), converted =
    any purchase event; per-arm size/conversions/rate plus the pooled
    two-proportion z statistic and a |z| > 1.96 significance flag —
    the experimentation verb a plain rate comparison can't defend.

    Cross-engine: z is ROUND(·,6)+0 (negative-capable) on both sides;
    the flag derives from the ROUNDED z so both engines agree.

    Scale shape: one groupBy(user) keyed shuffle folds events to a
    per-user conversion bit; the arm rollup is map-side combinable to
    2 rows; the z scalar is a 1-row broadcast attach (BNLJ_ALLOWED
    scalar_aggs). Nothing downstream exceeds the arm count."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
            "conv",
        )
    )
    arms = (
        pu.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
        .localCheckpoint(eager=False)  # feeds the scalar AND the output
    )
    s = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("cb"),
    )
    pool = F.col("ca").cast("double") + F.col("cb")
    ntot = F.col("na").cast("double") + F.col("nb")
    p = pool / ntot
    se = F.sqrt(p * (1.0 - p) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    z = s.select(
        (
            F.round(
                (
                    F.col("ca").cast("double") / F.col("na")
                    - F.col("cb").cast("double") / F.col("nb")
                )
                / F.nullif(se, F.lit(0.0)),
                6,
            )
            + 0
        ).alias("z_score")
    )
    return (
        arms.crossJoin(F.broadcast(z))
        .select(
            "arm",
            "n_users",
            "n_conv",
            F.round(F.col("n_conv").cast("double") / F.col("n_users"), 6).alias(
                "conv_rate"
            ),
            "z_score",
            (F.abs(F.col("z_score")) > 1.96).cast("int").alias("significant"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# q218 — peak concurrent sessions per day (distributed sweep-line)
# --------------------------------------------------------------------------
_SESSION_GAP_S = 1800


@query(
    "q218_session_concurrency",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 1000000 AS t
        FROM events
    ),
    o AS (
        SELECT user_id, t,
               CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                         OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                            > {_SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS ns
        FROM e
    ),
    s AS (
        SELECT user_id, t,
               SUM(ns) OVER (PARTITION BY user_id ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o
    ),
    sess AS (SELECT user_id, sid, MIN(t) AS st, MAX(t) AS en FROM s GROUP BY 1, 2),
    dl AS (
        SELECT st AS b, 1 AS d FROM sess
        UNION ALL SELECT en + 1, -1 FROM sess
    ),
    net AS (SELECT b, SUM(d) AS net FROM dl GROUP BY 1),
    c AS (
        SELECT b, SUM(net) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        FROM net
    )
    SELECT b // 86400 AS day, CAST(MAX(conc) AS BIGINT) AS peak
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def q218_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning verb:
    sessionize per user (30-min gap rule, q28's semantics), sweep-line
    the session intervals as +1/−1 boundary deltas, and report each
    day's maximum running concurrency. Time is TZ-free seconds since
    2024-01-01 (the q189 epoch-difference rule); day = t div 86400.

    Scale shape: sessionization windows are USER-partitioned; the
    sweep's running sum — the step the naive plan puts on one global
    sort — is packing.global_cumsum's distributed prefix sum (keys
    are the DISTINCT boundary seconds after the net rollup, so the
    unique-key precondition holds by construction); only its
    ≤ n_buckets offset table is ever partitionless. The day peak is a
    map-side-combinable rollup of the boundary relation."""
    from tp_integ_data_pipeline_spark.operators.packing import global_cumsum

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
            " DIV 1000000 AS BIGINT)"
        ).alias("t"),
    )
    uw = W.partitionBy("user_id").orderBy("t")
    o = e.select(
        "user_id",
        "t",
        F.when(
            F.lag("t").over(uw).isNull()
            | (F.col("t") - F.lag("t").over(uw) > _SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("ns"),
    )
    s = o.select(
        "user_id",
        "t",
        F.sum("ns").over(uw.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("sid"),
    )
    sess = s.groupBy("user_id", "sid").agg(F.min("t").alias("st"), F.max("t").alias("en"))
    dl = sess.select(F.col("st").alias("b"), F.lit(1).alias("d")).unionByName(
        sess.select((F.col("en") + 1).alias("b"), F.lit(-1).alias("d"))
    )
    # global_cumsum evaluates its child up to three times (documented
    # at operators/packing.py) — checkpoint the boundary relation so
    # the sessionization pipeline above runs once.
    net = dl.groupBy("b").agg(F.sum("d").alias("net")).localCheckpoint(eager=False)
    c = global_cumsum(net, "b", "net", out_col="cum_before").select(
        "b", (F.col("cum_before") + F.col("net")).alias("conc")
    )
    return (
        c.groupBy(F.expr("b DIV 86400").alias("day"))
        .agg(F.max("conc").cast("long").alias("peak"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q221 — first-touch vs last-touch conversion attribution
# --------------------------------------------------------------------------
@query(
    "q221_attribution",
    oracle="""
    WITH w AS (
        SELECT event_type,
               FIRST_VALUE(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        FROM events
    ),
    p AS (
        SELECT first_touch, COALESCE(last_touch, '(none)') AS last_touch
        FROM w WHERE event_type = 'purchase'
    ),
    f AS (SELECT first_touch AS channel, COUNT(*) AS fc FROM p GROUP BY 1),
    l AS (SELECT last_touch AS channel, COUNT(*) AS lc FROM p GROUP BY 1)
    SELECT COALESCE(f.channel, l.channel) AS channel,
           CAST(COALESCE(f.fc, 0) AS BIGINT) AS first_conv,
           CAST(COALESCE(l.lc, 0) AS BIGINT) AS last_conv
    FROM f FULL JOIN l ON f.channel = l.channel
    ORDER BY channel
    """,
)
def q221_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution: every purchase credits
    (a) the user's FIRST-ever event type (first-touch) and (b) the
    nearest PRECEDING non-purchase event type (last-touch, '(none)'
    when the purchase opens the stream) — the two standard models,
    reported side-by-side per channel. Ordering ties break on
    (ts, event_id) (q28's rule) so both engines walk identical
    sequences.

    Scale shape: both attributions come from ONE user-partitioned
    window pass (first_value + ignore-nulls last over the shifted
    frame) — no self-joins, no per-purchase scans; the channel
    rollups and their full-outer alignment are event-type-bounded."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    w = ev.select(
        "event_type",
        F.first("event_type")
        .over(uw.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("first_touch"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(uw.rowsBetween(W.unboundedPreceding, -1))
        .alias("last_touch"),
    )
    p = w.where(F.col("event_type") == "purchase").select(
        "first_touch", F.coalesce("last_touch", F.lit("(none)")).alias("last_touch")
    ).localCheckpoint(eager=False)  # feeds both channel rollups
    f = p.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("fc")
    )
    l = p.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("lc")
    )
    return (
        f.join(l, "channel", "full")
        .select(
            "channel",
            F.coalesce("fc", F.lit(0)).cast("long").alias("first_conv"),
            F.coalesce("lc", F.lit(0)).cast("long").alias("last_conv"),
        )
        .orderBy("channel")
    )


def _sessionized(ev: DataFrame) -> DataFrame:
    """``ev`` with ``sess_id``, each user's running session number: a
    new session starts after a gap of 30 minutes or more, and
    ``(ts, event_id)`` breaks ties. Two user-partitioned window
    passes (q28, q222)."""
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        (us - F.lag(us).over(uw) >= 1800 * 1000 * 1000) | F.lag("ts").over(uw).isNull(),
        1,
    ).otherwise(0)
    return ev.withColumn("new_sess", new_sess).withColumn(
        "sess_id",
        F.sum("new_sess").over(uw.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )


# --------------------------------------------------------------------------
# q222 — top session entry paths (first 3 event types per session)
# --------------------------------------------------------------------------
_PATH_K = 10


@query(
    "q222_session_paths",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    s AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g
    ),
    paths AS (
        SELECT user_id, sess_id,
               array_to_string((LIST(event_type ORDER BY ts, event_id))[1:3], '>') AS path
        FROM s GROUP BY 1, 2
    ),
    pc AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM paths GROUP BY 1)
    SELECT path, n_sessions FROM pc
    ORDER BY n_sessions DESC, path
    LIMIT {_PATH_K}
    """,
)
def q222_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_K} session ENTRY paths: the first three event types
    of every session (30-min gap, q28's ≥-1800 s rule and
    (ts, event_id) tie-break), '>'-joined, ranked by session count
    with a path tie-break — the "how do journeys start" verb that
    funnels (q204) and the transition matrix (q206) don't answer.

    Scale shape: sessionization is two user-partitioned window
    passes; the path string is a ROW-LOCAL sort_array+slice of the
    per-session collected triples (sessions are gap-bounded, not
    data-sized); the path rollup is bounded by |event types|³ and the
    final top-k is a TakeOrdered over that bounded relation."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    s = _sessionized(ev)
    paths = s.groupBy("user_id", "sess_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("us"),
                                F.col("event_id").alias("eid"),
                                F.col("event_type").alias("et"),
                            )
                        )
                    ),
                    lambda x: x.et,
                ),
                1,
                3,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATH_K)
    )


# --------------------------------------------------------------------------
# q223 — Kaplan-Meier time-to-first-purchase survival curve
# --------------------------------------------------------------------------
@query(
    "q223_km_survival",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(epoch_us(ts)) AS t0,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
        FROM events GROUP BY 1
    ),
    mx AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events),
    d AS (
        SELECT CAST((COALESCE(u.tp, mx.tmax) - u.t0) // 86400000000 AS BIGINT) AS day,
               CASE WHEN u.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u, mx
    ),
    r AS (
        SELECT day,
               CAST(SUM(ev) AS BIGINT) AS d_t,
               CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c_t
        FROM d GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(d_t + c_t) AS DOUBLE) AS total FROM r),
    risk AS (
        SELECT day, d_t, c_t,
               n.total - COALESCE(SUM(d_t + c_t) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM r, n
    ),
    -- a day whose events exhaust the risk set (d_t = n_risk) can only
    -- be the final row; dropping it before the cumulative keeps ln(0)
    -- out of the fold without changing any earlier term
    k AS (
        SELECT day, d_t, c_t, n_risk,
               SUM(ln(1.0 - d_t / n_risk)) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_s
        FROM risk WHERE d_t < n_risk OR d_t = 0
    )
    SELECT day, CAST(n_risk AS BIGINT) AS n_risk, d_t, c_t,
           ROUND(exp(ln_s), 6) AS survival
    FROM k WHERE d_t > 0
    ORDER BY day
    """,
)
def q223_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase, in
    days since each user's first event; users who never purchase are
    right-censored at the global observation end — the
    retention-statistics verb behind "how long until activation?".
    One row per day WITH events: n at risk, events, censored, S(t) =
    Π(1 − d/n) computed as exp(Σ ln(·)) so both engines multiply in
    the same order-free way. Days where the events would exhaust the
    risk set (S hits exactly 0, ln(0) domain edge) are excluded on
    both sides — the curve is reported strictly above zero.

    Scale shape: the per-user fold is one keyed rollup; everything
    after operates on the day-bounded duration relation
    (observation-span rows — GLOBAL_WINDOW_ALLOWED precedent) with
    the user total as a 1-row broadcast scalar (BNLJ_ALLOWED)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    us = F.unix_micros(F.col("ts"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
    )
    mx = ev.agg(F.max(us).alias("tmax"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("CAST((COALESCE(tp, tmax) - t0) DIV 86400000000 AS BIGINT)").alias(
            "day"
        ),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    r = (
        d.groupBy("day")
        .agg(
            F.sum("ev").cast("long").alias("d_t"),
            (F.count(F.lit(1)) - F.sum("ev")).cast("long").alias("c_t"),
        )
        .localCheckpoint(eager=False)  # feeds the total scalar AND the curve
    )
    n = r.agg(F.sum(F.col("d_t") + F.col("c_t")).cast("double").alias("total"))
    ow = W.orderBy("day")
    prior = F.coalesce(
        F.sum(F.col("d_t") + F.col("c_t")).over(
            ow.rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    risk = r.crossJoin(F.broadcast(n)).select(
        "day", "d_t", "c_t", (F.col("total") - prior).alias("n_risk")
    )
    # a day whose events exhaust the risk set (d_t = n_risk) can only
    # be the final row; dropping it before the cumulative keeps ln(0)
    # out of the fold without changing any earlier term
    k = risk.where((F.col("d_t") < F.col("n_risk")) | (F.col("d_t") == 0)).select(
        "day",
        "d_t",
        "c_t",
        "n_risk",
        F.sum(F.log(1.0 - F.col("d_t") / F.col("n_risk")))
        .over(ow.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("ln_s"),
    )
    return (
        k.where(F.col("d_t") > 0)
        .select(
            "day",
            F.col("n_risk").cast("long").alias("n_risk"),
            "d_t",
            "c_t",
            F.round(F.exp("ln_s"), 6).alias("survival"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q230 — difference-in-differences experiment readout
# --------------------------------------------------------------------------
_DID_SPLIT = "2024-01-16 00:00:00"


@query(
    "q230_diff_in_diff",
    oracle=f"""
    WITH cell AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN ts < TIMESTAMP '{_DID_SPLIT}' THEN 'pre' ELSE 'post' END
                   AS period,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS m_raw
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT MAX(CASE WHEN arm = 'A' AND period = 'pre' THEN m_raw END) AS a0,
               MAX(CASE WHEN arm = 'A' AND period = 'post' THEN m_raw END) AS a1,
               MAX(CASE WHEN arm = 'B' AND period = 'pre' THEN m_raw END) AS b0,
               MAX(CASE WHEN arm = 'B' AND period = 'post' THEN m_raw END) AS b1
        FROM cell
    ),
    d AS (SELECT ROUND((b1 - b0) - (a1 - a0), 6) + 0 AS did FROM s)
    SELECT cell.arm, cell.period, cell.n,
           ROUND(cell.m_raw, 6) AS avg_value,
           d.did
    FROM cell, d
    ORDER BY cell.arm, cell.period
    """,
)
def q230_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: arms by the q208 parity
    assignment, periods split at the q170 boundary; the DiD estimate
    (B_post − B_pre) − (A_post − A_pre) removes the shared time trend
    a naive post-only comparison conflates with the treatment — the
    panel-experimentation verb alongside q208's z-test and q214's
    jackknife.

    Scale shape: ONE map-side-combinable (arm, period) rollup to 4
    rows; the pivot and the DiD scalar live on that 4-row relation
    (BNLJ_ALLOWED scalar)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cell = (
        ev.select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
            F.when(F.col("ts") < F.lit(_DID_SPLIT).cast("timestamp"), "pre")
            .otherwise("post")
            .alias("period"),
            "value",
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("value").alias("m_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the pivot scalar AND the output
    )

    def pick(arm: str, period: str):
        return F.max(
            F.when(
                (F.col("arm") == arm) & (F.col("period") == period), F.col("m_raw")
            )
        )

    s = cell.agg(
        pick("A", "pre").alias("a0"),
        pick("A", "post").alias("a1"),
        pick("B", "pre").alias("b0"),
        pick("B", "post").alias("b1"),
    )
    d = s.select(
        (
            F.round(
                (F.col("b1") - F.col("b0")) - (F.col("a1") - F.col("a0")), 6
            )
            + 0
        ).alias("did")
    )
    return (
        cell.crossJoin(F.broadcast(d))
        .select(
            "arm",
            "period",
            "n",
            F.round("m_raw", 6).alias("avg_value"),
            "did",
        )
        .orderBy("arm", "period")
    )


# --------------------------------------------------------------------------
# q233 — sample-ratio-mismatch (SRM) guardrail
# --------------------------------------------------------------------------
@query(
    "q233_srm_check",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    -- df=1 goodness-of-fit against 50/50 collapses to (nA-nB)^2/total
    s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               ROUND(
                   CAST(SUM(CASE WHEN arm = 'A' THEN n ELSE -n END) AS DOUBLE)
                   * SUM(CASE WHEN arm = 'A' THEN n ELSE -n END) / SUM(n),
                   6
               ) AS chi2
        FROM a
    )
    SELECT a.arm, a.n,
           ROUND(CAST(a.n AS DOUBLE) / s.total, 6) AS share,
           s.chi2,
           CAST(s.chi2 > 3.841459 AS INT) AS srm_flag
    FROM a, s
    ORDER BY a.arm
    """,
)
def q233_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: chi-squared goodness-of-fit of
    the realized arm sizes against the designed 50/50 split (df=1,
    flag at the 0.05 critical value 3.841459) — the sanity gate run
    BEFORE reading q208's z-test or q230's DiD, because a broken
    randomizer invalidates both. For two cells vs an equal split the
    statistic collapses to (nA − nB)²/total, computed in one pass.

    Scale shape: one per-user distinct + 2-row arm rollup; the
    chi2/flag scalar attaches to those 2 rows (BNLJ_ALLOWED)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    a = (
        ev.distinct()
        .select(F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds the chi2 scalar AND the output
    )
    signed = F.sum(
        F.when(F.col("arm") == "A", F.col("n")).otherwise(-F.col("n"))
    )
    s = a.agg(
        F.sum("n").cast("long").alias("total"),
        F.round(signed.cast("double") * signed / F.sum("n"), 6).alias("chi2"),
    ).select(
        "total",
        "chi2",
        (F.col("chi2") > 3.841459).cast("int").alias("srm_flag"),
    )
    return (
        a.crossJoin(F.broadcast(s))
        .select(
            "arm",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            "chi2",
            "srm_flag",
        )
        .orderBy("arm")
    )


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
    sess = _sessionized(load_table(spark, sf_dir, "events"))
    per_sess = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_sess.groupBy("user_id")
        .agg(F.max("sess_id").alias("n_sessions"), F.max("n").alias("largest_session"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q47 — range join via bucketization (guide: "bucketize the range key +
# equi-join on bucket + filter"). Pairs of events by the same user
# within 60 s of each other.
# --------------------------------------------------------------------------
@query(
    "q47_range_join",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_close_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
    GROUP BY a.user_id
    ORDER BY a.user_id
    """,
)
def q47_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on (user, minute-bucket ± 1) prunes the quadratic
    candidate space to adjacent buckets, then the exact |Δt| ≤ 60 s
    predicate filters — the scalable form of an interval self-join
    (a raw theta-join would be O(n²) per user). Only the left side is
    bucket-exploded (2×). Pairing is SYMMETRIC (a_id != b_id, then
    canonicalized to (least, greatest) ids before distinct): for any
    qualifying pair the orientation whose a-side sits in the earlier
    bucket always matches, so coverage never depends on event ids
    being ordered like timestamps — an a_id < b_id join predicate
    would silently drop boundary-straddling pairs whose smaller id is
    the later event."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    us = F.unix_micros(F.col("ts"))
    minute = (us / F.lit(60_000_000)).cast("long")
    left = ev.select(
        "user_id", F.col("event_id").alias("a_id"), us.alias("a_us"), minute.alias("m")
    ).withColumn("bucket", F.explode(F.array(F.col("m"), F.col("m") + 1))).drop("m")
    right = ev.select(
        "user_id", F.col("event_id").alias("b_id"), us.alias("b_us"), minute.alias("bucket")
    )
    pairs = (
        left.join(right, ["user_id", "bucket"])
        .filter(
            (F.col("a_id") != F.col("b_id"))
            & (F.abs(F.col("a_us") - F.col("b_us")) <= 60_000_000)
        )
        .select(
            "user_id",
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_close_pairs"))
        .orderBy("user_id")
    )
