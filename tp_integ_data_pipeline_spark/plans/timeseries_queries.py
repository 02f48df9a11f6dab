"""Time-series surface over the events table: regular-grid resampling
with gap fill + forward fill (the hypertable `time_bucket_gapfill` /
`locf` verb), linear interpolation, as-of joins, sliding windows,
decayed aggregates,
trend lines, gaps-and-islands, CUSUM changepoints, trailing
percentiles and seasonal decomposition. No reference-repo counterpart
— SURVEY.md §2.10 extension surface; q12 (lag gaps) detects holes,
q140 REPAIRS them, which is what a model-features or monitoring
pipeline actually consumes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tp_integ_data_pipeline_spark.operators.asof import asof_join
from tp_integ_data_pipeline_spark.operators.islands import id_gaps
from tp_integ_data_pipeline_spark.operators.timeseries import exact_moments, interpolate_linear
from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_BUCKET_S = 21600  # 6 h


@query(
    "q140_gapfill_resample",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               CAST(FLOOR(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS bucket,
               COUNT(*) AS n_events, SUM(value) AS v
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
        FROM per GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, UNNEST(range(mn, mx + 1)) AS bucket FROM span
    ),
    joined AS (
        SELECT g.user_id, g.bucket,
               COALESCE(p.n_events, 0) AS n_events,
               p.v AS v
        FROM grid g LEFT JOIN per p USING (user_id, bucket)
    )
    SELECT user_id, bucket, n_events,
           CAST(v IS NULL AS INT) AS is_gap,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 6) AS v_filled
    FROM joined ORDER BY user_id, bucket
    """,
)
def q140_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resample between each user's own first and last
    event, missing buckets materialized (gap fill) and their value
    carried forward (LOCF). Shape: ONE user/bucket rollup, a user-row
    span aggregate, the grid exploded row-locally from sequence() (it
    is output-sized — never a calendar cross join), one left join back,
    and the forward fill as a user-partitioned running last() — every
    stage keyed on user, no global window, no driver loop. Bucket ids
    come from floor(epoch/21600) so both engines bucket the identical
    doubles (timestamp micros are < 2^53, exact in double)."""
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            "user_id",
            F.floor(F.col("ts").cast("double") / _BUCKET_S).alias("bucket"),
            "value",
        )
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("v"))
    )
    span = per.groupBy("user_id").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("bucket")
    )
    joined = grid.join(per, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "v",
    )
    w = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        joined.select(
            "user_id",
            "bucket",
            "n_events",
            F.col("v").isNull().cast("int").alias("is_gap"),
            F.round(F.last("v", ignorenulls=True).over(w), 6).alias("v_filled"),
        )
        .orderBy("user_id", "bucket")
    )


@query(
    "q144_hierarchical_rollup",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q144_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain rollup chain: hourly partials → daily (from hourly,
    raw never rescanned) → weekly (from daily). The oracle computes
    weekly DIRECTLY from raw, so the hash-match proves the partial
    states re-aggregate exactly through two regrain steps — the
    materialized-rollup contract (finer grain is the only scan; every
    coarser grain is partial-state-sized work). Counts and decimal
    sums are the re-aggregable measures (the HLL q120 / histogram
    q133 pattern for the distinct/quantile analogues)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.floor(F.col("ts").cast("double") / 3600).alias("hour"),
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    daily = (
        hourly.select(
            F.expr("hour div 24").alias("day"), "event_type", "n", "sv"
        )
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )
    weekly = (
        daily.select(F.expr("day div 7").alias("week"), "event_type", "n", "sv")
        .groupBy("week", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )
    return weekly.select(
        "week", "event_type", "n", F.col("sv").cast("double").alias("total_value")
    ).orderBy("week", "event_type")


# --------------------------------------------------------------------------
# q156 — grouped linear interpolation over the resampled event grid
# --------------------------------------------------------------------------
@query(
    "q156_linear_interpolation",
    oracle=f"""
    WITH per AS (
        SELECT user_id % 50 AS k,
               CAST(FLOOR(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS bucket,
               SUM(value) AS v
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT k, MIN(bucket) AS mn, MAX(bucket) AS mx FROM per GROUP BY k),
    grid AS (SELECT k, UNNEST(range(mn, mx + 1)) AS bucket FROM span),
    joined AS (
        SELECT g.k, g.bucket,
               CASE WHEN g.bucket % 3 = 0 THEN NULL ELSE p.v END AS v
        FROM grid g LEFT JOIN per p USING (k, bucket)
    ),
    anch AS (
        SELECT k, bucket, v,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY bucket
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY bucket
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
        FROM joined
    )
    SELECT k, bucket, CAST(v IS NULL AS INT) AS was_gap,
           ROUND(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                   THEN pv + (nv - pv) * (bucket - pt) / (nt - pt)
               WHEN pv IS NOT NULL THEN pv
               ELSE nv
           END, 6) AS v_interp
    FROM anch ORDER BY k, bucket
    """,
)
def q156_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across holes in a per-key 6-hour grid
    (every third bucket's value is masked to null to plant
    deterministic gaps, including multi-bucket runs at series edges).
    Complements q140's LOCF: interpolation needs BOTH anchors, so the
    operator runs two frame-bounded windows over one (k, bucket) sort
    — one shuffle — while the oracle re-derives the same anchors with
    IGNORE NULLS window functions. Leading/trailing gaps fall back to
    the single available anchor."""
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            (F.col("user_id") % 50).alias("k"),
            F.floor(F.col("ts").cast("double") / _BUCKET_S).alias("bucket"),
            "value",
        )
        .groupBy("k", "bucket")
        .agg(F.sum("value").alias("v"))
    )
    span = per.groupBy("k").agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
    grid = span.select("k", F.explode(F.sequence("mn", "mx")).alias("bucket"))
    joined = grid.join(per, ["k", "bucket"], "left").select(
        "k",
        "bucket",
        F.when(F.col("bucket") % 3 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("v"))
        .alias("v"),
    )
    out = interpolate_linear(joined, "k", "bucket", "v", out_col="v_interp")
    return out.select(
        "k",
        "bucket",
        F.col("v").isNull().cast("int").alias("was_gap"),
        F.round("v_interp", 6).alias("v_interp"),
    ).orderBy("k", "bucket")


# --------------------------------------------------------------------------
# q160 — time-series AS-OF join (latest prior purchase per click)
# --------------------------------------------------------------------------
@query(
    "q160_asof_join",
    oracle="""
    WITH l AS (
        SELECT user_id % 100 AS k, ts, event_id, value
        FROM events WHERE event_type = 'click'
    ),
    r AS (
        SELECT user_id % 100 AS k, ts, event_id AS seq, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.k, l.event_id, l.ts, ROUND(l.value, 6) AS click_value,
           ROUND(m.value, 6) AS last_purchase_value
    FROM l LEFT JOIN LATERAL (
        SELECT r.value FROM r
        WHERE r.k = l.k AND r.ts <= l.ts
        ORDER BY r.ts DESC, r.seq DESC LIMIT 1
    ) m ON TRUE
    ORDER BY l.k, l.event_id
    """,
)
def q160_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the value of the user's latest prior-or-equal
    purchase (pandas merge_asof semantics). The engine runs the
    union-tag-and-carry-forward shape (operators/asof.py: ONE keyed
    sort, output-sized, never a range join or per-row lateral scan);
    the oracle is the explicit LATERAL latest-prior lookup — the
    hash-match pins inclusive-tie and duplicate-timestamp (seq
    tie-break) semantics."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        (F.col("user_id") % 100).alias("k"),
        "event_id",
        "ts",
        F.round("value", 6).alias("click_value"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 100).alias("k"),
        "ts",
        F.col("event_id").alias("seq"),
        F.round("value", 6).alias("last_purchase_value"),
    )
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_seq="seq", right_vals=["last_purchase_value"],
    )
    return out.select(
        "k", "event_id", "ts", "click_value", "last_purchase_value"
    ).orderBy("k", "event_id")


# --------------------------------------------------------------------------
# q188 — time-decayed engagement aggregates (feature-store verb)
# --------------------------------------------------------------------------
@query(
    "q188_decayed_engagement",
    oracle="""
    WITH tref AS (SELECT MAX(epoch_us(ts)) AS t FROM events),
    aged AS (
        SELECT event_type, value,
               POWER(0.5, FLOOR((t - epoch_us(ts)) / 86400000000.0)) AS decay
        FROM events, tref
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(decay), 6) + 0 AS decayed_count,
           ROUND(SUM(value * decay), 6) + 0 AS decayed_sum,
           ROUND(SUM(value * decay) / SUM(decay), 6) + 0 AS decayed_mean
    FROM aged GROUP BY event_type ORDER BY event_type
    """,
)
def q188_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement per event type (half-life
    one day, reference = newest event): the feature-store recency
    aggregate that weights yesterday's signal half as much as
    today's. Decay factor is 2^(-age_days) with an INTEGER day age —
    pow(0.5, k) returns the exactly-representable power of two on
    both engines (verified 0..69), so the per-row factor is
    bit-identical cross-engine and only the final float sums carry
    last-ULP variance under ROUND(,6) (the avg-aggregate convention).
    One scan, a 1-row max-timestamp scalar broadcast (q102 capacity
    pattern), one map-side-combined rollup."""
    ev = load_table(spark, sf_dir, "events")
    tref = ev.agg(F.max(F.unix_micros("ts")).alias("t"))
    aged = ev.crossJoin(F.broadcast(tref)).select(
        "event_type",
        "value",
        F.pow(
            F.lit(0.5),
            F.floor((F.col("t") - F.unix_micros("ts")) / F.lit(86400000000.0)).cast(
                "double"
            ),
        ).alias("decay"),
    )
    return (
        aged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.round(F.sum("decay"), 6) + F.lit(0.0)).alias("decayed_count"),
            (F.round(F.sum(F.col("value") * F.col("decay")), 6) + F.lit(0.0)).alias(
                "decayed_sum"
            ),
            (
                F.round(
                    F.sum(F.col("value") * F.col("decay")) / F.sum("decay"), 6
                )
                + F.lit(0.0)
            ).alias("decayed_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q189 — per-group linear trend (least squares on exact moments)
# --------------------------------------------------------------------------
@query(
    "q189_trend_lines",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS DECIMAL(19,0)) AS x,
               CAST(value AS DECIMAL(18,2)) AS y
        FROM events
    ),
    mom AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400000000.0, 6) + 0 AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) + 0 AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0 AS r2
    FROM mom ORDER BY event_type
    """,
)
def q189_trend_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time:
    slope (per day), intercept (at the 2024-01-01 origin), and R² —
    the drift-detection regression a metrics pipeline fits per
    series. Inputs cast to DECIMAL (microsecond ints, 2-dp values),
    moments from `exact_moments`, and the closed-form double
    arithmetic mirrored expression-for-expression in both engines, so
    even cancellation-heavy terms are bit-identical. Row-local
    finish."""
    ev = load_table(spark, sf_dir, "events")
    base_us = F.unix_micros(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    base = ev.select(
        "event_type",
        (F.unix_micros("ts") - base_us).cast("decimal(19,0)").alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    mom = exact_moments(base, "event_type")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope_us = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return mom.select(
        "event_type",
        "n",
        (F.round(slope_us * F.lit(86400000000.0), 6) + F.lit(0.0)).alias(
            "slope_per_day"
        ),
        (F.round((sy - slope_us * sx) / n, 6) + F.lit(0.0)).alias("intercept"),
        (
            F.round(
                (n * sxy - sx * sy)
                * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            )
            + F.lit(0.0)
        ).alias("r2"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q216 — id-sequence gap audit (distributed gaps-and-islands)
# --------------------------------------------------------------------------
@query(
    "q216_id_gaps",
    oracle="""
    WITH ids AS (
        SELECT DISTINCT event_id AS id FROM events WHERE event_type = 'purchase'
    ),
    p AS (SELECT id, LEAD(id) OVER (ORDER BY id) AS nxt FROM ids)
    SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - id - 1 AS gap_len
    FROM p WHERE nxt - id > 1
    ORDER BY gap_start
    """,
)
def q216_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands audit over a filtered id stream: every maximal
    missing event_id range inside the purchase-event sequence — the
    continuity check behind "did an ingest drop a batch?" / free-range
    discovery. The DuckDB oracle is the textbook single-sort LEAD; the
    engine side is operators/islands.py's HIERARCHICAL pair detection:
    LEAD partitioned by id div 512 (parallel), bucket-boundary
    successors from the recursively-shrunk bucket summary, and only
    the n/512^3 top relation (< 1 row per 1.3e8 ids) ever sees a
    partitionless sort — the global-sort shape the naive plan would
    put on ONE reducer at 100 TB never appears over data-sized rows.

    Scale shape: one distinct shuffle + per-level keyed windows; the
    two boundary joins are bucket-summary-sized equi-joins
    (GLOBAL_WINDOW_ALLOWED documents the tiny top-level window)."""
    ids = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("id"))
        .distinct()
    )
    return id_gaps(ids, "id").orderBy("gap_start")


# --------------------------------------------------------------------------
# q217 — CUSUM changepoint scan over the daily event-count series
# --------------------------------------------------------------------------
@query(
    "q217_cusum_changepoint",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    m AS (SELECT AVG(CAST(n AS DOUBLE)) AS mu FROM d),
    c AS (
        SELECT day, n,
               SUM(n - m.mu) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_raw
        FROM d, m
    ),
    mx AS (SELECT MAX(ABS(cusum_raw)) AS peak FROM c)
    SELECT c.day, c.n,
           ROUND(c.cusum_raw, 6) + 0 AS cusum,
           CAST(ABS(c.cusum_raw) = mx.peak AS INT) AS is_peak
    FROM c, mx
    ORDER BY c.day
    """,
)
def q217_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan: cumulative sum of (daily count − grand
    mean) over the day series, with the |CUSUM| peak flagged — the
    standard nonparametric single-changepoint locator for "did the
    event rate shift, and when?" (peak day = most likely split point).

    Cross-engine: cusum is ROUND+0 (negative-capable); the peak flag
    compares UNROUNDED |cusum| against the unrounded max so ties are
    engine-identical.

    Scale shape: the day rollup is map-side combinable (365 rows per
    year); the running sum, mean attach, and peak attach all operate
    on that calendar-span-bounded relation (GLOBAL_WINDOW_ALLOWED —
    same precedent as q207; BNLJ_ALLOWED scalar_aggs: 2)."""
    ev = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"))
    d = (
        ev.groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds the mean scalar AND the series
    )
    m = d.agg(F.avg(F.col("n").cast("double")).alias("mu"))
    from pyspark.sql.window import Window as W

    c = (
        d.crossJoin(F.broadcast(m))
        .select(
            "day",
            "n",
            F.sum(F.col("n") - F.col("mu"))
            .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("cusum_raw"),
        )
        .localCheckpoint(eager=False)  # feeds the peak scalar AND the output
    )
    mx = c.agg(F.max(F.abs(F.col("cusum_raw"))).alias("peak"))
    return (
        c.crossJoin(F.broadcast(mx))
        .select(
            "day",
            "n",
            (F.round("cusum_raw", 6) + 0).alias("cusum"),
            (F.abs(F.col("cusum_raw")) == F.col("peak")).cast("int").alias("is_peak"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q227 — trailing 7-day p95 of daily event counts per type (SLA curve)
# --------------------------------------------------------------------------
@query(
    "q227_trailing_p95",
    oracle="""
    WITH d AS (
        SELECT event_type,
               (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, day, n,
               list_sort(LIST(n) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        FROM d
    )
    SELECT event_type, CAST(day AS BIGINT) AS day, n,
           CAST(win[(95 * len(win) + 99) // 100] AS BIGINT) AS p95_7d
    FROM w
    ORDER BY event_type, day
    """,
)
def q227_trailing_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day p95 of the daily event count, per event type —
    the rolling SLA/anomaly-threshold curve. The frame holds ≤ 7
    values, so the percentile is EXACT and engine-portable: collect
    the frame, sort it row-locally, index at the q169 integer rank
    ceil(0.95·n) — no percentile aggregate, no interpolation drift,
    and warm-up days (n < 7) use the same rule over what exists.

    Scale shape: the (type, day) rollup is map-side combinable and
    calendar-bounded; the window is TYPE-partitioned over those
    day rows; the frame sort is over ≤ 7 elements per row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("day"),
    )
    d = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tw = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, W.currentRow)
    win = F.array_sort(F.collect_list("n").over(tw))
    return d.select(
        "event_type",
        "day",
        "n",
        F.element_at(win, ((F.lit(95) * F.size(win) + 99) / 100).cast("int"))
        .cast("long")
        .alias("p95_7d"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# q229 — seasonal decomposition of the daily series (trend + DOW + resid)
# --------------------------------------------------------------------------
@query(
    "q229_seasonal_decompose",
    oracle="""
    WITH d AS (
        SELECT (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT day, n,
               AVG(CAST(n AS DOUBLE)) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
               day % 7 AS dow
        FROM d
    ),
    eff AS (SELECT dow, AVG(n - trend) AS e_raw FROM tr GROUP BY 1),
    ctr AS (SELECT AVG(e_raw) AS bias FROM eff)
    SELECT tr.day, tr.n,
           ROUND(tr.trend, 6) AS trend,
           CAST(tr.dow AS INT) AS dow,
           ROUND(eff.e_raw - ctr.bias, 6) + 0 AS dow_effect,
           ROUND(tr.n - tr.trend - (eff.e_raw - ctr.bias), 6) + 0 AS residual
    FROM tr JOIN eff USING (dow) CROSS JOIN ctr
    ORDER BY tr.day
    """,
)
def q229_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event-count
    series: trend = 7-day CENTERED moving average, day-of-week effect
    = mean detrended value per weekday CENTERED to sum ~0 (so trend
    keeps the level), residual = the rest — the STL-lite anomaly
    baseline ("is Monday low, or is something broken?").

    Scale shape: the day rollup is map-side combinable and
    calendar-bounded; the centered MA window, the 7-row DOW rollup,
    its centering scalar, and the final joins all operate on that
    day-bounded relation (GLOBAL_WINDOW_ALLOWED precedent;
    BNLJ_ALLOWED scalar)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST((unix_micros(ts) - unix_micros(TIMESTAMP '2024-01-01 00:00:00'))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("day")
    )
    d = ev.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tr = d.select(
        "day",
        "n",
        F.avg(F.col("n").cast("double"))
        .over(W.orderBy("day").rowsBetween(-3, 3))
        .alias("trend"),
        (F.col("day") % 7).cast("int").alias("dow"),
    ).localCheckpoint(eager=False)  # feeds the DOW rollup AND the output
    eff = tr.groupBy("dow").agg(F.avg(F.col("n") - F.col("trend")).alias("e_raw"))
    ctr = eff.agg(F.avg("e_raw").alias("bias"))
    e = F.col("e_raw") - F.col("bias")
    return (
        tr.join(eff, "dow")
        .crossJoin(F.broadcast(ctr))
        .select(
            "day",
            "n",
            F.round("trend", 6).alias("trend"),
            "dow",
            (F.round(e, 6) + 0).alias("dow_effect"),
            (F.round(F.col("n") - F.col("trend") - e, 6) + 0).alias("residual"),
        )
        .orderBy("day")
    )


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
# q62 — sliding time windows (the session windows are q63/q232)
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
