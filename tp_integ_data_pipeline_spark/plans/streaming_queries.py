"""Structured Streaming queries (SURVEY.md §2.7 T1-T5).

These run REAL streaming plans (file micro-batch source → stateful
operators → memory sink, availableNow trigger) synchronously and
return the final result table, so the driver's batch-style compare
still applies. The events file is staged into a temp dir because the
fixture dir mixes all tables. The one batch query here, q63's
session_window, sits beside its streaming twin q232: both answer to
one oracle.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.plans.relational import dsum_sql
from tp_integ_data_pipeline_spark.plans.session_cache import per_session
from tp_integ_data_pipeline_spark.sources.fixtures import file_schema, load_table, scratch_dir
from tp_integ_data_pipeline_spark.streaming.ingest import run_stream_to_memory


def _normalize_ts(stream: DataFrame) -> DataFrame:
    """Same ts normalization as the batch loader (sources/fixtures.py):
    ns-as-long → µs instant, or (newer Spark) NTZ → instant — watermarks
    require TimestampType, so streams must normalize too."""
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """The events fixture's file schema, from the batch loader's memo:
    every staged copy (and the sentinel-carrying rewrite, whose columns
    are the fixture's own) is read with it, so staging infers nothing."""
    return file_schema(spark, f"{sf_dir}/events.parquet")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture with the same ns→µs
    timestamp normalization as the batch loader."""
    staging = scratch_dir(prefix="events_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(staging, "events.parquet"))
    stream = spark.readStream.schema(_events_schema(spark, sf_dir)).parquet(staging)
    return _normalize_ts(stream)


@query(
    "q60_stream_tumbling_window",
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
def q60_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T4: micro-batch tumbling-window aggregation. Complete output
    mode + availableNow ≙ drain-everything batch parity."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )
    out = run_stream_to_memory(agg, f"q60_out_{uuid.uuid4().hex[:8]}", "complete")
    return out.orderBy("win_start", "event_type")


@query(
    "q61_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_distinct_users
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY 1
    ORDER BY 1
    """,
)
def q61_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T5: stateful streaming dedup (dropDuplicates state across
    micro-batches) feeding a running aggregation."""
    stream = _events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_distinct_users"))
    out = run_stream_to_memory(agg, f"q61_out_{uuid.uuid4().hex[:8]}", "complete")
    return out.orderBy("event_type")


@query(
    "q89_stream_late_dedup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value', 2)} AS total_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q89_stream_late_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 under late duplicate delivery: the staging dir holds the
    events file PLUS a re-delivery file duplicating a 10% sample;
    maxFilesPerTrigger=1 splits them into separate micro-batches, so
    the duplicates arrive late — after the watermark advanced past
    their event times. ``dropDuplicatesWithinWatermark`` keys on
    event_id with a 35-day delay (covers the fixture's 30-day span, so
    every duplicate lands within state lifetime and is dropped;
    state stays bounded by watermark eviction beyond the span — the
    generalization of the reference's duplicate-poll suppression,
    main.py:101-107). The streamed result must equal the plain batch
    aggregation over the original events (the oracle)."""
    staging = scratch_dir(prefix="events_late_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(staging, "a_events.parquet"))
    raw = spark.read.schema(_events_schema(spark, sf_dir)).parquet(staging)
    dup_tmp = scratch_dir(prefix="events_dup_")
    raw.filter(F.col("event_id") % 10 == 0).coalesce(1).write.mode("overwrite").parquet(dup_tmp)
    part = next(f for f in os.listdir(dup_tmp) if f.endswith(".parquet"))
    shutil.copy(os.path.join(dup_tmp, part), os.path.join(staging, "z_redelivery.parquet"))

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    stream = _normalize_ts(stream)
    deduped = stream.withWatermark("ts", "35 days").dropDuplicatesWithinWatermark(["event_id"])
    out = run_stream_to_memory(
        deduped.select("event_id", "event_type", "value"),
        f"q89_out_{uuid.uuid4().hex[:8]}",
        "append",
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    ).orderBy("event_type")


@query(
    "q91_stream_stream_join",
    oracle=f"""
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT c_user) AS n_users,
           {dsum_sql('c_value', 2)} AS click_value
    FROM (
        SELECT c.user_id AS c_user, c.value AS c_value
        FROM events c JOIN events v
          ON c.user_id = v.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    )
    """,
)
def q91_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition and
    watermarks on BOTH sides — the condition bounds join state (each
    side can discard rows once the other side's watermark passes
    ts + 30 min), which is what keeps state finite on an unbounded
    100 TB/day stream. Append-mode pairs land in the memory sink and a
    batch aggregation summarizes them (same sink pattern as q89)."""
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value"))
        .withWatermark("c_ts", "1 hour")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = run_stream_to_memory(
        joined.select("user_id", "c_value"), f"q91_out_{uuid.uuid4().hex[:8]}", "append"
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("c_value").cast("decimal(18,2)")).cast("double").alias("click_value"),
    )


@query(
    "q64_stateful_counter",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q64_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 extension: custom stateful operator (applyInPandasWithState)
    — per-user running counters in the state store. The fixture is one
    file → one micro-batch, so the update-mode sink holds exactly the
    final state per key (multi-batch state carry is covered in
    tests/test_streaming.py)."""
    from tp_integ_data_pipeline_spark.streaming.stateful import stateful_user_counter

    stream = _events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        stateful_user_counter(stream), f"q64_out_{uuid.uuid4().hex[:8]}", "update"
    )
    return out.orderBy("user_id")


@query(
    "q68_continuous_rollup",
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
def q68_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: streaming maintenance
    merge-adds per-batch partials into a rollup table; the final rollup
    must equal the direct batch aggregation (the oracle)."""
    from tp_integ_data_pipeline_spark.streaming.rollup import (
        read_rollup,
        start_rollup_maintenance,
    )

    stream = _events_stream(spark, sf_dir)
    rollup_path = scratch_dir(prefix="rollup_q68_")
    q = start_rollup_maintenance(spark, stream, rollup_path)
    q.awaitTermination()
    return read_rollup(spark, rollup_path).orderBy("win_start", "event_type")


# Rows-only by design: a finite run's null-emission set depends on
# how far the final no-data micro-batches advance the watermark —
# measured to vary by a few boundary rows between otherwise identical
# runs, so no batch SQL reproduces it exactly. The SEMANTICS (matches
# emitted, provably-expired clicks null-emitted, in-horizon clicks
# withheld) are locked by tests/test_streaming.py::
# test_stream_left_outer_join_semantics on constructed timestamps.
@query("q122_stream_left_outer_join")
def q122_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks pair with a preceding view
    within 30 min; clicks with NO such view are emitted null-padded —
    but only once the watermark proves no matching view can still
    arrive (state eviction), which is the semantics that keeps outer
    state finite on an unbounded stream. The batch summary counts only
    rows ≥ 3 h below the last click: every unmatched click there is
    past its eviction point (watermark 1 h + join range 30 min +
    margin), excluding the boundary region where emission timing is
    engine-internal."""
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value"))
        .withWatermark("c_ts", "1 hour")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    out = run_stream_to_memory(
        joined.select("user_id", "c_ts", "c_value", "v_ts"),
        f"q122_out_{uuid.uuid4().hex[:8]}",
        "append",
    )
    # Cutoff anchored on the CLICK side's max — present identically in
    # the sink (every click row appears, matched or null) and in the
    # oracle's events table, unlike the global stream max (the sink
    # never sees views that matched nothing). Still safely below the
    # engine's emission boundary: global max ≥ click max, so the
    # boundary sits ≥ 1.5 h above this cutoff.
    cut = out.agg((F.max("c_ts") - F.expr("INTERVAL 3 HOURS")).alias("cut"))
    return (
        out.crossJoin(F.broadcast(cut))
        .filter(F.col("c_ts") < F.col("cut"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("v_ts").isNull(), 1)).alias("n_unmatched"),
            F.sum(F.col("c_value").cast("decimal(18,2)")).cast("double").alias("click_value"),
        )
    )


@query(
    "q143_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           {dsum_sql('e.value', 2)} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q143_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events micro-batch stream
    inner-joins the static customer dimension (broadcast — the
    canonical dim-table shape: the static side is planned per
    micro-batch with NO stream state, unlike stream-stream joins) and
    rolls up per (segment, event type). availableNow + complete mode
    drains to a deterministic table, so the batch SQL oracle applies
    exactly. At scale the static side is the broadcast-gated dim
    (operators/joins.maybe_broadcast's stats gate would degrade it to
    SMJ past the threshold)."""
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    stream = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.join(F.broadcast(cust), "user_id")
    agg = (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    out = run_stream_to_memory(agg, f"q143_out_{uuid.uuid4().hex[:8]}", "complete")
    return out.orderBy("c_mktsegment", "event_type")


@per_session
def _flush_staging(spark: SparkSession, sf_dir: str) -> str:
    """Staging dir of the flushed events stream: the fixture is
    staged as TWO mtime-ordered top-level files consumed with
    maxFilesPerTrigger=1 — file 1 is the real data PLUS far-future
    sentinel 1 (user_id −1, event_type '__flush', +1 day past the real
    max), file 2 is sentinel 2 (+2 days). The watermark for a batch is
    computed from the data of the batches BEFORE it, so after batch 1
    the watermark sits a day past the real data, and batch 2 (sentinel
    2) runs WITH that watermark and emits every real window — no
    reliance on a trailing no-data batch, which an availableNow drain
    does not get. Round 16: sentinel 1 rides in the real file (it used
    to be its own third file/trigger — one whole micro-batch of
    offset-WAL/state-commit machinery per streaming query for zero
    semantic effect: emitted row SETS are identical, only which batch
    emits them shifts, and the sink is order-insensitive; guide §1
    measure-first profile showed 0.4–0.7 s fixed cost per trigger).
    Gotchas baked in: the file source neither recurses into Spark
    write DIRECTORIES (part files are promoted to plain top-level
    files) nor orders equal-mtime files (the real data is ONE staged
    file so an out-of-order first batch can't mark the rest late).
    The staged data and sentinels are pure functions of the fixture
    dir, so q232, q235 and q236 share one staging per session."""
    import glob as _glob
    import time

    schema = _events_schema(spark, sf_dir)
    staging = scratch_dir(prefix="events_flush_")
    src = f"{sf_dir}/events.parquet"
    now = time.time()
    src_raw = spark.read.schema(schema).parquet(src)
    ts_type = dict(src_raw.dtypes)["ts"]  # TIMESTAMP(NANOS): ns-long or NTZ
    mx = src_raw.agg(F.max("ts").alias("ts"))

    def sentinel(i: int) -> DataFrame:
        shifted = (
            F.col("ts") + F.lit(i * 86_400_000_000_000)
            if ts_type == "bigint"
            else F.expr(f"ts + INTERVAL {i} DAY")
        )
        return mx.select(
            F.lit(-i).cast("long").alias("event_id"),
            shifted.alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("__flush").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )

    # file 1: real events + sentinel 1 (same batch — the watermark a
    # batch ADVANCES is computed at batch end, so riding along is
    # equivalent to arriving one batch later, minus a whole trigger)
    tmp0 = scratch_dir(prefix="flush_real_")
    src_raw.unionByName(sentinel(1)).coalesce(1).write.mode("overwrite").parquet(tmp0)
    real = os.path.join(staging, "aa_events.parquet")
    shutil.move(_glob.glob(os.path.join(tmp0, "*.parquet"))[0], real)
    os.utime(real, (now - 100, now - 100))
    # file 2: sentinel 2 — its batch runs with the day-ahead watermark
    tmp = scratch_dir(prefix="flush_sent2_")
    sentinel(2).coalesce(1).write.mode("overwrite").parquet(tmp)
    flush = os.path.join(staging, "zz_flush2.parquet")
    shutil.move(_glob.glob(os.path.join(tmp, "*.parquet"))[0], flush)
    os.utime(flush, (now + 2, now + 2))
    return staging


def _flushed_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events file stream whose final windows FLUSH, read from the
    session's `_flush_staging` dir. Callers exclude the sentinels
    (user_id < 0 / '__flush')."""
    return _normalize_ts(
        spark.readStream.schema(_events_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(_flush_staging(spark, sf_dir))
    )


# --------------------------------------------------------------------------
# q63/q232 — session windows (10-minute gap), batch and streaming: one
# gap-island oracle for both
# --------------------------------------------------------------------------
_SESSION_WINDOW_SQL = """
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
    """


@query("q63_session_window", oracle=_SESSION_WINDOW_SQL)
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


@query("q232_stream_session_window", oracle=_SESSION_WINDOW_SQL)
def q232_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T5: STREAMING session windows (10-minute gap) with watermarked
    append output — the stateful window kind whose state merges as
    sessions coalesce. Append mode only emits a session once the
    watermark PROVES it closed, so a drained finite stream would
    normally withhold every session near the stream end; the harness
    closes them exactly by staging TWO far-future SENTINEL events
    (files 2 and 3, forced to process after the real file — and after
    each other — via mtime ordering + maxFilesPerTrigger=1). Sentinel
    1 advances the watermark a day past the real data at its batch
    END; sentinel 2's batch then runs WITH that watermark and emits
    the last real sessions — no reliance on a trailing no-data batch,
    which this availableNow drain does not get. Result: byte-identical
    to the batch-native session_window (q63) and to the oracle's
    gap-island SQL — streaming session semantics inside the
    hash-checked gate, not just a rows-only smoke."""
    stream = _flushed_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    out = run_stream_to_memory(agg, f"q232_out_{uuid.uuid4().hex[:8]}", "append")
    return out.where(F.col("user_id") >= 0).orderBy("user_id", "session_start")


@query(
    "q235_stream_tumbling_append",
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
def q235_stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T4 in the PRODUCTION output mode: watermarked tumbling
    windows with APPEND output — unlike q60's complete mode (which
    re-emits the whole result and keeps all state forever), append
    emits each window exactly once when the watermark closes it and
    EVICTS its state, the only shape that survives an unbounded
    stream. The sentinel flush (_flushed_events_stream) closes the
    tail windows, so the drained append output equals the batch
    aggregation byte-for-byte; the sentinel's own '__flush' window is
    excluded from the result."""
    stream = _flushed_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )
    out = run_stream_to_memory(agg, f"q235_out_{uuid.uuid4().hex[:8]}", "append")
    return out.where(F.col("event_type") != "__flush").orderBy(
        "win_start", "event_type"
    )


@query(
    "q236_stream_sliding_append",
    oracle=f"""
    SELECT win_start, event_type, COUNT(*) AS n,
           {dsum_sql('value', 2)} AS total_value
    FROM (
        SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
                       time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes'])
                   AS win_start,
               event_type, value
        FROM events
    )
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q236_stream_sliding_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermarked SLIDING windows (30 min / 15 min hop, each
    event in two windows) with append output + state eviction — the
    overlapping-window complement to q235; the oracle expands each
    event into its two window starts. Sentinel flush closes the tail
    windows; '__flush' windows excluded."""
    stream = _flushed_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )
    out = run_stream_to_memory(agg, f"q236_out_{uuid.uuid4().hex[:8]}", "append")
    return out.where(F.col("event_type") != "__flush").orderBy(
        "win_start", "event_type"
    )
