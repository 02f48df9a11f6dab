"""Round-11 family: STREAMING corpus refresh (q261–q264) — the
round-10 incremental-refresh capstone (q255–q260) driven through the
Structured Streaming micro-batch path (streaming/refresh.py), proving
the engine's batch and streaming answers EQUAL on its flagship
composition, the way q232 proved streaming session windows against
batch q63.

The arriving half lands as K=4 doc_id-ordered micro-batches (file
source, mtime-ordered, maxFilesPerTrigger=1) and each passes q255's
admission funnel with cross-batch state threaded through the loop:
seen-texts (the exact-text analog of q109's NearDupIndex.add), the
static standing kept corpus, the refresh-fixed benchmark-gram set,
and the ONE-integer packing offset. Because the batches partition the
arrival in doc_id order, every per-doc verdict and every packing slot
is provably identical to the one-shot plan's — so all four queries
hash-check against the SAME DuckDB refresh CTE the batch family
grades against (plus a deterministic replay of the batch split for
the keys that expose batch_id). There is no weaker "rows-only because
streaming" escape hatch here: the drain's parquet sink is a plain
relation and the oracle replays all of it.

Scale shape at 100 TB: one drain per (session, corpus) — all four
queries read the same session-cached sink relation; per-batch cost is
batch-sized windows + the irreducible batch x kept equi-join + a
bounded gram broadcast (see streaming/refresh.py's module docstring);
the final queries are rollups/projections of the sink with at most a
1-row scalar attach (q264, BNLJ_ALLOWED).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.plans.registry import query
from tp_integ_data_pipeline_spark.plans.round10_queries import (
    _ADMIT_IDX,
    _CARRY_ORACLE,
    _MIXTURE_ORACLE,
    _PACK_BUDGET,
    _R_FLAGS,
    _R_STAGE_LIST_SQL,
    _R_STAGES,
    _REFRESH_SQL,
    _RETRO_ORACLE,
    _carry_report,
    _exist_kept,
    _mixture_report,
    _retro_contam_report,
)
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_N_BATCHES = 4

# Deterministic replay of the staged batch assignment: contiguous
# equal-count split over doc_id order — the same ((rn-1)*K) div n + 1
# expression streaming/refresh.py's split_arrival stages with.
_RBATCH_SQL = f"""
    rbatch AS (
        SELECT doc_id,
               CAST((ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
                    * {_N_BATCHES} // (COUNT(*) OVER ()) AS INTEGER) + 1
                   AS batch_id
        FROM rw, rmid WHERE doc_id >= m
    )
"""


def _stream_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached streamed refresh relation: ONE micro-batch drain
    per (session, corpus) — q261–q264 all read the same sink (the
    q248-family shared-prework discipline applied to a stream)."""
    from tp_integ_data_pipeline_spark.plans.session_cache import session_cached
    from tp_integ_data_pipeline_spark.streaming.refresh import (
        stream_refresh_admission,
    )

    def build() -> DataFrame:
        # no corpus-scan spread: the drain widens each staged batch
        # itself (refresh._spread_batch), and at local[4], sf0.1 q261
        # ran faster without it (5.2 vs 5.7 s, min of 3)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        return stream_refresh_admission(
            spark,
            docs,
            _exist_kept(spark, sf_dir),
            n_batches=_N_BATCHES,
            cache_key=sf_dir,
        ).localCheckpoint(eager=False)

    return session_cached(spark, "stream_refresh", (sf_dir,), build)


# --------------------------------------------------------------------------
# q261 — streamed per-doc admission provenance (== q255 + batch_id)
# --------------------------------------------------------------------------
@query(
    "q261_stream_admission",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_RBATCH_SQL}
    SELECT r.doc_id, r.source, b.batch_id, r.stage_idx,
           ({_R_STAGE_LIST_SQL})[r.stage_idx] AS stage,
           CAST(dup_batch AS INTEGER) AS f_dup_batch,
           CAST(dup_corpus AS INTEGER) AS f_dup_corpus,
           CAST(too_short AS INTEGER) AS f_short,
           CAST(low_quality AS INTEGER) AS f_quality,
           CAST(contaminated AS INTEGER) AS f_contam,
           CAST(stage_idx = {_ADMIT_IDX} AS INTEGER) AS admitted
    FROM radm r JOIN rbatch b USING (doc_id)
    ORDER BY doc_id
    """,
)
def q261_stream_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q255's per-document admission record as the STREAM produced it,
    batch by batch — plus which micro-batch carried the doc. The
    oracle is q255's one-shot refresh CTE joined to the deterministic
    batch-split replay: a full hash match here IS the batch-parity
    proof, per row, for every verdict flag and the first-fail stage.
    Pure projection of the shared drained sink."""
    sr = _stream_refresh(spark, sf_dir)
    flags = [F.col(src).cast("int").alias(dst) for src, dst in _R_FLAGS]
    return sr.select(
        "doc_id",
        "source",
        "batch_id",
        "stage_idx",
        F.element_at(
            F.array(*[F.lit(s) for s in _R_STAGES]), F.col("stage_idx")
        ).alias("stage"),
        *flags,
        (F.col("stage_idx") == _ADMIT_IDX).cast("int").alias("admitted"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q262 — per-micro-batch loss waterfall (stage-stable K x 7 grid)
# --------------------------------------------------------------------------
@query(
    "q262_stream_batch_waterfall",
    oracle=f"""
    WITH {_REFRESH_SQL},
    {_RBATCH_SQL},
    dim AS (
        SELECT CAST(b.b AS INTEGER) AS batch_id, CAST(s.s AS INTEGER) AS stage_idx
        FROM (SELECT unnest(generate_series(1, {_N_BATCHES})) AS b) b,
             (SELECT unnest(generate_series(1, 7)) AS s) s
    ),
    cells AS (
        SELECT batch_id, stage_idx,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens
        FROM radm JOIN rbatch USING (doc_id)
        GROUP BY batch_id, stage_idx
    )
    SELECT d.batch_id, d.stage_idx,
           ({_R_STAGE_LIST_SQL})[d.stage_idx] AS stage,
           COALESCE(n_docs, 0) AS n_docs,
           COALESCE(n_tokens, 0) AS n_tokens
    FROM dim d LEFT JOIN cells USING (batch_id, stage_idx)
    ORDER BY batch_id, stage_idx
    """,
)
def q262_stream_batch_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q258 batch waterfall with the micro-batch dimension kept:
    per (batch, stage) doc and token counts — the per-trigger
    telemetry a streaming refresh emits so drift in ONE batch is
    visible before the refresh completes (q254's alarm at trigger
    granularity). Stage-stable from birth over the constant K x 7
    grid (the r10 pattern: both dimensions are code constants,
    exploded row-locally off the totals row — zero-drop cells at 0,
    no BNLJ, no join against data to densify)."""
    sr = _stream_refresh(spark, sf_dir)
    tot = sr.agg(F.count(F.lit(1)).alias("_c"))
    grid = (
        tot.select(
            F.explode(
                F.array(*[F.lit(b) for b in range(1, _N_BATCHES + 1)])
            ).alias("batch_id")
        )
        .select(
            "batch_id",
            F.explode(F.array(*[F.lit(s) for s in range(1, 8)])).alias(
                "stage_idx"
            ),
        )
    )
    cells = sr.groupBy("batch_id", "stage_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )
    return (
        grid.join(cells, ["batch_id", "stage_idx"], "left")
        .select(
            "batch_id",
            "stage_idx",
            F.element_at(
                F.array(*[F.lit(s) for s in _R_STAGES]), F.col("stage_idx")
            ).alias("stage"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
        .orderBy("batch_id", "stage_idx")
    )


# --------------------------------------------------------------------------
# q263 — streamed packing layout (== one-shot q257, bit for bit)
# --------------------------------------------------------------------------
@query(
    "q263_stream_packing",
    oracle=f"""
    WITH {_REFRESH_SQL},
    adm2 AS (
        SELECT doc_id, n_words FROM radm WHERE stage_idx = {_ADMIT_IDX}
    ),
    off0 AS (
        SELECT CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS o FROM rkept
    ),
    c AS (
        SELECT doc_id, n_words,
               CAST(COALESCE(SUM(n_words) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
        FROM adm2
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_tokens,
           CAST((o + cb) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST((o + cb) % {_PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM c, off0
    ORDER BY doc_id
    """,
)
def q263_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing slots the STREAM assigned — each micro-batch packed
    its admitted docs continuing from the carried offset (ONE integer
    of state per batch, operators/packing.py's incremental contract),
    and the result must be BIT-identical to one-shot q257: same
    oracle, same columns, zero tolerance. This is the continuation
    property test (test_round10_ops) promoted to an end-to-end
    hash-checked query through real streaming machinery. Projection
    of the shared drained sink; the packing arithmetic already
    happened per batch, inside the drain."""
    sr = _stream_refresh(spark, sf_dir)
    return (
        sr.filter(F.col("stage_idx") == _ADMIT_IDX)
        .select("doc_id", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q264 — streamed carry-state row (== one-shot q259)
# --------------------------------------------------------------------------
@query("q264_stream_carry_state", oracle=_CARRY_ORACLE)
def q264_stream_carry_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q259's bookkeeping row recomputed from what the STREAM emitted:
    the drained sink's verdicts must aggregate to the exact carry
    state the one-shot plan hands refresh N+1 (all-integer — the hash
    check needs no float convention). Equality here is what makes the
    streaming path a drop-in for the batch refresh: tomorrow's run
    cannot tell which one produced today's corpus. Shared
    _carry_report (q259's exact definition and oracle), fed the
    streamed sink instead of the live admission plan."""
    return _carry_report(
        _exist_kept(spark, sf_dir), _stream_refresh(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# q265 — mixture rebalance from the streamed sink (== one-shot q256)
# --------------------------------------------------------------------------
@query("q265_stream_mixture", oracle=_MIXTURE_ORACLE)
def q265_stream_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q256's post-refresh rebalance report computed from what the
    STREAM admitted — q256's exact oracle, zero tolerance. q261 proves
    the per-row verdicts equal; this closes the loop one level up: the
    drained sink is a DROP-IN input for the downstream report a
    standing pipeline actually consumes (the rebalance reads the
    refresh record, not the live plan), so the report cannot tell
    which path ran the refresh. Shared _mixture_report downstream
    (round10_queries) — one definition for both engines' inputs."""
    kept = _exist_kept(spark, sf_dir)
    sr = _stream_refresh(spark, sf_dir)
    return _mixture_report(
        kept, sr.filter(F.col("stage_idx") == _ADMIT_IDX).select("source")
    )


# --------------------------------------------------------------------------
# q266 — retro-contamination sweep driven by the streamed sink (== q260)
# --------------------------------------------------------------------------
@query("q266_stream_retro_contam", oracle=_RETRO_ORACLE)
def q266_stream_retro_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q260's retroactive decontamination audit with the NEW bench
    docs identified from the STREAM's own verdicts (stage_idx = 1
    rows joined back to the corpus for text) instead of re-deriving
    the suite slice — q260's exact oracle. This is the operational
    form: the post-refresh auditor reads the refresh record to learn
    which eval docs arrived, then sweeps yesterday's kept corpus with
    their grams. Hash equality proves the sink's bench-holdout rows
    are a complete, exact record of the suite growth. Shared
    _retro_contam_report downstream (round10_queries)."""
    kept = _exist_kept(spark, sf_dir)
    sr = _stream_refresh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_bench = (
        sr.filter(F.col("stage_idx") == 1)
        .select("doc_id")
        .join(docs, "doc_id")
        .select(F.split("text", " ").alias("w"))
    )
    return _retro_contam_report(kept, new_bench)
