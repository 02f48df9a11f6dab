"""Streaming corpus refresh: q255's admission funnel driven through
the T1 micro-batch path (streaming/ingest.py's foreachBatch loop), so
the round-10 refresh capstone's batch and streaming answers are proven
EQUAL — the q232 discipline (streaming session windows vs batch q63)
applied to the engine's own flagship composition.

The reference's operating mode is a periodic re-run (main.py:80-114
re-fetches and inserts only unseen rows); the batch capstone
(plans/round10_queries.q255-q260) expresses one refresh as ONE lazy
plan. This module is the third form: the arriving half lands as K
doc_id-ordered micro-batches (file source, mtime-ordered,
maxFilesPerTrigger=1 — the q232 staging recipe) and each batch passes
the SAME admission funnel with the cross-batch state threaded through
the loop:

1. seen-texts state — the exact-text analog of NearDupIndex.add
   (q109's ingest path maintains a MinHash index; q255's funnel is
   exact-text, so the ingest-time index is simply the distinct texts
   that already arrived). A doc whose text appeared in an EARLIER
   micro-batch is dup_in_batch, exactly as the one-shot window's
   rn > 1 says it must be; within a micro-batch the same window rule
   applies locally. doc_id-ordered batches make the two views agree.
2. the standing kept corpus — static for the whole refresh (in
   production: the lake table), probed per batch with the one
   irreducible text-keyed equi-join.
3. the benchmark-gram set — fixed when the refresh begins (the suite
   for refresh N is published before admission starts; old + new
   bench docs are both in the arrival manifest), broadcast per batch.
4. the packing offset — ONE integer carried batch to batch
   (operators/packing.py's incremental contract): each batch packs
   its admitted docs continuing from the running total, so the
   streamed layout is bit-identical to one-shot q257.

Parity argument: stage flags are row-local or joins against state
that, at each doc's batch, equals exactly "everything with a smaller
doc_id" (seen texts) or "the standing corpus" (static) — the same
predicates the one-shot plan evaluates. Packing order = (batch asc,
doc_id asc) = global doc_id order. Hence every output row matches the
batch capstone's, and q261-q264's oracles are the SAME DuckDB refresh
CTE the batch family grades against.

Driver-side state is bounded and documented: the token offset (one
integer), the per-batch admitted-token sum (one scalar per batch),
and the seen-texts relation (eagerly checkpointed per batch — bounded
by the arriving batch, never the corpus). foreachBatch is the
imperative seam of Structured Streaming; these scalars are the same
kind dedup_ingest_batch's stats counters already are.

Scale shape at 100 TB: per micro-batch cost is (batch-sized window) +
(batch x kept equi-join, shuffle bounded by batch side after the
kept side is storage-backed) + (bounded gram broadcast) — nothing
corpus-quadratic; the staging global row_number is TEST HARNESS only
(real deployments' batches arrive pre-split; the splitter exists so
DuckDB can replay the batch assignment deterministically).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.plans.curation import (
    MEAN_WORDLEN_HI,
    MEAN_WORDLEN_LO,
    MIN_DISTINCT_RATIO,
    MIN_WORDS,
    PACK_BUDGET,
    bounded_bench_grams,
    word_ngrams,
)
from tp_integ_data_pipeline_spark.sources.fixtures import scratch_dir

# Staged arrival dirs reused across queries in-process (the q232
# staging-cache pattern). CONTRACT: a cache_key must fully determine
# the staged CONTENT — callers key by the fixture dir, whose `arriving`
# derivation is fixed (the doc_id >= max div 2 split); a caller staging
# a DIFFERENT relation must use a different key (or None to bypass).
# stream_refresh_admission ENFORCES this: an explicit `arriving`
# override rejects cache_key outright (r12 advice), since the key
# cannot know what relation it would alias.
_ARRIVAL_STAGING_CACHE: dict[tuple[str, int], str] = {}

# Micro-batch spread width (see admit_batch): fixed, widen-only. The
# drain's outputs are integer/boolean relations, so unlike the corpus
# scan spread there is no float-fold layout contract to pin — the
# constant only keeps task counts bounded and runs comparable.
_BATCH_SPREAD = 8


def _spread_batch(bdf: DataFrame) -> DataFrame:
    """Widen-only micro-batch spread: a staged batch is ONE file → a
    single-partition DataFrame, so the funnel's heavy row-local work
    (the 8-gram explode feeding the contamination semi-join) would run
    serially regardless of core count — the same unsplittable-input
    shape as the corpus scan spread (guide §2.5), fixed the same way.
    A production batch already spanning many source partitions is left
    alone. Every sink column is integer/boolean-derived, so the layout
    cannot perturb any graded value."""
    if bdf.rdd.getNumPartitions() < _BATCH_SPREAD:
        return bdf.repartition(_BATCH_SPREAD)
    return bdf

# Drain-owned per-epoch commit marker, written by admit_batch AFTER the
# epoch's parquet job committed and checked by recover_drain_state. The
# Hadoop committer's _SUCCESS file is NOT used as the commit signal: it
# exists only while mapreduce.fileoutputcommitter.marksuccessfuljobs
# stays at its default, which object-store committers commonly disable
# — and a restart that misclassified committed epochs as uncommitted
# would reset the offset while Structured Streaming's checkpoint still
# skips those triggers, packing every later batch at the wrong offset
# (r12 advice). A leading underscore keeps Spark's parquet reader from
# treating the marker as data.
_COMMIT_MARKER = "_DRAIN_COMMITTED"


def split_arrival(arriving: DataFrame, n_batches: int, order_col: str = "doc_id") -> DataFrame:
    """Adds ``batch_id`` (1..n_batches) by the contiguous equal-count
    split batch = ((rn-1)*K) div n + 1 over ascending ``order_col`` —
    an explicit formula (not ntile) so DuckDB replays the assignment
    with the identical expression. Staging-only global window: this
    runs once, on the arrival manifest, to fabricate the batch
    boundaries a real deployment gets for free."""
    rn = F.row_number().over(W.orderBy(order_col))
    n = arriving.agg(F.count(F.lit(1)).alias("_n"))
    return (
        arriving.withColumn("_rn", rn)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "batch_id",
            F.expr(f"(_rn - 1) * {n_batches} div _n").cast("int") + F.lit(1),
        )
        .drop("_rn", "_n")
    )


def stage_arrival(
    arriving: DataFrame,
    n_batches: int,
    cache_key: str | None = None,
) -> str:
    """Writes each batch_id slice of ``arriving`` (already split) to
    its own TOP-LEVEL parquet file with strictly ascending mtimes, so
    a maxFilesPerTrigger=1 file stream delivers the batches in order
    (the q232 gotchas baked in: part files promoted out of Spark write
    directories; distinct mtimes because the source does not order
    equal-mtime files). Returns the staging dir."""
    key = (cache_key, n_batches)
    if cache_key is not None and key in _ARRIVAL_STAGING_CACHE:
        return _ARRIVAL_STAGING_CACHE[key]
    staging = scratch_dir(prefix="refresh_arrival_")
    now = time.time()
    arriving = arriving.localCheckpoint(eager=False)
    for b in range(1, n_batches + 1):
        tmp = scratch_dir(prefix=f"refresh_b{b}_")
        part_df = arriving.filter(F.col("batch_id") == b).coalesce(1)
        part_df.write.mode("overwrite").parquet(tmp)
        parts = glob.glob(os.path.join(tmp, "*.parquet"))
        if not parts:  # empty batch (arrival smaller than K): skip file
            continue
        dst = os.path.join(staging, f"batch{b:04d}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (now - 100 + b, now - 100 + b))
    if cache_key is not None:
        _ARRIVAL_STAGING_CACHE[key] = staging
    return staging


# The drain sink's data columns, in write order. The read-back selects
# exactly these — never "everything minus the partition column" — so a
# future data column named like the partition dir cannot be silently
# dropped, and the partition-discovery `epoch` column never leaks into
# callers' schemas.
SINK_COLS = [
    "doc_id",
    "source",
    "n_words",
    "is_bench",
    "dup_batch",
    "dup_corpus",
    "too_short",
    "low_quality",
    "contaminated",
    "stage_idx",
    "batch_id",
    "n_tokens",
    "seq_id",
    "seq_offset",
]


def recover_drain_state(
    spark: SparkSession, sink: str, staging: str, tokens_before: int
) -> dict:
    """Rebuilds the drain's cross-batch state from the sink — the
    recovery a driver RESTART needs (the in-process epoch guard alone
    only covers same-run redelivery). An epoch counts as committed iff
    its partition carries the DRAIN-OWNED ``_DRAIN_COMMITTED`` marker,
    which admit_batch writes only after the epoch's parquet job
    committed — deliberately NOT the Hadoop committer's ``_SUCCESS``
    file, whose presence depends on a foreign config (see
    _COMMIT_MARKER). The marker is the durable commit point, so a
    crash at ANY point yields: marker present → replay skipped,
    partition is the complete single-delivery answer; marker absent
    (even with a fully written partition) → partition ignored here and
    recomputed-then-overwritten by the replay, which also rewrites the
    marker because overwrite mode clears the epoch dir first.

    Recovered state: ``offset`` = tokens_before + the committed
    partitions' admitted-token sum; ``seen`` = the non-bench texts of
    the staged batches those partitions cover (the staging files keep
    ``batch_id``, and each epoch drains exactly one staged batch);
    ``last_epoch`` = max committed epoch. Costs one bounded scan of
    the (batch-sized) sink and staging — never the corpus."""
    epoch_dirs = {
        int(os.path.basename(d).split("=")[1]): d
        for d in glob.glob(os.path.join(sink, "epoch=*"))
    }
    committed = sorted(
        e for e, d in epoch_dirs.items()
        if os.path.exists(os.path.join(d, _COMMIT_MARKER))
    )
    # Marker-migration guard (r13 ADVICE): a sink written by PRE-marker
    # code has _SUCCESS everywhere and _DRAIN_COMMITTED nowhere —
    # silently classifying those epochs as uncommitted would reset the
    # offset while the streaming checkpoint still skips their triggers,
    # packing every later batch at the wrong seq_id/seq_offset. But ONE
    # trailing _SUCCESS-no-marker epoch is the NORMAL crash window
    # (killed after the parquet job committed, before the marker write
    # — test_round13_ops kills there on purpose) and must recover by
    # recompute-and-overwrite. Epochs drain sequentially, so legitimacy
    # is structural: fail loudly iff more than one unmarked-_SUCCESS
    # epoch exists, or one sits at/below the marker high-water mark.
    legacy = sorted(
        e for e, d in epoch_dirs.items()
        if os.path.exists(os.path.join(d, "_SUCCESS"))
        and not os.path.exists(os.path.join(d, _COMMIT_MARKER))
    )
    hwm = committed[-1] if committed else -1
    if len(legacy) > 1 or (legacy and legacy[0] <= hwm):
        raise RuntimeError(
            f"sink {sink} looks written by pre-_DRAIN_COMMITTED code: "
            f"epochs {legacy} have _SUCCESS but no {_COMMIT_MARKER} "
            f"(marker high-water {hwm}). Refusing to resume — replaying "
            "would repack at wrong offsets. Migrate by touching "
            f"{_COMMIT_MARKER} in each fully-committed epoch dir, or "
            "start a fresh sink."
        )
    if not committed:
        return {
            "seen": spark.createDataFrame([], "text string"),
            "offset": tokens_before,
            "last_epoch": -1,
        }
    done = spark.read.option("basePath", sink).parquet(
        *[os.path.join(sink, f"epoch={e}") for e in committed]
    )
    extra = int(done.agg(F.coalesce(F.sum("n_tokens"), F.lit(0))).first()[0])
    # bounded driver pull: ≤ n_batches distinct ids
    drained = [r[0] for r in done.select("batch_id").distinct().collect()]
    seen = (
        spark.read.parquet(staging)
        .filter(F.col("batch_id").isin(drained))
        .filter(~(F.col("doc_id") % 97 == 0))
        .select("text")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return {
        "seen": seen,
        "offset": tokens_before + extra,
        "last_epoch": committed[-1],
    }


def stream_refresh_admission(
    spark: SparkSession,
    docs: DataFrame,
    kept: DataFrame,
    n_batches: int = 4,
    min_words: int = MIN_WORDS,
    pack_budget: int = PACK_BUDGET,
    cache_key: str | None = None,
    arriving: DataFrame | None = None,
    bench_docs: DataFrame | None = None,
) -> DataFrame:
    """Runs the arriving half of ``docs`` (doc_id >= max div 2, the
    q103/q254 split convention) through the streaming admission loop
    and returns the per-doc streamed refresh relation:

    (doc_id, source, n_words, is_bench, dup_batch, dup_corpus,
     too_short, low_quality, contaminated, stage_idx, batch_id,
     n_tokens, seq_id, seq_offset)

    where the packing triple is non-null exactly for admitted docs and
    continues from the standing corpus' token total (``kept`` must be
    existing_kept's shape: doc_id, source, n_words, text). The result
    is read back from the drain's parquet sink — callers see a plain
    batch DataFrame whose rows were produced one micro-batch at a
    time. See the module docstring for the batch-parity argument.

    Chaining seams (refresh N+1 consuming refresh N's output):
    ``arriving`` overrides the default doc_id >= max div 2 slice with
    an explicit arrival relation (doc_id, source, text), and
    ``bench_docs`` overrides the benchmark suite (a ``text`` column;
    default: the doc_id%97 slice of ``docs``) — the suite refresh N+1
    sees includes the bench docs earlier refreshes delivered."""
    if arriving is not None and cache_key is not None:
        # the staging cache is keyed by (cache_key, n_batches) alone —
        # it cannot tell two different `arriving` relations apart, so a
        # reused key would silently return the OTHER relation's staged
        # batches. Make the documented contract a checked one (r12
        # advice): explicit arrivals always stage fresh.
        raise ValueError(
            "cache_key is only valid for the default arrival derivation; "
            "pass cache_key=None when supplying an explicit `arriving`"
        )
    if arriving is None:
        mid = docs.agg(F.expr("max(doc_id) div 2").alias("m"))
        arriving = (
            docs.crossJoin(F.broadcast(mid))
            .filter(F.col("doc_id") >= F.col("m"))
            .drop("m")
            .select("doc_id", "source", "text")
        )
    staging = stage_arrival(
        split_arrival(arriving, n_batches), n_batches, cache_key
    )

    # refresh-level inputs, materialized ONCE before the loop: the
    # standing kept corpus (in production a lake table — the eager
    # checkpoint stands in for storage-backed state) and the benchmark
    # gram set (fixed when the refresh begins; q93's 8-gram rule over
    # old + new bench docs). Both are per-refresh state, not per-batch.
    if bench_docs is None:
        bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
    bench_grams = bounded_bench_grams(
        bench_docs.select(F.split("text", " ").alias("w")),
        F.array_distinct(word_ngrams(F.col("w"), 8)),
    ).localCheckpoint(eager=True)
    kept_texts = kept.select("text").localCheckpoint(eager=True)
    tokens_before = int(
        kept.agg(F.coalesce(F.sum("n_words"), F.lit(0))).first()[0]
    )
    return run_refresh_drain(
        spark,
        staging,
        kept_texts,
        bench_grams,
        tokens_before,
        min_words=min_words,
        pack_budget=pack_budget,
    )


def run_refresh_drain(
    spark: SparkSession,
    staging: str,
    kept_texts: DataFrame,
    bench_grams: DataFrame,
    tokens_before: int,
    *,
    sink: str | None = None,
    ckpt: str | None = None,
    min_words: int = MIN_WORDS,
    pack_budget: int = PACK_BUDGET,
    fault_hook=None,
) -> DataFrame:
    """The micro-batch drain itself, restartable: stages in
    ``staging`` stream through the admission funnel one file per
    trigger, cross-batch state threads through the loop, and the
    per-doc relation is read back from ``sink``. Pass the SAME
    (staging, sink, ckpt) again after a crash and the run resumes:
    state is recovered from the sink's committed epoch partitions
    (recover_drain_state), Structured Streaming's checkpoint replays
    the uncommitted trigger, and the epoch guard skips everything
    already committed — so any crash point converges to the
    single-delivery answer (exercised by the round-12 crash tests).

    ``fault_hook(epoch_id, phase)`` is a TEST-ONLY seam called at
    phases "before_sink_write", "after_sink_write" (data written,
    commit marker not yet — the epoch is still uncommitted) and
    "after_commit_marker" (the epoch is durably committed, in-memory
    state not yet advanced) inside each batch; raising from it
    simulates a crash around the sink-write / marker-commit / state
    boundary. Never set in production paths."""
    sink = sink or scratch_dir(prefix="refresh_sink_")
    ckpt = ckpt or scratch_dir(prefix="refresh_ckpt_")
    # cross-batch state: recovered from the sink on (re)start — a
    # fresh run finds no committed partitions and starts empty
    state = recover_drain_state(spark, sink, staging, tokens_before)
    grams_of = lambda: F.array_distinct(word_ngrams(F.col("w"), 8))  # noqa: E731

    def admit_batch(bdf: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: a trigger that fails after its
        # side effects can be REPLAYED with the same epoch_id — within
        # this run (guarded here) or after a driver restart (guarded by
        # recover_drain_state, which rebuilds this dict from the sink's
        # committed partitions). Output is idempotent (each epoch
        # overwrites its own partition below) and driver state commits
        # atomically after all fallible work, so a replay of a
        # committed epoch is a no-op and a replay of an uncommitted one
        # recomputes from unchanged state — the offset never
        # double-counts.
        if epoch_id <= state["last_epoch"]:
            return
        bdf = _spread_batch(bdf)
        is_bench = F.col("doc_id") % 97 == 0
        base = bdf.select(
            "doc_id",
            "source",
            "batch_id",
            F.split("text", " ").alias("w"),
            F.col("text"),
            is_bench.alias("is_bench"),
        )
        nb = base.filter(~F.col("is_bench"))
        # contamination: distinct grams -> bounded broadcast semi-join
        hits = (
            nb.select("doc_id", F.explode(grams_of()).alias("gram"))
            .join(F.broadcast(bench_grams), "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        n_words = F.size("w")
        sum_len = F.aggregate(
            F.transform("w", lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        mean_wl = sum_len * F.lit(1.0) / n_words
        distinct_ratio = F.size(F.array_distinct("w")) * F.lit(1.0) / n_words
        seen = state["seen"].withColumn("__seen", F.lit(1))
        ck = kept_texts.withColumn("__ck", F.lit(1))
        # dup_batch = earlier doc_id with the same text — an earlier
        # micro-batch (seen state) or an earlier row of THIS batch (the
        # same keep-first window q255 uses, scoped to the micro-batch)
        verd = (
            nb.withColumn(
                "rn",
                F.row_number().over(W.partitionBy("text").orderBy("doc_id")),
            )
            .join(hits, "doc_id", "left")
            .join(seen, "text", "left")
            .join(ck, "text", "left")
            .select(
                "doc_id",
                "source",
                "batch_id",
                n_words.alias("n_words"),
                F.lit(False).alias("is_bench"),
                ((F.col("rn") > 1) | F.col("__seen").isNotNull()).alias(
                    "dup_batch"
                ),
                F.col("__ck").isNotNull().alias("dup_corpus"),
                (n_words < min_words).alias("too_short"),
                (
                    ~(
                        mean_wl.between(MEAN_WORDLEN_LO, MEAN_WORDLEN_HI)
                        & (distinct_ratio >= MIN_DISTINCT_RATIO)
                    )
                ).alias("low_quality"),
                F.col("__hit").isNotNull().alias("contaminated"),
            )
        )
        bench_rows = base.filter("is_bench").select(
            "doc_id",
            "source",
            "batch_id",
            n_words.alias("n_words"),
            F.lit(True).alias("is_bench"),
            *[
                F.lit(False).alias(c)
                for c in (
                    "dup_batch",
                    "dup_corpus",
                    "too_short",
                    "low_quality",
                    "contaminated",
                )
            ],
        )
        stage_idx = (
            F.when(F.col("is_bench"), 1)
            .when(F.col("dup_batch"), 2)
            .when(F.col("dup_corpus"), 3)
            .when(F.col("too_short"), 4)
            .when(F.col("low_quality"), 5)
            .when(F.col("contaminated"), 6)
            .otherwise(7)
        )
        all_rows = verd.unionByName(bench_rows).withColumn(
            "stage_idx", stage_idx.cast("int")
        )
        # packing continuation: admitted tokens BEFORE this row within
        # the batch (micro-batch-bounded unkeyed window — bounded by
        # the trigger size, never the corpus) + the carried offset
        admitted = F.col("stage_idx") == 7
        cum_w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
        cum_before = F.coalesce(
            F.sum(F.when(admitted, F.col("n_words")).otherwise(0)).over(cum_w),
            F.lit(0),
        ).cast("long")
        off = F.lit(state["offset"]).cast("long")
        out = all_rows.select(
            "*",
            F.when(admitted, F.col("n_words").cast("long")).alias("n_tokens"),
            F.when(admitted, (off + cum_before)).alias("_pos"),
        ).select(
            "doc_id",
            "source",
            "n_words",
            "is_bench",
            "dup_batch",
            "dup_corpus",
            "too_short",
            "low_quality",
            "contaminated",
            "stage_idx",
            "batch_id",
            "n_tokens",
            F.expr(f"_pos div {pack_budget}").alias("seq_id"),
            (F.col("_pos") % pack_budget).cast("long").alias("seq_offset"),
        )
        # the batch DataFrame is only valid inside this call — pin the
        # results before they leave it
        out = out.localCheckpoint(eager=True)
        batch_tokens = int(
            out.agg(
                F.coalesce(F.sum(F.when(admitted, F.col("n_words"))), F.lit(0))
            ).first()[0]
        )
        # one eager checkpoint per batch: the union references nb (only
        # valid inside this call), so materializing the merged state
        # here both pins it and dedups in a single job
        new_seen = (
            state["seen"]
            .unionByName(nb.select("text"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if fault_hook is not None:
            fault_hook(int(epoch_id), "before_sink_write")
        epoch_dir = os.path.join(sink, f"epoch={int(epoch_id)}")
        out.write.mode("overwrite").parquet(epoch_dir)
        if fault_hook is not None:
            fault_hook(int(epoch_id), "after_sink_write")
        # the DURABLE commit point: the drain-owned marker (see
        # _COMMIT_MARKER — not the committer's _SUCCESS file). A crash
        # before this line leaves the epoch uncommitted (the fully
        # written partition is overwritten by the replay); a crash
        # after it leaves a committed epoch the replay skips. Plain
        # open() assumes a LOCAL-POSIX sink path — true for every sink
        # this engine creates (per-run tempfile scratch dirs; r13
        # ADVICE). An object-store sink would need this single write
        # routed through the Hadoop FileSystem API (`FileSystem.get(
        # URI, hadoopConf).create(path)`) — the marker protocol itself
        # (one zero-byte object per epoch, written after the job
        # commit) is already object-store-safe.
        with open(os.path.join(epoch_dir, _COMMIT_MARKER), "w"):
            pass
        if fault_hook is not None:
            fault_hook(int(epoch_id), "after_commit_marker")
        # everything fallible is done — commit the epoch's state
        state["offset"] += batch_tokens
        state["seen"] = new_seen
        state["last_epoch"] = epoch_id

    raw = spark.read.parquet(staging)
    q = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(admit_batch)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # epoch=N partition dirs exist only for write idempotency — select
    # the explicit data-column list (never drop("epoch"), which would
    # eat a real column of that name) so callers see the batch schema
    return spark.read.parquet(sink).select(*SINK_COLS)
