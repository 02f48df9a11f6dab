"""Streaming corpus refresh: q255's admission funnel driven through
the T1 micro-batch path (streaming/ingest.py's foreachBatch loop), so
the refresh family's batch and streaming answers are proven EQUAL — the q232 discipline (streaming session windows vs batch q63)
applied to the engine's own flagship composition.

The reference's operating mode is a periodic re-run (main.py:80-114
re-fetches and inserts only unseen rows); the batch refresh
(plans/refresh_queries.q255-q260) expresses one refresh as ONE lazy
plan. This module is the streamed form: the arriving half lands as K
doc_id-ordered micro-batches (file source, mtime-ordered,
maxFilesPerTrigger=1 — the q232 staging recipe) and each batch passes
the SAME funnel (operators/admission.admission_core). Every cross-batch
input of a micro-batch is already on disk when the batch runs:

1. seen texts: the staged arrival's non-bench texts whose batch_id is
   below the current batch's (a lazy filter of the staging dir). A
   doc whose text appeared in an EARLIER micro-batch is dup_batch,
   exactly as the one-shot window's rn > 1 says it must be; within a
   micro-batch the same window rule applies locally. doc_id-ordered
   batches make the two views agree.
2. the standing kept corpus: static for the whole refresh (in
   production: the lake table), probed per batch with the one
   irreducible text-keyed equi-join.
3. the benchmark-gram set: fixed when the refresh begins (the suite
   for refresh N is published before admission starts; old + new
   bench docs are both in the arrival manifest), broadcast per batch.
4. the packing offset: the standing corpus' token total plus the
   admitted tokens of the committed epoch partitions in the sink (a
   lazy one-row frame crossed into the batch), so each batch packs
   its admitted docs continuing from the running total
   (operators/packing.py's incremental contract) and the streamed
   layout is bit-identical to one-shot q257.

Parity argument: stage flags are row-local or joins against inputs
that, at each doc's batch, equal exactly "everything with a smaller
doc_id" (seen texts) or "the standing corpus" (static) — the same
predicates the one-shot plan evaluates. Packing order = (batch asc,
doc_id asc) = global doc_id order. Hence every output row matches the
batch capstone's, and q261-q264's oracles are the SAME DuckDB refresh
CTE the batch family grades against. Both the seen texts and the
offset rely on batches draining in batch_id order, which the staging
(one mtime-ordered file per batch, one file per trigger) guarantees.

The driver holds no state across micro-batches: the replay guard is
the sink's commit markers, so the sink write is the one Spark action
of a batch and a restart recovers by listing the sink's epoch dirs.

Scale shape at 100 TB: per micro-batch cost is (batch-sized window) +
(batch x kept equi-join, shuffle bounded by batch side after the
kept side is storage-backed) + (bounded gram broadcast) + (a scan of
the staged arrival for the seen texts and of the committed sink
partitions' n_tokens column for the offset, both bounded by the
arrival) — nothing corpus-quadratic; the staging global row_number
is TEST HARNESS only (real deployments' batches arrive pre-split; the
splitter exists so DuckDB can replay the batch assignment
deterministically).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tp_integ_data_pipeline_spark.operators.admission import (
    ADMIT_IDX,
    PACK_BUDGET,
    admission_core,
    suite_grams,
)
from tp_integ_data_pipeline_spark.sources.fixtures import scratch_dir
from tp_integ_data_pipeline_spark.streaming.ingest import _start_file_stream

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
# epoch's parquet job committed and listed by committed_epochs. The
# Hadoop committer's _SUCCESS file is NOT used as the commit signal: it
# exists only while mapreduce.fileoutputcommitter.marksuccessfuljobs
# stays at its default, which object-store committers commonly disable
# — and a restart that misclassified committed epochs as uncommitted
# would reset the offset while Structured Streaming's checkpoint still
# skips those triggers, packing every later batch at the wrong offset
# (r12 advice). A leading underscore keeps Spark's parquet reader from
# treating the marker as data.
_COMMIT_MARKER = "_DRAIN_COMMITTED"
# The staged arrival's schema, written beside its batch files by
# stage_arrival (a leading underscore keeps it out of parquet reads),
# so the drain reads the staging dir without inferring it.
_ARRIVAL_SCHEMA = "_arrival_schema.json"


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
    with open(os.path.join(staging, _ARRIVAL_SCHEMA), "w") as fh:
        fh.write(arriving.schema.json())
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


# The drain sink's data columns, in write order, with their types: the
# read-back passes the schema (no footer-inference job) and selects
# exactly these — never "everything minus the partition column" — so a
# future data column named like the partition dir cannot be silently
# dropped, and the partition-discovery `epoch` column never leaks into
# callers' schemas.
SINK_SCHEMA = (
    "doc_id long, source string, n_words int, is_bench boolean, dup_batch boolean, "
    "dup_corpus boolean, too_short boolean, low_quality boolean, contaminated boolean, "
    "stage_idx int, batch_id int, n_tokens long, seq_id long, seq_offset long"
)
SINK_COLS = [field.split()[0] for field in SINK_SCHEMA.split(", ")]


def committed_epochs(sink: str) -> list[int]:
    """The sink's committed epochs, ascending: an epoch counts as
    committed iff its partition carries the DRAIN-OWNED
    ``_DRAIN_COMMITTED`` marker, which admit_batch writes only after
    the epoch's parquet job committed — deliberately NOT the Hadoop
    committer's ``_SUCCESS`` file, whose presence depends on a foreign
    config (see _COMMIT_MARKER). The marker is the durable commit
    point, so a crash at ANY point yields: marker present → replay
    skipped, partition is the complete single-delivery answer; marker
    absent (even with a fully written partition) → partition ignored
    and recomputed-then-overwritten by the replay, which also rewrites
    the marker because overwrite mode clears the epoch dir first.

    A file-system listing: starts no Spark job."""
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
    return committed


def carried_offset(
    spark: SparkSession, sink: str, committed: list[int], tokens_before: int
) -> DataFrame:
    """The packing offset the next epoch continues from, as a lazy
    one-row frame ``(_off long)``: ``tokens_before`` plus the admitted
    tokens of the ``committed`` epoch partitions. The partitions are
    read with an explicit schema, so building the frame starts no
    footer-inference job."""
    before = F.lit(tokens_before).cast("long")
    if not committed:
        return spark.range(1).select(before.alias("_off"))
    done = spark.read.schema("n_tokens long").parquet(
        *[os.path.join(sink, f"epoch={e}") for e in committed]
    )
    return done.agg((before + F.coalesce(F.sum("n_tokens"), F.lit(0))).alias("_off"))


def stream_refresh_admission(
    spark: SparkSession,
    docs: DataFrame,
    kept: DataFrame,
    n_batches: int = 4,
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
    bench_grams = suite_grams(bench_docs).localCheckpoint(eager=True)
    kept_texts = kept.select("text").localCheckpoint(eager=True)
    tokens_before = int(
        kept.agg(F.coalesce(F.sum("n_words"), F.lit(0))).first()[0]
    )
    return run_refresh_drain(
        spark, staging, kept_texts, bench_grams, tokens_before
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
    fault_hook=None,
) -> DataFrame:
    """The micro-batch drain itself, restartable: stages in
    ``staging`` stream through the admission funnel one file per
    trigger, and the per-doc relation is read back from ``sink``.
    Each batch reads its cross-batch inputs from disk: the seen texts
    from the earlier batches in ``staging``, the packing offset from
    ``tokens_before`` and the committed epoch partitions of ``sink``
    (carried_offset), and the replay guard from their commit markers
    (committed_epochs). Pass the SAME (staging, sink, ckpt) again
    after a crash and the run resumes: Structured Streaming's
    checkpoint replays the uncommitted trigger and the guard skips
    everything already committed — so any crash point converges to
    the single-delivery answer (exercised by the round-12 crash
    tests).

    ``fault_hook(epoch_id, phase)`` is a TEST-ONLY seam called at
    phases "before_sink_write", "after_sink_write" (data written,
    commit marker not yet — the epoch is still uncommitted) and
    "after_commit_marker" (the epoch is durably committed, the batch
    not yet returned) inside each batch; raising from it simulates a
    crash around the sink-write / marker-commit boundary. Never set in
    production paths."""
    sink = sink or scratch_dir(prefix="refresh_sink_")
    ckpt = ckpt or scratch_dir(prefix="refresh_ckpt_")
    with open(os.path.join(staging, _ARRIVAL_SCHEMA)) as fh:
        staged = spark.read.schema(StructType.fromJson(json.load(fh))).parquet(staging)

    def admit_batch(bdf: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: a trigger that fails after its
        # side effects can be REPLAYED with the same epoch_id, within
        # this run or after a driver restart. Output is idempotent
        # (each epoch overwrites its own partition below) and the
        # commit marker is the guard, so a replay of a committed epoch
        # is a no-op and a replay of an uncommitted one recomputes from
        # the same on-disk inputs — the offset never double-counts.
        committed = committed_epochs(sink)
        if committed and epoch_id <= committed[-1]:
            return
        # the earlier micro-batches' non-bench texts: a doc whose text
        # arrived in one is dup_batch, exactly as the one-shot window's
        # rn > 1 says (unique per text — admission_core left-joins it)
        cur = bdf.agg(F.min("batch_id").alias("_cur"))
        seen = (
            staged.filter(F.col("doc_id") % 97 != 0)
            .join(F.broadcast(cur), F.col("batch_id") < F.col("_cur"))
            .select("text")
            .distinct()
        )
        all_rows = admission_core(_spread_batch(bdf), kept_texts, bench_grams, seen=seen)
        # packing continuation: admitted tokens BEFORE this row within
        # the batch (micro-batch-bounded unkeyed window — bounded by
        # the trigger size, never the corpus) + the carried offset
        admitted = F.col("stage_idx") == ADMIT_IDX
        cum_w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
        cum_before = F.coalesce(
            F.sum(F.when(admitted, F.col("n_words")).otherwise(0)).over(cum_w),
            F.lit(0),
        ).cast("long")
        out = all_rows.crossJoin(
            F.broadcast(carried_offset(spark, sink, committed, tokens_before))
        ).select(
            "*",
            F.when(admitted, F.col("n_words").cast("long")).alias("n_tokens"),
            F.when(admitted, F.col("_off") + cum_before).alias("_pos"),
        ).select(
            *SINK_COLS[:-2],
            F.expr(f"_pos div {PACK_BUDGET}").alias("seq_id"),
            (F.col("_pos") % PACK_BUDGET).cast("long").alias("seq_offset"),
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

    _start_file_stream(spark, staging, staged.schema, admit_batch, 1, ckpt, None).awaitTermination()
    # epoch=N partition dirs exist only for write idempotency — select
    # the explicit data-column list (never drop("epoch"), which would
    # eat a real column of that name) so callers see the batch schema
    return spark.read.schema(SINK_SCHEMA).parquet(sink).select(*SINK_COLS)
