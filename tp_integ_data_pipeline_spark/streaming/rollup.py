"""Continuous aggregate (hypertable-rollup-style) maintenance.

A rollup table holds per-(window, key) MERGEABLE partial aggregates
(count + decimal sum here); each micro-batch folds its partials into
the table — the streaming materialized-view pattern. Queries against
the rollup never rescan raw history, which is the point at 100 TB:
the raw `events` stream is append-heavy, the rollup stays
O(windows × keys).

Merge-add semantics: existing (window, key) rows combine by summing
counters — not MERGE-overwrite (M1) nor insert-if-absent (M2), but the
third classic merge, implemented with the same end-state algebra
(full outer combine via unionByName + re-aggregate).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

ROLLUP_COLS = ("win_start", "event_type", "n", "total_value")


def _checkpoint_instance(checkpoint_dir: str) -> str:
    """Replay-guard scope for THIS incarnation of the checkpoint dir.

    Epoch ids restart at 0 when the checkpoint directory is deleted and
    recreated (a routine reprocessing step), so a guard keyed on the
    PATH alone would silently skip the new run's batches until its
    epoch id passed the old high-water mark — dropped data. A marker
    file claimed atomically on first use pins the scope to the
    directory instance: recreating the directory loses the marker, the
    scope changes, and the guard resets.
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "_rollup_instance_id")
    if not os.path.exists(marker):
        tmp = os.path.join(checkpoint_dir, f".instance-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(uuid.uuid4().hex)
        try:
            os.link(tmp, marker)  # atomic claim; loser reads the winner's
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
    with open(marker) as fh:
        return f"{checkpoint_dir}::{fh.read().strip()}"


def _partials(batch: DataFrame) -> DataFrame:
    return (
        batch.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def merge_add(rollup: DataFrame, partial: DataFrame) -> DataFrame:
    """Fold new partials into the rollup: counters sum per key."""
    return (
        rollup.unionByName(partial)
        .groupBy("win_start", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total_value").alias("total_value"))
    )


def fold_batch(
    table,
    batch_df: DataFrame,
    epoch_id: int,
    checkpoint_dir: str | None = None,
) -> bool:
    """Fold one micro-batch's partials into the rollup; returns whether
    the batch was applied (False = replay skipped).

    Merge-add is NOT idempotent (a batch folded twice double-counts
    n/total_value), and Structured Streaming re-delivers the last batch
    if the job dies after the sink ran but before the checkpoint
    commit. The manifest therefore records the last-applied epoch_id
    atomically with the data flip, and replayed epochs are skipped —
    the standard foreachBatch exactly-once recipe (epoch-keyed
    transactional sink). Epoch numbering is a property of one
    checkpoint INSTANCE: a fresh checkpoint — same path or not —
    restarts at 0, and with no checkpoint there is no replay to guard
    against — so the guard is scoped via ``_checkpoint_instance``.

    ``table`` is a ``VersionedParquetTable``: unbucketed (full
    copy-on-write per fold — fine for small rollups) or bucketed on the
    rollup grain (``bucket_keys=["win_start", "event_type"]``) — the
    100 TB shape, where a fold rewrites ONLY the key-buckets the
    batch's windows touch. Either way the fold goes through the same
    ``meta()`` / ``_merge(stage, combine, meta)`` contract.
    """
    scope = _checkpoint_instance(checkpoint_dir) if checkpoint_dir is not None else ""
    if checkpoint_dir is not None:
        meta = table.meta()
        if (
            meta.get("epoch_scope") == scope
            and meta.get("last_epoch") is not None
            and epoch_id <= meta["last_epoch"]
        ):
            return False  # replayed batch — already folded into the rollup
    partial = _partials(batch_df)
    # CAS-aware fold (not read → merge_add → overwrite): _merge re-reads
    # the committed state and re-combines on a lost commit race, so a
    # concurrent writer's commit (e.g. a batch backfill into the same
    # rollup) landing between our snapshot and our commit is folded
    # into, not silently overwritten. The epoch replay guard above
    # stays a pre-check: epochs are scoped to ONE streaming query per
    # checkpoint instance, so no concurrent commit can carry this epoch.
    table._merge(
        partial,
        lambda cur, stg: stg if cur is None else merge_add(cur, stg),
        meta={"last_epoch": epoch_id, "epoch_scope": scope},
    )
    return True


def start_rollup_maintenance(
    spark: SparkSession,
    events_stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """T1-shape maintenance loop: per micro-batch, aggregate the batch
    and merge-add into the versioned rollup table. Replay-safe via
    :func:`fold_batch`'s epoch guard (see its docstring)."""
    table = VersionedParquetTable(spark, rollup_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        fold_batch(table, batch_df, epoch_id, checkpoint_dir)

    writer = events_stream.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    df = VersionedParquetTable(spark, rollup_path).read()
    return df.select(
        "win_start", "event_type", "n", F.col("total_value").cast("double").alias("total_value")
    )
