"""Structured Streaming surface (SURVEY.md §2.7 T1-T5).

The reference's `Autom` class (main.py:284-325) is a daemon thread in
an infinite fetch→dedup-append→sleep loop with a best-effort (and
actually broken: main.py:299,316) stop flag. The engine maps it onto
Structured Streaming:

- T1 periodic micro-batch → `trigger(processingTime=...)` (or
  `availableNow` for drain-and-stop runs) + `foreachBatch` writing the
  partitioned lake with anti-join dedup;
- T2 lifecycle → `StreamingQuery.start()/stop()/awaitTermination()`
  (a real stop, documented deviation from the broken flag);
- T3 duplicate/late data → `dropDuplicates` within the batch plus
  anti-join against the lake across batches; bounded state via
  `withWatermark` when running windowed aggregations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tp_integ_data_pipeline_spark.sources.lake import DataLake


def start_microbatch_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    lake: DataLake,
    table: str,
    partition_cols: list[str],
    dedup_keys: list[str],
    interval_seconds: int | None = None,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    probe_partitions: bool | None = None,
) -> StreamingQuery:
    """T1/T3: file-source micro-batch ingestion into the lake.

    Each micro-batch is deduped within itself AND against the lake
    (idempotent re-delivery), then appended partitioned — the streaming
    form of DataLake.write_incremental. `interval_seconds=None` uses
    availableNow (drain everything, then stop), the test/backfill mode;
    a positive interval reproduces the reference's 900 s polling
    cadence.

    ``transform`` (optional) is a DataFrame→DataFrame function applied
    to each micro-batch BEFORE dedup and append — the hook that turns
    plain ingestion into streaming curation (quality gate, redaction,
    enrichment from plans/curation.py) without re-reading the corpus
    later. It must be deterministic: the replay-idempotence guarantee
    (checkpoint + anti-join dedup) only holds if a replayed batch
    produces the same rows it produced the first time.

    ``probe_partitions`` is forwarded to ``write_incremental``: leave
    it ``None`` unless the dedup keys functionally determine the
    partition value (see DataLake.write_incremental) — with unrelated
    keys and partitions, a pruned probe would miss re-deliveries that
    land under a different partition value.
    """
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df if transform is None else transform(batch_df)
        batch = batch.dropDuplicates(dedup_keys)
        lake.write_incremental(
            table, batch, partition_cols, dedup_keys, probe_partitions=probe_partitions
        )

    # Restart-safe with a checkpoint: source offsets are checkpointed,
    # and the anti-join dedup inside the sink makes batch replay
    # idempotent → effectively-once lake appends across crashes.
    return start_file_stream(
        spark, source_dir, schema, sink, max_files_per_trigger, checkpoint_dir, interval_seconds
    )


def start_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink: Callable[[DataFrame, int], None],
    max_files_per_trigger: int,
    checkpoint_dir: str | None,
    interval_seconds: int | None,
) -> StreamingQuery:
    """The one parquet file-source starter: reads ``source_dir`` with
    ``schema`` at most ``max_files_per_trigger`` files per trigger and
    hands each micro-batch to ``sink(batch_df, epoch_id)`` through
    foreachBatch. ``checkpoint_dir`` (optional) makes the query
    restartable; ``interval_seconds=None`` drains with availableNow,
    a positive interval polls."""
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if interval_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{interval_seconds} seconds")
    return writer.start()


def run_stream_to_memory(
    df_stream: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming plan to completion (availableNow semantics) into
    an in-memory sink and return the result table — the synchronous
    harness used by streaming queries/tests."""
    q = (
        df_stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = df_stream.sparkSession
    return spark.table(query_name)
