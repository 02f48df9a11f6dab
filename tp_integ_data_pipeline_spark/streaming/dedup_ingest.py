"""Streaming corpus dedup: near-duplicate filtering AT INGEST TIME.

Batch corpus dedup (q90) rescans the whole corpus per run — fine for a
one-shot cleanup, wrong for a growing 100 TB corpus where each day
adds a sliver. This module composes the T1 micro-batch loop
(streaming/ingest.py) with the incremental near-dup index
(operators/neardup_index.py) so every arriving batch is deduplicated

1. exactly within itself (id re-delivery),
2. near-dup within itself (MinHash/LSH pairs → clusters → keep the
   min-id member), and
3. near-dup against EVERYTHING already ingested (index probe — cost
   tracks matching buckets, never corpus size),

then the survivors are appended to the lake and added to the index.
The reference has no streaming surface at all (its Autom loop,
main.py:284-325, re-fetches and appends); this is the §2.10 north-star
composition.

Cross-corpus decisions use the SIGNATURE-ESTIMATED Jaccard
(σ = sqrt(t(1−t)/num_perm) ≈ 0.06 at t=0.6 with 64 perms): the
streaming path trades the exact-verification join (which would read
matched documents back from the lake every batch) for a bounded-error
estimate — the standard ingest-time choice; run q90's exact batch
dedup as a periodic compaction if exactness matters. Within-batch
pairs DO get exact verification (the batch's own shingles are already
in hand — minhash_near_dup_pairs verifies before clustering).

Replay safety (crash-after-append, before checkpoint commit): the
batch function is idempotent end-to-end — already-indexed ids are
dropped up front (a replayed fully-processed batch becomes a no-op
BEFORE the probe can flag the docs as near-dups of themselves), the
lake append anti-joins per id, and the index add anti-joins per id.
Ordering matters: the lake append runs before the index add, so a
crash between them replays into "lake-append no-op, index add
completes" — convergent, never dropped data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tp_integ_data_pipeline_spark.operators.dedup import (
    dup_clusters,
    minhash_near_dup_pairs,
)
from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex
from tp_integ_data_pipeline_spark.sources.lake import DataLake
from tp_integ_data_pipeline_spark.streaming.ingest import start_file_stream


def dedup_ingest_batch(
    batch: DataFrame,
    lake: DataLake,
    table: str,
    index: NearDupIndex,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    stats: dict | None = None,
    verify: str = "estimate",
) -> None:
    """Process ONE micro-batch (see module docstring for the three
    dedup stages and the idempotence argument). ``stats`` (optional)
    receives bounded counters {"arrived", "kept"} — two scalar
    aggregates over batch-sized relations, the only driver values.

    ``verify`` governs the cross-corpus decision: ``"estimate"``
    (default, see module docstring) decides on the signature-estimated
    Jaccard alone; ``"exact"`` treats the estimate as a candidate
    pre-filter (threshold − 4.5σ, the q103 margin) and re-reads ONLY
    the matched documents' text from the lake for an exact
    `pair_jaccard` verification — touched-docs I/O per batch, the
    price of exactness at ingest time."""
    if verify not in ("estimate", "exact"):
        raise ValueError(f"verify must be 'estimate' or 'exact', got {verify!r}")
    batch = batch.dropDuplicates([id_col])
    # replay guard: a fully-processed batch must no-op, not get flagged
    # as near-duplicating its own indexed copy
    fresh = batch.join(
        index.indexed_ids().withColumnRenamed("id", id_col), [id_col], "left_anti"
    )
    # lazy checkpoint: `fresh` feeds the within-batch pair pipeline,
    # the probe, the lake append and the index add — four consumers of
    # the batch subtree
    fresh = fresh.localCheckpoint(eager=False)
    if stats is not None:
        stats["arrived"] = batch.count()

    # within-batch near-dup (exactly verified) → keep min-id member
    pairs = minhash_near_dup_pairs(fresh, id_col, text_col, k=k, threshold=threshold)
    clusters = dup_clusters(pairs.select("a", "b"))
    batch_drop = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    survivors = fresh.join(batch_drop, [id_col], "left_anti")

    # cross-corpus near-dup via the index; probe() is salted against
    # hot index buckets
    probed = index.probe(survivors, id_col=id_col, text_col=text_col)
    if verify == "estimate":
        corpus_dup = (
            probed.filter(F.col("est_jaccard") >= threshold)
            .select(F.col("probe_id").alias(id_col))
            .distinct()
        )
    else:
        from tp_integ_data_pipeline_spark.operators.dedup import (
            pair_jaccard,
            shingles,
        )

        sigma = (threshold * (1 - threshold) / index.num_perm) ** 0.5
        cand = (
            probed.filter(F.col("est_jaccard") >= threshold - 4.5 * sigma)
            .select(F.col("index_id").alias("a"), F.col("probe_id").alias("b"))
            .localCheckpoint(eager=False)
        )
        stored = lake.read(table)
        touched = (
            stored.join(
                cand.select(F.col("a").alias(id_col)).distinct(), [id_col], "left_semi"
            )
            if stored is not None
            else None
        )
        corpus_texts = (
            survivors.select(id_col, text_col)
            if touched is None
            else survivors.select(id_col, text_col).unionByName(
                touched.select(id_col, text_col)
            )
        )
        sh = shingles(corpus_texts, id_col, text_col, k)
        corpus_dup = (
            pair_jaccard(sh, cand)
            .filter(F.col("jaccard") >= threshold)
            .select(F.col("b").alias(id_col))
            .distinct()
        )
    kept = survivors.join(corpus_dup, [id_col], "left_anti").localCheckpoint(
        eager=False
    )

    lake.write_full(table, kept, dedup_keys=[id_col])
    index.add(kept, id_col=id_col, text_col=text_col)
    if stats is not None:
        stats["kept"] = kept.count()


def start_neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    lake: DataLake,
    table: str,
    index: NearDupIndex,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
    interval_seconds: int | None = None,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    verify: str = "estimate",
) -> StreamingQuery:
    """T1-shape wrapper: file-source micro-batches through
    :func:`dedup_ingest_batch`. ``interval_seconds=None`` drains with
    availableNow (test/backfill mode); a positive interval polls."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_ingest_batch(
            batch_df, lake, table, index, id_col, text_col, k, threshold,
            verify=verify,
        )

    return start_file_stream(
        spark, source_dir, schema, sink, max_files_per_trigger, checkpoint_dir, interval_seconds
    )
