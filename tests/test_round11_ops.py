"""Round-11 streaming-refresh family (q261–q264): the q255 admission
funnel driven through the micro-batch path must agree with the batch
capstone EXACTLY — per-doc verdict parity, cross-batch dup detection
through the seen-texts state, packing continuation across triggers,
waterfall conservation, and the carry-state row refresh N+1 consumes."""

from __future__ import annotations

from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.plans.registry import QUERIES
from tp_integ_data_pipeline_spark.streaming.refresh import (
    split_arrival,
    stream_refresh_admission,
)

_FLAG_COLS = ["f_dup_batch", "f_dup_corpus", "f_short", "f_quality", "f_contam"]


def test_q261_matches_batch_q255(spark, sf_dir):
    """Row-for-row parity: the streamed verdicts, projected onto q255's
    columns, equal the one-shot batch answer — the family's core
    claim. batch_id must also be 1..4 and non-decreasing in doc_id
    (contiguous doc_id-ordered batches)."""
    streamed = QUERIES["q261_stream_admission"](spark, sf_dir).collect()
    batch = QUERIES["q255_refresh_admission"](spark, sf_dir).collect()
    common = ["doc_id", "source", "stage_idx", "stage", *_FLAG_COLS, "admitted"]
    s_view = [tuple(getattr(r, c) for c in common) for r in streamed]
    b_view = [tuple(getattr(r, c) for c in common) for r in batch]
    assert s_view == b_view
    assert {r.batch_id for r in streamed} <= set(range(1, 5))
    by_doc = sorted(streamed, key=lambda r: r.doc_id)
    assert all(
        a.batch_id <= b.batch_id for a, b in zip(by_doc, by_doc[1:])
    )


def test_q263_equals_q257_and_q264_equals_q259(spark, sf_dir):
    """The streamed packing layout and carry-state row are bit-
    identical to the one-shot plans' — same columns, same values."""
    assert (
        QUERIES["q263_stream_packing"](spark, sf_dir).collect()
        == QUERIES["q257_refresh_packing"](spark, sf_dir).collect()
    )
    assert (
        QUERIES["q264_stream_carry_state"](spark, sf_dir).collect()
        == QUERIES["q259_refresh_carry_state"](spark, sf_dir).collect()
    )


def test_q265_equals_q256_and_q266_equals_q260(spark, sf_dir):
    """The downstream reports read the refresh RECORD, not the live
    plan: fed the streamed sink, the mixture rebalance and the
    retro-contamination audit must equal the batch family's answers
    exactly (shared report functions, different admission inputs)."""
    assert (
        QUERIES["q265_stream_mixture"](spark, sf_dir).collect()
        == QUERIES["q256_refresh_mixture"](spark, sf_dir).collect()
    )
    assert (
        QUERIES["q266_stream_retro_contam"](spark, sf_dir).collect()
        == QUERIES["q260_refresh_retro_contam"](spark, sf_dir).collect()
    )


def test_q262_waterfall_conservation(spark, sf_dir):
    """Stage-stable 4x7 grid; cells sum to the per-batch arrival
    counts of q261; zero cells really appear as zeros."""
    cells = QUERIES["q262_stream_batch_waterfall"](spark, sf_dir).collect()
    assert len(cells) == 28
    assert {(r.batch_id, r.stage_idx) for r in cells} == {
        (b, s) for b in range(1, 5) for s in range(1, 8)
    }
    streamed = QUERIES["q261_stream_admission"](spark, sf_dir).collect()
    per_batch: dict[tuple[int, int], int] = {}
    for r in streamed:
        per_batch[(r.batch_id, r.stage_idx)] = (
            per_batch.get((r.batch_id, r.stage_idx), 0) + 1
        )
    for c in cells:
        assert c.n_docs == per_batch.get((c.batch_id, c.stage_idx), 0)
        if c.n_docs == 0:
            assert c.n_tokens == 0


_SYN_CACHE: dict[str, list] = {}


def _synthetic_refresh(spark):
    """Hand-built arrival exercising every admission verdict INCLUDING
    the cross-batch duplicate (the one case a single-batch run cannot
    hit): mid = 194 div 2 = 97, so ids >= 97 arrive as 4 batches of
    [150,155,160], [165,170], [175,180,185], [190,194]. One drain per
    test session (collected rows memoized)."""
    app = spark.sparkContext.applicationId
    if app in _SYN_CACHE:
        return _SYN_CACHE[app]
    clean = "alpha bravo chars delta echos foxtr golfs hotel india julie kilos limas"
    kept_text = "standing corpus kept document text with twelve nice plain words here okay"
    bench_text = "secret bench marker words eight exact tokens lineup plus extra tail words"
    contam = "prefix words then secret bench marker words eight exact tokens lineup done"
    docs = spark.createDataFrame(
        [
            (1, "s1", "existing filler one " + clean),
            (2, "s1", "existing filler two " + clean),
            (150, "s1", clean + " one"),
            (155, "s1", clean + " one"),  # same-batch dup of 150
            (160, "s2", clean + " two"),
            (165, "s2", kept_text),  # dup vs standing corpus
            (170, "s1", "too short text"),  # < 10 words
            (175, "s2", "aa aa aa aa aa aa aa aa aa aa"),  # low quality
            (180, "s1", contam),  # shares an 8-gram with bench 194
            (185, "s2", clean + " two"),  # CROSS-batch dup of 160
            (190, "s1", clean + " three"),
            (194, "s1", bench_text),  # arriving bench doc (194 % 97 = 0)
        ],
        "doc_id long, source string, text string",
    )
    kept = spark.createDataFrame(
        [(50, "s1", 12, kept_text), (51, "s2", 488, "another kept doc")],
        "doc_id long, source string, n_words int, text string",
    )
    rows = stream_refresh_admission(spark, docs, kept, n_batches=4).collect()
    _SYN_CACHE[app] = rows
    return rows


def test_synthetic_stage_attribution_and_cross_batch_dup(spark):
    out = {r.doc_id: r for r in _synthetic_refresh(spark)}
    assert set(out) == {150, 155, 160, 165, 170, 175, 180, 185, 190, 194}
    expected_stage = {
        150: 7,  # admitted
        155: 2,  # dup within batch 1
        160: 7,  # admitted
        165: 3,  # dup vs kept corpus
        170: 4,  # too short
        175: 5,  # low quality
        180: 6,  # contaminated by bench 194's grams
        185: 2,  # dup of 160 — seen-texts state ACROSS batches
        190: 7,  # admitted
        194: 1,  # bench holdout
    }
    assert {d: r.stage_idx for d, r in out.items()} == expected_stage
    # the cross-batch pair really spans batches
    assert out[160].batch_id < out[185].batch_id
    assert out[185].dup_batch and not out[160].dup_batch


def test_synthetic_packing_continues_from_kept_offset(spark):
    """kept holds 12 + 488 = 500 tokens; budget 512 — the first
    admitted doc lands mid-sequence at offset 500, crosses the
    boundary, and the carry arithmetic follows doc_id order."""
    rows = {r.doc_id: r for r in _synthetic_refresh(spark)}
    admitted = [rows[d] for d in (150, 160, 190)]
    assert [r.n_tokens for r in admitted] == [13, 13, 13]
    pos = 500
    for r in admitted:
        assert (r.seq_id, r.seq_offset) == (pos // 512, pos % 512)
        pos += r.n_tokens
    rejected = [r for d, r in rows.items() if d not in (150, 160, 190)]
    assert all(r.seq_id is None and r.seq_offset is None for r in rejected)


def test_replayed_micro_batches_are_idempotent(spark, monkeypatch):
    """foreachBatch is at-least-once: Structured Streaming may redeliver
    a micro-batch with the same epoch_id. Simulate the worst case —
    EVERY batch delivered twice — by wrapping the function handed to
    foreachBatch, and require the drain to produce exactly the
    single-delivery answer: no duplicated sink rows, no double-counted
    packing offset (the per-epoch overwrite partitions + the
    commit-marker replay guard in admit_batch)."""
    from pyspark.sql.streaming import DataStreamWriter

    clean = "alpha bravo chars delta echos foxtr golfs hotel india julie kilos limas"
    def corpus():
        docs = spark.createDataFrame(
            [
                (1, "s1", "standing " + clean),
                (100, "s1", clean + " one"),
                (104, "s2", clean + " two"),
                (108, "s1", clean + " three"),
                (112, "s2", clean + " four"),
            ],
            "doc_id long, source string, text string",
        )
        kept = spark.createDataFrame(
            [(50, "s1", 500, "another kept doc")],
            "doc_id long, source string, n_words int, text string",
        )
        return docs, kept

    docs, kept = corpus()
    reference = sorted(
        stream_refresh_admission(spark, docs, kept, n_batches=4).collect()
    )

    orig = DataStreamWriter.foreachBatch

    def redelivering(self, fn):
        def wrapper(bdf, epoch_id):
            fn(bdf, epoch_id)
            fn(bdf, epoch_id)  # at-least-once redelivery, same epoch

        return orig(self, wrapper)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", redelivering)
    docs, kept = corpus()
    replayed = sorted(
        stream_refresh_admission(spark, docs, kept, n_batches=4).collect()
    )
    assert replayed == reference
    assert len(replayed) == 4


def test_arrival_smaller_than_batch_count_skips_empty_batches(spark):
    """n=2 arriving docs with K=4: the split formula assigns batches 1
    and 3, stage_arrival skips the two EMPTY slices (no file written),
    and the drain still yields the right verdicts and a packing layout
    that starts at the empty-corpus offset 0 and continues across the
    missing trigger — the empty-batch path must not shift state."""
    clean = "alpha bravo chars delta echos foxtr golfs hotel india julie kilos limas"
    docs = spark.createDataFrame(
        [
            (1, "s1", "standing " + clean),
            (100, "s1", clean + " one"),
            (104, "s2", clean + " two"),
        ],
        "doc_id long, source string, text string",
    )
    kept = spark.createDataFrame(
        [], "doc_id long, source string, n_words int, text string"
    )
    rows = sorted(
        stream_refresh_admission(spark, docs, kept, n_batches=4).collect(),
        key=lambda r: r.doc_id,
    )
    assert [r.doc_id for r in rows] == [100, 104]
    assert [r.batch_id for r in rows] == [1, 3]
    assert [r.stage_idx for r in rows] == [7, 7]
    assert (rows[0].seq_id, rows[0].seq_offset) == (0, 0)
    assert (rows[1].seq_id, rows[1].seq_offset) == (0, 13)


def test_split_arrival_formula_and_coverage(spark):
    """The batch splitter is the exact ((rn-1)*K) div n + 1 formula the
    DuckDB oracles replay: contiguous, exhaustive, 1..K."""
    df = spark.createDataFrame(
        [(i, "s", "t") for i in range(10)], "doc_id long, source string, text string"
    )
    got = {
        r.doc_id: r.batch_id
        for r in split_arrival(df, 4, "doc_id").collect()
    }
    assert got == {i: ((i * 4) // 10) + 1 for i in range(10)}
