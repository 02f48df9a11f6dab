"""Round-12: multi-refresh chaining and crash recovery.

1. Crash recovery: the foreachBatch atomic-commit ordering — a crash
   at ANY point around the sink-write / marker-commit boundary
   must converge to the single-delivery drain when the run is
   restarted with the same (staging, sink, checkpoint). Complements
   round 11's same-run redelivery test with the driver-restart case.
   The commit point is the drain-owned _DRAIN_COMMITTED marker (r13:
   replaced the Hadoop committer's _SUCCESS file, whose presence
   depends on a foreign config).
2. Two-refresh chaining through streaming/refresh.py: refresh N+1
   consumes refresh N's output (grown kept corpus, grown benchmark
   suite, carried packing offset) and its verdicts/packing must show
   the chain semantics — admitted texts block later arrivals, rejected
   texts do not, the suite carries forward, and packing continues
   bit-identically to a one-shot layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.admission import bounded_bench_grams
from tp_integ_data_pipeline_spark.operators.text import word_ngrams
from tp_integ_data_pipeline_spark.sources.fixtures import scratch_dir
from tp_integ_data_pipeline_spark.streaming.refresh import (
    carried_offset,
    committed_epochs,
    run_refresh_drain,
    split_arrival,
    stage_arrival,
    stream_refresh_admission,
)

_CLEAN = "alpha bravo chars delta echos foxtr golfs hotel india julie kilos limas"


def _grams(df):
    return bounded_bench_grams(
        df.select(F.split("text", " ").alias("w")),
        F.array_distinct(word_ngrams("w", 8)),
    ).localCheckpoint(eager=True)


def _stage(spark, rows, n_batches=4):
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    return stage_arrival(split_arrival(df, n_batches), n_batches, None)


_ARRIVAL = [
    (100, "s1", _CLEAN + " one"),
    (104, "s2", _CLEAN + " two"),
    (108, "s1", "too short text"),
    (112, "s2", _CLEAN + " three"),
]


def _crash_fixture(spark, arrival=_ARRIVAL):
    staging = _stage(spark, arrival)
    kept_texts = spark.createDataFrame(
        [("another kept doc",)], "text string"
    ).localCheckpoint(eager=True)
    bench = _grams(
        spark.createDataFrame(
            [("secret bench marker words eight exact tokens lineup",)],
            "text string",
        )
    )
    return staging, kept_texts, bench


@pytest.mark.parametrize(
    "crash_phase",
    ["before_sink_write", "after_sink_write", "after_commit_marker"],
)
def test_crash_recovery_converges_to_single_delivery(spark, crash_phase):
    """Kill the drain once at each point around the sink-write /
    marker-commit boundary on epoch 1 of 4, then restart with
    the same dirs: the resumed run must produce exactly the crash-free
    answer. after_sink_write is the torn case — the epoch's partition
    EXISTS but the drain-owned commit marker was never written, so
    recovery must classify it uncommitted and the replay overwrite it
    (not count it half-way). after_commit_marker is the case the r11
    verdict called out — the epoch is durably committed but the batch
    never returned; the restart must treat the marked partition as
    committed (skip the replay, count its tokens) rather than
    replaying it and double-counting the offset.
    Doc 116 (batch 4, after the crash point) repeats doc 100's text
    (batch 1, committed before the crash): the resumed run must still
    flag it dup_batch."""
    arrival = _ARRIVAL + [(116, "s1", _CLEAN + " one")]
    staging, kept_texts, bench = _crash_fixture(spark, arrival)
    reference = sorted(
        run_refresh_drain(spark, staging, kept_texts, bench, 500).collect()
    )

    sink = scratch_dir(prefix="crash_sink_")
    ckpt = scratch_dir(prefix="crash_ckpt_")
    fired = []

    def boom(epoch_id: int, phase: str) -> None:
        if phase == crash_phase and epoch_id == 1 and not fired:
            fired.append(epoch_id)
            raise RuntimeError("injected crash")

    with pytest.raises(Exception, match="injected crash"):
        run_refresh_drain(
            spark, staging, kept_texts, bench, 500,
            sink=sink, ckpt=ckpt, fault_hook=boom,
        )
    assert fired == [1]

    # the restart's committed epochs must reflect the crash point:
    # epoch 0 always committed; epoch 1 committed iff the MARKER landed
    # (a data partition without the marker is uncommitted by design)
    assert committed_epochs(sink)[-1] == (
        1 if crash_phase == "after_commit_marker" else 0
    )

    resumed = sorted(
        run_refresh_drain(
            spark, staging, kept_texts, bench, 500, sink=sink, ckpt=ckpt
        ).collect()
    )
    assert resumed == reference
    assert len(resumed) == len(arrival)
    by_id = {r.doc_id: r for r in resumed}
    assert (by_id[116].batch_id, by_id[116].dup_batch) == (4, True)
    assert not by_id[100].dup_batch


def test_recovered_offset_matches_committed_prefix(spark):
    """committed_epochs and carried_offset, checked directly after a
    crash that committed epochs 0-1 of 4: offset = tokens_before + the
    committed admitted tokens; the uncommitted tail is absent."""
    staging, kept_texts, bench = _crash_fixture(spark)
    sink = scratch_dir(prefix="crash_sink_")
    ckpt = scratch_dir(prefix="crash_ckpt_")

    def boom(epoch_id: int, phase: str) -> None:
        if phase == "before_sink_write" and epoch_id == 2:
            raise RuntimeError("injected crash")

    with pytest.raises(Exception, match="injected crash"):
        run_refresh_drain(
            spark, staging, kept_texts, bench, 500,
            sink=sink, ckpt=ckpt, fault_hook=boom,
        )
    committed = committed_epochs(sink)
    # batches 1-2 carry docs 100 and 104 (13 admitted tokens each)
    assert committed == [0, 1]
    assert carried_offset(spark, sink, committed, 500).first()._off == 500 + 26


def test_explicit_arriving_rejects_cache_key(spark):
    """The staging cache is keyed by (cache_key, n_batches) alone, so
    it cannot distinguish two different explicit `arriving` relations —
    the documented contract is now a checked one (r12 advice)."""
    docs = spark.createDataFrame(
        [(100, "s1", _CLEAN)], "doc_id long, source string, text string"
    )
    kept = spark.createDataFrame(
        [(50, "s1", 10, "another kept doc")],
        "doc_id long, source string, n_words int, text string",
    )
    with pytest.raises(ValueError, match="cache_key"):
        stream_refresh_admission(
            spark, docs, kept, n_batches=2,
            cache_key="k", arriving=docs.select("doc_id", "source", "text"),
        )


_B1 = "secret bench marker words eight exact tokens lineup plus extra tail words"
_B2 = "novel second suite marker eight fresh exact tokens lineup with more words"


def _chain(spark):
    """Two streamed refreshes where refresh 2 consumes refresh 1's
    output: kept corpus grown by the admitted docs, benchmark suite
    grown by the delivered bench doc, packing offset carried."""
    kept0 = spark.createDataFrame(
        [(50, "s1", 12, "standing corpus kept document text with twelve nice plain words here okay"),
         (51, "s2", 488, "another kept doc")],
        "doc_id long, source string, n_words int, text string",
    )
    bench0 = spark.createDataFrame([("warmup suite none",)], "text string")
    arrival1 = spark.createDataFrame(
        [
            (100, "s1", _CLEAN + " one"),          # admitted
            (104, "s2", _CLEAN + " two"),          # admitted
            (108, "s1", "too short text"),          # rejected: too_short
            (194, "s1", _B1),                       # bench doc (194 % 97 == 0)
        ],
        "doc_id long, source string, text string",
    )
    r1 = stream_refresh_admission(
        spark, arrival1, kept0, n_batches=2,
        arriving=arrival1.select("doc_id", "source", "text"),
        bench_docs=bench0.unionByName(
            arrival1.filter(F.col("doc_id") % 97 == 0).select("text")
        ),
    ).localCheckpoint(eager=True)

    # refresh 1's outputs become refresh 2's inputs
    adm1 = r1.filter(F.col("stage_idx") == 7).select("doc_id", "source", "n_words")
    kept1 = kept0.unionByName(
        adm1.join(arrival1.select("doc_id", "text"), "doc_id")
    )
    suite2 = bench0.unionByName(
        arrival1.filter(F.col("doc_id") % 97 == 0).select("text")
    )
    arrival2 = spark.createDataFrame(
        [
            (200, "s1", _CLEAN + " one"),   # dup_corpus: text admitted in r1
            (204, "s2", "too short text"),  # NOT dup (108 was rejected) -> too_short
            (208, "s1", "prefix words then secret bench marker words eight exact tokens lineup done"),
            # ^ contaminated: shares an 8-gram with _B1, delivered by refresh 1
            (212, "s2", _CLEAN + " four"),  # admitted
            (291, "s1", _B2),               # bench doc (291 % 97 == 0) grows the suite
        ],
        "doc_id long, source string, text string",
    )
    suite2 = suite2.unionByName(
        arrival2.filter(F.col("doc_id") % 97 == 0).select("text")
    )
    r2 = stream_refresh_admission(
        spark, arrival2, kept1, n_batches=2,
        arriving=arrival2.select("doc_id", "source", "text"),
        bench_docs=suite2,
    ).localCheckpoint(eager=True)
    return r1, r2


def test_streaming_two_refresh_chain_semantics(spark):
    r1, r2 = _chain(spark)
    s1 = {r.doc_id: r.stage_idx for r in r1.collect()}
    s2 = {r.doc_id: r.stage_idx for r in r2.collect()}
    assert s1 == {100: 7, 104: 7, 108: 4, 194: 1}
    # chain semantics: admitted text blocks (dup_corpus), rejected text
    # does not, refresh-1's bench doc contaminates refresh-2 arrivals
    assert s2 == {200: 3, 204: 4, 208: 6, 212: 7, 291: 1}


def test_streaming_chain_packing_continues_bit_identically(spark):
    """Refresh 2's packing continues exactly where refresh 1 stopped
    (offset 500 + 13 + 13 = 526), and the concatenated two-refresh
    layout equals one-shot packing of all admitted docs in order —
    the continuation property across a refresh boundary."""
    r1, r2 = _chain(spark)
    p1 = sorted(
        ((r.doc_id, r.n_tokens, r.seq_id, r.seq_offset)
         for r in r1.filter(F.col("stage_idx") == 7).collect())
    )
    p2 = sorted(
        ((r.doc_id, r.n_tokens, r.seq_id, r.seq_offset)
         for r in r2.filter(F.col("stage_idx") == 7).collect())
    )
    assert p1 == [(100, 13, 0, 500), (104, 13, 1, 1)]
    # one-shot replay: positions 500, 513, 526 with budget 512
    assert p2 == [(212, 13, 1, 14)]
    pos = 500
    for _, n, sid, soff in p1 + p2:
        assert (sid, soff) == (pos // 512, pos % 512)
        pos += n


# --------------------------------------------------------------------------
# q267-q269: the batch chain family (oracle-checked; these tests pin
# the Spark-side invariants the hash checks alone don't state)
# --------------------------------------------------------------------------
def test_q267_partitions_the_refresh_arrival(spark, sf_dir):
    """The two chained arrivals partition q255's arrival exactly
    (same doc ids, split at m2, refresh ids consistent), and the
    refresh-1 verdicts agree with q255's wherever both funnels see
    the same standing state (refresh 1 IS yesterday's funnel over a
    smaller batch — only suite size differs, so bench/dup flags can
    legitimately differ; the doc partition cannot)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    chain = QUERIES["q267_chain_admission"](spark, sf_dir).collect()
    single = QUERIES["q255_refresh_admission"](spark, sf_dir).collect()
    assert sorted(r.doc_id for r in chain) == sorted(r.doc_id for r in single)
    split = max(r.doc_id for r in chain if r.refresh_id == 1)
    assert all(
        (r.doc_id <= split) == (r.refresh_id == 1) for r in chain
    )


def test_q268_layout_is_one_continuous_cumsum(spark, sf_dir):
    """Positions are contiguous across BOTH refreshes: each admitted
    doc starts exactly where the previous one ended, beginning at the
    standing corpus' token total — i.e. the consumed carry row splices
    the two refreshes into one layout with no gap and no reset."""
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES
    from tp_integ_data_pipeline_spark.operators.admission import PACK_BUDGET as _PACK_BUDGET
    from tp_integ_data_pipeline_spark.plans.refresh_queries import _exist_kept

    rows = sorted(
        QUERIES["q268_chain_packing"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    pos = int(
        _exist_kept(spark, sf_dir)
        .agg(F.coalesce(F.sum("n_words"), F.lit(0)))
        .first()[0]
    )
    seen_boundary = False
    for r in rows:
        assert (r.seq_id, r.seq_offset) == (
            pos // _PACK_BUDGET,
            pos % _PACK_BUDGET,
        )
        pos += r.n_tokens
        seen_boundary = seen_boundary or r.refresh_id == 2
    assert seen_boundary  # refresh 2 really contributed rows


def test_q269_carry_from_row_equals_rescan(spark, sf_dir):
    """The Spark-side twin of q269's oracle claim: deriving refresh 2's
    "before" fields from refresh 1's emitted carry row gives the same
    row as re-aggregating the grown corpus K1 from scratch."""
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES
    from tp_integ_data_pipeline_spark.operators.admission import ADMIT_IDX as _ADMIT_IDX
    from tp_integ_data_pipeline_spark.plans.refresh_queries import (
        _carry_report,
        _chain_adm1,
        _chain_adm2,
        _exist_kept,
    )
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    via_row = QUERIES["q269_chain_carry_state"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k1 = _exist_kept(spark, sf_dir).select("doc_id", "source", "n_words").unionByName(
        _chain_adm1(spark, sf_dir)
        .filter(F.col("stage_idx") == _ADMIT_IDX)
        .select("doc_id", "source", "n_words")
    )
    rescan = _carry_report(k1, _chain_adm2(spark, sf_dir)).collect()
    assert via_row == rescan


def test_q270_mixture_consistent_with_chain_carry(spark, sf_dir):
    """The post-chain rebalance's totals must agree with the chained
    carry row: sum(n_before) = K1's size (q269.n_kept_before),
    sum(n_added) = refresh-2 admissions (q269.n_admitted)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    mix = QUERIES["q270_chain_mixture"](spark, sf_dir).collect()
    carry = QUERIES["q269_chain_carry_state"](spark, sf_dir).collect()[0]
    assert sum(r.n_before for r in mix) == carry.n_kept_before
    assert sum(r.n_added for r in mix) == carry.n_admitted
    assert sum(r.n_after for r in mix) == carry.n_kept_before + carry.n_admitted


def test_q271_retro_sweep_recomputed_in_python(spark, sf_dir):
    """q271's per-source hit counts recomputed row-by-row in pure
    Python over the collected K1 corpus and refresh-2 bench texts —
    the r10 q260 discipline applied at the chain's second link. Also
    pins the reason the chain version is a REAL audit: any hit doc
    admitted in refresh 1 was clean against the smaller suite."""
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES
    from tp_integ_data_pipeline_spark.plans.refresh_queries import _chain_kept1
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    def grams(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 8]) for i in range(len(w) - 7)
        } if len(w) >= 8 else set()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    m2 = 3 * (max(r.doc_id for r in docs) // 4)
    bench_grams = set()
    for r in docs:
        if r.doc_id >= m2 and r.doc_id % 97 == 0:
            bench_grams |= grams(r.text)
    k1 = _chain_kept1(spark, sf_dir).collect()
    expected: dict[str, list[int]] = {}
    for r in k1:
        n, h = expected.setdefault(r.source, [0, 0])
        hit = bool(grams(r.text) & bench_grams)
        expected[r.source] = [n + 1, h + (1 if hit else 0)]
    got = QUERIES["q271_chain_retro_contam"](spark, sf_dir).collect()
    assert {r.source: [r.n_kept, r.n_retro_contaminated] for r in got} == expected


# --------------------------------------------------------------------------
# randomized batch-chain ≡ streamed-chain differential (seeded)
# --------------------------------------------------------------------------
def _rand_docs(rng, ids, pool, bench_pool):
    rows = []
    for i in ids:
        if i % 97 == 0:
            rows.append((i, f"s{rng.randint(1, 3)}", rng.choice(bench_pool)))
        else:
            rows.append((i, f"s{rng.randint(1, 3)}", rng.choice(pool)))
    return rows


def _suite(spark, df):
    return bounded_bench_grams(
        df.select(F.split("text", " ").alias("w")),
        F.array_distinct(word_ngrams("w", 8)),
    )


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_random_chain_batch_equals_streamed(spark, seed):
    """Seeded random two-refresh chains: the BATCH funnel
    (admission_core, the relation the q267-q271 oracles grade) and the
    STREAMED drain (stream_refresh_admission through real foreachBatch
    machinery) must produce identical verdicts AND identical packing
    for both links — duplicates across arrivals, bench collisions,
    quality failures and cross-batch dups all drawn at random. This is
    the q261≡q255 parity claim extended over the chain seam, on inputs
    neither path was tuned for."""
    import random

    from tp_integ_data_pipeline_spark.operators.admission import (
        ADMIT_IDX as _ADMIT_IDX,
        admission_core,
    )

    rng = random.Random(seed)
    vocab = [f"tok{i:02d}" for i in range(18)]

    def mktext(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    # small pools force duplicate texts within and across arrivals;
    # lengths straddle the too_short gate; one short-word text trips
    # the quality band sometimes
    pool = [mktext(rng.choice([3, 11, 12, 13, 14])) for _ in range(6)]
    bench_pool = [mktext(10), mktext(12)]
    kept_rows = [
        (1, "s1", 12, "kept one " + mktext(10)),
        (2, "s2", rng.randint(400, 600), "kept two " + mktext(10)),
    ]
    kept0 = spark.createDataFrame(
        kept_rows, "doc_id long, source string, n_words int, text string"
    )
    ids1 = sorted(rng.sample(range(100, 260), rng.randint(6, 9)) + [194])
    ids2 = sorted(rng.sample(range(300, 380), rng.randint(6, 9)) + [291])
    arrival1 = spark.createDataFrame(
        _rand_docs(rng, ids1, pool, bench_pool),
        "doc_id long, source string, text string",
    )
    # arrival2 reuses pool texts -> cross-refresh dups vs ADMITTED docs
    arrival2 = spark.createDataFrame(
        _rand_docs(rng, ids2, pool, bench_pool),
        "doc_id long, source string, text string",
    )
    b1 = spark.createDataFrame([(mktext(9),)], "text string").unionByName(
        arrival1.filter(F.col("doc_id") % 97 == 0).select("text")
    )

    def widen(df):
        return df.select(
            "doc_id", "source",
            F.lit("xx").alias("lang"),
            F.length("text").alias("n_chars"),
            "text",
        )

    cmp_cols = [
        "doc_id", "n_words", "dup_batch", "dup_corpus", "too_short",
        "low_quality", "contaminated", "stage_idx",
    ]

    def chain_link(arrival, kept, bench_docs, tokens_before):
        """Returns (batch rows, streamed rows, admitted-with-text) for
        one link, both sorted by doc_id, plus python-side packing check
        against the streamed seq columns."""
        batch = admission_core(widen(arrival), kept, _suite(spark, bench_docs))
        brows = sorted(batch.collect(), key=lambda r: r.doc_id)
        streamed = stream_refresh_admission(
            spark, arrival, kept, n_batches=3,
            arriving=arrival.select("doc_id", "source", "text"),
            bench_docs=bench_docs,
        )
        srows = sorted(streamed.collect(), key=lambda r: r.doc_id)
        assert [tuple(getattr(r, c) for c in cmp_cols) for r in brows] == [
            tuple(getattr(r, c) for c in cmp_cols) for r in srows
        ]
        pos = tokens_before
        for r in srows:
            if r.stage_idx == _ADMIT_IDX:
                assert (r.seq_id, r.seq_offset) == (pos // 512, pos % 512)
                pos += r.n_tokens
            else:
                assert r.seq_id is None and r.seq_offset is None
        admitted = (
            batch.filter(F.col("stage_idx") == _ADMIT_IDX)
            .select("doc_id", "source", "n_words")
            .join(arrival.select("doc_id", "text"), "doc_id")
            .select("doc_id", "source", "n_words", "text")
        )
        return admitted, pos

    tokens0 = sum(r[2] for r in kept_rows)
    adm1, pos1 = chain_link(arrival1, kept0, b1, tokens0)
    kept1 = kept0.unionByName(adm1).localCheckpoint(eager=True)
    b2 = b1.unionByName(
        arrival2.filter(F.col("doc_id") % 97 == 0).select("text")
    )
    # link 2 consumes link 1's grown corpus; offset continuity asserted
    # against pos1 (== tokens0 + link-1 admitted tokens)
    assert pos1 == tokens0 + sum(r.n_words for r in adm1.collect())
    chain_link(arrival2, kept1, b2, pos1)


def test_all_bench_and_all_rejected_batches_leave_state_unmoved(spark):
    """Micro-batches with NO admissible docs — an all-bench batch (the
    non-bench funnel relation is empty) and an all-rejected batch —
    must write their verdict rows yet leave the packing offset and
    seen-state semantics intact for later batches: the next admitted
    doc still lands exactly at the carried offset."""
    docs = spark.createDataFrame(
        [
            (97, "s1", _B1),                    # batch 1: all bench (97 % 97 == 0)
            (120, "s1", "too short text"),       # batch 2: all rejected
            (130, "s2", _CLEAN + " one"),        # batch 3: admitted
        ],
        "doc_id long, source string, text string",
    )
    kept = spark.createDataFrame(
        [(50, "s1", 500, "another kept doc")],
        "doc_id long, source string, n_words int, text string",
    )
    rows = {
        r.doc_id: r
        for r in stream_refresh_admission(
            spark, docs, kept, n_batches=3,
            arriving=docs.select("doc_id", "source", "text"),
            bench_docs=docs.filter(F.col("doc_id") % 97 == 0).select("text"),
        ).collect()
    }
    assert {d: r.stage_idx for d, r in rows.items()} == {97: 1, 120: 4, 130: 7}
    # three docs, three batches, none skipped
    assert sorted(r.batch_id for r in rows.values()) == [1, 2, 3]
    # the only admitted doc starts exactly at the kept offset: the
    # bench-only and rejected-only batches contributed zero tokens
    assert (rows[130].seq_id, rows[130].seq_offset) == (500 // 512, 500 % 512)
    assert rows[97].n_tokens is None and rows[120].n_tokens is None


def test_streamed_chain_reproduces_graded_chain_relations(spark, sf_dir):
    """The two-refresh chain driven entirely through the STREAMING
    drain on the real corpus reproduces the relations the oracles
    grade: each link's verdicts equal the batch chain's (q267's
    inputs), and the streamed packing slots equal q268's rows for
    that link — so the chain story holds end-to-end through real
    foreachBatch machinery, not just in the synthetic/randomized
    corpora."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES
    from tp_integ_data_pipeline_spark.plans.refresh_queries import (
        _chain_adm1,
        _chain_adm2,
        _chain_kept1,
        _exist_kept,
    )
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    hi = docs.agg(F.max("doc_id")).first()[0]
    m, m2 = hi // 2, 3 * (hi // 4)
    cmp_cols = [
        "doc_id", "n_words", "dup_batch", "dup_corpus", "too_short",
        "low_quality", "contaminated", "stage_idx",
    ]
    pack = {
        (r.refresh_id, r.doc_id): (r.n_tokens, r.seq_id, r.seq_offset)
        for r in QUERIES["q268_chain_packing"](spark, sf_dir).collect()
    }

    def check_link(rid, arrival, kept, bench_docs, batch_adm):
        streamed = sorted(
            stream_refresh_admission(
                spark, docs, kept, n_batches=3,
                arriving=arrival, bench_docs=bench_docs,
            ).collect(),
            key=lambda r: r.doc_id,
        )
        batch = sorted(batch_adm.collect(), key=lambda r: r.doc_id)
        assert [tuple(getattr(r, c) for c in cmp_cols) for r in streamed] == [
            tuple(getattr(r, c) for c in cmp_cols) for r in batch
        ]
        for r in streamed:
            if r.stage_idx == 7:
                assert pack[(rid, r.doc_id)] == (r.n_tokens, r.seq_id, r.seq_offset)

    check_link(
        1,
        docs.filter((F.col("doc_id") >= m) & (F.col("doc_id") < m2)),
        _exist_kept(spark, sf_dir),
        docs.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < m2)).select("text"),
        _chain_adm1(spark, sf_dir),
    )
    check_link(
        2,
        docs.filter(F.col("doc_id") >= m2),
        _chain_kept1(spark, sf_dir),
        docs.filter(F.col("doc_id") % 97 == 0).select("text"),
        _chain_adm2(spark, sf_dir),
    )
