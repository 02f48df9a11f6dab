"""Round-13: the chain generalized and composed with crash recovery.

1. K-link chain induction (r12 verdict item 2): q267-q271 and the
   round-12 randomized differential prove the chain for exactly TWO
   links; the induction argument covers N by construction but nothing
   caught state that survives one handoff and corrupts the second.
   Here seeded random chains run K=4 refresh links where every link's
   "before" state is derived ONLY from the previous link's emitted
   artifacts — the grown kept corpus, the grown benchmark suite, and
   the carry row threaded through _carry_report_from_scalars — and
   each link is checked three ways: BATCH (admission_core) ≡ STREAMED
   (stream_refresh_admission through real foreachBatch machinery) ≡ a
   row-by-row pure-Python replay of the funnel (the one-shot oracle
   over all K arrivals: packing positions accumulate in one continuous
   Python counter, corpus/suite membership accumulate in Python sets).

2. Chained restart (r12 verdict item 5): crash recovery was proven
   within one drain; this composes it with the chain seams — link 1 is
   killed mid-drain (on both sides of the marker commit), recovered,
   completed, and link 2 runs from the RECOVERED link-1 artifacts; the
   whole two-link output must equal the clean never-crashed chain,
   packing columns included.

Reference anchor: main.py:80-114 (the unbounded periodic re-run this
chain models).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.admission import (
    MEAN_WORDLEN_HI,
    MEAN_WORDLEN_LO,
    MIN_DISTINCT_RATIO,
    MIN_WORDS,
    PACK_BUDGET,
    admission_core,
    bounded_bench_grams,
)
from tp_integ_data_pipeline_spark.operators.admission import ADMIT_IDX as _ADMIT_IDX
from tp_integ_data_pipeline_spark.operators.text import word_ngrams
from tp_integ_data_pipeline_spark.plans.refresh_queries import _carry_report_from_scalars
from tp_integ_data_pipeline_spark.sources.fixtures import scratch_dir
from tp_integ_data_pipeline_spark.streaming.refresh import (
    run_refresh_drain,
    split_arrival,
    stage_arrival,
    stream_refresh_admission,
)

_FLAG_COLS = [
    "n_words", "dup_batch", "dup_corpus", "too_short",
    "low_quality", "contaminated", "stage_idx",
]


def _suite_grams(spark, texts_df):
    return bounded_bench_grams(
        texts_df.select(F.split("text", " ").alias("w")),
        F.array_distinct(word_ngrams("w", 8)),
    ).localCheckpoint(eager=True)


def _grams8(text: str) -> set:
    w = text.split(" ")
    return (
        {" ".join(w[i : i + 8]) for i in range(len(w) - 7)}
        if len(w) >= 8
        else set()
    )


def _py_funnel(rows, corpus_texts, suite_grams):
    """Independent pure-Python replay of the admission funnel over one
    arrival: {doc_id: (n_words, dup_batch, dup_corpus, too_short,
    low_quality, contaminated, stage_idx)}. Mirrors admission_core's
    definitions, not its code — the one-shot oracle the K-link chain
    is graded against."""
    out = {}
    seen = set()
    for d, _s, t in sorted(rows):
        w = t.split(" ")
        n = len(w)
        if d % 97 == 0:
            out[d] = (n, False, False, False, False, False, 1)
            continue
        dup_batch = t in seen
        seen.add(t)
        dup_corpus = t in corpus_texts
        too_short = n < MIN_WORDS
        mean_wl = sum(len(x) for x in w) / n
        dr = len(set(w)) / n
        low_q = not (
            MEAN_WORDLEN_LO <= mean_wl <= MEAN_WORDLEN_HI
            and dr >= MIN_DISTINCT_RATIO
        )
        contam = bool(_grams8(t) & suite_grams)
        stage = (
            2 if dup_batch else 3 if dup_corpus else 4 if too_short
            else 5 if low_q else 6 if contam else 7
        )
        out[d] = (n, dup_batch, dup_corpus, too_short, low_q, contam, stage)
    return out


def _rand_docs(rng, ids, pool, bench_pool):
    return [
        (
            i,
            f"s{rng.randint(1, 3)}",
            rng.choice(bench_pool if i % 97 == 0 else pool),
        )
        for i in ids
    ]


@pytest.mark.parametrize("seed", [11, 47, 83])
def test_k_link_random_chain_batch_streamed_python(spark, seed):
    """K=4 randomized refresh links, each consuming ONLY the previous
    link's emitted artifacts. Per link: batch funnel ≡ streamed drain
    ≡ Python replay (verdicts and flags), streamed packing slots equal
    the ONE continuous Python position counter started at the original
    corpus total (the one-shot layout over all K arrivals), and the
    carry row threaded through _carry_report_from_scalars — "before"
    fields derived from the previous carry row, never a rescan — must
    at every link equal the Python-side from-scratch bookkeeping."""
    K = 4
    rng = random.Random(seed)
    vocab = [f"tok{i:02d}" for i in range(18)]

    def mktext(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    # small pools force duplicates within and ACROSS links; one pool
    # text embeds a bench text so contamination fires; lengths straddle
    # the too_short gate
    bench_pool = [mktext(10), mktext(12)]
    pool = [mktext(rng.choice([3, 11, 12, 13, 14])) for _ in range(8)]
    pool.append("lead in " + bench_pool[0])

    kept_rows = [
        (1, "s1", 12, "kept one " + mktext(10)),
        (2, "s2", rng.randint(400, 600), "kept two " + mktext(10)),
    ]
    kept = spark.createDataFrame(
        kept_rows, "doc_id long, source string, n_words int, text string"
    )
    corpus_texts = {r[3] for r in kept_rows}
    n_kept = len(kept_rows)
    pos = sum(r[2] for r in kept_rows)

    warm = mktext(9)
    suite_df = spark.createDataFrame([(warm,)], "text string")
    suite_grams = _grams8(warm)
    carry = None  # previous link's carry row (DataFrame), the handoff

    bench_ids = [194, 388, 582, 776]
    for link in range(1, K + 1):
        lo = 100 + 200 * (link - 1)
        ids = sorted(
            set(rng.sample(range(lo, lo + 160), rng.randint(6, 9)))
            | {bench_ids[link - 1]}
        )
        rows = _rand_docs(rng, ids, pool, bench_pool)
        arrival = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        # the suite for link N includes the bench docs link N delivers
        suite_df = suite_df.unionByName(
            arrival.filter(F.col("doc_id") % 97 == 0).select("text")
        ).localCheckpoint(eager=True)
        for d, _s, t in rows:
            if d % 97 == 0:
                suite_grams |= _grams8(t)

        expected = _py_funnel(rows, corpus_texts, suite_grams)

        widened = arrival.select(
            "doc_id", "source", F.lit("xx").alias("lang"),
            F.length("text").alias("n_chars"), "text",
        )
        batch = admission_core(
            widened, kept, _suite_grams(spark, suite_df)
        ).localCheckpoint(eager=True)
        streamed = stream_refresh_admission(
            spark, arrival, kept, n_batches=3,
            arriving=arrival.select("doc_id", "source", "text"),
            bench_docs=suite_df,
        )
        brows = sorted(batch.collect(), key=lambda r: r.doc_id)
        srows = sorted(streamed.collect(), key=lambda r: r.doc_id)
        got_b = {
            r.doc_id: tuple(getattr(r, c) for c in _FLAG_COLS) for r in brows
        }
        got_s = {
            r.doc_id: tuple(getattr(r, c) for c in _FLAG_COLS) for r in srows
        }
        assert got_b == expected, f"batch != python at link {link}"
        assert got_s == expected, f"streamed != python at link {link}"

        # streamed packing = the one continuous Python counter
        link_tokens = 0
        for r in srows:
            if r.stage_idx == _ADMIT_IDX:
                assert (r.seq_id, r.seq_offset) == (
                    pos // PACK_BUDGET, pos % PACK_BUDGET,
                ), f"packing drift at link {link}"
                pos += r.n_tokens
                link_tokens += r.n_tokens
            else:
                assert r.seq_id is None and r.seq_offset is None

        # carry row: "before" fields from the PREVIOUS carry row only
        if carry is None:
            k_scalars = kept.agg(
                F.count(F.lit(1)).cast("long").alias("n_kept_before"),
                F.coalesce(F.sum("n_words"), F.lit(0))
                .cast("long")
                .alias("tokens_before"),
            )
        else:
            k_scalars = carry.select(
                (F.col("n_kept_before") + F.col("n_admitted"))
                .cast("long")
                .alias("n_kept_before"),
                F.col("next_start_offset").cast("long").alias("tokens_before"),
            )
        carry = _carry_report_from_scalars(k_scalars, batch).localCheckpoint(
            eager=True
        )
        c = carry.collect()[0]
        stages = [v[6] for v in expected.values()]
        adm = [d for d, v in expected.items() if v[6] == _ADMIT_IDX]
        assert (
            c.n_kept_before, c.n_batch, c.n_bench_held, c.n_rejected,
            c.n_admitted, c.tokens_admitted, c.next_start_offset,
            c.n_seqs_complete, c.boundary_fill,
        ) == (
            n_kept, len(rows), stages.count(1),
            sum(1 for s in stages if 2 <= s <= 6), len(adm),
            link_tokens, pos, pos // PACK_BUDGET, pos % PACK_BUDGET,
        ), f"carry row drift at link {link}"

        # grow the corpus from the link's EMITTED admissions alone
        admitted = (
            batch.filter(F.col("stage_idx") == _ADMIT_IDX)
            .select("doc_id", "source", "n_words")
            .join(arrival.select("doc_id", "text"), "doc_id")
            .select("doc_id", "source", "n_words", "text")
        )
        kept = kept.unionByName(admitted).localCheckpoint(eager=True)
        n_kept += len(adm)
        for d, _s, t in rows:
            if d in adm:
                corpus_texts.add(t)


_CLEAN = "alpha bravo chars delta echos foxtr golfs hotel india julie kilos limas"
_B1 = "secret bench marker words eight exact tokens lineup plus extra tail words"
_B2 = "novel second suite marker eight fresh exact tokens lineup with more words"


def _stage(spark, rows, n_batches):
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    return stage_arrival(split_arrival(df, n_batches), n_batches)


@pytest.mark.parametrize(
    "crash_phase", ["after_sink_write", "after_commit_marker"]
)
def test_chained_restart_composes_with_chain(spark, crash_phase):
    """Kill link 1 mid-drain (on the chosen side of the marker-commit
    point), recover and complete link 1 with the same dirs, then run
    link 2 entirely from the RECOVERED link-1 artifacts (grown kept
    texts, grown suite, carried token offset). Every relation — link
    1's rows, the recovered offset, and link 2's verdicts AND packing
    — must equal the clean never-crashed two-link chain, i.e. crash
    recovery composes with the chain seams (r12 verdict item 5)."""
    arrival1 = [
        (100, "s1", _CLEAN + " one"),   # admitted
        (104, "s2", _CLEAN + " two"),   # admitted
        (108, "s1", "too short text"),  # rejected: too_short
        (194, "s1", _B1),               # bench doc grows the suite
    ]
    arrival2 = [
        (200, "s1", _CLEAN + " one"),   # dup_corpus: admitted in link 1
        (204, "s2", "too short text"),  # NOT dup (108 was rejected)
        (208, "s1", "prefix words then " + " ".join(_B1.split()[:8]) + " done"),
        # ^ embeds _B1's first 8-gram -> contaminated via link-1 suite
        (212, "s2", _CLEAN + " four"),  # admitted
        (291, "s1", _B2),               # bench doc (291 % 97 == 0)
    ]
    kept0_texts = spark.createDataFrame(
        [("another kept doc",)], "text string"
    ).localCheckpoint(eager=True)
    tokens0 = 500
    staging1 = _stage(spark, arrival1, 3)
    staging2 = _stage(spark, arrival2, 3)
    suite1 = _suite_grams(
        spark,
        spark.createDataFrame(
            [(t,) for d, _s, t in arrival1 if d % 97 == 0], "text string"
        ),
    )

    def link2_inputs(r1_rows, arr1_df):
        """Link 2's standing state from link 1's emitted rows alone."""
        adm_ids = [r.doc_id for r in r1_rows if r.stage_idx == _ADMIT_IDX]
        kept1 = kept0_texts.unionByName(
            arr1_df.filter(F.col("doc_id").isin(adm_ids)).select("text")
        ).localCheckpoint(eager=True)
        tokens1 = tokens0 + sum(
            r.n_tokens for r in r1_rows if r.stage_idx == _ADMIT_IDX
        )
        suite2 = _suite_grams(
            spark,
            spark.createDataFrame(
                [(t,) for d, _s, t in arrival1 + arrival2 if d % 97 == 0],
                "text string",
            ),
        )
        return kept1, suite2, tokens1

    arr1_df = spark.createDataFrame(
        arrival1, "doc_id long, source string, text string"
    )
    # ---- the clean chain (never crashed) ----
    ref1 = sorted(
        run_refresh_drain(spark, staging1, kept0_texts, suite1, tokens0)
        .collect()
    )
    kept1, suite2, tokens1 = link2_inputs(ref1, arr1_df)
    ref2 = sorted(
        run_refresh_drain(spark, staging2, kept1, suite2, tokens1).collect()
    )

    # ---- link 1 crashes mid-drain, recovers, completes ----
    sink = scratch_dir(prefix="chain_crash_sink_")
    ckpt = scratch_dir(prefix="chain_crash_ckpt_")
    fired = []

    def boom(epoch_id: int, phase: str) -> None:
        if phase == crash_phase and epoch_id == 1 and not fired:
            fired.append(epoch_id)
            raise RuntimeError("injected crash")

    with pytest.raises(Exception, match="injected crash"):
        run_refresh_drain(
            spark, staging1, kept0_texts, suite1, tokens0,
            sink=sink, ckpt=ckpt, fault_hook=boom,
        )
    assert fired == [1]
    rec1 = sorted(
        run_refresh_drain(
            spark, staging1, kept0_texts, suite1, tokens0,
            sink=sink, ckpt=ckpt,
        ).collect()
    )
    assert rec1 == ref1

    # ---- link 2 from the RECOVERED artifacts ----
    kept1_rec, suite2_rec, tokens1_rec = link2_inputs(rec1, arr1_df)
    assert tokens1_rec == tokens1
    rec2 = sorted(
        run_refresh_drain(
            spark, staging2, kept1_rec, suite2_rec, tokens1_rec
        ).collect()
    )
    assert rec2 == ref2
    # the chain semantics really fired in link 2 (not a vacuous match)
    s2 = {r.doc_id: r.stage_idx for r in rec2}
    assert s2 == {200: 3, 204: 4, 208: 6, 212: 7, 291: 1}
