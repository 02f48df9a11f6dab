"""Round-10 incremental corpus-refresh capstone (q255–q260):
first-fail admission attribution, consistency of the dedup probe with
the existing-kept corpus, mixture-report identities (capacity solve +
temperature target), the packing CONTINUATION property — batch-wise
packing with one integer of carried state is bit-identical to packing
the whole corpus at once — plus the batch waterfall's conservation
laws, the carry-state row closing the loop for refresh N+1, and the
retroactive-contamination sweep of a growing benchmark suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.plans.registry import QUERIES
from tp_integ_data_pipeline_spark.plans.curation import (
    ADMISSION_STAGES as _R_STAGES,
    ADMIT_IDX as _ADMIT_IDX,
    PACK_BUDGET as _PACK_BUDGET,
)
from tp_integ_data_pipeline_spark.plans.refresh_queries import _admission, _exist_kept
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_PRIORITY = [
    ("f_dup_batch", 2),
    ("f_dup_corpus", 3),
    ("f_short", 4),
    ("f_quality", 5),
    ("f_contam", 6),
]


def _mid(spark, sf_dir) -> int:
    return (
        load_table(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
        // 2
    )


def test_q255_first_fail_and_conservation(spark, sf_dir):
    rows = QUERIES["q255_refresh_admission"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    mid = _mid(spark, sf_dir)
    new_half = docs.where(F.col("doc_id") >= mid)
    # one row per arriving doc — admitted AND rejected both appear
    assert len(rows) == new_half.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    n_bench = new_half.where(F.col("doc_id") % 97 == 0).count()
    assert sum(1 for r in rows if r.stage_idx == 1) == n_bench
    for r in rows:
        flags = {c: getattr(r, c) for c, _ in _PRIORITY}
        assert r.n_fail == sum(flags.values())
        assert r.stage == _R_STAGES[r.stage_idx - 1]
        if r.stage_idx == 1:  # bench rows carry no verdict flags
            assert r.n_fail == 0 and r.admitted == 0
        elif r.stage_idx == _ADMIT_IDX:
            assert r.n_fail == 0 and r.admitted == 1
        else:  # first failing flag in pipeline order wins
            first = next(idx for c, idx in _PRIORITY if flags[c] == 1)
            assert r.stage_idx == first and r.admitted == 0


def test_q255_dup_corpus_matches_exist_kept(spark, sf_dir):
    """The dup_vs_corpus verdict is EXACTLY membership of the doc's
    text in the existing-kept corpus — the q109 ingest-dedup decision,
    doc for doc."""
    kept_texts = {r.text for r in _exist_kept(spark, sf_dir).collect()}
    adm = _admission(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in adm:
        if not r.is_bench:
            assert r.dup_corpus == (docs[r.doc_id] in kept_texts)


def test_q256_mixture_identities(spark, sf_dir):
    rows = QUERIES["q256_refresh_mixture"](spark, sf_dir).collect()
    assert all(r.n_after == r.n_before + r.n_added for r in rows)
    assert all(r.n_after >= 1 for r in rows)  # a listed source has mass
    assert abs(sum(r.share_after for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.target_share for r in rows) - 1.0) < 1e-4
    # capacity solve: the smallest source keeps everything, every
    # keep_frac is a valid fraction, and keep_frac shrinks as the
    # source grows (sqrt(min_n / n) is decreasing in n)
    assert all(0.0 < r.keep_frac <= 1.0 for r in rows)
    smallest = min(rows, key=lambda r: r.n_after)
    assert smallest.keep_frac == 1.0
    by_size = sorted(rows, key=lambda r: r.n_after)
    for a, b in zip(by_size, by_size[1:]):
        assert a.keep_frac >= b.keep_frac
    # drift telescopes: deltas sum to ~0 (both share columns sum to 1)
    assert abs(sum(r.share_delta for r in rows)) < 1e-4


def test_q257_continuation_bit_identical(spark, sf_dir):
    """THE carried-state contract (operators/packing.py): packing the
    admitted batch with start_offset = yesterday's token total must
    give the SAME (seq_id, seq_offset) per doc as packing yesterday's
    corpus and the batch together in one shot."""
    from tp_integ_data_pipeline_spark.operators.packing import pack_sequences

    kept = _exist_kept(spark, sf_dir).select("doc_id", "n_words")
    admitted = (
        _admission(spark, sf_dir)
        .filter(F.col("stage_idx") == _ADMIT_IDX)
        .select("doc_id", "n_words")
    )
    whole = pack_sequences(
        kept.unionByName(admitted), _PACK_BUDGET, token_count_col="n_words"
    )
    mid = _mid(spark, sf_dir)
    whole_batch_part = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in whole.where(F.col("doc_id") >= mid).collect()
    }
    got = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in QUERIES["q257_refresh_packing"](spark, sf_dir).collect()
    }
    assert got == whole_batch_part


def test_q257_geometry_and_carried_offset(spark, sf_dir):
    rows = sorted(
        QUERIES["q257_refresh_packing"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    off0 = (
        _exist_kept(spark, sf_dir).agg(F.sum("n_words")).first()[0] or 0
    )
    assert rows, "refresh admitted nothing — corpus fixture degenerated"
    # the first admitted doc lands exactly where yesterday stopped
    assert rows[0].seq_id == off0 // _PACK_BUDGET
    assert rows[0].seq_offset == off0 % _PACK_BUDGET
    # offsets are in-range and the layout is the running token sum
    pos = off0
    for r in rows:
        assert 0 <= r.seq_offset < _PACK_BUDGET
        assert r.seq_id == pos // _PACK_BUDGET
        assert r.seq_offset == pos % _PACK_BUDGET
        pos += r.n_tokens


def test_refresh_empty_existing_half_matches_oracle(spark, tmp_path):
    """max(doc_id)=1 → mid=0 → the standing corpus is EMPTY: nothing
    is dup_vs_corpus, the carried offset is 0, and packing starts at
    sequence 0 — verified against the DuckDB oracle on both q255 and
    q257 (the first-ever-refresh boundary)."""
    import duckdb

    from tp_integ_data_pipeline_spark.plans.registry import ORACLES

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s1", 50),
            (1, "one two three four five six seven eight nine ten eleven", "en", "s1", 46),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    for qname in (
        "q255_refresh_admission",
        "q256_refresh_mixture",  # tb=0: share_before pinned 0.0, no throw
        "q257_refresh_packing",
    ):
        got = [tuple(r) for r in QUERIES[qname](spark, str(tmp_path)).collect()]
        exp = [tuple(r) for r in con.execute(ORACLES[qname]).fetchall()]
        assert got == exp, qname
    # doc 0 is bench (0 % 97 == 0); doc 1 arrives at an empty corpus
    adm = {r.doc_id: r for r in QUERIES["q255_refresh_admission"](spark, str(tmp_path)).collect()}
    assert adm[0].stage_idx == 1
    assert adm[1].f_dup_corpus == 0 and adm[1].admitted == 1
    pack = QUERIES["q257_refresh_packing"](spark, str(tmp_path)).collect()
    assert len(pack) == 1 and pack[0].seq_id == 0 and pack[0].seq_offset == 0


def test_q258_waterfall_conservation_and_stage_stability(spark, sf_dir):
    rows = QUERIES["q258_refresh_waterfall"](spark, sf_dir).collect()
    # stage-stable from birth: all 7 admission stages, every corpus
    assert sorted(r.stage_idx for r in rows) == list(range(1, _ADMIT_IDX + 1))
    mid = _mid(spark, sf_dir)
    n_batch = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") >= mid)
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_batch
    prev = n_batch
    for r in sorted(rows, key=lambda r: r.stage_idx):
        assert r.stage == _R_STAGES[r.stage_idx - 1]
        if r.stage_idx < _ADMIT_IDX:
            assert r.n_remaining == prev - r.n_docs
            prev = r.n_remaining
        else:
            assert r.n_remaining == r.n_docs == prev
    # the waterfall is q255's per-doc relation rolled up, stage by stage
    per_doc = QUERIES["q255_refresh_admission"](spark, sf_dir).collect()
    from collections import Counter

    counts = Counter(r.stage_idx for r in per_doc)
    assert {r.stage_idx: r.n_docs for r in rows} == {
        i: counts.get(i, 0) for i in range(1, _ADMIT_IDX + 1)
    }


def test_q259_carry_state_closes_the_loop(spark, sf_dir):
    """The emitted carry state must be EXACTLY what re-running the
    packing tomorrow needs: next_start_offset equals yesterday's
    offset plus this batch's packed tokens, and the boundary geometry
    matches q257's last doc."""
    st = QUERIES["q259_refresh_carry_state"](spark, sf_dir).collect()
    assert len(st) == 1
    s = st[0]
    assert s.n_batch == s.n_bench_held + s.n_rejected + s.n_admitted
    assert s.next_start_offset == s.tokens_before + s.tokens_admitted
    assert s.n_seqs_complete == s.next_start_offset // _PACK_BUDGET
    assert s.boundary_fill == s.next_start_offset % _PACK_BUDGET
    packed = QUERIES["q257_refresh_packing"](spark, sf_dir).collect()
    assert s.n_admitted == len(packed)
    assert s.tokens_admitted == sum(r.n_tokens for r in packed)
    if packed:
        last = max(packed, key=lambda r: r.doc_id)
        end = last.seq_id * _PACK_BUDGET + last.seq_offset + last.n_tokens
        assert end == s.next_start_offset
    # and against q255's counts
    adm_rows = QUERIES["q255_refresh_admission"](spark, sf_dir).collect()
    assert s.n_batch == len(adm_rows)
    assert s.n_admitted == sum(r.admitted for r in adm_rows)
    assert s.n_bench_held == sum(1 for r in adm_rows if r.stage_idx == 1)


def test_q260_retro_contam_semantics(spark, sf_dir):
    """A retro-contaminated doc REALLY shares an 8-gram with some
    new-half bench doc, and a clean doc shares none — recomputed
    row-by-row in Python against the raw corpus."""
    rows = QUERIES["q260_refresh_retro_contam"](spark, sf_dir).collect()
    kept = _exist_kept(spark, sf_dir).collect()
    assert {r.source: r.n_kept for r in rows} == {
        s: n
        for s, n in __import__("collections")
        .Counter(k.source for k in kept)
        .items()
    }
    mid = _mid(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").collect()

    def grams(text):
        w = text.split(" ")
        return {
            " ".join(w[i : i + 8]) for i in range(max(len(w) - 7, 0))
        }

    new_bench_grams = set()
    for d in docs:
        if d.doc_id >= mid and d.doc_id % 97 == 0:
            new_bench_grams |= grams(d.text)
    retro_by_source = {}
    for k in kept:
        if grams(k.text) & new_bench_grams:
            retro_by_source[k.source] = retro_by_source.get(k.source, 0) + 1
    assert {r.source: r.n_retro_contaminated for r in rows if r.n_retro_contaminated} == retro_by_source
    for r in rows:
        assert abs(r.retro_rate - round(r.n_retro_contaminated / r.n_kept, 6)) < 1e-9


def test_q260_no_new_bench_means_no_retro(spark, tmp_path):
    """A refresh whose batch carries no new eval docs cannot
    retroactively contaminate anything (and yesterday's suite can't
    either — kept docs were already screened against it)."""
    # ids 0..7: mid=3; existing half {0,1,2} (0 is bench; 1-2 kept —
    # their texts share NO 8-gram with doc 0, so yesterday's suite
    # doesn't touch them); new half {3..7} holds NO bench id (%97==0)
    # — the arriving suite is empty
    rows_in = [
        (i, " ".join(f"w{i}word{j}" for j in range(12)), "en", f"s{i % 2}", 60)
        for i in range(8)
    ]
    docs = spark.createDataFrame(
        rows_in,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["q260_refresh_retro_contam"](spark, str(tmp_path)).collect()
    assert rows and all(r.n_retro_contaminated == 0 and r.retro_rate == 0.0 for r in rows)


def test_q260_new_suite_grams_carry_the_suite_guard(spark, monkeypatch):
    """The retroactive sweep (q260, q266, q271) broadcasts the new
    suite's grams through the suite-size guard: over the bound the
    report fails loudly. Collected, not counted — under count()
    Catalyst prunes the gram semi-join and the guard with it."""
    import pytest

    from tp_integ_data_pipeline_spark.plans import curation
    from tp_integ_data_pipeline_spark.plans.refresh_queries import _retro_contam_report

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    kept = spark.createDataFrame(
        [(1, "s1", text), (2, "s2", "one two three")], "doc_id long, source string, text string"
    )
    new_bench = spark.createDataFrame([(text,)], "text string").select(
        F.split("text", " ").alias("w")
    )
    monkeypatch.setattr(curation, "MAX_BENCH_SUITE_DOCS", 0)
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION"):
        _retro_contam_report(kept, new_bench).collect()
