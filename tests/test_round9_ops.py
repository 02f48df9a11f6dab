"""Round-9 filter-funnel provenance family (q248–q253): conservation
laws of the waterfall, first-fail attribution, overlap/marginal
identities, threshold monotonicity, and cross-operator consistency
with the components each stage reuses (q93 decontam, q94 quality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.plans.registry import QUERIES
from tp_integ_data_pipeline_spark.plans.curation import FUNNEL_STAGES as _STAGES, KEPT_IDX as _KEPT_IDX
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

_PRIORITY = [("f_dup", 2), ("f_short", 3), ("f_quality", 4), ("f_contam", 5)]


def _input_count(spark, sf_dir) -> int:
    return load_table(spark, sf_dir, "documents").count()


def test_q248_waterfall_conservation(spark, sf_dir):
    rows = QUERIES["q248_filter_funnel"](spark, sf_dir).collect()
    total = _input_count(spark, sf_dir)
    assert sum(r.n_docs for r in rows) == total
    # stage-stable output (r9 ADVICE): ALL stages present, every run
    assert sorted(r.stage_idx for r in rows) == list(range(1, _KEPT_IDX + 1))
    by_idx = {r.stage_idx: r for r in rows}
    # stage names resolve from the shared constant list
    assert all(r.stage == _STAGES[r.stage_idx - 1] for r in rows)
    # remainder telescopes: each stage's n_remaining = previous - drop
    prev = total
    for r in sorted(rows, key=lambda r: r.stage_idx):
        if r.stage_idx < _KEPT_IDX:
            assert r.n_remaining == prev - r.n_docs
            prev = r.n_remaining
        else:
            assert r.n_remaining == r.n_docs == prev
    # bench holdout is exactly the doc_id % 97 == 0 slice
    bench = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 97 == 0)
        .count()
    )
    assert by_idx[1].n_docs == bench


def test_q249_first_fail_attribution(spark, sf_dir):
    rows = QUERIES["q249_drop_attribution"](spark, sf_dir).collect()
    assert len({r.doc_id for r in rows}) == len(rows)  # one verdict per doc
    for r in rows:
        flags = {c: getattr(r, c) for c, _ in _PRIORITY}
        assert r.n_fail == sum(flags.values()) >= 1
        first = next(idx for c, idx in _PRIORITY if flags[c] == 1)
        assert r.stage_idx == first
        assert r.stage == _STAGES[r.stage_idx - 1]


def test_q251_overlap_partitions_corpus(spark, sf_dir):
    rows = QUERIES["q251_stage_overlap"](spark, sf_dir).collect()
    n_corpus = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 97 != 0)
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_corpus
    for r in rows:
        assert r.fail_mask == (
            r.f_dup * 8 + r.f_short * 4 + r.f_quality * 2 + r.f_contam
        )
    masks = [r.fail_mask for r in rows]
    assert len(set(masks)) == len(masks)


def test_q252_attribution_identities(spark, sf_dir):
    rows = QUERIES["q252_marginal_attribution"](spark, sf_dir).collect()
    assert [r.stage_idx for r in rows] == [2, 3, 4, 5]
    for r in rows:
        # every flagged doc is attributed here or upstream — never lost
        assert r.n_flagged == r.n_attributed + r.n_shadowed
        assert r.n_unique <= r.n_attributed
    # attributed kills across stages = total dropped non-bench docs
    # (q248 is stage-stable, so zero-drop stages compare as 0 == 0)
    dropped = {
        r.stage_idx: r.n_docs
        for r in QUERIES["q248_filter_funnel"](spark, sf_dir).collect()
        if 2 <= r.stage_idx <= 5
    }
    assert {r.stage_idx: r.n_attributed for r in rows} == dropped


def test_q253_monotone_and_consistent_with_funnel(spark, sf_dir):
    rows = sorted(
        QUERIES["q253_threshold_sensitivity"](spark, sf_dir).collect(),
        key=lambda r: r.min_words,
    )
    for a, b in zip(rows, rows[1:]):
        assert a.n_too_short <= b.n_too_short
        assert a.n_kept >= b.n_kept
    # at the pipeline's own threshold (10) the sweep reproduces the
    # funnel's kept count exactly
    kept = next(
        r.n_docs
        for r in QUERIES["q248_filter_funnel"](spark, sf_dir).collect()
        if r.stage_idx == _KEPT_IDX
    )
    assert next(r.n_kept for r in rows if r.min_words == 10) == kept


def test_contaminated_total_matches_q93(spark, sf_dir):
    """The funnel's contamination verdict is q93's, doc for doc."""
    funnel_contam = (
        QUERIES["q251_stage_overlap"](spark, sf_dir)
        .where(F.col("f_contam") == 1)
        .agg(F.sum("n_docs"))
        .collect()[0][0]
        or 0
    )
    q93_contam = (
        QUERIES["q93_decontam"](spark, sf_dir)
        .agg(F.sum("n_contaminated"))
        .collect()[0][0]
        or 0
    )
    assert funnel_contam == q93_contam


def test_q254_drift_consistent_with_waterfall(spark, sf_dir):
    """Per-stage n_old + n_new must reproduce q248's stage totals;
    rates are per-half fractions summing to ~1 across stages."""
    drift = QUERIES["q254_funnel_drift"](spark, sf_dir).collect()
    stage_totals = {
        r.stage_idx: r.n_docs
        for r in QUERIES["q248_filter_funnel"](spark, sf_dir).collect()
    }
    assert {r.stage_idx: r.n_old + r.n_new for r in drift} == stage_totals
    assert abs(sum(r.rate_old for r in drift) - 1.0) < 1e-4
    assert abs(sum(r.rate_new for r in drift) - 1.0) < 1e-4
    for r in drift:
        assert abs(r.rate_delta - round(r.rate_new - r.rate_old, 6)) < 1e-9


def test_q254_empty_half_matches_oracle(spark, tmp_path):
    """A shard whose ids all land in one half of the split (here
    max(doc_id)=1 → mid=0 → old half EMPTY) must pin the empty half's
    rates to 0.0 on BOTH engines instead of Spark throwing ANSI
    DIVIDE_BY_ZERO where DuckDB returns NULL."""
    import duckdb

    from tp_integ_data_pipeline_spark.plans.registry import ORACLES

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l", "en", "s", 23)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    got = [
        (r.stage_idx, r.n_old, r.n_new, r.rate_old, r.rate_new, r.rate_delta)
        for r in QUERIES["q254_funnel_drift"](spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    exp = [
        (si, no, nn, ro, rn, rd)
        for si, _stage, no, nn, ro, rn, rd in con.execute(
            ORACLES["q254_funnel_drift"]
        ).fetchall()
    ]
    assert got == exp
    assert got[0][3] == 0.0  # empty old half pinned, not NULL/throw


def test_funnel_no_bench_slice(spark, tmp_path):
    """A corpus with NO doc_id % 97 == 0 docs has an empty benchmark:
    the gram broadcast is empty, nothing is contaminated, and the
    waterfall's bench_holdout row reads ZERO — present but empty, the
    stage-stable contract (r9 ADVICE: a monitor diffing runs sees a
    rate move through 0, not a row disappear). The boundary a small
    shard of a 100 TB corpus hits routinely."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s1", 50),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s1", 50),
            (3, "one two three", "en", "s2", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    rows = {r.stage_idx: r for r in QUERIES["q248_filter_funnel"](spark, str(tmp_path)).collect()}
    assert sorted(rows) == list(range(1, _KEPT_IDX + 1))  # stage-stable
    assert rows[1].n_docs == 0 and rows[1].n_chars == 0  # empty, not absent
    assert rows[1].n_remaining == 3  # zero-drop stage leaves the remainder flat
    assert rows[2].n_docs == 1  # doc 2 is the exact dup of doc 1
    assert rows[3].n_docs == 1  # doc 3 too short
    assert rows[_KEPT_IDX].n_docs == 1
    overlap = QUERIES["q251_stage_overlap"](spark, str(tmp_path)).collect()
    assert all(r.f_contam == 0 for r in overlap)


def test_funnel_all_bench_corpus(spark, tmp_path):
    """Every doc in the eval suite: the corpus-side verdict relation is
    empty, the waterfall is bench_holdout=2 plus five zero rows
    (stage-stable), and the doc-level attribution report is empty."""
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l", "en", "s", 23), (97, "m n o p q r s t u v w x", "en", "s", 23)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    rows = sorted(
        QUERIES["q248_filter_funnel"](spark, str(tmp_path)).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage_idx for r in rows] == list(range(1, _KEPT_IDX + 1))
    assert rows[0].n_docs == 2 and rows[0].n_remaining == 0
    assert all(r.n_docs == 0 and r.n_remaining == 0 for r in rows[1:])
    assert QUERIES["q249_drop_attribution"](spark, str(tmp_path)).count() == 0


def test_stage_stable_reports(spark, sf_dir):
    """r9 ADVICE regression: the three stage-keyed funnel reports are
    schema- AND row-set-stable monitoring artifacts — q248/q254 emit
    exactly one row per pipeline stage, q250 exactly 6·|sources|,
    regardless of which stages actually dropped docs on this corpus."""
    n_stages = _KEPT_IDX
    assert sorted(
        r.stage_idx for r in QUERIES["q248_filter_funnel"](spark, sf_dir).collect()
    ) == list(range(1, n_stages + 1))
    assert sorted(
        r.stage_idx for r in QUERIES["q254_funnel_drift"](spark, sf_dir).collect()
    ) == list(range(1, n_stages + 1))
    per_source = QUERIES["q250_source_loss_waterfall"](spark, sf_dir).collect()
    sources = {r.source for r in per_source}
    assert len(per_source) == n_stages * len(sources)
    for src in sources:
        assert sorted(
            r.stage_idx for r in per_source if r.source == src
        ) == list(range(1, n_stages + 1))


def test_q254_plan_construction_is_lazy(spark, sf_dir, monkeypatch):
    """r9 verdict item 5 regression: building the q254 plan must not
    run a Spark job — the split point is a lazy 1-row broadcast, not a
    driver-side first() pull. Every DataFrame action raises during
    construction; only materializing the returned plan may act."""
    import pyspark.sql.classic.dataframe as D

    def boom(self, *a, **k):
        raise AssertionError("DataFrame action during q254 plan construction")

    for name in ("collect", "first", "head", "take", "count", "toPandas"):
        monkeypatch.setattr(D.DataFrame, name, boom)
    df = QUERIES["q254_funnel_drift"](spark, sf_dir)
    monkeypatch.undo()
    assert df.count() == _KEPT_IDX


def test_q250_source_waterfall_slices_q248(spark, sf_dir):
    """Summing the per-source waterfall over sources reproduces the
    global waterfall's doc and char mass per stage."""
    per_source = (
        QUERIES["q250_source_loss_waterfall"](spark, sf_dir)
        .groupBy("stage_idx")
        .agg(F.sum("n_docs").alias("n_docs"), F.sum("n_chars").alias("n_chars"))
        .collect()
    )
    global_rows = {
        r.stage_idx: (r.n_docs, r.n_chars)
        for r in QUERIES["q248_filter_funnel"](spark, sf_dir).collect()
    }
    assert {r.stage_idx: (r.n_docs, r.n_chars) for r in per_source} == global_rows


def test_funnel_bench_grams_carry_the_suite_guard(spark, monkeypatch):
    """The one-shot funnel broadcasts its benchmark grams through the
    same suite-size guard as every refresh path: over the bound the
    query fails loudly. Collected, not counted — under count() Catalyst
    prunes the contamination join, so no guard runs on any path."""
    import pytest

    from tp_integ_data_pipeline_spark.plans import curation
    from tp_integ_data_pipeline_spark.plans.refresh_queries import funnel_verdicts

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(0, text, "en", "s1", 55), (1, text, "en", "s1", 55), (2, "one two", "en", "s2", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(curation, "MAX_BENCH_SUITE_DOCS", 0)
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION"):
        funnel_verdicts(docs).select("doc_id", "contaminated", "stage_idx").collect()
