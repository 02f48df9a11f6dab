"""Boundary semantics for the corpus-curation operators
(plans/curation.py, operators/admission.py, operators/text.word_ngrams):
n-gram windows, chunk strides, shard stability."""

from __future__ import annotations

from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.text import tokens, word_ngrams
from tp_integ_data_pipeline_spark.plans.curation import (
    q93_decontam,
    q95_chunking,
    q96_shard_stats,
    q97_curation_pipeline,
)


def _grams(spark, words: list[list[str]], n: int) -> list[list[str]]:
    df = spark.createDataFrame(list(enumerate(words)), "i int, w array<string>")
    return [r.g for r in df.select("i", word_ngrams("w", n).alias("g")).orderBy("i").collect()]


def test_word_ngrams_exact_window(spark):
    # n words -> exactly one n-gram; 0, 1 and n-1 words -> none (empty,
    # not null: unguarded, sequence(0, size - n) would count down and
    # emit out-of-range grams, e.g. for a single-token doc at n = 2)
    for n in (2, 3, 8):
        words = [f"w{i}" for i in range(n)]
        assert _grams(spark, [words, [], words[:1], words[: n - 1]], n) == [
            [" ".join(words)],
            [],
            [],
            [],
        ]


def test_word_ngrams_count_and_order(spark):
    g = _grams(spark, [["w1", "w2", "w3", "w4", "w5"]], 3)
    assert g == [["w1 w2 w3", "w2 w3 w4", "w3 w4 w5"]]


def test_chunking_stride_boundaries(spark, sf_dir):
    rows = q95_chunking(spark, sf_dir).collect()
    n_toks = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_toks)  # every doc chunked, even short ones
    for doc, chunks in by_doc.items():
        starts = [c.chunk_start for c in chunks]
        # stride is exactly 56, starting at 1, covering all tokens
        assert starts == list(range(1, n_toks[doc] + 1, 56))
        # each window takes min(64, remaining) tokens from its start
        for c in chunks:
            assert c.chunk_len == min(64, n_toks[doc] - c.chunk_start + 1)


def test_shard_assignment_stable_and_total(spark, sf_dir):
    a = {r.shard: (r.n_docs, r.total_chars) for r in q96_shard_stats(spark, sf_dir).collect()}
    b = {r.shard: (r.n_docs, r.total_chars) for r in q96_shard_stats(spark, sf_dir).collect()}
    assert a == b  # content-hash shards: identical across runs
    assert set(a) <= set(range(16))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(v[0] for v in a.values()) == n_docs


def test_decontam_benchmark_overlap_detected(spark, sf_dir):
    # every benchmark doc (doc_id % 97 == 0) shares all its grams with
    # itself; corpus contamination counts must be <= group sizes and
    # the lang partition must cover the whole corpus side
    out = q93_decontam(spark, sf_dir).collect()
    assert all(0 <= r.n_contaminated <= r.n_docs for r in out)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_corpus = docs.filter(F.col("doc_id") % 97 != 0).count()
    assert sum(r.n_docs for r in out) == n_corpus


def test_curation_pipeline_conserves_docs(spark, sf_dir):
    out = {r.split: r for r in q97_curation_pipeline(spark, sf_dir).collect()}
    assert set(out) <= {"train", "val", "test"}
    # kept docs cannot exceed distinct texts (dedup ran first)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_distinct = docs.select("text").distinct().count()
    assert sum(r.n_docs for r in out.values()) <= n_distinct
    assert all(1 <= r.n_shards <= 16 for r in out.values())


def test_mixture_sample_capacity_and_determinism(spark, sf_dir):
    """Mixture sampling: the binding source (largest n/w deficit) keeps
    everything, other sources down-sample toward target weights, and
    membership is content-stable across invocations; unweighted sources
    are dropped entirely."""
    from tp_integ_data_pipeline_spark.plans.curation import mixture_sample
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    kept = mixture_sample(docs, weights)
    by_src = {
        r.source: r.n for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(by_src) <= set(weights)  # unweighted sources gone
    # capacity solve: T = min(n_s/w_s) = n_src0/0.5 → src0 keeps ALL its docs
    n0 = docs.filter(F.col("source") == "src0").count()
    assert by_src["src0"] == n0
    # down-sampled sources keep strictly fewer than they have
    n1 = docs.filter(F.col("source") == "src1").count()
    assert 0 < by_src["src1"] < n1
    # content-stable: identical id-set on re-run
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids2 = sorted(
        r.doc_id for r in mixture_sample(docs, weights).select("doc_id").collect()
    )
    assert ids1 == ids2


def test_bounded_bench_grams_guard_trips_and_passes(spark, monkeypatch):
    """The decontam scale contract (r10 verdict item 6): the benchmark
    gram broadcast carries an in-plan suite-size guard — over the
    bound the QUERY fails loudly at execution; within it the grams are
    exactly the distinct exploded set (the guard costs no rows)."""
    import pytest

    from tp_integ_data_pipeline_spark.operators import admission

    bench = spark.createDataFrame(
        [(1, ["a b", "b c"]), (2, ["b c", "c d"])], "doc_id long, g array<string>"
    )
    got = {
        r.gram for r in admission.bounded_bench_grams(bench, "g").collect()
    }
    assert got == {"a b", "b c", "c d"}
    monkeypatch.setattr(admission, "MAX_BENCH_SUITE_DOCS", 1)
    with pytest.raises(Exception, match="MAX_BENCH_SUITE_DOCS"):
        admission.bounded_bench_grams(bench, "g").collect()


def test_bounded_bench_grams_guard_fires_on_empty_gram_set(spark, monkeypatch):
    """The guard must fire even when the suite yields ZERO grams (every
    doc shorter than the gram width): the earlier crossJoin form rode
    the guard on the gram rows, so an oversized-but-gramless suite
    produced an empty join and the assert never ran — the exact silent
    degradation the contract forbids. The union-row form evaluates the
    count unconditionally."""
    import pytest

    from tp_integ_data_pipeline_spark.operators import admission

    gramless = spark.createDataFrame(
        [(1, "one two"), (2, "three four"), (3, "five six")],
        "doc_id long, text string",
    ).select(tokens().alias("w"))
    grams8 = word_ngrams("w", 8)
    assert admission.bounded_bench_grams(gramless, grams8).count() == 0
    monkeypatch.setattr(admission, "MAX_BENCH_SUITE_DOCS", 2)
    with pytest.raises(Exception, match="MAX_BENCH_SUITE_DOCS"):
        admission.bounded_bench_grams(gramless, grams8).collect()
