"""Round-7 operators: line-level keep-first dedup + reassembly
(q180), mergeable MRL rank sketch (q181), per-domain caps (q182)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.dedup import (
    line_dedup_keep_first,
    segment_blocks,
)
from tp_integ_data_pipeline_spark.operators.rank_sketch import (
    _compact,
    rank_summaries,
    summary_quantiles,
)
from tp_integ_data_pipeline_spark.operators.selection import domain_cap, url_host


# --------------------------------------------------------------------------
# line dedup
# --------------------------------------------------------------------------
def test_line_dedup_keeps_exactly_first_occurrence(spark):
    rows = [
        (1, 0, "alpha beta"),
        (1, 1, "gamma delta"),
        (2, 0, "gamma delta"),  # loses to (1, 1)
        (2, 1, "epsilon zeta"),
        (2, 2, "epsilon zeta"),  # in-document dup loses to (2, 1)
        (3, 0, "alpha beta"),  # loses to (1, 0)
        (3, 1, "unique line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, pos int, line string")
    kept = {(r.doc_id, r.pos) for r in line_dedup_keep_first(df).collect()}
    assert kept == {(1, 0), (1, 1), (2, 1), (3, 1)}


def test_line_dedup_winner_is_lexicographic_not_per_column_min(spark):
    """(1, 9) beats (2, 0): the winner is min over the (id, pos)
    TUPLE, not (min id, min pos) independently."""
    rows = [(1, 9, "x y"), (2, 0, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, pos int, line string")
    kept = [(r.doc_id, r.pos) for r in line_dedup_keep_first(df).collect()]
    assert kept == [(1, 9)]


def test_segment_blocks_covers_all_words_in_order(spark):
    df = spark.createDataFrame([(7, "a b c d e f g")], "doc_id long, text string")
    out = segment_blocks(df, 3).orderBy("pos").collect()
    assert [(r.pos, r.line) for r in out] == [(0, "a b c"), (1, "d e f"), (2, "g")]


def test_q180_rebuild_preserves_non_duplicated_documents(spark, sf_dir):
    """A document none of whose lines appear elsewhere (or appear
    first there) must rebuild to exactly its original text."""
    from tp_integ_data_pipeline_spark.operators.dedup import LINE_W as _LINE_W
    from tp_integ_data_pipeline_spark.plans.dedup_queries import q180_line_dedup_rebuild
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    out = q180_line_dedup_rebuild(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # full-keep docs: n_kept == n_lines -> md5(rebuilt) == md5(original)
    joined = (
        out.filter(F.col("n_kept") == F.col("n_lines"))
        .join(docs.select("doc_id", F.md5("text").alias("orig_md5")), "doc_id")
    )
    n_full = joined.count()
    assert n_full > 0
    assert joined.filter(F.col("rebuilt_md5") != F.col("orig_md5")).count() == 0
    # and the corpus-wide invariant: total kept == distinct lines
    blocks = segment_blocks(docs, _LINE_W)
    distinct_lines = blocks.select("line").distinct().count()
    total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
    assert total_kept == distinct_lines


# --------------------------------------------------------------------------
# rank sketch
# --------------------------------------------------------------------------
def test_compact_preserves_weight_and_bounds_rank_error():
    rng = np.random.RandomState(7)
    v = np.sort(rng.normal(size=5000))
    w = np.ones(5000)
    k = 128
    cv, cw = _compact(v, w, k)
    assert len(cv) <= k
    assert abs(cw.sum() - 5000) < 1e-6
    # rank of any query point shifts by at most W/k
    for q in np.percentile(v, [5, 25, 50, 75, 95]):
        true_rank = np.searchsorted(v, q)
        est_rank = cw[cv <= q].sum()
        assert abs(est_rank - true_rank) <= 5000 / k + 1


def test_sketch_exact_when_k_exceeds_n(spark):
    vals = [(i, "a", float(v)) for i, v in enumerate([5, 1, 9, 3, 7, 2, 8, 4, 6, 0])]
    df = spark.createDataFrame(vals, "id long, k string, v double")
    summ = rank_summaries(df, "k", "v", "id", k=64)
    est = {
        (r.key, r.p): r.est
        for r in summary_quantiles(summ, [0.1, 0.5, 1.0]).collect()
    }
    # k >= n: no compaction anywhere, so the estimate is the exact
    # value whose cumulative count first reaches ceil(p * n)
    assert est[("a", 0.1)] == 0.0
    assert est[("a", 0.5)] == 4.0
    assert est[("a", 1.0)] == 9.0


@pytest.mark.parametrize("n_salts", [4, 32])
def test_sketch_error_bound_and_partitioning_stability(spark, n_salts):
    """Two-level compaction: rank error of each estimated quantile
    <= 2n/k against the exact sort, under different salt fan-outs."""
    n, k = 20000, 256
    rng = np.random.RandomState(13)
    vals = rng.lognormal(size=n)
    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(vals)], "id long, k string, v double"
    ).repartition(16)
    summ = rank_summaries(df, "k", "v", "id", k=k, n_salts=n_salts)
    probs = [0.1, 0.25, 0.5, 0.75, 0.9]
    est = {r.p: r.est for r in summary_quantiles(summ, probs).collect()}
    s = np.sort(vals)
    for p in probs:
        est_rank = np.searchsorted(s, est[p], side="right")
        assert abs(est_rank - p * n) <= 2 * n / k + n_salts, (p, est_rank)


def test_sketch_is_run_deterministic(spark):
    n = 5000
    rng = np.random.RandomState(3)
    vals = [(i, "g", float(v)) for i, v in enumerate(rng.normal(size=n))]
    a = spark.createDataFrame(vals, "id long, k string, v double").repartition(4)
    b = spark.createDataFrame(vals, "id long, k string, v double").repartition(17)
    sa = rank_summaries(a, "k", "v", "id", k=128).orderBy("v", "w").collect()
    sb = rank_summaries(b, "k", "v", "id", k=128).orderBy("v", "w").collect()
    assert [(r.v, r.w) for r in sa] == [(r.v, r.w) for r in sb]


# --------------------------------------------------------------------------
# domain cap
# --------------------------------------------------------------------------
def test_url_host_parses_and_lowercases(spark):
    cases = [
        ("https://WWW.Example.COM/path?q=1", "www.example.com"),
        ("http://user:pw@host.org:8080/x", "host.org"),
        ("ftp://a.b.c/file", "a.b.c"),
        ("not a url", ""),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    bad = df.withColumn("got", url_host("url")).filter(F.col("got") != F.col("want"))
    assert bad.count() == 0


def test_domain_cap_keeps_top_n_by_preference(spark):
    rows = [
        # host A: 5 rows, keep the 3 longest (ids 2, 0, 4)
        (0, "a.com", 90),
        (1, "a.com", 10),
        (2, "a.com", 99),
        (3, "a.com", 20),
        (4, "a.com", 80),
        # host B: under the cap, all kept
        (5, "b.com", 1),
        (6, "b.com", 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, n_chars long")
    kept = domain_cap(
        df, "host", 3, [(-F.col("n_chars")).alias("nc"), F.col("doc_id").alias("tb")], "doc_id"
    )
    got = {r.doc_id for r in kept.collect()}
    assert got == {2, 0, 4, 5, 6}


def test_domain_cap_deterministic_tiebreak(spark):
    """Equal n_chars everywhere: the cap must keep the 2 smallest ids
    per host regardless of partitioning/salting."""
    rows = [(i, "h.com", 50) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, host string, n_chars long")
    for parts in (1, 7):
        kept = domain_cap(
            df.repartition(parts),
            "host",
            2,
            [(-F.col("n_chars")).alias("nc"), F.col("doc_id").alias("tb")],
            "doc_id",
        )
        assert sorted(r.doc_id for r in kept.collect()) == [0, 1]


# --------------------------------------------------------------------------
# repetition signals (q183 internals against planted docs)
# --------------------------------------------------------------------------
def test_repetition_signals_flag_planted_loops(spark, tmp_path):
    """A boilerplate-looping doc must trip every signal; a unique doc
    must trip none. Runs the real q183 over a planted parquet dir."""
    import pandas as pd

    loop = " ".join(["the same six words repeat here"] * 20)  # pure loop
    uniq = " ".join(f"w{i}" for i in range(120))  # all distinct
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [loop, uniq],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [len(loop), len(uniq)],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    from tp_integ_data_pipeline_spark.plans.text_queries import q183_repetition_signals

    out = {r.doc_id: r for r in q183_repetition_signals(spark, str(tmp_path)).collect()}
    assert out[1].flagged == 1
    assert out[1].dup_line_frac == 1.0  # every 6-word line repeats
    assert out[1].dup_trigram_frac == 1.0
    assert out[2].flagged == 0
    assert out[2].dup_line_frac == 0.0 and out[2].dup_trigram_frac == 0.0


# --------------------------------------------------------------------------
# CDC chunking (q184): boundaries follow content, not offset
# --------------------------------------------------------------------------
def test_cdc_shared_run_chunks_identically_at_any_offset(spark, tmp_path):
    """The CDC property: a long run shared by two docs at DIFFERENT
    offsets produces identical interior chunks in both — so the
    shared-chunk counter sees them. Fixed-width chunking would not
    (offset shifts every block)."""
    import pandas as pd

    import random

    rng = random.Random(99)
    vocab = [f"tok{i}" for i in range(500)]
    run = " ".join(rng.choice(vocab) for _ in range(300))
    pre_a = " ".join(rng.choice(vocab) for _ in range(37))
    pre_b = " ".join(rng.choice(vocab) for _ in range(113))
    doc_a = pre_a + " " + run
    doc_b = pre_b + " " + run
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [doc_a, doc_b],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [len(doc_a), len(doc_b)],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    from tp_integ_data_pipeline_spark.plans.dedup_queries import q184_cdc_chunks

    out = {r.doc_id: r for r in q184_cdc_chunks(spark, str(tmp_path)).collect()}
    # interior chunks of the shared run align after the first
    # content-defined boundary inside the run -> both docs report
    # shared chunks (the last chunk also matches; the first differs)
    assert out[1].n_shared_chunks >= 2
    assert out[2].n_shared_chunks >= 2
    # and unique prefixes keep at least one chunk unshared
    assert out[1].n_shared_chunks < out[1].n_chunks
    assert out[2].n_shared_chunks < out[2].n_chunks


# --------------------------------------------------------------------------
# URL canonicalization (q186)
# --------------------------------------------------------------------------
def test_canonicalize_url_rules(spark):
    from tp_integ_data_pipeline_spark.operators.selection import canonicalize_url

    cases = [
        ("https://www.Ex.org/A/b", "https://www.ex.org/A/b"),  # path case kept
        ("HTTPS://WWW.EX.ORG/A/b", "https://www.ex.org/A/b"),
        ("https://ex.org:443/x", "https://ex.org/x"),
        ("http://ex.org:80/x", "http://ex.org/x"),
        ("http://ex.org:8080/x", "http://ex.org:8080/x"),  # non-default kept
        ("https://ex.org/x#frag", "https://ex.org/x"),
        ("https://ex.org/x/", "https://ex.org/x"),
        ("https://ex.org/x?utm_source=a", "https://ex.org/x"),
        ("https://ex.org/x?utm_a=1&utm_b=2&utm_c=3", "https://ex.org/x"),
        ("https://ex.org/x?utm_a=1&keep=2", "https://ex.org/x?keep=2"),
        ("https://ex.org/x?keep=1&utm_a=2", "https://ex.org/x?keep=1"),
        ("https://ex.org/x?keep=1&utm_a=2&also=3", "https://ex.org/x?keep=1&also=3"),
        ("no scheme here", "no scheme here"),  # non-URL passes through
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    got = df.withColumn("got", canonicalize_url("url"))
    bad = got.filter(F.col("got") != F.col("want")).collect()
    assert not bad, [(r.url, r.got, r.want) for r in bad]


def test_merge_summaries_matches_whole_corpus_bound(spark):
    """summary(A) ⊕ summary(B) must estimate quantiles of A ∪ B
    within the (one extra merge level) error bound — the
    persist-daily-and-merge contract."""
    from tp_integ_data_pipeline_spark.operators.rank_sketch import merge_summaries

    n, k = 8000, 256
    rng = np.random.RandomState(21)
    va = rng.normal(size=n)
    vb = rng.normal(loc=2.0, size=n)  # shifted: merge must mix, not average
    mk = lambda vals, off: spark.createDataFrame(  # noqa: E731
        [(i + off, "g", float(v)) for i, v in enumerate(vals)],
        "id long, k string, v double",
    )
    sa = rank_summaries(mk(va, 0), "k", "v", "id", k=k)
    sb = rank_summaries(mk(vb, n), "k", "v", "id", k=k)
    merged = merge_summaries(sa, sb, k=k)
    probs = [0.1, 0.5, 0.9]
    est = {r.p: r.est for r in summary_quantiles(merged, probs).collect()}
    s = np.sort(np.concatenate([va, vb]))
    total = 2 * n
    for p in probs:
        est_rank = np.searchsorted(s, est[p], side="right")
        # 2 levels in each half-sketch + 1 merge level -> 3W/k slack
        assert abs(est_rank - p * total) <= 3 * total / k + 16, (p, est_rank)


# --------------------------------------------------------------------------
# round-7 operator edge cases (hardening sweep)
# --------------------------------------------------------------------------
def test_round7_edges(spark):
    from tp_integ_data_pipeline_spark.operators.rank_sketch import (
        rank_summaries,
        summary_quantiles,
    )
    from tp_integ_data_pipeline_spark.operators.selection import canonicalize_url

    # sketch: single row and all-ties groups stay exact
    one = spark.createDataFrame([(0, "g", 5.0)], "id long, k string, v double")
    est = summary_quantiles(rank_summaries(one, "k", "v", "id", k=8), [0.5]).collect()
    assert [(r.key, r.est) for r in est] == [("g", 5.0)]
    ties = spark.createDataFrame(
        [(i, "g", 7.0) for i in range(1000)], "id long, k string, v double"
    )
    est2 = summary_quantiles(
        rank_summaries(ties, "k", "v", "id", k=16), [0.1, 0.9]
    ).collect()
    assert all(r.est == 7.0 for r in est2)

    # canonicalize_url degenerate inputs: scheme-only keeps its
    # slashes (guarded trailing-slash rule), empty passes through,
    # utm-only query at the root strips clean
    cases = [
        ("", ""),
        ("https://", "https://"),
        ("https://h.io?utm_x=1", "https://h.io"),
        ("https://h.io/a//b/", "https://h.io/a//b"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    bad = df.withColumn("got", canonicalize_url("url")).filter(
        F.col("got") != F.col("want")
    )
    assert bad.count() == 0


def test_line_dedup_empty_and_single_word_docs(spark):
    """Degenerate docs ('' splits to one empty token -> one '' line,
    matching DuckDB string_split) flow through keep-first dedup
    without loss: the corpus-first '' line survives, later ones
    collapse."""
    rows = [(1, ""), (2, ""), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    blocks = segment_blocks(df, 6)
    kept = line_dedup_keep_first(blocks).collect()
    assert {(r.doc_id, r.line) for r in kept} == {(1, ""), (3, "solo")}


# --------------------------------------------------------------------------
# idempotence laws (property sweep over a generated messy corpus)
# --------------------------------------------------------------------------
def test_canonicalize_url_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u): a second normalization
    pass must be a no-op — catches separator-mending bugs where a
    replace manufactures new matches (e.g. '?&' mending exposing a
    fresh utm_ param that the single pass missed)."""
    import random

    from tp_integ_data_pipeline_spark.operators.selection import canonicalize_url

    rng = random.Random(7)
    hosts = ["Ex.ORG", "a.b.co", "x-y.io:8080", "u:p@h.net", "h.net:443"]
    paths = ["", "/", "/a/b", "/a/b/", "/a//b", "/A/B.html"]
    params = ["", "?utm_a=1", "?k=1", "?utm_a=1&k=2", "?k=1&utm_b=2",
              "?utm_a=1&utm_b=2&utm_c=3", "?utm_a=1&utm_b=2&k=3", "?k=1&utm_a=2&j=3"]
    frags = ["", "#f", "#utm_x"]
    schemes = ["https://", "HTTP://", "ftp://"]
    urls = [
        rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths)
        + rng.choice(params) + rng.choice(frags)
        for _ in range(300)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonicalize_url("url").alias("c1"))
    twice = once.select("c1", canonicalize_url("c1").alias("c2"))
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert not bad, [(r.c1, r.c2) for r in bad[:5]]


def test_line_dedup_is_idempotent(spark, sf_dir):
    """dedup(dedup(blocks)) == dedup(blocks): survivors are distinct
    lines each at their winning position, so a second pass keeps
    every row."""
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    blocks = segment_blocks(load_table(spark, sf_dir, "documents"), 6)
    once = line_dedup_keep_first(blocks).localCheckpoint()
    twice = line_dedup_keep_first(once)
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0


def test_domain_cap_is_idempotent(spark):
    rows = [(i, f"h{i % 4}.com", i * 7 % 50) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, host string, n_chars long")
    rank = [(-F.col("n_chars")).alias("nc"), F.col("doc_id").alias("tb")]
    once = domain_cap(df, "host", 3, rank, "doc_id").localCheckpoint()
    twice = domain_cap(once, "host", 3, rank, "doc_id")
    a = sorted(r.doc_id for r in once.collect())
    b = sorted(r.doc_id for r in twice.collect())
    assert a == b and len(a) == 12  # 4 hosts x cap 3


def test_summary_quantiles_monotone_in_p(spark):
    """Estimated quantiles must be nondecreasing in p (cumulative
    weights are monotone, so the first-crossing pick must be too)."""
    rng = np.random.RandomState(5)
    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(rng.gamma(2.0, 1.0, 3000))],
        "id long, k string, v double",
    )
    summ = rank_summaries(df, "k", "v", "id", k=64)
    probs = [0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = [r.est for r in summary_quantiles(summ, probs).orderBy("p").collect()]
    assert est == sorted(est)


# --------------------------------------------------------------------------
# q193 stupid-backoff LM / q194 skew profile / q195 diversity / q196 shards
# --------------------------------------------------------------------------
def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))


def test_backoff_lm_score_matches_hand_computation(spark, tmp_path):
    """Train slice (even ids): 'a b a c' + 'c a' → uni a:3 b:1 c:2
    (N=6, V=3), bigrams (a,b)(b,a)(a,c)(c,a) once each. Test doc 1
    'a b z': (a,b) hits with p=1/3; (b,z) backs off to the OOV floor
    2·(0+1)/(5·(6+3)) = 2/45."""
    import math

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [
            (0, "a b a c", "en", "s0", 7),
            (2, "c a", "en", "s0", 3),
            (1, "a b z", "en", "s1", 5),
        ],
    )
    rows = QUERIES["q193_backoff_lm_score"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.n_bigrams, r.n_hits) == (1, 2, 1)
    assert r.hit_rate == 0.5
    expected = round((math.log(1 / 3) + math.log(2 / 45)) / 2, 6)
    assert r.avg_ll == pytest.approx(expected, abs=1e-9)


def test_backoff_lm_known_bigram_beats_oov(spark, tmp_path):
    """A test doc made of trained bigrams must outscore one made of
    unseen pairs — the property the perplexity filter relies on."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [
            (0, "the cat sat on the mat", "en", "s0", 22),
            (1, "the cat sat on the mat", "en", "s1", 22),  # all-hit
            (3, "mat the on sat cat the", "en", "s1", 22),  # reversed pairs
        ],
    )
    got = {
        r.doc_id: r
        for r in QUERIES["q193_backoff_lm_score"](spark, str(tmp_path)).collect()
    }
    assert got[1].hit_rate == 1.0
    assert got[1].avg_ll > got[3].avg_ll
    assert got[3].n_hits < got[3].n_bigrams


def test_key_skew_profile_exact_metrics(spark, tmp_path):
    """One hot key (8 rows) among 5 keys / 16 rows: max/mean = 2.5,
    cv = sqrt(5·80 − 16²)/16 = 0.75, salt = ceil(2.5) = 3."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    ts = datetime.datetime(2024, 3, 1)
    rows = [(i, ts, 1, "hot", 0.0, "{}") for i in range(8)]
    rows += [
        (100 + 2 * u + j, ts, u, "hot", 0.0, "{}")
        for u in range(2, 6)
        for j in range(2)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["q194_key_skew_profile"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_keys, r.n_rows, r.max_cnt) == (5, 16, 8)
    assert r.top1_share == 0.5
    assert r.skew == 2.5
    assert r.cv == 0.75
    assert r.salt_factor == 3


def test_ngram_diversity_counts_and_uniqueness(spark, tmp_path):
    """srcA 'a b c a b c': 4 trigrams, 3 distinct, 2 unique to A
    ('b c a', 'c a b'); srcB 'a b c d': shares 'a b c', owns 'b c d'."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [(0, "a b c a b c", "en", "srcA", 11), (1, "a b c d", "en", "srcB", 7)],
    )
    got = {
        r.source: r
        for r in QUERIES["q195_ngram_diversity"](spark, str(tmp_path)).collect()
    }
    a, b = got["srcA"], got["srcB"]
    assert (a.n_tokens, a.d_unigrams, a.ttr) == (6, 3, 0.5)
    assert (a.n_trigrams, a.d_trigrams) == (4, 3)
    assert a.rep_factor == pytest.approx(round(4 / 3, 6))
    assert a.uniq_tri_share == pytest.approx(round(2 / 3, 6))
    assert (b.n_tokens, b.d_unigrams, b.ttr) == (4, 4, 1.0)
    assert (b.n_trigrams, b.d_trigrams, b.uniq_tri_share) == (2, 2, 0.5)


def test_training_order_shard_partitions_exactly_once(spark, tmp_path):
    """Every document lands in exactly one shard, token mass is
    conserved, no shard overshoots budget by a full document, and the
    seeded order is run-stable (two evaluations agree exactly)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    docs = [
        (i, " ".join(f"w{j}" for j in range((i % 7) + 1)), "en", "s", 10)
        for i in range(50)
    ]
    _write_docs(spark, tmp_path, docs)
    total = sum((i % 7) + 1 for i in range(50))
    budget = (total + 15) // 16
    out1 = QUERIES["q196_training_order_shard"](spark, str(tmp_path)).collect()
    out2 = QUERIES["q196_training_order_shard"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert sum(r.n_docs for r in out1) == 50
    assert sum(r.shard_tokens for r in out1) == total
    max_doc = 7
    for r in out1:
        assert 0 <= r.shard < 16
        assert r.shard_tokens <= budget + max_doc


def test_consecutive_line_collapse_keeps_nonadjacent_repeats(spark, tmp_path):
    """Doc = lines A A B A: collapses to A B A (adjacent dup removed,
    the non-adjacent repeat of A survives — unlike q180)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES
    from tp_integ_data_pipeline_spark.operators.dedup import LINE_W as _LINE_W

    line_a = " ".join(["a"] * _LINE_W)
    line_b = " ".join(["b"] * _LINE_W)
    text = " ".join([line_a, line_a, line_b, line_a])
    _write_docs(spark, tmp_path, [(0, text, "en", "s", len(text))])
    r = QUERIES["q197_consecutive_line_collapse"](spark, str(tmp_path)).collect()[0]
    assert (r.n_lines, r.n_kept) == (4, 3)
    import hashlib

    expect = " ".join([line_a, line_b, line_a])
    assert r.rebuilt_md5 == hashlib.md5(expect.encode()).hexdigest()


def test_char_entropy_extremes(spark, tmp_path):
    """Single-repeated-char doc has entropy exactly 0; a doc of n
    distinct chars has entropy ln(n)."""
    import math

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [(0, "aaaaaaaa", "en", "s", 8), (1, "abcdefgh", "en", "s", 8)],
    )
    got = {r.doc_id: r for r in QUERIES["q198_char_entropy"](spark, str(tmp_path)).collect()}
    assert got[0].entropy == 0.0
    assert got[0].d_chars == 1
    assert got[1].entropy == pytest.approx(round(math.log(8), 6), abs=1e-9)
    assert got[1].d_chars == 8


def test_compression_signals_orders_repetitive_below_diverse(spark):
    """zlib ratio: a highly repetitive doc compresses below a
    shuffled-diverse one; accounting and determinism hold."""
    import random

    from tp_integ_data_pipeline_spark.operators.text import compression_signals

    rng = random.Random(7)
    diverse = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(200)
    )
    repetitive = "spam ham " * 800
    df = spark.createDataFrame(
        [(1, repetitive), (2, diverse)], "doc_id long, text string"
    )
    out1 = {r.doc_id: r for r in compression_signals(df).collect()}
    out2 = {r.doc_id: r for r in compression_signals(df).collect()}
    assert out1[1].ratio < out1[2].ratio
    for d in (1, 2):
        assert out1[d].raw_bytes == len(
            (repetitive if d == 1 else diverse).encode()
        )
        assert 0 < out1[d].gz_bytes <= out1[d].raw_bytes + 64
        assert out1[d].ratio == out2[d].ratio  # deterministic within-build


def test_stratified_kfold_balance_and_coverage(spark, tmp_path):
    """Every doc lands in exactly one fold; per-stratum fold sizes
    differ by at most 1; assignment replays identically."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    docs = [
        (i, f"w{i} " * 3, "en", f"src{i % 3}", 10) for i in range(47)
    ]
    _write_docs(spark, tmp_path, docs)
    out1 = QUERIES["q200_stratified_kfold"](spark, str(tmp_path)).collect()
    out2 = QUERIES["q200_stratified_kfold"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert sum(r.n_docs for r in out1) == 47
    by_src = {}
    for r in out1:
        by_src.setdefault(r.source, []).append(r.n_docs)
    for src, sizes in by_src.items():
        assert max(sizes) - min(sizes) <= 1, (src, sizes)


def test_functional_dependency_detects_planted_violation(spark, tmp_path):
    """orders with one o_orderkey mapping to two custkeys: the
    orderkey->custkey FD must report exactly that violating lhs."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    d = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, 10, "O", 5.0, d, "1-URGENT"), (1, 11, "O", 6.0, d, "1-URGENT"),
         (2, 10, "F", 7.0, d, "2-HIGH")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    # satisfy the other specs with minimal conforming tables
    spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(10, "a", 1, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(1, "p", "B1", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    ).write.parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        [(1, "s", "a", 1, 0.0)][:1],
        "s_suppkey long, s_name string, s_address string, s_nationkey int, s_acctbal double",
    ).write.parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(1, d, 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    _write_docs(spark, tmp_path, [(0, "a b", "en", "s0", 3)])

    got = {
        r.fd: r
        for r in QUERIES["q201_functional_dependencies"](spark, str(tmp_path)).collect()
    }
    fd = got["orders.o_orderkey->o_custkey"]
    assert (fd.n_lhs, fd.n_violating_lhs, fd.max_rhs_per_lhs, fd.holds) == (2, 1, 2, 0)
    assert fd.violation_rate == 0.5
    assert got["customer.c_custkey->c_mktsegment"].holds == 1


def test_referential_integrity_counts_orphans(spark, sf_dir):
    """At sf0.001 the TPC-H edges are consistent: lineitem->orders
    has zero orphans; the events->customer edge reports its actual
    orphan keys (user ids beyond the customer range)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    got = {
        r.edge: r
        for r in QUERIES["q202_referential_integrity"](spark, sf_dir).collect()
    }
    li = got["lineitem.l_orderkey->orders.o_orderkey"]
    assert li.n_orphan == 0 and li.orphan_rate == 0.0
    assert len(got) == 7
    for r in got.values():
        assert 0 <= r.n_orphan <= r.n_child
        assert r.n_orphan_keys <= r.n_orphan or r.n_orphan == 0


def test_benford_grid_is_complete_and_shares_sum_to_one(spark, sf_dir):
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows = QUERIES["q203_benford_audit"](spark, sf_dir).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r.col, []).append(r)
    assert set(by_col) == {"lineitem.l_extendedprice", "orders.o_totalprice"}
    for col, rs in by_col.items():
        assert sorted(r.digit for r in rs) == list(range(1, 10))
        assert sum(r.obs_share for r in rs) == pytest.approx(1.0, abs=2e-5)
        assert sum(r.exp_share for r in rs) == pytest.approx(1.0, abs=2e-5)
        tvds = {r.tvd for r in rs}
        assert len(tvds) == 1
        assert 0 <= tvds.pop() <= 1


# --------------------------------------------------------------------------
# q204 funnel / q205 cohort / q206 transitions / q207 new-vs-returning
# --------------------------------------------------------------------------
def _write_events(spark, tmp_path, rows):
    """rows: (event_id, iso_ts, user_id, event_type)."""
    import datetime

    data = [
        (eid, datetime.datetime.fromisoformat(ts), uid, et, 1.0, "{}")
        for eid, ts, uid, et in rows
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))


def test_funnel_requires_strict_ordering(spark, tmp_path):
    """User 1 converts the full funnel; user 2's click PRECEDES their
    view so it must not count (their later purchase also not, since it
    needs a post-view click); user 3 views only.  n = 3 / 1 / 1."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 1, "view"),
            (2, "2024-01-01T01:00", 1, "click"),
            (3, "2024-01-01T02:00", 1, "purchase"),
            (4, "2024-01-01T00:00", 2, "click"),
            (5, "2024-01-01T01:00", 2, "view"),
            (6, "2024-01-01T02:00", 2, "purchase"),
            (7, "2024-01-01T00:00", 3, "view"),
        ],
    )
    rows = QUERIES["q204_funnel_conversion"](spark, str(tmp_path)).collect()
    got = {r.step: (r.n_users, r.conv_vs_first, r.conv_vs_prev) for r in rows}
    assert got["view"] == (3, 1.0, 1.0)
    assert got["click"] == (1, pytest.approx(0.333333), pytest.approx(0.333333))
    assert got["purchase"] == (1, pytest.approx(0.333333), 1.0)


def test_cohort_retention_offsets_and_sizes(spark, tmp_path):
    """Users A and B start in week 0; only A returns in week 2 →
    cohort 0 has size 2, offset-0 retention 1.0, offset-2 0.5."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-02T00:00", 1, "view"),   # week 0
            (2, "2024-01-16T00:00", 1, "view"),   # week 2
            (3, "2024-01-03T00:00", 2, "view"),   # week 0
        ],
    )
    rows = QUERIES["q205_cohort_retention"](spark, str(tmp_path)).collect()
    got = {(r.cohort_week, r.week_offset): (r.n_active, r.cohort_size, r.retention) for r in rows}
    assert got == {(0, 0): (2, 2, 1.0), (0, 2): (1, 2, 0.5)}


def test_event_transitions_rows_normalize_per_from_type(spark, tmp_path):
    """view→click, view→view, click→purchase (one user, ordered by
    ts): from 'view' the two transitions split 0.5/0.5; from 'click'
    p = 1.0; the first event contributes no transition."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 1, "view"),
            (2, "2024-01-01T01:00", 1, "view"),
            (3, "2024-01-01T02:00", 1, "click"),
            (4, "2024-01-01T03:00", 1, "purchase"),
        ],
    )
    rows = QUERIES["q206_event_transitions"](spark, str(tmp_path)).collect()
    got = {(r.from_type, r.to_type): (r.n, r.p) for r in rows}
    assert got == {
        ("view", "view"): (1, 0.5),
        ("view", "click"): (1, 0.5),
        ("click", "purchase"): (1, 1.0),
    }


def test_new_returning_decomposition_and_cumulative_reach(spark, tmp_path):
    """Day 1 actives {1,2} (both new); day 2 actives {2,3} → 1 new,
    1 returning, cumulative reach 3."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T05:00", 1, "view"),
            (2, "2024-01-01T06:00", 2, "view"),
            (3, "2024-01-02T05:00", 2, "click"),
            (4, "2024-01-02T06:00", 3, "view"),
        ],
    )
    rows = QUERIES["q207_new_returning"](spark, str(tmp_path)).collect()
    got = {
        r.day: (r.n_active, r.n_new, r.n_returning, r.cum_users, r.new_share)
        for r in rows
    }
    assert got == {
        datetime.date(2024, 1, 1): (2, 2, 0, 2, 1.0),
        datetime.date(2024, 1, 2): (2, 1, 1, 3, 0.5),
    }


# --------------------------------------------------------------------------
# q208 A/B test / q209 basket lift / q210 kappa / q211 corr profile
# --------------------------------------------------------------------------
def test_ab_test_pooled_z_from_planted_arms(spark, tmp_path):
    """Arm A = users 0,2 (both convert), arm B = users 1,3 (one
    converts): rate_A=1.0, rate_B=0.5, pooled p=0.75 →
    z = 0.5/sqrt(0.1875·(1/2+1/2)) = 1.154701, not significant."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 0, "purchase"),
            (2, "2024-01-01T00:00", 2, "purchase"),
            (3, "2024-01-01T00:00", 1, "purchase"),
            (4, "2024-01-01T00:00", 3, "view"),
        ],
    )
    rows = QUERIES["q208_ab_test"](spark, str(tmp_path)).collect()
    got = {r.arm: (r.n_users, r.n_conv, r.conv_rate, r.z_score, r.significant) for r in rows}
    assert got["A"] == (2, 2, 1.0, pytest.approx(1.154701), 0)
    assert got["B"] == (2, 1, 0.5, pytest.approx(1.154701), 0)


def test_basket_pair_lift_counts_orders_not_rows(spark, tmp_path):
    """Orders {1,2}, {1,2}, {1,3} with a duplicated (o1,p1) row: the
    (1,2) pair co-occurs in 2 of 3 orders (kept), (1,3) only once
    (dropped by the >=2 floor); lift(1,2) = 2·3/(3·2) = 1.0."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows = [(10, 1), (10, 1), (10, 2), (20, 1), (20, 2), (30, 1), (30, 3)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = QUERIES["q209_basket_pair_lift"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.p1, r.p2, r.pair_cnt, r.n1, r.n2) == (1, 2, 2, 3, 2)
    assert r.support == pytest.approx(0.666667)
    assert r.confidence == pytest.approx(0.666667)
    assert r.lift == pytest.approx(1.0)


def test_rater_agreement_kappa_hand_computed(spark, tmp_path):
    """One diagonal doc (short/short) + one off-diagonal (medium/long):
    po=0.5, pe=0.25, kappa=(0.5-0.25)/0.75=0.333333; grid has all 9
    cells with absent ones explicit 0."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    docs = [
        (1, " ".join(["w"] * 10), 100),   # short chars, short words
        (2, " ".join(["w"] * 80), 300),   # medium chars, long words
    ]
    spark.createDataFrame(docs, "doc_id long, text string, n_chars long").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = QUERIES["q210_rater_agreement"](spark, str(tmp_path)).collect()
    assert len(rows) == 9
    got = {(r.label_a, r.label_b): r.n for r in rows}
    assert got[("short", "short")] == 1
    assert got[("medium", "long")] == 1
    assert sum(got.values()) == 2
    r0 = rows[0]
    assert r0.po == pytest.approx(0.5)
    assert r0.pe == pytest.approx(0.25)
    assert r0.kappa == pytest.approx(0.333333)


def test_corr_profile_exact_and_degenerate_columns(spark, tmp_path):
    """qty/price perfectly correlated (+1), qty/discount perfectly
    anti-correlated (-1), constant tax → NULL correlation on every
    pair involving it (zero variance), n=3 on all rows."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows = [(1.0, 2.0, 3.0, 1.0), (2.0, 4.0, 2.0, 1.0), (3.0, 6.0, 1.0, 1.0)]
    spark.createDataFrame(
        rows, "l_quantity double, l_extendedprice double, l_discount double, l_tax double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["q211_corr_profile"](spark, str(tmp_path)).collect()
    got = {(r.col_x, r.col_y): (r.n, r.r) for r in out}
    assert len(got) == 6
    assert got[("l_quantity", "l_extendedprice")] == (3, pytest.approx(1.0))
    assert got[("l_quantity", "l_discount")] == (3, pytest.approx(-1.0))
    assert got[("l_extendedprice", "l_discount")] == (3, pytest.approx(-1.0))
    for pair in [("l_quantity", "l_tax"), ("l_extendedprice", "l_tax"), ("l_discount", "l_tax")]:
        assert got[pair][1] is None


# --------------------------------------------------------------------------
# q212 calibration / q213 chi2 / q214 jackknife / q215 dup spectrum
# --------------------------------------------------------------------------
def test_calibration_bins_and_ece_hand_computed(spark, tmp_path):
    """Bin 3 holds scores 0.30 (label 0) and 0.35 (label 1): conf
    0.325, acc 0.5; bin 9 holds the capped score 1.0 (label 1):
    perfectly calibrated. ECE = 2·|0.5−0.325|/3 = 0.116667."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [
            (1, " ".join(["w"] * 30), "en", "s", 100),
            (2, " ".join(["w"] * 35), "en", "s", 400),
            (3, " ".join(["w"] * 120), "en", "s", 500),
        ],
    )
    rows = QUERIES["q212_calibration_ece"](spark, str(tmp_path)).collect()
    got = {r.bin: (r.n, r.conf, r.acc, r.ece) for r in rows}
    assert set(got) == {3, 9}
    assert got[3] == (2, pytest.approx(0.325), pytest.approx(0.5), pytest.approx(0.116667))
    assert got[9] == (1, pytest.approx(1.0), pytest.approx(1.0), pytest.approx(0.116667))


def test_chi2_counts_absent_grid_cells_exactly(spark, tmp_path):
    """2×2 grid with (fr, s2) unobserved: observed-cell terms sum to
    0.194444 and the absent cell contributes e = 1·1/4 = 0.25 via the
    N − Σe identity → chi2 = 0.444444, dof 1, V = sqrt(chi2/4) =
    0.333333."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [
            (1, "t", "en", "s1", 1),
            (2, "t", "en", "s1", 1),
            (3, "t", "en", "s2", 1),
            (4, "t", "fr", "s1", 1),
        ],
    )
    rows = QUERIES["q213_chi2_independence"](spark, str(tmp_path)).collect()
    got = {(r.lang, r.source): (r.o, r.expected) for r in rows}
    assert len(got) == 3  # only observed cells materialize
    assert got[("en", "s1")] == (2, pytest.approx(2.25))
    assert got[("en", "s2")] == (1, pytest.approx(0.75))
    assert got[("fr", "s1")] == (1, pytest.approx(0.75))
    r0 = rows[0]
    assert r0.chi2 == pytest.approx(0.444444)
    assert r0.dof == 1
    assert r0.cramers_v == pytest.approx(0.333333)


def test_jackknife_ci_two_user_buckets(spark, tmp_path):
    """User 1 (bucket 0): values 1, 3; user 2 (bucket 5): value 5.
    R = 9/3 = 3; leave-one-out ratios {5/1, 4/2} → mean 3.5, var =
    (1/2)·(1.5² + 1.5²) = 2.25, se 1.5, CI 3 ± 2.94."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    t = datetime.datetime(2024, 1, 1)
    data = [
        (1, t, 1, "view", 1.0, "{}"),
        (2, t, 1, "view", 3.0, "{}"),
        (3, t, 2, "view", 5.0, "{}"),
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    rows = QUERIES["q214_jackknife_ci"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_groups == 2
    assert r.metric == pytest.approx(3.0)
    assert r.se == pytest.approx(1.5)
    assert r.ci_lo == pytest.approx(3.0 - 1.96 * 1.5)
    assert r.ci_hi == pytest.approx(3.0 + 1.96 * 1.5)


def test_dup_spectrum_hill_alpha_hand_computed(spark, tmp_path):
    """Three docs share the same first 6-word line (freq 3); one doc
    carries a second unique line (freq 1). Spectrum {1: 1, 3: 1};
    Hill at xmin=2: alpha = 1 + 1/ln(3/2) = 3.466303."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    shared = "a b c d e f"
    _write_docs(
        spark,
        tmp_path,
        [
            (1, shared + " g h i j k l", "en", "s", 10),
            (2, shared, "en", "s", 10),
            (3, shared, "en", "s", 10),
        ],
    )
    rows = QUERIES["q215_dup_spectrum"](spark, str(tmp_path)).collect()
    got = {r.freq: (r.n_lines, r.hill_alpha) for r in rows}
    assert got[1][0] == 1 and got[3][0] == 1 and len(got) == 2
    import math

    assert got[1][1] == pytest.approx(1 + 1 / math.log(1.5), abs=1e-6)


def test_jackknife_zero_variance_when_buckets_identical(spark, tmp_path):
    """Both users contribute the identical (sum, count) profile →
    every leave-one-out ratio equals the full metric → se = 0 and the
    CI collapses to the point estimate."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    t = datetime.datetime(2024, 1, 1)
    data = [
        (1, t, 1, "view", 2.0, "{}"),
        (2, t, 2, "view", 2.0, "{}"),
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["q214_jackknife_ci"](spark, str(tmp_path)).collect()[0]
    assert (r.metric, r.se, r.ci_lo, r.ci_hi) == (2.0, 0.0, 2.0, 2.0)


# --------------------------------------------------------------------------
# q216 id gaps / q217 CUSUM changepoint
# --------------------------------------------------------------------------
def test_id_gaps_planted_holes(spark, tmp_path):
    """Purchase ids {1, 2, 5, 9} → missing ranges [3,4] and [6,8];
    non-purchase ids inside the holes must not fill them."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 1, "purchase"),
            (2, "2024-01-01T00:01", 1, "purchase"),
            (3, "2024-01-01T00:02", 1, "view"),
            (5, "2024-01-01T00:03", 1, "purchase"),
            (7, "2024-01-01T00:04", 1, "click"),
            (9, "2024-01-01T00:05", 1, "purchase"),
        ],
    )
    rows = QUERIES["q216_id_gaps"](spark, str(tmp_path)).collect()
    assert [(r.gap_start, r.gap_end, r.gap_len) for r in rows] == [
        (3, 4, 2),
        (6, 8, 3),
    ]


def test_consecutive_pairs_matches_naive_across_bucket_levels(spark):
    """Hierarchical pair detection == the naive sorted zip, on an id
    set engineered to exercise every recursion path with width=3,
    levels=3: multi-id buckets, singleton buckets, empty-bucket runs
    (cross-bucket AND cross-super-bucket successors)."""
    from tp_integ_data_pipeline_spark.operators.islands import consecutive_pairs

    ids = [0, 1, 2, 3, 5, 8, 9, 26, 27, 28, 80, 81, 200]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = sorted(
        (r.id, r.nxt)
        for r in consecutive_pairs(df, "id", bucket_width=3, levels=3).collect()
    )
    want = list(zip(ids, ids[1:]))
    assert got == want


def test_cusum_changepoint_peak_day(spark, tmp_path):
    """Counts 2,2,5 over three days: mean 3, CUSUM −1,−2,0 → the
    peak |CUSUM| = 2 lands on day 2 (the level-shift point)."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows = []
    eid = 0
    for day, cnt in [(1, 2), (2, 2), (3, 5)]:
        for _ in range(cnt):
            eid += 1
            rows.append((eid, f"2024-01-0{day}T00:00", 1, "view"))
    _write_events(spark, tmp_path, rows)
    out = QUERIES["q217_cusum_changepoint"](spark, str(tmp_path)).collect()
    got = {r.day: (r.n, r.cusum, r.is_peak) for r in out}
    assert got[datetime.date(2024, 1, 1)] == (2, pytest.approx(-1.0), 0)
    assert got[datetime.date(2024, 1, 2)] == (2, pytest.approx(-2.0), 1)
    assert got[datetime.date(2024, 1, 3)] == (5, pytest.approx(0.0), 0)


# --------------------------------------------------------------------------
# q218 concurrency / q219 WOE-IV / q220 l-diversity
# --------------------------------------------------------------------------
def test_session_concurrency_overlap_and_days(spark, tmp_path):
    """User 1's [0,600] session overlaps user 2's instant session at
    t=300 → day-0 peak 2; user 3's lone event lands on epoch day 1
    (t=100000) → peak 1 there."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00:00", 1, "view"),
            (2, "2024-01-01T00:10:00", 1, "view"),
            (3, "2024-01-01T00:05:00", 2, "view"),
            (4, "2024-01-02T03:46:40", 3, "view"),
        ],
    )
    rows = QUERIES["q218_session_concurrency"](spark, str(tmp_path)).collect()
    assert [(r.day, r.peak) for r in rows] == [(0, 2), (1, 1)]


def test_session_gap_rule_is_strictly_greater(spark, tmp_path):
    """Gaps of exactly 1800 s stay in one session; 1801 s splits. One
    user, events at t = 0, 1800, 3601 → sessions [0,1800] and
    [3601,3601], never concurrent → peak 1."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00:00", 1, "view"),
            (2, "2024-01-01T00:30:00", 1, "view"),
            (3, "2024-01-01T01:00:01", 1, "view"),
        ],
    )
    rows = QUERIES["q218_session_concurrency"](spark, str(tmp_path)).collect()
    assert [(r.day, r.peak) for r in rows] == [(0, 1)]


def _write_orders(spark, tmp_path, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "orders.parquet"))


def test_woe_iv_hand_computed_with_smoothing(spark, tmp_path):
    """Three 1-row bins (prices 5/15/100 over [0,100]), one event in
    bin 0: smoothed WOE/IV verified against the closed form."""
    import math

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_orders(
        spark,
        tmp_path,
        [(5.0, "F"), (15.0, "O"), (100.0, "O")],
        "o_totalprice double, o_orderstatus string",
    )
    rows = QUERIES["q219_woe_iv"](spark, str(tmp_path)).collect()
    got = {r.bin: (r.n, r.n_event, r.woe, r.iv) for r in rows}
    assert set(got) == {0, 1, 9}
    pe0, pn0 = 1.5 / 2.5, 0.5 / 3.5
    pe1, pn1 = 0.5 / 2.5, 1.5 / 3.5
    iv = (pe0 - pn0) * math.log(pe0 / pn0) + 2 * (pe1 - pn1) * math.log(pe1 / pn1)
    assert got[0][:2] == (1, 1)
    assert got[0][2] == pytest.approx(math.log(pe0 / pn0), abs=1e-6)
    assert got[1][2] == pytest.approx(math.log(pe1 / pn1), abs=1e-6)
    assert got[9][2] == got[1][2]
    assert got[0][3] == pytest.approx(iv, abs=1e-6)


def test_l_diversity_entropy_flags_skewed_group(spark, tmp_path):
    """Group (1-URGENT, F): custkeys {1,1,2} → l=2, H = ln3 − (2ln2)/3
    ≈ 0.6365 < ln3 → fails; group (2-HIGH, O): four uniform custkeys
    → H = ln4 > ln3 → passes."""
    import math

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows = [
        ("1-URGENT", "F", 1),
        ("1-URGENT", "F", 1),
        ("1-URGENT", "F", 2),
        ("2-HIGH", "O", 1),
        ("2-HIGH", "O", 2),
        ("2-HIGH", "O", 3),
        ("2-HIGH", "O", 4),
    ]
    _write_orders(
        spark,
        tmp_path,
        rows,
        "o_orderpriority string, o_orderstatus string, o_custkey long",
    )
    out = QUERIES["q220_l_diversity"](spark, str(tmp_path)).collect()
    got = {(r.qi1, r.qi2): (r.n, r.l_distinct, r.entropy, r.meets_entropy_l) for r in out}
    h_skew = math.log(3) - 2 * math.log(2) / 3
    assert got[("1-URGENT", "F")][:2] == (3, 2)
    assert got[("1-URGENT", "F")][2] == pytest.approx(h_skew, abs=1e-6)
    assert got[("1-URGENT", "F")][3] == 0
    assert got[("2-HIGH", "O")] == (4, 4, pytest.approx(math.log(4), abs=1e-6), 1)


# --------------------------------------------------------------------------
# q221 attribution / q222 session paths / q223 KM survival
# --------------------------------------------------------------------------
def test_attribution_first_vs_last_touch(spark, tmp_path):
    """User 1: view→click→purchase→purchase (both purchases credit
    first=view, last=click); user 2's opening purchase credits
    first=purchase, last=(none)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 1, "view"),
            (2, "2024-01-01T00:01", 1, "click"),
            (3, "2024-01-01T00:02", 1, "purchase"),
            (4, "2024-01-01T00:03", 1, "purchase"),
            (5, "2024-01-01T00:00", 2, "purchase"),
        ],
    )
    rows = QUERIES["q221_attribution"](spark, str(tmp_path)).collect()
    got = {r.channel: (r.first_conv, r.last_conv) for r in rows}
    assert got == {
        "view": (2, 0),
        "click": (0, 2),
        "purchase": (1, 0),
        "(none)": (0, 1),
    }


def test_session_paths_truncate_and_split(spark, tmp_path):
    """User 1's first session has 4 events → path keeps only the first
    3; a ≥30-min gap opens a second session with a 1-event path; ties
    rank alphabetically at equal counts."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 1, "view"),
            (2, "2024-01-01T00:01", 1, "click"),
            (3, "2024-01-01T00:02", 1, "purchase"),
            (4, "2024-01-01T00:03", 1, "error"),
            (5, "2024-01-01T01:00", 1, "signup"),
            (6, "2024-01-01T00:00", 2, "view"),
            (7, "2024-01-01T00:05", 2, "click"),
        ],
    )
    rows = QUERIES["q222_session_paths"](spark, str(tmp_path)).collect()
    assert [(r.path, r.n_sessions) for r in rows] == [
        ("signup", 1),
        ("view>click", 1),
        ("view>click>purchase", 1),
    ]


def test_km_survival_with_censoring(spark, tmp_path):
    """A purchases on day 1, C on day 2, B never (censored at the
    day-2 observation end): S(1) = 2/3, S(2) = 1/3 with n_risk 3→2."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 10, "view"),
            (2, "2024-01-02T00:00", 10, "purchase"),
            (3, "2024-01-01T00:00", 20, "view"),
            (4, "2024-01-01T00:00", 30, "view"),
            (5, "2024-01-03T00:00", 30, "purchase"),
        ],
    )
    rows = QUERIES["q223_km_survival"](spark, str(tmp_path)).collect()
    got = [(r.day, r.n_risk, r.d_t, r.c_t, r.survival) for r in rows]
    assert got == [
        (1, 3, 1, 0, pytest.approx(0.666667)),
        (2, 2, 1, 1, pytest.approx(0.333333)),
    ]


def test_km_survival_drops_risk_exhausting_final_day(spark, tmp_path):
    """Every user purchases instantly (day 0 exhausts the risk set):
    the ln(0) terminal day is excluded, leaving an empty curve."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00", 1, "purchase"),
            (2, "2024-01-01T00:00", 2, "purchase"),
        ],
    )
    assert QUERIES["q223_km_survival"](spark, str(tmp_path)).count() == 0


# --------------------------------------------------------------------------
# q224 negative sampling / q225 audio silence
# --------------------------------------------------------------------------
def test_negative_sampling_excludes_positives_and_dedups(spark, tmp_path):
    """With a 1-item catalog every candidate hashes to item 0: user 1
    (who bought 0) yields nothing; user 2 (who bought 1) yields item 0
    once, at the smallest k."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    spark.createDataFrame(
        [(100, 1), (200, 2)], "o_orderkey long, o_custkey long"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(100, 0), (200, 1)], "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame([(0,)], "p_partkey long").write.parquet(
        str(tmp_path / "part.parquet")
    )
    rows = QUERIES["q224_negative_sampling"](spark, str(tmp_path)).collect()
    assert [(r.u, r.item, r.k) for r in rows] == [(2, 0, 1)]


def test_audio_silence_spans_golden(spark):
    """Planted spans (samples 800-1119 and 2400-2879 at 160/frame)
    come back as exactly frames [5,6] and [15,17]; a loud id emits no
    span; a non-WAV payload is skipped."""
    from tp_integ_data_pipeline_spark.operators.multimodal import (
        audio_silence_spans,
        synth_wav_payload,
    )

    ids = spark.createDataFrame([(0,), (1,), (5,)], "doc_id long")
    payloads = synth_wav_payload(ids, "doc_id")
    got = sorted(
        (r.doc_id, r.start_frame, r.end_frame, r.n_frames)
        for r in audio_silence_spans(payloads, "doc_id").collect()
    )
    assert got == [(0, 5, 6, 2), (0, 15, 17, 3), (5, 5, 6, 2), (5, 15, 17, 3)]
    junk = spark.createDataFrame([(9, bytearray(b"not a wav"))], "doc_id long, payload binary")
    assert audio_silence_spans(junk, "doc_id").count() == 0


def test_wav_payload_decodes_via_decode_meta(spark):
    """synth_wav_payload emits structurally valid WAVs: the existing
    RIFF chunk-walk decoder reports (8000 Hz, mono, 4000 frames)."""
    from tp_integ_data_pipeline_spark.operators.multimodal import (
        decode_payload,
        synth_wav_payload,
    )

    ids = spark.createDataFrame([(3,)], "doc_id long")
    payload = synth_wav_payload(ids, "doc_id").collect()[0].payload
    assert decode_payload(bytes(payload)) == (8000, 1, 4000, "wav")


# --------------------------------------------------------------------------
# q226 weak labels / q227 trailing p95 / q228 MinHash calibration
# --------------------------------------------------------------------------
def test_weak_labels_agreement_hand_computed(spark, tmp_path):
    """Doc A passes all three LFs, B fails all, C passes chars+vocab
    only → majority [1,0,1]; lf_words disagrees on C (2/3 agreement),
    the other two agree fully; consensus rate 2/3."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    a = " ".join(f"w{i}" for i in range(70))
    b = " ".join(["w"] * 10)
    c = " ".join(f"w{i}" for i in range(26)) + " w0 w1 w2 w3"
    _write_docs(
        spark,
        tmp_path,
        [(1, a, "en", "s", 400), (2, b, "en", "s", 100), (3, c, "en", "s", 350)],
    )
    rows = QUERIES["q226_weak_labels"](spark, str(tmp_path)).collect()
    got = {r.labeler: (r.n, r.n_pos, r.n_agree, r.agree_rate, r.consensus_pos_rate) for r in rows}
    assert got["lf_chars"] == (3, 2, 3, pytest.approx(1.0), pytest.approx(0.666667))
    assert got["lf_words"] == (3, 1, 2, pytest.approx(0.666667), pytest.approx(0.666667))
    assert got["lf_vocab"] == (3, 2, 3, pytest.approx(1.0), pytest.approx(0.666667))


def test_trailing_p95_window_and_warmup(spark, tmp_path):
    """Counts 1..8 over days 0..7: warm-up day 0 reports its own value;
    day 6's 7-value frame gives p95 = 7 (rank ceil(0.95·7)); day 7's
    sliding frame [2..8] gives 8."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows, eid = [], 0
    for day in range(8):
        for _ in range(day + 1):
            eid += 1
            rows.append((eid, f"2024-01-0{day + 1}T12:00", 1, "view"))
    _write_events(spark, tmp_path, rows)
    out = QUERIES["q227_trailing_p95"](spark, str(tmp_path)).collect()
    got = {r.day: (r.n, r.p95_7d) for r in out}
    assert got[0] == (1, 1)
    assert got[1] == (2, 2)  # frame [1,2], rank ceil(1.9)=2
    assert got[6] == (7, 7)
    assert got[7] == (8, 8)


def test_minhash_calibration_identical_docs_score_one(spark, tmp_path):
    """Two identical documents: exact J = 1, every MinHash minimum
    matches → estimate 1, error 0; the unrelated third doc stays
    below the 0.5 threshold and emits no pair."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    t = "a b c d e f g h"
    other = "z1 z2 z3 z4 z5 z6 z7 z8"
    _write_docs(
        spark,
        tmp_path,
        [(1, t, "en", "s", 10), (2, t, "en", "s", 10), (3, other, "en", "s", 10)],
    )
    rows = QUERIES["q228_minhash_calibration"](spark, str(tmp_path)).collect()
    assert [(r.a, r.b, r.jaccard, r.minhash_est, r.abs_err) for r in rows] == [
        (1, 2, 1.0, 1.0, 0.0)
    ]


# --------------------------------------------------------------------------
# q229 seasonal / q230 DiD / q231 truncation loss
# --------------------------------------------------------------------------
def test_seasonal_decompose_identity_and_centering(spark, tmp_path):
    """Invariants on a 14-day planted series: trend+dow_effect+residual
    reconstructs n to 6 dp, and the DOW effects (weighted by their day
    counts) center to ~0."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows, eid = [], 0
    for day in range(14):
        cnt = 10 + (5 if day % 7 == 0 else 0) + day  # weekly bump + drift
        for _ in range(cnt):
            eid += 1
            rows.append((eid, f"2024-01-{day + 1:02d}T12:00", 1, "view"))
    _write_events(spark, tmp_path, rows)
    out = QUERIES["q229_seasonal_decompose"](spark, str(tmp_path)).collect()
    assert len(out) == 14
    for r in out:
        assert r.n == pytest.approx(r.trend + r.dow_effect + r.residual, abs=2e-5)
    effs = {}
    for r in out:
        effs.setdefault(r.dow, r.dow_effect)
    assert sum(effs.values()) == pytest.approx(0.0, abs=1e-4)
    # the planted weekly bump concentrates on dow 0
    assert effs[0] == max(effs.values())


def test_diff_in_diff_hand_computed(spark, tmp_path):
    """A (even users): pre 1.0 → post 2.0 (+1 trend); B (odd): pre 1.0
    → post 4.0 (+3) → DiD = +2."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    pre = datetime.datetime(2024, 1, 10)
    post = datetime.datetime(2024, 1, 20)
    data = [
        (1, pre, 2, "view", 1.0, "{}"),
        (2, post, 2, "view", 2.0, "{}"),
        (3, pre, 3, "view", 1.0, "{}"),
        (4, post, 3, "view", 4.0, "{}"),
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    rows = QUERIES["q230_diff_in_diff"](spark, str(tmp_path)).collect()
    got = {(r.arm, r.period): (r.n, r.avg_value, r.did) for r in rows}
    assert got[("A", "pre")] == (1, 1.0, pytest.approx(2.0))
    assert got[("A", "post")] == (1, 2.0, pytest.approx(2.0))
    assert got[("B", "post")] == (1, 4.0, pytest.approx(2.0))


def test_truncation_loss_grid(spark, tmp_path):
    """Docs of 100 and 600 words: at ctx 128 only the long doc
    overflows (472 tokens dropped of 700); at 2048 nothing does."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [
            (1, " ".join(["w"] * 100), "en", "s", 100),
            (2, " ".join(["w"] * 600), "en", "s", 600),
        ],
    )
    rows = QUERIES["q231_truncation_loss"](spark, str(tmp_path)).collect()
    got = {r.ctx_len: (r.n_docs, r.n_docs_over, r.tokens_dropped, r.share_dropped) for r in rows}
    assert got[128] == (2, 1, 472, pytest.approx(472 / 700, abs=1e-6))
    assert got[512] == (2, 1, 88, pytest.approx(88 / 700, abs=1e-6))
    assert got[2048] == (2, 0, 0, pytest.approx(0.0))


# --------------------------------------------------------------------------
# q232 streaming session windows
# --------------------------------------------------------------------------
def test_stream_session_window_merges_and_flushes_tail(spark, tmp_path):
    """User 1: events 5 min apart merge into one session; a >10-min
    gap opens a second. The second session ENDS at the global max
    timestamp — the one append mode would withhold without the
    sentinel flush — and must still be emitted."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:00:00", 1, "view"),
            (2, "2024-01-01T00:05:00", 1, "click"),
            (3, "2024-01-01T00:30:00", 1, "view"),
            (4, "2024-01-01T00:02:00", 2, "view"),
        ],
    )
    rows = QUERIES["q232_stream_session_window"](spark, str(tmp_path)).collect()
    got = [(r.user_id, r.session_start.isoformat(), r.n_events) for r in rows]
    assert got == [
        (1, "2024-01-01T00:00:00", 2),
        (1, "2024-01-01T00:30:00", 1),
        (2, "2024-01-01T00:02:00", 1),
    ]


def test_stream_session_window_matches_batch_native(spark):
    """The streaming path equals the batch-native session_window (q63)
    row-for-row on the fixture corpus."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    stream = {
        (r.user_id, r.session_start, r.n_events)
        for r in QUERIES["q232_stream_session_window"](spark, sf).collect()
    }
    batch = {
        (r.user_id, r.session_start, r.n_events)
        for r in QUERIES["q63_session_window"](spark, sf).collect()
    }
    assert stream == batch


# --------------------------------------------------------------------------
# q233 SRM / q234 reconciliation
# --------------------------------------------------------------------------
def test_srm_flags_broken_randomizer(spark, tmp_path):
    """16 even users vs 4 odd: chi2 = (16−4)²/20 = 7.2 > 3.84 → SRM
    flagged; shares 0.8/0.2. Duplicate events must not double-count
    users."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    rows = []
    eid = 0
    for uid in list(range(0, 32, 2)) + [1, 3, 5, 7]:
        for _ in range(2):  # two events per user
            eid += 1
            rows.append((eid, "2024-01-01T00:00", uid, "view"))
    _write_events(spark, tmp_path, rows)
    out = QUERIES["q233_srm_check"](spark, str(tmp_path)).collect()
    got = {r.arm: (r.n, r.share, r.chi2, r.srm_flag) for r in out}
    assert got["A"] == (16, pytest.approx(0.8), pytest.approx(7.2), 1)
    assert got["B"] == (4, pytest.approx(0.2), pytest.approx(7.2), 1)


def test_srm_passes_balanced_split(spark, tmp_path):
    """2 even vs 2 odd users: chi2 = 0, no flag."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [(i, "2024-01-01T00:00", i, "view") for i in range(4)],
    )
    out = QUERIES["q233_srm_check"](spark, str(tmp_path)).collect()
    assert all((r.chi2, r.srm_flag) == (0.0, 0) for r in out)


def test_reconciliation_ranks_worst_mismatch_first(spark, tmp_path):
    """Order 1's stated total misses the derived 110.0 by +10; order 2
    agrees exactly → order 1 leads with delta = +10, order 2 shows
    delta −0.0-normalized 0."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    spark.createDataFrame(
        [(1, 100.0), (2, 55.0)], "o_orderkey long, o_totalprice double"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    li = [
        (1, 100.0, 0.0, 0.10),  # 100 * 1.1 = 110
        (2, 50.0, 0.0, 0.10),  # 55
    ]
    spark.createDataFrame(
        li, "l_orderkey long, l_extendedprice double, l_discount double, l_tax double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = QUERIES["q234_reconciliation"](spark, str(tmp_path)).collect()
    assert [(r.o_orderkey, r.stated, r.derived, r.delta) for r in rows] == [
        (1, 100.0, 110.0, pytest.approx(10.0)),
        (2, 55.0, 55.0, pytest.approx(0.0)),
    ]


# --------------------------------------------------------------------------
# q235/q236 append-mode streaming windows
# --------------------------------------------------------------------------
def test_stream_tumbling_append_emits_tail_window(spark, tmp_path):
    """Two 15-min windows, the second containing the global max ts —
    append mode must emit BOTH (sentinel flush), with exact counts."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(
        spark,
        tmp_path,
        [
            (1, "2024-01-01T00:01", 1, "view"),
            (2, "2024-01-01T00:05", 2, "view"),
            (3, "2024-01-01T00:20", 1, "click"),
        ],
    )
    rows = QUERIES["q235_stream_tumbling_append"](spark, str(tmp_path)).collect()
    got = {(r.win_start.isoformat(), r.event_type): r.n for r in rows}
    assert got == {
        ("2024-01-01T00:00:00", "view"): 2,
        ("2024-01-01T00:15:00", "click"): 1,
    }


def test_stream_sliding_append_two_windows_per_event(spark, tmp_path):
    """One event at 00:20 lands in the 00:15 and 00:00+15-hop 30-min
    windows — both emitted by append mode after the flush."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_events(spark, tmp_path, [(1, "2024-01-01T00:20", 1, "view")])
    rows = QUERIES["q236_stream_sliding_append"](spark, str(tmp_path)).collect()
    got = sorted((r.win_start.isoformat(), r.event_type, r.n) for r in rows)
    assert got == [
        ("2024-01-01T00:00:00", "view", 1),
        ("2024-01-01T00:15:00", "view", 1),
    ]


# --------------------------------------------------------------------------
# q237 ROUGE pairs / q238 dataset card
# --------------------------------------------------------------------------
def test_rouge_pairs_clipped_overlap_hand_computed(spark, tmp_path):
    """Docs 'a b c d e f a' (len 7) and 'a b c d e f f' (len 7) share
    shingles (J >= 0.5) and clip to overlap 6 (min counts: a:1 b:1 c:1
    d:1 e:1 f:1) → P = R = F = 6/7."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    _write_docs(
        spark,
        tmp_path,
        [
            (1, "a b c d e f a", "en", "s", 13),
            (2, "a b c d e f f", "en", "s", 13),
            (3, "z1 z2 z3 z4 z5", "en", "s", 14),
        ],
    )
    rows = QUERIES["q237_rouge_pairs"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.b, r.overlap) == (1, 2, 6)
    assert r.rouge_p == pytest.approx(6 / 7, abs=1e-6)
    assert r.rouge_r == pytest.approx(6 / 7, abs=1e-6)
    assert r.rouge_f == pytest.approx(6 / 7, abs=1e-6)


def test_dataset_card_profile(spark, tmp_path):
    """3 docs / 2 langs / 2 sources; 18 tokens; docs 1 and 2 are the
    same 6-word line (3 lines total, 2 distinct → dup share 1/3)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    shared = "a b c d e f"
    _write_docs(
        spark,
        tmp_path,
        [
            (1, shared, "en", "s1", 11),
            (2, shared, "fr", "s2", 11),
            (3, "g h i j k l", "en", "s1", 11),
        ],
    )
    r = QUERIES["q238_dataset_card"](spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.total_tokens, r.n_langs, r.n_sources) == (3, 18, 2, 2)
    assert r.mean_chars == pytest.approx(11.0)
    assert r.dup_line_share == pytest.approx(1 - 2 / 3, abs=1e-6)


# --------------------------------------------------------------------------
# q239 BLEU pairs / q240 mutual information
# --------------------------------------------------------------------------
def test_bleu_pairs_hand_computed(spark, tmp_path):
    """Identical docs score BLEU-2 exactly 1.0 (full clipped 1/2-gram
    precision, brevity penalty 1)."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    t = "a b c d e f a b"
    _write_docs(
        spark,
        tmp_path,
        [(1, t, "en", "s", 10), (2, t, "en", "s", 10)],
    )
    rows = QUERIES["q239_bleu_pairs"](spark, str(tmp_path)).collect()
    assert [(r.a, r.b, r.bleu2) for r in rows] == [(1, 2, pytest.approx(1.0))]


def test_bleu_floors_zero_bigram_overlap(spark, tmp_path):
    """Docs share 5 shingles (J passes) but doc 2 appends a tail that
    still leaves every bigram shared — flip instead: construct a pair
    with unigram overlap but NO shared bigram via interleaving; BLEU
    floors at 0 while ROUGE-1 stays high."""
    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    a = "a b c d e f g"
    b_text = "a c e g b d f"  # same unigrams, disjoint bigrams
    _write_docs(
        spark,
        tmp_path,
        [(1, a, "en", "s", 13), (2, b_text, "en", "s", 13)],
    )
    rows = QUERIES["q239_bleu_pairs"](spark, str(tmp_path)).collect()
    # the pair only materializes if 3-shingle Jaccard >= 0.5 — with
    # disjoint word order it does NOT, so no row is the correct result
    assert rows == [] or all(r.bleu2 == pytest.approx(0.0) for r in rows)


def test_mutual_information_independent_and_determined(spark, tmp_path):
    """Independent lang×source grid → MI 0; lang==source mapping →
    MI = H_joint (NMI 1)."""
    import math

    from tp_integ_data_pipeline_spark.plans.registry import QUERIES

    grid = [
        (i * 4 + j, "t", lang, src, 1)
        for i, lang in enumerate(["en", "fr"])
        for j, src in enumerate(["s1", "s2"])
    ]
    _write_docs(spark, tmp_path, grid)
    r = QUERIES["q240_mutual_information"](spark, str(tmp_path)).collect()[0]
    assert r.mi_nats == pytest.approx(0.0)
    assert r.h_joint == pytest.approx(math.log(4), abs=1e-6)
    assert r.nmi == pytest.approx(0.0)

    import shutil

    shutil.rmtree(str(tmp_path / "documents.parquet"))
    det = [(1, "t", "en", "s1", 1), (2, "t", "fr", "s2", 1)]
    _write_docs(spark, tmp_path, det)
    r = QUERIES["q240_mutual_information"](spark, str(tmp_path)).collect()[0]
    assert r.mi_nats == pytest.approx(math.log(2), abs=1e-6)
    assert r.nmi == pytest.approx(1.0)


# --------------------------------------------------------------------------
# r7 ADVICE regressions
# --------------------------------------------------------------------------
def test_bigrams_expr_guard(spark):
    """Single-token and empty word arrays yield ZERO bigrams. Unguarded,
    sequence(1, 0) = [1, 0] descends and emits two NULL bigrams per
    single-token doc; q239 builds its bigrams with word_ngrams(w, 2)."""
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.operators.text import word_ngrams

    df = spark.createDataFrame(
        [(1, ["a"]), (2, []), (3, ["a", "b", "c"])], "id int, w array<string>"
    )
    rows = (
        df.select("id", F.explode(word_ngrams("w", 2)).alias("g"))
        .orderBy("id", "g")
        .collect()
    )
    assert [(r.id, r.g) for r in rows] == [(3, "a b"), (3, "b c")]
    assert all(r.g is not None for r in rows)


def test_rank_summaries_nonstring_key(spark):
    """rank_summaries derives the output key type from the input
    schema — an integer key must round-trip as an integer, not a
    silently-coerced string (r7 ADVICE, rank_sketch.py)."""
    from tp_integ_data_pipeline_spark.operators.rank_sketch import (
        rank_summaries,
        summary_quantiles,
    )

    df = spark.createDataFrame(
        [(k, float(v), k * 1000 + v) for k in (1, 2) for v in range(50)],
        "k int, v double, id long",
    )
    summ = rank_summaries(df, "k", "v", "id", k=64)
    assert dict(summ.dtypes)["key"] == "int"
    est = summary_quantiles(summ, [0.5])
    got = {r.key: r.est for r in est.collect()}
    assert set(got) == {1, 2}
    # k=64 >= n=50 per key: the summary is exact, so the median is the
    # ceil(0.5*50) = 25th value (0-indexed 24) = 24.0
    assert got[1] == pytest.approx(24.0)


def test_merge_summaries_nonstring_key(spark):
    """merge_summaries derives the key type from its inputs like
    rank_summaries does (completes the r7 ADVICE fix on the merge
    path)."""
    from tp_integ_data_pipeline_spark.operators.rank_sketch import (
        merge_summaries,
        rank_summaries,
        summary_quantiles,
    )

    def mk(offset):
        return spark.createDataFrame(
            [(k, float(v + offset), k * 1000 + v) for k in (1, 2) for v in range(30)],
            "k int, v double, id long",
        )

    sa = rank_summaries(mk(0), "k", "v", "id", k=64)
    sb = rank_summaries(mk(30), "k", "v", "id", k=64)
    merged = merge_summaries(sa, sb, k=64)
    assert dict(merged.dtypes)["key"] == "int"
    got = {r.key: r.est for r in summary_quantiles(merged, [0.5]).collect()}
    # exact regime (60 values per key, k=64): median = 30th value = 29.0
    assert got[1] == pytest.approx(29.0)
