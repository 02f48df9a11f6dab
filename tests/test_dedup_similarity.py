"""Property-style tests for the extension operators (X1-X3)."""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    pair_jaccard,
    shingles,
    simhash_near_dup_pairs,
)
from tp_integ_data_pipeline_spark.operators.layout import estimated_bytes
from tp_integ_data_pipeline_spark.operators.similarity import (
    ann_topk_srp,
    cosine_pairs,
    knn_bruteforce,
)
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import build_jobs  # noqa: E402


@contextmanager
def _grid(spark, emb, n_blocks: int):
    """Lower the session's split size (scoped to the block) so that
    ``cosine_pairs`` plans ``emb`` as an ``n_blocks`` block grid."""
    key = "spark.sql.files.openCostInBytes"
    size = estimated_bytes(emb.select("vec_id", "embedding"))
    old = spark.conf.get(key)
    spark.conf.set(key, str(-(-size // n_blocks)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_exact_dedup_keeps_min_key(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, "x")], ["id", "text"]
    )
    out = exact_dedup(df, ["text"], "id").collect()
    assert sorted((r.text, r.id) for r in out) == [("x", 1), ("y", 2)]


def test_shingle_edges(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b"), (3, "")], ["id", "text"])
    got = shingles(df, "id", "text", k=3).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.id, set()).add(r.sh)
    assert by_id.get(1) == {"a b c", "b c d"}
    assert 2 not in by_id and 3 not in by_id  # shorter than k → no shingles


def test_minhash_equals_exact_on_fixture(spark, sf_dir):
    """LSH+verify must reproduce the exact ≥0.6 Jaccard pair set."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", 3)
    exact = {
        (r.a, r.b)
        for r in pair_jaccard(sh).filter(F.col("jaccard") >= 0.6).collect()
    }
    lsh = {(r.a, r.b) for r in minhash_near_dup_pairs(docs, "doc_id", "text").collect()}
    assert lsh == exact


def test_minhash_precomputed_sig_path_identical(spark, sf_dir):
    """The sig= prework-sharing seam (r9: q103 rides the session-cached
    corpus signatures) must be value-invisible: precomputed vs
    internally-computed signatures give the identical verified pair
    set, and the index probe path agrees with the batch path on the
    same split."""
    from tp_integ_data_pipeline_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", 3)
    sig = minhash_signatures(sh, with_sizes=True).localCheckpoint(eager=False)
    a = {(r.a, r.b) for r in minhash_near_dup_pairs(docs, "doc_id", "text").collect()}
    b = {
        (r.a, r.b)
        for r in minhash_near_dup_pairs(docs, "doc_id", "text", sig=sig).collect()
    }
    assert a == b


def test_neardup_index_precomputed_sig_matches(spark, sf_dir, tmp_path):
    """add/probe with sig= slices of a shared corpus signature relation
    produce the same candidate set as the self-computed path."""
    from tp_integ_data_pipeline_spark.operators.dedup import minhash_signatures
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    sig = minhash_signatures(
        shingles(docs, "doc_id", "text", 3), with_sizes=True
    ).localCheckpoint(eager=False)

    i1 = NearDupIndex(spark, str(tmp_path / "self"))
    i1.add(old)
    base = {(r.probe_id, r.index_id, r.est_jaccard) for r in i1.probe(new).collect()}

    i2 = NearDupIndex(spark, str(tmp_path / "shared"))
    i2.add(old, sig=sig.filter(F.col("id") < 250))
    shared = {
        (r.probe_id, r.index_id, r.est_jaccard)
        for r in i2.probe(new, sig=sig.filter(F.col("id") >= 250)).collect()
    }
    assert base == shared and len(base) > 0


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "spark table join " * 10), (2, "spark table join " * 10), (3, "totally different words here now")],
        ["id", "text"],
    )
    pairs = {(r.a, r.b): r.hamming for r in simhash_near_dup_pairs(df, "id", "text").collect()}
    assert pairs.get((1, 2)) == 0
    assert all(k == (1, 2) for k in pairs)


def test_cosine_pairs_blocked_matches_knn(spark, sf_dir):
    """The blocked numpy all-pairs path agrees with the expression-fold
    knn path on shared (query, neighbor) cells."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    with _grid(spark, emb, 4):
        blocked = cosine_pairs(emb, threshold=-1.1)
    assert "FlatMapGroupsInPandas" in _plan(blocked)
    rows = blocked.collect()
    pairs = {(r.a, r.b): r.cos6 for r in rows}
    knn = knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=3).collect()
    # every unordered pair exactly ONCE (a list-level check: a dict
    # would silently hide duplicate emissions, e.g. the sequence(0,-1)
    # descending-range bug that double-counted diagonal-block pairs)
    assert len(rows) == 60 * 59 / 2
    assert len(pairs) == 60 * 59 / 2
    assert all(a < b for a, b in pairs)
    for r in knn:
        key = (min(r.q_id, r.n_id), max(r.q_id, r.n_id))
        assert abs(pairs[key] - r.cos6) < 2e-6


def test_cosine_pairs_one_task_matches_grid(spark, sf_dir):
    """The one-task path (vectors that fit one split) and the block grid
    return the same rows, each unordered pair once, with negative ids
    routed by pmod, at every threshold tried."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 60)
        .select((F.col("vec_id") - 30).alias("vec_id"), "embedding")
    )
    for threshold in (-1.1, 0.1):
        one = cosine_pairs(emb, threshold=threshold)
        with _grid(spark, emb, 4):
            grid = cosine_pairs(emb, threshold=threshold)
        assert "FlatMapGroupsInPandas" not in _plan(one)
        assert "FlatMapGroupsInPandas" in _plan(grid)
        rows, grid_rows = sorted(one.collect()), sorted(grid.collect())
        assert rows == grid_rows
        assert len({(r.a, r.b) for r in rows}) == len(rows)
        assert all(r.a < r.b for r in rows)
        assert min(r.a for r in rows) == -30
    assert len(rows) < 60 * 59 / 2  # the 0.1 threshold drops pairs


def test_cosine_pairs_empty_and_single_vector(spark, sf_dir):
    """No vectors, or one, give no pairs on both paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    for few in (emb.filter(F.col("vec_id") < 0), emb.filter(F.col("vec_id") == 3)):
        one = cosine_pairs(few, threshold=-1.1)
        with _grid(spark, few, 4):
            grid = cosine_pairs(few, threshold=-1.1)
        assert "FlatMapGroupsInPandas" not in _plan(one)
        assert "FlatMapGroupsInPandas" in _plan(grid)
        assert one.count() == 0 and grid.count() == 0


def test_cosine_pairs_one_split_plan_has_no_exchange(spark, sf_dir):
    """Vectors that fit one split are verified by one Python task with
    no exchange beneath it, and choosing that plan starts no job."""
    emb = load_table(spark, sf_dir, "embeddings")
    built = []
    jobs = build_jobs.jobs_started(
        spark, "cosine:build", lambda: built.append(cosine_pairs(emb, threshold=0.45))
    )
    assert jobs == 0
    pairs = built[0]
    assert pairs.collect()
    plan = _plan(pairs)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_ann_srp_is_subset_of_bruteforce_candidates(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = knn_bruteforce(emb, q, k=1).collect()
    approx = {r.q_id: r for r in ann_topk_srp(emb, q, k=1).collect()}
    # rank-1 recall on this fixture: SRP with 4 bands of 4 bits is
    # permissive enough that the true top-1 is almost always a candidate
    hits = sum(1 for r in exact if approx.get(r.q_id) and approx[r.q_id].n_id == r.n_id)
    assert hits >= 3  # ≥60% rank-1 recall, deterministic for fixed seed


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    centroids = ivf_fit(emb, n_cells=16)
    exact = {(r.q_id, r.n_id) for r in knn_bruteforce(emb, q, k=5).collect()}
    ivf = {(r.q_id, r.n_id) for r in ivf_topk(emb, q, centroids, k=5, n_probe=4).collect()}
    # probing 4/16 cells: expect well over half of the true top-5 found
    assert len(ivf & exact) >= len(exact) * 0.5
    assert all(len([1 for a, _ in ivf if a == qid]) == 5 for qid in range(10))


def test_ivf_query_path_is_training_free(spark, sf_dir, monkeypatch):
    """The query path must never train: with the model table supplied,
    ivf_topk works even when KMeans.fit is poisoned."""
    from pyspark.ml.clustering import KMeans

    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_fit(emb, n_cells=8).collect()  # offline, before poisoning
    centroids_df = spark.createDataFrame(centroids, "cell int, centroid array<double>")

    def boom(self, *a, **kw):  # pragma: no cover - should never run
        raise AssertionError("KMeans.fit called inside the IVF query path")

    monkeypatch.setattr(KMeans, "fit", boom)
    q = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(emb, q, centroids_df, k=3, n_probe=2).collect()
    assert {r.q_id for r in out} == {0, 1, 2}


def test_ivf_plan_size_independent_of_n_cells(spark, sf_dir):
    """Centroids travel as broadcast data, not plan literals: the
    optimized plan must not grow with the cell count."""
    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)

    def plan_len(n_cells):
        c = ivf_fit(emb, n_cells=n_cells)
        df = ivf_topk(emb, q, c, k=3, n_probe=2)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small, big = plan_len(4), plan_len(32)
    assert abs(big - small) < 0.05 * small


def test_semantic_dedup_properties_vs_bruteforce(spark, sf_dir):
    """SemDeDup invariants, checked against a numpy brute force:
    within every cell the kept set is an anti-chain (no two kept
    vectors at cosine ≥ threshold), and every dropped vector has a
    lower-id within-cell neighbor at cosine ≥ threshold."""
    import numpy as np

    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit, semantic_dedup

    t = 0.45
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_fit(emb, n_cells=8)
    out = semantic_dedup(emb, centroids, threshold=t).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}

    def cos(a, b):
        return float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))

    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    assert sum(1 for r in out if not r.keep) > 0  # fixture has near-dups
    assert len(out) == len(vecs)  # one verdict per vector
    for cell, rows in by_cell.items():
        kept = sorted(r.id for r in rows if r.keep)
        dropped = sorted(r.id for r in rows if not r.keep)
        for i, a in enumerate(kept):
            for b in kept[i + 1 :]:
                assert cos(a, b) < t, (cell, a, b)
        ids = sorted(r.id for r in rows)
        for d in dropped:
            assert any(cos(e, d) >= t for e in ids if e < d), (cell, d)


def test_pack_sequences_matches_naive_window(spark, sf_dir):
    """The distributed prefix sum must equal the naive global window,
    and packing invariants must hold (budget 100 forces straddling)."""
    from pyspark.sql import Window as W

    from tp_integ_data_pipeline_spark.operators.packing import (
        global_cumsum,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    got = {
        r.doc_id: r.cum_before
        for r in global_cumsum(docs, "doc_id", "n_tokens").collect()
    }
    naive = {
        r.doc_id: r.c or 0
        for r in docs.withColumn(
            "c",
            F.sum("n_tokens").over(
                W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
            ),
        ).collect()
    }
    assert got == naive

    packed = pack_sequences(docs, budget=100).collect()
    for r in packed:
        assert r.seq_id == (naive[r.doc_id]) // 100
        assert r.seq_offset == (naive[r.doc_id]) % 100
    # sequences are contiguous from 0
    seqs = sorted({r.seq_id for r in packed})
    assert seqs[0] == 0 and seqs == list(range(len(seqs)))


def test_pack_token_runs_invariants(spark, sf_dir):
    """Token-level materialization: every sequence except the tail is
    filled to EXACTLY the budget; each document's runs cover its tokens
    once, in order, split only at sequence boundaries; slots are
    contiguous from 0 per sequence."""
    from tp_integ_data_pipeline_spark.operators.packing import pack_token_runs

    budget = 100  # small budget forces straddling on the fixture
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    runs = pack_token_runs(docs, budget=budget).collect()
    n_tok = {r.doc_id: r.n_tokens for r in docs.collect()}

    per_seq: dict = {}
    per_doc: dict = {}
    for r in runs:
        per_seq.setdefault(r.seq_id, []).append(r)
        per_doc.setdefault(r.doc_id, []).append(r)

    last_seq = max(per_seq)
    for sid, rows in per_seq.items():
        assert sorted(x.slot for x in rows) == list(range(len(rows)))
        total = sum(x.token_len for x in rows)
        if sid != last_seq:
            assert total == budget, (sid, total)
        else:
            assert 0 < total <= budget
    for did, rows in per_doc.items():
        rows.sort(key=lambda x: x.seq_id)
        # contiguous doc coverage: starts chain 0 → n_tokens
        assert rows[0].token_start == 0
        pos = 0
        for x in rows:
            assert x.token_start == pos
            assert x.token_len > 0
            pos += x.token_len
        assert pos == n_tok[did]
        # middle runs of a straddler sit on sequence boundaries
        assert [x.seq_id for x in rows] == list(
            range(rows[0].seq_id, rows[0].seq_id + len(rows))
        )


def test_global_cumsum_avoids_unpartitioned_window_on_data(spark, sf_dir):
    """Scale guard: the only unpartitioned window may run over the tiny
    per-bucket offsets relation, never over the data itself — the
    data-side window must be partitioned by the deterministic bucket."""
    from tp_integ_data_pipeline_spark.operators.packing import global_cumsum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    plan = (
        global_cumsum(docs, "doc_id", "n_tokens")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # The data-side window orders by doc_id; its spec must partition by
    # the bucket. (The offsets window orders by __bkt alone over the
    # tiny groupBy output — allowed.)
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs, plan
    for s in specs:
        if "doc_id#" in s:
            assert "windowspecdefinition(__bkt" in s, s


def test_global_cumsum_with_payload_columns(spark, sf_dir):
    """Regression: extra payload columns must not change the prefix
    sums (the sampled-range-partition formulation silently could, when
    column pruning stopped exchange reuse from unifying its two
    evaluations of the shuffle)."""
    from pyspark.sql import Window as W

    from tp_integ_data_pipeline_spark.operators.packing import global_cumsum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        "text",  # payload ride-along
        "source",
    )
    got = {
        r.doc_id: r.cum_before
        for r in global_cumsum(docs, "doc_id", "n_tokens").collect()
    }
    naive = {
        r.doc_id: r.c or 0
        for r in docs.withColumn(
            "c",
            F.sum("n_tokens").over(
                W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
            ),
        ).collect()
    }
    assert got == naive


def test_dup_clusters_chain_and_island(spark):
    # chain 1-2-3-4 (diameter 3), island 10-11, plus nodes only on one
    # side of an edge; every node must map to its component's min id.
    from tp_integ_data_pipeline_spark.operators.dedup import cluster_sizes, dup_clusters

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    out = {r.id: r.cluster for r in dup_clusters(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    sizes = {r.cluster: r.n_docs for r in cluster_sizes(dup_clusters(edges)).collect()}
    assert sizes == {1: 4, 10: 2}


def test_dup_clusters_converges_on_long_path(spark):
    # 16-node path: worst-case diameter for min-propagation; checks the
    # convergence loop actually iterates past round one.
    from tp_integ_data_pipeline_spark.operators.dedup import dup_clusters

    edges = spark.createDataFrame([(i, i + 1) for i in range(15)], ["a", "b"])
    out = {r.id: r.cluster for r in dup_clusters(edges).collect()}
    assert out == {i: 0 for i in range(16)}


def test_neardup_index_incremental_probe(spark, sf_dir, tmp_path):
    """Index old docs once; probing new docs finds exactly the
    cross-split near-dup pairs (after exact verification), never
    intra-batch pairs; re-adding the same batch is a no-op."""
    from tp_integ_data_pipeline_spark.operators.dedup import pair_jaccard, shingles
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    idx.add(old)
    n_rows = spark.read.parquet(str(tmp_path / "idx" / "bands")).count()
    idx.add(old)  # re-delivery: must not duplicate index rows
    assert spark.read.parquet(str(tmp_path / "idx" / "bands")).count() == n_rows

    got = idx.probe(new)
    assert {r["probe_id"] >= 250 for r in got.collect()} <= {True}
    verified = {
        (r.a, r.b)
        for r in pair_jaccard(
            shingles(docs, "doc_id", "text", 3),
            got.filter(F.col("est_jaccard") >= 0.35).select(
                F.col("index_id").alias("a"), F.col("probe_id").alias("b")
            ),
        )
        .filter(F.col("jaccard") >= 0.6)
        .collect()
    }
    exact = {
        (r.a, r.b)
        for r in pair_jaccard(shingles(docs, "doc_id", "text", 3))
        .filter((F.col("jaccard") >= 0.6) & (F.col("a") < 250) & (F.col("b") >= 250))
        .collect()
    }
    assert verified == exact
    assert len(exact) > 0  # fixture must actually exercise the path


def test_leakage_safe_split_no_cluster_straddles(spark, sf_dir):
    """The defining property: every near-dup cluster's members share
    ONE split; singletons follow their own hash (q76 convention)."""
    from tp_integ_data_pipeline_spark.operators.dedup import (
        dup_clusters,
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", k=3, threshold=0.6)
    clusters = dup_clusters(pairs.select("a", "b"))
    assigned = leakage_safe_split(docs, clusters, "doc_id")
    straddling = (
        clusters.join(assigned, "id")
        .groupBy("cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
    )
    assert straddling.count() == 0
    assert clusters.count() > 0  # fixture exercises the property
    # total coverage: every doc assigned exactly once
    assert assigned.count() == docs.count()


def test_lsh_hot_bucket_salt_preserves_recall(spark):
    """Heavy-boilerplate corpus: every doc identical → every LSH bucket
    is hot. drop-mode silently loses every true ≥0.6 pair; salt-mode
    must find exactly the pairs an uncapped run finds (all of them),
    just split across salted sub-tasks."""
    from tp_integ_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    text = "the same boilerplate sentence repeated across every document here"
    df = spark.createDataFrame([(i, text) for i in range(30)], ["doc_id", "text"])
    sig = minhash_signatures(shingles(df, "doc_id", "text", 3))

    dropped = lsh_candidate_pairs(sig, max_bucket=5, hot_bucket="drop")
    assert dropped.count() == 0  # the recall hole, demonstrated

    salted = lsh_candidate_pairs(sig, max_bucket=5, hot_bucket="salt")
    uncapped = lsh_candidate_pairs(sig, max_bucket=10**9, hot_bucket="drop")
    got = sorted((r.a, r.b) for r in salted.collect())
    want = sorted((r.a, r.b) for r in uncapped.collect())
    assert got == want
    assert len(got) == 30 * 29 // 2  # every pair, each exactly once


def test_neardup_index_probe_hot_bucket_salt(spark, tmp_path):
    """Probe against an index whose buckets are all hot: drop-mode
    returns nothing, salt-mode returns every indexed near-dup."""
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    text = "the same boilerplate sentence repeated across every document here"
    old = spark.createDataFrame([(i, text) for i in range(20)], ["doc_id", "text"])
    new = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    idx.add(old)

    assert idx.probe(new, max_bucket=5, hot_bucket="drop").count() == 0
    got = idx.probe(new, max_bucket=5, hot_bucket="salt").collect()
    assert sorted(r.index_id for r in got) == list(range(20))
    assert all(r.probe_id == 100 and r.est_jaccard == 1.0 for r in got)


def test_neardup_index_empty_probe(spark, sf_dir, tmp_path):
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    docs = load_table(spark, sf_dir, "documents")
    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    assert idx.probe(docs.limit(5)).count() == 0  # empty index: no candidates


def test_neardup_index_empty_probe_schema_tracks_id_type(spark, sf_dir, tmp_path):
    """The empty-index probe result must carry the SAME id types as a
    populated-index probe (derived from the input id column, not
    hardcoded long) so downstream unions/joins don't break only in the
    empty case — e.g. with string doc ids."""
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    empty_idx = NearDupIndex(spark, str(tmp_path / "empty"))
    empty_probe = empty_idx.probe(docs.limit(5))
    assert dict(empty_probe.dtypes) == {
        "probe_id": "string",
        "index_id": "string",
        "est_jaccard": "double",
    }

    full_idx = NearDupIndex(spark, str(tmp_path / "full"))
    full_idx.add(docs.limit(50))
    full_probe = full_idx.probe(docs.limit(5))
    assert dict(full_probe.dtypes) == dict(empty_probe.dtypes)
    # and the two are union-compatible by name
    assert empty_probe.unionByName(full_probe).columns == empty_probe.columns


def test_packing_batchwise_continuation_equals_whole(spark):
    """The incremental contract: pack a corpus in two batches with the
    carried start_offset and get bit-identical layout to packing it
    whole — for both the doc-granular view and the token runs."""
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.operators.packing import (
        pack_sequences,
        pack_token_runs,
    )

    docs = spark.createDataFrame(
        [(i, 7 + (i * 13) % 40) for i in range(60)], "doc_id long, n_tokens long"
    )
    first = docs.filter("doc_id < 30")
    second = docs.filter("doc_id >= 30")
    carried = first.agg(F.sum("n_tokens")).first()[0]
    budget = 64

    whole = pack_sequences(docs, budget).toPandas().sort_values("doc_id").reset_index(drop=True)
    split = (
        pack_sequences(first, budget)
        .unionByName(pack_sequences(second, budget, start_offset=carried))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert whole.equals(split)

    whole_r = (
        pack_token_runs(docs, budget)
        .toPandas().sort_values(["seq_id", "slot"]).reset_index(drop=True)
    )
    first_r = pack_token_runs(first, budget)
    # carried state #2: how many runs batch 1 placed into its last
    # (partially filled) sequence
    boundary = carried // budget
    carried_slot = first_r.filter(F.col("seq_id") == boundary).count()
    split_r = (
        first_r.unionByName(
            pack_token_runs(
                second, budget, start_offset=carried, start_slot=carried_slot
            )
        )
        .toPandas().sort_values(["seq_id", "slot"]).reset_index(drop=True)
    )
    assert whole_r.equals(split_r)
