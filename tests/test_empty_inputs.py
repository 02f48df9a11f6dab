"""Empty-input robustness: operators must degrade to empty results,
not crash — the 100 TB pipeline regularly sees empty partitions,
empty batches, and filters that eliminate everything."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tp_integ_data_pipeline_spark.operators.dedup import (
    minhash_near_dup_pairs,
    pair_jaccard,
    shingles,
    simhash_near_dup_pairs,
)
from tp_integ_data_pipeline_spark.operators.asof import asof_join
from tp_integ_data_pipeline_spark.operators.merge_ops import insert_if_absent, scd1_upsert
from tp_integ_data_pipeline_spark.operators.similarity import cosine_pairs, knn_bruteforce


def _empty_docs(spark):
    return spark.createDataFrame(
        [], T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())])
    )


def test_dedup_ops_on_empty(spark):
    docs = _empty_docs(spark)
    assert shingles(docs, "doc_id", "text").count() == 0
    assert minhash_near_dup_pairs(docs, "doc_id", "text").count() == 0
    assert simhash_near_dup_pairs(docs, "doc_id", "text").count() == 0
    assert pair_jaccard(shingles(docs, "doc_id", "text")).count() == 0


def test_similarity_ops_on_empty(spark):
    emb = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    assert cosine_pairs(emb, threshold=0.5).count() == 0
    assert knn_bruteforce(emb, emb, k=3).count() == 0


def test_asof_join_empty_right(spark):
    left = spark.createDataFrame([(1, "2023-01-01 00:00:00")], ["k", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    right = left.filter(F.lit(False)).withColumnRenamed("k", "k2").select(
        F.col("k2").alias("k"), "ts", F.lit(1).alias("payload")
    )
    out = asof_join(
        left, right.withColumn("asof_ts", F.col("ts")), key="k", left_ts="ts",
        right_ts="ts", right_seq="payload", right_vals=["asof_ts", "payload"],
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].asof_ts is None and rows[0].payload is None


def test_merge_ops_with_empty_sides(spark):
    t = spark.createDataFrame([(1, "a")], ["k", "v"])
    empty = t.filter(F.lit(False))
    assert insert_if_absent(t, empty, ["k"]).count() == 1
    assert insert_if_absent(empty, t, ["k"]).count() == 1
    merged = scd1_upsert(t, empty, ["k"], merge_date="2024-01-01")
    assert merged.count() == 1  # all rows untouched


def test_bucketed_merge_empty_stage_is_noop(spark, tmp_path):
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

    tbl = VersionedParquetTable(spark, str(tmp_path / "wh"), bucket_keys=["k"], n_buckets=4)
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    tbl.merge_insert_if_absent(base, ["k"])
    before = tbl.bucket_dirs()
    tbl.merge_insert_if_absent(base.limit(0), ["k"])
    assert tbl.bucket_dirs() == before  # no bucket touched
    assert tbl.read().count() == 2


def test_zorder_empty_and_degenerate(spark):
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.operators.layout import zorder_dataframe

    empty = spark.createDataFrame([], "a long, b double")
    assert zorder_dataframe(empty, ["a", "b"], 4).count() == 0
    # degenerate: constant column (min==max) must not divide by zero
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], ["a", "b"])
    out = zorder_dataframe(const, ["a", "b"], 2)
    assert sorted(r.a for r in out.collect()) == [1, 2]


def test_vacuum_and_history_on_empty_table(spark, tmp_path):
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable

    tbl = VersionedParquetTable(spark, str(tmp_path / "vt"))
    assert tbl.history() == []
    assert tbl.vacuum(retention_seconds=0) == []
    assert tbl.read() is None


def test_ivf_topk_empty_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.operators.similarity import ivf_fit, ivf_topk
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf_fit(emb, n_cells=4)
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 0), centroids, k=3)
    assert out.count() == 0


def test_dup_clusters_empty_pairs(spark):
    from tp_integ_data_pipeline_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([], "a long, b long")
    assert dup_clusters(pairs).count() == 0


def test_substring_ops_empty_input(spark):
    from tp_integ_data_pipeline_spark.operators.substring import (
        duplicated_spans,
        strip_spans,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    spans = duplicated_spans(empty, k=8)
    assert spans.count() == 0
    assert strip_spans(empty, spans).count() == 0


def test_pack_token_runs_empty_input(spark):
    from tp_integ_data_pipeline_spark.operators.packing import pack_token_runs

    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_token_runs(empty, budget=512).count() == 0


def test_cluster_canonicals_empty_input(spark):
    from tp_integ_data_pipeline_spark.operators.dedup import cluster_canonicals

    from pyspark.sql import functions as F

    clusters = spark.createDataFrame([], "id long, cluster long")
    docs = spark.createDataFrame([], "doc_id long, n_chars long")
    out = cluster_canonicals(clusters, docs, "doc_id", [F.col("n_chars").desc(), F.col("id")])
    assert out.count() == 0 and out.columns == ["id", "cluster", "keep"]


def test_global_cumsum_empty_input(spark):
    from tp_integ_data_pipeline_spark.operators.packing import (
        global_cumsum,
        pack_sequences,
    )

    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert global_cumsum(empty, "doc_id", "n_tokens").count() == 0
    assert pack_sequences(empty, budget=512).count() == 0


def test_selection_ops_empty_input(spark):
    from tp_integ_data_pipeline_spark.operators.selection import (
        bpe_pair_counts,
        dsir_weights,
        trigram_surprisal,
    )

    docs = _empty_docs(spark)
    assert dsir_weights(docs, F.lit(True)).count() == 0
    assert trigram_surprisal(docs).count() == 0
    assert bpe_pair_counts(docs).count() == 0
    # all-target / no-target degenerate splits on a non-empty corpus
    some = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    assert dsir_weights(some, F.lit(True)).count() == 2
    none = dsir_weights(some, F.lit(False)).toPandas()
    assert len(none) == 2 and none["weight"].notna().all()


def test_round4_ops_on_empty(spark):
    """This round's operators: empty edges, empty corpora, empty
    feeds, empty stages — all degrade to empty/no-op, never crash."""
    import datetime

    from tp_integ_data_pipeline_spark.operators.graph import pagerank
    from tp_integ_data_pipeline_spark.operators.ivm import apply_delta, delta_aggregate
    from tp_integ_data_pipeline_spark.operators.linkage import edit_distance_join
    from tp_integ_data_pipeline_spark.operators.merge_ops import scd2_upsert
    from tp_integ_data_pipeline_spark.operators.privacy import pseudonymize
    from tp_integ_data_pipeline_spark.operators.quantize import (
        codes_to_array,
        quantize_codes,
    )
    from tp_integ_data_pipeline_spark.operators.sketches import (
        merge_shard_topk,
        shard_topk_partials,
    )

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges, iters=2).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    ex = quantize_codes(empty_emb, "embedding", "vec_id")
    assert ex.count() == 0 and codes_to_array(ex).count() == 0

    empty_keys = spark.createDataFrame([], "id long, key string")
    assert (
        edit_distance_join(
            empty_keys, empty_keys, "key", "key", "id", "id"
        ).count()
        == 0
    )

    empty_toks = spark.createDataFrame([], "shard long, tok string")
    kept, cutoffs = shard_topk_partials(empty_toks, key="tok", shard="shard", c=5)
    assert merge_shard_topk(kept, cutoffs, key="tok", shard="shard", k=5).count() == 0

    # IVM with empty view AND empty feed
    empty_view = spark.createDataFrame([], "grp string, n long, total long")
    empty_feed = spark.createDataFrame(
        [], "id long, grp string, amt long, _change_type string"
    )
    delta = delta_aggregate(empty_feed, ["grp"], {"total": "amt"}, count_col="n")
    assert (
        apply_delta(empty_view, delta, ["grp"], {"total": "amt"}, count_col="n").count()
        == 0
    )

    # SCD2: empty stage leaves the target identical; empty target inserts all
    d = datetime.date(2024, 1, 1)
    tgt = spark.createDataFrame(
        [(1, "a", d, None, True)],
        "k long, attr string, valid_from date, valid_to date, is_current boolean",
    )
    empty_stage = spark.createDataFrame([], "k long, attr string")
    same = scd2_upsert(tgt, empty_stage, ["k"], ["attr"], "2024-06-01")
    assert same.count() == 1 and same.collect()[0]["is_current"]
    empty_tgt = tgt.limit(0)
    stage = spark.createDataFrame([(9, "z")], "k long, attr string")
    first = scd2_upsert(empty_tgt, stage, ["k"], ["attr"], "2024-06-01").collect()
    assert len(first) == 1 and first[0]["is_current"]

    assert pseudonymize(empty_keys, ["key"], salt="s").count() == 0


def test_funnel_verdicts_on_empty(spark):
    """Empty corpus → empty verdict relation with the full schema (the
    r9 family's builder; every report then returns 0 rows)."""
    from tp_integ_data_pipeline_spark.plans.refresh_queries import funnel_verdicts

    docs = spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = funnel_verdicts(docs)
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id", "source", "lang", "n_chars", "n_words", "is_bench",
        "is_dup", "too_short", "low_quality", "contaminated", "stage_idx",
    }


def test_chain_admission_core_and_carry_on_empty(spark):
    """The chain's building blocks degrade on empty inputs: an empty
    arrival yields an empty admission relation; the carry row over an
    empty corpus + empty admission is the all-zero bookkeeping row
    (next refresh starts at offset 0), never a crash or a NULL."""
    from pyspark.sql import types as T

    from tp_integ_data_pipeline_spark.plans.curation import (
        admission_core,
        bounded_bench_grams,
        word_ngrams,
    )
    from tp_integ_data_pipeline_spark.plans.refresh_queries import _carry_report

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    arrival = spark.createDataFrame([], schema)
    kept = spark.createDataFrame(
        [],
        "doc_id long, source string, n_words int, text string",
    )
    grams = bounded_bench_grams(
        arrival.select(F.split("text", " ").alias("w")),
        F.array_distinct(word_ngrams(F.col("w"), 8)),
    )
    adm = admission_core(arrival, kept, grams)
    assert adm.count() == 0
    carry = _carry_report(kept, adm).collect()
    assert len(carry) == 1
    r = carry[0]
    assert (
        r.n_kept_before, r.n_batch, r.n_admitted,
        r.tokens_before, r.tokens_admitted,
        r.next_start_offset, r.n_seqs_complete, r.boundary_fill,
    ) == (0, 0, 0, 0, 0, 0, 0, 0)
