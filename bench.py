"""Round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is fully materialized through the noop sink (no driver
collect — the 100 TB rule). A small untimed warmup absorbs JVM/codegen
startup so round-over-round numbers compare real plan cost.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tp_integ_data_pipeline_spark import plans
from tp_integ_data_pipeline_spark.session import get_session

HEADLINE = [
    "q00_flagship",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q10_window_topk",
    "q11_window_running_sum",
    "q20_tumbling_window",
    "q30_transform_chain",
    "q41_ngram_jaccard_topk",
    "q42_minhash_lsh_pairs",
    "q44_embedding_near_dup",
    "q50_knn_bruteforce",
    "q55_text_stats",
    "q56_lang_id_confusion",
    "q57_fingerprint",
    "q60_stream_tumbling_window",
    "q66_decode_stub",
    "q70_scd1_merge",
    "q87_dup_clusters",
    "q90_corpus_dedup",
    "q93_decontam",
    "q97_curation_pipeline",
    "q100_pack_sequences",
    "q103_incremental_neardup",
    "q105_substring_spans",
    "q106_substring_strip",
    "q107_pack_token_runs",
    "q112_dsir_weights",
    "q113_trigram_surprisal",
    "q114_bpe_pairs",
    "q115_retention_cohorts",
    "q116_funnel",
    "q117_trailing_window_avg",
    "q118_label_centroids",
    "q119_weighted_sample",
    "q120_hll_shard_rollup",
    "q121_canonical_dedup",
    "q123_lateral_topk",
    "q124_recursive_walk",
    "q125_vocab_coverage",
    "q126_embedding_covariance",
    "q130_bigram_pmi",
    "q131_length_trim",
    "q137_embedding_quantize",
    "q138_incremental_view",
    "q140_gapfill_resample",
    "q141_pagerank",
    "q142_scd2_history",
    "q145_fuzzy_linkage",
    "q154_salted_join",
    "q155_cdc_compaction",
    "q156_linear_interpolation",
    "q157_dq_audit",
    "q158_stratified_sample",
    "q159_embedding_dup_clusters",
    "q160_asof_join",
    "q161_inverted_search",
    "q162_robust_outliers",
    "q163_triangle_count",
    "q153_bpe_tokenizer",
    "q164_bm25_topk",
    "q165_count_min_sketch",
    "q166_k_anonymity",
    "q167_source_novelty",
    "q168_kmv_distinct",
    "q169_grouped_deciles",
    "q170_psi_drift",
    "q171_kmv_join_estimate",
    "q172_bloom_prune",
    "q173_column_stats",
    "q174_image_dhash_pairs",
    "q175_prefix_similarity_join",
    "q176_entity_resolution",
    "q177_weighted_median",
    "q178_winsorize",
    "q179_containment_join",
    "q180_line_dedup_rebuild",
    "q181_rank_sketch_quantiles",
    "q182_domain_cap",
    "q183_repetition_signals",
    "q184_cdc_chunks",
    "q185_cross_source_dup_matrix",
    "q186_url_canonical_dedup",
    "q187_temperature_mixture",
    "q188_decayed_engagement",
    "q189_trend_lines",
    "q190_length_bucketing",
    "q191_prefix_cache_share",
    "q192_source_token_jsd",
    "q193_backoff_lm_score",
    "q194_key_skew_profile",
    "q195_ngram_diversity",
    "q196_training_order_shard",
    "q197_consecutive_line_collapse",
    "q198_char_entropy",
    "q199_compression_quality",
    "q200_stratified_kfold",
    "q201_functional_dependencies",
    "q202_referential_integrity",
    "q203_benford_audit",
    "q204_funnel_conversion",
    "q205_cohort_retention",
    "q206_event_transitions",
    "q207_new_returning",
    "q208_ab_test",
    "q209_basket_pair_lift",
    "q210_rater_agreement",
    "q211_corr_profile",
    "q212_calibration_ece",
    "q213_chi2_independence",
    "q214_jackknife_ci",
    "q215_dup_spectrum",
    "q216_id_gaps",
    "q217_cusum_changepoint",
    "q218_session_concurrency",
    "q219_woe_iv",
    "q220_l_diversity",
    "q221_attribution",
    "q222_session_paths",
    "q223_km_survival",
    "q224_negative_sampling",
    "q225_audio_silence",
    "q226_weak_labels",
    "q227_trailing_p95",
    "q228_minhash_calibration",
    "q229_seasonal_decompose",
    "q230_diff_in_diff",
    "q231_truncation_loss",
    "q232_stream_session_window",
    "q233_srm_check",
    "q234_reconciliation",
    "q235_stream_tumbling_append",
    "q236_stream_sliding_append",
    "q237_rouge_pairs",
    "q238_dataset_card",
    "q239_bleu_pairs",
    "q240_mutual_information",
    "q241_hashed_features",
    "q242_classifier_train",
    "q243_quality_score_frozen",
    "q244_quality_filter_stats",
    "q245_quality_calibration",
    "q246_classifier_eval",
    "q247_feature_importance",
    "q248_filter_funnel",
    "q249_drop_attribution",
    "q250_source_loss_waterfall",
    "q251_stage_overlap",
    "q252_marginal_attribution",
    "q253_threshold_sensitivity",
    "q254_funnel_drift",
    "q255_refresh_admission",
    "q256_refresh_mixture",
    "q257_refresh_packing",
    "q258_refresh_waterfall",
    "q259_refresh_carry_state",
    "q260_refresh_retro_contam",
    "q261_stream_admission",
    "q262_stream_batch_waterfall",
    "q263_stream_packing",
    "q264_stream_carry_state",
    "q265_stream_mixture",
    "q266_stream_retro_contam",
    "q267_chain_admission",
    "q268_chain_packing",
    "q269_chain_carry_state",
    "q270_chain_mixture",
    "q271_chain_retro_contam",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cpu_spin_ms() -> float:
    """Fixed 20M-iteration pure-Python spin, in ms — a raw single-core
    speed probe. The sandbox VM's clock policy varies run to run (r13:
    idle single-core measured 2.0× slower than the same core under
    load — power-save downclocking that uniformly inflates the
    driver-side single-threaded phases every sub-second query pays).
    Like loadavg_1m, this makes a slow-clock window self-labeling: a
    run with cpu_spin_ms far above its round-over-round neighbors is a
    clock-policy artifact, not a plan regression."""
    t0 = time.time()
    x = 0
    for i in range(20_000_000):
        x += i * i
    return round((time.time() - t0) * 1000, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # 1-minute load BEFORE any work starts: the true co-residency
    # label. The at-completion loadavg_1m (kept below for continuity)
    # mixes in the bench's OWN local[N] work, and the round-15 code
    # legitimately runs hotter (more parallel stages after the scan
    # spread / AQE floor), so completion load no longer separates
    # co-resident contamination from healthy self-load.
    loadavg_start = round(os.getloadavg()[0], 2)
    spin_ms = cpu_spin_ms()
    spark = get_session("bench")

    # Warmup (untimed): JVM + codegen + parquet footer caches.
    materialize(plans.QUERIES["q01_pricing_summary"](spark, sf_dir))

    # Two passes, keep the min per query: single-JVM local mode has
    # noisy GC/contention tails; min-of-2 reports plan cost, not noise.
    timings: dict[str, float] = {}
    import gc

    for _pass in range(2):
        # The session memo (plans/session_cache.py, the one place
        # queries share prework: MinHash pairs/clusters, prefix-join
        # ordered sets, refresh relations, the IVF model, staged stream
        # inputs) resets at PASS granularity: within a pass, shared
        # prework is computed once — real pipeline semantics, each row =
        # marginal cost given the pass's earlier queries — while min-of-2
        # never degenerates to timing a cache hit for the query that
        # built the relation or staged the input.
        from tp_integ_data_pipeline_spark.plans.session_cache import _CACHES

        _CACHES.clear()
        for name in HEADLINE:
            # Untimed inter-query GC: drops the previous query's Python
            # DataFrame refs so the ContextCleaner can unpersist its
            # lazy-checkpoint blocks before the next query is timed —
            # the storage-memory isolation each query would get as its
            # own cluster job. Without it, block accumulation inflates
            # the heavy dedup queries ~1.5× by the time they run.
            gc.collect()
            t0 = time.time()
            materialize(plans.QUERIES[name](spark, sf_dir))
            elapsed = round(time.time() - t0, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpu_spin_ms": spin_ms,
        # measured at completion, same as the printed line's field —
        # the full-table snapshot must be self-labeling on its own
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "loadavg_1m_start": loadavg_start,
    }

    # The driver records only the LAST 2000 characters of stdout and
    # json-parses that tail; with 60+ per-query timings the full line
    # exceeds the window and rounds 6-10 recorded `parsed: null`. So:
    # the FULL payload (every timing) goes to a file next to
    # this script — the canonical BASELINE.md table is built from it —
    # and the PRINTED line keeps the same schema but trims `queries` to
    # the slowest entries that fit, with n_queries/n_queries_shown
    # making the trim explicit. `value` is always the full-suite total.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL_last.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    # BENCH_FULL_last.json is a mutable working file — every run
    # overwrites it, and the r12 round lost a driver run's full table
    # exactly that way. Each run ALSO writes an immutable snapshot:
    # BENCH_FULL_<tag>.json, tag = $SPARK_GRAFT_BENCH_TAG if set (the
    # round ritual sets e.g. r14_canonical_run1) else a UTC timestamp.
    # Immutability is enforced, not conventional (r13 ADVICE): the
    # snapshot opens with mode 'x', and a tag collision falls back to
    # a timestamp-suffixed name instead of clobbering the earlier run.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG") or time.strftime(
        "%Y%m%dT%H%M%SZ", time.gmtime()
    )
    snapshot = f"BENCH_FULL_{tag}.json"
    try:
        fh = open(os.path.join(here, snapshot), "x")
    except FileExistsError:
        # r14 ADVICE: the timestamp fallback alone can still collide
        # (two tagged runs finishing in the same UTC second) and a
        # second FileExistsError would crash the bench at the very end,
        # losing the run's full table. pid + a counter make the name
        # unique without ever clobbering an earlier snapshot.
        stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
        for i in range(1000):
            suffix = f"{stamp}_p{os.getpid()}" + (f"_{i}" if i else "")
            snapshot = f"BENCH_FULL_{tag}_{suffix}.json"
            try:
                fh = open(os.path.join(here, snapshot), "x")
                break
            except FileExistsError:
                continue
        else:  # pragma: no cover - 1000 collisions is not a real scenario
            raise
    with fh:
        json.dump(payload, fh, indent=1)
    line = dict(payload)
    line["n_queries"] = len(timings)
    line["full_table"] = snapshot
    # (loadavg_1m and cpu_spin_ms ride along from the payload:
    # 1-minute load at completion labels busy-box windows, raw
    # single-core speed at run start labels slow-clock windows — a
    # 225 s run vs a 168 s idle canonical is provable from the line
    # itself instead of by forensics. Self-labeling beats arguing.)
    shown = dict(sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])))
    while True:
        line["queries"] = shown
        line["n_queries_shown"] = len(shown)
        out = json.dumps(line)
        if len(out) <= 1900 or not shown:
            break
        shown.pop(next(reversed(shown)))
    if len(out) > 1900:
        # Fixed fields alone outgrew the window: fail LOUD with a
        # minimal-but-valid line instead of silently reintroducing the
        # driver's tail-parse `parsed: null` failure this trim exists
        # to prevent.
        out = json.dumps(
            {
                "metric": payload["metric"],
                "value": total,
                "unit": "sec",
                "sf": sf,
                "truncated": "fixed fields exceeded 1900-char budget",
            }
        )
    print(out)


if __name__ == "__main__":
    main()
