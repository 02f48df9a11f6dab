"""plans/session_cache.py unit behavior: per-(session, key) reuse,
dead-session eviction and cold rebuilds after a clear — the one memo
every query that shares prework goes through (MinHash pairs/clusters,
ordered sets, refresh relations, the IVF model, staged streams)."""

from __future__ import annotations

import os
import sys

from tp_integ_data_pipeline_spark.plans import QUERIES, streaming_queries
from tp_integ_data_pipeline_spark.plans import session_cache as sc
from tp_integ_data_pipeline_spark.sources.fixtures import FIXTURE_TABLES, load_table

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import build_jobs  # noqa: E402


def test_reuse_and_key_separation(spark):
    calls = []

    def build(tag):
        def _b():
            calls.append(tag)
            return spark.range(1)

        return _b

    sc._CACHES.pop("t_cache", None)
    a1 = sc.session_cached(spark, "t_cache", ("k1",), build("k1"))
    a2 = sc.session_cached(spark, "t_cache", ("k1",), build("k1"))
    b1 = sc.session_cached(spark, "t_cache", ("k2",), build("k2"))
    assert a1 is a2  # second call is a hit, no rebuild
    assert b1 is not a1  # different key -> different relation
    assert calls == ["k1", "k2"]


def test_dead_session_eviction(spark):
    sc._CACHES.pop("t_evict", None)
    cache = sc._CACHES.setdefault("t_evict", {})
    cache[("dead-app-id", "k")] = spark.range(1)  # a stale session's entry
    sc.session_cached(spark, "t_evict", ("k",), lambda: spark.range(2))
    app = spark.sparkContext.applicationId
    assert list(cache) == [(app, "k")]  # stale entry evicted on insert


def test_dead_session_eviction_sweeps_all_cache_names(spark):
    """r8 ADVICE regression: inserting under ONE cache name must evict
    dead-session entries under EVERY cache name, or checkpointed
    relations keyed elsewhere pin memory for the process lifetime."""
    app = spark.sparkContext.applicationId
    sc._CACHES.pop("t_sweep_a", None)
    sc._CACHES.pop("t_sweep_b", None)
    other = sc._CACHES.setdefault("t_sweep_b", {})
    other[("dead-app-id", "k")] = spark.range(1)
    other[(app, "live")] = spark.range(1)
    sc.session_cached(spark, "t_sweep_a", ("k",), lambda: spark.range(2))
    # dead entry under the OTHER name is gone; the live session's stays
    assert list(other) == [(app, "live")]


def test_cleared_memo_means_a_cold_build(spark, sf_dir):
    """With the memo primed, a rebuild of q235 reuses its staging dir
    and a rebuild of q52 trains no IVF model (starts no job); after
    ``_CACHES.clear()`` both build cold again: a new staging dir, and
    as many jobs as the first build. The fixture schemas are read
    first, as in the build-job census, so no build infers one."""
    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name)
    keys = ("q235_stream_tumbling_append", "q52_ann_ivf")

    def builds() -> dict[str, int]:
        return {
            k: build_jobs.jobs_started(spark, f"memo:{k}", lambda k=k: QUERIES[k](spark, sf_dir))
            for k in keys
        }

    sc._CACHES.clear()
    cold = builds()
    staging = streaming_queries._flush_staging(spark, sf_dir)
    warm = builds()
    assert streaming_queries._flush_staging(spark, sf_dir) == staging
    assert warm["q235_stream_tumbling_append"] < cold["q235_stream_tumbling_append"]
    assert (cold["q52_ann_ivf"] > 0, warm["q52_ann_ivf"]) == (True, 0)
    sc._CACHES.clear()
    assert builds() == cold
    assert streaming_queries._flush_staging(spark, sf_dir) != staging
