"""The one in-process memo for EXPENSIVE prework shared by several
registered queries over the same corpus (ordered token sets for prefix
joins, MinHash-LSH pair relations, duplicate clusters, refresh
relations, the IVF model, staged stream inputs).

Semantics: one value per (applicationId, *key); entries from dead
sessions are evicted on the next insert so a long-lived process never
accumulates unreachable checkpointed RDD references. Clearing
``_CACHES`` forgets every memo, so the next build is cold. Caching is
an in-process wall-time optimization only — every consumer still
expresses the full logical plan, so correctness (and the DuckDB oracle
differential) is unaffected; at cluster scale the same role is played
by materializing the shared relation once per pipeline run."""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

_CACHES: dict[str, dict[tuple, Any]] = {}


def session_cached(
    spark: SparkSession,
    cache_name: str,
    key: tuple,
    build: Callable[[], Any],
) -> Any:
    app = spark.sparkContext.applicationId
    cache = _CACHES.setdefault(cache_name, {})
    full = (app, *key)
    cached = cache.get(full)
    if cached is not None:
        return cached
    # sweep EVERY cache name for dead-session entries, not just the one
    # being inserted into — otherwise checkpointed DataFrames keyed
    # under other names pin memory for the process lifetime (r8 ADVICE)
    for c in _CACHES.values():
        for stale in [k for k in c if k[0] != app]:
            del c[stale]
    val = build()
    cache[full] = val
    return val


def per_session(fn: Callable[..., Any]) -> Callable[..., Any]:
    """Memoize ``fn(spark, sf_dir, *args)`` per session through
    `session_cached`, keyed ``(sf_dir, *args)`` under ``fn``'s
    module-qualified name. `session_cached` is looked up at call time,
    so a wrapper installed on this module sees every lookup."""
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def memoized(spark: SparkSession, sf_dir: str, *args: Any) -> Any:
        return session_cached(spark, name, (sf_dir, *args), lambda: fn(spark, sf_dir, *args))

    return memoized
