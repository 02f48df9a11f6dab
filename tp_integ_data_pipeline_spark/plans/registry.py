"""Registry wiring query callables to their DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 registers here; the driver
harness pulls ``QUERIES`` / ``ORACLES`` through ``__spark_entry__``.
Queries without an oracle entry (genuinely non-SQL-expressible ops:
approximate ANN, SimHash candidates, streaming-internal state) get the
driver's weaker rows-only check.

Per-query execution choices
---------------------------
Two performance choices vary by query; both are plan-level or scoped
to one conf, and neither changes a graded result:

* the corpus-scan spread is a keyword of the load call
  (``load_table(..., spread=True)``) at the text- and vector-heavy
  consumers, so it is bound when the plan is built;
* the AQE coalescing floor is set by ``apply_query_confs`` when the
  query is built: 128k for the compute-dense joins in
  ``DENSE_SHUFFLE_QUERIES``, the session baseline for every other
  query.

Shuffle widths follow the session's ``spark.sql.shuffle.partitions``;
the registry never writes it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tp_integ_data_pipeline_spark.session import AQE_MIN_PARTITION_SIZE

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Compute-dense joins over sub-MB shuffles: AQE's bytes-only
# coalescing folds their candidate-pair / adjacency partitions into one
# or two tasks, so a 128k floor restores the parallelism (local[4],
# sf0.1, min of 3 interleaved, 1m -> 128k: q163 8.0 -> 4.5 s, q175
# 6.1 -> 3.2 s, q185 6.9 -> 3.6 s, q184 1.5 -> 1.4 s; the other former
# floor users tied, see scripts/ab_r17_conf_mechanisms.json). It is not
# global because on light shuffles it only multiplies task waves.
DENSE_SHUFFLE_QUERIES = frozenset(
    {
        "q163_triangle_count",
        "q175_prefix_similarity_join",
        "q184_cdc_chunks",
        "q185_cross_source_dup_matrix",
    }
)


def apply_query_confs(spark: SparkSession, name: str) -> None:
    """Set the AQE coalescing floor for query ``name``.

    The floor is read when the built plan EXECUTES, so the contract is:
    a registered query is built, then executed, before the next one is
    built (bench.py, the oracle harness and perfbench all run that
    way). The value is always written, so no query inherits the
    previous one's floor."""
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "128k" if name in DENSE_SHUFFLE_QUERIES else AQE_MIN_PARTITION_SIZE,
    )


def query(name: str, oracle: str | None = None):
    def deco(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_query_confs(spark, name)
            return fn(spark, sf_dir)

        run.__name__ = getattr(fn, "__name__", name)
        run.__doc__ = fn.__doc__
        run.__wrapped__ = fn
        QUERIES[name] = run
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
