"""Incremental view maintenance (IVM) over a change data feed.

Composes with ``operators/change_feed.table_changes`` (the CDF between two
commits of a Versioned/Bucketed parquet table): instead of re-scanning
the 100 TB base to refresh a grouped-agg materialized view, apply the
delta — work is O(|changes| + |touched groups|), never O(|base|).

Two maintenance strategies, matching the algebra of the aggregate:

- ``delta_aggregate`` + ``apply_delta`` — for ADDITIVE measures
  (count, sum; avg = sum/count downstream). Every change row carries a
  sign (+1 insert/update_postimage, -1 delete/update_preimage); the
  signed per-group rollup full-outer-merges into the view. Exact, no
  base access at all.
- ``refresh_dirty_groups`` — for NON-additive measures (min, max,
  count distinct …) that cannot be decremented. Recompute ONLY the
  groups that appear in the feed from the new base state (a semi-join
  prunes the base scan to dirty groups — with a Bucketed table or
  partition-keyed layout that prune reaches the file listing), and
  stitch them onto the untouched view rows with an anti-join.

No reference-repo counterpart (SURVEY.md §2.10 extension surface);
the reference's nightly full-refresh MERGE (transf.py:215-273) is the
shape this replaces at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sign():
    # built lazily: Column construction needs an active SparkContext.
    # Unknown change types raise AT THE ROW — the guard rides the sign
    # expression every delta column consumes, so it cannot be pruned
    # away when a caller selects only a subset of the d_* outputs
    # (a column-level guard on one output would be)
    return (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown _change_type in feed: "), F.col("_change_type")
                )
            )
        )
    )


def delta_aggregate(
    changes: DataFrame,
    group_keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Signed per-group delta of a change feed: (keys, d_<count_col>,
    d_<out> per sum measure). ``sum_cols`` maps output name -> source
    column. Unknown _change_type values fail loudly (null sign would
    silently drop rows)."""
    signed = changes.withColumn("_sign", _sign())
    aggs = [F.sum("_sign").alias(f"d_{count_col}")] + [
        F.sum(F.col(src) * F.col("_sign")).alias(f"d_{out}")
        for out, src in sum_cols.items()
    ]
    return signed.groupBy(*group_keys).agg(*aggs)


def apply_delta(
    view: DataFrame,
    delta: DataFrame,
    group_keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Merge an additive delta into the materialized view: one
    full-outer key join (delta-sized on one side), groups whose count
    reaches zero disappear — exactly the rows a full recompute would
    produce. Zero-valued measure columns keep the view's column types
    (sum over empty decimal stays decimal)."""
    measures = [count_col] + list(sum_cols)
    d = delta.select(
        *group_keys, *[F.col(f"d_{m}").alias(f"_d_{m}") for m in measures]
    )
    merged = view.join(d, on=group_keys, how="full_outer")
    for m in measures:
        merged = merged.withColumn(
            m,
            F.coalesce(F.col(m), F.lit(0)) + F.coalesce(F.col(f"_d_{m}"), F.lit(0)),
        )
    return merged.filter(F.col(count_col) > 0).select(*group_keys, *measures)


def refresh_dirty_groups(
    view: DataFrame,
    base: DataFrame,
    changes: DataFrame,
    group_keys: list[str],
    agg_fn,
) -> DataFrame:
    """Non-additive maintenance: ``agg_fn(df) -> per-group aggregate``
    is re-run only over base rows whose group appears in the change
    feed. dirty is feed-sized (broadcast when small); untouched view
    rows pass through an anti-join unscanned."""
    dirty = changes.select(*group_keys).distinct()
    recomputed = agg_fn(base.join(dirty, on=group_keys, how="left_semi"))
    kept = view.join(dirty, on=group_keys, how="left_anti")
    return kept.unionByName(recomputed)
