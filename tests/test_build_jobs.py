"""Building a query starts no Spark job and writes no session conf: the
fixture-schema memo, the per-key build-job gate
(``scripts/build_jobs.py``) and the dense plans' explicit-count exchanges."""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from tp_integ_data_pipeline_spark import plans
from tp_integ_data_pipeline_spark.sources import fixtures
from tp_integ_data_pipeline_spark.sources.fixtures import load_table

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import build_jobs  # noqa: E402

BUDGET = os.path.join(os.path.dirname(__file__), "build_job_budget.json")


def test_memoized_events_read_matches_cold_read(spark, sf_dir):
    """A cold read infers the footer in one job; the memoized read
    starts none and yields the same dtypes and rows."""
    path = os.path.abspath(f"{sf_dir}/events.parquet")
    for key in [k for k in fixtures._SCHEMAS if k[0] == path]:
        del fixtures._SCHEMAS[key]
    reads = []
    cold_jobs = build_jobs.jobs_started(
        spark, "memo:cold", lambda: reads.append(load_table(spark, sf_dir, "events"))
    )
    warm_jobs = build_jobs.jobs_started(
        spark, "memo:warm", lambda: reads.append(load_table(spark, sf_dir, "events"))
    )
    assert (cold_jobs, warm_jobs) == (1, 0)
    cold, warm = reads
    assert dict(cold.dtypes)["ts"] == "timestamp"
    assert warm.dtypes == cold.dtypes
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewritten_fixture_is_reinferred(spark, tmp_path):
    """A file rewritten with new content (new size and mtime) is
    inferred again, not read with the stale memo."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    first = load_table(spark, str(tmp_path), "t")
    assert first.dtypes == [("a", "int")]
    assert sorted(r.a for r in first.collect()) == [1, 2]
    st = os.stat(path)
    pq.write_table(pa.table({"a": ["x", "y", "z"], "b": [1.5, 2.5, 3.5]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    again = load_table(spark, str(tmp_path), "t")
    assert again.dtypes == [("a", "string"), ("b", "double")]
    assert sorted(tuple(r) for r in again.collect()) == [("x", 1.5), ("y", 2.5), ("z", 3.5)]


def test_building_a_query_starts_no_job_outside_the_budget(spark, sf_dir):
    """Every registered key is built at sf0.001 (nothing collected). A
    key outside the budget starts no job; a key inside starts at most
    its budget. The counts include every job started during the build,
    whatever its job group: a streaming query's micro-batches run under
    the query's own group and count too, so the streaming keys carry
    their measured counts. The budget may only shrink.

    A build also writes no session conf: every execution choice is in
    the built plan, so ``spark.conf.getAll`` is the same after each
    key's build as before the census."""
    with open(BUDGET) as fh:
        budget = {k: n for keys in json.load(fh).values() for k, n in keys.items()}
    per_key, conf_writes = build_jobs.census(spark, sf_dir)
    assert not conf_writes, f"query builds changed session confs: {conf_writes}"
    assert not set(budget) - set(per_key), "budget names unregistered keys"
    over = {k: (n, budget.get(k, 0)) for k, n in per_key.items() if n > budget.get(k, 0)}
    assert not over, f"build jobs over budget (jobs, budget): {over}"


# The compute-dense joins over sub-MB shuffles.
DENSE_KEYS = (
    "q163_triangle_count",
    "q175_prefix_similarity_join",
    "q185_cross_source_dup_matrix",
)


def test_dense_plans_carry_a_session_width_exchange(spark, sf_dir):
    """The dense keys' built plans hold an explicit-count exchange at
    the session's ``spark.sql.shuffle.partitions``, which AQE does not
    coalesce; the plans are built on a session whose width differs from
    the local cores, so the count is read from the session."""
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        for key in DENSE_KEYS:
            df = plans.QUERIES[key](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert re.search(r"hashpartitioning\([^)]*, 7\), REPARTITION_BY_NUM", plan), key
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
