"""Interleaved same-session A/B of one registered query under
alternative session confs (same session, variants interleaved, min over
reps, session caches cleared before every timed run so shared prework
is charged consistently).

Each variant's confs are set on the session around a call to the
registered function (a query build writes no session conf, so nothing
overrides them) and the previous values are restored afterwards.
Prints one JSON line per variant. ``scripts/ab_tree_query.py`` A/Bs
two source trees instead.

Usage:
    python scripts/ab_query.py <query> '<json list of conf dicts>' [reps]

Example (an AQE coalescing floor against the stock 1m):
    python scripts/ab_query.py q163_triangle_count \
      '[{"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m"},
        {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k"}]' 3
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tp_integ_data_pipeline_spark import plans  # noqa: E402
from tp_integ_data_pipeline_spark.plans import session_cache  # noqa: E402
from tp_integ_data_pipeline_spark.session import get_session  # noqa: E402


@contextmanager
def session_confs(spark, confs: dict[str, str]):
    """Set ``confs`` on the session; restore (or unset) them on exit."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def time_once(spark, name: str, sf_dir: str, confs: dict[str, str]) -> float:
    """Build and execute (noop sink) the query under ``confs``."""
    fn = plans.QUERIES[name]
    session_cache._CACHES.clear()
    gc.collect()
    with session_confs(spark, confs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen/parquet footers, as in bench.py."""
    plans.QUERIES["q01_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def main() -> None:
    name = sys.argv[1]
    variants = json.loads(sys.argv[2])
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("ab")
    warm_up(spark, sf_dir)
    load_start = os.getloadavg()[0]
    times: list[list[float]] = [[] for _ in variants]
    for _ in range(reps):
        for i, confs in enumerate(variants):
            times[i].append(time_once(spark, name, sf_dir, confs))
    for i, confs in enumerate(variants):
        record = {
            "query": name,
            "variant": i,
            "confs": confs,
            "sf_dir": sf_dir,
            "cpus": spark.sparkContext.defaultParallelism,
            "loadavg_1m_start": load_start,
            "times_s": [round(t, 3) for t in times[i]],
            "min_s": round(min(times[i]), 3),
        }
        print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
