"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (EP2-shape transform chain: scan →
  filter → derive → broadcast-join dims → group → sort) at sf0.001.
- ``queries()``: one callable per implemented operator from
  SURVEY.md §2 (registered in tp_integ_data_pipeline_spark.plans).
- ``oracle_sql()``: matching DuckDB SQL per query; non-SQL-expressible
  ops (xxhash-based SimHash candidates, approximate ANN) are omitted →
  rows-only check.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from tp_integ_data_pipeline_spark import plans  # noqa: E402
from tp_integ_data_pipeline_spark.session import tune_for_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_for_session(spark)
    return plans.QUERIES["q00_flagship"](spark, SMOKE_SF_DIR)


# The external correctness run over queries() grades only the FIRST 50
# entries.
FRONT_SIZE = 50


def _last_graded() -> dict[str, int]:
    """Key -> round of the newest committed CORRECTNESS_r{N}.json that
    grades it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                for key in json.load(fh):
                    last[key] = max(last.get(key, 0), int(m.group(1)))
    return last


def _ordered_names() -> list[str]:
    """Registry order, with the FRONT_SIZE keys whose newest committed
    grade is oldest rotated to the front (never graded counts as
    oldest; ties keep registry order), so the capped run re-validates
    the stalest evidence. Without any CORRECTNESS file this is plain
    registry order."""
    last = _last_graded()
    front = sorted(plans.QUERIES, key=lambda n: last.get(n, -1))[:FRONT_SIZE]
    chosen = set(front)
    return front + [n for n in plans.QUERIES if n not in chosen]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(plans.QUERIES[name]) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {n: plans.ORACLES[n] for n in _ordered_names() if n in plans.ORACLES}
