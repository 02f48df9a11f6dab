"""Registry wiring query callables to their DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 registers here; the driver
harness pulls ``QUERIES`` / ``ORACLES`` through ``__spark_entry__``.
Queries without an oracle entry (genuinely non-SQL-expressible ops:
approximate ANN, SimHash candidates, streaming-internal state) get the
driver's weaker rows-only check.

Per-query execution choices
---------------------------
A query build writes no session conf, so a built DataFrame carries
every execution choice in its plan and runs the same whatever was
built between its build and its action:

* the corpus-scan spread is a keyword of the load call
  (``load_table(..., spread=True)``) at the text- and vector-heavy
  consumers;
* the compute-dense joins over sub-MB shuffles (q163's oriented edge
  set, q175/q185's candidate pairs) repartition their relation to an
  explicit count, the session's ``spark.sql.shuffle.partitions`` read
  at build time; AQE does not coalesce an exchange with an explicit
  count, so those partitions are not folded into one task.

Every other shuffle width follows the session's
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
