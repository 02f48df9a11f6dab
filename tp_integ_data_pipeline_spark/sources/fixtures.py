"""Loaders for the driver star-schema fixtures (TESTDATA.md).

Tables live as single parquet files under ``{sf_dir}/{name}.parquet``.
``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
reader rejects outright; with ``spark.sql.legacy.parquet.nanosAsLong``
it surfaces as a nanosecond LongType, which we truncate to
microseconds — exactly what DuckDB's TIMESTAMP (µs) does — so both
engines see identical values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one fixture table; normalizes events.ts to TimestampType.

    ``spread=True`` is the consumer's opt-in to the unsplittable-scan
    spread (see ``_spread_unsplittable_scan``); only the corpus
    consumers whose row-local work is heavy pass it. Relational facts
    regressed when spread: their consumers aggregate in the scan stage,
    so the extra exchange only costs."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts") if name == "events" else None
    if ts_type == "bigint":
        # ns → µs integer division (`div`, not `/`: double would lose
        # precision at 1e18 ns); values are post-1970 so div == floor.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Newer Spark reads TIMESTAMP(NANOS) as µs-truncated NTZ even
        # with the legacy conf; session TZ is UTC, so reinterpreting as
        # an instant yields the same values the bigint path produced —
        # one stable events schema across Spark minor versions.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _spread_unsplittable_scan(spark, df, path) if spread else df


def _spread_unsplittable_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-15 (guide §2.5 input skew): the fixture tables are single
    row-group parquet FILES, so the scan is ONE task and every
    row-local transform before the first exchange — shingle explodes,
    char-gram generation, tokenization — runs serially regardless of
    core count (measured: q175's shingle+freq stage was a single
    894 ms task on 32 idle cores). The guide's remedy for unsplittable
    inputs is to repartition immediately after the read; this helper
    applies it ONLY when the whole input fits in one scan split (file
    size ≤ spark.sql.files.maxPartitionBytes), i.e. exactly the case
    where the scan cannot parallelize itself and the redistribution
    shuffle is bounded by ONE split of data — at production scale
    inputs span many splits/files and this is a no-op.

    Every registered query's graded output is partition-layout
    independent (exact/decimal aggregates, deterministic folds for the
    float-graded keys, keyed winner rules — the r4–r6 hardening), so
    spreading the scan changes wall-clock only; the full 3-SF oracle
    differential re-proves this on the final round-16 code.

    The spread is a per-consumer choice bound in the plan: the
    gram/shingle/token and vector consumers win (local[4], sf0.1: q57
    3.8 -> 1.5 s, q198 3.0 -> 1.2 s), while on consumers whose map work
    is light the extra exchange costs more than it saves."""
    try:
        size = os.path.getsize(path)
        max_split = int(
            _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        )
        # lower bound: on a small file the 32-task wave costs more
        # than the serial map work it spreads (the sf0.01 corpora stay
        # single-task)
        if size > max_split or size < _SPREAD_MIN_BYTES:
            return df
        # FIXED partition count, not defaultParallelism: the spread
        # changes which rows fold together in first-level float
        # partials, so the layout must be a pure function of the file
        # (the r4 determinism lesson — q173's ROUND(AVG) flipped one
        # ULP when the layout followed core count). Round-robin from a
        # single-split scan is deterministic (file order in, fixed
        # cycle out, sortBeforeRepartition pinning retries), so a
        # constant count makes every downstream fold identical on any
        # machine/core count.
        return df.repartition(_SPREAD_PARTITIONS)
    except Exception as exc:  # pragma: no cover - conservative fallback
        # A silently-disabled spread looks exactly like a performance
        # regression (r15 ADVICE): make the fallback visible once.
        global _SPREAD_FALLBACK_WARNED
        if not _SPREAD_FALLBACK_WARNED:
            _SPREAD_FALLBACK_WARNED = True
            print(f"[fixtures] corpus-scan spread disabled: {exc!r}")
        return df


_SPREAD_MIN_BYTES = 512 * 1024

# Deterministic spread width (see _spread_unsplittable_scan): a
# constant, so the float-fold layout never follows the environment.
_SPREAD_PARTITIONS = 32

_SPREAD_FALLBACK_WARNED = False


def _parse_bytes(v: str) -> int:
    """Spark size-string → bytes. Handles Spark's own renderings too:
    a bare trailing 'b' ('134217728b' — returned when the conf was set
    explicitly) and t/p units (r15 ADVICE)."""
    v = v.strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    for suffix, mult in units.items():
        if v.endswith(suffix + "b"):
            return int(float(v[:-2]) * mult)
        if v.endswith(suffix):
            return int(float(v[:-1]) * mult)
    if v.endswith("b"):
        return int(float(v[:-1]))
    return int(v)


def register_views(spark: SparkSession, sf_dir: str, tables=FIXTURE_TABLES) -> None:
    """Register each fixture table as a temp view for spark.sql use."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scratch_dir(prefix: str) -> str:
    """Query-lifetime scratch directory: mkdtemp plus an atexit
    cleanup, so repeated bench/correctness runs don't accumulate
    unbounded /tmp state (lazy DataFrames over the dir stay readable
    for the life of the process, which is exactly the window the
    registry queries need)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
