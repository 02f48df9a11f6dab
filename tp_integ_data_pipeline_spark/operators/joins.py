"""Join operators (SURVEY.md §2.3).

The reference performs one join — a left equi-join enriching the fact
table from a tiny dimension (transf.py:94-99). The engine exposes it
through a broadcast-aware wrapper that gates the hint on Catalyst's
size estimate. (Anti-join dedup-before-write lives in
operators/merge_ops.py; the as-of join in operators/asof.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEFAULT_BROADCAST_THRESHOLD = 10 * 1024 * 1024  # Spark's autoBroadcastJoinThreshold default


_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def parse_size_bytes(value) -> int:
    """Parse a Spark size conf value to bytes: a bare count ('10485760',
    '-1'), a count in bytes as Spark renders an explicitly set conf
    ('134217728b'), or k/m/g/t/p with or without a trailing 'b'
    ('128m', '64KB')."""
    s = str(value).strip().lower().removesuffix("b")
    mult = _SIZE_UNITS.get(s[-1:], 1)
    return int(float(s[:-1] if mult > 1 else s) * mult)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for the frame's optimized plan.

    For parquet scans this is file-size based, so it tracks the actual
    data volume (scale factor) rather than a guess made at code-write
    time. Returns None when the estimate is unavailable.
    """
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def session_width_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` on ``cols`` to an explicit count: the
    session's ``spark.sql.shuffle.partitions``, read when the plan is
    built. AQE coalesces only exchanges without an explicit count, so a
    compute-dense join over a sub-MB relation keeps one partition per
    core instead of being folded into one task by its byte size."""
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(width, *cols)


def maybe_broadcast(df: DataFrame, threshold_bytes: int | None = None) -> DataFrame:
    """Stats-gated broadcast hint.

    A hardcoded ``F.broadcast()`` on a table that grows with data volume
    is the classic 100×-scale defect: correct and fast at test SF,
    executor OOM at the 100 TB design point (a TPC-H ``customer`` at
    SF100k is terabytes). This helper consults Catalyst's size estimate
    for the plan and adds the hint only when the estimate fits under the
    session's ``spark.sql.autoBroadcastJoinThreshold`` (or an explicit
    byte threshold). Above the threshold — or when no estimate exists —
    it returns the frame unhinted and lets the planner/AQE pick
    SMJ/SHJ, which degrades gracefully instead of OOMing.

    Truly bounded dims (nation=25 rows, region=5, 1-row scalar
    aggregates) keep their explicit ``F.broadcast`` hints at call sites;
    this gate is for anything whose cardinality is data-dependent.
    """
    if threshold_bytes is None:
        try:
            raw = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
            threshold_bytes = parse_size_bytes(raw)
        except Exception:
            threshold_bytes = _DEFAULT_BROADCAST_THRESHOLD
    if threshold_bytes <= 0:
        return df  # broadcast disabled session-wide
    size = plan_size_bytes(df)
    if size is None or size > threshold_bytes:
        return df
    return F.broadcast(df)


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
    broadcast_dim: bool | str = "auto",
) -> DataFrame:
    """J1: fact ⟕ dim with projection pushdown on the dim side.

    The reference manually projects the dim to 3 columns before the
    merge; Catalyst prunes automatically, but we keep the explicit
    projection as documentation of intent. ``broadcast_dim="auto"``
    (default) routes through the stats-gated :func:`maybe_broadcast`,
    so bounded dims broadcast (no shuffle of the 100 TB fact side) and
    oversized ones fall back to a shuffle join instead of OOMing.
    """
    cols = dim_cols if dim_cols is not None else dim.columns
    if dim_key not in cols:
        cols = [dim_key, *cols]
    d = dim.select(*cols)
    if broadcast_dim == "auto":
        d = maybe_broadcast(d)
    elif broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, fact[fact_key] == d[dim_key], how)
