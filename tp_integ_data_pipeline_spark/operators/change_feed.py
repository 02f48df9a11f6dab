"""Change data feed over the versioned tables (Delta table_changes

re-expressed on the CAS-commit store): diff two committed versions
into insert / delete / update_preimage / update_postimage rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def table_changes(table, v_from: int, v_to: int, keys: list[str]) -> DataFrame:
    """Change data feed between two committed versions (the Delta
    `table_changes` idea re-expressed on the CAS-commit tables): rows
    tagged ``_change_type`` in {insert, delete, update_preimage,
    update_postimage}, comparing the state AS OF ``v_from`` with the
    state AS OF ``v_to`` on ``keys``.

    Shape at 100 TB: ONE full-outer equi-join on the merge keys (the
    minimum any version diff needs without per-commit row tracking),
    then a row-local when/explode to emit 0–2 change rows per key —
    the four change kinds come out of a single evaluation of the join,
    not four filtered re-evaluations. Works on any
    VersionedParquetTable, bucketed or not (``read(version=)``).

    PRECONDITION: ``keys`` must be unique within each compared version
    (the standard CDF contract — same as :func:`scd2_upsert`'s stage
    precondition). Duplicate keys fan the full-outer join out into
    cross-product change rows; dedup or aggregate to one row per key
    per version before diffing.
    """
    old = table.read(version=v_from)
    new = table.read(version=v_to)
    if old is None and new is None:
        raise ValueError("table_changes: both versions are empty")
    template = new if new is not None else old
    if old is None:
        old = template.limit(0)
    if new is None:
        new = template.limit(0)
    # schema evolution between the versions: diff over the UNION of
    # both schemas (new side's type wins on a shared name), each side
    # null-padded for columns it lacks — an evolved column shows as
    # null in the preimage instead of crashing the feed, and a dropped
    # column still surfaces in delete/preimage rows
    union_fields: dict = {}
    for f in old.schema:
        union_fields[f.name] = f.dataType
    for f in new.schema:
        union_fields[f.name] = f.dataType

    def _pad(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                F.col(c) if c in have else F.lit(None).cast(t).alias(c)
                for c, t in union_fields.items()
            ]
        )

    old, new = _pad(old), _pad(new)
    payload = [c for c in union_fields if c not in keys]
    if not payload:
        # struct() with zero fields fails at plan time; an all-columns-
        # are-keys table is a membership set, so diff as one: synthesize
        # a constant marker payload — inserts/deletes come out right and
        # updates are impossible by construction (round-5 advice).
        marker = "__cdf_present"
        old = old.withColumn(marker, F.lit(True))
        new = new.withColumn(marker, F.lit(True))
        union_fields[marker] = old.schema[marker].dataType
        payload = [marker]
    o = old.select(*keys, F.struct(*payload).alias("__o"), F.lit(True).alias("__in_o"))
    n = new.select(*keys, F.struct(*payload).alias("__n"), F.lit(True).alias("__in_n"))
    j = o.join(n, keys, "full_outer")
    change_struct = "struct<_change_type:string,row:struct<" + ",".join(
        f"`{c}`:{t.simpleString()}"
        for c, t in union_fields.items()
        if c not in keys
    ) + ">>"
    changes = (
        F.when(
            F.col("__in_o").isNull(),
            F.array(F.struct(F.lit("insert").alias("_change_type"), F.col("__n").alias("row"))),
        )
        .when(
            F.col("__in_n").isNull(),
            F.array(F.struct(F.lit("delete").alias("_change_type"), F.col("__o").alias("row"))),
        )
        .when(
            ~F.col("__o").eqNullSafe(F.col("__n")),
            F.array(
                F.struct(F.lit("update_preimage").alias("_change_type"), F.col("__o").alias("row")),
                F.struct(F.lit("update_postimage").alias("_change_type"), F.col("__n").alias("row")),
            ),
        )
        .otherwise(F.array().cast(f"array<{change_struct}>"))
    )
    return (
        j.select(*keys, F.explode(changes).alias("__c"))
        .select(*keys, "__c._change_type", "__c.row.*")
    )

def compact_cdc(
    feed: DataFrame,
    keys: list[str],
    ts_col: str,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Compact a CDC event log to its latest-state snapshot: for every
    key keep the payload of the LAST event by (ts, seq), dropping keys
    whose last event is a delete — the read side of a changelog topic
    (Kafka compaction / Delta CDF replay collapsed to a table).

    Shape at 100 TB: ONE key-partitioned aggregate using ``max_by``
    over the (ts, seq) ordering struct — no window, no sort of the
    full log, map-side combinable (each partition keeps one candidate
    row per key before the shuffle). ``seq_col`` is the REQUIRED
    tie-break: CDC timestamps collide under batching, and an
    unordered tie would make the snapshot nondeterministic.

    NULL-op convention: a NULL ``op_col`` is treated as an upsert (the
    common changelog encoding where only deletes are tagged) — the
    filter is null-safe, so NULL-op keys are KEPT, not silently dropped
    by SQL three-valued logic (round-5 advice, change_feed.py:94).
    """
    payload = [c for c in feed.columns if c not in (*keys, ts_col, seq_col)]
    ordk = F.struct(F.col(ts_col), F.col(seq_col))
    agg = feed.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in (*payload, ts_col, seq_col)]), ordk).alias(
            "__last"
        )
    )
    return (
        agg.select(*keys, "__last.*")
        .filter(F.col(op_col).isNull() | (F.col(op_col) != F.lit(delete_op)))
        .drop(op_col)
    )
