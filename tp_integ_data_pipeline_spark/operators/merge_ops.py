"""MERGE end-state operators (SURVEY.md §2.8 M1/M2): SCD1, SCD2, insert-if-absent.

The reference executes two server-side SQL MERGEs against PostgreSQL
(transf.py:215-273 SCD1 upsert; transf.py:329-362 insert-if-absent).
These are the pure DataFrame-plan rewrites of those semantics: the
merge END STATE as a SELECT (anti-join + unionByName / one classified
equi-join), directly comparable to a set-algebra SQL oracle and
materialized by the CAS-committed tables in table_store.py.

- M1 SCD1: MATCHED → row takes ALL stage attribute values, audit cols
  `fecha_actualizacion_origen` = stage load date and
  `fecha_actualizacion` = merge date; NOT MATCHED → stage row
  inserted. The reference's `admin4 = stg.admin3` typo (transf.py:239)
  is a recorded deviation: we implement the correct column mapping.
- M2 insert-if-absent: MATCHED → no-op; NOT MATCHED → insert. Re-runs
  are idempotent (README.md:86).
- SCD2 extends the reference's Type-1 MERGE with the history dimension
  the reference drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def scd1_upsert(
    target: DataFrame,
    stage: DataFrame,
    keys: list[str],
    merge_date=None,
    origin_date_col: str | None = None,
    audit_origin: str = "fecha_actualizacion_origen",
    audit_modified: str = "fecha_actualizacion",
) -> DataFrame:
    """M1: SCD Type-1 merge end-state.

    Rows = (target rows with no stage match, unchanged) ∪ (stage rows,
    carrying audit columns). Matching the reference, a matched row's
    `audit_origin` is overwritten with the stage load date ("origin" is
    really "last seen"), and `audit_modified` gets the merge date.
    """
    merge_date_col = F.lit(merge_date).cast("date") if merge_date is not None else F.current_date()
    untouched = target.join(stage.select(*keys), keys, "left_anti")
    upserted = stage
    if origin_date_col is not None:
        upserted = upserted.withColumn(audit_origin, F.col(origin_date_col).cast("date"))
    upserted = upserted.withColumn(audit_modified, merge_date_col)
    # two-way schema evolution (Delta autoMerge semantics): stage-only
    # columns are added to the target with null backfill, target-only
    # columns stay and upserted rows carry null for them
    for col in upserted.columns:
        if col not in untouched.columns:
            untouched = untouched.withColumn(col, F.lit(None).cast(dict(upserted.dtypes)[col]))
    for col in untouched.columns:
        if col not in upserted.columns:
            upserted = upserted.withColumn(col, F.lit(None).cast(dict(untouched.dtypes)[col]))
    return untouched.unionByName(upserted.select(*untouched.columns))


def scd2_upsert(
    target: DataFrame,
    stage: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD Type-2 merge end-state: history-keeping upsert.

    - current rows whose ``tracked`` attributes CHANGED in the stage
      are closed (``valid_to`` = effective date, current flag off) and
      a new current version is appended;
    - stage keys absent from the target insert a first version;
    - current rows with identical tracked values are left untouched
      (no spurious versions — the null-safe ``eqNullSafe`` compare
      treats null==null as unchanged);
    - historical (non-current) rows always pass through unchanged.

    The stage must be unique per key (standard MERGE precondition —
    pre-aggregate a multi-update feed to last-wins first); duplicate
    stage keys would fan the join out into duplicate versions.

    One key-equi-join against the stage, evaluated ONCE: each joined
    row explodes row-locally into its output rows (1 for
    untouched/unchanged, 2 for changed: closed + new version) — the
    single-join-evaluation pattern of :func:`table_changes`, not three
    filtered re-reads of the join. Same end-state-as-SELECT contract
    as :func:`scd1_upsert` (directly comparable to a set-algebra SQL
    oracle). Extends the reference's Type-1 MERGE (transf.py:215-273)
    with the history dimension the reference drops.
    """
    eff = F.lit(effective_date).cast("date")
    cur = target.filter(F.col(is_current))
    hist = target.filter(~F.col(is_current))
    s = stage.select(
        *keys, *[F.col(c).alias(f"__s_{c}") for c in tracked]
    )
    # one join, classified by an explicit marker (null tracked values
    # in the stage must not read as "absent")
    marked = cur.join(s.withColumn("__in_stage", F.lit(True)), keys, "left")
    unchanged_pred = F.lit(True)
    for c in tracked:
        unchanged_pred = unchanged_pred & F.col(c).eqNullSafe(F.col(f"__s_{c}"))
    changed = F.coalesce(F.col("__in_stage"), F.lit(False)) & ~unchanged_pred

    def _struct(overrides: dict) -> F.Column:
        return F.struct(
            *[overrides.get(c, F.col(c)).alias(c) for c in target.columns]
        )

    passthrough_row = _struct({})
    closed_row = _struct({valid_to: eff, is_current: F.lit(False)})
    new_row = _struct(
        {
            **{c: F.col(f"__s_{c}") for c in tracked},
            valid_from: eff,
            valid_to: F.lit(None).cast("date"),
            is_current: F.lit(True),
        }
    )
    exploded = marked.select(
        F.explode(
            F.when(changed, F.array(closed_row, new_row)).otherwise(
                F.array(passthrough_row)
            )
        ).alias("r")
    ).select("r.*")
    # anti-join against CURRENT keys (not all target keys): a key whose
    # current row was retracted but whose history remains must be
    # re-insertable — anti-joining the full target would silently drop
    # its stage row (neither matched nor inserted)
    inserts = (
        stage.join(cur.select(*keys).distinct(), keys, "left_anti")
        .select(*keys, *tracked)
        .withColumn(valid_from, eff)
        .withColumn(valid_to, F.lit(None).cast("date"))
        .withColumn(is_current, F.lit(True))
    )
    # null-pad target columns beyond keys+tracked+SCD bookkeeping (extra
    # payload the stage does not carry) — mirrors scd1_upsert's schema
    # alignment. The UPDATE path carries such columns from the matched
    # current row (the _struct default); fresh inserts get null.
    target_types = dict(target.dtypes)
    for c in target.columns:
        if c not in inserts.columns:
            inserts = inserts.withColumn(c, F.lit(None).cast(target_types[c]))
    return hist.unionByName(exploded).unionByName(inserts.select(*target.columns))


def insert_if_absent(target: DataFrame, stage: DataFrame, keys: list[str]) -> DataFrame:
    """M2: append stage rows whose key is absent from the target;
    matched rows DO NOTHING. Idempotent by construction."""
    fresh = stage.join(target.select(*keys), keys, "left_anti")
    return target.unionByName(fresh.select(*target.columns))


