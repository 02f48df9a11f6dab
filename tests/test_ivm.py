"""Incremental view maintenance (operators/ivm.py): delta-applied ==
full recompute, group birth/death, feed validation, dirty-group
refresh for non-additive aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.ivm import (
    apply_delta,
    delta_aggregate,
    refresh_dirty_groups,
)

SCHEMA = "id long, grp string, amt long"
BASE = [
    (1, "a", 10),
    (2, "a", 20),
    (3, "b", 5),
    (4, "b", 7),
    (5, "c", 100),
]
# feed: insert into new group d, delete all of c (group death),
# update row 2 (a), insert another a
FEED = [
    (6, "d", 50, "insert"),
    (5, "c", 100, "delete"),
    (2, "a", 20, "update_preimage"),
    (2, "a", 25, "update_postimage"),
    (7, "a", 1, "insert"),
]
FEED_SCHEMA = "id long, grp string, amt long, _change_type string"


def _view(df):
    return df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amt").alias("total")
    )


def _final_rows():
    rows = {r[0]: r for r in BASE}
    del rows[5]
    rows[2] = (2, "a", 25)
    rows[6] = (6, "d", 50)
    rows[7] = (7, "a", 1)
    return list(rows.values())


def test_apply_delta_equals_full_recompute(spark):
    base = spark.createDataFrame(BASE, SCHEMA)
    feed = spark.createDataFrame(FEED, FEED_SCHEMA)
    delta = delta_aggregate(feed, ["grp"], {"total": "amt"}, count_col="n")
    got = (
        apply_delta(_view(base), delta, ["grp"], {"total": "amt"}, count_col="n")
        .toPandas()
        .set_index("grp")
        .sort_index()
    )
    want = (
        _view(spark.createDataFrame(_final_rows(), SCHEMA))
        .toPandas()
        .set_index("grp")
        .sort_index()
    )
    assert got["n"].to_dict() == want["n"].to_dict()
    assert got["total"].to_dict() == want["total"].to_dict()
    # group death: c is gone; group birth: d exists
    assert "c" not in got.index and "d" in got.index


def test_unknown_change_type_raises(spark):
    feed = spark.createDataFrame([(1, "a", 10, "upsert")], FEED_SCHEMA)
    delta = delta_aggregate(feed, ["grp"], {"total": "amt"}, count_col="n")
    with pytest.raises(Exception, match="unknown _change_type"):
        delta.collect()


def test_refresh_dirty_groups_minmax(spark):
    """min/max can't be decremented — dirty groups are recomputed from
    the new base, untouched groups pass through."""
    base_v2 = spark.createDataFrame(_final_rows(), SCHEMA)
    feed = spark.createDataFrame(FEED, FEED_SCHEMA)

    def agg(df):
        return df.groupBy("grp").agg(
            F.min("amt").alias("lo"), F.max("amt").alias("hi")
        )

    view_v1 = agg(spark.createDataFrame(BASE, SCHEMA))
    got = (
        refresh_dirty_groups(view_v1, base_v2, feed, ["grp"], agg)
        .toPandas()
        .set_index("grp")
        .sort_index()
    )
    want = agg(base_v2).toPandas().set_index("grp").sort_index()
    assert got["lo"].to_dict() == want["lo"].to_dict()
    assert got["hi"].to_dict() == want["hi"].to_dict()


def test_empty_feed_is_noop(spark):
    base = spark.createDataFrame(BASE, SCHEMA)
    feed = spark.createDataFrame([], FEED_SCHEMA)
    delta = delta_aggregate(feed, ["grp"], {"total": "amt"}, count_col="n")
    got = (
        apply_delta(_view(base), delta, ["grp"], {"total": "amt"}, count_col="n")
        .toPandas()
        .set_index("grp")
        .sort_index()
    )
    want = _view(base).toPandas().set_index("grp").sort_index()
    assert got["n"].to_dict() == want["n"].to_dict()
    assert got["total"].to_dict() == want["total"].to_dict()


# ---------------------------------------------------------------------------
# SCD2 history-keeping upsert (operators/merge_ops.scd2_upsert) — kept here
# with the other state-evolution ops (IVM maintains aggregates across
# commits; SCD2 maintains row history across merges)
# ---------------------------------------------------------------------------
from tp_integ_data_pipeline_spark.operators.merge_ops import scd2_upsert  # noqa: E402

_T = "k long, attr string, bal double, valid_from date, valid_to date, is_current boolean"
_S = "k long, attr string, bal double"


def _tgt(spark):
    import datetime

    d = datetime.date(2024, 1, 1)
    rows = [
        (1, "a", 10.0, d, None, True),
        (2, "b", 20.0, d, None, True),
        (3, None, 30.0, d, None, True),
    ]
    return spark.createDataFrame(rows, _T)


def test_scd2_change_insert_unchanged_and_null(spark):
    stage = spark.createDataFrame(
        [(1, "a2", 11.0), (2, "b", 20.0), (3, None, 30.0), (9, "new", 0.0)], _S
    )
    out = (
        scd2_upsert(_tgt(spark), stage, ["k"], ["attr", "bal"], "2024-06-01")
        .toPandas()
        .sort_values(["k", "valid_from"])
        .reset_index(drop=True)
    )
    # k=1 changed: closed old + new current
    k1 = out[out["k"] == 1]
    assert len(k1) == 2
    closed = k1[~k1["is_current"]].iloc[0]
    assert str(closed["valid_to"]) == "2024-06-01" and closed["attr"] == "a"
    assert k1[k1["is_current"]].iloc[0]["attr"] == "a2"
    # k=2 identical, k=3 null==null: exactly one untouched current row
    for k in (2, 3):
        rows = out[out["k"] == k]
        assert len(rows) == 1 and rows.iloc[0]["is_current"]
        assert rows.iloc[0]["valid_to"] is None or str(rows.iloc[0]["valid_to"]) == "NaT"
    # k=9 inserted as first version
    k9 = out[out["k"] == 9].iloc[0]
    assert k9["is_current"] and str(k9["valid_from"]) == "2024-06-01"


def test_scd2_second_merge_builds_three_versions(spark):
    s1 = spark.createDataFrame([(1, "a2", 11.0)], _S)
    v1 = scd2_upsert(_tgt(spark), s1, ["k"], ["attr", "bal"], "2024-06-01")
    s2 = spark.createDataFrame([(1, "a3", 12.0)], _S)
    v2 = (
        scd2_upsert(v1, s2, ["k"], ["attr", "bal"], "2024-09-01")
        .filter("k = 1")
        .toPandas()
        .sort_values("valid_from")
    )
    assert list(v2["attr"]) == ["a", "a2", "a3"]
    assert [str(v) for v in v2["valid_to"]][:2] == ["2024-06-01", "2024-09-01"]
    assert list(v2["is_current"]) == [False, False, True]


def test_scd2_reapply_is_noop(spark):
    s1 = spark.createDataFrame([(1, "a2", 11.0)], _S)
    v1 = scd2_upsert(_tgt(spark), s1, ["k"], ["attr", "bal"], "2024-06-01")
    v2 = scd2_upsert(v1, s1, ["k"], ["attr", "bal"], "2024-07-01")
    a = v1.toPandas().sort_values(["k", "valid_from"]).reset_index(drop=True)
    b = v2.toPandas().sort_values(["k", "valid_from"]).reset_index(drop=True)
    assert a.equals(b)


def test_scd2_target_with_extra_payload_columns(spark):
    """A target with payload columns beyond keys+tracked+SCD bookkeeping
    must work on BOTH paths: the update path carries the extra value
    from the matched current row; a fresh insert null-pads it (round-4
    ADVICE: the insert branch used to raise AnalysisException)."""
    import datetime

    d = datetime.date(2024, 1, 1)
    tgt = spark.createDataFrame(
        [(1, "a", 10.0, "keepme", d, None, True)],
        "k long, attr string, bal double, extra string, "
        "valid_from date, valid_to date, is_current boolean",
    )
    stage = spark.createDataFrame([(1, "a2", 11.0), (9, "new", 0.0)], _S)
    out = (
        scd2_upsert(tgt, stage, ["k"], ["attr", "bal"], "2024-06-01")
        .toPandas()
        .sort_values(["k", "valid_from"])
        .reset_index(drop=True)
    )
    k1 = out[out["k"] == 1]
    assert len(k1) == 2 and set(k1["extra"]) == {"keepme"}  # carried on update
    k9 = out[out["k"] == 9].iloc[0]
    assert k9["extra"] is None and k9["is_current"]  # null-padded on insert


def test_unknown_change_type_raises_even_with_pruned_columns(spark):
    """The guard rides the row-level sign expression, so selecting
    only a sum-delta column (pruning the count) still fails loudly."""
    feed = spark.createDataFrame([(1, "a", 10, "upsert")], FEED_SCHEMA)
    delta = delta_aggregate(feed, ["grp"], {"total": "amt"}, count_col="n")
    with pytest.raises(Exception, match="unknown _change_type"):
        delta.select("grp", "d_total").collect()


def test_scd2_reintroduces_key_with_history_only(spark):
    """A key whose current row was retracted (history remains) must be
    re-insertable — the insert anti-join runs against CURRENT keys."""
    import datetime

    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 3, 1)
    tgt = spark.createDataFrame(
        [(1, "old", 1.0, d1, d2, False)],  # history only, no current row
        _T,
    )
    stage = spark.createDataFrame([(1, "back", 2.0)], _S)
    out = (
        scd2_upsert(tgt, stage, ["k"], ["attr", "bal"], "2024-06-01")
        .toPandas()
        .sort_values("valid_from")
        .reset_index(drop=True)
    )
    assert len(out) == 2
    assert list(out["attr"]) == ["old", "back"]
    assert list(out["is_current"]) == [False, True]
