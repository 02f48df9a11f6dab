"""Change-data-feed semantics on the CAS-commit tables: insert/delete/
update pre+post detection, null-payload handling, empty versions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.change_feed import table_changes
from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable


def _tbl(spark, tmp_path, rows):
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(rows, "k long, a string, b double"))
    return t


def test_change_kinds_and_null_safe_compare(spark, tmp_path):
    t = _tbl(
        spark,
        tmp_path,
        [(1, "x", 1.0), (2, None, 2.0), (3, "z", None), (4, "keep", 4.0)],
    )
    # v2: update 1 (value change), update 2 (null -> value), delete 3,
    # keep 4 bit-identical (must emit NOTHING), insert 5 (null payload)
    t.overwrite(
        spark.createDataFrame(
            [(1, "x2", 1.0), (2, "now", 2.0), (4, "keep", 4.0), (5, None, None)],
            "k long, a string, b double",
        )
    )
    v = [h["version"] for h in t.history()]
    ch = table_changes(t, v[0], v[1], ["k"]).toPandas().sort_values(["k", "_change_type"])
    got = list(zip(ch["k"], ch["_change_type"]))
    assert got == [  # lexicographic within key: postimage < preimage
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "update_postimage"),
        (2, "update_preimage"),
        (3, "delete"),
        (5, "insert"),
    ]
    pre1 = ch[(ch["k"] == 1) & (ch["_change_type"] == "update_preimage")].iloc[0]
    post1 = ch[(ch["k"] == 1) & (ch["_change_type"] == "update_postimage")].iloc[0]
    assert pre1["a"] == "x" and post1["a"] == "x2"
    d3 = ch[ch["k"] == 3].iloc[0]
    assert d3["a"] == "z"  # delete carries the OLD values


def test_same_version_diff_is_empty(spark, tmp_path):
    t = _tbl(spark, tmp_path, [(1, "x", 1.0)])
    v = t.history()[-1]["version"]
    assert table_changes(t, v, v, ["k"]).count() == 0


def test_unknown_version_raises(spark, tmp_path):
    t = _tbl(spark, tmp_path, [(1, "x", 1.0)])
    with pytest.raises(ValueError):
        table_changes(t, 999, 1000, ["k"])


def test_full_delete_then_reinsert(spark, tmp_path):
    t = _tbl(spark, tmp_path, [(1, "x", 1.0), (2, "y", 2.0)])
    t.delete_keys(t.read().select("k"), ["k"])
    v = [h["version"] for h in t.history()]
    ch = table_changes(t, v[0], v[-1], ["k"]).toPandas()
    assert sorted(ch["_change_type"]) == ["delete", "delete"]


def test_all_columns_are_keys_membership_diff(spark, tmp_path):
    # every column is a key -> payload struct would be empty; the feed
    # degrades to a membership diff (insert/delete only; updates are
    # impossible by construction) instead of a plan-time struct() error
    t = VersionedParquetTable(spark, str(tmp_path / "m"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, g string"))
    t.overwrite(spark.createDataFrame([(2, "b"), (3, "c")], "k long, g string"))
    v = [h["version"] for h in t.history()]
    ch = table_changes(t, v[0], v[1], ["k", "g"]).toPandas()
    got = sorted(zip(ch["k"], ch["_change_type"]))
    assert got == [(1, "delete"), (3, "insert")]
