"""Pseudonymization (operators/privacy.py): referential integrity
across differently-named columns, role separation, salt rotation
unlinking, null passthrough."""

from __future__ import annotations

from tp_integ_data_pipeline_spark.operators.privacy import pseudonymize


def test_same_role_links_across_tables(spark):
    a = spark.createDataFrame([(1,), (2,), (None,)], "user_id long")
    b = spark.createDataFrame([(1,), (3,)], "c_custkey long")
    pa = pseudonymize(a, {"user_id": "person"}, salt="s").toPandas()
    pb = pseudonymize(b, {"c_custkey": "person"}, salt="s").toPandas()
    assert set(pa["user_id"].dropna()) & set(pb["c_custkey"]) != set()
    # value 1 maps identically despite different column names
    assert pa["user_id"][0] == pb["c_custkey"][0]
    # null stays null
    assert pa["user_id"][2] is None


def test_roles_and_salts_separate(spark):
    df = spark.createDataFrame([(1, 1)], "x long, y long")
    same_role = pseudonymize(df, {"x": "r", "y": "r"}, salt="s").collect()[0]
    assert same_role["x"] == same_role["y"]
    diff_role = pseudonymize(df, ["x", "y"], salt="s").collect()[0]
    assert diff_role["x"] != diff_role["y"]
    rotated = pseudonymize(df, {"x": "r", "y": "r"}, salt="s2").collect()[0]
    assert rotated["x"] != same_role["x"]  # rotation unlinks history


def test_full_length_and_determinism(spark):
    df = spark.createDataFrame([(42,)], "k long")
    full = pseudonymize(df, ["k"], salt="s", length=None).collect()[0]["k"]
    assert len(full) == 64 and full == full.lower()
    again = pseudonymize(df, ["k"], salt="s", length=None).collect()[0]["k"]
    assert full == again
    short = pseudonymize(df, ["k"], salt="s").collect()[0]["k"]
    assert short == full[:16]


def test_rtbf_composition_lake_and_index(spark, tmp_path):
    """Right-to-be-forgotten across BOTH stores a document lives in:
    after deleting a doc's keys from the MERGE table and tombstoning it
    in the near-dup index, neither the table read nor an index probe
    for near-identical text surfaces it — the cross-store consistency
    an erasure request actually requires (deleting only the row store
    leaves the doc discoverable through the similarity index)."""
    from pyspark.sql import functions as F
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.operators.neardup_index import NearDupIndex

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + ("x " * (i % 3))) for i in range(20)],
        "doc_id long, text string",
    )
    tbl = VersionedParquetTable(spark, str(tmp_path / "docs"))
    tbl.overwrite(docs)
    idx = NearDupIndex(spark, str(tmp_path / "ndidx"))
    idx.add(docs)

    target = docs.filter(F.col("doc_id") == 7)
    # an OUTSIDE request with doc 7's text (fresh id — the probe path
    # drops same-id pairs by design) finds doc 7 before erasure
    req = target.select(F.lit(999).cast("long").alias("doc_id"), "text")
    before = idx.probe(req).filter(F.col("index_id") == 7).count()
    assert before > 0

    tbl.delete_keys(target.select("doc_id"), ["doc_id"])
    idx.remove(target.select(F.col("doc_id").alias("id")))

    assert tbl.read().filter(F.col("doc_id") == 7).count() == 0
    after = idx.probe(req).filter(F.col("index_id") == 7).count()
    assert after == 0  # tombstone visible to probes immediately
    # physical removal on the maintenance cadence
    idx.compact()
    assert idx.indexed_ids().filter(F.col("id") == 7).count() == 0
