"""Lake writer dedup policies (S6/S7) and MERGE idempotency (M1/M2) —
the reference's core guarantees (SURVEY.md §5 test strategy #3)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.operators.merge_ops import insert_if_absent, scd1_upsert
from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
from tp_integ_data_pipeline_spark.sources.lake import DataLake

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import build_jobs  # noqa: E402


@pytest.fixture()
def weather_batch(spark):
    return spark.createDataFrame(
        [
            (1, "2023-07-15T10:00:00", 20.5),
            (1, "2023-07-15T10:15:00", 21.0),
            (1, "2023-07-16T10:30:00", 21.5),
        ],
        ["api_loc_id", "time", "temperature_2m"],
    ).withColumn("time", F.to_timestamp("time")).withColumn(
        "fecha_partic", F.date_format("time", "MM-dd-yy")
    )


def test_incremental_write_dedups_and_partitions(spark, weather_batch, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    assert lake.read("regmeteor") is None  # empty-lake contract (main.py:71-75)
    lake.write_incremental("regmeteor", weather_batch, ["fecha_partic"], ["time"])
    # duplicate re-delivery: same batch again → nothing appended
    lake.write_incremental("regmeteor", weather_batch, ["fecha_partic"], ["time"])
    got = lake.read("regmeteor")
    assert got.count() == 3
    # hive partitioning materialized (partition pruning applies on read)
    assert (tmp_path / "regmeteor" / "fecha_partic=07-15-23").exists()
    pruned = got.filter(F.col("fecha_partic") == "07-15-23")
    assert pruned.count() == 2


def test_incremental_dedup_probe_is_partition_pruned(spark, weather_batch, tmp_path):
    """The dedup anti-join must scan ONLY the partitions the incoming
    batch touches (PartitionFilters on the existing-side scan), not the
    whole lake — O(batch partitions) probe, not O(lake)."""
    lake = DataLake(spark, str(tmp_path))
    lake.write_incremental("regmeteor", weather_batch, ["fecha_partic"], ["time"])
    incoming = weather_batch.filter(F.col("fecha_partic") == "07-16-23")
    deduped = lake._dedup_against_existing(
        incoming, lake.read("regmeteor"), ["time"], ["fecha_partic"]
    )
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    # the existing-side scan carries a non-empty partition filter
    seg = plan.split("PartitionFilters: [")
    assert len(seg) >= 2
    assert any(s.split("]")[0].strip() and "fecha_partic" in s.split("]")[0] for s in seg[1:]), plan
    # and dedup semantics are unchanged: re-delivered rows are dropped
    assert deduped.count() == 0
    fresh = weather_batch.withColumn("time", F.col("time") + F.expr("INTERVAL 2 DAYS")).withColumn(
        "fecha_partic", F.date_format("time", "MM-dd-yy")
    )
    assert lake._dedup_against_existing(
        fresh, lake.read("regmeteor"), ["time"], ["fecha_partic"]
    ).count() == 3


def test_incremental_dedup_safe_when_keys_dont_determine_partition(spark, tmp_path):
    """Default probe must catch a re-delivered key arriving under a
    DIFFERENT partition value (keys ⊅ partition ⇒ no pruning): the
    pruned probe would only scan the new partition and re-append."""
    lake = DataLake(spark, str(tmp_path))
    b1 = spark.createDataFrame([(1, "web", "x")], ["doc_id", "source", "payload"])
    lake.write_incremental("docs", b1, ["source"], dedup_keys=["doc_id"])
    # same key, different partition value — a duplicate, must be dropped
    b2 = spark.createDataFrame([(1, "api", "x")], ["doc_id", "source", "payload"])
    lake.write_incremental("docs", b2, ["source"], dedup_keys=["doc_id"])
    assert lake.read("docs").count() == 1


def test_incremental_dedup_probes_null_partition(spark, tmp_path):
    """A NULL partition value lands in __HIVE_DEFAULT_PARTITION__; the
    pruned probe must use null-safe equality to re-probe it."""
    lake = DataLake(spark, str(tmp_path))
    batch = spark.createDataFrame([(None, "k1", 1.0)], "p string, k string, v double")
    lake.write_incremental("t", batch, ["p"], dedup_keys=["k", "p"])
    lake.write_incremental("t", batch, ["p"], dedup_keys=["k", "p"])  # re-delivery
    assert lake.read("t").count() == 1


def test_full_write_batch_skip_vs_row_dedup(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    first = spark.createDataFrame([(1, "La Plata"), (2, "Quilmes")], ["id", "name"])
    second = spark.createDataFrame([(2, "Quilmes"), (3, "Tigre")], ["id", "name"])
    lake.write_full("localid", first, ["id"])
    # reference policy: ANY overlap → skip whole batch (main.py:127-133)
    lake.write_full("localid", second, ["id"], batch_skip=True)
    assert lake.read("localid").count() == 2
    # engine default: per-row anti-join → only the new id lands
    lake.write_full("localid", second, ["id"])
    assert sorted(r.id for r in lake.read("localid").collect()) == [1, 2, 3]


def test_full_write_dedups_null_key(spark, tmp_path):
    """A NULL-keyed row re-delivered to write_full lands once: the key
    dedup is null-safe, like write_incremental's."""
    lake = DataLake(spark, str(tmp_path))
    batch = spark.createDataFrame([(None, "Unknown"), (1, "La Plata")], "id int, name string")
    lake.write_full("localid", batch, ["id"])
    lake.write_full("localid", batch, ["id"])
    assert sorted(lake.read("localid").collect(), key=lambda r: r.name) == [
        (1, "La Plata"),
        (None, "Unknown"),
    ]


def test_full_write_batch_skip_null_key(spark, tmp_path):
    """With batch_skip, a batch whose only key is a NULL already in the
    table is skipped: NULL counts as present, as on the per-row path."""
    lake = DataLake(spark, str(tmp_path))
    schema = "id int, name string"
    lake.write_full("localid", spark.createDataFrame([(None, "x"), (1, "La Plata")], schema), ["id"])
    lake.write_full("localid", spark.createDataFrame([(None, "x")], schema), ["id"], batch_skip=True)
    assert sorted(lake.read("localid").collect(), key=lambda r: r.name) == [
        (1, "La Plata"),
        (None, "x"),
    ]


def test_scd1_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "La Plata", 100.0), (2, "Quilmes", 200.0)], ["id", "name", "pop"]
    )
    stage = spark.createDataFrame(
        [(2, "Quilmes Oeste", 250.0, "2024-06-01"), (3, "Tigre", 50.0, "2024-06-01")],
        ["id", "name", "pop", "load_date"],
    ).withColumn("load_date", F.col("load_date").cast("date"))
    merged = scd1_upsert(
        target, stage, ["id"], merge_date="2024-07-01", origin_date_col="load_date"
    )
    rows = {r.id: r for r in merged.collect()}
    assert len(rows) == 3
    # untouched row: original attrs, null audit
    assert rows[1].name == "La Plata" and rows[1].fecha_actualizacion is None
    # matched row: stage attrs win; audit stamped (origin = stage load date)
    assert rows[2].name == "Quilmes Oeste" and rows[2].pop == 250.0
    assert str(rows[2].fecha_actualizacion_origen) == "2024-06-01"
    assert str(rows[2].fecha_actualizacion) == "2024-07-01"
    # inserted row present
    assert rows[3].name == "Tigre"


def test_merge_idempotency_on_versioned_table(spark, tmp_path):
    """Re-running the load leaves the table unchanged (README.md:86)."""
    tbl = VersionedParquetTable(spark, str(tmp_path / "meteor_proc"))
    batch = spark.createDataFrame(
        [("15/07/2023", "10:00", 20.5), ("15/07/2023", "10:15", 21.0)],
        ["date", "time", "temperature_2m"],
    )
    for _ in range(3):  # M2 insert-if-absent, repeated
        tbl.merge_insert_if_absent(batch, ["date", "time"])
    assert tbl.read().count() == 2

    stage = spark.createDataFrame([("15/07/2023", "10:00", 99.0)], ["date", "time", "temperature_2m"])
    tbl.merge_insert_if_absent(stage, ["date", "time"])
    # matched → DO NOTHING: the 20.5 value must survive
    got = {(r.date, r.time): r.temperature_2m for r in tbl.read().collect()}
    assert got[("15/07/2023", "10:00")] == 20.5


def test_bucketed_merge_rewrites_only_dirty_buckets(spark, tmp_path):
    """Partition-scoped MERGE: a merge touching one key must leave every
    clean bucket's directory untouched on disk (same path, same bytes)
    — the O(dirty/total) copy-on-write the 100 TB design needs."""
    import hashlib
    import os

    tbl = VersionedParquetTable(spark, str(tmp_path / "wh"), bucket_keys=["k"], n_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(200)], ["k", "v"])
    tbl.merge_insert_if_absent(base, ["k"])
    dirs_before = tbl.bucket_dirs()
    assert len(dirs_before) > 1  # data spread over several buckets

    def dir_digest(d):
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                h.update(name.encode())
                h.update(open(os.path.join(d, name), "rb").read())
        return h.hexdigest()

    digests_before = {b: dir_digest(d) for b, d in dirs_before.items()}

    one = spark.createDataFrame([(0, "UPDATED"), (1000, "NEW")], ["k", "v"])
    tbl.merge_scd1(one, ["k"], merge_date="2024-07-01")
    dirs_after = tbl.bucket_dirs()

    stage_b = tbl._with_bucket(one)
    dirty = {r[0] for r in stage_b.select(tbl.BUCKET_COL).distinct().collect()}
    clean = set(dirs_before) - dirty
    assert clean, "test needs at least one clean bucket"
    for b in clean:
        assert dirs_after[b] == dirs_before[b]  # carried forward by reference
        assert dir_digest(dirs_after[b]) == digests_before[b]  # bytes identical
    for b in dirty & set(dirs_before):
        assert dirs_after[b] != dirs_before[b]  # dirty buckets rewritten

    # end-state semantics match the full-rewrite path
    rows = {r.k: r.v for r in tbl.read().collect()}
    assert rows[0] == "UPDATED" and rows[1000] == "NEW" and rows[5] == "v5"
    assert tbl.read().count() == 201


def test_bucketed_merge_matches_versioned_end_state(spark, tmp_path):
    """Same stage sequence through both tables → same end state."""
    vt = VersionedParquetTable(spark, str(tmp_path / "vt"))
    bt = VersionedParquetTable(spark, str(tmp_path / "bt"), bucket_keys=["k"], n_buckets=4)
    s1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    s2 = spark.createDataFrame([(2, "CHANGED"), (3, "c")], ["k", "v"])
    vt.merge_insert_if_absent(s1, ["k"])
    vt.merge_insert_if_absent(s2, ["k"])
    bt.merge_insert_if_absent(s1, ["k"])
    bt.merge_insert_if_absent(s2, ["k"])
    assert sorted((r.k, r.v) for r in vt.read().collect()) == sorted(
        (r.k, r.v) for r in bt.read().collect()
    )


def test_concurrent_bucketed_merges_serialize_no_lost_buckets(spark, tmp_path):
    """Two writers racing on the same table: the loser of the CAS commit
    must re-merge against the winner's state — both writers' rows land,
    no bucket is silently dropped (the pre-CAS last-writer-wins bug)."""
    path = str(tmp_path / "wh")
    t1 = VersionedParquetTable(spark, path, bucket_keys=["k"], n_buckets=8)
    t2 = VersionedParquetTable(spark, path, bucket_keys=["k"], n_buckets=8)
    base = spark.createDataFrame([(i, "base") for i in range(10)], ["k", "v"])
    t1.merge_insert_if_absent(base, ["k"])

    stage_a = spark.createDataFrame([(200, "a")], ["k", "v"])
    stage_b = spark.createDataFrame([(100, "b")], ["k", "v"])

    # Deterministic interleaving: t1 snapshots state, then — before its
    # commit lands — t2 commits a full merge. t1's CAS must fail once
    # and its retry must observe t2's row.
    from tp_integ_data_pipeline_spark.operators import table_store as merge_mod

    real_commit = merge_mod._try_commit
    fired = {"done": False}

    def racing_commit(p, expected_version, manifest):
        if not fired["done"]:
            fired["done"] = True
            t2.merge_insert_if_absent(stage_b, ["k"])  # t2 wins the race
        return real_commit(p, expected_version, manifest)

    merge_mod._try_commit = racing_commit
    try:
        t1.merge_insert_if_absent(stage_a, ["k"])
    finally:
        merge_mod._try_commit = real_commit

    rows = {(r.k, r.v) for r in t1.read().collect()}
    assert (100, "b") in rows and (200, "a") in rows
    assert len(rows) == 12
    # commit log serialized: base, t2's merge, t1's retried merge
    import os

    commits = sorted(os.listdir(os.path.join(path, "_commits")))
    assert len(commits) == 3


def test_concurrent_versioned_merge_retries_cleanly(spark, tmp_path):
    """Same race on the full-rewrite table: the loser re-merges against
    the winner's committed state."""
    from tp_integ_data_pipeline_spark.operators import table_store as merge_mod

    path = str(tmp_path / "vt")
    t1 = VersionedParquetTable(spark, path)
    t2 = VersionedParquetTable(spark, path)
    t1.merge_insert_if_absent(spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])

    real_commit = merge_mod._try_commit
    fired = {"done": False}

    def racing_commit(p, expected_version, manifest):
        if not fired["done"]:
            fired["done"] = True
            t2.merge_insert_if_absent(spark.createDataFrame([(2, "b")], ["k", "v"]), ["k"])
        return real_commit(p, expected_version, manifest)

    merge_mod._try_commit = racing_commit
    try:
        t1.merge_insert_if_absent(spark.createDataFrame([(3, "c")], ["k", "v"]), ["k"])
    finally:
        merge_mod._try_commit = real_commit
    assert {(r.k, r.v) for r in t1.read().collect()} == {(1, "a"), (2, "b"), (3, "c")}


def _versioned(spark, path):
    t = VersionedParquetTable(spark, path)
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    return t


def _versioned_with_empty_version(spark, path):
    """Version 2 is a committed data-less manifest; version 3 holds data."""
    from tp_integ_data_pipeline_spark.operators.table_store import _try_commit

    t = _versioned(spark, path)
    assert _try_commit(path, 1, {"meta": {"op": "wipe"}})
    t.overwrite(spark.createDataFrame([(3, "c")], ["k", "v"]))
    return t


def _bucketed(spark, path):
    t = VersionedParquetTable(spark, path, bucket_keys=["k"], n_buckets=4)
    t.merge_insert_if_absent(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"])
    return t


@pytest.mark.parametrize(
    "make_table, write",
    [
        pytest.param(
            _versioned, lambda t, df: t.merge_insert_if_absent(df, ["k"]), id="versioned_merge"
        ),
        pytest.param(_versioned, lambda t, df: t.overwrite(df), id="commit_staged_dir"),
        pytest.param(
            _versioned, lambda t, df: t.delete_keys_mor(df, ["k"]), id="delete_keys_mor"
        ),
        pytest.param(
            _versioned_with_empty_version, lambda t, df: t.restore(2), id="restore_empty"
        ),
        pytest.param(
            _bucketed, lambda t, df: t.merge_insert_if_absent(df, ["k"]), id="bucketed_merge"
        ),
        pytest.param(
            _bucketed, lambda t, df: t.delete_keys_mor(df, ["k"]), id="bucketed_delete_keys_mor"
        ),
        pytest.param(_bucketed, lambda t, df: t.overwrite(df), id="bucketed_overwrite"),
    ],
)
def test_writer_that_always_loses_fails_cleanly(spark, tmp_path, monkeypatch, make_table, write):
    """Every writer commits through the one retry loop: a writer that
    loses every commit race raises ConcurrentWriteError, publishes
    nothing and leaves no data directory behind."""
    import os

    from tp_integ_data_pipeline_spark.operators import table_store

    path = str(tmp_path / "t")
    t = make_table(spark, path)
    rows_before = sorted(t.read().collect())
    dirs_before = {d for d in os.listdir(path) if d.startswith("v")}

    monkeypatch.setattr(table_store, "_try_commit", lambda *_args: False)
    monkeypatch.setattr(table_store, "MAX_COMMIT_RETRIES", 2)
    with pytest.raises(table_store.ConcurrentWriteError):
        write(t, spark.createDataFrame([(1, "a"), (9, "z")], ["k", "v"]))

    assert sorted(t.read().collect()) == rows_before
    assert {d for d in os.listdir(path) if d.startswith("v")} == dirs_before


def test_versioned_table_time_travel_and_vacuum(spark, tmp_path):
    """The CAS commit log doubles as a history: read(version=N) time
    travels, vacuum() GCs unreferenced version dirs (bounded storage)
    while respecting the retention window."""
    import os

    tbl = VersionedParquetTable(spark, str(tmp_path / "vt"))
    tbl.merge_insert_if_absent(spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
    tbl.merge_insert_if_absent(spark.createDataFrame([(2, "b")], ["k", "v"]), ["k"])
    hist = tbl.history()
    assert [h["version"] for h in hist] == [1, 2]
    assert tbl.read(version=1).count() == 1
    assert tbl.read(version=2).count() == 2

    # retention window: fresh dirs survive even when unreferenced
    assert tbl.vacuum(keep_last=1, retention_seconds=3600) == []
    removed = tbl.vacuum(keep_last=1, retention_seconds=0)
    assert len(removed) == 1  # v1's data dir GC'd
    assert not os.path.exists(removed[0])
    assert tbl.read().count() == 2  # live state untouched
    assert [h["version"] for h in tbl.history()] == [2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tbl.read(version=1)


def test_vacuum_fences_laggard_commits(spark, tmp_path):
    """After vacuum prunes old commit slots, a laggard writer whose
    snapshot predates the prune must NOT be able to re-claim a freed
    slot (its 'commit' would be invisible to max()-based reads); the
    CAS must report a lost race so the writer retries on fresh state.
    Also: the floor prune only ever touches versions below the kept
    window, so a commit landing concurrently is never deleted."""
    from tp_integ_data_pipeline_spark.operators import table_store as merge_mod

    path = str(tmp_path / "vt")
    tbl = VersionedParquetTable(spark, path)
    for k in (1, 2, 3):
        tbl.merge_insert_if_absent(
            spark.createDataFrame([(k, "v")], ["k", "v"]), ["k"]
        )
    tbl.vacuum(keep_last=1, retention_seconds=0)
    # laggard stuck at snapshot version 1 tries slot 2 (freed): refused
    assert merge_mod._try_commit(path, 1, {"current": "bogus"}) is False
    # a writer at the real head still commits fine
    tbl.merge_insert_if_absent(spark.createDataFrame([(9, "z")], ["k", "v"]), ["k"])
    assert tbl.read().count() == 4
    assert [h["version"] for h in tbl.history()] == [3, 4]


def test_bucketed_table_time_travel_and_vacuum(spark, tmp_path):
    """Bucketed vacuum must keep any version dir that still backs a
    carried-forward clean bucket of a kept commit."""
    import os

    tbl = VersionedParquetTable(spark, str(tmp_path / "bt"), bucket_keys=["k"], n_buckets=8)
    base = spark.createDataFrame([(i, "base") for i in range(50)], ["k", "v"])
    tbl.merge_insert_if_absent(base, ["k"])
    tbl.merge_scd1(spark.createDataFrame([(0, "UPD")], ["k", "v"]), ["k"], merge_date="2024-07-01")
    assert tbl.read(version=1).count() == 50
    rows_v2 = {r.k: r.v for r in tbl.read(version=2).collect()}
    assert rows_v2[0] == "UPD"

    removed = tbl.vacuum(keep_last=1, retention_seconds=0)
    # v1's dir still backs the clean buckets referenced by commit 2
    assert removed == []
    # current state fully readable after vacuum
    rows = {r.k: r.v for r in tbl.read().collect()}
    assert rows[0] == "UPD" and len(rows) == 50
    # a third merge orphans nothing kept → vacuum drops v-dirs only when
    # every kept manifest stops referencing them
    tbl.merge_scd1(base, ["k"], merge_date="2024-07-02")  # rewrites ALL buckets
    removed = tbl.vacuum(keep_last=1, retention_seconds=0)
    assert len(removed) == 2  # v1 and v2 dirs now unreferenced
    assert {r.v for r in tbl.read().collect()} == {"base"}
    assert os.path.isdir(str(tmp_path / "bt"))


def test_delete_keys_versioned_and_bucketed(spark, tmp_path):
    """Targeted delete on both MERGE tables: rows gone from the current
    version, pre-delete state still time-travelable, and — bucketed —
    only the buckets holding the deleted keys rewritten."""
    rows = [(i, f"v{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["k", "v"])
    doomed = spark.createDataFrame([(3, "x"), (7, "y"), (99, "z")], ["k", "v"])

    vt = VersionedParquetTable(spark, str(tmp_path / "vt"))
    vt.delete_keys(doomed, ["k"])  # delete from non-existent table: no-op
    assert vt.read() is None
    vt.overwrite(df)
    v_before = vt.history()[-1]["version"]
    vt.delete_keys(doomed, ["k"])
    assert sorted(r.k for r in vt.read().collect()) == sorted(
        set(range(20)) - {3, 7}
    )
    # pre-delete state still readable via time travel
    assert vt.read(version=v_before).count() == 20

    bt = VersionedParquetTable(spark, str(tmp_path / "bt"), bucket_keys=["k"], n_buckets=8)
    bt.merge_insert_if_absent(df, ["k"])
    dirs_before = bt.bucket_dirs()
    bt.delete_keys(doomed, ["k"])
    assert sorted(r.k for r in bt.read().collect()) == sorted(set(range(20)) - {3, 7})
    dirs_after = bt.bucket_dirs()
    # only the buckets hashing keys 3/7/99 may change
    from pyspark.sql import functions as F

    dirty = {
        r[0]
        for r in doomed.select(
            F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")
        ).distinct().collect()
    }
    for b, d in dirs_before.items():
        if b not in dirty:
            assert dirs_after[b] == d  # clean buckets carried by reference


def test_insert_if_absent_pure(spark):
    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    stage = spark.createDataFrame([(1, "CHANGED"), (2, "b")], ["k", "v"])
    out = insert_if_absent(target, stage, ["k"])
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {1: "a", 2: "b"}


def test_salted_broadcast_left_matches_plain_join(spark):
    from tp_integ_data_pipeline_spark.operators.skew import salted_broadcast_left

    fact = spark.createDataFrame([(i, i % 3) for i in range(100)], ["row_id", "k"])
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c"), (9, "zz")], ["dk", "label"])
    out = salted_broadcast_left(fact, dim, "k", "dk", n_salts=4)
    plain = fact.join(dim, fact.k == dim.dk, "left")
    assert sorted((r.row_id, r.label) for r in out.collect()) == sorted(
        (r.row_id, r.label) for r in plain.collect()
    )


def test_lake_read_prunes_partitions(spark, weather_batch, tmp_path):
    """Filtering on the hive partition column must prune at scan time
    (PartitionFilters in the physical plan), not post-scan."""
    lake = DataLake(spark, str(tmp_path))
    lake.write_incremental("regmeteor", weather_batch, ["fecha_partic"], ["time"])
    pruned = lake.read("regmeteor").filter(F.col("fecha_partic") == "07-15-23")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "fecha_partic" in plan.split("PartitionFilters")[1][:200]


def test_bucketed_join_avoids_shuffle(spark):
    """bucketBy co-location: a join on the bucket key must not add a
    shuffle exchange on either side (the 100 TB co-located join)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(4, "l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") >= 2
    # the ONLY hash exchange is the groupBy above the join; the join
    # inputs read co-located buckets directly
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Exchange hashpartitioning") == 1, final_plan


def test_zorder_tightens_file_envelopes_in_both_dims(spark, sf_dir, tmp_path):
    """Z-order layout: files written from the re-clustered frame must
    have min/max envelopes simultaneously tight in BOTH z-columns
    (the parquet-stats data-skipping precondition), unlike a naive
    single-column sort which only tightens its own column."""
    from tp_integ_data_pipeline_spark.operators.layout import zorder_dataframe
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("double").alias("t")
    )
    n_files = 8
    zdir, ndir = str(tmp_path / "z"), str(tmp_path / "n")
    zorder_dataframe(ev, ["user_id", "t"], n_files).write.parquet(zdir)
    ev.repartition(n_files).write.parquet(ndir)  # round-robin baseline

    def mean_file_span(path, col):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
        )
        return per_file.agg(F.avg("span")).first()[0]

    g_user = ev.agg(F.max("user_id") - F.min("user_id")).first()[0]
    g_t = ev.agg(F.max("t") - F.min("t")).first()[0]
    for col, g in (("user_id", g_user), ("t", g_t)):
        z_span = mean_file_span(zdir, col) / g
        n_span = mean_file_span(ndir, col) / g
        assert n_span > 0.9  # round-robin files cover ~the full range
        assert z_span < 0.6 * n_span, (col, z_span, n_span)


def test_compact_with_zorder_clusters_files(spark, sf_dir, tmp_path):
    """compact(zorder_cols=...) = compaction + OPTIMIZE ZORDER in one
    rewrite: fewer files AND tight per-file envelopes on the z-columns."""
    from tp_integ_data_pipeline_spark.sources.fixtures import load_table

    lake = DataLake(spark, str(tmp_path))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("double").alias("t")
    )
    # several appends -> several file sets
    for i in range(6):
        lake.write_full("ev", ev.filter(F.col("event_id") % 6 == i), ["event_id"])
    import glob

    before = len(glob.glob(f"{tmp_path}/ev/*.parquet"))
    n = lake.read("ev").count()
    # 4 range-splits of the z-value cut the top bit of BOTH dimensions
    # (2 files would only cut the leading dimension's bit)
    lake.compact("ev", target_partitions=4, zorder_cols=["user_id", "t"])
    after = glob.glob(f"{tmp_path}/ev/*.parquet")
    assert lake.read("ev").count() == n  # content invariant
    assert len(after) <= 4 < before
    # clustered: mean per-file user_id span well under the global span
    per_file = (
        spark.read.parquet(str(tmp_path / "ev"))
        .groupBy(F.input_file_name())
        .agg((F.max("user_id") - F.min("user_id")).alias("span"))
    )
    g = lake.read("ev").agg(F.max("user_id") - F.min("user_id")).first()[0]
    assert per_file.agg(F.avg("span")).first()[0] < 0.7 * g


def test_lake_read_schema_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.sources.lake import DataLake

    lake = DataLake(spark, str(tmp_path / "lk_evo"))
    v1 = spark.createDataFrame([(1, "a")], "id long, x string")
    lake.write_full("t", v1, dedup_keys=["id"])
    # schema evolved: later batches carry an extra column
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id long, x string, score double")
    lake.write_full("t", v2, dedup_keys=["id"])
    # default read keeps SOME file's schema; merge_schema gives the union
    merged = lake.read("t", merge_schema=True)
    assert set(merged.columns) == {"id", "x", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}
    # the widening write dropped the recorded schema: plain inference
    assert lake.read("t").schema == spark.read.parquet(str(tmp_path / "lk_evo" / "t")).schema


def test_lake_read_tolerates_corrupt_file(spark, tmp_path):
    from tp_integ_data_pipeline_spark.sources.lake import DataLake

    lake = DataLake(spark, str(tmp_path / "lk_corrupt"))
    good = spark.createDataFrame([(1, "ok"), (2, "ok")], "id long, x string")
    lake.write_full("t", good, dedup_keys=["id"])
    # a torn upload lands in the table directory
    with open(str(tmp_path / "lk_corrupt" / "t" / "part-torn.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file")
    import pytest as _pytest

    with _pytest.raises(Exception):
        lake.read("t").count()  # default: fail loudly
    assert lake.read("t", tolerate_corrupt=True).count() == 2


def test_versioned_table_restore(spark, tmp_path):
    """RESTORE rolls back to a historical commit as a NEW commit:
    content equals the old version, history keeps growing, and the
    restored commit survives vacuum of its source version (data was
    re-written, not aliased)."""
    import pytest as _pytest

    tbl = VersionedParquetTable(spark, str(tmp_path / "rt"))
    tbl.overwrite(spark.createDataFrame([(1, "a")], ["k", "v"]))
    tbl.overwrite(spark.createDataFrame([(1, "a"), (2, "BAD")], ["k", "v"]))
    tbl.restore(1)
    hist = tbl.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[-1]["meta"] == {"op": "restore", "restored_from": 1}
    assert {r["k"] for r in tbl.read().collect()} == {1}
    # the bad commit stays readable for forensics
    assert {r["v"] for r in tbl.read(version=2).collect()} == {"a", "BAD"}
    # vacuum the source version away: restored state unaffected
    tbl.vacuum(keep_last=1, retention_seconds=0)
    assert {r["k"] for r in tbl.read().collect()} == {1}
    with _pytest.raises(ValueError):
        tbl.restore(99)


def test_versioned_table_restore_to_empty_version(spark, tmp_path):
    """A version that EXISTS in the commit log but holds no data (no
    current dir) restores to the empty state via a data-less commit —
    distinct from the unknown-version ValueError (round-4 ADVICE:
    these used to be conflated and empty-restore was impossible)."""
    from tp_integ_data_pipeline_spark.operators.table_store import _try_commit

    tbl = VersionedParquetTable(spark, str(tmp_path / "re"))
    tbl.overwrite(spark.createDataFrame([(1, "a")], ["k", "v"]))
    # version 2: a committed data-less manifest (e.g. a retention wipe)
    assert _try_commit(tbl.path, 1, {"meta": {"op": "wipe"}})
    assert tbl.read() is None
    tbl.overwrite(spark.createDataFrame([(2, "b")], ["k", "v"]))
    tbl.restore(2)  # empty-but-real version: no ValueError
    assert tbl.read() is None
    hist = tbl.history()
    assert hist[-1]["meta"] == {"op": "restore", "restored_from": 2}
    # restoring back to a data-bearing version still works afterwards
    tbl.restore(3)
    assert {r["k"] for r in tbl.read().collect()} == {2}


def test_mor_delete_and_compact(spark, tmp_path):
    """Merge-on-read deletes: only tombstone keys hit disk, reads
    anti-join them lazily (current AND time-travel AND table_changes),
    compact folds the debt, vacuum keeps referenced tombstones."""
    import os

    from tp_integ_data_pipeline_spark.operators.change_feed import table_changes

    tbl = VersionedParquetTable(spark, str(tmp_path / "mor"))
    tbl.overwrite(spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["k", "v"]))
    data_dir = tbl.current_version_dir()
    tbl.delete_keys_mor(spark.createDataFrame([(2,), (5,)], ["k"]), ["k"])
    tbl.delete_keys_mor(spark.createDataFrame([(7,), (99,)], ["k"]), ["k"])
    # data dir unchanged — no rewrite happened
    assert tbl.current_version_dir() == data_dir
    assert {r["k"] for r in tbl.read().collect()} == {0, 1, 3, 4, 6, 8, 9}
    # time travel: v1 full, v2 first tombstone only
    assert tbl.read(version=1).count() == 10
    assert {r["k"] for r in tbl.read(version=2).collect()} == {0, 1, 3, 4, 6, 8, 9} | {7}
    # CDF sees MoR deletes as deletes
    feed = table_changes(tbl, 1, 3, ["k"])
    assert {(r["k"], r["_change_type"]) for r in feed.collect()} == {
        (2, "delete"), (5, "delete"), (7, "delete")
    }
    # compact folds both tombstone sets into a rewritten commit
    assert tbl.compact_tombstones() == 2
    assert tbl.meta()["op"] == "compact_tombstones"
    assert {r["k"] for r in tbl.read().collect()} == {0, 1, 3, 4, 6, 8, 9}
    assert tbl.compact_tombstones() == 0  # idempotent no-op when clean
    # vacuum after compact: old data dir + tombstone dirs all retire
    removed = tbl.vacuum(keep_last=1, retention_seconds=0)
    assert len(removed) == 3
    assert tbl.read().count() == 7
    # MoR delete on empty table is a no-op
    empty = VersionedParquetTable(spark, str(tmp_path / "mor_empty"))
    empty.delete_keys_mor(spark.createDataFrame([(1,)], ["k"]), ["k"])
    assert empty.read() is None
    assert not os.path.exists(os.path.join(str(tmp_path / "mor_empty"), "_commits"))


def test_scd1_two_way_schema_evolution(spark):
    """Delta autoMerge semantics: stage-only columns join the target
    (null backfill for untouched rows); target-only columns survive
    with nulls on upserted rows."""
    tgt = spark.createDataFrame([(1, "a", 9.0), (2, "b", 8.0)], "k long, v string, legacy double")
    stg = spark.createDataFrame([(2, "B2", "x"), (3, "c", "y")], "k long, v string, extra string")
    out = (
        scd1_upsert(tgt, stg, ["k"], merge_date="2024-06-01")
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    assert list(out.columns[:2]) == ["v", "legacy"] and "extra" in out.columns
    assert out.loc[1, "v"] == "a" and out.loc[1, "legacy"] == 9.0
    import pandas as pd

    assert pd.isna(out.loc[1, "extra"])  # old row: new col backfilled null
    assert out.loc[2, "v"] == "B2" and out.loc[2, "extra"] == "x"
    assert pd.isna(out.loc[2, "legacy"])  # upserted row: target-only col null
    assert out.loc[3, "extra"] == "y"


def test_merge_after_mor_delete_does_not_resurrect(spark, tmp_path):
    """Copy-on-write merges snapshot through the manifest (tombstones
    applied), so an interleaved MoR delete is materialized out — never
    resurrected — and the new commit carries no tombstone debt."""
    from tp_integ_data_pipeline_spark.operators.table_store import _load_state

    tbl = VersionedParquetTable(spark, str(tmp_path / "morm"))
    tbl.overwrite(spark.createDataFrame([(i, "v") for i in range(6)], ["k", "v"]))
    tbl.delete_keys_mor(spark.createDataFrame([(1,), (4,)], ["k"]), ["k"])
    tbl.merge_insert_if_absent(spark.createDataFrame([(9, "new")], ["k", "v"]), ["k"])
    assert {r["k"] for r in tbl.read().collect()} == {0, 2, 3, 5, 9}
    # merge materialized the deletes: no tombstones left in the manifest
    assert _load_state(tbl.path)[1].get("tombstones", []) == []
    # and a MoR-deleted key can be re-inserted afterwards
    tbl.merge_insert_if_absent(spark.createDataFrame([(1, "back")], ["k", "v"]), ["k"])
    assert {r["k"] for r in tbl.read().collect()} == {0, 1, 2, 3, 5, 9}


def test_meta_survives_interleaved_writers(spark, tmp_path):
    """Durable meta keys (the streaming rollup's epoch guard) survive
    merges and MoR deletes that don't set them; blind overwrite still
    resets meta."""
    tbl = VersionedParquetTable(spark, str(tmp_path / "metacarry"))
    tbl.overwrite(spark.createDataFrame([(1, "a")], ["k", "v"]))
    tbl._merge(
        spark.createDataFrame([(2, "b")], ["k", "v"]),
        lambda cur, stg: stg if cur is None else cur.unionByName(stg),
        meta={"last_epoch": 7, "epoch_scope": "s1"},
    )
    tbl.delete_keys_mor(spark.createDataFrame([(1,)], ["k"]), ["k"])
    m = tbl.meta()
    assert m["last_epoch"] == 7 and m["epoch_scope"] == "s1" and m["op"] == "delete_mor"
    tbl.merge_insert_if_absent(spark.createDataFrame([(3, "c")], ["k", "v"]), ["k"])
    assert tbl.meta()["last_epoch"] == 7
    tbl.overwrite(spark.createDataFrame([(9, "z")], ["k", "v"]))
    assert tbl.meta() == {}


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """CDF between versions with different schemas: evolved columns
    show null in the preimage instead of crashing the feed."""
    from tp_integ_data_pipeline_spark.operators.change_feed import table_changes

    tbl = VersionedParquetTable(spark, str(tmp_path / "evocdf"))
    tbl.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    tbl.overwrite(
        spark.createDataFrame([(1, "a", 10.0), (3, "c", 30.0)], ["k", "v", "extra"])
    )
    feed = {
        (r["k"], r["_change_type"]): (r["v"], r["extra"])
        for r in table_changes(tbl, 1, 2, ["k"]).collect()
    }
    assert feed[(2, "delete")] == ("b", None)
    assert feed[(3, "insert")] == ("c", 30.0)
    # k=1: v unchanged but extra went null->10.0 => update pair
    assert feed[(1, "update_preimage")] == ("a", None)
    assert feed[(1, "update_postimage")] == ("a", 10.0)


def test_bucketed_table_rejects_mismatched_bucket_spec(spark, tmp_path):
    # (keys, n_buckets) define the on-disk hash layout; reopening with a
    # different spec must fail loudly, not silently mis-bucket merges
    p = str(tmp_path / "bspec")
    tbl = VersionedParquetTable(spark, p, bucket_keys=["k"], n_buckets=8)
    tbl.merge_insert_if_absent(spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
    with pytest.raises(ValueError, match="n_buckets"):
        VersionedParquetTable(spark, p, bucket_keys=["k"], n_buckets=16)
    with pytest.raises(ValueError, match="keys"):
        VersionedParquetTable(spark, p, bucket_keys=["v"], n_buckets=8)
    # identical spec reopens fine and sees the committed rows
    again = VersionedParquetTable(spark, p, bucket_keys=["k"], n_buckets=8)
    assert again.read().count() == 1


def _bucketed_base(spark, path):
    t = VersionedParquetTable(spark, path, bucket_keys=["k"], n_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(50)], ["k", "v"])
    t.merge_insert_if_absent(base, ["k"])
    return t, base


def test_bucketed_read_starts_no_job(spark, tmp_path):
    """A bucketed read passes each bucket's recorded schema: no footer
    inference, also once an SCD1 merge gave only the buckets it
    rewrote the audit columns (two schemas, unioned by name)."""
    t, _ = _bucketed_base(spark, str(tmp_path / "bt"))
    assert build_jobs.jobs_started(spark, f"{tmp_path}:read1", t.read) == 0
    before = t.bucket_dirs()
    t.merge_scd1(spark.createDataFrame([(0, "UPD")], ["k", "v"]), ["k"], merge_date="2024-07-01")
    assert set(before.values()) & set(t.bucket_dirs().values())  # clean buckets kept
    assert build_jobs.jobs_started(spark, f"{tmp_path}:read2", t.read) == 0
    df = t.read()
    assert df.columns[:2] == ["k", "v"] and "fecha_actualizacion" in df.columns
    rows = {r.k: r for r in df.collect()}
    assert len(rows) == 50 and rows[0].v == "UPD"
    assert str(rows[0].fecha_actualizacion) == "2024-07-01"
    assert all(r.fecha_actualizacion is None for k, r in rows.items() if k)


@pytest.mark.parametrize("n_buckets", [33, 64])
def test_wide_bucketed_read_starts_no_job(spark, tmp_path, n_buckets):
    """Past spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    paths one scan lists its dirs with a parallel listing job; a read of
    more bucket dirs than that is a union of narrower scans and starts
    none, with the same rows."""
    t = VersionedParquetTable(spark, str(tmp_path / "bt"), bucket_keys=["k"], n_buckets=n_buckets)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(1000)], ["k", "v"])
    t.merge_insert_if_absent(base, ["k"])
    assert len(t.bucket_dirs()) > 32
    reads = []
    assert build_jobs.jobs_started(spark, f"{tmp_path}:wide", lambda: reads.append(t.read())) == 0
    assert sorted(tuple(r) for r in reads[0].collect()) == [(i, f"v{i}") for i in range(1000)]


@pytest.mark.parametrize(
    "call",
    [
        pytest.param(lambda t, df: t.merge_insert_if_absent(df, ["v"]), id="insert_if_absent"),
        pytest.param(
            lambda t, df: t.merge_scd1(df, ["k", "v"], merge_date="2024-07-01"), id="scd1"
        ),
        pytest.param(lambda t, df: t.delete_keys(df, ["v"]), id="delete_keys"),
        pytest.param(lambda t, df: t.delete_keys_mor(df, ["v"]), id="delete_keys_mor"),
    ],
)
def test_bucketed_table_rejects_other_merge_keys(spark, tmp_path, call):
    """Merges and deletes on a bucketed table must use its bucket keys:
    on other keys the dirty-bucket scoping would miss rows. The misuse
    raises before any Spark job and commits nothing."""
    t, _ = _bucketed_base(spark, str(tmp_path / "bt"))
    stage = spark.createDataFrame([(1, "v1")], ["k", "v"])

    def misuse():
        with pytest.raises(ValueError, match="bucketed on"):
            call(t, stage)

    assert build_jobs.jobs_started(spark, f"{tmp_path}:misuse", misuse) == 0
    assert len(t.history()) == 1


def test_bucketed_mor_delete_survives_partial_merge(spark, tmp_path):
    """On a bucketed table a merge folds the tombstones out of the
    buckets it rewrites and keeps them for the others: a deleted key in
    a clean bucket stays deleted, a deleted key the merge re-inserts
    is back, and compaction clears the rest."""
    t, base = _bucketed_base(spark, str(tmp_path / "bt"))
    bucket = {r.k: r[t.BUCKET_COL] for r in t._with_bucket(base).collect()}
    other = next(k for k in range(50) if bucket[k] != bucket[3])
    t.delete_keys_mor(spark.createDataFrame([(3,), (other,)], ["k"]), ["k"])
    assert {r.k for r in t.read().collect()} == set(range(50)) - {3, other}
    t.merge_insert_if_absent(spark.createDataFrame([(3, "back")], ["k", "v"]), ["k"])
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[3] == "back" and other not in rows and len(rows) == 49
    assert t.compact_tombstones() == 1
    assert {r.k: r.v for r in t.read().collect()} == rows
    assert t.compact_tombstones() == 0


def test_zorder_interleave_stays_inside_long_sign_bit(spark, sf_dir):
    """len(cols) x bits interleaved bits must fit in the 63 value bits
    of a signed long: bit 63 would flip the sign (those rows would
    range-partition FIRST) and shifts >= 64 wrap silently (round-6
    ADVICE finding). Direct interleave calls past the limit raise;
    zorder_dataframe clamps bits and keeps every z-value non-negative
    even with 4-5 columns all at their max quantized value."""
    import pytest as _pytest

    from tp_integ_data_pipeline_spark.operators.layout import (
        zorder_dataframe,
        zorder_interleave,
    )

    with _pytest.raises(ValueError, match="63"):
        zorder_interleave([F.lit(1), F.lit(1), F.lit(1), F.lit(1)], bits=16)
    with _pytest.raises(ValueError, match="63"):
        zorder_interleave([F.lit(1)] * 5, bits=13)

    # 5 columns, all spanning the same range so every row's quantized
    # top bits are populated — the clamped path must stay >= 0
    df = spark.range(0, 512).select(
        *[(F.col("id") * (i + 1) % 512).alias(f"c{i}") for i in range(5)]
    )
    out = zorder_dataframe(df, [f"c{i}" for i in range(5)], n_files=4, bits=16)
    assert out.count() == 512  # clamps instead of raising


def _jobs_started(spark, fn):
    """(fn's result, number of Spark jobs it started)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup()) - before)


_STAGE = "k long, v string, d string"


@pytest.mark.parametrize(
    "write",
    [
        pytest.param(lambda t, df: t.merge_insert_if_absent(df, ["k"]), id="insert_if_absent"),
        pytest.param(
            lambda t, df: t.merge_scd1(df, ["k"], merge_date="2024-01-02", origin_date_col="d"),
            id="scd1",
        ),
        pytest.param(lambda t, df: t.overwrite(df), id="overwrite"),
        pytest.param(lambda t, df: t.restore(1), id="restore"),
        pytest.param(lambda t, df: t.delete_keys_mor(df.filter("k = 1"), ["k"]), id="delete_keys_mor"),
    ],
)
def test_warehouse_read_uses_recorded_schema(spark, tmp_path, write):
    """Every commit that writes data records its schema: read() then
    starts no footer-inference job and equals plain inference."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a", "2024-01-01")], _STAGE))
    write(t, spark.createDataFrame([(1, "b", "2024-01-01"), (2, "c", "2024-01-01")], _STAGE))
    df, jobs = _jobs_started(spark, t.read)
    assert jobs == 0
    assert df.schema == spark.read.parquet(t.current_version_dir()).schema


def test_warehouse_manifest_without_schema_still_reads(spark, tmp_path):
    """A data entry without the "schema" key (external
    commit_staged_dir callers) falls back to inference."""
    import json
    import os

    path = str(tmp_path / "t")
    t = VersionedParquetTable(spark, path)
    t.merge_insert_if_absent(spark.createDataFrame([(1, "a", "2024-01-01")], _STAGE), ["k"])
    [commit] = os.listdir(os.path.join(path, "_commits"))
    commit = os.path.join(path, "_commits", commit)
    with open(commit) as fh:
        manifest = json.load(fh)
    del manifest["buckets"]["0"]["schema"]
    with open(commit, "w") as fh:
        json.dump(manifest, fh)
    df, jobs = _jobs_started(spark, t.read)
    assert jobs >= 1  # footer inference
    assert [tuple(r) for r in df.collect()] == [(1, "a", "2024-01-01")]


@pytest.mark.parametrize("partition_cols", [["p"], []], ids=["partitioned", "unpartitioned"])
def test_lake_read_uses_recorded_schema(spark, weather_batch, tmp_path, partition_cols):
    """A lake read after this instance's own writes starts no job and
    has the schema plain inference gives (partition column included)."""
    lake = DataLake(spark, str(tmp_path))
    batch = weather_batch.withColumnRenamed("fecha_partic", "p")
    if partition_cols:
        lake.write_incremental("t", batch, partition_cols, ["time", "p"])
        lake.write_incremental("t", batch, partition_cols, ["time", "p"])
    else:
        lake.write_full("t", batch, ["time"])
        lake.write_full("t", batch, ["time"])
    df, jobs = _jobs_started(spark, lambda: lake.read("t"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(str(tmp_path / "t")).schema
    assert df.count() == 3


def test_lake_empty_append_probes_nothing(spark, weather_batch, tmp_path):
    """An empty batch to an existing partitioned table costs the one
    partition collect: no full-lake probe, no write."""
    import os

    lake = DataLake(spark, str(tmp_path))
    lake.write_incremental("r", weather_batch, ["fecha_partic"], ["time"], probe_partitions=True)

    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(tmp_path / "r") for f in fs)

    before = files()
    empty = weather_batch.filter(F.col("temperature_2m") < 0)
    _, jobs = _jobs_started(
        spark,
        lambda: lake.write_incremental(
            "r", empty, ["fecha_partic"], ["time"], probe_partitions=True
        ),
    )
    assert jobs == 1
    assert files() == before


def test_lake_compact_keeps_columns_of_every_file(spark, tmp_path):
    """Compaction of a table whose files carry different schemas keeps
    the union: a fresh instance (no recorded schema) must not rewrite
    with the schema of whichever file inference picks first."""
    import os

    root = str(tmp_path / "lk")
    DataLake(spark, root).write_full(
        "t", spark.createDataFrame([(1, "a")], "id long, x string"), ["id"]
    )
    tdir = os.path.join(root, "t")
    for f in os.listdir(tdir):  # the (id, x) files sort first
        if f.endswith(".parquet"):
            os.rename(os.path.join(tdir, f), os.path.join(tdir, "a-" + f))
    lake = DataLake(spark, root)
    lake.write_full(
        "t", spark.createDataFrame([(2, "b", 9.5)], "id long, x string, score double"), ["id"]
    )
    lake.compact("t")
    rows = {r["id"]: r["score"] for r in lake.read("t", merge_schema=True).collect()}
    assert rows == {1: None, 2: 9.5}
    # one schema after compaction: recorded, so the default read agrees
    assert lake.read("t").schema == spark.read.parquet(tdir).schema


def test_anti_join_probe_side_duplicates_do_not_fan_out(spark):
    """insert_if_absent and scd1_upsert anti-join without a distinct on
    the probe side: duplicate probe keys change nothing."""
    target = spark.createDataFrame([(1, "a"), (1, "a2"), (2, "b")], ["k", "v"])
    stage = spark.createDataFrame([(1, "X"), (3, "c"), (3, "c")], ["k", "v"])
    out = insert_if_absent(target, stage, ["k"])
    assert sorted(out.collect()) == [(1, "a"), (1, "a2"), (2, "b"), (3, "c"), (3, "c")]

    stage = spark.createDataFrame([(1, "X"), (1, "X")], ["k", "v"])
    out = scd1_upsert(target, stage, ["k"], merge_date="2024-01-02")
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [(1, "X"), (1, "X"), (2, "b")]


# Byte-sized writes. Frames built from pandas carry a Catalyst size
# estimate (a list-built frame has none and is written unsized).
def _pdf(spark, rows, schema):
    import pandas as pd

    names = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def _data_files(d):
    import os

    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def test_small_versioned_merges_write_one_file_per_version(spark, tmp_path):
    """A small warehouse version is one file, whatever partition count
    fed the merge, and the table holds the merge_ops end state."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    want = None
    for i in range(3):
        stage = _pdf(spark, [(k, f"v{k}", "2024-01-01") for k in range(5 * i, 5 * i + 8)], _STAGE)
        t.merge_insert_if_absent(stage, ["k"])
        want = stage if want is None else insert_if_absent(want, stage, ["k"])
        assert len(_data_files(t.current_version_dir())) == 1
    for i in range(3):
        stage = _pdf(spark, [(k, f"w{k}", "2024-01-03") for k in range(4 * i, 4 * i + 6)], _STAGE)
        t.merge_scd1(stage, ["k"], merge_date="2024-01-04", origin_date_col="d")
        want = scd1_upsert(want, stage, ["k"], merge_date="2024-01-04", origin_date_col="d")
        assert len(_data_files(t.current_version_dir())) == 1
    assert t.read().columns == want.columns
    assert sorted(t.read().collect()) == sorted(want.collect())


def test_merge_past_one_open_cost_keeps_its_partitions(spark, tmp_path):
    """Only a frame that fits in one scan split (openCostInBytes) is
    written as one file; lower the limit and the same merge keeps the
    partitions its plan gives it."""
    key = "spark.sql.files.openCostInBytes"
    stage = spark.range(0, 20000, numPartitions=4).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t = VersionedParquetTable(spark, str(tmp_path / "default"))
    t.merge_insert_if_absent(stage, ["k"])
    assert len(_data_files(t.current_version_dir())) == 1
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        t = VersionedParquetTable(spark, str(tmp_path / "lowered"))
        t.merge_insert_if_absent(stage, ["k"])
        assert len(_data_files(t.current_version_dir())) == 4
    finally:
        spark.conf.set(key, old)
    assert t.read().count() == 20000


def test_write_full_appends_one_file_per_batch(spark, tmp_path):
    """Each write_full that brings new rows adds one file, however many
    partitions fed it."""
    lake = DataLake(spark, str(tmp_path))
    for i in range(5):
        batch = spark.range(3 * i, 3 * i + 4, numPartitions=4).selectExpr(
            "id", "concat('n', id) AS name"
        )
        lake.write_full("localid", batch, ["id"])
        assert len(_data_files(str(tmp_path / "localid"))) == i + 1
    got = sorted(lake.read("localid").collect())
    assert got == [(k, f"n{k}") for k in range(16)]


def test_write_full_new_column_appends(spark, tmp_path):
    """A batch with another schema appends a file, and a merge_schema
    read returns the union."""
    lake = DataLake(spark, str(tmp_path))
    lake.write_full("t", _pdf(spark, [(1, "a")], "id long, x string"), ["id"])
    lake.write_full("t", _pdf(spark, [(2, "b", 9.5)], "id long, x string, score double"), ["id"])
    assert len(_data_files(str(tmp_path / "t"))) == 2
    rows = {r["id"]: (r["x"], r["score"]) for r in lake.read("t", merge_schema=True).collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


@pytest.mark.parametrize("crash_at", ["second_rename", "rmtree"])
def test_compact_recovers_from_a_crashed_swap(spark, tmp_path, monkeypatch, crash_at):
    """A crash inside compact's swap loses no rows. After the first
    rename the live dir is missing: exists/read/compact rename ``.old``
    back. After the second, ``.old`` is stale beside the new live dir:
    it is removed, so the next compact's first rename succeeds."""
    import os

    from tp_integ_data_pipeline_spark.sources import lake as lake_mod

    root = str(tmp_path / "lk")
    lake = DataLake(spark, root)
    for i in range(3):
        lake.write_full("t", spark.range(3 * i, 3 * i + 3).selectExpr("id", "id * 2 AS v"), ["id"])
    want = sorted(lake.read("t").collect())
    live = os.path.join(root, "t")

    real_rename, renames = os.rename, []

    def rename(src, dst):
        renames.append(src)
        if crash_at == "second_rename" and len(renames) == 2:
            raise OSError("crash between the renames")
        real_rename(src, dst)

    def rmtree(path, *a, **kw):
        raise OSError("crash in the removal")

    monkeypatch.setattr(lake_mod.os, "rename", rename)
    if crash_at == "rmtree":
        monkeypatch.setattr(lake_mod.shutil, "rmtree", rmtree)
    with pytest.raises(OSError, match="crash"):
        lake.compact("t")
    monkeypatch.undo()
    assert os.path.isdir(live + ".old")
    assert os.path.isdir(live) == (crash_at == "rmtree")

    fresh = DataLake(spark, root)  # a restarted process
    assert fresh.exists("t")
    assert not os.path.exists(live + ".old")
    assert sorted(fresh.read("t").collect()) == want
    fresh.compact("t")
    fresh.write_full("t", spark.range(100, 101).selectExpr("id", "id * 2 AS v"), ["id"])
    assert sorted(fresh.read("t").collect()) == sorted(want + [(100, 200)])
    assert not os.path.exists(live + ".old")
