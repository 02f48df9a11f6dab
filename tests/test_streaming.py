"""Streaming surface tests (SURVEY.md §5 #4): multi-file micro-batch
ingestion with cross-batch dedup, and windowed aggregation parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.sources.lake import DataLake
from tp_integ_data_pipeline_spark.streaming.ingest import (
    run_stream_to_memory,
    start_microbatch_ingest,
)


def _write_batches(spark, src_dir):
    """Three single-file micro-batches with overlapping keys (batch 2
    re-delivers a row of batch 1 — the reference's duplicate-poll
    scenario, main.py:101-107)."""
    rows1 = [(1, "2023-07-15T10:00:00", 20.0), (2, "2023-07-15T10:15:00", 21.0)]
    rows2 = [(2, "2023-07-15T10:15:00", 21.0), (3, "2023-07-15T10:30:00", 22.0)]
    rows3 = [(4, "2023-07-16T09:00:00", 18.0)]
    for i, rows in enumerate([rows1, rows2, rows3]):
        df = (
            spark.createDataFrame(rows, ["seq", "time", "temperature_2m"])
            .withColumn("time", F.to_timestamp("time"))
            .withColumn("fecha_partic", F.date_format("time", "MM-dd-yy"))
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/batch{i}")


def test_microbatch_ingest_dedups_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    for i in range(3):
        (src / f"batch{i}").mkdir(parents=True, exist_ok=True)
    _write_batches(spark, str(src))
    # flatten batch files into one stream source dir
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(f"{src}/batch*/part-*.parquet"))):
        shutil.copy(f, stream_dir / f"b{i}.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    lake = DataLake(spark, str(tmp_path / "lake"))
    q = start_microbatch_ingest(
        spark,
        str(stream_dir),
        schema,
        lake,
        "regmeteor",
        partition_cols=["fecha_partic"],
        dedup_keys=["time"],
        interval_seconds=None,  # availableNow: drain all batches, stop
        max_files_per_trigger=1,  # one file per micro-batch → 3 batches
    )
    q.awaitTermination()
    got = lake.read("regmeteor")
    # 5 source rows, 1 cross-batch duplicate `time` → 4 land
    assert got.count() == 4
    assert got.select("time").distinct().count() == 4
    assert (tmp_path / "lake" / "regmeteor" / "fecha_partic=07-16-23").exists()


def test_windowed_stream_matches_batch(spark, sf_dir, tmp_path):
    import shutil

    stream_dir = tmp_path / "ev"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(str(stream_dir))
    stream = spark.readStream.schema(static.schema).parquet(str(stream_dir))
    from tp_integ_data_pipeline_spark.plans.streaming_queries import _normalize_ts as fix
    agg = lambda df: (  # noqa: E731
        df.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    import uuid

    streamed = run_stream_to_memory(agg(fix(stream)), f"t_{uuid.uuid4().hex[:8]}", "complete")
    batch = agg(fix(static))
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_counter_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches
    (two files → two batches → second emission includes first batch)."""
    import uuid

    from tp_integ_data_pipeline_spark.streaming.stateful import stateful_user_counter

    src = tmp_path / "ev"
    src.mkdir()
    b1 = spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 1.0)], ["user_id", "value"])
    b2 = spark.createDataFrame([(1, 2.5), (3, 7.0)], ["user_id", "value"])
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    import glob
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    for i, f in enumerate(sorted(glob.glob(f"{src}/f*/part-*.parquet"))):
        shutil.copy(f, flat / f"b{i}.parquet")

    schema = spark.read.parquet(str(flat)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(flat))
    )
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_user_counter(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).toPandas()
    # last emission per user is the accumulated state
    final = out.groupby("user_id").last()
    assert final.loc[1, "n_events"] == 3 and abs(final.loc[1, "total_value"] - 17.5) < 1e-9
    assert final.loc[2, "n_events"] == 1
    assert final.loc[3, "total_value"] == 7.0


def test_microbatch_ingest_checkpoint_restart(spark, tmp_path):
    """Checkpointed ingest: a restarted query must not re-ingest
    already-committed files (offsets) and replays are idempotent."""
    stream_dir = tmp_path / "s"
    stream_dir.mkdir()
    df1 = spark.createDataFrame([(1, "2023-07-15T10:00:00", 1.0)], ["seq", "time", "v"])
    df1 = df1.withColumn("time", F.to_timestamp("time")).withColumn(
        "fecha_partic", F.date_format("time", "MM-dd-yy")
    )
    df1.coalesce(1).write.mode("append").parquet(str(tmp_path / "tmp1"))
    import glob
    import shutil

    shutil.copy(glob.glob(f"{tmp_path}/tmp1/part-*.parquet")[0], stream_dir / "a.parquet")

    schema = spark.read.parquet(str(stream_dir)).schema
    lake = DataLake(spark, str(tmp_path / "lake"))
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second start = restart from checkpoint
        q = start_microbatch_ingest(
            spark, str(stream_dir), schema, lake, "t",
            partition_cols=["fecha_partic"], dedup_keys=["time"],
            interval_seconds=None, checkpoint_dir=ckpt,
        )
        q.awaitTermination()
    assert lake.read("t").count() == 1


def test_watermark_append_mode_closes_windows(spark, tmp_path):
    """T3 late-data handling: append-mode windowed agg only emits
    windows the watermark has passed; a late row within the watermark
    still lands in its window."""
    import glob
    import shutil
    import uuid

    rows_b1 = [("2023-07-15T10:01:00", 1.0), ("2023-07-15T10:14:00", 2.0)]
    rows_b2 = [("2023-07-15T10:05:00", 4.0),  # late, within watermark
               ("2023-07-15T11:30:00", 8.0)]  # advances watermark past 10:xx
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, rows in enumerate([rows_b1, rows_b2]):
        df = spark.createDataFrame(rows, ["ts", "v"]).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(str(tmp_path / f"w{i}"))
        shutil.copy(glob.glob(f"{tmp_path}/w{i}/part-*.parquet")[0], flat / f"b{i}.parquet")

    schema = spark.read.parquet(str(flat)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(flat))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.sum("v").alias("total"))
        .select(F.col("w.start").alias("ws"), "total")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = {str(r.ws): r.total for r in spark.table(name).collect()}
    # the 10:00 window closed with the late 10:05 row included (1+2+4)
    assert out.get("2023-07-15 10:00:00") == 7.0
    # the 11:30 window is NOT emitted (watermark hasn't passed it)
    assert "2023-07-15 11:30:00" not in out and "2023-07-15 11:15:00" not in out


def test_rollup_maintenance_multibatch_equals_direct(spark, tmp_path):
    """Continuous rollup over 2 micro-batches == direct aggregation."""
    import glob
    import shutil

    from tp_integ_data_pipeline_spark.streaming.rollup import (
        merge_add,
        read_rollup,
        start_rollup_maintenance,
    )

    rows1 = [("2023-07-15T10:01:00", "click", 1.0), ("2023-07-15T10:20:00", "view", 2.0)]
    rows2 = [("2023-07-15T10:05:00", "click", 4.0), ("2023-07-15T10:25:00", "view", 8.0)]
    flat = tmp_path / "flat"
    flat.mkdir()
    frames = []
    for i, rows in enumerate([rows1, rows2]):
        df = spark.createDataFrame(rows, ["ts", "event_type", "value"]).withColumn(
            "ts", F.to_timestamp("ts")
        )
        frames.append(df)
        df.coalesce(1).write.parquet(str(tmp_path / f"r{i}"))
        shutil.copy(glob.glob(f"{tmp_path}/r{i}/part-*.parquet")[0], flat / f"b{i}.parquet")

    schema = spark.read.parquet(str(flat)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(flat))
    q = start_rollup_maintenance(spark, stream, str(tmp_path / "rollup"))
    q.awaitTermination()
    got = {
        (str(r.win_start), r.event_type): (r.n, r.total_value)
        for r in read_rollup(spark, str(tmp_path / "rollup")).collect()
    }
    # 10:00 window: click 1+4, view 2; 10:15 window: view 8... wait 10:20/10:25 → 10:15 window
    assert got[("2023-07-15 10:00:00", "click")] == (2, 5.0)
    assert got[("2023-07-15 10:15:00", "view")] == (2, 10.0)


def test_rollup_replay_is_idempotent(spark, tmp_path):
    """Crash-after-overwrite, before checkpoint commit → the replayed
    epoch must NOT be merge-added a second time (no double counting)."""
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.streaming.rollup import fold_batch, read_rollup

    batch = spark.createDataFrame(
        [("2023-07-15T10:01:00", "click", 1.0), ("2023-07-15T10:05:00", "click", 4.0)],
        ["ts", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))
    table = VersionedParquetTable(spark, str(tmp_path / "rollup"))
    ckpt = str(tmp_path / "ckpt")

    assert fold_batch(table, batch, epoch_id=0, checkpoint_dir=ckpt) is True
    # replay of the same epoch (restart after crash): skipped
    assert fold_batch(table, batch, epoch_id=0, checkpoint_dir=ckpt) is False
    got = read_rollup(spark, str(tmp_path / "rollup")).collect()
    assert len(got) == 1 and got[0].n == 2 and got[0].total_value == 5.0

    # next epoch applies; a fresh checkpoint scope resets the guard
    assert fold_batch(table, batch, epoch_id=1, checkpoint_dir=ckpt) is True
    assert fold_batch(table, batch, epoch_id=0, checkpoint_dir=str(tmp_path / "ckpt2")) is True
    got = {r.n for r in read_rollup(spark, str(tmp_path / "rollup")).collect()}
    assert got == {6}  # 3 applied folds of n=2


def test_fold_batch_into_bucketed_table_rewrites_only_dirty_buckets(spark, tmp_path):
    """The 100 TB rollup shape: fold_batch against a table bucketed on
    the rollup grain — a fold rewrites only the key-buckets the
    batch's windows touch, clean buckets are carried forward by
    reference; the epoch replay guard works through the bucketed
    table's meta just like the unbucketed one."""
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.streaming.rollup import fold_batch

    table = VersionedParquetTable(
        spark, str(tmp_path / "roll"), bucket_keys=["win_start", "event_type"], n_buckets=8
    )
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [("2023-07-15T10:01:00", "click", 1.0), ("2023-07-15T11:01:00", "view", 2.0)],
        ["ts", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))
    assert fold_batch(table, b1, epoch_id=0, checkpoint_dir=ckpt) is True
    dirs_after_1 = table.bucket_dirs()

    # epoch replay: skipped through the bucketed table's meta
    assert fold_batch(table, b1, epoch_id=0, checkpoint_dir=ckpt) is False

    # batch 2 touches only the 10:00/click window → only its bucket(s)
    # may change; the 11:00/view bucket dir must be carried by reference
    b2 = spark.createDataFrame(
        [("2023-07-15T10:05:00", "click", 4.0)], ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    assert fold_batch(table, b2, epoch_id=1, checkpoint_dir=ckpt) is True
    dirs_after_2 = table.bucket_dirs()
    changed = {b for b in dirs_after_1 if dirs_after_2.get(b) != dirs_after_1[b]}
    assert len(changed) <= 1  # at most the click-window bucket rewritten

    got = {
        (str(r.win_start), r.event_type): (r.n, float(r.total_value))
        for r in table.read().collect()
    }
    assert got[("2023-07-15 10:00:00", "click")] == (2, 5.0)
    assert got[("2023-07-15 11:00:00", "view")] == (1, 2.0)


def test_fold_batch_folds_into_concurrent_commit(spark, tmp_path, monkeypatch):
    """Lost-update guard: a commit landing between fold_batch's snapshot
    and its own commit (e.g. a batch backfill into the same rollup)
    must be folded INTO via CAS retry, not silently overwritten."""
    import tp_integ_data_pipeline_spark.streaming.rollup as rollup_mod
    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.streaming.rollup import fold_batch, read_rollup

    batch = spark.createDataFrame(
        [("2023-07-15T10:01:00", "click", 1.0)], ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "rollup")
    table = VersionedParquetTable(spark, path)
    ckpt = str(tmp_path / "ckpt")
    assert fold_batch(table, batch, epoch_id=0, checkpoint_dir=ckpt) is True

    # Interleave a concurrent writer exactly in the read→commit gap:
    # merge_add runs inside _merge's CAS loop after the snapshot read,
    # so committing from a second handle here forces a lost race and a
    # re-merge against the winner's state.
    real_merge_add = rollup_mod.merge_add
    raced = {"done": False}

    def racy_merge_add(cur, stg):
        if not raced["done"]:
            raced["done"] = True
            other = VersionedParquetTable(spark, path)
            backfill = spark.createDataFrame(
                [("2023-07-15T09:00:00", "backfill")], ["win_start", "event_type"]
            ).select(
                F.to_timestamp("win_start").alias("win_start"),
                "event_type",
                F.lit(7).cast("long").alias("n"),
                F.lit(7.0).cast("decimal(18,2)").alias("total_value"),
            )
            other._merge(backfill, lambda c, s: s if c is None else real_merge_add(c, s))
        return real_merge_add(cur, stg)

    monkeypatch.setattr(rollup_mod, "merge_add", racy_merge_add)
    assert fold_batch(table, batch, epoch_id=1, checkpoint_dir=ckpt) is True
    got = {r.event_type: (r.n, r.total_value) for r in read_rollup(spark, path).collect()}
    assert got["backfill"] == (7, 7.0)  # the racing commit survived
    assert got["click"] == (2, 2.0)  # both folds applied
    assert table.meta()["last_epoch"] == 1  # epoch guard meta restored


def test_rollup_recreated_checkpoint_resets_guard(spark, tmp_path):
    """Deleting and RECREATING the same checkpoint path (routine
    reprocessing) restarts epochs at 0; the guard must key on the
    checkpoint instance, not the path, or the new run's batches are
    silently skipped."""
    import shutil

    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.streaming.rollup import fold_batch, read_rollup

    batch = spark.createDataFrame(
        [("2023-07-15T10:01:00", "click", 1.0)], ["ts", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts"))
    table = VersionedParquetTable(spark, str(tmp_path / "rollup"))
    ckpt = str(tmp_path / "ckpt")

    assert fold_batch(table, batch, epoch_id=5, checkpoint_dir=ckpt) is True
    shutil.rmtree(ckpt)  # reprocess from scratch: epochs restart at 0
    assert fold_batch(table, batch, epoch_id=0, checkpoint_dir=ckpt) is True
    got = read_rollup(spark, str(tmp_path / "rollup")).collect()
    assert len(got) == 1 and got[0].n == 2  # both folds applied


def test_lake_compaction_reduces_files(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    for i in range(4):  # 4 appends → many small files
        df = spark.createDataFrame(
            [(i * 10 + j, f"2023-07-1{5 + i % 2}") for j in range(5)], ["k", "d"]
        )
        lake.write_incremental("t", df, ["d"], dedup_keys=["k"])
    import glob

    before = len(glob.glob(f"{tmp_path}/t/*/*.parquet"))
    total_before = lake.read("t").count()
    lake.compact("t", target_partitions=1)
    after = len(glob.glob(f"{tmp_path}/t/*/*.parquet"))
    assert lake.read("t").count() == total_before  # content invariant
    assert after < before
    assert after <= 2  # one file per hive partition (2 dates)


def test_stream_static_broadcast_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: the streaming fact side enriched by a
    static dim each micro-batch (the streaming form of J1)."""
    import shutil
    import uuid

    stream_dir = tmp_path / "ev"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static_schema = spark.read.parquet(str(stream_dir)).schema
    stream = spark.readStream.schema(static_schema).parquet(str(stream_dir))
    dim = spark.createDataFrame(
        [(t, t.upper()) for t in ["click", "view", "purchase", "signup", "error"]],
        ["event_type", "label"],
    )
    enriched = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"enr_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.outputMode("complete").format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.label: r.n for r in spark.table(name).collect()}
    batch = {
        r.event_type.upper(): r.cnt
        for r in spark.read.parquet(str(stream_dir)).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    assert got == batch


def test_microbatch_ingest_with_curation_transform(spark, tmp_path):
    """Streaming curation: a per-batch transform (quality gate + token
    count) runs before dedup/append, and replaying the stream from
    scratch against the same lake adds nothing (transform determinism
    preserves the idempotence contract)."""
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    rows1 = [(1, "good text with plenty of distinct words here", "s0"),
             (2, "a a a a a a a a a a a a", "s0")]        # repetitive -> dropped
    rows2 = [(2, "a a a a a a a a a a a a", "s1"),         # re-delivered dup
             (3, "another reasonably varied document body text", "s1"),
             (4, "xx", "s1")]                              # too short -> dropped
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, ["doc_id", "text", "source"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/b{i}")
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(f"{tmp_path}/b*/part-*.parquet"))):
        shutil.copy(f, stream_dir / f"f{i}.parquet")

    def curate(batch):
        w = F.split("text", " ")
        keep = (F.size(w) >= 5) & (
            F.size(F.array_distinct(w)) * F.lit(1.0) / F.size(w) >= 0.3
        )
        return batch.filter(keep).withColumn("n_tokens", F.size(w))

    schema = spark.read.parquet(str(stream_dir)).schema
    lake = DataLake(spark, str(tmp_path / "lake"))

    def drain():
        q = start_microbatch_ingest(
            spark,
            str(stream_dir),
            schema,
            lake,
            "docs",
            partition_cols=["source"],
            dedup_keys=["doc_id"],
            interval_seconds=None,
            max_files_per_trigger=1,
            transform=curate,
        )
        q.awaitTermination()

    drain()
    got = lake.read("docs")
    assert {r.doc_id for r in got.select("doc_id").collect()} == {1, 3}
    assert {r.n_tokens for r in got.collect()} == {8, 6}  # transform column landed
    drain()  # full replay: same transform output -> anti-join adds nothing
    assert lake.read("docs").count() == 2


def test_stream_left_outer_join_semantics(spark, tmp_path):
    """Left-outer stream-stream join: matched pairs emit; a click whose
    match horizon is provably past (watermark + join range well behind
    the stream max) emits null-padded; a click still inside the
    horizon is withheld. Constructed timestamps keep every case far
    from the engine's internal emission boundary."""
    import datetime as dt
    import os
    import uuid

    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.streaming.ingest import run_stream_to_memory

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 10, "view", 1.0, None),
        (2, base + dt.timedelta(minutes=5), 10, "click", 2.0, None),   # match
        (3, base + dt.timedelta(minutes=10), 20, "click", 3.0, None),  # expired → null
        (4, base + dt.timedelta(hours=30), 30, "click", 4.0, None),    # in horizon → withheld
        (5, base + dt.timedelta(hours=31), 99, "view", 0.0, None),     # watermark anchor
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = os.path.join(str(tmp_path), "ev")
    ev.write.parquet(d)
    stream = spark.readStream.schema(ev.schema).parquet(d)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value"))
        .withWatermark("c_ts", "1 hour")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    out = run_stream_to_memory(
        joined.select("user_id", "c_value", "v_ts"),
        f"lo_test_{uuid.uuid4().hex[:8]}",
        "append",
    )
    got = sorted((r.user_id, r.c_value, r.v_ts is None) for r in out.collect())
    assert got == [(10, 2.0, False), (20, 3.0, True)]
