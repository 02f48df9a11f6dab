"""Hypothesis property tests (SURVEY.md §5 #3): F8 totality over
[-720, 720] against an independent Python model of the reference
mapping, and merge idempotency under random stages."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tp_integ_data_pipeline_spark.functions.reference import wind_cardinal
from tp_integ_data_pipeline_spark.operators.merge_ops import insert_if_absent


def reference_cardinal(g: float) -> str:
    """Python model of /root/reference/transf.py:55-78 (verified
    truth table, SURVEY.md §2.6 F8)."""
    if g == 0 or g == 360:
        return "N"
    if 0 < g < 90:
        return "NO"
    if g == 90:
        return "W"
    if 90 < g < 180:
        return "SE"
    if g == 180:
        return "S"
    if 180 < g < 270:
        return "SO"
    if g == 270:
        return "E"
    return "NE"


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=-720, max_value=720), min_size=1, max_size=300))
def test_wind_cardinal_total_property(spark, degrees):
    df = spark.createDataFrame([(float(d),) for d in degrees], ["deg"])
    got = df.select("deg", wind_cardinal("deg").alias("c")).collect()
    for row in got:
        assert row.c == reference_cardinal(row.deg), row.deg


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.tuples(st.integers(0, 30), st.integers(0, 5)), min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 30), st.integers(0, 5)), min_size=1, max_size=40),
)
def test_insert_if_absent_idempotent_property(spark, target_rows, stage_rows):
    # de-dup keys within each side (tables have unique keys by contract)
    target = spark.createDataFrame(list({k: v for k, v in target_rows}.items()), ["k", "v"])
    stage = spark.createDataFrame(list({k: v for k, v in stage_rows}.items()), ["k", "v"])
    once = insert_if_absent(target, stage, ["k"])
    twice = insert_if_absent(once, stage, ["k"])
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    # target rows always win over stage rows with the same key
    tmap = dict(map(tuple, target.collect()))
    for k, v in a:
        if k in tmap:
            assert v == tmap[k]


def test_q47_range_join_covers_id_time_disorder(spark, tmp_path):
    """Bucketized range join must not depend on event ids being
    ordered like timestamps: id=1 fires AFTER id=2 across a minute
    boundary (61 s vs 59 s, Δ=2 s) — symmetric pairing still finds the
    pair; an a_id < b_id join predicate would drop it."""
    import datetime

    from tp_integ_data_pipeline_spark.plans.event_queries import q47_range_join

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base + datetime.timedelta(seconds=61), 7, "click", 1.0, "{}"),
        (2, base + datetime.timedelta(seconds=59), 7, "click", 1.0, "{}"),
        # control pair, same bucket, id order == time order
        (3, base + datetime.timedelta(seconds=10), 8, "click", 1.0, "{}"),
        (4, base + datetime.timedelta(seconds=20), 8, "click", 1.0, "{}"),
        # non-pair: 90 s apart
        (5, base, 9, "click", 1.0, "{}"),
        (6, base + datetime.timedelta(seconds=90), 9, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r["user_id"]: r["n_close_pairs"] for r in q47_range_join(spark, str(tmp_path)).collect()}
    assert got == {7: 1, 8: 1}
