"""End-to-end pipeline compositions (SURVEY.md §3 EP1/EP2/EP3).

These are the user-facing equivalents of the reference's entry points:
a user running `python extrac_almac.py` / `python transf.py` against
the reference switches to these functions. Column names (Spanish
included) and observable values match the reference's warehouse
contract (FIXTURES.md §A3); everything is ONE lazy Catalyst plan per
step — the reference's eager per-step pandas materialization
(transf.py:36-134) collapses into scan → transforms → broadcast join →
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tp_integ_data_pipeline_spark.functions.reference import (
    date_ddmmyyyy,
    format_postcodes,
    hpa_to_mmhg,
    int_to_bool,
    none_to_null,
    shift_gmt3,
    time_hhmm,
    wind_cardinal,
)
from tp_integ_data_pipeline_spark.operators.joins import enrich
from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
from tp_integ_data_pipeline_spark.sources.http_json import (
    Fetcher,
    geocoding_endpoint,
    parse_geocoding,
    parse_weather,
    weather_endpoint,
)
from tp_integ_data_pipeline_spark.sources.lake import DataLake

#: meteor_proc column contract (17 cols; transf.py:104-108, 286-305).
METEOR_PROC_COLS = [
    "date",
    "time",
    "interval",
    "temperature_2m",
    "relativehumidity_2m",
    "apparent_temperature",
    "is_day",
    "precipitation",
    "rain",
    "pressure_msl",
    "windspeed_10m",
    "winddirection_10m",
    "winddir_cardinal_10m",
    "windgusts_10m",
    "api_loc_id",
    "city",
    "country",
]


def transform_weather(weather: DataFrame, localities: DataFrame) -> DataFrame:
    """EP2 meteor branch (transf.py:41-108) as one lazy plan:

    drop partition col → −3h shift → date/time split → wind cardinal →
    hPa→mmHg → is_day bool → broadcast left join dims → rename/reorder.
    """
    local_ts = shift_gmt3(F.col("time"))
    # one projection: every expression reads only input columns
    derived = weather.drop("fecha_partic").withColumns(  # P1, transf.py:43
        {
            "date": date_ddmmyyyy(local_ts),  # F4
            "winddir_cardinal_10m": wind_cardinal("winddirection_10m"),  # F8
            "pressure_msl": hpa_to_mmhg("pressure_msl"),  # F6
            "is_day": int_to_bool("is_day"),  # F7
            "time": time_hhmm(local_ts),  # F5 (overwrites, transf.py:51)
        }
    )
    joined = enrich(  # J1: tiny dim → broadcast (transf.py:94-99)
        derived,
        localities,
        fact_key="api_loc_id",
        dim_key="id",
        dim_cols=["id", "name", "country"],
        how="left",
    )
    return joined.drop("id").withColumnRenamed("name", "city").select(*METEOR_PROC_COLS)


def transform_localities(localities: DataFrame, load_date=None) -> DataFrame:
    """EP2 locality branch (transf.py:113-132): postcodes list → text
    (F9), 'None'→null on admin1..4 (F10), load-date stamp (F12/P4)."""
    date_col = F.lit(load_date).cast("date") if load_date is not None else F.current_date()
    return localities.withColumns(
        {
            "postcodes": format_postcodes("postcodes"),
            **{col: none_to_null(col) for col in ("admin1", "admin2", "admin3", "admin4")},
            "fecha_actualizacion": date_col,
        }
    )


def run_extraction(
    spark: SparkSession,
    fetch: Fetcher,
    lake: DataLake,
    city: str,
    nres: int = 10,
    geo_base: str = "https://geocoding-api.open-meteo.com/v1/search?",
    weather_base: str = "https://api.open-meteo.com/v1/forecast?",
    weather_params: str = "current=temperature_2m&timezone=auto",
) -> DataFrame:
    """EP1 (extrac_almac.py): geocode full batch → persist dims →
    fetch weather for the FIRST result (the reference's .iloc[0]
    parameter extraction, extrac_almac.py:21-23) → dedup-append lake.
    Returns the weather row(s) ingested."""
    geo = parse_geocoding(spark, fetch(geocoding_endpoint(geo_base, city, nres)))
    lake.write_full("localid", geo, dedup_keys=["id"])
    first = geo.orderBy(F.monotonically_increasing_id()).limit(1).select(
        "id", "latitude", "longitude"
    ).first()
    weather = parse_weather(
        spark,
        fetch(weather_endpoint(weather_base, first.latitude, first.longitude, weather_params)),
        api_loc_id=first.id,
    )
    # probe_partitions=True: fecha_partic = date_format(time) (main.py:213)
    lake.write_incremental(
        "regmeteor", weather, ["fecha_partic"], dedup_keys=["time"], probe_partitions=True
    )
    return weather


def run_transform_and_load(
    spark: SparkSession,
    lake: DataLake,
    warehouse_root: str,
    load_date=None,
    merge_date=None,
) -> dict[str, DataFrame]:
    """EP2 (transf.py main flow): lake scan → transform chains →
    MERGE into warehouse tables (M2 insert-if-absent for meteor_proc
    on (date,time); M1 SCD1 for loc_proc on id). Idempotent re-runs
    (README.md:86). Returns the loaded frames for verification."""
    weather = lake.read("regmeteor")
    localities = lake.read("localid")
    if weather is None or localities is None:
        raise ValueError("lake is empty; run extraction first (transf.py:21-25 contract)")

    meteor = transform_weather(weather, localities)
    locs = transform_localities(localities, load_date=load_date)

    meteor_tbl = VersionedParquetTable(spark, f"{warehouse_root}/meteor_proc")
    meteor_tbl.merge_insert_if_absent(meteor, keys=["date", "time"])

    loc_tbl = VersionedParquetTable(spark, f"{warehouse_root}/loc_proc")
    loc_tbl.merge_scd1(
        locs, keys=["id"], merge_date=merge_date, origin_date_col="fecha_actualizacion"
    )
    return {"meteor_proc": meteor_tbl.read(), "loc_proc": loc_tbl.read()}
