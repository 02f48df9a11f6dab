"""HTTP JSON ingestors (SURVEY.md §2.1 S3/S4/S5).

The reference fetches Open-Meteo JSON driver-side with `requests`
(main.py:168-239). Kept OUT of the engine core per SURVEY §7: sources
are pluggable callables returning raw JSON text, so tests (and
offline environments — `requests` may be absent) substitute fixture
strings. Parsing is engine work and fully Spark-native:

- weather: `from_json(schema).select("current.*")` ≙
  `json_normalize(dic["current"])` (main.py:210);
- geocoding: `explode(results)` + `select("col.*")` +
  `align_to_schema` ≙ `json_normalize(dic["results"])` + max_campos
  alignment (main.py:239-263).

At 100 TB-scale ingest the same parse plan runs inside foreachBatch
over whatever transport lands the JSON (Kafka, object store, a
Python DataSource) — the HTTP fetch is never the distributed part.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tp_integ_data_pipeline_spark.functions.reference import partition_date, to_timestamp_iso
from tp_integ_data_pipeline_spark.schemas import LOCALITIES, WEATHER_RAW, align_to_schema

Fetcher = Callable[[str], str]


def check_api_error(payload: str) -> None:
    """F13: error-key sniff on the raw response (main.py:185-186)."""
    head = json.loads(payload)
    if isinstance(head, dict) and "error" in head:
        raise ValueError(f"API error response: {head.get('reason', head)}")


def parse_weather(spark: SparkSession, payload: str, api_loc_id: int) -> DataFrame:
    """S5 flatten of the `"current"` object into one typed row, plus
    the ingest-added columns (api_loc_id constant P4, time F1,
    fecha_partic partition key F2; main.py:201-217)."""
    check_api_error(payload)
    envelope = T.StructType([T.StructField("current", WEATHER_RAW)])
    raw = spark.createDataFrame([(payload,)], ["json"])
    return (
        raw.select(F.from_json("json", envelope).alias("j"))
        .select("j.current.*")
        .withColumn("time", to_timestamp_iso("time"))
        .withColumn("api_loc_id", F.lit(api_loc_id).cast("long"))
        .withColumn("fecha_partic", partition_date("time"))
    )


def parse_geocoding(spark: SparkSession, payload: str) -> DataFrame:
    """S5 flatten of the `results` array into aligned rows: explode →
    struct expansion → max_campos alignment (absent fields = typed
    nulls instead of NaN/'nan' strings; documented improvement over
    main.py:251-260)."""
    check_api_error(payload)
    envelope = T.StructType([T.StructField("results", T.ArrayType(LOCALITIES))])
    raw = spark.createDataFrame([(payload,)], ["json"])
    exploded = (
        raw.select(F.from_json("json", envelope).alias("j"))
        .select(F.explode("j.results").alias("r"))
        .select("r.*")
    )
    return align_to_schema(exploded, LOCALITIES)


def weather_endpoint(base: str, latitude: float, longitude: float, params: str) -> str:
    """F11: endpoint assembly (main.py:196-199)."""
    return f"{base}latitude={latitude}&longitude={longitude}&{params}"


def geocoding_endpoint(base: str, city: str, count: int = 10, language: str = "es") -> str:
    """F11: geocoding endpoint; spaces become '+' (main.py:227-228)."""
    return f"{base}name={city.replace(' ', '+')}&count={count}&language={language}&format=json"
