"""Query plan registry. Importing this package registers every query."""

from tp_integ_data_pipeline_spark.plans import registry
from tp_integ_data_pipeline_spark.plans.registry import ORACLES, QUERIES

# Import for registration side effects.
from tp_integ_data_pipeline_spark.plans import relational  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import reference_ops  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import dedup_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import similarity_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import text_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import merge_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import streaming_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import advanced  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import extras  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import udtf_lake_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import batteries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import tpch_more  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import ml_data  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import tpch_wide  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import curation  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import selection_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import embedding_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import corpus_analytics  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import observe_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import timeseries_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import graph_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import linkage_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import stats_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import event_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import classifier_queries  # noqa: E402,F401
from tp_integ_data_pipeline_spark.plans import refresh_queries  # noqa: E402,F401
