from tp_integ_data_pipeline_spark.operators import change_feed, dedup, joins, merge_ops, multimodal
from tp_integ_data_pipeline_spark.operators import similarity, table_store, text
