"""Fixture loading: misuse of the read confs fails loudly."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from tp_integ_data_pipeline_spark.sources import fixtures


def test_malformed_max_partition_bytes_fails_the_spread(tmp_path):
    """The corpus-scan spread reads spark.sql.files.maxPartitionBytes to
    decide whether a file fits one scan split. A malformed value raises
    instead of silently dropping the spread (which would look like a
    performance regression)."""
    path = tmp_path / "documents.parquet"
    path.write_bytes(b"\0" * 1024)
    confs = {"spark.sql.files.maxPartitionBytes": "12 furlongs"}
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default=None: confs[key]))
    with pytest.raises(ValueError):
        fixtures._spread_unsplittable_scan(spark, object(), str(path))
