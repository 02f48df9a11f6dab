"""Round-15 optimization tests: the Python-boundary worker shim.

The shim (session._install_worker_shim) must (a) actually be active in
the Python workers, (b) leave task results byte-identical to stock
behavior, and (c) preserve the one semantic zipimport's cache
invalidation exists for: a CHANGED zip archive is re-read, so updated
pyfiles are still picked up.
"""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pytest

from tp_integ_data_pipeline_spark.session import (
    _WORKER_SHIM_NAME,
    _WORKER_SHIM_SOURCE,
    _shim_dir,
)


def test_shim_file_written_and_importable(tmp_path):
    d = _shim_dir()
    path = os.path.join(d, _WORKER_SHIM_NAME + ".py")
    assert os.path.isfile(path)
    with open(path) as fh:
        assert fh.read() == _WORKER_SHIM_SOURCE
    # idempotent: second call returns the same dir without rewriting
    mtime = os.path.getmtime(path)
    assert _shim_dir() == d
    assert os.path.getmtime(path) == mtime


def test_shim_active_in_workers_and_results_correct(spark):
    """The worker module must be loaded in every Python worker, and a
    round-trip through the boundary must produce exact results."""

    def probe(batches):
        for b in batches:
            yield pd.DataFrame(
                {
                    "id": b["id"],
                    "doubled": b["id"] * 2,
                    "shim": [int(_WORKER_SHIM_NAME in sys.modules)] * len(b),
                }
            )

    rows = (
        spark.range(0, 100, 1, 4)
        .mapInPandas(probe, "id long, doubled long, shim int")
        .collect()
    )
    assert len(rows) == 100
    assert all(r.doubled == r.id * 2 for r in rows)
    assert all(r.shim == 1 for r in rows), "worker shim not active in workers"


def test_zipimport_patch_rereads_changed_archive(tmp_path):
    """The mtime/size-guarded invalidate_caches must skip re-reads for
    an unchanged zip but still pick up a genuinely rewritten one — the
    CPython 3.12 semantics the shim backports."""
    import importlib
    import zipimport

    # apply the patch in THIS process exactly as the daemon does
    shim_path = os.path.join(_shim_dir(), _WORKER_SHIM_NAME + ".py")
    spec = importlib.util.spec_from_file_location("_shim_under_test", shim_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert getattr(zipimport.zipimporter, "_engine_mtime_patched", False)

    z = tmp_path / "mod.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("shimmed_pkg_v.py", "VALUE = 1\n")
    imp = zipimport.zipimporter(str(z))
    assert imp.load_module("shimmed_pkg_v").VALUE == 1  # noqa: F823

    # unchanged archive: invalidate_caches is a no-op (stamp caches)
    imp.invalidate_caches()
    stamp = imp._engine_zip_stamp
    imp.invalidate_caches()
    assert imp._engine_zip_stamp == stamp

    # rewrite the archive with different size AND bump mtime: must re-read
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("shimmed_pkg_v.py", "VALUE = 2  # changed content\n")
    os.utime(z, (os.path.getmtime(z) + 5, os.path.getmtime(z) + 5))
    imp.invalidate_caches()
    assert imp._engine_zip_stamp != stamp
    sys.modules.pop("shimmed_pkg_v", None)
    assert imp.load_module("shimmed_pkg_v").VALUE == 2


def test_scan_spread_gate_and_determinism(spark, sf_dir):
    """The unsplittable-scan spread (sources/fixtures) must fire only
    for sub-split files above the size floor, use the FIXED partition
    count (layout independent of core count), and be deterministic
    across loads (same rows in the same partitions — the float-fold
    stability contract)."""
    from tp_integ_data_pipeline_spark.sources import fixtures
    from tp_integ_data_pipeline_spark.sources.fixtures import (
        _SPREAD_PARTITIONS,
        load_table,
    )

    # the spread is a load-call opt-in: OFF by default, and a corpus
    # under the size floor stays single-task even when opted in
    d0 = load_table(spark, sf_dir, "documents")
    assert d0.rdd.getNumPartitions() <= 2
    small = load_table(spark, sf_dir, "documents", spread=True)
    assert small.rdd.getNumPartitions() <= 2

    orig = fixtures._SPREAD_MIN_BYTES
    fixtures._SPREAD_MIN_BYTES = 1
    try:
        # force-eligible table: the floor is dropped so documents
        # spreads even at the small test SF; check fixed width +
        # per-partition determinism across two independent loads
        d1 = load_table(spark, sf_dir, "documents", spread=True)
        assert d1.rdd.getNumPartitions() == _SPREAD_PARTITIONS
        from pyspark.sql import functions as F

        def layout(df):
            return sorted(
                df.select(F.spark_partition_id().alias("p"), "doc_id")
                .groupBy("p")
                .agg(F.sum("doc_id").alias("s"), F.count("*").alias("n"))
                .collect()
            )

        d2 = load_table(spark, sf_dir, "documents", spread=True)
        assert layout(d1) == layout(d2)
    finally:
        fixtures._SPREAD_MIN_BYTES = orig


def test_parse_bytes():
    from tp_integ_data_pipeline_spark.sources.fixtures import _parse_bytes

    assert _parse_bytes("128m") == 128 * 1024**2
    assert _parse_bytes("1g") == 1024**3
    assert _parse_bytes("134217728") == 128 * 1024**2
    assert _parse_bytes("64KB") == 64 * 1024


def test_shim_opt_out_env(monkeypatch, spark):
    """SPARK_GRAFT_NO_WORKER_SHIM=1 must skip installation cleanly."""
    from tp_integ_data_pipeline_spark.session import _install_worker_shim

    class FakeSpark:
        pass

    fake = FakeSpark()
    monkeypatch.setenv("SPARK_GRAFT_NO_WORKER_SHIM", "1")
    _install_worker_shim(fake)  # must not raise, must not mark installed
    assert not getattr(fake, "_tp_integ_worker_shim", False)
