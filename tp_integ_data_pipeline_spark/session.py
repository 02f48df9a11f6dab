"""SparkSession factory with engine defaults.

Local-mode testing uses ``local[N]``; the same config block is what we
would ship on a real cluster (AQE on, sane shuffle partitioning,
Arrow-enabled Python interop, UTC session time zone for deterministic
timestamp semantics vs. the DuckDB oracle).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# At 100 TB scale, shuffle partitions should target ~128-200 MB
# post-AQE; AQE coalescing makes the static number a ceiling, so we
# set it near total cores locally and rely on
# spark.sql.adaptive.coalescePartitions for the rest. Without
# SPARK_GRAFT_CPUS the width is the cores this process may run on.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Runtime engine confs, shared by get_session (builder) and
# tune_for_session (an externally created session).
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter semi-join reduction: on a selective join
    # the big side is pre-filtered by a bloom filter built from the
    # small side — at 100 TB this skips whole row groups before the
    # shuffle. Catalyst only injects it where estimated-selective,
    # so locally it is a no-op with zero risk.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert (sources/fixtures.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else half of the host's MemTotal capped
    at 16g: the driver JVM shares the host with Python workers and the
    OS, and a heap sized past physical memory fails only under load."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    cap_mb = 16 * 1024
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, kb // 2048)}m"


def get_session(app_name: str = "tp_integ_data_pipeline_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    if os.environ.get("SPARK_GRAFT_WAREHOUSE"):
        builder = builder.config("spark.sql.warehouse.dir", os.environ["SPARK_GRAFT_WAREHOUSE"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    _install_worker_shim(spark)
    return spark


# ---------------------------------------------------------------------------
# Python-boundary worker shim (optimization guide §4: the JVM↔Python
# boundary). Two measured per-task/per-worker costs in stock Spark 4.1
# on Python 3.11, both independent of the data:
#
# 1. EVERY Python task runs worker_util.setup_spark_files →
#    importlib.invalidate_caches(); CPython 3.11's
#    zipimport.zipimporter.invalidate_caches() re-reads the zip
#    CENTRAL DIRECTORY unconditionally, so each task re-parses every
#    zip on the worker's sys.path (pyspark.zip alone is ~3k entries)
#    — measured ~220–350 ms of pure overhead PER TASK here (cProfile
#    inside the worker: zipimport._read_directory dominates).
#    CPython 3.12 fixed this upstream by stat-guarding the re-read;
#    the shim backports exactly that semantics: re-read only when the
#    archive's (mtime, size) changed, so a genuinely updated pyfile
#    zip is still picked up.
# 2. PythonWorkerFactory kills IDLE workers after a hardcoded 60 s, so
#    any Python-using query arriving later pays a full worker respawn
#    including numpy/pandas/pyarrow imports. The shim module is
#    imported by pyspark.daemon BEFORE it forks workers, so preloading
#    those libraries there makes every (re)spawned worker inherit them
#    via copy-on-write — respawn cost drops from seconds to ~0.1 s.
#
# Mechanism: Spark's documented `spark.python.worker.module` hook (the
# daemon imports the named module and uses its `main`; the name must
# start with "pyspark" — see pyspark/daemon.py). The shim delegates to
# the stock pyspark.worker.main, so task semantics are IDENTICAL; it
# only changes cache-invalidation granularity and import timing. The
# file is written to a stable tmp path and put on the workers'
# PYTHONPATH via the per-UDF env (sc.environment), which reaches the
# daemon's environment at spawn. Opt out with
# SPARK_GRAFT_NO_WORKER_SHIM=1. At cluster scale the same shim ships
# as a --py-files/image file; nothing here is local-mode-specific.
# ---------------------------------------------------------------------------

_WORKER_SHIM_NAME = "pyspark_engine_worker"
_WORKER_SHIM_SOURCE = '''"""Spark Python worker shim (generated by tp_integ_data_pipeline_spark).

Imported by pyspark.daemon in the DAEMON process (before worker forks):
- backports CPython 3.12's stat-guarded zipimport cache invalidation
  (3.11 re-reads every zip directory on every task);
- preloads the heavy libraries every worker needs so forked workers
  inherit them copy-on-write.
Delegates task execution to the stock pyspark.worker.main unchanged.
"""
import os
import zipimport


def _patch_zipimport():
    zi = zipimport.zipimporter
    if getattr(zi, "_engine_mtime_patched", False):
        return
    orig = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime, st.st_size)
        except OSError:
            key = None
        if key is not None and getattr(self, "_engine_zip_stamp", None) == key:
            return  # archive unchanged -> keep the cached directory
        self._engine_zip_stamp = key
        orig(self)

    zi.invalidate_caches = invalidate_caches
    zi._engine_mtime_patched = True


_patch_zipimport()

try:  # preload in the daemon; forked workers inherit the modules
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
except Exception:  # pragma: no cover - preload is best-effort only
    pass

from pyspark.worker import main  # noqa: E402,F401
'''


def _shim_dir() -> str:
    """Write the shim module to a stable per-user tmp dir (atomic,
    idempotent) and return the dir to put on the workers' PYTHONPATH.

    Hardened per r15 ADVICE: the dir is uid-suffixed and created 0700,
    and an existing dir is trusted only if this uid owns it and no one
    else can write it — otherwise (another local user pre-created the
    path to stage a module swap) fall back to a fresh private mkdtemp
    instead of importing from a directory we don't control."""
    uid = os.getuid() if hasattr(os, "getuid") else 0
    d = os.path.join(tempfile.gettempdir(), f"tp_integ_worker_shim_{uid}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.stat(d)
        owned = getattr(st, "st_uid", uid) == uid
        others_writable = bool(st.st_mode & 0o022)
        if not owned or others_writable:
            raise OSError(f"untrusted shim dir {d} (uid={st.st_uid}, mode={oct(st.st_mode)})")
    except OSError:
        d = tempfile.mkdtemp(prefix="tp_integ_worker_shim_")
    path = os.path.join(d, _WORKER_SHIM_NAME + ".py")
    try:
        with open(path) as fh:
            if fh.read() == _WORKER_SHIM_SOURCE:
                return d
    except OSError:
        pass
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        fh.write(_WORKER_SHIM_SOURCE)
    os.replace(tmp, path)
    return d


def _install_worker_shim(spark: SparkSession) -> None:
    """Best-effort activation on a live session (works for both the
    engine-built session and the driver harness's own session): the
    worker-module conf is read by PythonWorkerFactory lazily at
    factory creation, and sc.environment feeds every subsequently
    created Python function's env (a changed env keys a NEW factory,
    so the shim applies even if stock workers already ran)."""
    if os.environ.get("SPARK_GRAFT_NO_WORKER_SHIM") == "1":
        return
    if getattr(spark, "_tp_integ_worker_shim", False):
        return
    try:
        shim_dir = _shim_dir()
        sc = spark.sparkContext
        sc._jvm.org.apache.spark.SparkEnv.get().conf().set(
            "spark.python.worker.module", _WORKER_SHIM_NAME
        )
        existing = sc.environment.get("PYTHONPATH", "")
        if shim_dir not in existing.split(os.pathsep):
            sc.environment["PYTHONPATH"] = (
                f"{shim_dir}{os.pathsep}{existing}" if existing else shim_dir
            )
    except Exception:  # pragma: no cover - stock behavior is still correct
        return
    spark._tp_integ_worker_shim = True


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver's cwd/PYTHONPATH.

    cloudpickle serializes module-level functions (mapInPandas stubs,
    applyInPandasWithState handlers, UDTF classes) BY REFERENCE, so the
    worker process must be able to `import tp_integ_data_pipeline_spark`
    itself — which fails when the harness launches from another cwd.
    addPyFile of a package zip puts it on every worker's sys.path.

    The zip is built in a private directory, removed at exit: a local
    executor copies an added file lazily, at its first task, and fails
    that task if the file changed since it was added, which a path
    shared with other processes (another checkout's session) allows.
    """
    if getattr(spark, "_tp_integ_pkg_shipped", False):
        return
    import zipfile

    from tp_integ_data_pipeline_spark.sources.fixtures import scratch_dir

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(scratch_dir(prefix="tp_integ_pkg_"), "tp_integ_data_pipeline_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "tp_integ_data_pipeline_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:  # pragma: no cover - e.g. identical re-add
        pass
    spark._tp_integ_pkg_shipped = True


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-created session.

    The driver harness owns its SparkSession; it may not have our
    builder confs. Everything here is runtime-settable.
    """
    _ship_package(spark)
    _install_worker_shim(spark)
    confs = {
        **ENGINE_CONFS,
        # widths follow the live session's parallelism, not the env
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
    }
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - immutable conf in some envs
            pass
    return spark
