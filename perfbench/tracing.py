"""Traced runs: spans around the engine's public functions, streaming
progress, and Spark execution counters from the event log.

Nothing here edits a package file. ``install`` replaces references:
every public function of the ``sources``, ``plans``, ``operators`` and
``streaming`` modules is swapped for a span-recording wrapper in every
package module that holds it, and public methods are wrapped on their
classes. Wrappers keep the original ``__module__``/``__qualname__``, so
code shipped to Python workers still pickles by reference and the
workers run the unwrapped original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import threading
import time
from collections import defaultdict

PACKAGE = "tp_integ_data_pipeline_spark"
LAYERS = ("sources", "plans", "operators", "streaming")
OPERATOR_MODULES = ("dedup", "similarity", "text", "bpe", "graph", "classifier", "substring", "multimodal")


class Tracer:
    """In-memory span store: [name, start, end, parent index, op id]."""

    def __init__(self):
        self.spans: list[list] = []
        self.active = False
        self.op_id: int | None = None
        self.cache_lookups = 0
        self.cache_hits = 0
        self.commits = 0
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()  # foreachBatch sinks run on py4j callback threads

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int | None:
        if not self.active:
            return None
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.time(), None, stack[-1] if stack else None, self.op_id])
        stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is not None:
            self._stack().pop()
            self.spans[idx][2] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced


# --------------------------------------------------------------------------
# reference patching
# --------------------------------------------------------------------------


def _package_modules() -> list:
    pkg = importlib.import_module(PACKAGE)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        mods.append(importlib.import_module(info.name))
    return mods


def install(tracer: Tracer) -> None:
    mods = _package_modules()
    wrapped: dict[int, object] = {}
    for mod in mods:
        rel = mod.__name__[len(PACKAGE) + 1 :]
        if rel.split(".")[0] not in LAYERS:
            continue
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                wrapped[id(obj)] = tracer.wrap(f"{rel}.{attr}", obj)
            elif inspect.isclass(obj):
                for meth, fn in list(vars(obj).items()):
                    if not meth.startswith("_") and inspect.isfunction(fn):
                        setattr(obj, meth, tracer.wrap(f"{rel}.{attr}.{meth}", fn))
    _wrap_special(tracer, wrapped)
    for mod in mods:  # swap every reference to a wrapped function
        for attr, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in wrapped:
                setattr(mod, attr, wrapped[id(obj)])


def _wrap_special(tracer: Tracer, wrapped: dict) -> None:
    """Counters that need more than a span: session-cache hits and
    warehouse commits that won their compare-and-swap."""
    from tp_integ_data_pipeline_spark.operators import table_store
    from tp_integ_data_pipeline_spark.plans import session_cache

    cached = session_cache.session_cached

    def session_cached(spark, cache_name, key, build):
        if tracer.active:
            tracer.cache_lookups += 1
            full = (spark.sparkContext.applicationId, *key)
            tracer.cache_hits += full in session_cache._CACHES.get(cache_name, {})
        return cached(spark, cache_name, key, build)

    wrapped[id(cached)] = tracer.wrap("plans.session_cache.session_cached", functools.wraps(cached)(session_cached))

    try_commit = table_store._try_commit

    def counted(path, expected_version, manifest):
        ok = try_commit(path, expected_version, manifest)
        if tracer.active and ok:
            tracer.commits += 1
        return ok

    table_store._try_commit = functools.wraps(try_commit)(counted)


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def add_streaming_listener(spark, tracer: Tracer) -> list[dict]:
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if tracer.active:
                p = event.progress
                progress.append(
                    {
                        "durations": dict(p.durationMs or {}),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())
    return progress


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[list]) -> list[float]:
    """Span duration minus the part of it covered by its children."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s[3] is not None:
            children[s[3]].append(i)
    out = []
    for i, (_, start, end, *_rest) in enumerate(spans):
        cover = union_length(
            (max(spans[c][1], start), min(spans[c][2], end)) for c in children[i]
        )
        out.append(end - start - cover)
    return out


def outermost_total(spans: list[list], match) -> float:
    """Summed duration of matching spans not nested in another match."""
    total = 0.0
    for s in spans:
        if not match(s[0]):
            continue
        p = s[3]
        while p is not None and not match(spans[p][0]):
            p = spans[p][3]
        if p is None:
            total += s[2] - s[1]
    return total


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir`` (Spark 4 writes a directory of
    rolled ``events_*`` files per application)."""
    events = []
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        pass  # a torn last line, or a status marker file
    return events


def exec_metrics(events: list[dict], ops: list[tuple], build_windows: list[tuple]) -> dict:
    """Execution counters for jobs, stages and tasks that ran inside the
    timed operations (``ops``: (name, start, end) in epoch seconds)."""
    def inside(t_ms, windows):
        t = t_ms / 1000.0
        return any(s <= t <= e for s, e in windows)

    windows = [(s, e) for _, s, e in ops]
    jobs, stage_ids, batch_jobs = {}, set(), 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and inside(ev["Submission Time"], windows):
            jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
            stage_ids.update(ev.get("Stage IDs", []))
            props = ev.get("Properties") or {}
            batch_jobs += "streaming.sql.batchId" in props
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
    out = defaultdict(float)
    out["exec.jobs"] = len(jobs)
    out["plans.build_jobs"] = sum(1 for s, _ in jobs.values() if inside(s * 1000, build_windows))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_ids and "Submission Time" in info:
                out["exec.stages"] += 1
                if info["Number of Tasks"] == 1:
                    out["exec.single_task_stage_s"] += (
                        info.get("Completion Time", info["Submission Time"]) - info["Submission Time"]
                    ) / 1000.0
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
            m = ev.get("Task Metrics") or {}
            out["exec.tasks"] += 1
            out["exec.task_s"] += m.get("Executor Run Time", 0) / 1000.0
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    action = 0.0
    for _, s, e in ops:
        action += union_length(
            (max(js, s), min(je if je is not None else e, e)) for js, je in jobs.values()
        )
    out["exec.action_s"] = action
    out["exec.driver_gap_s"] = sum(e - s for _, s, e in ops) - action
    out["streaming.batch_jobs"] = batch_jobs
    return dict(out)


# --------------------------------------------------------------------------
# per-layer metrics
# --------------------------------------------------------------------------


def layer_metrics(tracer: Tracer, progress: list[dict], execm: dict, passes: float, cores: int) -> dict:
    """Per-layer metrics, seconds and counts per pass of the op list."""
    spans = [s for s in tracer.spans if s[2] is not None]
    selfs = self_times(spans)
    per = 1.0 / passes

    def total(match) -> float:
        return outermost_total(spans, match) * per

    m = {
        "plans.build_s": total(lambda n: n == "plans.build"),
        "plans.apply_confs_s": total(lambda n: n == "plans.registry.apply_query_confs"),
        "plans.session_cache.hit_ratio": tracer.cache_hits / tracer.cache_lookups if tracer.cache_lookups else 0.0,
        "plans.pipelines.transform_and_load_s": total(lambda n: n == "plans.pipelines.run_transform_and_load"),
        "sources.load_table_s": total(lambda n: n == "sources.fixtures.load_table"),
        "sources.lake.write_incremental_s": total(lambda n: n == "sources.lake.DataLake.write_incremental"),
        "sources.lake.compact_s": total(lambda n: n == "sources.lake.DataLake.compact"),
        "operators.table_store.merge_s": total(
            lambda n: n.startswith("operators.table_store.VersionedParquetTable.merge_")
        ),
        "operators.table_store.commits": tracer.commits * per,
    }
    for mod in OPERATOR_MODULES:
        prefix = f"operators.{mod}."
        m[f"operators.{mod}.self_s"] = sum(t for s, t in zip(spans, selfs) if s[0].startswith(prefix)) * per
    durations = [p["durations"] for p in progress]
    m["streaming.batches"] = len(progress) * per
    m["streaming.trigger_p50_s"] = (
        statistics.median(d.get("triggerExecution", 0) for d in durations) / 1000.0 if durations else 0.0
    )
    m["streaming.addbatch_s"] = sum(d.get("addBatch", 0) for d in durations) / 1000.0 * per
    m["streaming.commit_s"] = (
        sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durations) / 1000.0 * per
    )
    m["streaming.jobs_per_batch"] = execm.get("streaming.batch_jobs", 0) / len(progress) if progress else 0.0
    m["streaming.state_rows"] = max((p["state_rows"] for p in progress), default=0)
    m["streaming.state_bytes"] = max((p["state_bytes"] for p in progress), default=0)
    for key in (
        "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.gc_s",
        "exec.single_task_stage_s", "exec.driver_gap_s", "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes", "plans.build_jobs",
    ):
        m[key] = execm.get(key, 0) * per
    m["exec.core_util"] = m["exec.task_s"] / (m["exec.action_s"] + m["exec.driver_gap_s"]) / cores if m[
        "exec.action_s"
    ] else 0.0
    return m


def write_spans(path: str, tracer: Tracer) -> None:
    with open(path, "w") as fh:
        json.dump(
            [dict(zip(("name", "start", "end", "parent", "op"), s)) for s in tracer.spans], fh
        )
