"""Per-query profiler for the optimization rounds (guide §1).

Usage: python scripts/profile_query.py q175_prefix_similarity_join [sf_dir]

Runs the query TWICE (pass 1 warms JVM/codegen/parquet footers — same
protocol as bench.py), materializes through the noop sink, and parses
the Spark event log to print, for the SECOND pass only:

  - every job (description, wall seconds)
  - every stage (name, wall seconds, task count, total task time,
    shuffle read/write bytes, input bytes, spill)

so the expensive stage of an expensive query is identified from data,
not guesswork. Writes nothing into the engine; the event log lands in
a temp dir.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def get_profiling_session(event_dir: str) -> SparkSession:
    """Mirror of session.get_session plus event logging (profiling only)."""
    from tp_integ_data_pipeline_spark.session import (
        DEFAULT_CPUS,
        ENGINE_CONFS,
        _install_worker_shim,
        _ship_package,
        default_driver_memory,
    )

    builder = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", event_dir)
    )
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    _install_worker_shim(spark)
    return spark


def main() -> None:
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    event_dir = tempfile.mkdtemp(prefix="profile_events_")
    spark = get_profiling_session(event_dir)

    from tp_integ_data_pipeline_spark import plans
    from tp_integ_data_pipeline_spark.plans.session_cache import _CACHES

    def run(tag: str) -> float:
        spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.time()
        df = plans.QUERIES[qname](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    warm = run("pass1")
    # Session caches persist across passes (bench resets per PASS, so
    # pass 2 here sees the same warm-cache state the bench's pass 2
    # sees). To profile the cache-BUILDING cost instead, clear here.
    if os.environ.get("PROFILE_CLEAR_CACHE") == "1":
        _CACHES.clear()
    timed = run("pass2")
    print(f"pass1 (cold) {warm:.3f}s   pass2 (timed) {timed:.3f}s")
    spark.stop()

    # ---- parse the event log -------------------------------------------
    logs = sorted(
        (p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and "appstatus" not in os.path.basename(p)),
        key=os.path.getmtime,
    )
    path = logs[-1]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = {}
    exec_run: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties", {}) or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id", ""),
                    "desc": props.get("spark.job.description", "")[:90],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif et == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:110],
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                    "ntasks": si.get("Number of Tasks"),
                }
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                agg = stage_metrics.setdefault(
                    sid,
                    {"task_ms": 0, "sh_read": 0, "sh_write": 0, "input": 0, "spill": 0,
                     "py_ms": 0},
                )
                agg["task_ms"] += m.get("Executor Run Time", 0)
                agg["sh_read"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0
                ) + (m.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
                agg["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                agg["spill"] += m.get("Disk Bytes Spilled", 0)

    pass2_jobs = {
        jid: j for jid, j in jobs.items() if j.get("group") == "pass2" and "t1" in j
    }
    total = sum(j["t1"] - j["t0"] for j in pass2_jobs.values())
    print(f"\n== pass2: {len(pass2_jobs)} jobs, {total/1000:.3f}s summed job wall ==")
    for jid in sorted(pass2_jobs):
        j = pass2_jobs[jid]
        print(f"job {jid:4d}  {(j['t1']-j['t0'])/1000:7.3f}s  {j['desc']}")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if not s or s.get("t0") is None:
                continue
            m = stage_metrics.get(sid, {})
            print(
                f"   stage {sid:4d} {(s['t1']-s['t0'])/1000:7.3f}s "
                f"tasks={s['ntasks']:3d} taskms={m.get('task_ms',0):7d} "
                f"shR={m.get('sh_read',0)//1024:6d}K shW={m.get('sh_write',0)//1024:6d}K "
                f"in={m.get('input',0)//1024:7d}K spill={m.get('spill',0)} {s['name']}"
            )
    # gaps between jobs = driver-side time (planning, py work, commits)
    ordered = [pass2_jobs[j] for j in sorted(pass2_jobs)]
    gaps = 0
    for a, b in zip(ordered, ordered[1:]):
        gaps += max(0, b["t0"] - a["t1"])
    if ordered:
        span = (ordered[-1]["t1"] - ordered[0]["t0"]) / 1000
        print(f"\nspan first-job-start → last-job-end: {span:.3f}s; "
              f"inter-job driver gaps: {gaps/1000:.3f}s")


if __name__ == "__main__":
    main()
