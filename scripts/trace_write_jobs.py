"""Traced ``lake_etl`` runs of source trees, with the write job of every
lake and warehouse write taken from the Spark event log.

    python scripts/trace_write_jobs.py --seed 106 --out <artifact.json> \
        parent=<tree> change=<tree>

For each ``name=tree`` it runs, strictly one after the other,

    python3 perfbench/run.py --workload lake_etl --seed <s> --seconds 10 --trace 1

from the root of the tree, then reads the run's event log
(``.bench_work/run/eventlog``) and lake/warehouse. Per tree the
artifact holds:

- ``metrics``: the traced per-layer metrics of the timed passes that
  follow the write path (tasks, task seconds, files and bytes written);
- ``writes``: per write target (the path under ``.bench_work/run``, with
  version directories as ``v*``), over the whole run: how many writes,
  and how many of their write jobs ran each number of tasks
  (``{"1": 12}`` = twelve write jobs of one task);
- ``files_at_end``: parquet files in ``lake/localid`` and in each
  warehouse table's current version when the run ended.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable  # noqa: E402

METRICS = (
    "exec.jobs", "exec.tasks", "exec.task_s", "sources.lake.files_written",
    "sources.lake.bytes_written", "operators.table_store.bytes_rewritten",
    "lake_etl.written_bytes_per_input_byte", "plans.pipelines.transform_and_load_s",
    "operators.table_store.merge_s", "lake_etl.cycle_max_s", "trace.wall_s",
)
_TARGET = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: file:(\S+?),", re.S)


def _events(log_dir: str):
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith("events_"):
                with open(os.path.join(d, name)) as fh:
                    for line in fh:
                        try:
                            yield json.loads(line)
                        except ValueError:
                            pass


def write_jobs(run_dir: str) -> dict:
    """Per write target: writes and the task counts of their write jobs
    (the last job of each write's SQL execution)."""
    target_of, jobs_of, job_of_stage, tasks = {}, defaultdict(list), {}, Counter()
    for ev in _events(os.path.join(run_dir, "eventlog")):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            m = _TARGET.search(ev.get("physicalPlanDescription", ""))
            if m:
                rel = os.path.relpath(m.group(1), run_dir)
                target_of[ev["executionId"]] = re.sub(r"/v\d+", "/v*", rel)
        elif kind == "SparkListenerJobStart":
            exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                jobs_of[int(exec_id)].append(ev["Job ID"])
                for s in ev.get("Stage IDs", []):
                    job_of_stage[s] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            tasks[job_of_stage.get(ev["Stage ID"])] += 1
    out = defaultdict(lambda: {"writes": 0, "write_job_tasks": Counter()})
    for exec_id, target in target_of.items():
        out[target]["writes"] += 1
        out[target]["write_job_tasks"][str(tasks[max(jobs_of[exec_id])])] += 1
    return {t: {"writes": v["writes"], "write_job_tasks": dict(sorted(v["write_job_tasks"].items()))}
            for t, v in sorted(out.items())}


def files_at_end(run_dir: str) -> dict:
    def n_parquet(d):
        return sum(f.endswith(".parquet") for f in os.listdir(d)) if os.path.isdir(d) else 0

    out = {"lake/localid": n_parquet(os.path.join(run_dir, "lake", "localid"))}
    for table in ("meteor_proc", "loc_proc"):
        # current_version_dir reads only the commit log: no session needed
        table_dir = os.path.join(run_dir, "warehouse", table)
        cur = VersionedParquetTable(None, table_dir).current_version_dir()
        out[f"warehouse/{table} current version"] = n_parquet(cur) if cur else 0
    return out


def trace_tree(tree: str, seed: int) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = ["python3", "perfbench/run.py", "--workload", "lake_etl", "--seed", str(seed),
           "--seconds", "10", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True, timeout=1800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{tree}: exit {proc.returncode}: {proc.stderr.strip()[-300:]}")
    result = json.loads(lines[-1])
    run_dir = os.path.join(os.path.abspath(tree), ".bench_work", "run")
    return {
        "correct": result["correct"],
        "failed": result["failed"],
        "metrics": {k: result["metrics"][k]["value"] for k in METRICS},
        "writes": write_jobs(run_dir),
        "files_at_end": files_at_end(run_dir),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=106)
    ap.add_argument("--out", required=True)
    ap.add_argument("trees", nargs="+", help="name=tree")
    args = ap.parse_args()
    out = {"workload": "lake_etl", "seed": args.seed, "runs": {}}
    for spec in args.trees:
        name, _, tree = spec.partition("=")
        out["runs"][name] = trace_tree(tree, args.seed)
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
        print(name, json.dumps(out["runs"][name]), flush=True)


if __name__ == "__main__":
    main()
