"""Wall time of a warehouse merge into a mid-size table, per source tree.

    python scripts/time_mid_merge.py --out <artifact.json> --reps 3 \
        parent=<tree> change=<tree>

The perfbench tables are kB-sized, so they cannot show what a write's
file count does to the parallelism of a table in the tens of MB. For
each rep, and each ``name=tree`` in turn (the tree that goes first
alternates from one rep to the next), a fresh process imports the
engine from ``tree``, opens ``get_session`` (``local[4]``), writes a
``VersionedParquetTable`` of ``--rows`` rows with ``overwrite``, then
times ``--merges`` ``merge_insert_if_absent`` calls of 2000 rows (half
of them new) and reads the result back. The artifact holds, per run, the
table's bytes on disk, the data files in its current version after the
last merge, and the wall seconds of each merge and of a full scan
(``count`` of ``read()``); plus per tree the median merge and scan
seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time


def child(rows: int, merges: int) -> dict:
    from pyspark.sql import functions as F

    from tp_integ_data_pipeline_spark.operators.table_store import VersionedParquetTable
    from tp_integ_data_pipeline_spark.session import get_session

    spark = get_session("time_mid_merge", cpus=4)
    with tempfile.TemporaryDirectory() as root:
        table = VersionedParquetTable(spark, os.path.join(root, "t"))

        def frame(lo: int, hi: int):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
                (F.col("id") % 97).alias("grp"),
            )

        table.overwrite(frame(0, rows))
        merge_s = []
        for i in range(merges):
            lo = rows + i * 1000 - 1000  # 1000 already present, 1000 new
            t0 = time.perf_counter()
            table.merge_insert_if_absent(frame(lo, lo + 2000), ["k"])
            merge_s.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        n = table.read().count()
        scan_s = round(time.perf_counter() - t0, 3)
        cur = table.current_version_dir()
        files = [f for f in os.listdir(cur) if f.endswith(".parquet")]
        size = sum(os.path.getsize(os.path.join(cur, f)) for f in files)
    spark.stop()
    return {"rows": n, "bytes": size, "files": len(files), "merge_s": merge_s, "scan_s": scan_s}


def run_once(tree: str, rows: int, merges: int) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = tree
    cmd = [sys.executable, os.path.abspath(__file__), "--child", str(rows), str(merges)]
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True, timeout=1800)
    if proc.returncode != 0:
        return {"error": proc.stderr.strip()[-300:]}
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        print(json.dumps(child(int(sys.argv[2]), int(sys.argv[3]))))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--rows", type=int, default=600_000)
    ap.add_argument("--merges", type=int, default=3)
    ap.add_argument("trees", nargs="+", help="name=tree")
    args = ap.parse_args()
    trees = [t.split("=", 1) for t in args.trees]
    runs = []
    for rep in range(args.reps):
        order = trees if rep % 2 == 0 else trees[::-1]
        for name, tree in order:
            rec = {"tree": name, "rep": rep, **run_once(tree, args.rows, args.merges)}
            print(json.dumps(rec), flush=True)
            runs.append(rec)
    summary = {}
    for name, _ in trees:
        ok = [r for r in runs if r["tree"] == name and "error" not in r]
        if ok:
            summary[name] = {
                "merge_s_median": statistics.median(s for r in ok for s in r["merge_s"]),
                "scan_s_median": statistics.median(r["scan_s"] for r in ok),
                "files": sorted({r["files"] for r in ok}),
            }
    out = {
        "what": "merge_insert_if_absent wall time into a mid-size VersionedParquetTable",
        "command": f"python scripts/time_mid_merge.py --reps {args.reps} --rows {args.rows} "
        f"--merges {args.merges} " + " ".join(f"{name}=<tree>" for name, _ in trees),
        "host": f"{os.cpu_count()} vCPU, local[4]",
        "runs": runs,
        "summary": summary,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
