"""Alternating A/B of registered queries between two source trees.

    python scripts/ab_tree_query.py --base <tree> --change <tree> \
        --out <artifact.json> [--reps 5] --sf-dir <testdata>/sf0.1 \
        [--conf key=value ...] <query> [<query> ...]

Each rep starts one fresh process per tree, strictly one at a time;
the tree that goes first alternates from rep to rep (the base tree
first on the first rep). A process opens ``session.get_session`` from
its tree, applies the ``--conf`` settings to the session, runs one
warm-up (``q01_pricing_summary``), then builds and executes each
query once into a noop sink through the tree's public
``plans.QUERIES`` entry, with the session caches cleared before each.
A tree is any source checkout, e.g. ``git archive`` of the parent
commit unpacked into a scratch directory, and the working tree.

Per query and run the artifact records the wall seconds of build plus
action (``wall_s``), of the build alone (``build_s``) and the
process-tree CPU seconds over both (``cpu_s``), with the run's
box-health label ``loadavg_1m_start``. Its ``summary`` gives each
side's median and quartiles per query and metric, and the change's
wins over the pairs. The artifact is rewritten after every run, so an
interrupted A/B keeps its finished pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("wall_s", "build_s", "cpu_s")
RUN_TIMEOUT_S = 1800


def run_queries(tree: str, sf_dir: str, confs: dict[str, str], names: list[str]) -> dict:
    """In this process: time ``names`` from ``tree``'s registry."""
    import gc
    import time

    sys.path.insert(0, os.path.abspath(tree))
    from perfbench.proctree import tree_cpu_seconds
    from tp_integ_data_pipeline_spark import plans
    from tp_integ_data_pipeline_spark.plans import session_cache
    from tp_integ_data_pipeline_spark.session import get_session

    spark = get_session("ab-tree")
    spark.sparkContext.setLogLevel("ERROR")
    for key, value in confs.items():
        spark.conf.set(key, value)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    noop(plans.QUERIES["q01_pricing_summary"](spark, sf_dir))
    out = {"loadavg_1m_start": os.getloadavg()[0], "per_query": {}}
    for name in names:
        session_cache._CACHES.clear()
        gc.collect()
        cpu0 = tree_cpu_seconds(os.getpid())[0]
        t0 = time.perf_counter()
        df = plans.QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        noop(df)
        t2 = time.perf_counter()
        out["per_query"][name] = {
            "wall_s": round(t2 - t0, 3),
            "build_s": round(t1 - t0, 3),
            "cpu_s": round(tree_cpu_seconds(os.getpid())[0] - cpu0, 2),
        }
    spark.stop()
    return out


def quartiles(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def summarize(runs: list[dict], names: list[str]) -> dict:
    summary = {}
    for name in names:
        per = {}
        for metric in METRICS:
            side = {
                s: [r["per_query"][name][metric] for r in runs if r["side"] == s]
                for s in ("base", "change")
            }
            if not side["base"] or not side["change"]:
                continue
            pairs = list(zip(side["base"], side["change"]))
            per[metric] = {
                "base": quartiles(side["base"]),
                "change": quartiles(side["change"]),
                "change_wins": sum(1 for b, c in pairs if c < b),
                "pairs": len(pairs),
            }
        summary[name] = per
    return summary


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base")
    ap.add_argument("--change")
    ap.add_argument("--out")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf-dir", required=True, help="fixture dir, e.g. <testdata>/sf0.1")
    ap.add_argument("--conf", action="append", default=[], help="session conf key=value")
    ap.add_argument("--one", help=argparse.SUPPRESS)  # child mode: the tree to time
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    confs = dict(c.split("=", 1) for c in args.conf)
    if args.one:
        print(json.dumps(run_queries(args.one, args.sf_dir, confs, args.queries)))
        return 0
    trees = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    record = {
        "queries": args.queries,
        "sf_dir": args.sf_dir,
        "confs": confs,
        "cpus": os.cpu_count(),
        "runs": [],
    }
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    for rep in range(args.reps):
        order = ("base", "change") if rep % 2 == 0 else ("change", "base")
        for side in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--one", trees[side],
                   "--sf-dir", args.sf_dir, *[f"--conf={c}" for c in args.conf],
                   *args.queries]
            proc = subprocess.run(
                cmd, cwd=trees[side], env=env, capture_output=True, text=True,
                timeout=RUN_TIMEOUT_S,
            )
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                return 1
            run = json.loads(proc.stdout.strip().splitlines()[-1])
            record["runs"].append({"rep": rep, "side": side, **run})
            record["summary"] = summarize(record["runs"], args.queries)
            with open(args.out, "w") as fh:
                json.dump(record, fh, indent=1)
                fh.write("\n")
            print(json.dumps({"rep": rep, "side": side, **run["per_query"]}), flush=True)
    print(json.dumps(record["summary"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
