"""Traced perfbench runs of source trees, every per-layer metric side
by side.

    python scripts/trace_perfbench.py --workload corpus_curation --seed 301 \
        --out <artifact.json> parent=<tree> change=<tree>

For each ``name=tree`` it runs, strictly one after the other,

    python3 perfbench/run.py --workload <w> --seed <s> --seconds 10 --trace 1

from the root of the tree and keeps the run's correctness and its
per-layer metrics (per timed pass, as ``perfbench/tracing.py`` defines
them). ``scripts/trace_write_jobs.py`` is the ``lake_etl`` variant that
also reads each write job from the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess


def trace_tree(tree: str, workload: str, seed: int) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "10", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True, timeout=1800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{tree}: exit {proc.returncode}: {proc.stderr.strip()[-300:]}")
    result = json.loads(lines[-1])
    return {
        "correct": result["correct"],
        "failed": result["failed"],
        "attempted": result["attempted"],
        "metrics": {k: round(m["value"], 4) for k, m in result["metrics"].items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("trees", nargs="+", help="name=tree")
    args = ap.parse_args()
    out = {"workload": args.workload, "seed": args.seed, "runs": {}}
    for spec in args.trees:
        name, _, tree = spec.partition("=")
        out["runs"][name] = trace_tree(tree, args.workload, args.seed)
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
        print(name, json.dumps(out["runs"][name]), flush=True)


if __name__ == "__main__":
    main()
