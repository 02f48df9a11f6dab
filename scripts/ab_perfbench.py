"""Alternating A/B of two source trees on perfbench, end-to-end metrics.

    python scripts/ab_perfbench.py --base <tree> --change <tree> \
        --out <artifact.json> lake_etl=112-121 corpus_curation=112-114

For every seed of every ``workload=seeds`` spec (``a-b`` ranges and
comma lists) it runs

    python3 perfbench/run.py --workload <w> --seed <s> --seconds 10 --trace 0

once from the root of each tree. Runs are strictly sequential, never
two at a time, and the tree that goes first alternates from one seed to
the next (the base tree first on the first seed). A tree is any source
checkout, e.g. ``git archive`` of the parent commit unpacked into a
scratch directory, and the working tree.

The artifact has the shape of ``scripts/ab_worker_shim.json`` (one
record per run, in the order run, with the run's box-health labels
and its wall-clock figures: ``wall_s`` and ``op_p50_s``, and for
``lake_etl`` the slowest cycle ``cycle_max_s``) plus a ``summary``: per
workload and metric, each side's median and quartiles and the change's
wins over the pairs. It is rewritten after
every run, so an interrupted A/B keeps its finished pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("setup_s", "pass_cpu_s", "op_cpu_p50_s", "peak_rss_mb")
# wall-clock figures from the run's details line, summarized beside the
# end-to-end metrics: a CPU-second metric cannot show lost parallelism
WALL = ("wall_s", "op_p50_s", "cycle_max_s")
SECONDS = 10
RUN_TIMEOUT_S = 1800


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(tree: str, workload: str, seed: int) -> dict:
    """One perfbench run from ``tree``: its result and labels, flattened."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        "python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(SECONDS), "--trace", "0",
    ]
    proc = subprocess.run(
        cmd, cwd=tree, env=env, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-300:]}"}
    details, result = json.loads(lines[-2]), json.loads(lines[-1])
    out = {"failed": result["failed"], "attempted": result["attempted"]}
    out.update({k: round(m["value"], 3) for k, m in result["metrics"].items()})
    for label in ("cpu_spin_ms", "loadavg_1m_start", "timed_steal_s"):
        if label in details:
            out[label] = round(details[label], 2)
    wall = {**details, **{k.split(".")[-1]: v for k, v in details.get("lake", {}).items()}}
    out.update({k: round(wall[k], 3) for k in WALL if k in wall})
    return out


def quartiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"median": xs[0] if xs else None}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"q1": round(q1, 3), "median": round(q2, 3), "q3": round(q3, 3)}


def summarize(runs: list[dict], base: str, change: str) -> dict:
    """Per workload and metric: both sides' quartiles and the change's
    wins (lower is better for every end-to-end metric) over the pairs."""
    summary: dict = {}
    for workload in dict.fromkeys(r["workload"] for r in runs):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == workload and "error" not in r:
                pairs.setdefault(r["seed"], {})[r["variant"]] = r
        pairs = {s: p for s, p in pairs.items() if len(p) == 2}
        per_metric = {}
        for m in METRICS + WALL:
            if not all(m in p[v] for p in pairs.values() for v in (base, change)):
                continue
            a = [p[base][m] for p in pairs.values()]
            b = [p[change][m] for p in pairs.values()]
            per_metric[m] = {
                base: quartiles(a),
                change: quartiles(b),
                "change_wins": sum(y < x for x, y in zip(a, b)),
            }
        summary[workload] = {
            "pairs": len(pairs),
            "failed": {v: sum(p[v]["failed"] for p in pairs.values()) for v in (base, change)},
            **per_metric,
        }
    return summary


def host() -> str:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return f"{os.cpu_count()} vCPU, {mem_kb // 2**20} GB RAM, local[{os.cpu_count()}]"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="source tree of the parent (variant 'parent')")
    ap.add_argument("--change", required=True, help="source tree of the change (variant 'change')")
    ap.add_argument("--what", default="parent vs change", help="one line on what is compared")
    ap.add_argument("--out", required=True)
    ap.add_argument("specs", nargs="+", help="workload=seeds, e.g. lake_etl=112-121")
    args = ap.parse_args(argv)

    trees = {"parent": args.base, "change": args.change}
    artifact = {
        "what": f"{args.what}; one run per tree per seed, order alternating per seed",
        "command": "python3 perfbench/run.py --workload <workload> --seed <seed> "
        f"--seconds {SECONDS} --trace 0  (from the root of each tree)",
        "host": host(),
        "runs": [],
    }
    i = 0
    for spec in args.specs:
        workload, _, seeds = spec.partition("=")
        for seed in parse_seeds(seeds):
            order = list(trees) if i % 2 == 0 else list(trees)[::-1]
            i += 1
            for variant in order:
                rec = {"variant": variant, "workload": workload, "seed": seed}
                rec.update(run_once(trees[variant], workload, seed))
                artifact["runs"].append(rec)
                artifact["summary"] = summarize(artifact["runs"], *trees)
                with open(args.out, "w") as fh:
                    json.dump(artifact, fh, indent=1)
                print(json.dumps(rec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
