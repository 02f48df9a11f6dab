"""Per-key A/B of the three forms of a sharing pin.

    python scripts/ab_sharing_pin.py --out <artifact.json> [--reps 5] \
        --sf-dir <testdata>/sf0.1 <query> [<query> ...]

A sharing pin bounds the lineage of a sub-plan that several consumers
of one query read. The engine writes it as ``localCheckpoint(eager=False)``;
under AQE that starts the shuffle stages beneath it while the query is
built. The script times each query under three forms of every such
call, in one session:

- ``checkpoint``: ``localCheckpoint(eager=False)``, as the engine does;
- ``persist``: a lazy ``persist()`` instead, released after the action;
- ``none``: no pin; every consumer recomputes the sub-plan.

Eager checkpoints (``eager=True``) are left as they are. Each rep runs
every query under every form, the form order rotating from rep to rep,
with the session caches cleared before each run. A run builds the
query and collects it; it records wall seconds, process-tree CPU
seconds (``perfbench/proctree.py``) and an md5 of the sorted rows, so
the forms are checked to return the same rows. The ``summary`` gives
per query and form the median CPU and wall seconds, the sums over the
queries, and on how many queries each form cost more CPU than
``checkpoint``. The artifact is rewritten after every rep.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame  # noqa: E402

from perfbench.proctree import tree_cpu_seconds  # noqa: E402
from tp_integ_data_pipeline_spark import plans  # noqa: E402
from tp_integ_data_pipeline_spark.plans import session_cache  # noqa: E402
from tp_integ_data_pipeline_spark.session import get_session  # noqa: E402

FORMS = ("checkpoint", "persist", "none")
_local_checkpoint = DataFrame.localCheckpoint


def pinned_with(form: str, persisted: list[DataFrame]):
    """A ``DataFrame.localCheckpoint`` replacement for ``form``."""

    def pin(self, eager: bool = True, storageLevel=None):
        if eager or form == "checkpoint":
            return _local_checkpoint(self, eager, storageLevel)
        if form == "none":
            return self
        persisted.append(self.persist())
        return self

    return pin


def run_once(spark, name: str, sf_dir: str, form: str) -> dict:
    persisted: list[DataFrame] = []
    session_cache._CACHES.clear()
    gc.collect()
    DataFrame.localCheckpoint = pinned_with(form, persisted)
    try:
        cpu0 = tree_cpu_seconds(os.getpid())[0]
        t0 = time.perf_counter()
        rows = plans.QUERIES[name](spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_seconds(os.getpid())[0] - cpu0
    finally:
        DataFrame.localCheckpoint = _local_checkpoint
        for df in persisted:
            df.unpersist()
    digest = hashlib.md5(repr(sorted(map(repr, rows))).encode()).hexdigest()
    return {"wall_s": round(wall, 3), "cpu_s": round(cpu, 2), "rows_md5": digest}


def summarize(runs: list[dict], names: list[str]) -> dict:
    med = {
        (n, f, m): statistics.median(
            r[m] for r in runs if r["query"] == n and r["form"] == f
        )
        for n in names for f in FORMS for m in ("cpu_s", "wall_s")
    }
    return {
        "per_query": {
            n: {f: {m: round(med[n, f, m], 2) for m in ("cpu_s", "wall_s")} for f in FORMS}
            for n in names
        },
        "sum_cpu_s": {f: round(sum(med[n, f, "cpu_s"] for n in names), 1) for f in FORMS},
        "sum_wall_s": {f: round(sum(med[n, f, "wall_s"] for n in names), 1) for f in FORMS},
        "more_cpu_than_checkpoint": {
            f: sum(1 for n in names if med[n, f, "cpu_s"] > med[n, "checkpoint", "cpu_s"])
            for f in FORMS[1:]
        },
        "same_rows": all(
            len({r["rows_md5"] for r in runs if r["query"] == n}) == 1 for n in names
        ),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf-dir", required=True, help="fixture dir, e.g. <testdata>/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    spark = get_session("ab-sharing-pin")
    spark.sparkContext.setLogLevel("ERROR")
    plans.QUERIES["q01_pricing_summary"](spark, args.sf_dir).collect()  # warm-up
    record = {
        "sf_dir": args.sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "forms": FORMS,
        "queries": args.queries,
        "runs": [],
    }
    for rep in range(args.reps):
        order = FORMS[rep % 3:] + FORMS[:rep % 3]
        load = os.getloadavg()[0]
        for name in args.queries:
            for form in order:
                run = run_once(spark, name, args.sf_dir, form)
                record["runs"].append(
                    {"rep": rep, "query": name, "form": form, "loadavg_1m": load, **run}
                )
        record["summary"] = summarize(record["runs"], args.queries)
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
            fh.write("\n")
        print(json.dumps({"rep": rep, "sum_cpu_s": record["summary"]["sum_cpu_s"]}), flush=True)
    print(json.dumps({k: v for k, v in record["summary"].items() if k != "per_query"}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
