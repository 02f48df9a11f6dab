"""Census of the Spark jobs each registered query starts while it is
being BUILT: the registry callable runs, nothing is collected.

    python scripts/build_jobs.py <testdata>/sf0.001 [--tree <checkout>] --out <file.json>

Each fixture table is loaded once first, so a key's count is its
steady-state cost, not the first read of a table in the process. Keys
are then built in registry order, one at a time; a key's count is the
number of jobs the application started while it was being built,
whatever their job group: the micro-batches of a streaming drain (run
under the stream's own group) and broadcast exchanges count too.
``--tree`` censuses another source checkout (e.g. the parent commit)
with this script.

The census also lists the session confs each build changed, which
should be none: a built query carries its execution choices in its
plan. The output is ``{"sf": ..., "keys": n, "keys_with_jobs": n,
"build_jobs": total, "conf_writes": {key: [conf]}, "per_key": {key:
jobs}}``. ``tests/test_build_jobs.py`` runs the same census as a Tier-1
gate against ``tests/build_job_budget.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jobs_started(spark, group: str, fn) -> int:
    """Run ``fn()`` under job group ``group``; return how many jobs the
    application started meanwhile, in any job group. The count is the
    change in the scheduler's job-id counter, which every submitted job
    advances synchronously, so nothing waits on the listener bus. Jobs
    of another thread running at the same time (a stream left running)
    would count too; the census builds one key at a time."""
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    before = scheduler.numTotalJobs()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return scheduler.numTotalJobs() - before


def census(spark, sf_dir: str) -> tuple[dict[str, int], dict[str, list[str]]]:
    """({key: jobs started while building it}, {key: session confs its
    build changed}) for every registered key, after one priming load of
    each fixture table. A build should write no conf; the confs one
    changed are restored before the next key is built, so every key is
    built on the same session settings."""
    from tp_integ_data_pipeline_spark import plans
    from tp_integ_data_pipeline_spark.sources.fixtures import FIXTURE_TABLES, load_table

    for name in FIXTURE_TABLES:
        load_table(spark, sf_dir, name)
    confs = spark.conf.getAll
    per_key, conf_writes = {}, {}
    for key, fn in list(plans.QUERIES.items()):
        per_key[key] = jobs_started(spark, f"build:{key}", lambda fn=fn: fn(spark, sf_dir))
        now = spark.conf.getAll
        changed = sorted(k for k in confs.keys() | now.keys() if confs.get(k) != now.get(k))
        if changed:
            conf_writes[key] = changed
            for k in changed:
                if k in confs:
                    spark.conf.set(k, confs[k])
                else:
                    spark.conf.unset(k)
    return per_key, conf_writes


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", help="fixture dir, e.g. <testdata>/sf0.001")
    ap.add_argument("--tree", default=REPO, help="source checkout to census")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.tree))
    from tp_integ_data_pipeline_spark.session import get_session

    spark = get_session("build-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    per_key, conf_writes = census(spark, args.sf_dir)
    record = {
        "sf": os.path.basename(os.path.normpath(args.sf_dir)).removeprefix("sf"),
        "keys": len(per_key),
        "keys_with_jobs": sum(1 for n in per_key.values() if n),
        "build_jobs": sum(per_key.values()),
        "conf_writes": conf_writes,
        "per_key": per_key,
    }
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in record.items() if k != "per_key"}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
