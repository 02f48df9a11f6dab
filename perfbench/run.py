"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine runs on local[nproc] in
this process. Protocol, all inside the checkout's ``.bench_work/``:

1. generate the seeded inputs (cached per workload, seed and generator
   version; outside every metric);
2. set-up: import the engine, ``get_session``, then one warm-up pass
   of the workload's operations, which is also the correctness pass;
3. the timed section: repeat the operation list for ``--seconds``, one
   operation at a time, and never fewer than the workload's minimum
   number of passes;
4. untimed end-state checks, then the session stops.

The last stdout line is the result object; the line before it holds
the run labels and the raw per-operation samples. ``--trace 1`` wraps
the engine's public functions and reports per-layer metrics instead
of end-to-end ones (see README.md).
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "tp_integ_data_pipeline_spark"
# one heap size on every host (the engine's 16g default does not fit a
# 15 GB host without swap); 2 GB fits both workloads
DRIVER_MEM_MB = 2048


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_spin_ms() -> float:
    """A fixed pure-Python loop: labels runs on a slow or throttled core."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def steal_seconds() -> float:
    """Time the hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def stop_jvm() -> None:
    """End the driver JVM and wait for it: PySpark keeps it alive after
    ``spark.stop()``; it exits once its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired: do not leave it behind
            proc.kill()
            proc.wait()


def source_revision(root: str) -> str:
    try:
        with open(os.path.join(root, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(root, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return "unknown"


def configure_env(work: str, run_dir: str, cpus: int, trace_dir: str | None) -> str:
    """Everything the engine and the JVM write goes under the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # AlwaysPreTouch maps the whole heap at start, so peak RSS does not
    # depend on how far G1 had spread into it when the run ended; a fixed
    # set of JIT compiler threads keeps their time countable (proctree.py)
    java_opts = (
        f"-Xms{DRIVER_MEM_MB}m -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
        f" -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    )
    submit = [f"--driver-java-options '{java_opts}'", "--conf spark.ui.showConsoleProgress=false"]
    if trace_dir:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_MB}m",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
            # every JVM (the spark-submit launcher too) would otherwise
            # write its perf counters under /tmp/hsperfdata_<user>
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    return f"{DRIVER_MEM_MB}m"


def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pass_and_op_median(workload: str, kinds: list[str], samples: dict[str, list[float]]):
    """One pass of the operation list (the sum over operations of their
    median) and the median operation: the median cycle on ``lake_etl``,
    the median of the per-query medians on the query workloads."""
    per_pass = sum(median_or_zero(samples[k]) for k in kinds)
    if workload == "lake_etl":
        return per_pass, median_or_zero(samples["cycle"])
    return per_pass, median_or_zero([median_or_zero(samples[k]) for k in dict.fromkeys(kinds)])


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it (0 when
    fewer than eleven samples), its value, and the sample count."""
    n = len(xs)
    if n < 11:
        return 0.0, max(xs, default=0.0), n
    xs = sorted(xs)
    k = n - 11  # ten samples lie above index k
    return 100.0 * (k + 1) / n, xs[k], n


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package in {root}: run from the root of a source checkout")
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, root)
    import workloads
    from proctree import tree_cpu_seconds

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}")
        return 2

    work = os.path.join(root, ".bench_work")
    os.makedirs(work, exist_ok=True)
    lock = open(os.path.join(work, "run.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        log("another benchmark run holds .bench_work/run.lock; runs must not overlap")
        return 3

    labels = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "loadavg_1m_start": os.getloadavg()[0],
        "cpu_spin_ms": cpu_spin_ms(),
        "nproc": len(os.sched_getaffinity(0)),
        "source_revision": source_revision(root),
    }
    cpus = labels["nproc"]
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    labels["driver_memory"] = configure_env(work, run_dir, cpus, trace_dir)

    t0 = time.perf_counter()
    inputs = workloads.prepare_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
    labels["generate_s"] = time.perf_counter() - t0

    # ---- set-up: engine import + session + warm-up pass -----------------
    t_setup = time.perf_counter()
    import pyspark

    from tp_integ_data_pipeline_spark.session import get_session

    spark = get_session("perfbench", cpus=cpus)
    session_start_s = time.perf_counter() - t_setup
    labels["spark_version"] = pyspark.__version__
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    tracer = progress = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer()
        tr.install(tracer)
        progress = tr.add_streaming_listener(spark, tracer)

    wl = workloads.build(args.workload, spark, inputs, run_dir)
    wl.tracer = tracer
    warmup_s, attempted, failed = wl.warmup(log)
    setup_s = session_start_s + warmup_s

    # ---- timed section ---------------------------------------------------
    samples: dict[str, list[float]] = {name: [] for name, _ in wl.ops}
    cpu_samples: dict[str, list[float]] = {name: [] for name, _ in wl.ops}
    jit_s = 0.0
    me = os.getpid()
    op_log: list[tuple[str, float, float]] = []
    n_ops = len(wl.ops)
    i = 0
    wl.start_timing()
    if tracer:
        tracer.active = True
    (cpu0, jit0), steal0 = tree_cpu_seconds(me), steal_seconds()
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    while True:
        name, op = wl.ops[i % n_ops]
        # after the workload's minimum passes, start an operation only if
        # it is expected to end before the deadline
        if i >= n_ops * wl.min_passes and time.perf_counter() + median_or_zero(samples[name]) > deadline:
            break
        if wl.exhausted():
            log("landing files used up before the time ran out")
            break
        if i % n_ops == 0:
            wl.start_pass()
        if tracer:
            tracer.op_id = i
            span = tracer.begin(f"op.{name}")
        w0 = time.time()
        c0, j0 = tree_cpu_seconds(me)
        try:
            samples[name].append(op())
            c1, j1 = tree_cpu_seconds(me)
            cpu_samples[name].append((c1 - j1) - (c0 - j0))
            jit_s += j1 - j0
        except Exception as e:  # noqa: BLE001 - an engine error is a failed op
            failed += 1
            log(f"FAIL op {name}: {type(e).__name__}: {str(e)[:300]}")
        op_log.append((name, w0, time.time()))
        if tracer:
            tracer.end(span)
        i += 1
        attempted += 1
        t0 = time.perf_counter()  # untimed: checks and write accounting
        checks, bad = wl.check(log)
        attempted += checks
        failed += bad
        wl.after_op()
        deadline += time.perf_counter() - t0
    timed_s = time.perf_counter() - t_start
    cpu1, jit1 = tree_cpu_seconds(me)
    timed_cpu_s, timed_jit_s = cpu1 - cpu0, jit1 - jit0
    timed_steal_s = steal_seconds() - steal0
    if tracer:
        time.sleep(0.5)  # let the last streaming progress events arrive
        tracer.active = False

    end_checks, end_failed = wl.finish(log)
    attempted += end_checks
    failed += end_failed
    passes = i / n_ops

    # ---- end-to-end metrics ----------------------------------------------
    kinds = [name for name, _ in wl.ops]
    wall_s, op_p50_s = pass_and_op_median(args.workload, kinds, samples)
    pass_cpu_s, op_cpu_p50_s = pass_and_op_median(args.workload, kinds, cpu_samples)
    if args.workload == "lake_etl":
        tail_pct, tail_s, tail_n = tail(samples["cycle"])
    else:
        tail_pct, tail_s, tail_n = tail([x for k in kinds for x in samples[k]])
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    details = {
        **labels,
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "timed_s": timed_s,
        "timed_cpu_s": timed_cpu_s,
        "timed_jit_cpu_s": timed_jit_s,
        "timed_steal_s": timed_steal_s,
        "passes": passes,
        "wall_s": wall_s,
        "op_p50_s": op_p50_s,
        "op_tail": {"percentile": tail_pct, "value_s": tail_s, "n": tail_n},
        "samples_s": samples,
        "cpu_samples_s": cpu_samples,
    }
    lake = workloads.lake_layer_metrics(wl if args.workload == "lake_etl" else None, samples, passes)
    if args.workload == "lake_etl":
        details["lake"] = lake
    spark.stop()  # flushes the event log
    stop_jvm()

    layer = None
    if tracer:
        build_windows = [(sp[1], sp[2]) for sp in tracer.spans if sp[0] == "plans.build" and sp[2]]
        execm = tr.exec_metrics(tr.read_event_log(trace_dir), op_log, build_windows)
        layer = tr.layer_metrics(tracer, progress, execm, passes, cpus)
        layer.update(lake)
        layer["session.start_s"] = session_start_s
        layer["session.warmup_s"] = warmup_s
        layer["trace.wall_s"] = wall_s
        layer["jvm.jit_cpu_s"] = jit_s / passes
        out_dir = os.path.join(work, "out")
        os.makedirs(out_dir, exist_ok=True)
        tr.write_spans(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), tracer)

    if layer is None:
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": pass_cpu_s,
            "op_cpu_p50_s": op_cpu_p50_s,
            "peak_rss_mb": peak_rss_mb,
        }
    else:
        values = layer
    print(json.dumps(details))
    print(json.dumps(result_line(failed, attempted, values, _units())))
    return 0


def result_line(failed: int, attempted: int, values: dict[str, float], units: dict[str, str]) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def _units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
