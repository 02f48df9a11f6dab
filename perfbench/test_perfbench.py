"""Self-tests for the benchmark harness (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_and_workload_names(spec):
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("higher", "lower")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= spec["end_to_end"][0].items()
    assert sorted(names[: len(spec["workloads"])]) == sorted(workloads.WORKLOADS)


def test_per_layer_metrics_match_what_a_traced_run_reports(spec):
    tracer = tracing.Tracer()
    reported = set(tracing.layer_metrics(tracer, [], {}, 1.0, 4))
    reported |= set(workloads.lake_layer_metrics(None, {}, 1.0))
    reported |= {"session.start_s", "session.warmup_s", "jvm.jit_cpu_s", "trace.wall_s"}
    assert reported == {m["name"] for m in spec["per_layer"]}


def test_result_line_schema(spec):
    units = run._units()
    values = {m["name"]: 1.5 for m in spec["end_to_end"]}
    line = json.loads(json.dumps(run.result_line(0, 7, values, units)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 7 and line["failed"] == 0
    for name, m in line["metrics"].items():
        assert m == {"value": 1.5, "unit": units[name]}
    assert run.result_line(2, 7, values, units)["correct"] is False


def test_self_time_on_hand_built_tree():
    # root [0, 10] has children a [1, 4] and b [3, 6] (overlapping, so
    # they cover [1, 6] = 5), and a has child c [2, 3].
    spans = [
        ["root", 0.0, 10.0, None, 0],
        ["a", 1.0, 4.0, 0, 0],
        ["b", 3.0, 6.0, 0, 0],
        ["c", 2.0, 3.0, 1, 0],
    ]
    assert tracing.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])
    assert tracing.outermost_total(spans, lambda n: n in ("a", "c")) == pytest.approx(3.0)
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail([1.0, 2.0]) == (0.0, 2.0, 2)
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    pct, value, n = run.tail(xs)
    assert n == 20 and value == 10.0 and sum(x > value for x in xs) == 10 and pct == 50.0


def test_tree_cpu_counts_live_and_reaped_children():
    import subprocess
    import time

    burn = [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ninput()"]
    before, jit = proctree.tree_cpu_seconds(os.getpid())
    child = subprocess.Popen(burn, stdin=subprocess.PIPE)
    deadline = time.monotonic() + 30
    while proctree.tree_cpu_seconds(os.getpid())[0] - before < 0.25:  # the live child's time
        assert time.monotonic() < deadline
        time.sleep(0.02)
    child.communicate(b"\n")  # reaped: its time moves into this process's cutime
    assert proctree.tree_cpu_seconds(os.getpid())[0] - before >= 0.3
    assert jit == 0.0


def test_generator_is_seeded(tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    gen.write_star_corpus(str(a), seed=5, sf=0.001)
    gen.write_star_corpus(str(b), seed=5, sf=0.001)
    gen.write_star_corpus(str(c), seed=6, sf=0.001)
    import pyarrow.parquet as pq

    for name in os.listdir(a):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name
        assert pq.read_schema(a / name) == pq.read_schema(c / name), name
    assert (a / "lineitem.parquet").read_bytes() != (c / "lineitem.parquet").read_bytes()
    assert (a / "documents.parquet").read_bytes() != (c / "documents.parquet").read_bytes()


def test_star_tables_keep_foreign_keys():
    t = gen.star_corpus_tables(seed=9, sf=0.001)
    orders = set(t["orders"]["o_orderkey"].to_pylist())
    assert set(t["lineitem"]["l_orderkey"].to_pylist()) <= orders
    assert set(t["orders"]["o_custkey"].to_pylist()) <= set(t["customer"]["c_custkey"].to_pylist())
    assert set(t["lineitem"]["l_partkey"].to_pylist()) <= set(t["part"]["p_partkey"].to_pylist())


def test_lake_landing_is_seeded_and_redelivers(tmp_path):
    a = gen.lake_landing(seed=3, cycles=4, polls_per_cycle=8)
    b = gen.lake_landing(seed=3, cycles=4, polls_per_cycle=8)
    assert all(x[0].equals(y[0]) and x[1].equals(y[1]) for x, y in zip(a, b))
    times = [t for w, _ in a for t in w["time"].to_pylist()]
    assert len(set(times)) == 4 * 8 < len(times)  # re-deliveries repeat earlier polls
    assert not gen.lake_landing(seed=4, cycles=4, polls_per_cycle=8)[1][0].equals(a[1][0])


def test_expected_warehouse_first_delivery_wins(tmp_path):
    landing = gen.lake_landing(seed=1, cycles=3, polls_per_cycle=8)
    paths = {}
    for c, (w, loc) in enumerate(landing):
        for kind, table in (("weather", w), ("localities", loc)):
            paths.setdefault(kind, []).append(str(tmp_path / f"{kind}_{c}.parquet"))
            gen._write(table, paths[kind][-1])
    meteor, locs = workloads.expected_warehouse(paths["weather"], paths["localities"], dt.date(2024, 3, 3))
    assert len(meteor) == 3 * 8 and not meteor.duplicated(["date", "time"]).any()
    assert set(meteor["winddir_cardinal_10m"]) <= {"N", "NO", "W", "SE", "S", "SO", "E", "NE"}
    assert len(locs) == locs["id"].nunique() and "None" not in set(locs["admin1"].dropna())
    first = landing[0][1].to_pylist()[0]
    assert locs.set_index("id").loc[first["id"], "population"] == pytest.approx(first["population"], nan_ok=True)


def test_frames_match_is_order_insensitive():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": ["x", None]})
    assert workloads.frames_match(a, a.iloc[::-1][["v", "k"]]) is None
    assert workloads.frames_match(a, a.assign(v=["x", "y"])) is not None
