"""The correctness front: the FRONT_SIZE keys whose newest
committed grade is oldest come first in ``queries()``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tp_integ_data_pipeline_spark import plans  # noqa: E402


def test_front_is_the_stalest_graded_keys():
    names = entry._ordered_names()
    assert sorted(names) == sorted(plans.QUERIES)
    front, rest = names[: entry.FRONT_SIZE], names[entry.FRONT_SIZE :]
    assert len(front) == 50 and all(n in plans.QUERIES for n in front)
    last = entry._last_graded()
    assert last, "no CORRECTNESS_r*.json found next to __spark_entry__.py"
    newest_in_front = max(last.get(n, -1) for n in front)
    assert all(last.get(n, -1) >= newest_in_front for n in rest)


def test_front_falls_back_to_registry_order(monkeypatch, tmp_path):
    monkeypatch.setattr(entry, "_ROOT", str(tmp_path))
    assert entry._ordered_names() == list(plans.QUERIES)
