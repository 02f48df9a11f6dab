"""Module layout gate: query and test modules are named by operator
family, not by round, and the layers beneath the query plans
(operators, sources, streaming, functions) never import them."""

from __future__ import annotations

import ast
import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent
PKG = TESTS.parent / "tp_integ_data_pipeline_spark"
PLANS = "tp_integ_data_pipeline_spark.plans"

# Round-named test modules that predate the family layout. Each keeps its
# tests' module-qualified ids until its tests move to their family's test
# module; the list may only shrink.
LEGACY_ROUND_TESTS = {
    "test_round5_ops",
    "test_round6_ops",
    "test_round7_ops",
    "test_round9_ops",
    "test_round10_ops",
    "test_round11_ops",
    "test_round12_ops",
    "test_round13_ops",
    "test_round14_ops",
    "test_round15_opt",
    "test_round16_opt",
}


def _imported_modules(tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            out += [node.module] + [f"{node.module}.{a.name}" for a in node.names]
    return out


def test_modules_named_by_family_and_layered():
    round_named = [
        p.relative_to(TESTS.parent).as_posix()
        for p in [*(PKG / "plans").rglob("*.py"), *TESTS.glob("*.py")]
        if re.search(r"round\d+", p.stem) and p.stem not in LEGACY_ROUND_TESTS
    ]
    assert round_named == []

    upward = [
        f"{p.relative_to(PKG).as_posix()} imports {m}"
        for layer in ("operators", "sources", "streaming", "functions")
        for p in (PKG / layer).rglob("*.py")
        for m in _imported_modules(ast.parse(p.read_text()))
        if m == PLANS or m.startswith(PLANS + ".")
    ]
    assert upward == []
