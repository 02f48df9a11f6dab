"""Module layout gate: query and test modules are named by operator
family, not by round, the layers beneath the query plans (operators,
sources, streaming, functions) never import them, and no module keeps
a memo dict of its own: cross-query reuse goes through
plans/session_cache.py."""

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

# The module-level dicts that may fill at run time: the query registry,
# the one session memo, and the fixture-schema memo (a pure function of
# a file and the read confs).
MODULE_DICTS = {
    "registry.QUERIES",
    "registry.ORACLES",
    "session_cache._CACHES",
    "fixtures._SCHEMAS",
}
LAYERS = ("plans", "operators", "sources", "streaming", "functions")


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
        for layer in LAYERS[1:]
        for p in (PKG / layer).rglob("*.py")
        for m in _imported_modules(ast.parse(p.read_text()))
        if m == PLANS or m.startswith(PLANS + ".")
    ]
    assert upward == []


def _module_dicts(tree: ast.Module) -> list[str]:
    """Names bound at module level to an empty ``{}`` or a ``dict(...)``."""
    out = []
    for node in tree.body:
        value = node.value if isinstance(node, (ast.Assign, ast.AnnAssign)) else None
        empty = isinstance(value, ast.Dict) and not value.keys
        call = isinstance(value, ast.Call) and getattr(value.func, "id", None) == "dict"
        if empty or call:
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [ast.unparse(t) for t in targets]
    return out


def test_no_module_level_memo_outside_the_session_cache():
    memos = [
        f"{p.stem}.{name}"
        for layer in LAYERS
        for p in (PKG / layer).rglob("*.py")
        for name in _module_dicts(ast.parse(p.read_text()))
    ]
    assert sorted(set(memos) - MODULE_DICTS) == []
