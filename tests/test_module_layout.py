"""Module layout gate: query and test modules are named by operator
family, not by round, the layers beneath the query plans (operators,
sources, streaming, functions) never import them, no package module
imports another's underscore-prefixed name, no module keeps
a memo dict of its own (cross-query reuse goes through
plans/session_cache.py), and every top-level definition in the package
is reached from a query, module-level code or an entry point."""

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


def test_no_private_import_across_modules():
    """A name that another package module imports is public: it carries
    no leading underscore."""
    private = [
        f"{p.relative_to(PKG).as_posix()} imports {node.module}.{a.name}"
        for p in PKG.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG.name)
        for a in node.names
        if a.name.startswith("_")
    ]
    assert private == []


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


# --------------------------------------------------------------------------
# Reachability: every top-level definition in the package has a caller.
# --------------------------------------------------------------------------
ROOT = TESTS.parent
# Code outside the package that reaches what it names (tests do not).
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "perfbench/*.py", "scripts/*.py")

# Definitions that no query, module-level code or entry file reaches,
# keyed "module.name". What an entry calls is covered by its reason.
# The list may only shrink.
TEST_ONLY = {
    "catalog.Catalog": "reference surface, PAPER.md: PgSql warehouse, main.py:328-454",
    "catalog.analyze_table": "reference surface, PAPER.md: PgSql warehouse, main.py:328-454",
    "catalog.jdbc_append": "reference surface, PAPER.md: PgSql warehouse, main.py:328-454",
    "catalog.jdbc_execute": "reference surface, PAPER.md: PgSql warehouse, main.py:328-454",
    "catalog.jdbc_scan": "reference surface, PAPER.md: PgSql warehouse, main.py:328-454",
    "config.EngineConfig": (
        "reference surface, PAPER.md: config.ini sections, main.py:164-166,338-345"
    ),
    "pipelines.run_extraction": "reference surface, PAPER.md: extraction driver, extrac_almac.py",
    "python_datasource.WeatherApiDataSource": (
        "reference surface, PAPER.md: Open-Meteo polling fetch, main.py:168-199"
    ),
    "dedup.cluster_sizes": (
        "library operator, seed test "
        "`tests/test_dedup_similarity.py::test_dup_clusters_chain_and_island`, "
        "no query calls it"
    ),
    "dedup_ingest.start_neardup_ingest": (
        "library operator, seed test "
        "`tests/test_dedup_ingest.py::test_start_neardup_ingest_streaming_wrapper`, "
        "no query calls it"
    ),
    "ivm.refresh_dirty_groups": (
        "library operator, seed test "
        "`tests/test_ivm.py::test_refresh_dirty_groups_minmax`, "
        "no query calls it"
    ),
    "multimodal.image_features": (
        "library operator, seed test "
        "`tests/test_text_multimodal.py::test_image_features_real_bmp_decode`, "
        "no query calls it"
    ),
    "observe.constrained_overwrite": (
        "library operator, seed test "
        "`tests/test_observe.py::test_constrained_overwrite_commits_clean_data`, "
        "no query calls it"
    ),
    "quality_audit.audit_schema": (
        "library operator, seed test "
        "`tests/test_round6_ops.py::test_audit_schema_contract`, "
        "no query calls it"
    ),
    "quantize.codes_to_array": (
        "library operator, seed test "
        "`tests/test_quantize.py::test_codes_to_array_order_and_degenerate_dim`, "
        "no query calls it"
    ),
    "quantize.dim_stats": (
        "library operator, seed test "
        "`tests/test_quantize.py::test_frozen_stats_apply_to_increment`, "
        "no query calls it"
    ),
    "search.inverted_index": (
        "library operator, seed test "
        "`tests/test_round5_ops.py::test_inverted_index_and_search`, "
        "no query calls it"
    ),
    "shards.read_shard": (
        "library operator, seed test "
        "`tests/test_shards.py::test_read_shard_prunes_partitions`, "
        "no query calls it"
    ),
    "shards.write_training_shards": (
        "library operator, seed test "
        "`tests/test_shards.py::test_shard_layout_and_sortedness`, "
        "no query calls it"
    ),
    "skew.salted_broadcast_left": (
        "library operator, seed test "
        "`tests/test_lake_and_merge.py::test_salted_broadcast_left_matches_plain_join`, "
        "no query calls it"
    ),
    "skew.skew_report": (
        "library operator, seed test "
        "`tests/test_round5_ops.py::test_skew_report_counts_and_shares`, "
        "no query calls it"
    ),
    "text.fingerprint": (
        "library operator, seed test "
        "`tests/test_text_multimodal.py::test_char_ngrams_and_fingerprint`, "
        "no query calls it"
    ),
    "text.lang_id": (
        "library operator, seed test "
        "`tests/test_text_multimodal.py::test_lang_id_deterministic_and_total`, "
        "no query calls it"
    ),
    "text.lang_profiles": (
        "library operator, seed test "
        "`tests/test_text_multimodal.py::test_lang_id_deterministic_and_total`, "
        "no query calls it"
    ),
    "text_formats.read_csv_quarantine": (
        "library operator, seed test "
        "`tests/test_text_formats.py::test_csv_quarantine_separates_malformed`, "
        "no query calls it"
    ),
    "text_formats.read_jsonl": (
        "library operator, seed test "
        "`tests/test_text_formats.py::test_jsonl_roundtrip_bit_exact`, "
        "no query calls it"
    ),
    "text_formats.write_jsonl": (
        "library operator, seed test "
        "`tests/test_text_formats.py::test_jsonl_roundtrip_bit_exact`, "
        "no query calls it"
    ),
}

_REASON = re.compile(
    r"reference surface, PAPER\.md: .+"
    r"|library operator, seed test `(?P<file>tests/\w+\.py)::(?P<test>\w+)`, no query calls it"
)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _statements(body: list[ast.stmt]):
    """Module-level statements, with the blocks of a module-level ``try``
    or ``if`` read as module level too (an ``if`` test runs at import)."""
    for node in body:
        if isinstance(node, (ast.Try, ast.If)):
            if isinstance(node, ast.If):
                yield ast.Expr(node.test)
            handlers = [h.body for h in getattr(node, "handlers", [])]
            for block in (node.body, node.orelse, getattr(node, "finalbody", []), *handlers):
                yield from _statements(block)
        else:
            yield node


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


class _Module:
    """One parsed file: its top-level definitions, the code that runs at
    import, and what each local name is bound to by an import."""

    def __init__(self, path: Path):
        parts = path.relative_to(ROOT).with_suffix("").parts
        self.name = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        self.tree = ast.parse(path.read_text())
        stmts = list(_statements(self.tree.body))
        self.defs = {n.name: n for n in stmts if isinstance(n, _DEFS)}
        self.code = [n for n in stmts if not isinstance(n, (*_DEFS, ast.Import, ast.ImportFrom))]
        self.bindings = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.partition(".")[0]
                    self.bindings[local] = a.name if a.asname else local
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    self.bindings[a.asname or a.name] = f"{node.module}.{a.name}"

    def names(self, node: ast.AST) -> set[str]:
        """Dotted targets of every name and attribute chain under ``node``;
        strings, docstrings and comments name nothing."""
        out = set()
        for n in ast.walk(node):
            dotted = _dotted(n) if isinstance(n, (ast.Name, ast.Attribute)) else None
            if dotted:
                head, _, rest = dotted.partition(".")
                target = self.bindings.get(head, f"{self.name}.{head}")
                out.add(f"{target}.{rest}" if rest else target)
        return out


def _reachability():
    """(fully dotted definition key -> "module.name", the keys each
    definition names, the keys the roots name). A name re-exported
    through an import resolves to the module that defines it."""
    pkg = {m.name: m for m in map(_Module, sorted(PKG.rglob("*.py")))}

    def resolve(target: str, depth: int = 0) -> str:
        mod, _, name = target.rpartition(".")
        if mod in pkg and name not in pkg[mod].defs and name in pkg[mod].bindings and depth < 8:
            return resolve(pkg[mod].bindings[name], depth + 1)
        return target

    labels, refs, roots = {}, {}, set()
    for m in pkg.values():
        for name, node in m.defs.items():
            key = f"{m.name}.{name}"
            labels[key] = f"{m.name.rpartition('.')[2]}.{name}"
            refs[key] = {resolve(t) for t in m.names(node)}
            decorators = [d.func for d in node.decorator_list if isinstance(d, ast.Call)]
            if any(_dotted(f) == "query" for f in decorators):
                roots.add(key)
        for stmt in m.code:
            roots |= {resolve(t) for t in m.names(stmt)}
    for pattern in ENTRY_FILES:
        for path in sorted(ROOT.glob(pattern)):
            if not path.name.startswith("test_"):
                m = _Module(path)
                roots |= {resolve(t) for t in m.names(m.tree)}
    return labels, refs, roots


def _closure(seeds: set[str], refs: dict[str, set[str]]) -> set[str]:
    seen, todo = set(), [s for s in seeds if s in refs]
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo += [t for t in refs[key] if t in refs]
    return seen


def test_every_definition_is_reached():
    labels, refs, roots = _reachability()
    by_label = {v: k for k, v in labels.items()}
    assert len(by_label) == len(labels), "module stems must be unique"
    reached = _closure(roots, refs)

    stale = [e for e in TEST_ONLY if e not in by_label or by_label[e] in reached]
    assert stale == [], "TEST_ONLY entries that are reached or gone"

    covered = reached | _closure({by_label[e] for e in TEST_ONLY}, refs)
    unreached = sorted(labels[k] for k in refs if k not in covered)
    assert unreached == [], "definitions nothing reaches: call them or delete them"

    for entry, reason in TEST_ONLY.items():
        m = _REASON.fullmatch(reason)
        assert m, f"{entry}: reason must name the reference surface or a seed test"
        if m["file"]:
            assert f"def {m['test']}(" in (ROOT / m["file"]).read_text(), (entry, reason)
