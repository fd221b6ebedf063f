"""Every top-level function, class and module-level assignment in the
relieff_lsh_spark package must be referenced from non-test code.

A second implementation that only tests call checks itself, not the product
path, and a constant nothing reads is a dead knob. This scan is static (AST
only, no Spark): a name counts as referenced when some non-test module
(the package, jobs/, hostbench/, BENCH/ and the entry scripts) reads it as a
name, uses it as an attribute or an imported name, or spells it as an exact
string constant (queries looked up by name). Dunders are exempt. Because
matching is by bare name, no name may be defined in two package modules."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = "relieff_lsh_spark"
NON_TEST = ["relieff_lsh_spark", "jobs", "hostbench", "BENCH", "__spark_entry__.py",
            "bench.py"]

# Names kept on purpose although only tests reference them.
ALLOWED = {
    "_cos_hof": "bit-exact spec the Arrow cosine kernel is pinned against",
    "pair_recall": "metric helper the ANN recall tests compute with",
    "capped_pairs_stats": "drop counter the skew-cap tests read",
    "decode_wav": "reference decoder the corpus and audio tests compare against",
    "brute_oracle": "exact oracle the pipeline recall tests compare against",
}


def _is_test(path: Path) -> bool:
    return "tests" in path.parts or path.name.startswith("test_")


def _non_test_files() -> list[Path]:
    files: list[Path] = []
    for entry in NON_TEST:
        p = ROOT / entry
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    return [f for f in files if not _is_test(f.relative_to(ROOT))]


def _references(tree: ast.AST) -> set[str]:
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.add(node.value)
    return refs


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (
        node.targets if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, (ast.AnnAssign, ast.AugAssign))
        else []
    )
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _definitions() -> dict[str, list[str]]:
    defs: dict[str, list[str]] = {}
    for f in sorted((ROOT / SCANNED).rglob("*.py")):
        where = str(f.relative_to(ROOT))
        for node in ast.parse(f.read_text()).body:
            for name in _defined_names(node):
                if not (name.startswith("__") and name.endswith("__")):
                    if where not in defs.setdefault(name, []):
                        defs[name].append(where)
    return defs


def test_no_test_only_functions_or_classes():
    refs: set[str] = set()
    for f in _non_test_files():
        refs |= _references(ast.parse(f.read_text()))
    defs = _definitions()
    unused = {
        name: where
        for name, where in defs.items()
        if name not in refs and name not in ALLOWED
    }
    assert not unused, (
        "defined in the package but referenced only from tests or nowhere "
        "(delete it, "
        f"or point the tests at the product path): {unused}"
    )
    # references are matched by bare name, so a name defined twice would
    # let a test-only copy hide behind the used one
    shared = {name: where for name, where in defs.items() if len(where) > 1}
    assert not shared, f"defined in more than one package module: {shared}"


def test_allowlist_entries_still_exist():
    stale = set(ALLOWED) - set(_definitions())
    assert not stale, f"allowlisted names no longer defined: {stale}"
