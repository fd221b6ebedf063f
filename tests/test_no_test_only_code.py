"""Every top-level function and class in relieff_lsh_spark/functions/ and
relieff_lsh_spark/operators/ must be referenced from non-test code.

A second implementation that only tests call checks itself, not the product
path. This scan is static (AST only, no Spark): a name counts as referenced
when some non-test module uses it as a name, an attribute, an imported name,
or an exact string constant (queries looked up by name). Because matching
is by bare name, no name may be defined in two scanned modules."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ["relieff_lsh_spark/functions", "relieff_lsh_spark/operators"]
NON_TEST = ["relieff_lsh_spark", "jobs", "hostbench", "__spark_entry__.py", "bench.py"]

# Names kept on purpose although only tests reference them.
ALLOWED = {
    "_cos_hof": "bit-exact spec the Arrow cosine kernel is pinned against",
    "pair_recall": "metric helper the ANN recall tests compute with",
    "capped_pairs_stats": "drop counter the skew-cap tests read",
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
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.add(node.value)
    return refs


def _definitions() -> dict[str, list[str]]:
    defs: dict[str, list[str]] = {}
    for d in SCANNED:
        for f in sorted((ROOT / d).glob("*.py")):
            for node in ast.parse(f.read_text()).body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    defs.setdefault(node.name, []).append(str(f.relative_to(ROOT)))
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
        "defined in the package but referenced only from tests (delete it, "
        f"or point the tests at the product path): {unused}"
    )
    # references are matched by bare name, so a name defined twice would
    # let a test-only copy hide behind the used one
    shared = {name: where for name, where in defs.items() if len(where) > 1}
    assert not shared, f"defined in more than one scanned module: {shared}"


def test_allowlist_entries_still_exist():
    stale = set(ALLOWED) - set(_definitions())
    assert not stale, f"allowlisted names no longer defined: {stale}"
