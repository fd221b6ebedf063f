"""Every top-level function, class and module-level assignment in the
relieff_lsh_spark package must be referenced from non-test code.

A second implementation that only tests call checks itself, not the product
path, and a constant nothing reads is a dead knob. This scan is static (AST
only, no Spark): a name counts as referenced when some non-test module
(the package, jobs/, hostbench/, BENCH/ and the entry scripts) reads it as a
name, uses it as an attribute or an imported name, or spells it as an exact
string constant (queries looked up by name). Dunders are exempt. Because
matching is by bare name, no name may be defined in two package modules,
and a name a non-package file defines at its own top level refers, in that
file, to its own definition: reading it there is not a use of the package's
name of the same spelling."""

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


def _references(tree: ast.Module, in_package: bool) -> set[str]:
    """Names `tree` uses. Outside the package, a bare-name load of one of
    the file's own top-level definitions is a use of that definition only
    (a script's `STAGES` list is not the package's `STAGES`)."""
    own = set() if in_package else {
        name for node in tree.body for name in _defined_names(node)
    }
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id not in own:
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
        in_package = f.relative_to(ROOT).parts[0] == SCANNED
        refs |= _references(ast.parse(f.read_text()), in_package)
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


def test_own_top_level_definition_is_not_a_package_reference():
    """The scan on synthetic sources: a script that defines and reads its
    own STAGES does not reference the package's STAGES; a package module
    reading its own definition, an import and an attribute use do."""
    script = ast.parse("STAGES = ['a']\nfor s in STAGES:\n    print(s)\n")
    package = ast.parse("STAGES = []\n\ndef run():\n    return STAGES\n")
    importer = ast.parse(
        "from pkg.mod import STAGES\nimport pkg.mod as m\nprint(STAGES, m.run)\n"
    )
    assert "STAGES" not in _references(script, in_package=False)
    assert "print" in _references(script, in_package=False)
    assert "STAGES" in _references(package, in_package=True)
    assert {"STAGES", "run"} <= _references(importer, in_package=False)
