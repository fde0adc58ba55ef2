"""Package layout guards: the engine imports neither the removed
training-data operator suite nor the removed legacy bench harness, and
``__spark_entry__`` pairs every query with an oracle."""

import ast
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

FORBIDDEN = ("morph_xr2rml_spark.ops", "bench", "bench_extra")


def _sources():
    yield from sorted((ROOT / "morph_xr2rml_spark").rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


def _imported_modules(path: pathlib.Path):
    """Absolute names of every module ``path`` imports (relative imports
    resolved against its package)."""
    rel = path.relative_to(ROOT).with_suffix("")
    package = list(rel.parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name
        elif isinstance(node, ast.ImportFrom):
            base = package[:len(package) - node.level + 1] \
                if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            yield mod
            for alias in node.names:
                yield f"{mod}.{alias.name}" if mod else alias.name


def test_no_imports_of_removed_modules():
    bad = []
    for path in _sources():
        for mod in _imported_modules(path):
            if any(mod == f or mod.startswith(f + ".") for f in FORBIDDEN):
                bad.append(f"{path.relative_to(ROOT)}: {mod}")
    assert not bad, bad


def test_entry_queries_and_oracles_pair_up():
    import __spark_entry__ as e
    assert set(e.queries()) == set(e.oracle_sql())
