"""Registry and import hygiene, without a Spark session: each query
family states a query once (its ``q_`` function plus one ``ORACLES``
entry), the merged registry refuses a name two families define, and
no module carries an import it never uses."""

from __future__ import annotations

import ast
import types
from pathlib import Path

import pytest

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parent.parent


def _modules() -> list[Path]:
    files = [
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "entry_queries").glob("*.py")),
        *sorted((ROOT / "etl_spark_spark").rglob("*.py")),
    ]
    return [f for f in files if f.name != "__init__.py"]


def _unused_imports(path: Path) -> list[str]:
    """Module-top imported names never referenced in the module; lines
    marked ``# noqa: F401`` and ``__future__`` imports are exempt."""
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    unused = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        span = lines[node.lineno - 1 : node.end_lineno]
        if any("# noqa: F401" in line for line in span):
            continue
        for alias in node.names:
            name = (alias.asname or alias.name).split(".")[0]
            if name not in used:
                unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    return unused


def test_no_unused_module_imports():
    unused = [u for f in _modules() for u in _unused_imports(f)]
    assert not unused, f"unused imports: {unused}"


def test_each_family_states_its_oracles():
    for family in entrymod._FAMILIES:
        defined = {name for name, _ in entrymod._query_fns(family)}
        assert set(family.ORACLES) == defined, family.__name__


def _family(name: str, query: str) -> types.ModuleType:
    mod = types.ModuleType(name)

    def fn(spark, sf_dir):
        return None

    fn.__module__ = name
    setattr(mod, f"q_{query}", fn)
    mod.ORACLES = {query: "SELECT 1"}
    return mod


def test_query_defined_in_two_families_is_refused(monkeypatch):
    monkeypatch.setattr(
        entrymod,
        "_FAMILIES",
        (_family("fam_a", "dup"), _family("fam_b", "dup")),
    )
    with pytest.raises(ValueError, match="'dup'.*fam_a.*fam_b"):
        entrymod.queries()
    with pytest.raises(ValueError, match="'dup'.*fam_a.*fam_b"):
        entrymod.oracle_sql()
