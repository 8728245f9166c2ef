"""Every name a ``queries/`` module imports must be used by that module.

REGISTRY is the one registration point for a query; a module that
imports names only to hand them on (a re-export list) is a second one
that has to be kept in step by hand. The package's deliberate public
names are declared in an explicit ``__all__`` and count as used.
Pure AST: no Spark session, no import of the package.
"""

import ast
from pathlib import Path

import pytest

QUERIES_DIR = (
    Path(__file__).resolve().parent.parent / "curw_flo2d_data_manager_spark" / "queries"
)


def unused_imports(source: str) -> list[str]:
    tree = ast.parse(source)
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                imported[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= set(ast.literal_eval(node.value))
    return sorted(name for name in imported if name not in used)


@pytest.mark.parametrize(
    "path", sorted(QUERIES_DIR.glob("*.py")), ids=lambda p: p.name
)
def test_queries_module_has_no_unused_imports(path):
    unused = unused_imports(path.read_text())
    assert not unused, f"{path.name} imports names it never uses: {unused}"


def test_guard_sees_unused_and_all_exempt_names():
    src = (
        "from __future__ import annotations\n"
        "import os.path\n"
        "from m import a, b as c, d\n"
        "__all__ = ['d']\n"
        "def f():\n"
        "    return a\n"
    )
    assert unused_imports(src) == ["c", "os"]
