"""Every top-level definition in ``nous_spark/`` must be used somewhere.

A name counts as used when some ``.py`` file of the repo (the package,
tests, scripts, kgbench, bench.py and __spark_entry__.py) refers to it
by a ``Name``, an ``Attribute`` or an import alias, outside the
definition's own source span. The match is by name only, so it can miss
a dead name that shares its spelling with a live one, but it never flags
a live one. Dunders (``__all__``, ``__version__``) are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ["nous_spark", "tests", "scripts", "kgbench", "bench.py", "__spark_entry__.py"]


def _py_files() -> list[Path]:
    out: list[Path] = []
    for entry in SOURCES:
        p = ROOT / entry
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _uses(tree: ast.AST):
    """(name, line) for every Name / Attribute / import-alias reference."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1], n.lineno


def test_no_dead_top_level_definitions():
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}
    uses = {p: list(_uses(t)) for p, t in trees.items()}

    dead = []
    for path, tree in trees.items():
        if ROOT / "nous_spark" not in path.parents:
            continue
        for node in tree.body:
            for name in _defined_names(node):
                if name.startswith("__") and name.endswith("__"):
                    continue
                span = range(node.lineno, node.end_lineno + 1)
                used = any(
                    u == name and (p != path or line not in span)
                    for p, us in uses.items()
                    for u, line in us
                )
                if not used:
                    dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not dead, "top-level definitions nothing uses:\n" + "\n".join(dead)
