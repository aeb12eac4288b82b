"""Dead-code guard: every top-level function or class in the package is
referenced from somewhere other than its own body.

References are AST names, attribute accesses and imported names, searched
over the package, ``tests/``, ``bench*.py``, ``perfbench/`` and
``__spark_entry__.py``. Query functions decorated with ``@register(...)``
are reached through ``REGISTRY`` and need no other reference."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "german_newspaper_crawler_spark"


def _searched_files() -> list[Path]:
    files = {ROOT / "__spark_entry__.py"}
    files.update(PACKAGE.rglob("*.py"))
    files.update((ROOT / "tests").rglob("*.py"))
    files.update((ROOT / "perfbench").rglob("*.py"))
    files.update(ROOT.glob("bench*.py"))
    return sorted(files)


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _is_registered(d: ast.AST) -> bool:
    return any(
        isinstance(x, ast.Call) and getattr(x.func, "id", None) == "register"
        for x in d.decorator_list
    )


def test_every_top_level_def_is_referenced():
    # name -> the top-level statements (file, index) that mention it
    users: dict[str, set[tuple[Path, int]]] = {}
    defs = []
    for path in _searched_files():
        tree = ast.parse(path.read_text(), str(path))
        for i, top in enumerate(tree.body):
            for name in _names(top):
                users.setdefault(name, set()).add((path, i))
            if path.is_relative_to(PACKAGE) and isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((path, i, top))
    dead = [
        f"{path.relative_to(ROOT)}:{d.lineno} {d.name}"
        for path, i, d in defs
        if not _is_registered(d) and not users.get(d.name, set()) - {(path, i)}
    ]
    assert not dead, "unreferenced top-level defs:\n" + "\n".join(dead)
