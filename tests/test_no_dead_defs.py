"""Every top-level function or class in navi_spark/ is used somewhere: its
name appears as a Name, an Attribute or an import alias in some .py file
of the repo outside its own definition. A string literal does not count.
The registry modules are exempt, because queries() reaches their entries
by name."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "navi_spark"
EXEMPT = {PKG / "queries.py", PKG / "extra_queries.py"}


def _sources() -> list[pathlib.Path]:
    return sorted(
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    )


def _references(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) for every Name, Attribute and import alias."""
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            refs.append((node.name.rsplit(".", 1)[-1], node.lineno))
    return refs


def test_navi_spark_has_no_unreferenced_defs():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _sources()}
    assert any(p.is_relative_to(PKG) for p in trees), f"no sources under {PKG}"
    refs: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for p, t in trees.items():
        for name, line in _references(t):
            refs.setdefault(name, []).append((p, line))
    dead = []
    for path, tree in trees.items():
        if not path.is_relative_to(PKG) or path in EXEMPT:
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            # a decorated def starts at its first decorator line
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            used = any(
                not (p == path and start <= line <= node.end_lineno)
                for p, line in refs.get(node.name, ())
            )
            if not used:
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno}: {node.name}")
    assert not dead, "unreferenced top-level defs:\n" + "\n".join(dead)
