"""The engine sets Spark confs only where it makes a session: every
`<x>.conf.set(...)` in navi_spark/ is inside `catalog.child_session`. A
component that needs confs of its own plans in a child session made with
them, so no session a caller shares with anything else ever changes."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "navi_spark"
ALLOWED = {("catalog.py", "child_session")}


def _conf_sets(tree: ast.AST):
    """(line, enclosing top-level def or None) of each `<x>.conf.set(...)`
    call in `tree`."""
    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            top = owner
            if owner is None and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                top = child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "set"
                    and isinstance(child.func.value, ast.Attribute)
                    and child.func.value.attr == "conf"):
                yield child.lineno, top
            yield from walk(child, top)
    yield from walk(tree, None)


def test_conf_set_only_in_child_session():
    sources = sorted(PKG.rglob("*.py"))
    assert sources, f"no sources found under {PKG}"
    allowed_seen = 0
    hits = []
    for path in sources:
        rel = path.relative_to(PKG).as_posix()
        for lineno, owner in _conf_sets(ast.parse(path.read_text())):
            if (rel, owner) in ALLOWED:
                allowed_seen += 1
            else:
                hits.append(f"navi_spark/{rel}:{lineno} (in {owner})")
    assert not hits, "conf.set outside child_session:\n" + "\n".join(hits)
    # the scan itself still recognizes a conf write
    assert allowed_seen, "no conf.set found in catalog.child_session"
