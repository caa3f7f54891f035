"""Every name a navi_spark/ module imports is used in that module: it
appears as a Name somewhere in the module's code, or in a quoted
annotation. An import nothing reads only slows the import and hides what
a module really depends on. Exempt are `from __future__` imports and the
re-exports a package's __init__.py marks `# noqa: F401`."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "navi_spark"


def _imported(tree: ast.Module, lines: list[str]):
    """(name, line) bound by each import, skipping __future__ imports and
    lines marked `# noqa: F401`."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if "# noqa: F401" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            if alias.name == "*":
                continue
            if alias.asname:
                yield alias.asname, node.lineno
            elif isinstance(node, ast.Import):
                yield alias.name.split(".")[0], node.lineno
            else:
                yield alias.name, node.lineno


def _annotations(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.arg):
            yield node.annotation
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.returns
        elif isinstance(node, ast.AnnAssign):
            yield node.annotation


def _used(tree: ast.Module) -> set[str]:
    """Every Name the module reads, quoted annotations included."""
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for ann in _annotations(tree):
        for node in ast.walk(ann) if ann is not None else ():
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                used |= {n.id for n in ast.walk(ast.parse(node.value,
                                                          mode="eval"))
                         if isinstance(n, ast.Name)}
    return used


def test_navi_spark_imports_only_what_it_uses():
    paths = sorted(PKG.rglob("*.py"))
    assert paths, f"no sources under {PKG}"
    unused = []
    for path in paths:
        text = path.read_text()
        tree = ast.parse(text, str(path))
        used = _used(tree)
        unused += [f"{path.relative_to(PKG.parent)}:{line}: {name}"
                   for name, line in _imported(tree, text.splitlines())
                   if name not in used]
    assert not unused, "imported and never used:\n" + "\n".join(unused)
