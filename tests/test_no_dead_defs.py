"""Every top-level function or class in navi_spark/, and every method of a
top-level class, is used by the product: its name appears as a Name or an
Attribute in some .py file of the repo outside tests/ and outside its own
definition. Neither a string literal nor an import counts: a name that is
imported but never used keeps nothing alive. A def that only tests reach
is a second copy of product logic whose tests can pass while the product
is wrong, unless it is an oracle, a test helper or an operation of the
engine's public API on TEST_ONLY below. Dunder methods are exempt: the
language calls them."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "navi_spark"
TESTS = ROOT / "tests"

# Defs that only tests reach on purpose, as "<module under navi_spark>.<name>".
TEST_ONLY = {
    # reference implementations the engine is checked against
    "oracle.sequential_crawl_oracle",
    "oracle.sequential_recrawl_oracle",
    "oracle.oracle_delays",
    # plan-inspection helpers of the plan tests
    "plans.pushed_filters",
    "plans.executed_operators",
    # fixtures and generators of the test universes
    "sources.datagen._image_row",
    "sources.datagen.children_of",
    "sources.datagen.generate_urls",
    "sources.datagen.generate_seeds",
    "sources.datagen.generate_audio",
    "sources.datagen.generate_video",
    # multimodal and streaming operators kept with their unit tests
    "operators.multimodal.decode_images",
    "operators.multimodal.resize_images",
    "operators.multimodal.image_features",
    "operators.multimodal.decode_audio",
    "operators.multimodal.sample_video_frames",
    "streaming.wave_stream.streaming_seen_filter",
    "streaming.wave_stream.streaming_hourly_rollup",
    # the crawl engine's public operations that no product file calls:
    # a caller maintains, refreshes or indexes a crawl with them
    "operators.frontier.CrawlEngine.maintain",
    "operators.frontier.CrawlEngine.recrawl",
    "operators.frontier.CrawlEngine.index_feed",
}


def _sources() -> list[pathlib.Path]:
    return sorted(
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    )


def _references(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) for every Name and Attribute."""
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
    return refs


def _key(path: pathlib.Path, *names: str) -> str:
    mod = path.relative_to(PKG).with_suffix("").parts
    if mod[-1] == "__init__":
        mod = mod[:-1]
    return ".".join(mod + names)


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defs(tree: ast.Module):
    """(names, node) of every top-level def and of every method of a
    top-level class, dunder methods excepted."""
    for node in tree.body:
        if not isinstance(node, _DEF):
            continue
        yield (node.name,), node
        if isinstance(node, ast.ClassDef):
            for sub in node.body:
                if (isinstance(sub, _DEF) and not (
                        sub.name.startswith("__")
                        and sub.name.endswith("__"))):
                    yield (node.name, sub.name), sub


def _unused_defs() -> tuple[dict[str, str], set[str]]:
    """({key: location} of defs no product file reaches, keys of all defs)."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _sources()}
    assert any(p.is_relative_to(PKG) for p in trees), f"no sources under {PKG}"
    refs: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for p, t in trees.items():
        if p.is_relative_to(TESTS):
            continue
        for name, line in _references(t):
            refs.setdefault(name, []).append((p, line))
    unused: dict[str, str] = {}
    keys: set[str] = set()
    for path, tree in trees.items():
        if not path.is_relative_to(PKG):
            continue
        for names, node in _defs(tree):
            key = _key(path, *names)
            keys.add(key)
            # a decorated def starts at its first decorator line
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            used = any(
                not (p == path and start <= line <= node.end_lineno)
                for p, line in refs.get(node.name, ())
            )
            if not used:
                unused[key] = f"{path.relative_to(ROOT)}:{node.lineno}: {key}"
    return unused, keys


def test_navi_spark_has_no_unreferenced_defs():
    unused, _ = _unused_defs()
    dead = [loc for key, loc in unused.items() if key not in TEST_ONLY]
    assert not dead, (
        "top-level defs no product file reaches (only tests, or nothing):\n"
        + "\n".join(dead))


def test_test_only_allowlist_is_current():
    unused, keys = _unused_defs()
    gone = sorted(TEST_ONLY - keys)
    assert not gone, f"TEST_ONLY names defs that no longer exist: {gone}"
    reached = sorted(TEST_ONLY - unused.keys())
    assert not reached, (
        f"TEST_ONLY defs the product now reaches: {reached}; "
        "drop them from TEST_ONLY")
