"""Every CrawlConfig field is read somewhere in navi_spark/: a field that
nothing reads is a knob that changes nothing. Only an attribute load
(`cfg.max_pages`) counts, not the field's definition, a keyword argument
or a string."""

from __future__ import annotations

import ast
import dataclasses
import pathlib

from navi_spark.operators.frontier import CrawlConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "navi_spark"

# Accepted and ignored since the wave lost its bloom pre-filter.
# perfbench's crawl workload (perfbench/workloads.py) still passes both to
# CrawlConfig, and perfbench changes only together with the benchmark, so
# they stay until then. Nothing in navi_spark/ may read them meanwhile.
UNREAD_FOR_PERFBENCH = {"bloom_bits_per_partition", "bloom_hashes"}


def _attributes_read() -> set[str]:
    sources = sorted(PKG.rglob("*.py"))
    assert sources, f"no sources found under {PKG}"
    return {
        node.attr
        for path in sources
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
    }


def test_every_crawl_config_field_is_read():
    fields = {f.name for f in dataclasses.fields(CrawlConfig)}
    assert UNREAD_FOR_PERFBENCH <= fields
    read = _attributes_read()
    dead = sorted(fields - UNREAD_FOR_PERFBENCH - read)
    assert not dead, f"CrawlConfig fields nothing in navi_spark/ reads: {dead}"
    revived = sorted(UNREAD_FOR_PERFBENCH & read)
    assert not revived, (
        f"exempted CrawlConfig fields are read again: {revived}; "
        "drop them from UNREAD_FOR_PERFBENCH")
