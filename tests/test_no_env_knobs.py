"""The engine reads no environment variables: every tunable is either a
CrawlConfig field, a function parameter or a module constant, so a run's
behaviour is fixed by its code and its arguments alone."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "navi_spark"
ENV_READ = re.compile(r"\bos\.(environ|getenv)\b")


def test_navi_spark_reads_no_environment():
    sources = sorted(PKG.rglob("*.py"))
    assert sources, f"no sources found under {PKG}"
    hits = [
        f"{path.relative_to(PKG.parent)}:{lineno}: {line.strip()}"
        for path in sources
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if ENV_READ.search(line)
    ]
    assert not hits, "environment reads in navi_spark/:\n" + "\n".join(hits)
