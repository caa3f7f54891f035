"""robots.txt parse/match unit cases (reference C10-C12, FIXTURES.md §4)."""

from __future__ import annotations

import pyspark.sql.functions as F

from navi_spark.operators.robots import (
    filter_allowed,
    is_allowed_py,
    parse_robots_txt,
    parsed_rules_table,
)

TXT = """# comment line
User-Agent: *
Disallow: /private
Allow: /private/ok
Crawl-delay: 3

User-agent: bingbot
Disallow: /
"""


def test_parse_groups_and_case():
    rules = parse_robots_txt(TXT)
    # only the '*' group; directives lowercased; crawl-delay not a rule
    assert rules == [("disallow", "/private"), ("allow", "/private/ok")]


def test_parse_empty_and_none():
    assert parse_robots_txt(None) == []
    assert parse_robots_txt("") == []
    assert parse_robots_txt("User-agent: bingbot\nDisallow: /\n") == []


def test_longest_pattern_first():
    """Most-specific rule wins (RobotServer.java:185)."""
    rules = parse_robots_txt(
        "User-agent: *\nDisallow: /p/1*\nAllow: /p/12*\n"
    )
    assert is_allowed_py("https://h.test/p/11", rules) is False
    assert is_allowed_py("https://h.test/p/123", rules) is True
    assert is_allowed_py("https://h.test/p/2", rules) is True  # no match→allow


def test_wildcard_and_substring_semantics():
    """`*`→`.*`; matching is find() substring search (reference intent)."""
    rules = [("disallow", "/private")]
    assert is_allowed_py("https://h.test/private/x", rules) is False
    assert is_allowed_py("https://h.test/a/private", rules) is False  # find()
    assert is_allowed_py("https://h.test/pub", rules) is True
    rules = [("disallow", "/a*z")]
    assert is_allowed_py("https://h.test/a123z", rules) is False
    assert is_allowed_py("https://h.test/a123", rules) is True


def test_no_rules_allows_and_invalid_disallows():
    assert is_allowed_py("https://h.test/x", []) is True
    assert is_allowed_py("not a url", [("disallow", "/")]) is False
    assert is_allowed_py(None, [("disallow", "/")]) is False


def test_root_disallow_allow_override():
    rules = parse_robots_txt("User-agent: *\nDisallow: /\nAllow: /p/\n")
    assert rules == [("disallow", "/"), ("allow", "/p/")]
    # longest first: '/p/' wins where present
    assert is_allowed_py("https://h.test/p/5", rules) is True
    assert is_allowed_py("https://h.test/q", rules) is False
    assert is_allowed_py("https://h.test", rules) is False  # path '' → '/'


def test_vectorized_matches_py(spark):
    robots = spark.createDataFrame(
        [
            ("h4.test", "User-agent: *\nDisallow: /private\n", 0.0),
            ("h5.test", "User-agent: *\nDisallow: /p/1*\nAllow: /p/12*\n", 0.0),
            ("h7.test", "User-agent: bingbot\nDisallow: /\n", 0.0),
        ],
        "host string, robots_txt string, crawl_delay_s double",
    )
    rules = parsed_rules_table(robots)
    cand = spark.createDataFrame(
        [
            ("https://h4.test/private/x", "h4.test"),
            ("https://h4.test/pub", "h4.test"),
            ("https://h5.test/p/11", "h5.test"),
            ("https://h5.test/p/123", "h5.test"),
            ("https://h7.test/anything", "h7.test"),
            ("https://nohost.test/x", "nohost.test"),  # no robots row → allow
        ],
        "url string, host string",
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in filter_allowed(cand, rules).collect()
    }
    assert got == {
        "https://h4.test/private/x": False,
        "https://h4.test/pub": True,
        "https://h5.test/p/11": False,
        "https://h5.test/p/123": True,
        "https://h7.test/anything": True,
        "https://nohost.test/x": True,
    }


# ---------------------------------------------------------------------------
# property: the compiled-regex matcher vs an independent naive matcher
# ---------------------------------------------------------------------------

def _naive_wildcard_found(pattern: str, text: str) -> bool:
    """From-scratch substring wildcard search ('*' matches any run,
    everything else literal — including regex metachars like '$', '.').
    Equivalent existence semantics to searching the '.*'-joined escaped
    regex: find the literal parts left-to-right, the first part anywhere."""
    parts = pattern.split("*")
    pos = 0
    for k, part in enumerate(parts):
        if part == "":
            continue
        i = text.find(part, pos)
        if i < 0:
            return False
        if k == 0 and pos == 0:
            # the first literal part may start anywhere (substring search)
            pass
        pos = i + len(part)
    return True


def _naive_is_allowed(path: str, parsed) -> bool:
    ordered = sorted(parsed, key=lambda dp: -len(dp[1]))
    for directive, pattern in ordered:
        if _naive_wildcard_found(pattern, path):
            return directive == "allow"
    return True


def test_matcher_vs_naive_property():
    """Hypothesis: on random rule sets (wildcards + regex metachars as
    literals) and random paths, the compiled matcher agrees with the
    independent naive implementation — guards the escape/compile/ordering
    logic against regex-metachar and wildcard-boundary mistakes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from navi_spark.operators.robots import is_allowed_py

    pat = st.text(alphabet="ab/$.*+[(", min_size=1, max_size=8)
    rule = st.tuples(st.sampled_from(["allow", "disallow"]), pat)
    pathchars = st.text(alphabet="ab/$.+[(", min_size=0, max_size=12)

    @given(st.lists(rule, max_size=6), pathchars)
    @settings(max_examples=400, deadline=None)
    def check(rules, path):
        url = "https://h.test/" + path
        want = _naive_is_allowed("/" + path, rules)
        got = is_allowed_py(url, rules)
        assert got == want, (rules, path)

    check()


def test_jvm_matcher_vs_py_property(spark):
    """Hypothesis: the JVM matcher (`filter_allowed` over the rules that
    `parsed_rules_table` compiles) gives `is_allowed_py`'s verdict on random
    robots.txt rule sets and URLs: regex metacharacters and backslashes in
    rules and paths, queries, fragments, trailing slashes and unparseable
    URLs. The examples are generated first and checked as one DataFrame,
    so the whole batch costs one collect."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    pat = st.text(alphabet="ab/$.*+[(\\?E", min_size=1, max_size=8)
    rule = st.tuples(st.sampled_from(["Allow", "Disallow"]), pat)
    url = st.tuples(
        st.sampled_from(["https://", "http://", "ftp://", ""]),
        st.sampled_from(["", "/"]),
        st.text(alphabet="ab/$.+[(\\?#E\r", max_size=12),
        st.sampled_from(["", "/"]),
    )
    cases: list = []

    @given(st.lists(rule, max_size=6), url)
    # a wildcard spanning a carriage return: Python's `.` matches it, a
    # Java `.` only under UNIX_LINES
    @example([("Disallow", "a*b")], ("https://", "/", "a\rb", ""))
    @settings(max_examples=400, deadline=None)
    def collect(rules, parts):
        cases.append((rules, parts))

    collect()
    robots, cand, want = [], [], {}
    for i, (rules, (scheme, slash, path, tail)) in enumerate(cases):
        host = f"h{i}.test"
        txt = "User-agent: *\n" + "\n".join(f"{d}: {p}" for d, p in rules)
        u = scheme + host + slash + path + tail
        robots.append((host, txt, 0.0))
        cand.append((u, host))
        want[host] = (is_allowed_py(u, parse_robots_txt(txt)), u, rules)
    got = filter_allowed(
        spark.createDataFrame(cand, "url string, host string"),
        parsed_rules_table(spark.createDataFrame(
            robots, "host string, robots_txt string, crawl_delay_s double")),
    ).select("host", "robots_allowed").collect()
    assert len(got) == len(want)
    bad = sorted(
        (w[1:] for r in got if (w := want[r["host"]])[0] != r["robots_allowed"]),
        key=lambda m: len(repr(m)),
    )
    assert not bad, f"{len(bad)} mismatches, smallest: {bad[:3]}"
