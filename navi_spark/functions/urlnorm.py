"""URL canonicalization + host extraction (reference ops C3/C4).

Faithful, vectorized reimplementation of the reference normalizer
(`crawler/UrlNomalizer.java:27-96`) and base-URL extractor
(`crawler/UrlNomalizer.java:101-126`). The Java pipeline is:

    1. trim + lowercase                                  (UrlNomalizer.java:38)
    2. form-encode (URLEncoder: space->'+', rest %XX, uppercase hex),
       then re-expose "/ : ? = &"                        (:39-44)
    3. prefix "https://" when no http(s):// scheme       (:46-48)
    4. parse as URI + dot-segment normalize              (:50)
    5. strip default ports 80/443                        (:52-56)
    6. fragment strip branch                             (:58-61)  *dead code*:
       URLEncoder encodes '#'->%23, so a fragment can never parse as one —
       the '#' and fragment text survive INTO THE PATH (decoded back later).
    7. strip ONE trailing slash off the once-decoded path (:63-67)
    8. host rewrites, in order                           (:69-81):
       startswith("www2") -> drop 5 chars  (mangles "www2foo.com" -> "oo.com")
       startswith("www")  -> drop 4 chars  (mangles "wwwfoo.com"  -> "oo.com")
       endswith(".eg")    -> drop 3 chars
    9. decode the path AGAIN (URLDecoder: '+' -> ' ', %XX once more) (:83)
   10. output scheme://host + path ONLY — query string AND any port are
       dropped (:84) — then lowercase once more (:85).

Net effect on the path relative to the raw input: one percent-decode and
'+' -> ' ' (an original literal '+' becomes a space; an original "%41"
becomes "a"). Invalid URLs return null (:88-95).

Everything here is either a Catalyst builtin expression
(``normalize_url_expr`` — the SQL-oracle-able subset) or an Arrow-batched
pandas UDF (``normalize_url_udf`` — the full-fidelity kernel). No per-row
Python UDFs.
"""

from __future__ import annotations

from typing import Optional
from urllib.parse import quote_plus, unquote, unquote_plus

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_REEXPOSE = (("%2F", "/"), ("%3A", ":"), ("%3F", "?"), ("%3D", "="), ("%26", "&"))


def _java_form_encode(s: str) -> str:
    """URLEncoder.encode(s, UTF-8) + the reference's 5 un-escapes.

    quote_plus matches Java URLEncoder: space -> '+', uppercase hex,
    [a-zA-Z0-9.\\-*_] kept verbatim.
    """
    out = quote_plus(s, safe="")
    for enc, ch in _REEXPOSE:
        out = out.replace(enc, ch)
    return out


def _remove_dot_segments_java(path: str) -> str:
    """java.net.URI.normalize() semantics on an absolute path.

    Unlike RFC 3986 remove_dot_segments, Java PRESERVES leading ".."
    segments that cannot be popped ("/../a" stays "/../a").
    """
    if not path:
        return path
    leading_slash = path.startswith("/")
    segs = path.split("/")
    out: list[str] = []
    for i, seg in enumerate(segs):
        if seg == "." or (seg == "" and 0 < i < len(segs) - 1):
            # "." and empty (double-slash) segments collapse; Java keeps a
            # trailing empty segment (trailing slash).
            continue
        if seg == "..":
            if out and out[-1] not in ("..", ""):
                out.pop()
            else:
                out.append("..")
            continue
        out.append(seg)
    if segs[-1] in (".", ".."):
        # directory-style normalization keeps the trailing slash
        if not out or out[-1] != "":
            out.append("")
    joined = "/".join(out)
    if leading_slash and not joined.startswith("/"):
        joined = "/" + joined
    return joined


def _split_encoded(url: str) -> Optional[tuple[str, str, Optional[int], str, str]]:
    """Parse scheme://host[:port][/path][?query] from the form-encoded URL.

    After form-encoding only "/ : ? = &" survive as metacharacters, so '#'
    and '@' can never delimit a fragment/userinfo (reference dead-code parity,
    see module docstring item 6).
    """
    if url.startswith("https://"):
        scheme, rest = "https", url[8:]
    elif url.startswith("http://"):
        scheme, rest = "http", url[7:]
    else:
        return None
    qpos = rest.find("?")
    query = ""
    if qpos >= 0:
        rest, query = rest[:qpos], rest[qpos + 1 :]
    spos = rest.find("/")
    if spos >= 0:
        authority, path = rest[:spos], rest[spos:]
    else:
        authority, path = rest, ""
    host, port = authority, None
    cpos = authority.rfind(":")
    if cpos >= 0:
        maybe_port = authority[cpos + 1 :]
        if maybe_port.isdigit():
            host, port = authority[:cpos], int(maybe_port)
        else:
            return None  # java.net.URI -> getHost() null -> NPE/invalid
    if not host or ":" in host:
        # a ':' left in the host ("::0", "a:b:0") means a malformed /
        # bracketless-IPv6 authority — java.net.URI's server-authority
        # parse fails, getHost() is null, the reference nulls the URL
        return None
    return scheme, host, port, path, query


def _rewrite_host(host: str) -> str:
    """Reference host rewrites, in order (UrlNomalizer.java:69-81)."""
    if host.startswith("www2"):
        host = host[5:]
    if host.startswith("www"):
        host = host[4:]
    if host.endswith(".eg"):
        host = host[:-3]
    return host


def normalize_url_py(url: Optional[str]) -> Optional[str]:
    """Pure-Python canonicalizer — the single-row kernel and parity oracle.

    Returns None for null/blank/unparseable input (reference returns null).
    """
    if url is None:
        return None
    fixed = url.strip().lower()
    if not fixed:
        return None
    encoded = _java_form_encode(fixed)
    if not (encoded.startswith("http://") or encoded.startswith("https://")):
        encoded = "https://" + encoded
    parts = _split_encoded(encoded)
    if parts is None:
        return None
    scheme, host, _port, path_enc, _query = parts
    path_enc = _remove_dot_segments_java(path_enc)
    # java.net.URI.getPath() -> first decode (no '+' handling)
    path1 = unquote(path_enc)
    if path1.endswith("/"):
        path1 = path1[:-1]
    host = _rewrite_host(host)
    if not host or host.startswith(".") or host.endswith(".") or ".." in host:
        return None  # rebuilt java.net.URI would reject these hosts
    # URLDecoder.decode -> second decode ('+' -> ' ')
    path2 = unquote_plus(path1)
    return (scheme + "://" + host + path2).lower()


def host_of_py(url: Optional[str]) -> Optional[str]:
    """Host of a (normalized) URL — `new URL(url).getHost()` parity
    (WebCrawler.java:239-247)."""
    if url is None:
        return None
    parts = _split_encoded(url if "://" in url else "https://" + url)
    return parts[1] if parts else None


def base_url_py(url: Optional[str]) -> Optional[str]:
    """scheme://host[:nondefault-port] (UrlNomalizer.java:101-126)."""
    if url is None:
        return None
    encoded = _java_form_encode(url)
    parts = _split_encoded(encoded)
    if parts is None:
        return None
    scheme, host, port, _path, _query = parts
    base = scheme + "://" + host
    if port is not None and port not in (80, 443):
        base += f":{port}"
    return base


# Fast-path eligibility (optimization round 6, guide §4.2): URLs over a
# restricted charset where every reference-pipeline step is the identity —
# no %-escapes or '+' (both decodes are no-ops; every fast char survives
# java form-encoding verbatim or is re-exposed), no all-dot path segments
# (dot-segment normalization is a no-op), no empty segments, host labels
# non-empty (no '..'/leading/trailing dot BEFORE the rewrite — re-checked
# after). For those rows the canonical form is a pure regex decomposition
# + the host rewrite, vectorized in pandas; everything else falls back to
# the per-row reference kernel. Parity with normalize_url_py is asserted
# element-wise in tests/test_urlnorm.py.
# RE2-safe (no lookaheads — all-dot path segments are screened separately);
# evaluated by pyarrow.compute, i.e. vectorized C, not per-row Python `re`.
_FAST_RE2 = (
    r"^(?:(?P<scheme>https?)://)?"
    r"(?P<host>[a-z0-9_-]+(?:\.[a-z0-9_-]+)*)"
    r"(?::(?P<port>\d+))?"
    r"(?P<path>(?:/[a-z0-9_.-]+)*?)"
    r"(?P<ts>/?)"
    r"(?:\?.*)?$"
)


def _normalize_vec(urls: pd.Series) -> pd.Series:
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(urls, type=pa.string())
    a = pc.utf8_lower(pc.utf8_trim_whitespace(arr))
    ext = pc.extract_regex(a, _FAST_RE2)
    matched = pc.is_valid(ext)
    path = pc.struct_field(ext, "path")
    # all-dot segments ("." / ".." / "...") need real dot-segment
    # normalization → those rows take the reference kernel instead
    dot_seg = pc.match_substring_regex(path, r"/\.+(/|$)")
    fast = pc.and_kleene(matched, pc.invert(dot_seg))
    fast = pc.fill_null(fast, False)
    h = pc.struct_field(ext, "host")
    h = pc.if_else(pc.starts_with(h, "www2"),
                   pc.utf8_slice_codeunits(h, 5, 2**30), h)
    h = pc.if_else(pc.starts_with(h, "www"),
                   pc.utf8_slice_codeunits(h, 4, 2**30), h)
    h = pc.if_else(pc.ends_with(h, ".eg"),
                   pc.utf8_replace_slice(h, -3, 2**30, ""), h)
    bad = pc.or_(
        pc.or_(pc.equal(h, ""), pc.starts_with(h, ".")),
        pc.or_(pc.ends_with(h, "."), pc.match_substring(h, "..")),
    )
    scheme = pc.struct_field(ext, "scheme")
    scheme = pc.if_else(pc.equal(scheme, ""), pa.scalar("https"), scheme)
    out = pc.binary_join_element_wise(scheme, "://", h, path, "")
    out = pc.if_else(bad, pa.scalar(None, pa.string()), out)
    fast_pd = fast.to_pandas()
    fast_pd.index = urls.index
    res = pd.Series(index=urls.index, dtype=object)
    if fast_pd.any():
        out_pd = out.to_pandas()
        out_pd.index = urls.index
        res[fast_pd] = out_pd[fast_pd]
    slow = ~fast_pd
    if slow.any():
        res[slow] = urls[slow].map(normalize_url_py, na_action="ignore")
    return res


@pandas_udf(StringType())
def normalize_url_pandas_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalizer (C3): vectorized fast path for the
    identity-charset subset (see _normalize_vec), exact per-element
    reference pipeline for the rest.

    Since optimization round 6 this is no longer the data-plane entry point
    (``normalize_url_udf`` below builds a pure-JVM column); it remains the
    batched Python kernel for the children-list canonicalization (which is
    array-typed) and the differential-parity tests."""
    return _normalize_vec(urls)


# ---------------------------------------------------------------------------
# Optimization round 6 (guide §4.1 "eliminate the boundary, don't vectorize
# inside it"): the full-fidelity canonicalizer as a pure-JVM column
# expression. The pandas UDF above costs ~10 ms of Python-lane overhead per
# task plus one Arrow round trip for every byte — row-count-independent and
# partially serialized — so at the bench's 64 fixed partitions the lane
# alone is ~0.65 s no matter how fast the kernel gets. The expression below
# removes the lane entirely.
#
# Two structural problems keep this from being a naive Column chain:
#   1. Re-using a sub-Column in several places duplicates its whole subtree
#      (Catalyst sees a tree, not a DAG) — the naive builtin chain measured
#      12x SLOWER than the UDF for exactly this reason (normalize_url_expr
#      perf note below).  Fix: `_let`, a single-element `transform` that
#      binds each intermediate to a lambda variable, so every reference is
#      a variable read and each stage evaluates exactly once per row.
#   2. Higher-order functions are CodegenFallback, so the whole expression
#      evaluates interpreted — acceptable because it runs ~45 string ops on
#      a ~40-char string (~1-2 µs/row), against a Python lane whose FLOOR
#      was ~0.65 s per 500k-row stage.
#
# Parity: element-wise identical to normalize_url_py (the reference kernel)
# on the full dirty universe, every adversarial spelling in the test table,
# and a seeded fuzz corpus over the URL charset — asserted in
# tests/test_urlnorm.py::test_normalize_column_matches_py_*.
# ---------------------------------------------------------------------------


def _let(val: Column, body) -> Column:
    """Bind `val` once and use it via a lambda variable in `body`.

    `transform` over a 1-element array evaluates `val` exactly once per
    row; inside `body` the lambda variable is a computed value, so multiple
    references cost a variable read instead of re-evaluating the subtree.
    """
    return F.element_at(F.transform(F.array(val), body), 1)


# char class of str.strip()-strippable whitespace (Python unicode
# whitespace) — F.trim strips only ' ', so the reference's .strip() needs
# an explicit class; kept in sync with str.isspace()
_PY_WS_CLASS = (
    "[\\t-\\r \\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]"
)


def _form_encode_col(u: Column) -> Column:
    """JVM twin of _java_form_encode: Java URLEncoder + the two
    Python-quote_plus charset deltas ('*' encoded, '~' kept) + the
    reference's 5 re-exposures."""
    e = F.url_encode(u)  # space->'+', UTF-8 %XX uppercase, keeps [a-zA-Z0-9.*_-]
    e = F.replace(e, F.lit("*"), F.lit("%2A"))
    e = F.replace(e, F.lit("%7E"), F.lit("~"))
    for enc, ch in _REEXPOSE:
        e = F.replace(e, F.lit(enc), F.lit(ch))
    return e


def _remove_dot_segments_col(path: Column) -> Column:
    """JVM twin of _remove_dot_segments_java for an absolute path.

    Fold the '/'-split segments through the Java URI.normalize() stack
    rules: '.' collapses, interior empty segments collapse, '..' pops a
    poppable top (not '..'/''), unpoppable '..' is PRESERVED (Java quirk),
    and a trailing '.'/'..' keeps the directory trailing slash."""

    def with_segs(segs: Column) -> Column:
        n = F.size(segs)
        indexed = F.transform(
            segs, lambda s, i: F.struct(s.alias("s"), i.alias("i"))
        )
        fold = F.aggregate(
            indexed,
            F.array().cast("array<string>"),
            lambda acc, x: (
                F.when(x["s"] == ".", acc)
                .when((x["s"] == "") & (x["i"] > 0) & (x["i"] < n - 1), acc)
                .when(
                    x["s"] == "..",
                    F.when(
                        (F.size(acc) > 0)
                        & ~F.element_at(acc, -1).isin("..", ""),
                        F.slice(acc, 1, F.size(acc) - 1),
                    ).otherwise(F.concat(acc, F.array(F.lit("..")))),
                )
                .otherwise(F.concat(acc, F.array(x["s"])))
            ),
        )

        def with_fold(out: Column) -> Column:
            last = F.element_at(segs, -1)
            out2 = F.when(
                last.isin(".", "..")
                & ((F.size(out) == 0) | (F.element_at(out, -1) != "")),
                F.concat(out, F.array(F.lit(""))),
            ).otherwise(out)
            joined = F.array_join(out2, "/")
            # absolute path in, absolute path out (matches leading_slash
            # handling for the only shape reachable here: path[0] == '/')
            return F.when(joined.startswith("/"), joined).otherwise(
                F.concat(F.lit("/"), joined)
            )

        return _let(fold, with_fold)

    return _let(F.split(path, "/", -1), with_segs)


# Fast-branch shapes (r06 late round): URLs where every reference-pipeline
# step other than scheme-defaulting, query/port-dropping, ONE trailing
# slash and the www/www2/.eg host rewrites is the identity, so the result
# is a single regex decomposition — no encode, no decode, no dot-segment
# fold. Charsets are exactly the chars the form-encode chain keeps
# verbatim ('_' '~' safe; '.' structural in the host, EXCLUDED from path
# segments so dot-segments are impossible; ':'/'='/'&' re-exposed in the
# path; no '%'/'+'/' '/'*'/'#'). The www lookaheads route every rewrite
# shape whose dropped 4/5 chars are NOT exactly "www."/"www2." (the
# char-count mangles, e.g. "wwwx.y" -> ".y", "www2.www2.x" -> "2.x") to
# the exact slow branch; the accepted prefix strips reduce to anchored
# label removals that preserve host validity, so no post-rewrite checks
# are needed. ~75% of the dirty bench universe matches; evaluated
# interpreted (inside the outer let) at ~3 regex runs/row vs the slow
# branch's ~45 string ops.
_FAST_HOST = "[a-z0-9_~-]+(?:\\.[a-z0-9_~-]+)*"
_FAST_PATH = "(?:/[a-z0-9_~=&:-]+)*"
_FAST_PRED = (
    "^(?:https?://)?"
    "(?!www(?!2?\\.))(?!www2\\.www)"
    f"{_FAST_HOST}(?::[0-9]+)?{_FAST_PATH}/?(?:\\?.*)?$"
)
_FAST_EXTRACT = (
    f"^(?:https?://)?({_FAST_HOST})(?::[0-9]+)?({_FAST_PATH})/?(?:\\?.*)?$"
)


def _fast_norm(fx: Column) -> Column:
    host = F.regexp_extract(fx, _FAST_EXTRACT, 1)
    host = F.regexp_replace(host, "^www2\\.", "")
    host = F.regexp_replace(host, "^www\\.", "")
    host = F.regexp_replace(host, "\\.eg$", "")
    return F.concat(
        F.when(fx.startswith("http://"), F.lit("http")).otherwise(
            F.lit("https")
        ),
        F.lit("://"),
        host,
        F.regexp_extract(fx, _FAST_EXTRACT, 2),
    )


def normalize_url_column(col: Column, pin_single_eval: bool = True) -> Column:
    """Full-fidelity reference canonicalizer (C3) as a pure-JVM column.

    Follows normalize_url_py stage for stage; see the module docstring for
    the reference pipeline and the block comment above for why this is
    let-bound instead of a plain Column chain.

    ``pin_single_eval=False`` drops the nondeterministic evaluation-count
    guard (value identical): required inside lambda functions (e.g. a
    ``transform`` over a children array), where Catalyst rejects
    nondeterministic expressions."""

    def pipeline(fx: Column) -> Column:
        # form-encode is the identity on [a-z0-9._~/:?=&-]*: those chars
        # are either URLEncoder-safe, re-exposed, or fixed back ('~'), and
        # none of ' '/'+'/'%'/'*' (the chars the chain rewrites) are in
        # the class — so most rows skip the encode+7-replace chain
        encoded = F.when(
            fx.rlike("^[a-z0-9._~/:?=&-]*$"), fx
        ).otherwise(_form_encode_col(fx))

        def with_encoded(e: Column) -> Column:
            efull = F.when(
                e.startswith("http://") | e.startswith("https://"), e
            ).otherwise(F.concat(F.lit("https://"), e))

            def with_efull(ef: Column) -> Column:
                is_https = ef.startswith("https://")
                scheme = F.when(is_https, F.lit("https")).otherwise(
                    F.lit("http")
                )
                # query dropped before the first '/' search, like
                # _split_encoded (a '?' may precede any '/')
                rest = F.substring_index(
                    F.when(is_https, ef.substr(F.lit(9), F.length(ef)))
                    .otherwise(ef.substr(F.lit(8), F.length(ef))),
                    "?",
                    1,
                )

                def with_rest(rq: Column) -> Column:
                    spos = F.instr(rq, "/")
                    stage = F.struct(
                        F.when(spos > 0, rq.substr(F.lit(1), spos - 1))
                        .otherwise(rq)
                        .alias("auth"),
                        F.when(spos > 0, rq.substr(spos, F.length(rq)))
                        .otherwise(F.lit(""))
                        .alias("path"),
                    )

                    def with_auth_path(ap: Column) -> Column:
                        auth, path0 = ap["auth"], ap["path"]
                        # port = digits after the LAST ':' (reference
                        # rfind) — digits checked with translate, no
                        # regex; authority is pure ASCII post-encode so
                        # [0-9] is exactly Python isdigit() here
                        after = F.substring_index(auth, ":", -1)
                        port_ok = (after != "") & (
                            F.translate(after, "0123456789", "") == ""
                        )
                        host0 = (
                            F.when(~auth.contains(":"), auth)
                            .when(
                                port_ok,
                                auth.substr(
                                    F.lit(1),
                                    F.length(auth) - F.length(after) - 1,
                                ),
                            )
                            .otherwise(F.lit(None).cast("string"))
                        )
                        # host0 null / '' / residual ':' → reference
                        # returns null (java.net.URI getHost() == null)
                        hostv = F.when(
                            (host0 != "") & ~host0.contains(":"), host0
                        )  # else NULL
                        # dot/empty-segment normalization only when the
                        # path can need it ('/.' also catches '/..';
                        # false positives like '/.foo' fold to identity).
                        # pathn and p1 are LET-BOUND: a when-tree referenced
                        # 3x by its consumer re-evaluates its branches 3x,
                        # and two such layers compound to 9 gated-fold
                        # evaluations per row (measured +0.5 s/500k rows)
                        pathn = _let(
                            F.when(
                                path0.contains("/.")
                                | path0.contains("//"),
                                _remove_dot_segments_col(path0),
                            ).otherwise(path0),
                            # first decode = unquote: %XX once, '+'
                            # UNtouched (protected as %2B); every '%' here
                            # came from URLEncoder so escapes are valid
                            lambda pn: F.when(
                                pn.contains("%"),
                                F.url_decode(
                                    F.replace(
                                        pn, F.lit("+"), F.lit("%2B")
                                    )
                                ),
                            ).otherwise(pn),
                        )
                        p1s = _let(
                            pathn,
                            lambda p1: F.when(
                                p1.endswith("/"),
                                p1.substr(F.lit(1), F.length(p1) - 1),
                            ).otherwise(p1),
                        )
                        stage2 = F.struct(
                            hostv.alias("h"),
                            p1s.alias("p"),
                            # a '%' before the first decode is the only
                            # way uppercase can enter the output (input
                            # is lowercased; path %XX decodes to
                            # arbitrary chars, and host escapes survive
                            # UNdecoded with uppercase hex) — gates the
                            # final lower() pass
                            (
                                path0.contains("%")
                                | auth.contains("%")
                            ).alias("d"),
                        )

                        def with_host_path(hp: Column) -> Column:
                            h0, p, dec = hp["h"], hp["p"], hp["d"]
                            # reference host rewrites, in order
                            h1 = F.when(
                                h0.startswith("www2"),
                                h0.substr(F.lit(6), F.length(h0)),
                            ).otherwise(h0)
                            h2 = _let(
                                h1,
                                lambda v: F.when(
                                    v.startswith("www"),
                                    v.substr(F.lit(5), F.length(v)),
                                ).otherwise(v),
                            )

                            def with_host2(hh: Column) -> Column:
                                h3 = F.when(
                                    hh.endswith(".eg"),
                                    hh.substr(
                                        F.lit(1), F.length(hh) - 3
                                    ),
                                ).otherwise(hh)

                                def with_host3(hf: Column) -> Column:
                                    bad = (
                                        (hf == "")
                                        | hf.startswith(".")
                                        | hf.endswith(".")
                                        | hf.contains("..")
                                    )
                                    # second decode = unquote_plus,
                                    # LENIENT: invalid escapes pass
                                    # through (protect them as %25
                                    # before the strict JVM decoder)
                                    p2 = F.when(
                                        p.contains("%"),
                                        F.url_decode(
                                            F.regexp_replace(
                                                p,
                                                "%(?![0-9a-fA-F]{2})",
                                                "%25",
                                            )
                                        ),
                                    ).otherwise(
                                        F.replace(
                                            p, F.lit("+"), F.lit(" ")
                                        )
                                    )
                                    cc = F.concat(
                                        scheme, F.lit("://"), hf, p2
                                    )
                                    return F.when(
                                        ~bad,
                                        F.when(dec, F.lower(cc))
                                        .otherwise(cc),
                                    )  # else NULL

                                return _let(h3, with_host3)

                            return _let(h2, with_host2)

                        # hostv NULL short-circuits to NULL output here
                        # (transform maps the null element through the
                        # lambda; every downstream op null-propagates)
                        return _let(stage2, with_host_path)

                    return _let(stage, with_auth_path)

                return _let(rest, with_rest)

            return _let(efull, with_efull)

        return _let(encoded, with_encoded)

    trimmed = F.regexp_replace(
        F.lower(col), f"^{_PY_WS_CLASS}+|{_PY_WS_CLASS}+$", ""
    )
    out = _let(
        trimmed,
        lambda fx: F.when(
            fx.isNotNull() & (fx != ""),
            F.when(fx.rlike(_FAST_PRED), _fast_norm(fx)).otherwise(
                pipeline(fx)
            ),
        ),  # null/blank → NULL, like the reference
    )
    if not pin_single_eval:
        return out
    # Evaluation-count pin (same category as the asNondeterministic pin on
    # validate_payload_udf, test_plans.py): a downstream
    # filter(isNotNull(url)) — the frontier's standard shape — would be
    # pushed below the projection and re-evaluate this whole expression a
    # second time per row (measured 1.22 -> 2.75 s/500k). The always-true
    # spark_partition_id() guard marks the tree nondeterministic, which
    # keeps the filter above the projection: one evaluation per row, value
    # unchanged. (rand() bound comparisons get constant-folded by the
    # optimizer's range reasoning and lose the nondeterminism mark —
    # partition id has no such rule.)
    return F.when(F.spark_partition_id() >= -1, out)


def normalize_url_udf(col) -> Column:
    """Data-plane canonicalizer entry point (C3).

    Historically an Arrow-batched pandas UDF — since optimization round 6
    it builds the pure-JVM `normalize_url_column` expression instead (same
    call shape: accepts a column or column name, returns a Column), which
    removes the JVM↔Python lane from every canonicalization stage. The
    batched Python kernel survives as `normalize_url_pandas_udf`.

    The returned Column is NONDETERMINISTIC (the evaluation-count pin of
    `normalize_url_column`), although its value is a pure function of the
    URL. Catalyst takes nondeterministic expressions only in projections,
    filters, aggregates, windows and generators, so a join condition on
    it fails analysis (INVALID_NON_DETERMINISTIC_EXPRESSIONS). The engine
    only projects and filters it; elsewhere, project the normalized URL
    into a column first, or call ``normalize_url_column(c,
    pin_single_eval=False)``."""
    c = F.col(col) if isinstance(col, str) else col
    return normalize_url_column(c)


@pandas_udf(StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched host extraction (C4)."""
    return urls.map(host_of_py, na_action="ignore")


@pandas_udf(StringType())
def base_url_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched base-URL extraction (C4)."""
    return urls.map(base_url_py, na_action="ignore")


def normalize_url_expr(col: Column) -> Column:
    """Catalyst-builtin canonicalizer for the percent-free subset.

    Expresses rules 1,3,5-8,10 of the reference pipeline as pure column
    expressions, mirrorable in ANSI SQL for the DuckDB oracle. Valid only
    when the URL contains no percent-escapes, dot-segments, '+', or
    userinfo.

    PERFORMANCE NOTE (measured, 500k urls, local[32]): the Arrow-batched
    pandas UDF is the HOT PATH at ~9µs/url (4.6s); this expression tree is
    ~12× slower (57s) because the chained regexp derivations of
    scheme/authority/host/path defeat common-subexpression elimination and
    re-evaluate ~40 regex ops per row. Use this for SQL-oracle parity and
    small inputs, `normalize_url_udf` for the data plane.
    """
    u = F.lower(F.trim(col))
    u = F.when(u.rlike("^https?://"), u).otherwise(F.concat(F.lit("https://"), u))
    # split once: scheme, authority+rest
    scheme = F.regexp_extract(u, r"^(https?)://", 1)
    rest = F.regexp_replace(u, r"^https?://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")      # '#' never a fragment; but
    # builtin subset targets fragment-free URLs — strip defensively
    rest = F.regexp_replace(rest, r"\?.*$", "")     # query dropped (rule 10)
    authority = F.regexp_extract(rest, r"^([^/]*)", 1)
    path = F.regexp_replace(rest, r"^[^/]*", "")
    host = F.regexp_replace(authority, r":\d+$", "")  # port dropped from output
    host = F.when(host.startswith("www2"), host.substr(F.lit(6), F.length(host))).otherwise(
        F.when(host.startswith("www"), host.substr(F.lit(5), F.length(host))).otherwise(host)
    )
    host = F.when(host.endswith(".eg"), host.substr(F.lit(1), F.length(host) - 3)).otherwise(host)
    path = F.regexp_replace(path, r"/$", "")        # one trailing slash
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(scheme, F.lit("://"), host, path)
    )


def host_expr(col: Column) -> Column:
    """Builtin host extraction from a normalized URL (C4 fast path)."""
    return F.regexp_extract(col, r"^https?://([^/:?#]+)", 1)


def url_hash64(col: Column) -> Column:
    """64-bit URL key (C9/C15 seen-set key): xxhash64 — JVM-side, stable,
    and the same function Spark uses for shuffle-level hashing."""
    return F.xxhash64(col)
