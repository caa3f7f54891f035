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

One kernel serves the data plane: ``_normalize_vec``, a vectorized pyarrow
fast path with ``normalize_url_py`` (the single-row reference) as its
per-row fallback. Seeds reach it through the Arrow-batched
``normalize_url_udf`` and every wave's child links through the frontier's
array kernel. ``normalize_url_expr`` is the Catalyst-builtin form of the
percent-free subset, kept because the DuckDB oracle mirrors it in SQL.
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


# Fast-path eligibility: URLs over a restricted charset where every
# reference-pipeline step is the identity — no %-escapes or '+' (both
# decodes are no-ops; every fast char survives java form-encoding verbatim
# or is re-exposed), no all-dot path segments (dot-segment normalization is
# a no-op), no empty segments, host labels non-empty (no '..'/leading/
# trailing dot BEFORE the rewrite — re-checked after). For those rows the
# canonical form is a pure regex decomposition + the host rewrite; the
# other rows (about a quarter of the dirty generator universe) fall back
# to the per-row reference kernel. Parity with normalize_url_py is asserted
# element-wise in tests/test_urlnorm.py, through the Spark UDF as well.
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

    Callers use ``normalize_url_udf`` below; it is this UDF with the
    nondeterministic mark (set on the shared UDF object, so both names build
    the same expression). The function keeps its name because profiles
    attribute the kernel's time by it."""
    return _normalize_vec(urls)


# The data-plane entry point: seeds at bootstrap go through this column,
# child links through frontier._norm_children_kernel, and both run
# _normalize_vec. The nondeterministic mark keeps a downstream
# filter(isNotNull(url)) above the projection, so the kernel runs once per
# row instead of twice (a deterministic UDF plans two ArrowEvalPython
# nodes). The value is still a pure function of the URL, but Catalyst takes
# nondeterministic expressions only in projections, filters, aggregates,
# windows and generators: a join condition on it fails analysis
# (INVALID_NON_DETERMINISTIC_EXPRESSIONS). Project the normalized URL into a
# column first.
normalize_url_udf = normalize_url_pandas_udf.asNondeterministic()


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
