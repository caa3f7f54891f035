"""Deterministic, seeded synthetic data generation — DISTRIBUTED.

Everything the engine consumes is synthesized here (no external data,
BASELINE.json): the ground image+caption table, the URL universe + link
graph, seed lists, and per-host robots.txt rules. Generation itself runs as
Spark jobs (``spark.range(n)`` → ``mapInPandas``), so the same code scales
from the 10^3-row unit fixtures to the 10^8-row bench tables: rows are pure
functions of their index + seed, independent of partitioning.

Shapes follow FIXTURES.md §§1-4; semantics the generators must exercise are
cited to the reference (dup injection for C15 dedup, Zipf hot-host for the
north-rule salting story, dirty URL variants covering every C3 rule).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from navi_spark.sources.codec import encode_image, make_pixels, phash64

SEED = 42
VOCAB = (
    "ocean cliff sunset tree river bridge market lantern desert canyon "
    "harbor meadow tower forest island temple garden statue mosaic dune "
    "plaza mural fountain archway skyline glacier lagoon orchard villa path "
    "boat kite mural drum flute vase loom anvil quill scroll compass map "
    "amber coral indigo crimson ochre jade slate pearl copper bronze"
).split()

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
URLS_SCHEMA = (
    "url string, host string, image_id string, depth_hint int, "
    "children array<string>"
)

_SIZES = (16, 32, 64)
# Duplicate injection (~2%, FIXTURES.md §1): rows with i % 100 in {57, 83}
# duplicate row i-50 (whose residues 7 and 33 are never dups themselves, so
# chains can't form and every dup pair shares pixels+phash exactly).
_DUP_RESIDUES = (57, 83)


def _u01(i: int, salt: int) -> float:
    """Deterministic uniform(0,1) from a row index — partition-independent."""
    x = (i * 2654435761 + salt * 40503 + SEED * 97) & 0xFFFFFFFF
    x ^= x >> 16
    x = (x * 0x45D9F3B) & 0xFFFFFFFF
    x ^= x >> 16
    return x / 2**32


def _caption_for(i: int) -> str:
    rng = np.random.default_rng(zlib.crc32(f"cap{i}:{SEED}".encode()) & 0xFFFFFFFF)
    n = int(rng.integers(3, 13))
    return " ".join(VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), n))


def _image_row(i: int) -> tuple[str, bytes, int, int, str, str, int]:
    image_id = f"img{i:010d}"
    dup_of = None
    src = i
    if i >= 50 and i % 100 in _DUP_RESIDUES:
        src = i - 50  # exact-pixel duplicate of an earlier image
        dup_of = f"img{src:010d}"
    w = _SIZES[int(_u01(src, 1) * 3)]
    h = _SIZES[int(_u01(src, 2) * 3)]
    fmt = "png" if _u01(src, 3) < 0.8 else "jpeg"
    px = make_pixels(image_id, w, h, dup_of=dup_of)
    data = encode_image(px, fmt)
    # phash of the SOURCE pixels: a lossy duplicate still collides (C15)
    return image_id, data, w, h, fmt, _caption_for(src), phash64(px)


def image_phash_caption(i: int) -> tuple[int, str]:
    """(phash, caption) of image i WITHOUT encoding — oracle fast path.
    Must stay consistent with :func:`_image_row`."""
    src = i
    dup_of = None
    if i >= 50 and i % 100 in _DUP_RESIDUES:
        src = i - 50
        dup_of = f"img{src:010d}"
    w = _SIZES[int(_u01(src, 1) * 3)]
    h = _SIZES[int(_u01(src, 2) * 3)]
    px = make_pixels(f"img{i:010d}", w, h, dup_of=dup_of)
    return phash64(px), _caption_for(src)


def generate_images(spark: SparkSession, n: int, parts: int | None = None) -> DataFrame:
    """The ground Iceberg-shaped table of image+caption pairs (input_hint).

    ``(image_id, bytes, w, h, fmt, caption, phash)``; ~2% exact-duplicate
    rows (same pixels + phash, own image_id) to exercise content dedup
    (reference C15, crawler/HashingManager.java:21-56).

    Optimization round 6 (guide §4.1/§6): per-column expressions instead of
    one opaque mapInPandas, so the table behaves like a columnar store:
    image_id/w/h/fmt are pure JVM (the _u01 size/format draws are exact
    integer+IEEE arithmetic), and bytes / caption / phash are separate
    Arrow UDFs — a reader that needs only the light metadata (the recrawl
    classification reads (image_id, phash, caption)) never runs the PNG
    encoder, and a pushable filter on image_id row-prunes pixel synthesis
    itself. Values are bit-identical to :func:`_image_row` (asserted in
    tests/test_codec_datagen.py)."""
    from pyspark.sql.functions import pandas_udf

    from navi_spark.sources.codec import make_pixels_batch, phash64_batch

    def _src(ids: pd.Series) -> np.ndarray:
        idx = ids.to_numpy()
        dup = (idx >= 50) & np.isin(idx % 100, _DUP_RESIDUES)
        return np.where(dup, idx - 50, idx)

    def _shape_groups(ids: pd.Series):
        """Rows grouped by (w, h) so pixel synthesis runs through the
        batched kernel (guide §4.2) — the seed key is always img<src>
        (make_pixels keys on dup_of when set, which IS img<src>)."""
        src = _src(ids)
        w = np.take(_SIZES, (_u01_vec(src, 1) * 3).astype(np.int64))
        h = np.take(_SIZES, (_u01_vec(src, 2) * 3).astype(np.int64))
        for wv in _SIZES:
            for hv in _SIZES:
                sel = np.nonzero((w == wv) & (h == hv))[0]
                if len(sel):
                    keys = [f"img{s:010d}" for s in src[sel]]
                    yield sel, keys, wv, hv

    @pandas_udf("binary")
    def _bytes(ids: pd.Series) -> pd.Series:
        src = _src(ids)
        fmt_png = _u01_vec(src, 3) < 0.8
        out = [None] * len(ids)
        for sel, keys, wv, hv in _shape_groups(ids):
            pxs = make_pixels_batch(keys, wv, hv)
            for p, r in enumerate(sel):
                out[r] = encode_image(
                    pxs[p], "png" if fmt_png[r] else "jpeg"
                )
        return pd.Series(out)

    @pandas_udf("string")
    def _caption(ids: pd.Series) -> pd.Series:
        return pd.Series([_caption_for(int(s)) for s in _src(ids)])

    @pandas_udf("long")
    def _phash(ids: pd.Series) -> pd.Series:
        out = np.empty(len(ids), dtype=np.int64)
        for sel, keys, wv, hv in _shape_groups(ids):
            out[sel] = phash64_batch(make_pixels_batch(keys, wv, hv))
        return pd.Series(out, dtype="int64")

    rng = spark.range(n, numPartitions=parts) if parts else spark.range(n)
    idc = F.col("id")
    src = F.when(
        (idc >= 50) & F.pmod(idc, F.lit(100)).isin(*_DUP_RESIDUES), idc - 50
    ).otherwise(idc)
    sizes = F.array(*[F.lit(s) for s in _SIZES])
    return rng.select(
        F.format_string("img%010d", idc).alias("image_id"),
        _bytes("id").alias("bytes"),
        F.element_at(sizes, (_u01_expr(src, 1) * 3).cast("int") + 1).alias("w"),
        F.element_at(sizes, (_u01_expr(src, 2) * 3).cast("int") + 1).alias("h"),
        F.when(_u01_expr(src, 3) < 0.8, "png").otherwise("jpeg").alias("fmt"),
        _caption("id").alias("caption"),
        _phash("id").alias("phash"),
    )


# ---------------------------------------------------------------------------
# URL universe + link graph
# ---------------------------------------------------------------------------


def host_name(hid: int, n_hosts: int) -> str:
    """Host names include the C3 rewrite families (www/www2/.eg)."""
    base = f"host{hid}.test"
    m = hid % 17
    if m == 3:
        return f"www.{base}"      # normalizes back to base (C3 rule 8)
    if m == 5:
        return f"www2.{base}"
    if m == 7:
        return f"{base}.eg"       # ".eg" suffix strip → back to base
    return base


def canonical_host(hid: int) -> str:
    """What C3 normalization maps :func:`host_name` onto."""
    return f"host{hid}.test"


def host_id_for(i: int, n_hosts: int) -> int:
    """Zipf-ish skew: host 0 is the hot host (north-rule salting target)."""
    u = _u01(i, 11)
    return int(n_hosts * (u**3.0)) % n_hosts


def canonical_url(i: int, n_hosts: int) -> str:
    return f"https://{canonical_host(host_id_for(i, n_hosts))}/p/{i}"


def dirty_url(i: int, n_hosts: int) -> str:
    """A raw URL that C3-normalizes exactly to :func:`canonical_url`.

    Variants cycle through the normalizer's rules: case, scheme omission,
    default port, query string, trailing slash, percent-encoding, and the
    www/www2/.eg host spellings (all identity-preserving under C3; the
    '#fragment' quirk is NOT identity-preserving — see urlnorm docstring —
    so fragments are excluded here and tested separately).
    """
    hid = host_id_for(i, n_hosts)
    host = host_name(hid, n_hosts)
    path = f"/p/{i}"
    v = i % 8
    if v == 0:
        return f"https://{host}{path}"
    if v == 1:
        return f"HTTPS://{host.upper()}{path.upper()}"
    if v == 2:
        return f"{host}{path}"                      # no scheme
    if v == 3:
        return f"https://{host}:443{path}"          # default port
    if v == 4:
        return f"https://{host}{path}?utm=x&y=1"    # query dropped
    if v == 5:
        return f"https://{host}{path}/"             # trailing slash
    if v == 6:
        s = str(i)
        return f"https://{host}/p/%{ord(s[0]):02x}{s[1:]}"  # %-encode first digit
    return f"https://{host}/./p/{i}"                # dot segment


def children_of(i: int, n_urls: int, n_hosts: int, max_children: int = 8) -> list[str]:
    """Deterministic out-links, closed over the URL universe, cycles included
    (reference C16 link extraction; graph feeds PageRank C23)."""
    k = int(_u01(i, 21) * (max_children + 1))
    return [
        canonical_url((i * 2654435761 + j * 40503 + 12345) % n_urls, n_hosts)
        for j in range(k)
    ]


# ---------------------------------------------------------------------------
# vectorized URL kernels (optimization round 6, guide §4.2): the scalar
# functions above stay the parity oracles; these numpy/pandas forms compute
# the SAME values batch-at-a-time for the Arrow generators below
# (tests/test_codec_datagen.py asserts vec ≡ scalar element-by-element).
# Bit-exactness notes: the _u01 pipeline is pure 32-bit integer arithmetic
# (exact in uint64), the final /2^32 and *k truncations are IEEE-exact, and
# u**3.0 calls the same C libm pow() from CPython and numpy.
# ---------------------------------------------------------------------------


def _u01_vec(idx: np.ndarray, salt: int) -> np.ndarray:
    x = (
        idx.astype(np.uint64) * np.uint64(2654435761)
        + np.uint64(salt * 40503 + SEED * 97)
    ) & np.uint64(0xFFFFFFFF)
    x ^= x >> np.uint64(16)
    x = (x * np.uint64(0x45D9F3B)) & np.uint64(0xFFFFFFFF)
    x ^= x >> np.uint64(16)
    return x.astype(np.float64) / 4294967296.0


def host_id_for_vec(idx: np.ndarray, n_hosts: int) -> np.ndarray:
    u = _u01_vec(idx, 11)
    return (n_hosts * (u ** 3.0)).astype(np.int64) % n_hosts


def host_name_vec(hid: np.ndarray) -> pd.Series:
    base = "host" + pd.Series(hid).astype(str) + ".test"
    m = hid % 17
    out = base.copy()
    out[m == 3] = "www." + base
    out[m == 5] = "www2." + base
    out[m == 7] = base + ".eg"
    return out


def canonical_url_vec(idx: np.ndarray, n_hosts: int) -> pd.Series:
    hid = host_id_for_vec(idx, n_hosts)
    return (
        "https://host" + pd.Series(hid).astype(str) + ".test/p/"
        + pd.Series(idx).astype(str)
    )


def dirty_url_vec(idx: np.ndarray, n_hosts: int) -> pd.Series:
    hid = host_id_for_vec(idx, n_hosts)
    host = host_name_vec(hid)
    i_s = pd.Series(idx).astype(str)
    path = "/p/" + i_s
    v = idx % 8
    out = ("https://" + host + path).copy()          # v == 0
    m = v == 1
    out[m] = "HTTPS://" + host[m].str.upper() + path[m].str.upper()
    m = v == 2
    out[m] = host[m] + path[m]
    m = v == 3
    out[m] = "https://" + host[m] + ":443" + path[m]
    m = v == 4
    out[m] = "https://" + host[m] + path[m] + "?utm=x&y=1"
    m = v == 5
    out[m] = "https://" + host[m] + path[m] + "/"
    m = v == 6
    # ord('0'..'9') is 0x30..0x39, so "%{ord(s[0]):02x}" is always "3"+s[0]
    out[m] = "https://" + host[m] + "/p/%3" + i_s[m].str[0] + i_s[m].str[1:]
    m = v == 7
    out[m] = "https://" + host[m] + "/./p/" + i_s[m]
    return out


def _children_lists(
    idx: np.ndarray, n_urls: int, n_hosts: int, dirty: bool,
    max_children: int = 8, extra_version: int = 0,
) -> pd.Series:
    """Vectorized children_of / children_dirty (+ web drift link): the k
    per-row link counts and all candidate child URL strings are computed
    batch-at-a-time; only the final per-row list slicing is a Python loop."""
    k = (_u01_vec(idx, 21) * (max_children + 1)).astype(np.int64)
    build = dirty_url_vec if dirty else canonical_url_vec
    cols = [
        build((idx * 2654435761 + j * 40503 + 12345) % n_urls, n_hosts)
        .to_numpy()
        for j in range(max_children)
    ]
    if extra_version:
        extra = dirty_url_vec(
            (idx * 31 + extra_version * 17) % n_urls, n_hosts
        ).to_numpy()
        even = idx % 2 == 0
        return pd.Series(
            [
                [cols[j][r] for j in range(k[r])] + ([extra[r]] if even[r] else [])
                for r in range(len(idx))
            ]
        )
    return pd.Series(
        [[cols[j][r] for j in range(k[r])] for r in range(len(idx))]
    )


def _u01_expr(idc, salt: int):
    """JVM twin of :func:`_u01` — same 32-bit integer pipeline as Catalyst
    column expressions (exact: every step fits a long; /2^32 on a < 2^32
    integer is IEEE-exact). Lets light generator columns (depth_hint,
    image ids, sizes) evaluate without any Python at all."""
    x = (idc * F.lit(2654435761) + F.lit(salt * 40503 + SEED * 97)).bitwiseAND(
        F.lit(0xFFFFFFFF)
    )
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = (x * F.lit(0x45D9F3B)).bitwiseAND(F.lit(0xFFFFFFFF))
    x = x.bitwiseXOR(F.shiftright(x, 16))
    return x.cast("double") / F.lit(4294967296.0)


def _host_id_expr(idc, n_hosts: int):
    """JVM twin of :func:`host_id_for`. The one non-integer step is
    pow(u, 3.0); Java Math.pow and C libm pow were compared element-wise
    over ids 0..10M for every n_hosts the fixtures use (10..4000) with
    zero diffs (OPTIMIZATION_r06.md), and the vec/scalar parity test
    would catch any future divergence on the tested range."""
    u = _u01_expr(idc, 11)
    return F.pmod(
        (F.lit(float(n_hosts)) * F.pow(u, F.lit(3.0))).cast("long"),
        F.lit(n_hosts),
    )


def _host_name_expr(hid):
    base = F.format_string("host%d.test", hid)
    m = F.pmod(hid, F.lit(17))
    return (
        F.when(m == 3, F.concat(F.lit("www."), base))
        .when(m == 5, F.concat(F.lit("www2."), base))
        .when(m == 7, F.concat(base, F.lit(".eg")))
        .otherwise(base)
    )


def _canonical_url_expr(idc, n_hosts: int):
    return F.format_string(
        "https://host%d.test/p/%d", _host_id_expr(idc, n_hosts), idc
    )


def _dirty_url_expr(idc, n_hosts: int):
    """JVM twin of :func:`dirty_url` — all 8 variants as when() branches
    (v==1 uses upper() of the whole URL: scheme/path are caseless digits,
    so it equals the scalar's host.upper()+path.upper())."""
    hid = _host_id_expr(idc, n_hosts)
    host = _host_name_expr(hid)
    i_s = idc.cast("string")
    path = F.concat(F.lit("/p/"), i_s)
    std = F.concat(F.lit("https://"), host, path)
    v = F.pmod(idc, F.lit(8))
    return (
        F.when(v == 1, F.upper(std))
        .when(v == 2, F.concat(host, path))
        .when(v == 3, F.concat(F.lit("https://"), host, F.lit(":443"), path))
        .when(v == 4, F.concat(std, F.lit("?utm=x&y=1")))
        .when(v == 5, F.concat(std, F.lit("/")))
        # ord('0'..'9') is 0x30..0x39 → "%{ord(s[0]):02x}" ≡ "3"+s[0]
        .when(v == 6, F.concat(
            F.lit("https://"), host, F.lit("/p/%3"),
            F.substring(i_s, 1, 1), F.substring(i_s, 2, 18),
        ))
        .when(v == 7, F.concat(F.lit("https://"), host, F.lit("/./p/"), i_s))
        .otherwise(std)
    )


def generate_urls(
    spark: SparkSession,
    n_urls: int,
    n_hosts: int = 100,
    parts: int | None = None,
    dirty: bool = True,
    with_children: bool = True,
) -> DataFrame:
    """URL table ``(url, host, image_id, depth_hint, children)``.

    ``url`` is the RAW (dirty) spelling when ``dirty=True`` — the frontier
    pipeline must canonicalize it. ``host`` is the canonical host (ground
    truth for assertions only; the engine re-derives it).

    Optimization round 6 (guide §4.1/§6): the table is no longer one opaque
    mapInPandas — each column is its own expression, and every column
    except the children lists is PURE JVM (the pow() in the host hash was
    verified bit-identical Java-vs-C over the full fixture domain — see
    _host_id_expr). Spark's column pruning and filter pushdown now reach
    the generator, so a consumer that selects only ``url`` (the bench
    frontier) runs no Python at all — the per-task Python runner handshake
    alone cost ~0.7 s at 500k×64 partitions — and a pushable filter
    row-prunes generation itself. Values are element-wise identical to the
    scalar kernels (asserted in tests)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _children(ids: pd.Series) -> pd.Series:
        return _children_lists(
            ids.to_numpy(), n_urls, n_hosts, dirty=False
        ).reset_index(drop=True)

    rng = spark.range(n_urls, numPartitions=parts) if parts else spark.range(n_urls)
    idc = F.col("id")
    children_col = (
        _children("id") if with_children
        else F.array().cast("array<string>")
    )
    url = (_dirty_url_expr(idc, n_hosts) if dirty
           else _canonical_url_expr(idc, n_hosts))
    return rng.select(
        url.alias("url"),
        F.format_string("host%d.test", _host_id_expr(idc, n_hosts)
                        ).alias("host"),
        F.format_string("img%010d", F.pmod(idc, F.lit(max(n_urls, 1)))
                        ).alias("image_id"),
        (_u01_expr(idc, 31) * 6).cast("int").alias("depth_hint"),
        children_col.alias("children"),
    )


def generate_seeds(n_seeds: int, n_urls: int, n_hosts: int = 100) -> list[str]:
    """Seed list (mirrors backend/navi/Data/seed.txt — ~30 URLs, some dirty,
    ≥1 duplicate-after-normalization pair, FIXTURES.md §3)."""
    step = max(n_urls // max(n_seeds, 1), 1)
    seeds = [dirty_url(i * step, n_hosts) for i in range(n_seeds)]
    if n_seeds >= 2:
        # duplicate-after-normalization: dirty + canonical spellings of url 0
        seeds.append(canonical_url(0, n_hosts))
    return seeds


WEB_SCHEMA = (
    "url string, image_id string, children array<string>, honors_304 boolean"
)


def fetch_fails(i: int) -> bool:
    """~3% of URLs have a dangling image reference → deterministic fetch
    failure (stands in for the reference's HTTP errors/304s/non-HTML,
    crawler/WebCrawler.java:175-230 null returns)."""
    return _u01(i, 41) < 0.03


def children_dirty(i: int, n_urls: int, n_hosts: int, max_children: int = 8) -> list[str]:
    """Out-links in their RAW spellings — the frontier must canonicalize
    them (reference normalizes during link extraction, WebCrawler.java:507)."""
    k = int(_u01(i, 21) * (max_children + 1))
    return [
        dirty_url((i * 2654435761 + j * 40503 + 12345) % n_urls, n_hosts)
        for j in range(k)
    ]


def web_image_id(i: int, n_images: int, version: int = 0) -> str:
    """image_id served at `url i` in web `version` (C21 drift model):
    version>0 repoints every 3rd page at a different image — a content
    change whose validators (etag/Last-Modified = f(payload)) stop
    matching, exactly how a real server signals modification."""
    if fetch_fails(i):
        return f"imgmissing{i:07d}"
    base = i % n_images
    if version and i % 3 == 0:
        base = (i + version) % n_images
    return f"img{base:010d}"


def web_children(i: int, n_urls: int, n_hosts: int, version: int = 0) -> list[str]:
    """Out-links at `url i` in web `version`: version>0 appends one extra
    link to every 2nd page (link-structure drift). Note the reference only
    OBSERVES a link change when the content hash also changed
    (WebCrawler.java:705-717 keeps old children on equal hash) — so only
    pages with BOTH drifts (i % 6 == 0 here) flip link_structure_changed."""
    ch = children_dirty(i, n_urls, n_hosts)
    if version and i % 2 == 0:
        ch = ch + [dirty_url((i * 31 + version * 17) % n_urls, n_hosts)]
    return ch


def host_supports_validators(host: str) -> bool:
    """Whether the synthetic server at `host` honors If-None-Match /
    If-Modified-Since: a quarter of hosts (hid % 4 == 1) ignore validators
    and always answer 200 — their unchanged pages come back as a full
    fetch with an equal content hash, the reference recrawl's 'unchanged'
    branch (WebCrawler.java:709-718); validator-honoring hosts 304 instead
    (the doc==null keep-old branch at :680-699)."""
    import re as _re

    m = _re.match(r"host(\d+)\.test$", host)
    return m is None or int(m.group(1)) % 4 != 1


def generate_web(
    spark: SparkSession,
    n_urls: int,
    n_hosts: int = 100,
    n_images: int | None = None,
    parts: int | None = None,
    version: int = 0,
) -> DataFrame:
    """The synthetic fetchable web: ``(url, image_id, children)`` keyed by
    CANONICAL url. ``image_id`` dangles for ~3% of rows (fetch failure);
    children are dirty spellings closed over the URL universe. `version`
    models server-side drift between a crawl and a recrawl (C21)."""
    n_images = n_images if n_images is not None else n_urls

    # Optimization round 6 (guide §4.1/§6): per-column expressions instead
    # of one opaque mapInPandas. The recrawl classification join selects
    # only (url, image_id, honors_304) — ALL pure JVM now — so the
    # CHILDREN column, by far the heaviest (per-row Python list of
    # dirty-spelled URLs), is pruned out of the plan entirely and no
    # Python worker is touched; a pushable filter on url/image_id
    # row-prunes generation. honors_304 ≡ host_supports_validators:
    # hid % 4 != 1 with the same allow-on-no-match default.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _children(ids: pd.Series) -> pd.Series:
        return _children_lists(
            ids.to_numpy(), n_urls, n_hosts, dirty=True,
            extra_version=version,
        ).reset_index(drop=True)

    rng = spark.range(n_urls, numPartitions=parts) if parts else spark.range(n_urls)
    idc = F.col("id")
    fails = _u01_expr(idc, 41) < 0.03
    base = F.pmod(idc, F.lit(n_images))
    if version:
        base = F.when(
            F.pmod(idc, F.lit(3)) == 0, F.pmod(idc + version, F.lit(n_images))
        ).otherwise(base)
    image_id = F.when(
        fails, F.format_string("imgmissing%07d", idc)
    ).otherwise(F.format_string("img%010d", base))
    honors = F.pmod(_host_id_expr(idc, n_hosts), F.lit(4)) != 1
    return rng.select(
        _canonical_url_expr(idc, n_hosts).alias("url"),
        image_id.alias("image_id"),
        _children("id").alias("children"),
        honors.alias("honors_304"),
    )


# ---------------------------------------------------------------------------
# robots.txt
# ---------------------------------------------------------------------------

ROBOTS_SCHEMA = "host string, robots_txt string, crawl_delay_s double"


def robots_txt_for(hid: int) -> str | None:
    """Per-host robots.txt text (FIXTURES.md §4). None = host 404s → allow-all
    (reference RobotServer.java:54-57). Rules exercise wildcard conversion,
    longest-pattern-first precedence, and allow-on-no-match."""
    m = hid % 10
    if m in (0, 1, 2, 3):
        return None  # 40% of hosts have no robots.txt
    if m == 4:
        return "User-agent: *\nDisallow: /private\n"
    if m == 5:
        return (
            "# block the p/1xx range, allow a specific page\n"
            "User-agent: *\n"
            "Disallow: /p/1*\n"
            "Allow: /p/12*\n"
        )
    if m == 6:
        return "User-agent: *\nDisallow: /\nAllow: /p/\n"
    if m == 7:
        return "User-agent: bingbot\nDisallow: /\n"  # only '*' consulted → allow
    if m == 8:
        return "User-agent: *\nCrawl-delay: 2\nDisallow: /p/3*\n"
    return "User-agent: *\nAllow: /\n"


def crawl_delay_for(hid: int) -> float:
    """North-rule extension: per-host crawl-delay budget (reference has a
    page-cap only — SURVEY.md C8)."""
    return 2.0 if hid % 10 == 8 else 0.0


def generate_robots(spark: SparkSession, n_hosts: int = 100) -> DataFrame:
    rows = [
        (canonical_host(h), robots_txt_for(h), crawl_delay_for(h))
        for h in range(n_hosts)
        if robots_txt_for(h) is not None
    ]
    if not rows:
        return spark.createDataFrame([], ROBOTS_SCHEMA)
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic audio / video payloads (multimodal pipeline)
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = "audio_id string, bytes binary, codec string, sample_rate int"
VIDEO_SCHEMA = "video_id string, bytes binary, container string"

AUDIO_SAMPLE_RATE = 16_000
VIDEO_W, VIDEO_H = 16, 12
VIDEO_MAGIC = b"NVID"


def audio_params(i: int) -> tuple[int, int]:
    """(n_samples, amplitude) of clip i — closed-form so tests can state
    the decoder's expected outputs (a ±A square wave has peak = A,
    mean|x| = A and RMS = A exactly, integer-exact in IEEE double)."""
    return 8_000 + (i * 37) % 8_000, 1_000 + (i * 97) % 20_000


def audio_wav_bytes(i: int) -> bytes:
    """A real RIFF/WAVE payload (PCM16 mono): period-2 square wave of
    amplitude A — decodable by any WAV reader, stdlib `wave` included."""
    import io
    import wave as wave_mod

    n, amp = audio_params(i)
    x = np.empty(n, dtype=np.int16)
    x[0::2] = amp
    x[1::2] = -amp
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(AUDIO_SAMPLE_RATE)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def generate_audio(spark: SparkSession, n: int, parts: int | None = None) -> DataFrame:
    """Opaque-binary audio table: (audio_id, bytes, codec, sample_rate)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            idx = [int(i) for i in b["id"]]
            yield pd.DataFrame(
                {
                    "audio_id": [f"aud{i:08d}" for i in idx],
                    "bytes": [audio_wav_bytes(i) for i in idx],
                    "codec": ["wav"] * len(idx),
                    "sample_rate": [AUDIO_SAMPLE_RATE] * len(idx),
                }
            )

    rng = spark.range(n, numPartitions=parts) if parts else spark.range(n)
    return rng.mapInPandas(gen, AUDIO_SCHEMA)


def video_params(i: int) -> int:
    """n_frames of clip i — closed-form, so tests can state it."""
    return 10 + i % 20


def video_frame_value(i: int, j: int) -> int:
    """Constant pixel value of frame j in clip i (mean is then exact)."""
    return (i * 7 + j * 13) % 256


def video_container_bytes(i: int) -> bytes:
    """The synthetic raw-frame container: magic 'NVID' + n_frames/w/h
    uint32 LE header, then n_frames × (h·w·3) RGB24 frames."""
    import struct

    n_frames = video_params(i)
    head = VIDEO_MAGIC + struct.pack(
        "<III", n_frames, VIDEO_W, VIDEO_H
    )
    frames = b"".join(
        bytes([video_frame_value(i, j)]) * (VIDEO_W * VIDEO_H * 3)
        for j in range(n_frames)
    )
    return head + frames


def generate_video(spark: SparkSession, n: int, parts: int | None = None) -> DataFrame:
    """Opaque-binary video table: (video_id, bytes, container)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            idx = [int(i) for i in b["id"]]
            yield pd.DataFrame(
                {
                    "video_id": [f"vid{i:08d}" for i in idx],
                    "bytes": [video_container_bytes(i) for i in idx],
                    "container": ["nvid"] * len(idx),
                }
            )

    rng = spark.range(n, numPartitions=parts) if parts else spark.range(n)
    return rng.mapInPandas(gen, VIDEO_SCHEMA)
