"""Fetch + payload validation stage (reference ops C13-C15 support).

The reference's fetch is a Jsoup HTTP GET with conditional-GET validators and
a content-type/language gate (`crawler/WebCrawler.java:175-237`). In this
graft the "fetch" resolves a frontier URL against the synthetic web graph and
decodes the image payload from the ground image+caption table, validating the
per-row invariant from BASELINE.json input_hint:

  * decoded pixels allclose to the seeded source pattern — exact for PNG,
    PSNR ≥ 40 dB for the lossy format,
  * caption string equality,
  * dimensions match the (w, h) columns.

Validation runs in ONE Arrow-batched pandas UDF over the joined rows (bytes
never leave the JVM except through Arrow); the language filter (C14:
>10% non-ASCII body ⇒ drop, `WebCrawler.java:232-237`) is a pure Catalyst
expression, JVM-side.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from navi_spark.sources.codec import decode_image, make_pixels, psnr
from navi_spark.sources.datagen import _caption_for


@pandas_udf(StringType())
def validate_payload_udf(
    image_id: pd.Series,
    data: pd.Series,
    fmt: pd.Series,
    w: pd.Series,
    h: pd.Series,
    caption: pd.Series,
) -> pd.Series:
    """→ None when the payload passes, else a short failure reason.

    Recomputes the deterministic source pattern per image_id (the synthetic
    store's ground truth) and checks decode / PSNR / caption. Dup rows
    (datagen residues 57/83) carry their source image's pattern; we accept
    either spelling by comparing against the row's own decode contract:
    exact for png, >=40 dB for jpeg, against EITHER own-id or caption-implied
    source — the caption encodes the source id deterministically, so caption
    equality + pixel check against the caption's pattern is the invariant.
    """

    def one(iid, b, f, ww, hh, cap):
        if b is None or f is None:
            return "missing-payload"
        try:
            px = decode_image(bytes(b), f)
        except Exception as e:  # corrupt payload
            return f"decode-error:{type(e).__name__}"
        if px.shape != (int(hh), int(ww), 3):
            return "dims-mismatch"
        # source pattern: own id, else (dup rows) the i-50 source id
        candidates = [iid]
        try:
            i = int(iid[3:])
            if i >= 50 and i % 100 in (57, 83):
                candidates.append(f"img{i - 50:010d}")
        except ValueError:
            pass
        best = -1.0
        for src in candidates:
            ref = make_pixels(iid, int(ww), int(hh)) if src == iid else make_pixels(
                iid, int(ww), int(hh), dup_of=src
            )
            if f == "png":
                if (px == ref).all():
                    break
            else:
                best = max(best, psnr(ref, px))
                if best >= 40.0:
                    break
        else:
            return "pixels-mismatch" if f == "png" else f"psnr-low:{best:.1f}"
        # caption equality vs the deterministic generator contract
        try:
            i = int(iid[3:])
            src_i = i - 50 if (i >= 50 and i % 100 in (57, 83)) else i
            if cap != _caption_for(src_i):
                return "caption-mismatch"
        except ValueError:
            if cap is None:
                return "caption-mismatch"
        return None

    return pd.Series(
        [one(*args) for args in zip(image_id, data, fmt, w, h, caption)],
        dtype=object,
    )


# The validator IS a pure function of its inputs, but Catalyst must never
# relocate or clone it: left as deterministic, the optimizer (a) pushes
# _fail-referencing predicates through the fetch join and re-evaluates the
# decode below it, and (b) collapses the verdict projection under the
# store semi-join — both measured on a 4M-image store as a full-store
# decode (~1,100 python-core-s, 5x the attempted sliver) with the UDF
# appearing TWICE in the executed plan. asNondeterministic() is Spark's
# supported pin for exactly this: evaluate once, where written
# (tests/test_plans.py asserts the decode stays above the semi-join).
validate_payload_udf = validate_payload_udf.asNondeterministic()


def payload_etag(phash_col: str = "phash", caption_col: str = "caption") -> Column:
    """Synthetic server ETag (C13): an opaque validator that is a pure
    function of the payload version, so it changes exactly when content
    does — the contract If-None-Match relies on (WebCrawler.java:181-183,
    222-224: the reference stores the response ETag on the Url)."""
    return F.format_string(
        '"%x"', F.xxhash64(F.col(phash_col), F.col(caption_col))
    )


def payload_last_modified(phash_col: str = "phash") -> Column:
    """Synthetic Last-Modified header (C13): deterministic per payload
    version (WebCrawler.java:185-187, 225-227).

    Rendered with PURE epoch/date arithmetic: DateType math and its field
    extractors are timezone-free, so the string is byte-identical under
    every session timezone — including epochs inside a DST transition
    window, where the previous to_utc_timestamp(ts, current_timezone()) +
    date_format round-trip could land an hour off (the shift and the
    render consult the zone at two different instants)."""
    epoch = F.lit(1_500_000_000) + F.pmod(F.xxhash64(F.col(phash_col)),
                                          F.lit(300_000_000))
    days = F.floor(epoch / F.lit(86400)).cast("int")
    secs = F.pmod(epoch, F.lit(86400))
    d = F.date_add(F.to_date(F.lit("1970-01-01")), days)
    dow = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat")]),
        F.dayofweek(d),
    )
    mon = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
                   "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")]),
        F.month(d),
    )
    return F.format_string(
        "%s, %02d %s %d %02d:%02d:%02d GMT",
        dow, F.dayofmonth(d), mon, F.year(d),
        F.floor(secs / 3600).cast("int"),
        F.floor(F.pmod(secs, 3600) / 60).cast("int"),
        F.pmod(secs, 60).cast("int"),
    )


def recrawl_status(honors_304: Column | None = None) -> Column:
    """C13+C21: a reloaded page's conditional-GET outcome
    (WebCrawler.java:664-756 recrawlUrl), over a row that carries
    `robots_allowed`, the stored `old_phash`/`old_caption` and the live
    fetch's `new_phash`/`new_caption` (null when the fetch failed).

    `honors_304`: whether the page's server answers validators with a 304;
    None, or a null value, means it does (the reference's implicit
    assumption). The rules, first match wins:
      * robots disallows the URL ⇒ 'blocked_robots' (:670-674);
      * the fetch failed ⇒ 'touched' (doc == null, :680);
      * the server honors validators and the payload is the same ⇒ 304
        ⇒ 'touched' (:697);
      * same content hash ⇒ 'unchanged' (:709-718), even when the caption
        moved or the server ignored the validators;
      * otherwise 'changed' (:745).
    Only 'unchanged' and 'changed' consume recrawl budget."""
    honored = (
        F.coalesce(honors_304, F.lit(True)) if honors_304 is not None
        else F.lit(True)
    )
    same_payload = (
        (F.col("new_phash") == F.col("old_phash"))
        & (F.col("new_caption") == F.col("old_caption"))
    )
    return (
        F.when(~F.col("robots_allowed"), "blocked_robots")
        .when(F.col("new_phash").isNull(), "touched")
        .when(honored & same_payload, "touched")
        .when(F.col("new_phash") == F.col("old_phash"), "unchanged")
        .otherwise(F.lit("changed"))
    )


def non_ascii_ratio(col: Column) -> Column:
    """Share of non-ASCII characters (C14, WebCrawler.java:232-237)."""
    total = F.length(col)
    ascii_only = F.length(F.regexp_replace(col, r"[^\x00-\x7F]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        (total - ascii_only).cast("double") / total
    )


def language_gate(df: DataFrame, text_col: str = "caption",
                  max_non_ascii: float = 0.1) -> DataFrame:
    """Annotate `lang_ok` — JVM-side, no UDF (C14)."""
    return df.withColumn("lang_ok", non_ascii_ratio(F.col(text_col)) <= max_non_ascii)
