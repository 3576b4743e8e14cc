"""Geotagging front-end: coordinate extraction from web-page text (G21).

North-star requirement (BASELINE.json): extract coordinates from `text`
with vectorized Arrow UDFs, byte-identical extracted span per url. The
extractor is deterministic: scan matches left-to-right, first IN-RANGE
match wins; out-of-range values are rejected and scanning continues.

Supported formats (FIXTURES.md §1):
  * decimal pair:        "48.8566, 2.3522"   (comma or comma+space)
  * parenthesised pair:  "(48.8566,2.3522)"
  * hemisphere-suffixed: "48.8566N, 2.3522E" (also S/W)
"""

from __future__ import annotations

import logging
import re

import numpy as np
import pandas as pd

_log = logging.getLogger(__name__)

_NUM = r"[+-]?\d{1,3}\.\d{1,6}"

# one combined pattern; group layout distinguishes the formats
COORD_RE = re.compile(
    r"(?P<paren>\((?P<plat>" + _NUM + r"),\s?(?P<plon>" + _NUM + r")\))"
    r"|(?P<hemi>(?P<hlat>" + _NUM + r")\s?(?P<ns>[NS]),\s?(?P<hlon>" + _NUM + r")\s?(?P<ew>[EW]))"
    r"|(?P<plain>(?P<dlat>" + _NUM + r"),\s?(?P<dlon>" + _NUM + r"))"
)


def extract_one(text: str):
    """Return (lat, lon, matched_span) for the first in-range coordinate
    mention, else None. matched_span is the exact substring (byte-identical
    invariant is checked on its UTF-8 encoding)."""
    if not text:
        return None
    for m in COORD_RE.finditer(text):
        if m.group("paren"):
            lat_s, lon_s = m.group("plat"), m.group("plon")
        elif m.group("hemi"):
            lat_s, lon_s = m.group("hlat"), m.group("hlon")
        else:
            lat_s, lon_s = m.group("dlat"), m.group("dlon")
        lat = float(lat_s)
        lon = float(lon_s)
        if m.group("hemi"):
            if m.group("ns") == "S":
                lat = -lat
            if m.group("ew") == "W":
                lon = -lon
        # reject out-of-range junk (FIXTURES.md §1); Web-Mercator clamps
        # latitude to the slippy limit
        if -90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0 and abs(lat) <= 85.06:
            return (lat, lon, m.group(0))
    return None


def _extract_batch_perrow(texts: pd.Series) -> pd.DataFrame:
    lats = np.full(len(texts), np.nan)
    lons = np.full(len(texts), np.nan)
    spans = [None] * len(texts)
    for i, t in enumerate(texts):
        r = extract_one(t)
        if r is not None:
            lats[i], lons[i], spans[i] = r
    return pd.DataFrame({"lat": lats, "lon": lons, "span": spans})


def extract_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized batch extraction for Arrow UDFs: Series[str] ->
    DataFrame(lat float64, lon float64, span str) with NaN/None misses.

    Fast path: pyarrow's re2-backed extract_regex evaluates the SAME
    pattern C++-side (~5x the per-row Python scan). re2 yields only the
    first match, so rows whose first mention is out of range — where
    extract_one would keep scanning — drop to the per-row path; the
    Python regex stays authoritative."""
    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        arr = pa.Array.from_pandas(texts, type=pa.string())
        # re2's \s and \d are ASCII-only while the authoritative Python
        # COORD_RE is Unicode-aware (NBSP separators, Unicode digits).
        # Gate the fast path per row: non-ASCII rows are re-scanned by the
        # per-row engine below, so the fast path never decides them.
        nonascii = pc.invert(
            pc.match_substring_regex(arr, r"^[\x00-\x7F]*$"))
        nonascii_np = nonascii.to_numpy(zero_copy_only=False)
        nonascii_np = np.where(pd.isna(nonascii_np), False,
                               nonascii_np).astype(bool)
        ext = pc.extract_regex(arr, pattern=COORD_RE.pattern)
    except pa.ArrowException as e:
        _log.warning("extract fallback: Arrow regex path failed, scanning "
                     "%d rows one at a time (%s)", len(texts), e)
        return _extract_batch_perrow(texts)

    # branch selection, float parsing, and span pick all run as arrow
    # kernels — the only object-space materialization is the final span
    # column (strings selected by the regex are clean _NUM tokens, so
    # the arrow string->double cast is safe; null no-match rows
    # propagate through if_else/cast to NaN)
    # no-match rows are null STRUCTS whose child fields read as valid
    # '' — mask through the struct validity before branching/casting
    valid = ext.is_valid()
    nulls = pa.scalar(None, type=pa.string())
    paren, hemi, plain = (pc.if_else(valid, ext.field("paren"), nulls),
                          pc.if_else(valid, ext.field("hemi"), nulls),
                          pc.if_else(valid, ext.field("plain"), nulls))
    isp = pc.not_equal(paren, "")
    ish = pc.not_equal(hemi, "")
    lat_s = pc.if_else(isp, ext.field("plat"),
                       pc.if_else(ish, ext.field("hlat"),
                                  ext.field("dlat")))
    lon_s = pc.if_else(isp, ext.field("plon"),
                       pc.if_else(ish, ext.field("hlon"),
                                  ext.field("dlon")))
    lat = pc.cast(lat_s, pa.float64()).to_numpy(zero_copy_only=False)
    lon = pc.cast(lon_s, pa.float64()).to_numpy(zero_copy_only=False)
    matched = valid.to_numpy(zero_copy_only=False)
    ish_np = np.where(matched,
                      ish.to_numpy(zero_copy_only=False), False) \
        .astype(bool)
    neg_lat = ish_np & (pc.equal(ext.field("ns"), "S")
                        .to_numpy(zero_copy_only=False) == True)  # noqa: E712
    neg_lon = ish_np & (pc.equal(ext.field("ew"), "W")
                        .to_numpy(zero_copy_only=False) == True)  # noqa: E712
    lat = np.where(neg_lat, -lat, lat)
    lon = np.where(neg_lon, -lon, lon)
    span = (pc.if_else(isp, paren, pc.if_else(ish, hemi, plain))
            .to_pandas().values)

    in_range = ((lat >= -90.0) & (lat <= 90.0) & (np.abs(lat) <= 85.06)
                & (lon >= -180.0) & (lon <= 180.0))
    ok = matched & in_range
    lats = np.where(ok, lat, np.nan)
    lons = np.where(ok, lon, np.nan)
    spans = np.where(ok, span, None)

    # first mention out of range: extract_one keeps scanning — rerun
    # those rows (rare: junk-leading pages) through the per-row path.
    # Non-ASCII rows always rerun: re2's ASCII \s/\d may have missed or
    # mis-picked the span, so the Python engine fully overrides them.
    retry = np.flatnonzero((matched & ~in_range) | nonascii_np)
    if len(retry):
        sub = _extract_batch_perrow(texts.iloc[retry])
        lats[retry] = sub["lat"].values
        lons[retry] = sub["lon"].values
        spans[retry] = sub["span"].values
    return pd.DataFrame({"lat": lats, "lon": lons,
                         "span": pd.Series(spans, dtype=object)})


def geotag_pages(pages_df, text_col: str = "text", url_col: str = "url"):
    """pages DataFrame -> geotagged points DataFrame
    (url, lang, lat, lon, span, way:binary WKB EPSG:3857).

    Runs as one mapInPandas pass (Arrow-batched, no per-row Python at the
    plan level); rows with no coordinate mention are dropped.
    """
    from pyspark.sql import functions as F
    from .mercator import lonlat_to_merc
    from .geom.wkb import write_points

    # JVM-side prefilter: every coordinate mention contains a
    # digit.digit token, so the no-match majority of a real crawl is
    # skipped before any bytes cross into Python (rlike is a cheap
    # codegen'd scan predicate; the Python regex stays authoritative).
    # \d\.\d is the minimal sufficient form — as a contains-predicate it
    # accepts exactly the rows \d{1,3}\.\d does (the quantifier's
    # minimum is 1) and the simpler machine scans measurably faster.
    # (?U) = Java UNICODE_CHARACTER_CLASS so \d matches the same Unicode
    # digits Python's re does — without it the prefilter would drop rows
    # the authoritative extractor can parse (float() accepts Unicode
    # decimal digits).
    pages_df = pages_df.filter(
        F.col(text_col).rlike(r"(?U)\d\.\d"))

    out_schema = ("url string, lang string, lat double, lon double, "
                  "mx double, my double, span string, way binary")

    def run(iterator):
        for pdf in iterator:
            ext = extract_batch(pdf[text_col])
            mask = ~ext["lat"].isna()
            if not mask.any():
                continue
            sub = pdf[mask.values]
            lat = ext["lat"][mask].values
            lon = ext["lon"][mask].values
            mx, my = lonlat_to_merc(lon, lat)
            yield pd.DataFrame({
                "url": sub[url_col].values,
                "lang": sub["lang"].values if "lang" in sub else None,
                "lat": lat,
                "lon": lon,
                "mx": mx,
                "my": my,
                "span": ext["span"][mask].values,
                "way": write_points(mx, my),
            })

    return pages_df.mapInPandas(run, schema=out_schema)
