"""Deterministic synthetic Common-Crawl-style web-pages table.

Schema per BASELINE.json input_hint:
  url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every column is a pure function of the row id via splitmix64-style
integer hashing — NOT a sequential RNG — so generation is
parallelism-invariant (the same row id yields the same bytes whether
generated on local[1], local[32], or 1000 executors) and scale-free
(sf only changes the id range). ``text`` is produced by running the
committed extractor over ``html``, making the byte-identical invariant
true by construction and locked by goldens.

Locations: Zipf-weighted mixture over 12 city hotspots + uniform
background (FIXTURES.md §3.1) — hot cells are real, so AQE skew
handling is exercised at test scale (SURVEY.md §7.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..operators.extract import extract_text_series

SEED = 42
EPOCH_NS = np.int64(1767225600) * 1_000_000_000  # 2026-01-01T00:00:00Z

# 12 hotspot "cities" (lat, lon), Zipf-weighted w_k ∝ 1/k^1.2
CITIES = np.array([
    (40.71, -74.00), (51.51, -0.13), (35.68, 139.69), (48.86, 2.35),
    (37.77, -122.42), (52.52, 13.41), (-23.55, -46.63), (19.43, -99.13),
    (28.61, 77.21), (39.90, 116.40), (-33.87, 151.21), (55.75, 37.62),
])
_ZIPF = 1.0 / np.arange(1, 13) ** 1.2
CITY_W = _ZIPF / _ZIPF.sum()
_CITY_CDF = np.cumsum(CITY_W)
BACKGROUND_FRAC = 0.15  # of geotagged pages, share drawn uniformly
GEOTAG_FRAC = 0.70      # pages with >=1 geotag

LANGS = np.array(["en", "de", "fr", "es", "pt", "ja"])
_LW = 1.0 / np.arange(1, 7) ** 1.1
LANG_CDF = np.cumsum(_LW / _LW.sum())

_WORDS = np.array(
    "the quick brown fox jumps over lazy dog data web page crawl index "
    "spatial tile join engine spark arrow column batch vector city map "
    "geo point polygon zone query scale shuffle salt skew".split())


def _mix(v: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constant mix)."""
    with np.errstate(over="ignore"):
        v = (v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        v ^= v >> np.uint64(30)
        v *= np.uint64(0xBF58476D1CE4E5B9)
        v ^= v >> np.uint64(27)
        v *= np.uint64(0x94D049BB133111EB)
        v ^= v >> np.uint64(31)
    return v


def _u01(ids: np.ndarray, salt: int) -> np.ndarray:
    h = _mix(ids.astype(np.uint64) ^ np.uint64(_mix(
        np.array([salt + SEED], dtype=np.uint64))[0]))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def page_batch(ids: np.ndarray) -> pd.DataFrame:
    """row ids -> full page rows (the deterministic kernel)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = ids.shape[0]

    # location: geotag? city or background? jitter
    has_tag = _u01(ids, 1) < GEOTAG_FRAC
    is_bg = _u01(ids, 2) < BACKGROUND_FRAC
    city_idx = np.searchsorted(_CITY_CDF, _u01(ids, 3), side="right")
    city_idx = np.clip(city_idx, 0, len(CITIES) - 1)
    # Box-Muller from two hashed uniforms: ~10km sigma around the city
    u1 = np.clip(_u01(ids, 4), 1e-12, 1.0)
    u2 = _u01(ids, 5)
    r = np.sqrt(-2.0 * np.log(u1)) * 0.09
    lat = CITIES[city_idx, 0] + r * np.cos(2 * np.pi * u2)
    lon = CITIES[city_idx, 1] + r * np.sin(2 * np.pi * u2)
    bg_lat = _u01(ids, 6) * 170.0 - 85.0
    bg_lon = _u01(ids, 7) * 360.0 - 180.0
    lat = np.where(is_bg, bg_lat, np.clip(lat, -89.9, 89.9))
    lon = np.where(is_bg, bg_lon, ((lon + 180.0) % 360.0) - 180.0)
    lat = np.round(lat, 5)
    lon = np.round(lon, 5)

    n_tags = np.where(has_tag,
                      1 + (_u01(ids, 8) * 3).astype(np.int64), 0)  # 1..3

    lang = LANGS[np.clip(np.searchsorted(LANG_CDF, _u01(ids, 9),
                                         side="right"), 0, 5)]
    h = _mix(ids.astype(np.uint64))
    url = pd.Series([f"https://site{i % 97}.example/p/{x:016x}"
                     for i, x in zip(ids, h)], dtype=object)
    ts = pd.Series((EPOCH_NS + (ids * 37 % (90 * 86400))
                    * 1_000_000_000).view("datetime64[ns]"))

    widx = (h >> np.uint64(7)).astype(np.int64) % len(_WORDS)
    body_words = [" ".join(_WORDS[(widx[i] + k) % len(_WORDS)]
                           for k in range(8)) for i in range(n)]

    lat_s = pd.Series(lat).map("{:.5f}".format)
    lon_s = pd.Series(lon).map("{:.5f}".format)
    tag1 = np.where(
        n_tags >= 1,
        '<meta name="geo.position" content="' + lat_s + ";" + lon_s + '">',
        "")
    tag2 = np.where(
        n_tags >= 2,
        '<a href="geo:' + lat_s + "," + lon_s + '">loc</a>', "")
    tag3 = np.where(
        n_tags >= 3,
        '<div data-coords="' + lon_s + " " + lat_s + '">here</div>', "")
    html = ("<html><head><title>Page " + pd.Series(ids).astype(str)
            + "</title>" + tag1 + "</head><body><h1>Article "
            + pd.Series(ids).astype(str) + "</h1><p>"
            + pd.Series(body_words) + " " + tag2
            + "</p>" + tag3 + "<script>var x=1;</script></body></html>")
    html_b = html.str.encode("utf-8")
    text = extract_text_series(html_b)
    return pd.DataFrame({"url": url, "warc_ts": ts, "html": html_b,
                         "text": text, "lang": pd.Series(lang)})


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def pages_df(spark, n_rows: int):
    """Distributed deterministic generation: spark.range -> mapInPandas
    over the pure per-id kernel. Partitioning does not affect content."""
    def fn(it):
        for pdf in it:
            yield page_batch(pdf["id"].to_numpy())
    return spark.range(n_rows).mapInPandas(fn, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# zones: polygon dimension for the PIP join (FIXTURES.md §3.2)
# ---------------------------------------------------------------------------

def zone_defs() -> list[tuple[int, str, str | None]]:
    """(zone_id, name, wkt|None). Convex + concave + holed polygons around
    and between hotspots, one EMPTY, one null — null/empty handling runs
    through the whole join path."""
    out = []
    # rectangles around first 6 cities (±0.5 deg)
    for k in range(6):
        la, lo = CITIES[k]
        out.append((k + 1, f"city_box_{k + 1}",
                    f"POLYGON (({lo - 0.5} {la - 0.5}, {lo + 0.5} {la - 0.5}, "
                    f"{lo + 0.5} {la + 0.5}, {lo - 0.5} {la + 0.5}, "
                    f"{lo - 0.5} {la - 0.5}))"))
    # a concave (L-shaped) zone over NYC
    la, lo = CITIES[0]
    out.append((7, "concave_L",
                f"POLYGON (({lo - 1} {la - 1}, {lo + 1} {la - 1}, "
                f"{lo + 1} {la}, {lo} {la}, {lo} {la + 1}, "
                f"{lo - 1} {la + 1}, {lo - 1} {la - 1}))"))
    # a holed zone over London (hole excludes the center)
    la, lo = CITIES[1]
    out.append((8, "holed_ring",
                f"POLYGON (({lo - 1} {la - 1}, {lo + 1} {la - 1}, "
                f"{lo + 1} {la + 1}, {lo - 1} {la + 1}, {lo - 1} {la - 1}), "
                f"({lo - 0.2} {la - 0.2}, {lo + 0.2} {la - 0.2}, "
                f"{lo + 0.2} {la + 0.2}, {lo - 0.2} {la + 0.2}, "
                f"{lo - 0.2} {la - 0.2}))"))
    # a large mid-ocean box (matches background points only)
    out.append((9, "atlantic_box",
                "POLYGON ((-40 10, -20 10, -20 30, -40 30, -40 10))"))
    out.append((10, "empty_zone", "POLYGON EMPTY"))
    out.append((11, "null_zone", None))
    return out


def zones_df(spark):
    from ..kernels.geom import parse_wkt
    from ..kernels.wkb import write_wkb
    rows = [(zid, name, None if wkt is None else write_wkb(parse_wkt(wkt)))
            for zid, name, wkt in zone_defs()]
    return spark.createDataFrame(
        rows, schema="zone_id long, name string, geom_wkb binary")
