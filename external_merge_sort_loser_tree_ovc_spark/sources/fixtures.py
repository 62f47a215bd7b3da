"""Deterministic fixture generators.

A) ``kernel_rows`` replicates the reference's 8 synthetic scan
   distributions (reference ``Scan.cpp:44-102``) as seeded NumPy arrays —
   the reference uses ``srand(time(0))`` (``Test0.cpp:24``) and is
   therefore NOT reproducible run-to-run; we fix that with explicit seeds.

B) ``pages`` synthesizes the Common-Crawl-style web-page table from
   BASELINE.json's input_hint: (url, warc_ts, html, text, lang) plus the
   geo skew scenarios in FIXTURES.md §B.  Everything derives from a seed
   and row index — no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SCAN_NAMES = {
    0: "random",
    1: "all_rows_same",
    2: "row_constant",
    3: "all_same_constant",
    4: "ascending",
    5: "descending",
    6: "zeros",
    7: "random_negative",
}


def kernel_rows(
    n: int, cols: int = 4, domain: int = 7, scan_type: int = 0, seed: int = 42
) -> np.ndarray:
    """(n, cols) int64 array under a reference scan distribution."""
    rng = np.random.default_rng(seed)
    if n == 0:
        return np.zeros((0, cols), dtype=np.int64)
    if scan_type == 0:
        return rng.integers(0, max(domain, 1), size=(n, cols), dtype=np.int64)
    if scan_type == 1:  # all rows identical (one random row)
        row = rng.integers(0, max(domain, 1), size=(1, cols), dtype=np.int64)
        return np.repeat(row, n, axis=0)
    if scan_type == 2:  # per-row constant across columns
        vals = rng.integers(0, max(domain, 1), size=(n, 1), dtype=np.int64)
        return np.repeat(vals, cols, axis=1)
    if scan_type == 3:  # one value everywhere
        v = int(rng.integers(0, max(domain, 1)))
        return np.full((n, cols), v, dtype=np.int64)
    if scan_type == 4:  # ascending, pre-sorted
        base = (np.arange(n, dtype=np.int64) * max(domain, 1)) // max(n, 1)
        return base[:, None] + np.arange(cols, dtype=np.int64)[None, :]
    if scan_type == 5:  # descending, reverse-sorted
        base = ((n - 1 - np.arange(n, dtype=np.int64)) * max(domain, 1)) // max(n, 1)
        return base[:, None] - np.arange(cols, dtype=np.int64)[None, :]
    if scan_type == 6:
        return np.zeros((n, cols), dtype=np.int64)
    if scan_type == 7:  # random negatives
        return -rng.integers(0, max(domain, 1), size=(n, cols), dtype=np.int64)
    raise ValueError(f"unknown scan_type {scan_type}")


def kernel_frame(n, cols=4, domain=7, scan_type=0, seed=42) -> pd.DataFrame:
    arr = kernel_rows(n, cols, domain, scan_type, seed)
    return pd.DataFrame(arr, columns=[f"c{i}" for i in range(cols)])


# ---------------------------------------------------------------------------
# B) web-page table (input_hint schema)
# ---------------------------------------------------------------------------

_LANGS = np.array(["en", "de", "fr", "es", "zh", "ru", "pt", "ja"])
_WORDS = np.array(
    "the of and to in a is that for it with as was on be at by this had not are "
    "but from or have an they which one you were all her she there would their we "
    "him been has when who will no more if out so said what up its about into than "
    "them can only other time new some could these two may first then do any like "
    "my now over such our man me even most made after also did many off before must "
    "well back through years where much your way down should because each just those "
    "people Mr how too little state good very make world still see own men work long "
    "here get both between life being under never day same another know while last "
    "might us great old year come since against go came right used take three".split()
)


def _hash_u64(ids: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic 64-bit mix of row ids (splitmix64, public domain)."""
    x = ids.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def pages_frame(n: int, seed: int = 42, scenario: str = "geo_uniform") -> pd.DataFrame:
    """Synthetic web-page table (url, warc_ts, html, text, lang, lat, lon).

    lat/lon are the *deterministic geocode* of the page (derived from the
    url hash — the geocode stub mandated by SURVEY §7.4).  Scenarios map
    the reference's duplicate-key tests onto geography (FIXTURES.md §B):
    geo_uniform / geo_hotcell / geo_sorted / geo_empty / geo_single.
    """
    if scenario == "geo_empty":
        n = 0
    elif scenario == "geo_single":
        n = min(n, 1) or 1
    ids = np.arange(n, dtype=np.int64)
    h = _hash_u64(ids, seed)
    host = h % np.uint64(max(1, n // 10 + 1))
    urls = pd.array(
        [f"https://host{host[i]}.example/p{ids[i]}" for i in range(n)], dtype="string"
    )
    ts = pd.to_datetime("2025-01-01") + pd.to_timedelta(
        (h % np.uint64(86400 * 365)).astype(np.int64), unit="s"
    )
    lang = _LANGS[(h >> np.uint64(8)) % np.uint64(len(_LANGS))]
    # deterministic text: 5-40 words chosen by hash chain; byte-identical
    # per url across any re-generation with the same seed.
    rng = np.random.default_rng(seed + 1)
    lens = 5 + (h % np.uint64(36)).astype(np.int64)
    word_idx = _hash_u64(ids, seed + 2) % np.uint64(len(_WORDS))
    texts = []
    for i in range(n):
        k = int(lens[i])
        wi = (int(word_idx[i]) + np.arange(k) * 7919) % len(_WORDS)
        texts.append(" ".join(_WORDS[wi]))
    html = [
        f"<html><head><title>p{ids[i]}</title></head><body>{texts[i]}</body></html>".encode()
        for i in range(n)
    ]
    lat = (h % np.uint64(1600000)).astype(np.float64) / 10000.0 - 80.0
    lon = ((h >> np.uint64(21)) % np.uint64(3600000)).astype(np.float64) / 10000.0 - 180.0
    if scenario == "geo_hotcell" and n:
        # >= 50% of pages land on one spot (single hot cell; salting test)
        hot = (h % np.uint64(2)) == 0
        lat = np.where(hot, 48.8566, lat)
        lon = np.where(hot, 2.3522, lon)
    df = pd.DataFrame(
        {
            "url": urls.astype(object),
            "warc_ts": ts,
            "html": html,
            "text": texts,
            "lang": lang,
            "lat": lat,
            "lon": lon,
        }
    )
    if scenario == "geo_sorted" and n:
        df = df.sort_values(["lat", "lon"], ignore_index=True)
    return df
