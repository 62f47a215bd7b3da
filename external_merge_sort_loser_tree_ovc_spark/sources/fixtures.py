"""Deterministic kernel fixtures.

``kernel_rows`` replicates the reference's 8 synthetic scan distributions
(reference ``Scan.cpp:44-102``) as seeded NumPy arrays — the reference
uses ``srand(time(0))`` (``Test0.cpp:24``) and is therefore NOT
reproducible run-to-run; we fix that with explicit seeds.  The
Common-Crawl-style web-page table is synthesized in Spark by
``sources.pages.synth_pages``.
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
