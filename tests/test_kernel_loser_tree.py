"""Kernel unit tests: OVC + loser tree vs Python sorted(), the reference's
15 test scenarios (SURVEY §5 matrix) re-expressed, and the tiny-cardinality
ladder from reference Tasks.txt:12-14."""

import numpy as np
import pytest

from external_merge_sort_loser_tree_ovc_spark.kernel.loser_tree import (
    LoserTreeMerge,
    run_relative_ovc,
)
from external_merge_sort_loser_tree_ovc_spark.kernel.ovc import compare_ovc
from external_merge_sort_loser_tree_ovc_spark.sources.fixtures import kernel_rows


def split_sorted_runs(arr: np.ndarray, run_size: int) -> list[np.ndarray]:
    """Chop rows into runs and sort each run (run-formation stand-in)."""
    runs = []
    for i in range(0, len(arr), run_size):
        chunk = arr[i : i + run_size]
        order = np.lexsort(tuple(chunk[:, j] for j in range(chunk.shape[1] - 1, -1, -1)))
        runs.append(chunk[order])
    return runs


def reference_sort(arr: np.ndarray) -> np.ndarray:
    if len(arr) == 0:
        return arr
    return np.array(sorted(map(tuple, arr)), dtype=np.int64).reshape(len(arr), -1)


SCENARIOS = [
    # (scan_type, n, cols, domain)  — mirrors FIXTURES.md §A (reference TestN)
    (0, 4000, 4, 7),      # t0 random
    (0, 2300, 4, 7),      # t1 fan-in
    (0, 2200, 4, 7),      # t2 graceful
    (0, 1500, 4, 7),      # t3 in-memory
    (0, 0, 4, 7),         # t4 zero rows
    (0, 1, 4, 7),         # t5 one row
    (4, 4000, 4, 100000), # t6 ascending
    (5, 4000, 4, 100000), # t7 descending
    (0, 4000, 4, 10),     # t8 small domain
    (6, 4000, 4, 10),     # t9 zeros
    (7, 4000, 4, 10),     # t10 negatives
    (0, 2000, 70, 7),     # t11 wide rows
    (1, 4000, 4, 10),     # t12 all rows identical
    (2, 4000, 4, 10),     # t13 per-row constant
    (3, 4000, 4, 10),     # t14 everything identical
]


@pytest.mark.parametrize("scan_type,n,cols,domain", SCENARIOS)
def test_loser_tree_sorts_all_scenarios(scan_type, n, cols, domain):
    arr = kernel_rows(n, cols, domain, scan_type, seed=7)
    runs = split_sorted_runs(arr, run_size=max(1, n // 7 or 1))
    tree = LoserTreeMerge(runs)
    out = tree.drain()
    exp = reference_sort(arr)
    assert out.shape == (n, cols) if n else out.shape[0] == 0
    if n:
        np.testing.assert_array_equal(out, exp)


@pytest.mark.parametrize("n", [0, 1, 2, 3, 7, 10, 29, 100, 576, 1000, 10000])
def test_tiny_cardinality_ladder(n):
    """Reference Tasks.txt:12-14 dev ladder."""
    arr = kernel_rows(n, 4, 7, 0, seed=n + 1)
    runs = split_sorted_runs(arr, run_size=max(1, (n // 5) or 1))
    out = LoserTreeMerge(runs).drain()
    assert out.shape[0] == n
    if n:
        np.testing.assert_array_equal(out, reference_sort(arr))


@pytest.mark.parametrize("k", [1, 2, 3, 4, 5, 8, 13, 16, 31])
def test_fan_in_geometries(k):
    """Every leaf geometry: k runs, incl. non-powers of two
    (reference TreeOfLosers.cpp:108-124 formulas)."""
    rng = np.random.default_rng(k)
    runs = []
    total = []
    for i in range(k):
        n = int(rng.integers(0, 50))
        r = np.sort(rng.integers(0, 100, size=(n, 1)), axis=0).astype(np.int64)
        runs.append(np.hstack([r, r * 2 % 17]))
        total.append(runs[-1])
    runs = [r[np.lexsort((r[:, 1], r[:, 0]))] for r in runs]
    arr = np.vstack(total) if total else np.zeros((0, 2), np.int64)
    out = LoserTreeMerge(runs).drain()
    np.testing.assert_array_equal(out, reference_sort(arr))


def test_ovc_savings_on_duplicates():
    """OVC thesis: with heavy duplication most matches resolve without
    column loops re-scanning shared prefixes (reference README.md:4-5)."""
    arr = kernel_rows(4000, 4, 10, 1, seed=3)  # all rows identical
    runs = split_sorted_runs(arr, 500)
    tree = LoserTreeMerge(runs)
    tree.drain()
    naive_cols = 4 * tree.ovc_compares  # naive lexicographic worst case
    assert tree.col_compares < naive_cols


def test_ovc_compare_contract():
    """Pair semantics from reference TreeOfLosers.cpp:13-37.  This is the
    loser tree's own comparator: ``LoserTreeMerge._is_less_than`` checks
    the fences and plays every other match through ``compare_ovc``."""
    a = np.array([1, 2, 3, 4])
    b = np.array([1, 2, 3, 5])
    # equal offsets & values -> falls through to columns after offset
    first, ct = compare_ovc(a, [0, 1], b, [0, 1])
    assert first is True or first == True  # noqa: E712
    assert ct == 3  # compared cols 1,2,3
    # higher offset sorts earlier
    first, ct = compare_ovc(a, [2, 3], b, [1, 2])
    assert first and ct == 0
    # same offset, lower value earlier
    first, ct = compare_ovc(a, [1, 2], b, [1, 5])
    assert first and ct == 0
    # full equality returns True (stability, TreeOfLosers.cpp:36)
    first, ct = compare_ovc(a, [0, 1], a, [0, 1])
    assert first and ct == 3


def test_run_relative_ovc_pairs():
    rows = np.array([[1, 1, 1], [1, 1, 2], [1, 2, 0], [1, 2, 0]])
    off, val = run_relative_ovc(rows)
    assert off.tolist() == [0, 2, 1, 2]  # first row (0, c0); dup row clamps c-1
    assert val.tolist() == [1, 2, 2, 0]


def test_geometry_formulas():
    """Tree geometry must match the reference formulas
    (TreeOfLosers.cpp:108-124)."""
    import math

    for k in [2, 3, 5, 8, 13]:
        runs = [np.zeros((1, 2), np.int64) for _ in range(k)]
        t = LoserTreeMerge(runs)
        assert t.height == math.ceil(math.log2(k))
        assert t.num_loser_nodes == 2**t.height - 1
        assert t.tree_size == 2 ** (t.height - 1) + math.ceil(k / 2) - 1
