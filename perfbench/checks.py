"""Output checks against the oracles, and an engine-free sort summarizer.

``check`` returns the list of mismatches for one execution's outputs; an
empty list means correct.  Any mismatch, error or timeout counts as a
failed attempt (``failed_frac``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# kernel counters that must repeat exactly for a given input and geometry
COUNTERS = ("spill_rows", "runs_formed", "merge_passes_max", "ovc_compares", "col_compares")


def check(kind: str, outputs: dict, oracle: dict, counters_ref: dict | None) -> list[str]:
    bad = []

    def expect(name, got, want):
        if got != want:
            bad.append(f"{name}: got {_short(got)}, expected {_short(want)}")

    if kind == "geo_sort":
        expect("n_pages", outputs["n_pages"], oracle["n_pages"])
        expect("pip_hits", outputs["pip_hits"], oracle["pip_hits"])
        expect("n_tiles", outputs["n_tiles"], oracle["n_tiles"])
        # the flagship checkpoints its inputs, so every row is spilled once
        expect("spill_rows", outputs["spill_rows"], oracle["n_pages"])
        if counters_ref is not None:
            for c in COUNTERS:
                expect(c, outputs[c], counters_ref[c])
    elif kind == "lineitem":
        for k in ("rows", "parity", "inversions"):
            expect(k, outputs[k], oracle[k])
    elif kind == "spatial_join":
        expect("pip_hits", outputs["pip_hits"], oracle["pip_hits"])
        expect("knn", outputs["knn"], oracle["knn"])
    else:
        raise ValueError(kind)
    return bad


def _short(v) -> str:
    s = repr(v)
    return s if len(s) <= 120 else s[:117] + "..."


def summarize_sorted(table: pa.Table, keys: list[str], parity_terms) -> dict:
    """(rows, parity, inversions) of a table that should be sorted by
    ``keys`` — the ``q_sort_witness`` result shape, computed in NumPy.
    Parity is the xor fold of sum(col * weight) in int64; an inversion is
    an adjacent pair whose keys are out of order."""
    n = table.num_rows
    mix = np.zeros(n, dtype=np.int64)
    for c, w in parity_terms:
        mix += table.column(c).to_numpy().astype(np.int64) * np.int64(w)
    parity = int(np.bitwise_xor.reduce(mix)) if n else 0
    less = np.zeros(max(n - 1, 0), dtype=bool)
    decided = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        v = table.column(k).to_numpy(zero_copy_only=False)
        nxt, prev = v[1:], v[:-1]
        lt, gt = nxt < prev, nxt > prev
        less |= lt & ~decided
        decided |= lt | gt
    return {"rows": n, "parity": parity, "inversions": int(less.sum())}
