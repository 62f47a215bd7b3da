"""Order-preserving key normalization for the vectorized OVC sort kernel.

The reference engine sorts rows of int32 columns lexicographically
(reference ``TreeOfLosers.cpp:13-37``).  Our kernel generalizes the key
domain to the types a web-page table needs (ints, floats, timestamps,
strings/bytes) by normalizing every key column into ``uint64`` codes such
that ``uint64`` compare == original compare.  This is the vectorized
analogue of the reference's OVC thesis ("most comparisons become a single
machine-integer compare", reference ``README.md:4-5``): after
normalization, one array compare per column — and, when the packed width
allows, one compare for the *whole* key.

Strings are prefix-coded (first 8 bytes, big-endian); a prefix tie does
NOT imply a key tie, so every normalization reports whether it is
*exact* (total order preserved) or a *prefix* (needs a fallback compare
on ties).  The sort paths only use single-uint64 fast paths when every
column is exact.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_SIGN64 = np.uint64(0x8000000000000000)


@dataclass(frozen=True)
class NormalizedKey:
    """One key column normalized to uint64 codes.

    codes : (n,) uint64, order-preserving (ties in codes may hide real
            differences only when ``exact`` is False).
    exact : True if code order == value order with no ties introduced.
    width : number of significant low bits actually used (64 if unknown).
    """

    codes: np.ndarray
    exact: bool
    width: int
    isnull: np.ndarray | None = None  # (n,) bool when the column has nulls


def _int_to_u64(arr: np.ndarray) -> np.ndarray:
    return arr.astype(np.int64, copy=False).view(np.uint64) ^ _SIGN64


def _float_to_u64(arr: np.ndarray) -> np.ndarray:
    # IEEE-754 total-order trick: flip all bits for negatives, sign bit
    # for non-negatives.  NaNs sort last (all-ones exponent pattern).
    bits = np.ascontiguousarray(arr, dtype=np.float64).view(np.uint64)
    mask = np.where(bits >> np.uint64(63) == 1, np.uint64(0xFFFFFFFFFFFFFFFF), _SIGN64)
    return bits ^ mask


def pack_columns_shared(mats: list[np.ndarray]) -> list[np.ndarray] | None:
    """Pack SEVERAL key matrices with ONE shared set of offsets/widths so
    the packed codes are comparable ACROSS runs (per-run packing would
    subtract different minima — codes from different runs would not be
    mutually ordered).  Returns None when the shared width exceeds 64."""
    mats = [m for m in mats]
    if not mats:
        return []
    k = mats[0].shape[1]
    if k == 0:
        return [np.zeros(len(m), dtype=np.uint64) for m in mats]
    nonempty = [m for m in mats if len(m)]
    if not nonempty:
        return [np.zeros(0, dtype=np.uint64) for _ in mats]
    los = []
    widths = []
    for j in range(k):
        lo = min(int(m[:, j].min()) for m in nonempty)
        hi = max(int(m[:, j].max()) for m in nonempty)
        los.append(np.uint64(lo))
        widths.append(max(1, (hi - lo).bit_length()))
    if sum(widths) > 64:
        return None
    out = []
    for m in mats:
        packed = np.zeros(len(m), dtype=np.uint64)
        for j, (w, lo) in enumerate(zip(widths, los)):
            packed = (packed << np.uint64(w)) | (m[:, j] - lo)
        out.append(packed)
    return out


def lexsort_indices(mat: np.ndarray) -> np.ndarray:
    """Stable ascending argsort of an (n, k) uint64 key matrix."""
    if mat.shape[1] == 0:
        return np.arange(mat.shape[0])
    # np.lexsort: last key is primary -> reverse column order.
    return np.lexsort(tuple(mat[:, j] for j in range(mat.shape[1] - 1, -1, -1)))
