"""Order-preserving key codes for the sort kernel: the one place that
decides how a key column becomes ``uint64`` codes.

The reference engine sorts rows of int32 columns lexicographically
(reference ``TreeOfLosers.cpp:13-37``).  Our kernel generalizes the key
domain to the types a web-page table needs (ints, floats, decimals,
dates, timestamps, durations, booleans, strings/bytes) by reading every
key column straight from its Arrow buffers into ``uint64`` codes such that
``uint64`` compare == Spark's ascending compare.  This is the vectorized
analogue of the reference's OVC thesis ("most comparisons become a
single machine-integer compare", reference ``README.md:4-5``): after
normalization, one array compare per column — and, when the packed
width allows, one compare for the *whole* key.

This is the package's one definition of key order: run formation,
every merge, the partitioner's bounds sample and the sortedness witness
all compare these codes.  Every code is exact (no false ties).
Strings, binaries and decimals take dense ranks of their dictionary
(exact at any decimal precision), so their codes are comparable only
within the table they were computed from; callers normalize the
concatenation of everything they compare.  A key type with no code
(struct, list, map) makes ``key_matrix_table`` raise TypeError.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SIGN64 = np.uint64(0x8000000000000000)
_MAX64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _int_to_u64(arr: np.ndarray) -> np.ndarray:
    return arr.astype(np.int64, copy=False).view(np.uint64) ^ SIGN64


def _float_to_u64(arr: np.ndarray) -> np.ndarray:
    # IEEE-754 total-order trick: flip all bits for negatives, sign bit
    # for non-negatives.  Every NaN, whatever its sign or payload, takes
    # the largest code: Spark sorts NaN above +inf and all NaNs equal.
    vals = np.ascontiguousarray(arr, dtype=np.float64)
    bits = vals.view(np.uint64)
    mask = np.where(bits >> np.uint64(63) == 1, _MAX64, SIGN64)
    return np.where(np.isnan(vals), _MAX64, bits ^ mask)


def _rank_codes(arr) -> np.ndarray:
    """Dense rank of each value's dictionary entry: rank order == byte
    order for strings and binaries, numeric order for decimals.  Cost:
    one O(n) dictionary encode plus an O(u log u) sort of the u distinct
    values."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    denc = pc.dictionary_encode(arr)
    order = pc.sort_indices(denc.dictionary).to_numpy().astype(np.int64)
    # one extra slot for the NULL rows' index (an all-NULL column has an
    # empty dictionary)
    rank = np.zeros(len(order) + 1, dtype=np.uint64)
    rank[order] = np.arange(len(order), dtype=np.uint64)
    idx = pc.fill_null(denc.indices, len(order)).to_numpy(zero_copy_only=False)
    return rank[idx]


def normalize_arrow_column(arr) -> tuple[np.ndarray, np.ndarray | None]:
    """Arrow column -> ``(codes, isnull)``: order-preserving uint64 codes,
    and a bool NULL mask when the column has NULLs (else None).

    The code of a NULL row is arbitrary: NULL order (first) is carried by
    ``isnull``.  Nullable integer/boolean/timestamp columns are read via
    ``fill_null`` + native-dtype ``to_numpy`` -- NOT the float64 round
    trip ``to_numpy(zero_copy_only=False)`` takes for masked arrays,
    which silently loses int64 precision above 2^53.  Durations take
    their integer value; an all-NULL (null-typed) column codes 0.
    Raises TypeError for a type with no code.
    """
    t = arr.type
    isnull = np.asarray(pc.is_null(arr)) if arr.null_count else None
    if pa.types.is_integer(t):
        vals = pc.fill_null(arr, 0) if arr.null_count else arr
        codes = _int_to_u64(vals.to_numpy(zero_copy_only=False))
    elif pa.types.is_floating(t):
        codes = _float_to_u64(arr.to_numpy(zero_copy_only=False))
    elif pa.types.is_timestamp(t) or pa.types.is_date(t) or pa.types.is_duration(t):
        # date32 casts only to an integer of its own width
        as_int = pc.cast(arr, pa.int32() if pa.types.is_date32(t) else pa.int64())
        if arr.null_count:
            as_int = pc.fill_null(as_int, 0)
        codes = _int_to_u64(as_int.to_numpy(zero_copy_only=False))
    elif pa.types.is_boolean(t):
        vals = pc.fill_null(arr, False) if arr.null_count else arr
        codes = vals.to_numpy(zero_copy_only=False).astype(np.uint64)
    elif (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_decimal(t)
    ):
        codes = _rank_codes(arr)
    elif pa.types.is_null(t):
        codes = np.zeros(len(arr), dtype=np.uint64)
    else:
        raise TypeError(f"no sort code for key type {t}")
    return codes, isnull


def key_matrix_table(tbl: pa.Table, key_cols: list[str]) -> np.ndarray:
    """The ``(n, k')`` uint64 key matrix of ``tbl``.  Each key column
    contributes a NULL flag column (0 = NULL, so NULLs sort first) when
    it has NULLs, then its codes (0 on NULL rows).  Raises TypeError
    for a key type with no code."""
    cols = []
    for c in key_cols:
        codes, isnull = normalize_arrow_column(tbl.column(c))
        if isnull is not None:
            cols.append((~isnull).astype(np.uint64))
            codes = np.where(isnull, np.uint64(0), codes)
        cols.append(codes)
    if not cols:
        return np.zeros((tbl.num_rows, 0), dtype=np.uint64)
    return np.column_stack(cols)


def pack_columns_shared(mats: list[np.ndarray]) -> list[np.ndarray] | None:
    """Pack SEVERAL key matrices with ONE shared set of offsets/widths so
    the packed codes are comparable ACROSS runs (per-run packing would
    subtract different minima — codes from different runs would not be
    mutually ordered).  Returns None when the shared width exceeds 64."""
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
