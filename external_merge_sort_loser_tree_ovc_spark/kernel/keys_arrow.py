"""Arrow-native key normalization (zero per-row Python).

Codes follow the ``NormalizedKey`` contract of keys.py, sourced straight
from Arrow buffers, so the kernel never materializes pandas object arrays
for strings.  The string prefix code is built by vectorized gather over
the (offsets, data) buffers; exact string codes are dense dictionary
ranks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .keys import NormalizedKey, _float_to_u64, _int_to_u64

def _chunks(arr) -> list[pa.Array]:
    if isinstance(arr, pa.ChunkedArray):
        return list(arr.chunks)
    return [arr]


def _string_buffers(chunk: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(starts, lens, data) for a string/binary/large_* chunk."""
    t = chunk.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    else:
        odt = np.int32
    bufs = chunk.buffers()
    # buffers: [validity, offsets, data]
    off = np.frombuffer(bufs[1], dtype=odt, count=len(chunk) + 1 + chunk.offset)
    off = off[chunk.offset : chunk.offset + len(chunk) + 1].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    )
    starts = off[:-1]
    lens = off[1:] - starts
    return starts, lens, data


def _string_prefix_u64_chunk(chunk: pa.Array) -> np.ndarray:
    """Vectorized big-endian 8-byte prefix of each value in one chunk."""
    n = len(chunk)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    starts, lens, data = _string_buffers(chunk)
    take = np.minimum(lens, 8)
    buf = np.zeros((n, 8), dtype=np.uint8)
    j = np.arange(8, dtype=np.int64)[None, :]
    mask = j < take[:, None]
    idx = starts[:, None] + j
    buf[mask] = data[idx[mask]]
    return buf.view(">u8").ravel().astype(np.uint64)


def string_prefix_u64(arr) -> np.ndarray:
    parts = [_string_prefix_u64_chunk(c) for c in _chunks(arr)]
    return np.concatenate(parts) if parts else np.zeros(0, np.uint64)


def normalize_arrow_column(arr) -> NormalizedKey:
    """Arrow column -> order-preserving uint64 codes (nulls first).

    Nullable integer/boolean/timestamp chunks are read via
    ``fill_null`` + native-dtype ``to_numpy`` — NOT the float64 round
    trip ``to_numpy(zero_copy_only=False)`` takes for masked arrays,
    which silently loses int64 precision above 2^53 and produces object
    arrays for booleans.  Null ORDER is carried by the separate
    ``isnull`` flag column (nulls first), so the fill value never
    affects ordering.
    """
    t = arr.type
    isnull = np.asarray(pc.is_null(arr)) if arr.null_count else None
    if pa.types.is_integer(t):
        if arr.null_count:
            vals = pc.fill_null(arr, 0).to_numpy(zero_copy_only=False)
        else:
            vals = arr.to_numpy(zero_copy_only=False)
        codes = _int_to_u64(vals)
        return NormalizedKey(codes, True, 64, isnull)
    if pa.types.is_floating(t):
        vals = arr.to_numpy(zero_copy_only=False).astype(np.float64)
        codes = _float_to_u64(np.nan_to_num(vals, nan=0.0))
        return NormalizedKey(codes, True, 64, isnull)
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # date32 casts only to an integer of its own width
        as_int = pc.cast(arr, pa.int32() if pa.types.is_date32(t) else pa.int64())
        if arr.null_count:
            as_int = pc.fill_null(as_int, 0)
        codes = _int_to_u64(as_int.to_numpy(zero_copy_only=False))
        return NormalizedKey(codes, True, 64, isnull)
    if pa.types.is_boolean(t):
        if arr.null_count:
            vals = pc.fill_null(arr, False).to_numpy(zero_copy_only=False)
        else:
            vals = arr.to_numpy(zero_copy_only=False)
        return NormalizedKey(vals.astype(np.uint64), True, 64, isnull)
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        return NormalizedKey(string_prefix_u64(arr), False, 64, isnull)
    raise TypeError(f"unsupported key type {t}")


def _string_rank_codes(col) -> NormalizedKey:
    """EXACT order-preserving codes for a string/binary column: dense
    rank of each value's dictionary entry.  Unlike the 8-byte prefix,
    rank order == full byte-collation order with no false ties — so a
    matrix built from ranks is exact and can take the packed
    single-integer merge path (counters included).

    Ranks are only valid WITHIN the array they were computed from; the
    sort paths use them on a per-buffer / per-merge basis (the merge
    normalizes once over the concatenation of the runs, so codes are
    shared and mutually comparable by construction).

    Cost: one O(n) dictionary encode + an O(u log u) sort of the u
    DISTINCT values — for low-cardinality keys (flags, enums, country
    codes) this replaces an O(n log n) whole-column string sort with an
    integer merge; for unique-heavy keys it is bounded by the same
    string sort the fallback would do anyway.
    """
    comb = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if isinstance(comb, pa.ChunkedArray):
        arr = comb.chunk(0) if comb.num_chunks else pa.array([], type=comb.type)
    else:
        arr = comb
    if len(arr) == 0:
        return NormalizedKey(np.zeros(0, dtype=np.uint64), True, 64, None)
    denc = pc.dictionary_encode(arr)
    dct = denc.dictionary
    order = pc.sort_indices(dct).to_numpy(zero_copy_only=False).astype(np.int64)
    rank = np.empty(len(dct), dtype=np.uint64)
    rank[order] = np.arange(len(dct), dtype=np.uint64)
    idx = pc.fill_null(denc.indices, 0).to_numpy(zero_copy_only=False).astype(np.int64)
    codes = rank[idx]
    isnull = np.asarray(pc.is_null(arr)) if arr.null_count else None
    if isnull is not None:
        codes = np.where(isnull, np.uint64(0), codes)
    return NormalizedKey(codes, True, 64, isnull)


def key_matrix_table(
    tbl: pa.Table, key_cols: list[str], *, string_ranks: bool = False
) -> tuple[np.ndarray, bool]:
    """(n, k') uint64 matrix + exactness, straight from Arrow buffers.

    ``string_ranks=True`` encodes string/binary key columns as exact
    dense ranks (``_string_rank_codes``) instead of 8-byte prefixes —
    the matrix is then exact for any scalar schema, at the cost of a
    per-call dictionary sort.  Rank codes are only comparable within
    ONE call's table, so callers must normalize over the concatenation
    of everything they intend to compare (the merge path does)."""
    cols = []
    exact = True
    for c in key_cols:
        col = tbl.column(c)
        if string_ranks and _is_stringish(col.type):
            nk = _string_rank_codes(col)
        else:
            try:
                nk = normalize_arrow_column(col)
            except TypeError:
                # unsupported key type (decimal, nested, ...): report a
                # non-exact constant column so the caller falls back to
                # Arrow's typed collation sort instead of crashing
                nk = NormalizedKey(
                    np.zeros(len(col), dtype=np.uint64), False, 64, None
                )
        if nk.isnull is not None:
            cols.append((~nk.isnull).astype(np.uint64))
            codes = np.where(nk.isnull, np.uint64(0), nk.codes)
        else:
            codes = nk.codes
        cols.append(codes)
        exact = exact and nk.exact
    if not cols:
        return np.zeros((tbl.num_rows, 0), dtype=np.uint64), True
    return np.column_stack(cols), exact


def _is_stringish(t) -> bool:
    return (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    )


def _is_scalar_key_type(t) -> bool:
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date(t)
        or pa.types.is_boolean(t)
        or _is_stringish(t)
    )
