"""Witness operator — the reference's conservation-invariant verifier.

The reference's Witness (reference ``Witness.cpp:39-63``) checks, between
any two points of a plan:

1. row count preserved,
2. XOR parity preserved — ``parity ^= columns[i] << i``
   (``Witness.cpp:47``): an order-independent content checksum,
3. zero lexicographic inversions in sorted output (``Witness.cpp:50-58``).

Spark mapping (SURVEY §2.1): the FULL witness — count, parity
(order-insensitive xor fold, hence shuffle-safe), and per-partition
inversions — rides ONE ``mapInPandas`` pass over the sorted output
(``sortedness_report`` with ``parity_terms``), plus a driver-side check
that each partition's first key is >= the previous partition's last key
(global order across range partitions).  ``witness_summary`` remains
for witnessing arbitrary points of a plan where no inversion scan is
wanted.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def witness_summary(df: DataFrame, cols: list[str] | None = None) -> dict:
    """{'rows': n, 'parity': int} — order-independent, one Spark job.

    Parity generalizes the reference's int-column xor to arbitrary types
    via ``xxhash64`` of the witnessed columns (SURVEY §2.1 maps the
    web-schema parity to a 64-bit hash fold).
    """
    cols = cols or df.columns
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.expr(
            "bit_xor(xxhash64({}))".format(", ".join(f"`{c}`" for c in cols))
        ).alias("parity"),
    ).collect()[0]
    return {"rows": row["rows"], "parity": row["parity"] or 0}


def sortedness_report(
    df: DataFrame,
    keys: list[str],
    parity_terms: list[tuple[str, int]] | None = None,
) -> pd.DataFrame:
    """Per-partition inversion counts + boundary keys.

    Returns a pandas frame (pid, rows, inversions, parity, first_key,
    last_key) collected to the driver; ``assert_globally_sorted``
    interprets it.  The heavy work (inversion counting) is vectorized
    NumPy inside each task — only 1 row per partition is collected.

    ``parity_terms``: optional [(col, weight), ...] — each partition
    also xor-folds sum(col*weight) per row (int64, the reference's
    Witness.cpp:47 checksum generalized), so the FULL witness (count +
    parity + inversions) is ONE pass over the sorted output instead of
    a second aggregation job re-reading or re-sorting it.  Matches the
    SQL form bit_xor(c1*w1 + c2*w2 + ...) exactly (int64 arithmetic,
    no overflow for the gate's key ranges).
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("pid", LongType()),
            StructField("rows", LongType()),
            StructField("inversions", LongType()),
            StructField("parity", LongType()),
            StructField("first_key", StringType()),
            StructField("last_key", StringType()),
        ]
    )

    key_list = list(keys)
    terms = list(parity_terms or [])

    def check(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        total = 0
        inv = 0
        parity = 0
        first = None
        last = None
        prev_tail = None
        for pdf in iterator:
            if pdf.empty:
                continue
            if terms:
                mix = np.zeros(len(pdf), dtype=np.int64)
                for c, w in terms:
                    mix += pdf[c].to_numpy(dtype=np.int64) * np.int64(w)
                # pdf is non-empty here, so mix always has elements
                parity ^= int(np.bitwise_xor.reduce(mix))
            sub = pdf[key_list]
            if prev_tail is not None:
                sub = pd.concat([prev_tail, sub], ignore_index=True)
            mat = sub.to_numpy()
            lt = _lex_less(mat[1:], mat[:-1])  # next < prev -> inversion
            inv += int(lt.sum())
            if first is None:
                first = _key_repr(sub.iloc[0])
            prev_tail = sub.iloc[-1:].reset_index(drop=True)
            last = _key_repr(sub.iloc[-1])
            total += len(pdf)
        yield pd.DataFrame(
            {
                "pid": [pid],
                "rows": [total],
                "inversions": [inv],
                "parity": [parity],
                "first_key": [first if first is not None else ""],
                "last_key": [last if last is not None else ""],
            }
        )

    rep = df.mapInPandas(check, schema=out_schema).toPandas()
    return rep.sort_values("pid", ignore_index=True)


def _lex_less(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise a < b lexicographically (vectorized; numpy handles both
    numeric and string object arrays elementwise)."""
    n = len(a)
    out = np.zeros(n, dtype=bool)
    decided = np.zeros(n, dtype=bool)
    for j in range(a.shape[1]):
        aj, bj = a[:, j], b[:, j]
        lt = aj < bj
        gt = aj > bj
        out |= lt & ~decided
        decided |= lt | gt
    return out


def _cmp(x, y):
    if x is None and y is None:
        return 0
    if x is None:
        return -1
    if y is None:
        return 1
    return -1 if x < y else (1 if x > y else 0)


def _key_repr(row: pd.Series) -> str:
    import json

    return json.dumps([None if pd.isna(v) else str(v) for v in row.tolist()])


def assert_globally_sorted(df: DataFrame, keys: list[str], boundary_types=None):
    """Raises AssertionError unless df is globally sorted by keys
    (zero within-partition inversions + ordered partition boundaries).

    Boundary keys travel as JSON strings; they are re-typed with
    ``boundary_types`` (list of callables, default str) before compare.
    """
    import json

    rep = sortedness_report(df, keys)
    bad = rep[rep.inversions > 0]
    assert bad.empty, f"inversions found: {bad.to_dict('records')}"
    nonempty = rep[rep.rows > 0].reset_index(drop=True)
    types = boundary_types or [str] * len(keys)

    def decode(s):
        vals = json.loads(s)
        return tuple(
            None if v is None else t(v) for v, t in zip(vals, types)
        )

    for i in range(1, len(nonempty)):
        prev_last = decode(nonempty.last_key[i - 1])
        cur_first = decode(nonempty.first_key[i])
        for a, b in zip(prev_last, cur_first):
            c = _cmp(a, b)
            if c < 0:
                break
            assert c <= 0, (
                f"partition boundary out of order: {prev_last} > {cur_first}"
            )
    return rep
