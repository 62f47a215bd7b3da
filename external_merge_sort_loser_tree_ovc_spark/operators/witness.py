"""Witness operator — the reference's conservation-invariant verifier.

The reference's Witness (reference ``Witness.cpp:39-63``) checks, between
any two points of a plan:

1. row count preserved,
2. XOR parity preserved — ``parity ^= columns[i] << i``
   (``Witness.cpp:47``): an order-independent content checksum,
3. zero lexicographic inversions in sorted output (``Witness.cpp:50-58``).

Spark mapping (SURVEY §2.1): the FULL witness — count, parity
(order-insensitive xor fold, hence shuffle-safe), and per-partition
inversions — rides ONE ``mapInArrow`` pass over the key and parity
columns of the sorted output (``sortedness_report`` with
``parity_terms``).  Inversions compare the kernel's own key codes
(``kernel/keys.py``), the one definition of key order the sort uses: a
row is out of order exactly when its code at its offset-value-coding
offset is below its predecessor's (*Offset-value coding in database
query processing*, EDBT 2023).  Each task also returns its first and
last key rows (``edges``, Arrow IPC), and ``assert_globally_sorted``
runs the same check over the edges of all partitions in partition
order (global order across range partitions).  ``witness_summary``
remains for witnessing arbitrary points of a plan where no inversion
scan is wanted.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..kernel.keys import key_matrix_table
from ..kernel.loser_tree import run_relative_ovc


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


def _out_of_order(tbl: pa.Table, keys: list[str]) -> np.ndarray:
    """Bool mask over rows 1.. of ``tbl``: True where the row sorts
    before its predecessor, i.e. its key code at its OVC offset (the
    first key column where it differs from the predecessor) is below
    the predecessor's code there."""
    if tbl.num_rows < 2:
        return np.zeros(0, dtype=bool)
    mat = key_matrix_table(tbl, keys)
    off, val = run_relative_ovc(mat)
    return val[1:] < mat[np.arange(len(mat) - 1), off[1:]]


def sortedness_report(
    df: DataFrame,
    keys: list[str],
    parity_terms: list[tuple[str, int]] | None = None,
):
    """Per-partition inversion counts + boundary key rows.

    Returns a pandas frame (pid, rows, inversions, parity, edges)
    collected to the driver; ``assert_globally_sorted`` interprets it.
    The inversion count is vectorized inside each task over the key
    codes of each Arrow batch, with the previous batch's last row in
    front so string ranks stay comparable across the batch boundary;
    only 1 row per partition is collected.  ``edges`` holds the
    partition's first and last key rows as Arrow IPC bytes (NULL for an
    empty partition).

    ``parity_terms``: optional [(col, weight), ...] — each partition
    also xor-folds sum(col*weight) per row (int64, the reference's
    Witness.cpp:47 checksum generalized), so the FULL witness (count +
    parity + inversions) is ONE pass over the sorted output instead of
    a second aggregation job re-reading or re-sorting it.  Matches the
    SQL form bit_xor(c1*w1 + c2*w2 + ...) exactly (int64 arithmetic,
    no overflow for the gate's key ranges).
    """
    key_list = list(keys)
    terms = list(parity_terms or [])

    def check(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        rows = inv = parity = 0
        first = last = None
        for b in batches:
            if b.num_rows == 0:
                continue
            if terms:
                mix = np.zeros(b.num_rows, dtype=np.int64)
                for c, w in terms:
                    mix += b.column(c).to_numpy().astype(np.int64) * np.int64(w)
                parity ^= int(np.bitwise_xor.reduce(mix))
            cur = pa.Table.from_batches([b.select(key_list)])
            if first is None:
                first = cur.slice(0, 1)
            else:
                cur = pa.concat_tables([last, cur])
            inv += int(_out_of_order(cur, key_list).sum())
            last = cur.slice(cur.num_rows - 1)
            rows += b.num_rows
        edges = None
        if first is not None:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, first.schema) as w:
                w.write_table(pa.concat_tables([first, last]))
            edges = sink.getvalue().to_pybytes()
        yield pa.RecordBatch.from_pydict({
            "pid": [ctx.partitionId() if ctx is not None else 0],
            "rows": [rows],
            "inversions": [inv],
            "parity": [parity],
            "edges": pa.array([edges], pa.binary()),
        })

    cols = list(dict.fromkeys(key_list + [c for c, _ in terms]))
    rep = df.select(*cols).mapInArrow(
        check, "pid bigint, rows bigint, inversions bigint, parity bigint, edges binary"
    ).toPandas()
    return rep.sort_values("pid", ignore_index=True)


def assert_globally_sorted(df: DataFrame, keys: list[str], boundary_types=None):
    """Raises AssertionError unless df is globally sorted by keys
    (zero within-partition inversions + ordered partition boundaries).

    The boundaries are checked by the same key-code compare as the
    rows: the edge rows of the non-empty partitions, in partition
    order, must show zero inversions.  ``boundary_types`` is accepted
    and ignored (boundary keys keep their Arrow types).
    """
    rep = sortedness_report(df, keys)
    bad = rep[rep.inversions > 0]
    if not bad.empty:  # raised, not asserted: the check must survive -O
        records = bad.drop(columns="edges").to_dict("records")
        raise AssertionError(f"inversions found: {records}")
    edges = [pa.ipc.open_stream(e).read_all() for e in rep.edges[rep.rows > 0]]
    if edges:
        seq = pa.concat_tables(edges)
        wrong = np.flatnonzero(_out_of_order(seq, list(keys)))
        if len(wrong):
            prev, cur = seq.slice(wrong[0], 2).to_pylist()
            raise AssertionError(f"partition boundary out of order: {prev} > {cur}")
    return rep
