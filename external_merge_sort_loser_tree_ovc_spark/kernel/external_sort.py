"""Partition-level external merge sort — the vectorized OVC sort kernel.

One instance of this runs inside every ``mapInArrow``/``mapInPandas``
task.  Phases mirror the reference's ``SortIterator`` lifecycle
(reference ``Sort.cpp:21-136``):

  pass 0  run formation — buffer Arrow batches up to the memory budget,
          sort each full buffer vectorized, spill as an Arrow run file
          of ``batch_rows`` pages;
          the final partial buffer stays IN MEMORY (the analogue of the
          reference's graceful internal→external degradation, reference
          ``DRAM.cpp:75-134``: only what exceeds memory is spilled, so
          spill ≈ I − M when input barely overflows, cf. Test2),
  passes 1..d-1  intermediate merges while more than B runs remain,
          smallest runs first, initial fan-in X = (W-2) % (B-1) + 2
          (reference ``Sort.cpp:85``, ``DRAM.cpp:460``),
  final   merge of ≤ B runs, emitted one ``emit_rows`` slice at a time
          (reference ``Sort.cpp:125-134``).

Every fast-mode merge, intermediate or final, holds bounded memory
(``_merge_stream``): the merge order is computed from the runs' key
columns alone, then the payload is gathered one output slice at a time
through a page cursor per run (reference ``DRAM.cpp:551-596``), so a
merge holds one page per input run, one output slice, and 8-16 bytes of
key codes per row -- never a whole-partition table.

The data plane is Arrow end to end: one key matrix
(``keys.key_matrix_table``, read straight from Arrow buffers) drives run
formation, every fast merge and the counted loser-tree merge, so every
sort compare is a compare of ``keys.py`` codes (a key type with no code
raises TypeError); row reordering is ``Table.take`` (C++), spills are
Arrow IPC files, and pandas appears only in the compatibility adapter
``sort()``.  This removed the pandas<->Arrow string round-trips that
dominated the profile (5 of 9 seconds per 250k-row partition).

Instrumentation mirrors the reference's printouts (``Sort.cpp:90-100``,
``Sort.cpp:189-191``): W, B, X, merge depth, spill rows, pass count,
plus comparison counts from whichever merge ran (see ``SortMetrics``).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

from . import keys as K
from . import vmerge
from .keys import key_matrix_table
from .loser_tree import LoserTreeMerge
from .planner import initial_fan_in, merge_depth
from .runs import PageCursor, RunStore

# The hidden column ``external_sort_df`` appends to a checkpointed sort's
# input: one xxhash64 per row, computed by Spark.  The kernel folds it
# into the input fingerprint and drops it before run formation.
ROW_HASH_COL = "_emsort_row_hash"
_U64 = (1 << 64) - 1


@dataclass
class SortMetrics:
    rows_in: int = 0
    rows_out: int = 0
    runs_formed: int = 0          # W
    fan_in: int = 0               # B
    initial_fan_in: int = 0       # X
    depth: int = 0                # 1 + ceil(log_B W)
    passes: int = 0
    spill_rows: int = 0
    # Comparison counts, by mode.  fast: pairwise merge-path head-to-
    # head events, over every packed merge, whose packed codes differ
    # (ovc) or tie (col) -- vmerge.merge2_compare_counts; both stay 0
    # when the keys did not pack and a lexsort did the merge.  exact: the
    # loser tree's OVC-resolved (ovc) and column (col) comparisons.
    ovc_compares: int = 0
    col_compares: int = 0
    resumed: bool = False
    mode: str = "fast"
    wall_ms: float = 0.0

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _sort_table(tbl: pa.Table, key_cols: list[str]) -> pa.Table:
    """Vectorized single-buffer sort (run formation).

    Key matrix + np.lexsort (the cache-run analogue of the reference's
    in-RAM sort, ``DRAM.cpp:362-445``, with ``take`` instead of the
    in-place permutation ``DRAM.cpp:338-354``).
    """
    if tbl.num_rows == 0:
        return tbl
    order = K.lexsort_indices(key_matrix_table(tbl, key_cols))
    if _is_trivial(order):
        return tbl
    return tbl.take(pa.array(order))


def _is_trivial(order: np.ndarray) -> bool:
    return bool(len(order) == 0 or (order == np.arange(len(order))).all())


def _pages(tbl: pa.Table, rows: int) -> Iterator[pa.Table]:
    return (tbl.slice(i, rows) for i in range(0, tbl.num_rows, rows))


def _merge_order(
    tables: list[pa.Table], key_cols: list[str], counters: dict | None = None
) -> np.ndarray:
    """Merge order of sorted Arrow tables: int64 gather indices into their
    concatenation.  Only ``key_cols`` are read, so callers pass the key
    columns alone.

    ``counters``: optional {"ovc", "col"} dict accumulated with the
    packed-path comparison counts (``vmerge.merge2_compare_counts``) —
    instrumentation from the PRODUCTION merge, not a shadow sort.  The
    lexsort used when the keys do not pack performs no countable
    head-to-head events (one stable sort) and leaves the counters
    untouched.
    """
    big = pa.concat_tables(tables, promote_options="default")
    # normalize ONCE over the concatenation, then slice per-run ranges:
    # string ranks are only comparable within one table, and the null
    # flag column exists only when some run has nulls
    mat = key_matrix_table(big, key_cols)
    bounds = np.cumsum([0] + [t.num_rows for t in tables])
    packed = K.pack_columns_shared(
        [mat[bounds[i] : bounds[i + 1]] for i in range(len(tables))]
    )
    if packed is not None:
        # O(n log k), single-int compares
        return vmerge.merge_runs_packed(packed, counters)
    # a stable lexsort of the concatenation keeps ties in run order
    return K.lexsort_indices(mat)


def _to_table(b) -> pa.Table:
    if isinstance(b, pa.Table):
        return b
    if isinstance(b, pa.RecordBatch):
        return pa.Table.from_batches([b])
    return pa.Table.from_pandas(b, preserve_index=False)


@dataclass
class ExternalSorter:
    """Sorts one partition's batch stream with bounded memory."""

    key_cols: list[str]
    spill_dir: str
    memory_budget_rows: int = 1 << 20
    batch_rows: int = 1 << 16
    mode: str = "fast"            # "fast" | "exact" (loser tree w/ counters)
    # Output batch size.  ``batch_rows`` sets only the merge GEOMETRY
    # (fan-in = budget/batch - 1, reference B = M/page - 1); emitted
    # batches are sliced at ``emit_rows`` (default: max(batch_rows,
    # 8192) so tiny geometry pages don't flood the downstream Arrow
    # stream with micro-batches).  Callers that size per-batch memory
    # downstream should set emit_rows explicitly.
    emit_rows: int | None = None
    # When True, the final partial buffer is ALSO spilled before the run
    # manifest commits, so the checkpoint covers every input row and a
    # retried task can rebuild its output WITHOUT repeating the merge
    # passes (the north_rule's resumability).  When False, the tail stays
    # in memory (the reference's graceful-degradation spill minimum,
    # DRAM.cpp:75-134).
    checkpoint_inputs: bool = False
    # Resume protocol (checkpoint_inputs only).  The input fingerprint is
    # (rows, XOR, wrapping uint64 sum) over the ROW_HASH_COL values; the
    # sum keeps rows that occur an even number of times from cancelling
    # out of the XOR.  A committed manifest records it.  A rerun forms
    # runs in a staging dir while folding its own fingerprint: if the two
    # are equal, the staged runs are discarded and the committed runs
    # replay (merge passes skipped); otherwise (e.g. nondeterministic
    # upstream partitioning re-dealt the rows) the stale checkpoint is
    # discarded and the staged runs proceed as a fresh sort.  Input
    # without the column records no fingerprint, and a manifest without
    # one never replays.  Without checkpoint_inputs no manifest is read
    # or written: the spill dir belongs to one sort.
    metrics: SortMetrics = field(default_factory=SortMetrics)
    _fingerprint: tuple[int, int, int] | None = None
    # production-path comparison counters ({"ovc", "col"}), accumulated
    # by every packed vectorized merge (vmerge.merge2_compare_counts)
    _cmp: dict = field(default_factory=dict)
    # write-through cache: when checkpoint_inputs spills the tail, the
    # just-written run is served from memory instead of read back from
    # disk (the file still exists for resume — only this process skips
    # the redundant decode)
    _run_cache: tuple | None = None

    # -- public: pandas adapter (mapInPandas / tests) ---------------------------
    def sort(self, batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for t in self.sort_tables(_to_table(b) for b in batches):
            yield t.to_pandas()

    # -- public: Arrow-native (mapInArrow) --------------------------------------
    def sort_tables(self, batches: Iterable[pa.Table]) -> Iterator[pa.Table]:
        t0 = time.perf_counter()
        self.metrics.mode = self.mode

        self._fingerprint = (0, 0, 0) if self.checkpoint_inputs else None
        committed = RunStore.load(self.spill_dir) if self.checkpoint_inputs else None
        if committed is not None and not committed[0].runs:
            committed = None  # an empty partition: nothing to replay
        if committed is None:
            store = RunStore(self.spill_dir)
        else:
            # form runs in a staging dir while fingerprinting the input,
            # then decide replay vs recompute
            store = RunStore(
                os.path.join(self.spill_dir, f"staging-{uuid.uuid4().hex}"),
                manifest_dir=self.spill_dir,
            )
        tail = yield from self._form_runs(batches, store)
        if tail is _INLINE_DONE:
            self.metrics.wall_ms = (time.perf_counter() - t0) * 1e3
            return
        fingerprint = self._fingerprint_hex()
        if committed is not None and fingerprint is not None and (
            fingerprint == committed[1].get("fingerprint")
        ):
            # identical input: replay committed runs, drop staging
            shutil.rmtree(store.root, ignore_errors=True)
            store, tail = committed[0], None
            self.metrics.resumed = True
        else:
            if committed is not None:
                self._invalidate(committed[0])
            tail = self._spill_tail(store, tail)
            self._commit(store)

        yield from self._merge_all(store, tail)
        self.metrics.wall_ms = (time.perf_counter() - t0) * 1e3

    def _in_memory(self, src) -> pa.Table | None:
        """The table behind a merge source: the in-memory tail, the
        write-through cached run, or None for a run read from disk."""
        if isinstance(src, pa.Table):
            return src
        if self._run_cache is not None and self._run_cache[0] is src:
            return self._run_cache[1]
        return None

    def _read_run(self, store: RunStore, src, columns=None) -> pa.Table:
        tbl = self._in_memory(src)
        if tbl is None:
            return store.read_run(src, columns)
        return tbl if columns is None else tbl.select(columns)

    def _open(self, store: RunStore, src) -> PageCursor:
        tbl = self._in_memory(src)
        return store.open_run(src) if tbl is None else PageCursor.of_table(tbl)

    def _spill_tail(self, store: RunStore, tail):
        if self.checkpoint_inputs and tail is not None and tail.num_rows:
            info = store.write_run(_pages(tail, self.batch_rows))
            self._run_cache = (info, tail)  # write-through: no read-back
            return None
        return tail

    def _fingerprint_hex(self) -> str | None:
        if self._fingerprint is None:
            return None
        rows, xor, total = self._fingerprint
        return f"{rows}:{xor:016x}:{total:016x}"

    def _commit(self, store: RunStore):
        if self.checkpoint_inputs:
            store.commit({"fingerprint": self._fingerprint_hex()})

    def _without_row_hash(self, b: pa.Table) -> pa.Table:
        """``b`` without ROW_HASH_COL, folded into the fingerprint first."""
        i = b.schema.get_field_index(ROW_HASH_COL)
        if i < 0:
            self._fingerprint = None
            return b
        if self._fingerprint is not None:
            h = b.column(i).to_numpy().view(np.uint64)
            rows, xor, total = self._fingerprint
            self._fingerprint = (
                rows + len(h),
                xor ^ int(np.bitwise_xor.reduce(h)),
                (total + int(h.sum(dtype=np.uint64))) & _U64,
            )
        return b.remove_column(i)

    def _invalidate(self, store: RunStore):
        try:
            os.remove(store.manifest_path())
        except OSError:
            pass
        for r in list(store.runs):
            try:
                os.remove(r.path)
            except OSError:
                pass

    # -- pass 0 ---------------------------------------------------------------
    def _form_runs(self, batches, store: RunStore):
        buf: list[pa.Table] = []
        buf_rows = 0
        budget = max(self.batch_rows, self.memory_budget_rows - self.batch_rows)
        spilled_any = False
        for b in batches:
            b = self._without_row_hash(b)
            if b.num_rows == 0:
                continue
            self.metrics.rows_in += b.num_rows
            buf.append(b)
            buf_rows += b.num_rows
            if buf_rows >= budget:
                # an incoming Arrow batch can exceed the budget (Arrow
                # batch size is a Spark conf, not ours): split into
                # budget-sized runs, each sorted independently, so the
                # memory ceiling holds regardless of producer batching
                tbl = pa.concat_tables(buf, promote_options="default")
                start = 0
                while tbl.num_rows - start >= budget:
                    chunk = tbl.slice(start, budget)
                    store.write_run(
                        _pages(_sort_table(chunk, self.key_cols), self.batch_rows)
                    )
                    spilled_any = True
                    start += budget
                rest = tbl.slice(start)
                buf = [rest] if rest.num_rows else []
                buf_rows = rest.num_rows
        tail = None
        if buf:
            tbl = pa.concat_tables(buf, promote_options="default")
            tail = _sort_table(tbl, self.key_cols)
        if not spilled_any and not self.checkpoint_inputs:
            # internal-sort path: everything fit in memory (Sort.cpp:163-165)
            self.metrics.runs_formed = 1 if tail is not None else 0
            self.metrics.depth = 1
            self.metrics.passes = 1
            self.metrics.rows_out = 0 if tail is None else tail.num_rows
            if tail is not None:
                yield from _pages(tail, self._emit_step())
            return _INLINE_DONE
        return tail

    # -- passes 1..d ------------------------------------------------------------
    def _merge_all(self, store: RunStore, tail: pa.Table | None):
        # the in-memory tail participates as one more (unspilled) run
        tail_tbl = tail if tail is not None and tail.num_rows else None
        w = len(store.runs) + (1 if tail_tbl is not None else 0)
        b = max(2, self.memory_budget_rows // self.batch_rows - 1)
        m = self.metrics
        m.runs_formed = w
        m.fan_in = b
        m.initial_fan_in = initial_fan_in(w, b)
        m.depth = merge_depth(w, b)
        # intermediate merges: operate directly on the size-ordered store;
        # first step merges only X runs (1-step→n-step degradation,
        # Sort.cpp:85), later steps full fan-in B, smallest runs first.
        first_step = True
        max_gen = 0
        while len(store.runs) + (1 if tail_tbl is not None else 0) > b:
            take = m.initial_fan_in if first_step else min(b, len(store.runs))
            first_step = False
            batch = store.runs[:take]
            gen = 1 + max(r.generation for r in batch)
            max_gen = max(max_gen, gen)
            # the merged run streams into its file page by page; the
            # inputs are removed only once it is complete
            merged = self._merge_stream(store, batch, self.batch_rows)
            store.write_run(merged, generation=gen)
            if self._run_cache is not None and any(
                r is self._run_cache[0] for r in batch
            ):
                self._run_cache = None
            store.remove_runs(batch)
            self._commit(store)
        # passes executed: formation + intermediate generations + final merge
        m.passes = 1 + max_gen + (1 if w > 1 else 0)
        m.spill_rows = store.spill_rows

        sources = list(store.runs)
        if tail_tbl is not None:
            sources.append(tail_tbl)
        exact = self._final_exact_merge(store, sources) if self.mode == "exact" else None
        if exact is not None:
            yield from exact
        else:
            if sources:
                for out in self._merge_stream(store, sources, self._emit_step()):
                    m.rows_out += out.num_rows
                    yield out
            # instrumentation comes from the one production merge path
            # (packed merge-path counts) whenever it performed the final
            # merge (the exact tree sets its own reference-faithful counts)
            m.ovc_compares = self._cmp.get("ovc", 0)
            m.col_compares = self._cmp.get("col", 0)

    def _merge_stream(self, store: RunStore, sources: list, step: int):
        """Merge sorted ``sources`` (runs or in-memory tables) into sorted
        tables of ``step`` rows.

        The order comes from the key columns alone (``_merge_order``).
        A merge consumes every source in order, so each output slice
        takes a contiguous range from each source: it is read through
        that source's page cursor, the ranges are concatenated, and one
        ``take`` with the slice-local permutation puts them in order.
        """
        sizes = [s.num_rows if isinstance(s, pa.Table) else s.rows for s in sources]
        bounds = np.cumsum([0] + sizes)
        idx = None
        if len(sources) > 1:
            keys = [self._read_run(store, s, self.key_cols) for s in sources]
            idx = _merge_order(keys, self.key_cols, self._cmp)
            del keys
        cursors: list[PageCursor] = []
        try:
            for s in sources:
                cursors.append(self._open(store, s))
            schema = cursors[0].schema
            if any(not c.schema.equals(schema) for c in cursors):
                schema = pa.unify_schemas(
                    [c.schema for c in cursors], promote_options="default"
                )
            done = np.zeros(len(sources), dtype=np.int64)  # rows read per source
            for i in range(0, int(bounds[-1]), step):
                if idx is None:
                    yield cursors[0].read(min(step, int(bounds[-1]) - i))
                    continue
                sl = idx[i : i + step]
                src = np.searchsorted(bounds, sl, side="right") - 1
                counts = np.bincount(src, minlength=len(sources))
                # position of global row g of source r within the
                # concatenated ranges: g - bounds[r] - done[r] + offset[r]
                shift = np.zeros(len(sources), dtype=np.int64)
                parts, offset = [], 0
                for r in np.flatnonzero(counts):
                    parts.append(cursors[r].read(int(counts[r])))
                    shift[r] = offset - done[r] - bounds[r]
                    offset += counts[r]
                done += counts
                out = pa.concat_tables(parts, promote_options="default")
                if len(parts) > 1:
                    out = out.take(pa.array(sl + shift[src]))
                if not out.schema.equals(schema):
                    out = pa.concat_tables(
                        [schema.empty_table(), out], promote_options="default"
                    )
                yield out
        finally:
            for c in cursors:
                c.close()

    def _final_exact_merge(self, store: RunStore, sources: list):
        """The counted loser-tree final merge over fully read runs, or
        None when there is nothing to merge.

        The tree's rows are the key matrix shifted by 2^63 into int64
        (an order-preserving map).  When the key is the whole schema,
        every column is an integer and no key has NULLs, those rows ARE
        the output (reference semantics: every column is a key column),
        rebuilt column by column.  Otherwise a global row-index column is
        appended: it breaks key ties deterministically (runs are
        key-sorted, so (key, index) is sorted within every run) and
        gathers the merged Arrow rows, payload columns included.
        """
        if not sources:
            return None
        tables = [self._read_run(store, s) for s in sources]
        big = pa.concat_tables(tables, promote_options="default")
        mat = (key_matrix_table(big, self.key_cols) ^ K.SIGN64).view(np.int64)
        whole_row = (
            list(self.key_cols) == big.schema.names
            and mat.shape[1] == len(self.key_cols)  # no NULL flag column
            and all(pa.types.is_integer(f.type) for f in big.schema)
        )
        if not whole_row:
            mat = np.column_stack([mat, np.arange(big.num_rows, dtype=np.int64)])
        bounds = np.cumsum([0] + [t.num_rows for t in tables])
        tree = LoserTreeMerge(
            [mat[bounds[i] : bounds[i + 1]] for i in range(len(tables))]
        )
        return self._drain_tree(tree, big, whole_row)

    def _drain_tree(self, tree: LoserTreeMerge, big: pa.Table, whole_row: bool):
        def emit(rows):
            if whole_row:
                m = np.vstack(rows)
                t = pa.Table.from_arrays(
                    [pa.array(m[:, j]).cast(f.type) for j, f in enumerate(big.schema)],
                    names=big.schema.names,
                )
            else:
                t = big.take(pa.array(np.array([r[-1] for r in rows], dtype=np.int64)))
            self.metrics.rows_out += t.num_rows
            return t

        buf = []
        while (row := tree.pop()) is not None:
            buf.append(row)
            if len(buf) >= self.batch_rows:
                yield emit(buf)
                buf = []
        if buf:
            yield emit(buf)
        self.metrics.ovc_compares = tree.ovc_compares
        self.metrics.col_compares = tree.col_compares

    # -- emission ---------------------------------------------------------------
    def _emit_step(self) -> int:
        # emission slices are decoupled from batch_rows (see emit_rows
        # field doc): geometry pages can be tiny without pushing
        # thousands of micro-batches into the downstream Arrow stream
        if self.emit_rows is not None and self.emit_rows < 1:
            # range(0, n, step<=0) would silently emit NOTHING — make the
            # misconfiguration loud instead of losing the sorted output
            raise ValueError(f"emit_rows must be >= 1, got {self.emit_rows}")
        return self.emit_rows if self.emit_rows else max(self.batch_rows, 8192)


class _InlineDone:
    pass


_INLINE_DONE = _InlineDone()

