"""Exact Tree-of-Losers k-way merge with OVC-accelerated comparisons.

Faithful reimplementation (semantics, geometry, instrumentation — not a
translation) of the reference tournament tree:

- tree geometry: height ``ceil(log2(#competitors))``, internal-node count
  ``2^h - 1``, array size ``2^(h-1) + ceil(k/2) - 1``
  (reference ``TreeOfLosers.cpp:108-124``),
- one comparison per level on the leaf-to-root replay after each pop
  (reference ``TreeOfLosers.cpp:286-370``),
- OVC fast path + loser-OVC update charged with the comparisons consumed
  (reference ``TreeOfLosers.cpp:217-241``),
- exhausted runs are represented by a *positive fence* that loses every
  match (reference ``TreeOfLosers.cpp:164-167``),
- equal rows: earlier leaf wins => merge is stable wrt run order
  (reference ``TreeOfLosers.cpp:36``).

This scalar kernel exists for (a) metric-parity tests against the
reference's cost model and (b) the final on-demand merge of small fan-ins.
The production path for bulk data is ``vmerge.py`` (vectorized).  Counters:
``ovc_compares`` = tournament matches played, ``col_compares`` = column
values actually compared (the reference's ``ct``, ``TreeOfLosers.cpp:30``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from .ovc import FENCE_OFFSET, FENCE_VALUE, compare_ovc, update_loser_ovc


@dataclass
class _RunState:
    rows: np.ndarray          # (n, c) int64, sorted
    ovc_off: np.ndarray       # (n,) run-relative OVC offsets
    ovc_val: np.ndarray       # (n,) run-relative OVC values
    pos: int = 0

    def exhausted(self) -> bool:
        return self.pos >= len(self.rows)


def run_relative_ovc(rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (offset, value) pairs of each row vs its predecessor.

    Row 0 gets ``(0, row[0])`` like freshly scanned rows (reference
    ``Scan.cpp:104-106``); row i>0 gets ``(j, row[j])`` with j = first
    column differing from row i-1 — which is exactly the pair the
    reference's merge leaves a row with after losing to its predecessor.
    Fully-equal rows get ``(c-1, row[c-1])`` (clamped like reference
    ``TreeOfLosers.cpp:234-240``).
    """
    n, c = rows.shape
    off = np.zeros(n, dtype=np.int64)
    if n > 1:
        diff = rows[1:] != rows[:-1]
        any_diff = diff.any(axis=1)
        first = np.where(any_diff, diff.argmax(axis=1), c - 1)
        off[1:] = first
    val = rows[np.arange(n), np.minimum(off, c - 1)] if n else np.zeros(0, np.int64)
    return off, val


@dataclass
class LoserTreeMerge:
    """Merge k sorted int64 runs; iterate rows via :meth:`pop` or drain()."""

    runs_in: list[np.ndarray]
    ovc_compares: int = 0
    col_compares: int = 0
    _runs: list[_RunState] = field(default_factory=list)
    # each run head's mutable [offset, value] OVC pair
    _cur_ovc: list[list[int]] = field(default_factory=list)

    def __post_init__(self):
        for r in self.runs_in:
            r = np.asarray(r, dtype=np.int64)
            if r.ndim != 2:
                raise ValueError("runs must be 2-D (n, c)")
            o, v = run_relative_ovc(r)
            self._runs.append(_RunState(rows=r, ovc_off=o, ovc_val=v))
        k = max(1, len(self._runs))
        # Reference geometry (TreeOfLosers.cpp:108-124) with one competitor
        # per run (pageSize=1 layout).
        self.height = max(1, math.ceil(math.log2(k))) if k > 1 else 1
        self.num_loser_nodes = (1 << self.height) - 1
        self.tree_size = (1 << (self.height - 1)) + math.ceil(k / 2) - 1
        self.num_runs = len(self._runs)  # real competitor count (0 allowed)
        self._tree = [-1] * (self.tree_size + 1)  # node -> loser run index
        self._winner = -1
        self._c = self._runs[0].rows.shape[1] if self._runs else 0
        self._load_heads()
        self._winner = self._init_node(1)

    # -- current head access -------------------------------------------------
    def _load_heads(self):
        self._cur_ovc = []
        self._cur_row = []
        for rs in self._runs:
            if rs.exhausted():
                self._cur_ovc.append([FENCE_OFFSET, FENCE_VALUE])
                self._cur_row.append(None)
            else:
                self._cur_ovc.append([int(rs.ovc_off[rs.pos]), int(rs.ovc_val[rs.pos])])
                self._cur_row.append(rs.rows[rs.pos])

    def _advance(self, run_idx: int):
        rs = self._runs[run_idx]
        rs.pos += 1
        if rs.exhausted():
            self._cur_ovc[run_idx] = [FENCE_OFFSET, FENCE_VALUE]
            self._cur_row[run_idx] = None
        else:
            self._cur_ovc[run_idx] = [int(rs.ovc_off[rs.pos]), int(rs.ovc_val[rs.pos])]
            self._cur_row[run_idx] = rs.rows[rs.pos]

    # -- comparisons ----------------------------------------------------------
    def _is_less_than(self, a: int, b: int) -> tuple[bool, int]:
        """Run-a's head at-or-before run-b's head (reference isLessThan)."""
        self.ovc_compares += 1
        ovc_a, ovc_b = self._cur_ovc[a], self._cur_ovc[b]
        if ovc_a[0] == FENCE_OFFSET and ovc_b[0] == FENCE_OFFSET:
            return True, 0
        a_first, ct = compare_ovc(self._cur_row[a], ovc_a, self._cur_row[b], ovc_b)
        self.col_compares += ct
        return a_first, ct

    def _charge_loser(self, run_idx: int, ct: int):
        if ct <= 0 or self._cur_row[run_idx] is None:
            return
        update_loser_ovc(self._cur_row[run_idx], self._cur_ovc[run_idx], ct)

    # -- tournament -----------------------------------------------------------
    def _init_node(self, node: int) -> int:
        if node > self.tree_size:
            return node  # unreachable for k >= 2 leaf math
        left, right = 2 * node, 2 * node + 1
        if left > self.tree_size:
            l_run = left - (self.num_loser_nodes + 1)
            r_run = right - (self.num_loser_nodes + 1)
        else:
            l_run = self._init_node(left)
            r_run = self._init_node(right)
        a_ok = 0 <= l_run < self.num_runs
        b_ok = 0 <= r_run < self.num_runs
        if a_ok and b_ok:
            a_first, ct = self._is_less_than(l_run, r_run)
        else:
            a_first, ct = a_ok, 0  # out-of-range child is a fence
        if a_first:
            winner, loser = l_run, r_run
        else:
            winner, loser = r_run, l_run
        if 0 <= loser < self.num_runs:
            self._charge_loser(loser, ct)
        self._tree[node] = loser
        return winner

    def pop(self):
        """Return the next row (1-D int64 array) or None when drained."""
        w = self._winner
        if w < 0 or w >= self.num_runs or self._cur_row[w] is None:
            return None
        row = self._cur_row[w]
        self._advance(w)
        self._replay(w)
        return row

    def _replay(self, competitor: int):
        node = (competitor + self.num_loser_nodes + 1) // 2
        while node > 0:
            incumbent = self._tree[node]
            inc_ok = 0 <= incumbent < self.num_runs
            if inc_ok:
                inc_first, ct = self._is_less_than(incumbent, competitor)
            else:
                inc_first, ct = False, 0
            if inc_first:
                self._tree[node] = competitor
                self._charge_loser(competitor, ct)
                competitor = incumbent
            else:
                if inc_ok:
                    self._charge_loser(incumbent, ct)
            node //= 2
        self._winner = competitor

    def drain(self) -> np.ndarray:
        """Materialize the full merged output as an (n, c) array."""
        out = []
        while True:
            row = self.pop()
            if row is None:
                break
            out.append(row)
        if not out:
            return np.zeros((0, self._c), dtype=np.int64)
        return np.vstack(out)
