"""Offset-value coding (OVC) — the scalar pair semantics of the loser tree.

The reference keeps OVC as a two-int pair ``(offset, offsetValue)`` per row
(reference ``Iterator.h:16-18``) with a non-standard convention
(reference ``TreeOfLosers.cpp:13-37``):

- higher ``offset`` sorts earlier,
- ties broken by lower ``offsetValue``,
- remaining ties fall back to comparing ``columns[offset+1:]`` and the
  number of column comparisons consumed is charged to the *loser*,
  whose pair becomes ``(offset+ct, columns[offset+ct])`` with an
  end-of-row clamp (reference ``TreeOfLosers.cpp:227-241, 324-360``),
- full equality returns True (stable wrt leaf order,
  reference ``TreeOfLosers.cpp:36``),
- a row's OVC is initialized to ``(0, columns[0])`` at generation
  (reference ``Scan.cpp:104-106``).

``compare_ovc`` is that comparison, the one ``LoserTreeMerge`` plays
every match with; ``update_loser_ovc`` is the loser's update.  The fast
kernel does not keep per-row pairs: it packs the whole key into one
``uint64`` per row (``keys.pack_columns_shared``), so a merge compare is
one integer compare (``vmerge.py``) — the effect the EDBT 2023
"Offset-value coding in database query processing" formulation
(PAPERS.md) gets from its codes.
"""

from __future__ import annotations

import numpy as np

INF = np.iinfo(np.int64).max
NEG_INF = np.iinfo(np.int64).min

# Fence ("positive fence") row marker: loses every comparison so it sinks
# to the end of a merge; mirrors the sentinel at reference DRAM.cpp:25-27
# and TreeOfLosers.cpp:164-166 (offset=INT_MIN, offsetValue=INT_MAX).
FENCE_OFFSET = NEG_INF
FENCE_VALUE = INF


def compare_ovc(cols_a, ovc_a, cols_b, ovc_b):
    """Compare two rows under the reference OVC contract.

    cols_a/cols_b : 1-D int sequences (full rows; the sort key is the
        whole row, like reference Witness/TreeOfLosers).
    ovc_a/ovc_b   : [offset, offset_value] pairs, read only.

    Returns (a_first: bool, ct: int) where ``a_first`` is True when row A
    sorts at-or-before row B (True on full equality), and ``ct`` is the
    number of column-value comparisons consumed.  The CALLER applies the
    loser's OVC update (the reference updates the loser at the tree node,
    not inside isLessThan).
    """
    if ovc_a[0] != ovc_b[0]:
        return ovc_a[0] > ovc_b[0], 0
    if ovc_a[1] != ovc_b[1]:
        return ovc_a[1] < ovc_b[1], 0
    ct = 0
    n = len(cols_a)
    for i in range(ovc_a[0] + 1, n):
        ct += 1
        if cols_a[i] != cols_b[i]:
            return cols_a[i] < cols_b[i], ct
    return True, ct


def update_loser_ovc(cols, ovc, ct):
    """Charge ``ct`` comparisons to the loser row's OVC pair.

    Mirrors reference ``TreeOfLosers.cpp:227-241`` including the
    out-of-bounds clamp to the last column.
    """
    if ct <= 0:
        return
    n = len(cols)
    off = ovc[0] + ct
    if off > n:
        ovc[0] = n
        ovc[1] = cols[n - 1]
    else:
        ovc[0] = off
        # NOTE: the reference indexes columns[offset] with offset possibly
        # == row_len only guarded by `> row_len`; offset == n would be OOB
        # in C++ but is unreachable because ct <= n-1-old_offset.
        ovc[1] = cols[off] if off < n else cols[n - 1]

