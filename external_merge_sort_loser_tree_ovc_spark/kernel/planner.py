"""Merge planning: fan-in, initial fan-in, merge depth.

Reproduces the reference's cost-model formulas exactly (they are part of
the metrics contract in BASELINE.md):

- fan-in ``B`` = (memory budget / page size) - 1 output buffer
  (reference ``Sort.cpp:75-80``),
- initial fan-in ``X = (W - 2) % (B - 1) + 2`` so every later pass runs
  at full fan-in B — the "1-step to n-step graceful degradation"
  (reference ``Sort.cpp:85``, ``DRAM.cpp:460``),
- merge depth ``1 + ceil(log_B W)`` (pass 0 = run formation,
  reference ``Sort.cpp:88``).

``ExternalSorter._merge_all`` runs the schedule these describe.
"""

from __future__ import annotations

import math


def initial_fan_in(num_runs: int, fan_in: int) -> int:
    """X = (W-2) % (B-1) + 2 for W > B; else merge everything at once."""
    if num_runs <= fan_in:
        return num_runs
    return (num_runs - 2) % (fan_in - 1) + 2


def merge_depth(num_runs: int, fan_in: int) -> int:
    """Total passes incl. run formation: 1 + ceil(log_B W)."""
    if num_runs <= 1:
        return 1
    return 1 + math.ceil(math.log(num_runs) / math.log(fan_in))
