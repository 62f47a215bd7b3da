"""Hierarchical discrete-global-grid cells (H3/S2 analogue, pure NumPy).

The north_rule mandates an H3/S2-style cell index; neither library is
available in this environment, so we implement an equirectangular
quadtree grid with the same *algebra* the engine needs:

- ``encode(lat, lon, res)``   -> (xg, yg) integer grid coordinates,
- ``cell_id = (yg << res) | xg``  row-major packed id (SQL-expressible:
  ``floor((lat+90)/180*2^res)*2^res + floor((lon+180)/360*2^res)`` —
  this is what the DuckDB oracles recompute),
- ``morton_id``               bit-interleaved Z-order id used as the
  range-partitioning / sort key at scale (preserves 2-D locality across
  range partitions far better than row-major; the OVC sort-merge kernel
  sorts on it),
- ``parent_cell``             resolution hierarchy (exact quadtree),
- ``neighbours``              cell-offset neighbours (the NumPy form of
  kNN's cell-ring expansion, the H3 ``grid_ring`` analogue).

Longitude wraps (x neighbours mod 2^res); latitude clamps at the poles.
All functions are vectorized over NumPy arrays — no per-row Python
(BASELINE.json input_hint).

Reference parity note: the reference engine (external merge sort,
`/root/reference`) has no spatial types at all (SURVEY.md §2.2); this
module is the new capability layered *on top of* its sort-merge core,
as required by BASELINE.json north_star.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28  # (yg << res) | xg fits int64 for res <= 28 (2*28+? safe: yg<2^28, id<2^56)


def _as_arr(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64)


def encode_grid(lat, lon, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) degrees -> integer grid coords (xg, yg) at resolution res.

    xg in [0, 2^res): equirectangular bucket of lon in [-180, 180);
    yg in [0, 2^res): bucket of lat in [-90, 90).  Edges clamp so the
    closed upper bound (lat=90, lon=180) stays in the last cell — the
    same clamp the SQL oracle applies via LEAST().
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = np.int64(1) << res
    lat = _as_arr(lat)
    lon = _as_arr(lon)
    xg = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    yg = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(xg, 0, n - 1, out=xg)
    np.clip(yg, 0, n - 1, out=yg)
    return xg, yg


def cell_id(xg, yg, res: int) -> np.ndarray:
    """Row-major packed id: (yg << res) | xg.  SQL-oracle friendly."""
    xg = np.asarray(xg, dtype=np.int64)
    yg = np.asarray(yg, dtype=np.int64)
    return (yg << np.int64(res)) | xg


def cell_to_xy(cid, res: int) -> tuple[np.ndarray, np.ndarray]:
    cid = np.asarray(cid, dtype=np.int64)
    mask = (np.int64(1) << res) - 1
    return cid & mask, cid >> np.int64(res)


# --- Z-order (Morton) id: the scale-path sort/partition key ---------------

def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of x so there is a 0 bit between each."""
    x = x.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def morton_id(xg, yg) -> np.ndarray:
    """Interleave (xg, yg) bits -> Z-order curve index (int64).

    Used as the range-partition / OVC-sort key: consecutive Morton
    ranges are compact 2-D blocks, so each range partition covers a
    spatially local window — neighbour lookups (kNN rings) mostly stay
    within one partition at high resolution.
    """
    xg = np.asarray(xg, dtype=np.int64)
    yg = np.asarray(yg, dtype=np.int64)
    return (_part1by1(xg) | (_part1by1(yg) << np.uint64(1))).astype(np.int64)


# --- hierarchy -------------------------------------------------------------

def parent_cell(cid, res: int, parent_res: int) -> np.ndarray:
    """Quadtree parent: shift both axes down by (res - parent_res)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    xg, yg = cell_to_xy(cid, res)
    d = res - parent_res
    return cell_id(xg >> d, yg >> d, parent_res)


# --- k-ring neighbourhood (kNN expansion) ----------------------------------

def neighbours(xg, yg, res: int, offsets: np.ndarray):
    """Apply offsets to each (xg, yg); lon wraps, lat clamps (out-of-range
    rows dropped).  Returns (idx, nx, ny): idx maps back to input rows."""
    xg = np.asarray(xg, dtype=np.int64)
    yg = np.asarray(yg, dtype=np.int64)
    n = np.int64(1) << res
    m = len(offsets)
    idx = np.repeat(np.arange(len(xg), dtype=np.int64), m)
    nx = (xg[:, None] + offsets[None, :, 0]).ravel() % n  # lon wraps
    ny = (yg[:, None] + offsets[None, :, 1]).ravel()
    keep = (ny >= 0) & (ny < n)  # poles clamp: drop off-grid latitudes
    return idx[keep], nx[keep], ny[keep]


# --- SQL generators (keep oracle and engine on one formula) ----------------

def sql_grid_expr(lat_col: str, lon_col: str, res: int) -> tuple[str, str]:
    """(xg_sql, yg_sql) — ANSI SQL recomputation of encode_grid, used by
    the DuckDB oracles so both engines share one cell formula."""
    n = 1 << res
    xg = (
        f"LEAST(GREATEST(CAST(FLOOR(({lon_col} + 180.0) / 360.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    yg = (
        f"LEAST(GREATEST(CAST(FLOOR(({lat_col} + 90.0) / 180.0 * {n}) "
        f"AS BIGINT), 0), {n - 1})"
    )
    return xg, yg


def sql_cell_expr(lat_col: str, lon_col: str, res: int) -> str:
    xg, yg = sql_grid_expr(lat_col, lon_col, res)
    return f"(({yg}) * {1 << res} + ({xg}))"


def sql_spread_expr(x_sql: str) -> str:
    """The 5-step magic-mask bit spread as SQL (duplicates the input
    expression; fine for oracle use)."""
    e = f"CAST({x_sql} AS BIGINT)"
    for sh, mask in [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]:
        e = f"((({e}) | (({e}) << {sh})) & {mask})"
    return e


def sql_morton_expr(xg_sql: str, yg_sql: str) -> str:
    """Z-order id in SQL — identical bits to morton_id()/with_morton."""
    return f"(({sql_spread_expr(xg_sql)}) | (({sql_spread_expr(yg_sql)}) << 1))"
