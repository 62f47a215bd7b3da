"""Point-in-polygon join (even-odd ray casting + cell-cover prefilter).

The reference engine has no joins (SURVEY.md §2.2); this is the spatial
join capability the north_star mandates, built the Spark-first way:

  1. *cover*: each polygon's bbox is expanded to the set of grid cells it
     touches at resolution ``res`` (driver-side, polygons are small);
  2. *prefilter join*: pages carry their cell id; a **broadcast** join
     pages ⋈ cover(cells) yields candidates — no shuffle of the big side;
  3. *refine*: exact even-odd ray casting as one Catalyst expression
     per polygon (``spatial/ops.py``), unrolled over its edges and
     compiled with the join by WholeStageCodegen — no Python worker.

At 100 TB the page side never shuffles: the cover set is tiny (cells ×
polygons) and broadcast; refinement is a per-row predicate on the join.
For huge polygon sets, swap step 2 for the OVC sort-merge on cell keys
(operators/sort.py) — same cover representation.

``Polygon.contains`` (NumPy) and ``sql_pip_expr`` (ANSI SQL, one CASE
term per edge) state the *identical* even-odd test, so NumPy and DuckDB
oracles verify the join row-for-row.

Boundary convention: strictly-inside per the even-odd rule with
half-open edges ([min(y), max(y)) vertical span, strict x crossing) —
the same convention the SQL expression encodes, so engine and oracle
agree on edge cases by construction.
"""

from __future__ import annotations

import numpy as np

from .cells import encode_grid


class Polygon:
    """Simple ring polygon: vertices [(lon, lat), ...], not closed."""

    def __init__(self, poly_id: int, vertices: list[tuple[float, float]]):
        if len(vertices) < 3:
            raise ValueError("polygon needs >= 3 vertices")
        self.poly_id = int(poly_id)
        self.vx = np.asarray([v[0] for v in vertices], dtype=np.float64)
        self.vy = np.asarray([v[1] for v in vertices], dtype=np.float64)

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (
            float(self.vx.min()),
            float(self.vy.min()),
            float(self.vx.max()),
            float(self.vy.max()),
        )

    def cover_cells(self, res: int) -> np.ndarray:
        """Grid cells whose bbox intersects the polygon bbox (superset of
        the true cover — refinement removes false positives)."""
        lon_min, lat_min, lon_max, lat_max = self.bbox
        (x0, x1), (y0, y1) = (
            encode_grid([lat_min, lat_max], [lon_min, lon_max], res)[0][[0, 1]],
            encode_grid([lat_min, lat_max], [lon_min, lon_max], res)[1][[0, 1]],
        )
        xs = np.arange(min(x0, x1), max(x0, x1) + 1, dtype=np.int64)
        ys = np.arange(min(y0, y1), max(y0, y1) + 1, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)
        from .cells import cell_id

        return cell_id(gx.ravel(), gy.ravel(), res)

    def contains(self, lon, lat) -> np.ndarray:
        """Vectorized even-odd ray cast; returns bool array.  The NumPy
        oracle the Spark join is checked against."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        n = len(self.vx)
        inside = np.zeros(lon.shape, dtype=bool)
        j = n - 1
        for i in range(n):  # loop over EDGES (few), vectorized over points
            xi, yi = self.vx[i], self.vy[i]
            xj, yj = self.vx[j], self.vy[j]
            cross = (yi > lat) != (yj > lat)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (xj - xi) * (lat - yi) / (yj - yi) + xi
            inside ^= cross & (lon < xint)
            j = i
        return inside

    def sql_pip_expr(self, lon_col: str, lat_col: str) -> str:
        """The same even-odd test as one SQL boolean expression: XOR-fold
        of per-edge crossing terms (ANSI: (sum of cases) % 2 = 1)."""
        terms = []
        n = len(self.vx)
        j = n - 1
        for i in range(n):
            xi, yi = repr(float(self.vx[i])), repr(float(self.vy[i]))
            xj, yj = repr(float(self.vx[j])), repr(float(self.vy[j]))
            terms.append(
                f"(CASE WHEN (({yi} > {lat_col}) <> ({yj} > {lat_col})) "
                f"AND ({lon_col} < ({xj} - {xi}) * ({lat_col} - {yi}) "
                f"/ ({yj} - {yi}) + {xi}) THEN 1 ELSE 0 END)"
            )
            j = i
        return "((" + " + ".join(terms) + ") % 2 = 1)"


def default_polygons() -> list[Polygon]:
    """Deterministic small polygon set used by tests/queries: a triangle,
    a convex pentagon, and a non-convex 'arrow' — covering convex,
    non-convex, and sliver shapes."""
    return [
        Polygon(1, [(-10.0, -10.0), (30.0, -5.0), (10.0, 25.0)]),
        Polygon(
            2,
            [(40.0, 10.0), (60.0, 5.0), (75.0, 20.0), (60.0, 40.0), (42.0, 32.0)],
        ),
        Polygon(
            3,
            [(-120.0, 20.0), (-80.0, 20.0), (-100.0, 35.0), (-80.0, 60.0), (-120.0, 60.0)],
        ),
    ]
