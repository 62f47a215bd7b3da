"""Spatial layer tests: cells, PIP join, kNN ring expansion, raster tiles.

Oracles: pure-NumPy brute force + the SQL generators run through DuckDB,
so the exact expressions the driver's correctness gate uses are also
pinned here.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages
from external_merge_sort_loser_tree_ovc_spark.spatial import cells
from external_merge_sort_loser_tree_ovc_spark.spatial.pip import Polygon, default_polygons


# --- NumPy oracles -------------------------------------------------------------

def encode_cell(lat, lon, res: int) -> np.ndarray:
    xg, yg = cells.encode_grid(lat, lon, res)
    return cells.cell_id(xg, yg, res)


def morton_to_xy(m) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``cells.morton_id``: de-interleave the bits."""
    m = np.asarray(m, dtype=np.uint64)

    def compact(v):
        v = v & np.uint64(0x5555555555555555)
        v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
        v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
        return v.astype(np.int64)

    return compact(m), compact(m >> np.uint64(1))


def children_cells(cid: int, res: int, child_res: int) -> np.ndarray:
    """All child cell ids of one cell at a finer resolution."""
    d = child_res - res
    xg, yg = cells.cell_to_xy(np.asarray([cid]), res)
    dx, dy = np.meshgrid(np.arange(1 << d), np.arange(1 << d))
    return cells.cell_id((xg[0] << d) + dx.ravel(), (yg[0] << d) + dy.ravel(), child_res)


def ring_offsets(k: int) -> np.ndarray:
    """(dx, dy) offsets of the hollow ring at Chebyshev distance k."""
    if k == 0:
        return np.zeros((1, 2), dtype=np.int64)
    side = np.arange(-k, k + 1, dtype=np.int64)
    top = np.stack([side, np.full_like(side, -k)], axis=1)
    bot = np.stack([side, np.full_like(side, k)], axis=1)
    mid = np.arange(-k + 1, k, dtype=np.int64)
    left = np.stack([np.full_like(mid, -k), mid], axis=1)
    right = np.stack([np.full_like(mid, k), mid], axis=1)
    return np.concatenate([top, bot, left, right])


def disk_offsets(k: int) -> np.ndarray:
    """(dx, dy) offsets of the full (2k+1)^2 disk (rings 0..k)."""
    side = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(side, side)
    return np.stack([dx.ravel(), dy.ravel()], axis=1)


# --- cells -------------------------------------------------------------------

def test_encode_grid_roundtrip_and_bounds():
    lat = np.array([-90.0, -89.999, 0.0, 45.5, 89.999, 90.0])
    lon = np.array([-180.0, -179.9, 0.0, 12.25, 179.9, 180.0])
    for res in (0, 1, 4, 9, 15):
        xg, yg = cells.encode_grid(lat, lon, res)
        n = 1 << res
        assert xg.min() >= 0 and xg.max() < n
        assert yg.min() >= 0 and yg.max() < n
        cid = cells.cell_id(xg, yg, res)
        bx, by = cells.cell_to_xy(cid, res)
        assert (bx == xg).all() and (by == yg).all()


def test_cell_sql_expr_matches_numpy():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-90, 90, 2000)
    lon = rng.uniform(-180, 180, 2000)
    res = 7
    expect = encode_cell(lat, lon, res)
    df = pd.DataFrame({"lat": lat, "lon": lon})
    got = duckdb.sql(
        f"SELECT {cells.sql_cell_expr('lat', 'lon', res)} AS c FROM df"
    ).fetchnumpy()["c"]
    assert (got == expect).all()


def test_morton_roundtrip_and_locality():
    rng = np.random.default_rng(3)
    xg = rng.integers(0, 1 << 20, 5000)
    yg = rng.integers(0, 1 << 20, 5000)
    m = cells.morton_id(xg, yg)
    bx, by = morton_to_xy(m)
    assert (bx == xg).all() and (by == yg).all()
    # locality: sorting by morton gives smaller mean neighbour distance
    # than sorting by row-major id
    order_m = np.argsort(m)
    order_r = np.argsort(cells.cell_id(xg, yg, 20))

    def mean_step(order):
        dx = np.diff(xg[order]).astype(float)
        dy = np.diff(yg[order]).astype(float)
        return np.hypot(dx, dy).mean()

    assert mean_step(order_m) < mean_step(order_r)


def test_parent_children():
    cid = encode_cell(np.array([40.0]), np.array([-3.0]), 10)
    kids = children_cells(int(cid[0]), 10, 12)
    assert len(kids) == 16
    back = cells.parent_cell(kids, 12, 10)
    assert (back == cid[0]).all()


def test_ring_offsets(spark):
    """kNN's JVM-side ring generator yields exactly the NumPy rings and
    disks."""
    from external_merge_sort_loser_tree_ovc_spark.spatial.knn import _ring

    def offsets(lo, hi):
        rows = spark.range(1).select(_ring(lo, hi)).collect()
        return sorted((r["_dx"], r["_dy"]) for r in rows)

    assert len(ring_offsets(0)) == 1
    for k in (0, 1, 2, 5):
        ring = ring_offsets(k)
        assert len(ring) == max(1, 8 * k)
        assert (np.abs(ring).max(axis=1) == k).all()
        assert offsets(k, k) == sorted(map(tuple, ring.tolist()))
    disk = disk_offsets(3)
    assert len(disk) == 49
    assert offsets(0, 3) == sorted(map(tuple, disk.tolist()))


def test_neighbours_wrap_and_clamp():
    res = 4  # 16x16 grid
    idx, nx, ny = cells.neighbours([0], [0], res, disk_offsets(1))
    # lat clamps: ny=-1 dropped -> 6 of 9 remain; lon wraps: x=-1 -> 15
    assert len(nx) == 6
    assert 15 in nx.tolist()
    assert (ny >= 0).all()


# --- point in polygon ---------------------------------------------------------

def test_pip_numpy_vs_sql_and_bbox():
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(-90, 90, 4000)
    df = pd.DataFrame({"lon": lon, "lat": lat})
    for poly in default_polygons():
        mask = poly.contains(lon, lat)
        got = duckdb.sql(
            f"SELECT {poly.sql_pip_expr('lon', 'lat')} AS m FROM df"
        ).fetchnumpy()["m"]
        assert (got == mask).all(), f"poly {poly.poly_id} sql mismatch"
        # everything inside must be inside the bbox
        lon_min, lat_min, lon_max, lat_max = poly.bbox
        assert (lon[mask] >= lon_min).all() and (lon[mask] <= lon_max).all()
        assert (lat[mask] >= lat_min).all() and (lat[mask] <= lat_max).all()
        assert 0 < mask.sum() < len(mask)


def test_pip_known_points(spark):
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import pip_join

    tri = Polygon(9, [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)])
    pts = spark.createDataFrame(
        pd.DataFrame({"id": [0, 1, 2], "lon": [1.0, 9.0, 5.01], "lat": [1.0, 0.5, 5.1]})
    )
    got = pip_join(pts, [tri], res=6, keep_cols=["id"]).collect()
    assert sorted((r["id"], r["poly_id"]) for r in got) == [(0, 9), (1, 9)]


def test_cover_cells_superset():
    poly = default_polygons()[0]
    res = 6
    cover = set(poly.cover_cells(res).tolist())
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 20000)
    lat = rng.uniform(-90, 90, 20000)
    mask = poly.contains(lon, lat)
    hit_cells = set(encode_cell(lat[mask], lon[mask], res).tolist())
    assert hit_cells <= cover


# --- Spark integration --------------------------------------------------------

@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 3000, seed=42)


def test_with_grid_matches_numpy(spark, pages):
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import with_grid

    res = 7
    got = (
        with_grid(pages, "lat", "lon", res)
        .select("url", "lat", "lon", "cell")
        .toPandas()
        .sort_values("url", ignore_index=True)
    )
    expect = encode_cell(got["lat"].to_numpy(), got["lon"].to_numpy(), res)
    assert (got["cell"].to_numpy() == expect).all()


def test_with_morton_matches_numpy(spark, pages):
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import with_grid, with_morton

    df = with_morton(with_grid(pages, "lat", "lon", 15))
    got = df.select("xg", "yg", "morton").toPandas()
    expect = cells.morton_id(got["xg"].to_numpy(), got["yg"].to_numpy())
    assert (got["morton"].to_numpy() == expect).all()


def test_pip_join_matches_bruteforce(spark, pages):
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import pip_join

    polys = default_polygons()
    got = (
        pip_join(pages, polys, res=6, keep_cols=["url"])
        .toPandas()
        .sort_values(["url", "poly_id"], ignore_index=True)
    )
    pdf = pages.select("url", "lat", "lon").toPandas()
    rows = []
    for p in polys:
        m = p.contains(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
        for u in pdf["url"].to_numpy()[m]:
            rows.append((u, p.poly_id))
    expect = pd.DataFrame(rows, columns=["url", "poly_id"]).sort_values(
        ["url", "poly_id"], ignore_index=True
    )
    assert len(got) == len(expect) > 0
    assert (got["url"].to_numpy() == expect["url"].to_numpy()).all()
    assert (got["poly_id"].to_numpy() == expect["poly_id"].to_numpy()).all()


def _edge_case_points(polys: list[Polygon]) -> pd.DataFrame:
    """Points where the even-odd test is decided by one comparison:
    every vertex latitude (and one ulp either side), points along each
    horizontal edge, and points exactly on each edge's computed crossing
    ``xint`` at those latitudes (and one ulp either side)."""
    lon, lat = [], []
    for p in polys:
        ys = np.unique(p.vy)
        probe = np.concatenate(
            [ys, np.nextafter(ys, -np.inf), np.nextafter(ys, np.inf), (ys[1:] + ys[:-1]) / 2]
        )
        j = len(p.vx) - 1
        for i in range(len(p.vx)):
            xi, yi, xj, yj = p.vx[i], p.vy[i], p.vx[j], p.vy[j]
            if yi == yj:
                on = np.linspace(min(xi, xj), max(xi, xj), 7)
                for y in (np.nextafter(yi, -np.inf), yi, np.nextafter(yi, np.inf)):
                    lon += on.tolist()
                    lat += [y] * len(on)
            else:
                ylo, yhi = min(yi, yj), max(yi, yj)
                for y in probe[(probe >= ylo) & (probe <= yhi)]:
                    xint = (xj - xi) * (y - yi) / (yj - yi) + xi
                    for x in (np.nextafter(xint, -np.inf), xint, np.nextafter(xint, np.inf)):
                        lon.append(x)
                        lat.append(y)
            j = i
    return pd.DataFrame({"id": np.arange(len(lon)), "lon": lon, "lat": lat})


def test_pip_join_exact_at_edge_cases(spark):
    """Spark's expression refine equals the NumPy ray cast row for row
    where one ulp flips the answer, under the session's default ANSI
    mode (a horizontal edge must not divide by zero)."""
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import pip_join

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    polys = default_polygons()
    pdf = _edge_case_points(polys)
    got = pip_join(spark.createDataFrame(pdf), polys, res=6, keep_cols=["id"]).collect()
    expect = [
        (int(i), p.poly_id)
        for p in polys
        for i in pdf["id"][p.contains(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())]
    ]
    assert 0 < len(expect) < len(pdf)
    assert sorted((r["id"], r["poly_id"]) for r in got) == sorted(expect)


def test_pip_join_rejects_duplicate_poly_ids(pages):
    """Two polygons sharing a poly_id cannot be told apart by the refine;
    pip_join refuses them instead of dropping one polygon's points."""
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import pip_join

    a, b = default_polygons()[:2]
    with pytest.raises(ValueError, match="distinct poly_ids"):
        pip_join(pages, [a, Polygon(a.poly_id, list(zip(b.vx, b.vy)))], res=6)


def test_knn_matches_bruteforce(spark):
    from external_merge_sort_loser_tree_ovc_spark.spatial.knn import knn_join

    rng = np.random.default_rng(23)
    n = 1200
    pts = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "xi": rng.integers(0, 4096, n),
            "yi": rng.integers(0, 4096, n),
        }
    )
    qs = pts.iloc[::40].rename(columns={"point_id": "query_id"}).reset_index(drop=True)
    # a query far outside the point square: 10 ring rounds at span 512,
    # each one a checkpointed plan of the same size
    far = pd.DataFrame({"query_id": [n], "xi": [4096 + 5000], "yi": [2000]})
    qs = pd.concat([qs, far], ignore_index=True)
    k = 5
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = set(jsc.getPersistentRDDs().keys())
    got = (
        knn_join(
            spark.createDataFrame(pts),
            spark.createDataFrame(qs),
            k,
            index_shift=9,
        )
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    # of the ~10 rounds' top-k checkpoints only the result's stays
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    # brute force in numpy with the same (dist2, point_id) tie-break
    rows = []
    for _, q in qs.iterrows():
        d2 = (pts.xi - q.xi) ** 2 + (pts.yi - q.yi) ** 2
        order = np.lexsort((pts.point_id.to_numpy(), d2.to_numpy()))[:k]
        for r, i in enumerate(order, 1):
            rows.append((q.query_id, pts.point_id[i], int(d2[i]), r))
    expect = pd.DataFrame(rows, columns=["query_id", "point_id", "dist2", "rank"])
    expect = expect.sort_values(["query_id", "rank"], ignore_index=True)
    assert len(got) == len(expect)
    for c in ["query_id", "point_id", "dist2", "rank"]:
        assert (got[c].to_numpy() == expect[c].to_numpy()).all(), c


def test_knn_round_cap_raises(spark):
    from external_merge_sort_loser_tree_ovc_spark.spatial.knn import knn_join

    rng = np.random.default_rng(5)
    pts = pd.DataFrame(
        {
            "point_id": np.arange(200, dtype=np.int64),
            "xi": rng.integers(0, 4096, 200),
            "yi": rng.integers(0, 4096, 200),
        }
    )
    qs = pd.DataFrame({"query_id": [0], "xi": [4096 + 4500], "yi": [2000]})
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="1 of 1 queries still pending after 1 rounds"):
        knn_join(
            spark.createDataFrame(pts),
            spark.createDataFrame(qs),
            5,
            index_shift=9,
            max_rounds=1,
        )
    # the point cache and the round's top-k checkpoint are both freed
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_raster_tiles(spark, pages):
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import (
        polygon_tiles_df,
        with_tile,
    )

    zoom = 5
    tiled = with_tile(pages, "lat", "lon", zoom).select("tile_x", "tile_y", "tile_id")
    got = tiled.toPandas()
    assert ((got.tile_id == (got.tile_y * (1 << zoom) + got.tile_x))).all()
    pt = polygon_tiles_df(spark, default_polygons(), zoom).toPandas()
    assert len(pt) > 0 and pt.poly_id.nunique() == 3
