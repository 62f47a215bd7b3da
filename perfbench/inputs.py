"""Seeded workload inputs and their engine-independent oracles.

Every input is a function of (workload, size, seed): the same triple
gives byte-identical parquet.  Inputs are written once per triple under
the benchmark's work directory and read back by the timed Spark session;
the program under test only ever sees the parquet.

The oracles never touch the engine:
  * pages (geo sort, PIP): a NumPy even-odd ray cast and NumPy tile
    arithmetic over the generated coordinates;
  * lineitem sort: DuckDB running the registered ``q_sort_witness`` oracle;
  * kNN: DuckDB running ``knn_oracle_sql`` (brute-force cross join).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the synth_pages vocabulary, so text widths match the package's generator
WORDS = (
    "the of and to in a is that for it with as was on be at by this had not are "
    "but from or have an they which one you were all her she there would their we "
    "him been has when who will no more if out so said what up its about into than "
    "them can only other time new some could these two may first then do any like "
    "my now over such our man me even most made after also did many off before must "
    "well back through years where much your way down should because each just those "
    "people how too little state good very make world still see own men work long "
    "here get both between life being under never day same another know while last "
    "might us great old year come since against go came right used take three"
).split()
LANGS = ["en", "de", "fr", "es", "zh", "ru", "pt", "ja"]
HOT_LAT, HOT_LON = 48.8566, 2.3522

# the flagship's PIP polygon set (spatial.pip.default_polygons), as plain
# vertex lists so the oracle shares no code with the engine
POLYGONS = {
    1: [(-10.0, -10.0), (30.0, -5.0), (10.0, 25.0)],
    2: [(40.0, 10.0), (60.0, 5.0), (75.0, 20.0), (60.0, 40.0), (42.0, 32.0)],
    3: [(-120.0, 20.0), (-80.0, 20.0), (-100.0, 35.0), (-80.0, 60.0), (-120.0, 60.0)],
}
TILE_ZOOM = 6
KNN_K = 5
KNN_QUERY_STRIDE = 29


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _write(table: pa.Table, path: str, row_groups: int = 8) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, -(-table.num_rows // row_groups)))
    os.replace(tmp, path)


# --- pages ------------------------------------------------------------------


def pages_table(n: int, seed: int, scenario: str) -> pa.Table:
    """Web pages with the synth_pages schema minus ``html`` (no workload
    reads it): page_id, url, warc_ts, text, lang, lat, lon.  Coordinates
    sit on synth_pages' 1e-4 degree lattice; ``geo_hotcell`` puts ~55% of
    pages on one coordinate."""
    rng = _rng(seed, scenario)
    ids = np.arange(n, dtype=np.int64)
    hosts = rng.integers(0, max(1, n // 10), n)
    urls = pc.binary_join_element_wise(
        "https://host", pc.cast(pa.array(hosts), pa.string()), ".example/p",
        pc.cast(pa.array(ids), pa.string()), "",
    )
    ts = 1735689600 + rng.integers(0, 86400 * 365, n)
    lang = pa.array(LANGS).take(pa.array(rng.integers(0, len(LANGS), n)))
    wlen = rng.integers(5, 41, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(wlen, out=offsets[1:])
    words = pa.array(WORDS).take(pa.array(rng.integers(0, len(WORDS), int(offsets[-1]))))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    lat = rng.integers(0, 1_600_000, n) / 10000.0 - 80.0
    lon = rng.integers(0, 3_600_000, n) / 10000.0 - 180.0
    if scenario == "geo_hotcell":
        hot = rng.random(n) < 0.55
        lat[hot] = HOT_LAT
        lon[hot] = HOT_LON
    elif scenario != "geo_uniform":
        raise ValueError(f"unknown scenario {scenario!r}")
    return pa.table(
        {
            "page_id": ids,
            "url": urls,
            "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "text": text,
            "lang": lang,
            "lat": lat,
            "lon": lon,
        }
    )


def ray_cast(vertices, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd rule with half-open edges and a strict x crossing — the
    convention the engine's refine step documents."""
    vx = [float(v[0]) for v in vertices]
    vy = [float(v[1]) for v in vertices]
    inside = np.zeros(lon.shape, dtype=bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        cross = (vy[i] > lat) != (vy[j] > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (vx[j] - vx[i]) * (lat - vy[i]) / (vy[j] - vy[i]) + vx[i]
        inside ^= cross & (lon < xint)
        j = i
    return inside


def pip_hits(lat: np.ndarray, lon: np.ndarray) -> dict[str, int]:
    return {
        str(pid): int(ray_cast(v, lon, lat).sum()) for pid, v in POLYGONS.items()
    }


def n_tiles(lat: np.ndarray, lon: np.ndarray, zoom: int = TILE_ZOOM) -> int:
    """Distinct equirectangular tiles at ``zoom`` (floor, then clamp)."""
    side = 1 << zoom
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * side), 0, side - 1).astype(np.int64)
    ty = np.clip(np.floor((lat + 90.0) / 180.0 * side), 0, side - 1).astype(np.int64)
    return int(np.unique(ty * side + tx).size)


def knn_tables(pages: pa.Table, n_points: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """kNN points: the first ``n_points`` pages on a 1e-3 degree integer
    grid; queries: every 29th point, nudged off its point so nearest
    neighbours are not trivially the point itself."""
    lat = pages.column("lat").to_numpy()[:n_points]
    lon = pages.column("lon").to_numpy()[:n_points]
    xi = np.floor((lon + 180.0) * 1000.0).astype(np.int64)
    yi = np.floor((lat + 90.0) * 1000.0).astype(np.int64)
    points = pa.table({"point_id": np.arange(n_points, dtype=np.int64), "xi": xi, "yi": yi})
    rng = _rng(seed, "knn")
    qi = np.arange(0, n_points, KNN_QUERY_STRIDE)
    queries = pa.table(
        {
            "query_id": qi.astype(np.int64),
            "xi": xi[qi] + rng.integers(-50, 51, qi.size),
            "yi": yi[qi] + rng.integers(-50, 51, qi.size),
        }
    )
    return points, queries


# --- lineitem ---------------------------------------------------------------


def lineitem_base(sf: float, base_root: str) -> str:
    """TPC-H lineitem from DuckDB's built-in dbgen, in the schema of the
    repo's parquet fixtures (doubles for money, timestamp ship date).
    Seed-independent, so written once per scale factor."""
    path = os.path.join(base_root, f"lineitem-sf{sf}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(base_root, exist_ok=True)
    con = _duckdb(base_root)
    con.execute(f"CALL dbgen(sf={sf})")
    con.execute(
        f"""COPY (SELECT
             CAST(l_orderkey AS BIGINT) AS l_orderkey,
             CAST(l_partkey AS BIGINT) AS l_partkey,
             CAST(l_suppkey AS BIGINT) AS l_suppkey,
             CAST(l_linenumber AS INTEGER) AS l_linenumber,
             CAST(l_quantity AS DOUBLE) AS l_quantity,
             CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
             CAST(l_discount AS DOUBLE) AS l_discount,
             CAST(l_tax AS DOUBLE) AS l_tax,
             l_returnflag, l_linestatus,
             CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
           FROM lineitem) TO '{path}.tmp' (FORMAT parquet)"""
    )
    con.close()
    os.replace(path + ".tmp", path)
    return path


# --- per-workload preparation ------------------------------------------------


def prepare(spec: dict, seed: int, root: str, base_root: str) -> tuple[str, dict]:
    """Write the workload's inputs for ``seed`` under ``root`` (once) and
    return (data_dir, oracle).  The oracle is cached beside the data;
    seed-independent sources are cached under ``base_root``."""
    kind, size = spec["kind"], spec["size"]
    tag = "-".join(str(spec[k]) for k in ("kind", "scenario", "size", "knn_points") if k in spec)
    data = os.path.join(root, f"{tag}-seed{seed}")
    oracle_path = os.path.join(data, "oracle.json")
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            return data, json.load(f)
    os.makedirs(data, exist_ok=True)
    if kind == "lineitem":
        oracle = _prepare_lineitem(lineitem_base(size, base_root), seed, data)
    else:
        pages = pages_table(size, seed, spec["scenario"])
        _write(pages, os.path.join(data, "pages.parquet"))
        lat = pages.column("lat").to_numpy()
        lon = pages.column("lon").to_numpy()
        oracle = {"n_pages": size, "pip_hits": pip_hits(lat, lon)}
        if kind == "geo_sort":
            oracle["n_tiles"] = n_tiles(lat, lon)
        else:
            oracle["knn"] = _prepare_knn(pages, spec["knn_points"], seed, data)
    tmp = oracle_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(oracle, f)
    os.replace(tmp, oracle_path)
    return data, oracle


def _duckdb(data: str):
    """In-memory DuckDB whose spill files, if any, stay in ``data``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(data, 'duckdb_tmp')}'")
    return con


def _prepare_lineitem(base: str, seed: int, data: str) -> dict:
    from external_merge_sort_loser_tree_ovc_spark.queries import ORACLES

    path = os.path.join(data, "lineitem.parquet")
    con = _duckdb(data)
    # row order keyed by the seed: the engine sees a different input
    # permutation (hence different runs and merges) for every seed
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{base}') "
        f"ORDER BY hash(l_orderkey, l_linenumber, {int(seed)})) "
        f"TO '{path}.tmp' (FORMAT parquet, ROW_GROUP_SIZE 100000)"
    )
    os.replace(path + ".tmp", path)
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    rows, parity, inversions = con.execute(ORACLES["q_sort_witness"]).fetchone()
    return {"rows": int(rows), "parity": int(parity), "inversions": int(inversions)}


def _prepare_knn(pages: pa.Table, n_points: int, seed: int, data: str) -> list:
    from external_merge_sort_loser_tree_ovc_spark.spatial.knn import knn_oracle_sql

    points, queries = knn_tables(pages, n_points, seed)
    _write(points, os.path.join(data, "points.parquet"), row_groups=4)
    _write(queries, os.path.join(data, "queries.parquet"), row_groups=1)
    con = _duckdb(data)
    con.register("pts", points)
    con.register("qs", queries)
    sql = knn_oracle_sql("SELECT * FROM pts", "SELECT * FROM qs", KNN_K)
    rows = con.execute(f"SELECT query_id, point_id, dist2, rank FROM ({sql}) ORDER BY ALL").fetchall()
    return [list(map(int, r)) for r in rows]
