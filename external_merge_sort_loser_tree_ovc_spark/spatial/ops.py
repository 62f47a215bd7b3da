"""Spark DataFrame spatial operators: cell encode, PIP join, raster tiles.

Design rules (SURVEY §4.3):
- cell/tile arithmetic is plain floor/shift math -> expressed with
  built-in column functions so it stays inside WholeStageCodegen (the
  whole scan+encode stage is JVM-side; zero Python in the hot path);
- the polygon cover set is tiny -> ``F.broadcast`` join, the page side
  never shuffles;
- exact point-in-polygon refinement is one Catalyst expression per
  polygon (the even-odd ray cast unrolled over its edges), so the PIP
  join, like the encode, runs no Python worker stage.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .pip import Polygon


def with_grid(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    res: int,
    *,
    xg: str = "xg",
    yg: str = "yg",
    cell: str = "cell",
) -> DataFrame:
    """Add integer grid coords + row-major cell id. Pure built-in exprs
    (floor/least/greatest/shiftleft) — survives codegen, no UDF."""
    n = 1 << res
    xe = F.least(
        F.greatest(
            F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("bigint"),
            F.lit(0),
        ),
        F.lit(n - 1),
    )
    ye = F.least(
        F.greatest(
            F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(180.0) * F.lit(n)).cast("bigint"),
            F.lit(0),
        ),
        F.lit(n - 1),
    )
    out = df.withColumn(xg, xe).withColumn(yg, ye)
    return out.withColumn(cell, F.shiftleft(F.col(yg), res) + F.col(xg))


def with_morton(df: DataFrame, xg: str = "xg", yg: str = "yg", out: str = "morton") -> DataFrame:
    """Z-order key from grid coords, as built-in bit exprs (6-step
    magic-mask interleave unrolled into Catalyst expressions)."""

    def spread(col):
        masks = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        e = F.col(col).cast("bigint")
        for sh, mask in masks:
            e = (e.bitwiseOR(F.shiftleft(e, sh))).bitwiseAND(F.lit(mask))
        return e

    return df.withColumn(out, spread(xg).bitwiseOR(F.shiftleft(spread(yg), 1)))


def polygon_cover_df(spark, polygons: Iterable[Polygon], res: int) -> DataFrame:
    """(poly_id, cell) cover table — tiny, meant for F.broadcast."""
    rows = []
    for p in polygons:
        for c in p.cover_cells(res):
            rows.append((p.poly_id, int(c)))
    schema = StructType(
        [StructField("poly_id", LongType()), StructField("cell", LongType())]
    )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "cell"]).astype("int64")
        if rows
        else pd.DataFrame({"poly_id": pd.Series(dtype="int64"), "cell": pd.Series(dtype="int64")}),
        schema=schema,
    )


def _ray_cast(poly: Polygon, lon: Column, lat: Column) -> Column:
    """``Polygon.contains`` as one boolean Column: the XOR-fold of its
    per-edge crossing terms, with double literals and the same operation
    order, so the result is bit-identical under IEEE arithmetic.
    Horizontal edges never cross and are left out, so no term divides by
    zero (ANSI mode raises on that)."""
    inside = F.lit(False)
    j = len(poly.vx) - 1
    for i in range(len(poly.vx)):
        xi, yi = float(poly.vx[i]), float(poly.vy[i])
        xj, yj = float(poly.vx[j]), float(poly.vy[j])
        if yi != yj:
            cross = (F.lit(yi) > lat) != (F.lit(yj) > lat)
            xint = F.lit(xj - xi) * (lat - F.lit(yi)) / F.lit(yj - yi) + F.lit(xi)
            inside = inside != (cross & (lon < xint))
        j = i
    return inside


def pip_join(
    pages: DataFrame,
    polygons: list[Polygon],
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    *,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Pages inside any polygon -> one row per (page, poly_id).

    Plan: encode cell (codegen) -> broadcast-join tiny cover set
    (candidates only; big side does NOT shuffle) -> filter on the exact
    even-odd test, picked per candidate by ``poly_id`` through one
    ``F.when`` chain (codegen; no Python worker).  Raises ``ValueError``
    unless the polygons carry distinct ``poly_id``s.
    """
    ids = [p.poly_id for p in polygons]
    if not ids or len(set(ids)) < len(ids):
        raise ValueError(f"pip_join needs polygons with distinct poly_ids, got {ids}")
    keep_cols = keep_cols or pages.columns
    enc = with_grid(pages, lat_col, lon_col, res)
    cover = polygon_cover_df(pages.sparkSession, polygons, res)
    cand = enc.join(F.broadcast(cover), "cell")
    lon, lat = F.col(lon_col).cast("double"), F.col(lat_col).cast("double")
    inside = F  # F.when starts the chain, Column.when extends it
    for p in polygons:
        inside = inside.when(F.col("poly_id") == p.poly_id, _ray_cast(p, lon, lat))
    return cand.filter(inside).select(*keep_cols, "poly_id")


# --- raster tiles -----------------------------------------------------------

def with_tile(
    df: DataFrame, lat_col: str, lon_col: str, zoom: int, *, tx: str = "tile_x", ty: str = "tile_y"
) -> DataFrame:
    """Equirectangular raster tile assignment at ``zoom`` (2^zoom x 2^zoom
    tile pyramid over [-180,180]x[-90,90]) — built-in exprs only."""
    return with_grid(df, lat_col, lon_col, zoom, xg=tx, yg=ty, cell="tile_id")


def polygon_tiles_df(spark, polygons: Iterable[Polygon], zoom: int) -> DataFrame:
    """raster-tile <-> vector assignment: (poly_id, tile_x, tile_y,
    tile_id) for every tile whose bbox intersects the polygon bbox."""
    from .cells import cell_to_xy

    rows = []
    for p in polygons:
        for c in p.cover_cells(zoom):
            x, y = cell_to_xy(np.asarray([c]), zoom)
            rows.append((p.poly_id, int(x[0]), int(y[0]), int(c)))
    cols = ["poly_id", "tile_x", "tile_y", "tile_id"]
    pdf = pd.DataFrame(rows, columns=cols).astype("int64") if rows else pd.DataFrame(
        {c: pd.Series(dtype="int64") for c in cols}
    )
    schema = StructType([StructField(c, LongType()) for c in cols])
    return spark.createDataFrame(pdf, schema=schema)
