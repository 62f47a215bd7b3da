"""kNN join via cell-ring expansion (H3 grid_ring analogue).

Exact k-nearest-neighbours of each query point against a big point
table, without a cross join:

  round 0: search the disk of index cells of radius ``START_RADIUS``
           (1) around each query's cell;
  round i: explode the *still-unsatisfied* queries to the hollow ring at
           Chebyshev cell distance c, join candidates by cell, keep the
           running top-k per query;
  finish:  after searching out to radius c, any unseen point sits in a
           cell at Chebyshev distance >= c+1, hence at squared distance
           > (c * cell_span)^2 — a query whose k-th best is <= that
           bound can never improve, so it leaves the pending set.

A round runs two Spark actions: the checkpointed top-k of the pending
queries' ring candidates merged with the previous top-k, and one count
of the satisfied queries.  The big point table is cached once and
touched only through its cell index (a handful of cells per query),
never cross-joined; no round starts a Python worker.  Each round
releases the previous round's top-k checkpoint (``runtime.release``),
so the block manager holds one top-k at a time.

Metric: integer squared euclidean on fine-grid coords (exact in int64,
so the DuckDB oracle — a brute-force cross join, ``knn_oracle_sql`` —
matches bit-for-bit).  Geographic float inputs snap to a fine grid
first; choose the fine resolution so snapping error is below tolerance.

Reference parity: the reference has no joins at all (SURVEY.md §2.2);
this operator is mandated by BASELINE.json north_star ("kNN via
cell-ring expansion").
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..runtime import release

# round 0 searches the cell disk of this Chebyshev radius
START_RADIUS = 1
# index_shift=None sizes cells to hold about this many points
TARGET_CELL_POINTS = 24


def _ring(lo: int, hi: int) -> Column:
    """Generator of all (_dx, _dy) with lo <= chebyshev(dx, dy) <= hi.

    A JVM-side literal: offsets built with ``createDataFrame`` from a
    Python list become a PythonRDD, which starts a second Python worker
    pool beside the Arrow one."""
    return F.inline(
        F.array(
            *[
                F.struct(F.lit(dx).alias("_dx"), F.lit(dy).alias("_dy"))
                for dx in range(-hi, hi + 1)
                for dy in range(-hi, hi + 1)
                if lo <= max(abs(dx), abs(dy)) <= hi
            ]
        )
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    point_id: str = "point_id",
    query_id: str = "query_id",
    x: str = "xi",
    y: str = "yi",
    index_shift: int | None = 6,
    max_rounds: int = 64,
) -> DataFrame:
    """Exact kNN: (query_id, point_id, dist2, rank) with deterministic
    tie-break (dist2, point_id).  Coords are nonnegative integers; the
    index cell is coord >> index_shift (cell_span = 2^index_shift).

    A round explodes each pending query to its ring of cell offsets (a
    JVM-side literal), joins the ring cells to the cached points, merges
    the candidates with the previous top-k and materializes the new
    top-k with one eager ``localCheckpoint``; one count of the queries
    whose k-th best now beats the searched radius decides whether
    another round runs; the superseded top-k is then released.  Queries
    still pending after ``max_rounds`` raise ``RuntimeError`` rather
    than return an unproven top-k.  The result reads the last round's
    checkpoint, which stays stored for the life of the session.

    ``index_shift=None`` picks the cell span ADAPTIVELY from the point
    density (one tiny aggregate over the cached point table): span ~
    sqrt(area * TARGET_CELL_POINTS / n), so the radius-1 disk holds
    ~9 * TARGET_CELL_POINTS points at every scale — a constant tuned for
    one scale factor otherwise explodes the candidate set at 10x the
    density (guide §2: make partitioning scale-adaptive, not a
    constant).  The shift NEVER affects results (the ring expansion is
    exact at any granularity), only candidate volume and round count."""
    pts = points.select(
        F.col(point_id).alias("_pid"),
        F.col(x).cast("bigint").alias("_px"),
        F.col(y).cast("bigint").alias("_py"),
    ).cache()
    if index_shift is None:
        stats = pts.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_px").alias("x0"),
            F.max("_px").alias("x1"),
            F.min("_py").alias("y0"),
            F.max("_py").alias("y1"),
        ).collect()[0]
        n_pts = stats["n"] or 0
        if n_pts == 0:
            index_shift = 6
        else:
            area = max(1, (stats["x1"] - stats["x0"] + 1)) * max(
                1, (stats["y1"] - stats["y0"] + 1)
            )
            span_f = math.sqrt(area * TARGET_CELL_POINTS / n_pts)
            index_shift = max(0, min(40, round(math.log2(max(1.0, span_f)))))
    span = 1 << index_shift
    cells = pts.select(
        "*",
        F.shiftright(F.col("_px"), index_shift).alias("_pcx"),
        F.shiftright(F.col("_py"), index_shift).alias("_pcy"),
    )

    qs = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(x).cast("bigint").alias("_qx"),
        F.col(y).cast("bigint").alias("_qy"),
        F.shiftright(F.col(x).cast("bigint"), index_shift).alias("_qcx"),
        F.shiftright(F.col(y).cast("bigint"), index_shift).alias("_qcy"),
    )
    n_queries = qs.count()
    pending, n_pending = qs, n_queries
    best = None  # running top-k: (_qid, _pid, dist2, rank)
    searched = -1  # max Chebyshev radius fully searched so far
    w = Window.partitionBy("_qid").orderBy(F.col("dist2"), F.col("_pid"))
    rounds = 0
    while n_pending > 0:
        if rounds == max_rounds:
            pts.unpersist()
            if best is not None:
                release(best)
            raise RuntimeError(
                f"knn_join: {n_pending} of {n_queries} queries still pending "
                f"after {max_rounds} rounds (cell radius {searched} searched, "
                f"cell span {span})"
            )
        lo, hi = searched + 1, max(searched + 1, START_RADIUS if rounds == 0 else 0)
        cand = (
            pending.select("*", _ring(lo, hi))
            .select(
                "_qid",
                "_qx",
                "_qy",
                (F.col("_qcx") + F.col("_dx")).alias("_pcx"),
                (F.col("_qcy") + F.col("_dy")).alias("_pcy"),
            )
            .join(cells, ["_pcx", "_pcy"])
            .select(
                "_qid",
                "_pid",
                (
                    (F.col("_px") - F.col("_qx")) * (F.col("_px") - F.col("_qx"))
                    + (F.col("_py") - F.col("_qy")) * (F.col("_py") - F.col("_qy"))
                ).alias("dist2"),
            )
        )
        merged = (
            cand
            if best is None
            else cand.unionByName(best.select("_qid", "_pid", "dist2"))
        )
        # localCheckpoint, not cache + count: a cached loop keeps the
        # previous rounds in its plan, which grows ~3x per round until
        # printing it runs the driver out of heap
        prev, best = best, (
            merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            release(prev)
        searched = hi
        # a query is done once it has k hits whose worst dist2 can no
        # longer be beaten by anything outside radius `searched`; the
        # bound only grows, so a done query never becomes pending again
        bound = (searched * span) * (searched * span)
        done = best.filter(
            (F.col("rank") == k) & (F.col("dist2") <= F.lit(bound))
        ).select("_qid")
        n_pending = n_queries - done.count()
        pending = qs.join(done, "_qid", "left_anti")
        rounds += 1
    pts.unpersist()
    if best is None:  # no queries: an empty frame typed like the result
        best = qs.select(
            "_qid",
            F.lit(None).cast("bigint").alias("_pid"),
            F.lit(None).cast("bigint").alias("dist2"),
            F.lit(None).cast("int").alias("rank"),
        )
    return best.select(
        F.col("_qid").alias(query_id),
        F.col("_pid").alias(point_id),
        F.col("dist2").cast("bigint").alias("dist2"),
        F.col("rank").cast("int").alias("rank"),
    )


def knn_oracle_sql(
    points_sql: str,
    queries_sql: str,
    k: int,
    *,
    point_id: str = "point_id",
    query_id: str = "query_id",
    x: str = "xi",
    y: str = "yi",
) -> str:
    """Brute-force cross-join oracle with identical tie-break."""
    return f"""
WITH p AS ({points_sql}), q AS ({queries_sql}),
d AS (
  SELECT q.{query_id} AS {query_id}, p.{point_id} AS {point_id},
         (p.{x} - q.{x}) * (p.{x} - q.{x})
         + (p.{y} - q.{y}) * (p.{y} - q.{y}) AS dist2
  FROM q CROSS JOIN p
),
r AS (
  SELECT {query_id}, {point_id}, CAST(dist2 AS BIGINT) AS dist2,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY {query_id} ORDER BY dist2, {point_id}
         ) AS INT) AS rank
  FROM d
)
SELECT * FROM r WHERE rank <= {k}
"""
