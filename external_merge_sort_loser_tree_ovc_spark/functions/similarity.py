"""Embedding similarity search (ANN) + near-duplicate detection.

Metric: squared L2 over *quantized* embeddings — each float32 dim is
widened to float64 (exact) and snapped to ``round(x * SCALE)`` as int64
via floor(x*SCALE + 0.5).  All distances are then exact 64-bit integer
arithmetic, so the engine and the DuckDB oracle agree bit-for-bit (no
float summation-order hazards — the reason we don't gate correctness on
raw cosine; a cosine variant is provided for ranking use).

Operators:
- ``ann_topk``: exact brute-force top-k — the scale pattern is
  broadcast-the-queries: the big vector table streams through
  mapInPandas, each Arrow batch computes an int64 Gram matrix against
  the broadcast query block (NumPy matmul), keeps per-batch top-k, and a
  final window picks global top-k.  The big side never shuffles; only
  n_queries*k candidate rows per batch move.
- ``ann_topk_cosine_arrow``: exact cosine top-k — the same broadcast
  query block and per-batch int64 Gram matmul, ranked by an
  integer-derived key with one correctly-rounded double division.
- ``ann_lsh_bucketed``: the approximate scale path — deterministic
  sign-random-projection buckets (splitmix64 planes) with query-side
  multi-probe (2^m lowest-|proj| sign flips); the table side emits one
  row per vector, so the join is a bucket equi-join with the big side
  unamplified.  Recall < 1 by design (rows-only check).
- ``ann_ivf``: deterministic integer k-means coarse quantizer +
  probe-and-rerank (rows-only check; recall asserted in pytest).
- ``neardup_pairs``: all pairs with dist2 <= threshold (LSH bucket
  candidates with bounded multi-probe + explicit brute-force fallback
  band for over-cap rows; exact int64 verify — output bit-equals the
  O(n^2) oracle).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import FloatType, IntegerType, LongType, StructField, StructType

from .grouped import cogroup_apply

SCALE = 1000

# elements per local distance-matrix chunk in the cogrouped NLJ/rerank
# kernels (~64 MB of int64 at the default).  Module-level so tests can
# shrink it to force multi-chunk execution paths on small fixtures.
GRAM_CHUNK_ELEMS = 1 << 23


def _quant_expr_duck(col: str) -> str:
    return (
        f"list_transform({col}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT))"
    )


def _quantize_np(mat: np.ndarray) -> np.ndarray:
    return np.floor(mat.astype(np.float64) * SCALE + 0.5).astype(np.int64)



def _int_matmul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact int64 ``a @ b`` through BLAS when the magnitudes allow it.

    NumPy has no BLAS kernel for integer dtypes — an int64 matmul runs a
    naive C triple loop, ~50x slower than dgemm.  When
    max|a| * max|b| * K < 2^53 every product and every partial sum is
    exactly representable in float64, so the BLAS path returns the same
    integers bit-for-bit (quantized embeddings: |x| ~ SCALE, dim 64 ->
    bound ~ 6.4e7, five orders under the limit).  Larger magnitudes fall
    back to the exact integer loop."""
    if a.size and b.size:
        bound = (
            int(np.abs(a).max()) * int(np.abs(b).max()) * max(1, a.shape[-1])
        )
        if bound < (1 << 53):
            return np.rint(
                a.astype(np.float64) @ b.astype(np.float64)
            ).astype(np.int64)
    return a @ b


def _query_rows(df: DataFrame, id_col: str, query_ids, query_pred: str | None):
    """Filter the query block: by SQL predicate (preferred — the whole
    selection folds into the plan, so no plan-build ``max(id)`` job is
    needed to enumerate ids) or by an explicit id list."""
    if query_pred is not None:
        return df.filter(F.expr(query_pred))
    return df.filter(F.col(id_col).isin([int(q) for q in query_ids]))


def ann_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str | None = None,
) -> DataFrame:
    """Exact top-k nearest (squared-L2 on quantized vecs) for each query
    id; ties broken by neighbour id.  A query is not its own neighbour.

    Returns (query_id, neighbor_id, dist2, rank).
    """
    spark = vectors.sparkSession
    qdf = (
        _query_rows(vectors, id_col, query_ids, query_pred)
        .select(id_col, vec_col)
        .toPandas()
    )
    q_ids = qdf[id_col].to_numpy(dtype=np.int64)
    q_mat = _quantize_np(np.stack(qdf[vec_col].to_numpy()))
    q_norm = (q_mat * q_mat).sum(axis=1)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("dist2", LongType()),
            StructField("rank", IntegerType()),
        ]
    )

    def batch_topk(it):
        ids_q, mat_q, norm_q = bq.value
        for pdf in it:
            if pdf.empty:
                continue
            p_ids = pdf[id_col].to_numpy(dtype=np.int64)
            p_mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            p_norm = (p_mat * p_mat).sum(axis=1)
            # int64 Gram matrix: dist2 = |p|^2 + |q|^2 - 2 p.q  (exact)
            dots = _int_matmul(p_mat, mat_q.T)
            d2 = p_norm[:, None] + norm_q[None, :] - 2 * dots
            res = []
            for j in range(len(ids_q)):
                col = d2[:, j]
                mask = p_ids != ids_q[j]  # exclude self
                cand_ids = p_ids[mask]
                cand_d = col[mask]
                if len(cand_ids) == 0:
                    continue
                m = min(k, len(cand_ids))
                sel = np.lexsort((cand_ids, cand_d))[:m]
                res.append(
                    pd.DataFrame(
                        {
                            "query_id": ids_q[j],
                            "neighbor_id": cand_ids[sel],
                            "dist2": cand_d[sel],
                            "rank": 0,
                        }
                    )
                )
            if res:
                yield pd.concat(res, ignore_index=True)

    from .textops import rebalance_scan

    src = rebalance_scan(vectors.select(id_col, vec_col), id_col)
    cand = src.mapInPandas(batch_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def ann_topk_oracle_sql(
    table: str,
    query_ids: list[int] | None,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str | None = None,
) -> str:
    """Oracle over either an explicit id list or a predicate string."""
    if query_pred is None:
        ids = ", ".join(str(int(q)) for q in query_ids)
        query_pred = f"{id_col} IN ({ids})"
    qe = _quant_expr_duck(vec_col)
    return f"""
WITH qv AS (
  SELECT {id_col} AS query_id, {qe} AS e FROM {table} WHERE {query_pred}
),
pv AS (SELECT {id_col} AS neighbor_id, {qe} AS e FROM {table}),
d AS (
  SELECT qv.query_id, pv.neighbor_id,
         CAST(list_sum(list_transform(qv.e, (x, ixv) ->
           (x - pv.e[ixv]) * (x - pv.e[ixv]))) AS BIGINT) AS dist2
  FROM qv CROSS JOIN pv
  WHERE qv.query_id <> pv.neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, dist2,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY dist2, neighbor_id) AS INT) AS rank
  FROM d
)
SELECT * FROM r WHERE rank <= {k}
"""


def ann_topk_cosine_arrow(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: the Gram matrix is a NumPy int64 matmul per
    Arrow batch against the broadcast query block, over the quantized
    int64 vectors.

    Exact ranking without float dot products: for one query q,
    cos(q,x) order == order of sign(dot)*dot^2 / |x|^2 (signed square
    monotone in cos for fixed q).  dot^2 <= (SCALE^2 * dim)^2 ~ 1e12 and
    |x|^2 ~ 1e6 are both < 2^53, so the one double DIVISION is
    correctly rounded from exactly-representable int64 inputs — bit-
    identical in NumPy, Spark and DuckDB (the oracle), while the emitted
    columns (dot, norm2, rank) stay pure int64.  Vectors with a zero
    quantized norm have no direction and are excluded, as in the oracle.

    Per-element Catalyst lambdas (zip_with/aggregate) evaluate outside
    whole-stage codegen — measured 92 s vs 4 s for this matmul path at
    sf1 (400 queries x 20k dim-64 vectors).  The big side never
    shuffles; only n_queries*k candidate rows per batch move.

    Returns (query_id, neighbor_id, dot, norm2, rank)."""
    spark = vectors.sparkSession
    qdf = (
        _query_rows(vectors, id_col, query_ids, query_pred)
        .select(id_col, vec_col)
        .toPandas()
    )
    q_ids = qdf[id_col].to_numpy(dtype=np.int64)
    q_mat = _quantize_np(np.stack(qdf[vec_col].to_numpy()))
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("dot", LongType()),
            StructField("norm2", LongType()),
        ]
    )

    def batch_topk(it):
        ids_q, mat_q = bq.value
        for pdf in it:
            if pdf.empty:
                continue
            p_ids = pdf[id_col].to_numpy(dtype=np.int64)
            p_mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            norm2 = (p_mat * p_mat).sum(axis=1)
            dots = _int_matmul(p_mat, mat_q.T)  # int64, exact (see _int_matmul)
            res = []
            for j in range(len(ids_q)):
                mask = (p_ids != ids_q[j]) & (norm2 > 0)
                cid, cd, cn = p_ids[mask], dots[mask, j], norm2[mask]
                if len(cid) == 0:
                    continue
                # rank key and tie-break of the final window:
                # sign(dot)*dot^2 / norm2 desc, neighbor_id asc
                ck = np.sign(cd).astype(np.float64) * cd.astype(
                    np.float64
                ) * cd.astype(np.float64) / cn.astype(np.float64)
                sel = np.lexsort((cid, -ck))[: min(k, len(cid))]
                res.append(
                    pd.DataFrame(
                        {
                            "query_id": ids_q[j],
                            "neighbor_id": cid[sel],
                            "dot": cd[sel],
                            "norm2": cn[sel],
                        }
                    )
                )
            if res:
                yield pd.concat(res, ignore_index=True)

    # NOTE: no rebalance here — q_ann_cosine carries a plan contract
    # (test_ann_cosine_gate_plan) that the big side feeds MapInPandas
    # with no Exchange below it; the BLAS Gram matmul makes the 2-split
    # local case cheap anyway
    src = vectors.select(id_col, vec_col)
    cand = src.mapInPandas(batch_topk, schema=out_schema)
    ck = (
        F.signum("dot") * F.col("dot") * F.col("dot")
    ).cast("double") / F.col("norm2").cast("double")
    w = Window.partitionBy("query_id").orderBy(ck.desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot", "norm2", "rank")
    )


def ann_topk_cosine_oracle_sql(
    table: str,
    query_ids: list[int] | None,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str | None = None,
) -> str:
    """Same integer-exact cosine ranking in DuckDB (identical formula,
    identical correctly-rounded double division)."""
    if query_pred is None:
        ids = ", ".join(str(int(i)) for i in query_ids)
        query_pred = f"{id_col} IN ({ids})"
    qe = _quant_expr_duck(vec_col)
    return f"""
WITH qv AS (
  SELECT {id_col} AS query_id, {qe} AS e FROM {table} WHERE {query_pred}
),
pv AS (SELECT {id_col} AS neighbor_id, {qe} AS e FROM {table}),
d AS (
  SELECT qv.query_id, pv.neighbor_id,
         CAST(list_sum(list_transform(qv.e, (x, ixv) -> x * pv.e[ixv])) AS BIGINT) AS dot,
         CAST(list_sum(list_transform(pv.e, x -> x * x)) AS BIGINT) AS norm2
  FROM qv CROSS JOIN pv
  WHERE qv.query_id <> pv.neighbor_id
),
dnz AS (SELECT * FROM d WHERE norm2 > 0),
r AS (
  SELECT query_id, neighbor_id, dot, norm2,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(SIGN(dot) * dot * dot AS DOUBLE) / CAST(norm2 AS DOUBLE) DESC,
                    neighbor_id) AS INT) AS rank
  FROM dnz
)
SELECT * FROM r WHERE rank <= {k}
"""


def neardup_pairs(
    vectors: DataFrame,
    dist2_max: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    max_probe_planes: int = 4,
    method: str = "lsh",
) -> DataFrame:
    """All pairs (id_a < id_b) with quantized dist2 <= dist2_max.

    ``method="lsh"`` (default, the 100 TB path): sign-random-projection
    buckets with EXACT multi-probe coverage — no driver collect, the
    shuffle carries only (bucket, id, vector).  With ±1 hyperplanes,
    Cauchy-Schwarz bounds the projection shift between two vectors at
    distance d by sqrt(dim)*d, so a pair within ``dist2_max`` can only
    disagree in sign on plane h when the probe side's projection
    satisfies proj^2 <= dim * dist2_max.  Probing every sign combination
    of exactly those "uncertain" planes reaches every true pair's home
    bucket; the exact int64 verify inside the bucket join makes the
    output identical to the O(n^2) oracle (bit-exact, not approximate).

    ``max_probe_planes`` bounds the fan-out at 2^max_probe_planes
    copies/row (r2 verdict: unbounded multi-probe is 2^n_planes
    amplification on near-plane data).  Rows with more uncertain planes
    take a brute-force fallback band instead — output stays bit-exact,
    and the worst case is the explicit O(n * n_overcap) exact check
    rather than a silently exploded shuffle.

    ``method="exact"``: the blocked O(n^2) broadcast verify — the
    small-scale oracle mode (<= ~10^5 vectors).
    """
    if method == "exact":
        return _neardup_exact(vectors, dist2_max, id_col=id_col, vec_col=vec_col)
    return _neardup_lsh(
        vectors,
        dist2_max,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        max_probe_planes=max_probe_planes,
    )


# --- cosine near-dup: shared-SQL normalization + the L2 engine ---------------
#
# Cosine similarity is squared-L2 on unit-normalized vectors:
# |a/|a| - b/|b||^2 = 2 - 2 cos(a, b), so cos >= tau  <=>
# dist2_normalized <= 2*SCALE^2*(1 - tau) on the quantized grid.  The
# normalization is emitted as ONE arithmetic formula in both dialects so
# the derived vectors (and therefore the pair set) match bit-for-bit:
#   - norm2 = sum of SQUARED QUANTIZED ints — exact int64, order-
#     independent (a float sum would differ between engines by fold
#     order in the last ulp and flip quantization boundaries);
#   - each element = quantized_int / sqrt(norm2) — one correctly
#     rounded sqrt + one correctly rounded division of exact doubles,
#     identical IEEE results everywhere.
# Zero vectors map to the origin (CASE guard) in both engines.


def _norm2_int_expr(d, vec_col: str) -> str:
    """Exact integer norm2 of the quantized vector (dialect d)."""
    q = f"CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)"
    return d.arr_sum(d.transform(vec_col, "x", f"{q} * {q}"))


def _normalize_expr(d, vec_col: str, n2: str) -> str:
    """Unit-normalized double elements from the quantized grid."""
    q = f"CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)"
    body = (
        f"CASE WHEN {n2} = 0 THEN CAST(0 AS DOUBLE) "
        f"ELSE CAST({q} AS DOUBLE) / sqrt(CAST({n2} AS DOUBLE)) END"
    )
    return d.transform(vec_col, "x", body)


def cosine_neardup_pairs(
    vectors: DataFrame,
    dist2_max: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    max_probe_planes: int = 4,
    method: str = "lsh",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine distance below the threshold, computed EXACTLY as L2 on
    unit-normalized quantized vectors (``dist2_max`` in quantized
    units^2; cos >= tau corresponds to dist2_max = 2*SCALE^2*(1-tau)).
    The normalization is dialect-shared arithmetic (see above), so the
    DuckDB oracle reproduces the pair set bit-for-bit; candidate
    generation, bounded multi-probe, and both cogrouped NLJ bands are
    the same verified machinery as ``neardup_pairs``.

    At ingest scale the normalized column would be materialized once in
    the pipeline rather than recomputed per query — the one Catalyst
    HOF pass here is per-ROW (64 element lambdas), acceptable at gate
    scale and not on the per-candidate hot path.

    PERSIST CONTRACT: the normalized source is ``persist()``-ed (the
    near-dup engine consumes it once per band side and the HOF
    normalization must not re-run).  The cached blocks live until the
    caller releases them — the gate harnesses call
    ``spark.catalog.clearCache()`` between queries; library callers
    should call ``.unpersist()`` on the returned DataFrame's
    ``_emsort_persisted_src`` attribute (exposed for exactly this)
    after the consuming action, or clear the cache themselves."""
    from pyspark.sql.types import ArrayType, DoubleType

    from .textops import rebalance_scan

    # r7: the normalization runs as a vectorized NumPy batch pass
    # instead of the per-element Catalyst HOF (interpreted: dim
    # lambda evals per row — ~13M at sf1, the query's dominant cold
    # cost).  Identical arithmetic: exact int64 quantize + square-sum,
    # one correctly-rounded sqrt and one correctly-rounded divide of
    # exact doubles — NumPy, Spark and DuckDB all produce the same
    # IEEE-754 results, so the derived vectors (and the pair set) are
    # bit-identical.  Zero vectors map to the origin, as before.
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )

    def _normalize(it):
        for pdf in it:
            if pdf.empty:
                continue
            q = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            n2 = (q * q).sum(axis=1)
            denom = np.sqrt(n2.astype(np.float64))
            denom[n2 == 0] = 1.0  # zero vector -> origin (0/1 = 0)
            e = q.astype(np.float64) / denom[:, None]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: list(e),
                }
            )

    src = (
        rebalance_scan(vectors.select(id_col, vec_col), id_col)
        .mapInPandas(_normalize, schema=out_schema)
        # persist: the near-dup engine consumes its source once per
        # band side — without this the normalization re-runs 2-3x.
        # Lifetime: see PERSIST CONTRACT in the docstring.
        .persist()
    )
    out = neardup_pairs(
        src,
        dist2_max,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        max_probe_planes=max_probe_planes,
        method=method,
    )
    out._emsort_persisted_src = src  # unpersist handle (see docstring)
    return out


def _cosine_norm_src(table: str, id_col: str, vec_col: str) -> str:
    from .texthash import Dialect

    d = Dialect("duckdb")
    return (
        f"(SELECT {id_col}, {_normalize_expr(d, vec_col, '_n2')} AS {vec_col} "
        f"FROM (SELECT {id_col}, {vec_col}, "
        f"{_norm2_int_expr(d, vec_col)} AS _n2 FROM {table}) t0) nsrc"
    )


def cosine_neardup_oracle_sql(
    table: str, dist2_max: int, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    return neardup_oracle_sql(
        _cosine_norm_src(table, id_col, vec_col),
        dist2_max,
        id_col=id_col,
        vec_col=vec_col,
    )


def cosine_neardup_sampled_oracle_sql(
    table: str,
    dist2_max: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mod: int = 100,
    keep: int = 5,
) -> str:
    """Sampled (sf1) variant of the cosine near-dup oracle — same
    normalized derived source, pairs restricted to the deterministic id
    sample (see ``neardup_sampled_oracle_sql``)."""
    return neardup_sampled_oracle_sql(
        _cosine_norm_src(table, id_col, vec_col),
        dist2_max,
        id_col=id_col,
        vec_col=vec_col,
        mod=mod,
        keep=keep,
    )


def _bucketize_frame(
    pdf: pd.DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_planes: int,
    thr: int,
    probe: bool,
    max_probe_planes: int,
) -> pd.DataFrame:
    """One pandas batch -> (vid, bucket, e) rows.

    Home side (``probe=False``): one row per vector, its sign bucket.

    Probe side: for each vector, the set of planes whose sign a partner
    within ``thr`` could flip is ``proj^2 <= dim*thr`` (Cauchy-Schwarz
    on ±1 planes).  Rows with at most ``max_probe_planes`` such planes
    fan out over every sign combination (exact coverage, bounded at
    2^max_probe_planes copies).  Rows with MORE uncertain planes would
    amplify exponentially — they emit ONE marker row with bucket=-1 and
    are verified brute-force against the full table instead (still
    exact; see ``_neardup_lsh``).  Without the cap, near-plane data
    (e.g. unit vectors with a large threshold, where sqrt(dim*thr)
    exceeds the max possible projection) silently degenerates to
    2^n_planes-times-the-table shuffle amplification (r2 verdict #2).
    """
    mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
    dim = mat.shape[1]
    planes = _plane_signs(dim, n_planes)
    proj = _int_matmul(mat, planes.T)  # (n, P) int64, exact
    home = (
        (proj > 0).astype(np.int64) << np.arange(n_planes, dtype=np.int64)[None, :]
    ).sum(axis=1)
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    if not probe:
        return pd.DataFrame({"vid": ids, "bucket": home, "e": pdf[vec_col]})
    uncertain = (proj * proj) <= dim * thr
    n_unc = uncertain.sum(axis=1)
    unc_bits = (
        uncertain.astype(np.int64) << np.arange(n_planes, dtype=np.int64)[None, :]
    ).sum(axis=1)
    capped = n_unc > max_probe_planes
    under = np.nonzero(~capped)[0]
    if len(under):
        # the (n_under, 2^P) validity matrix is built for UNDER-cap rows
        # only: on near-plane data where every row is over-cap (the
        # fallback regime) this skips the whole mask computation
        masks = np.arange(1 << n_planes, dtype=np.int64)[None, :]
        valid = (masks & ~unc_bits[under, None]) == 0
        uu, cc = np.nonzero(valid)
        ii = under[uu]
        out = pd.DataFrame(
            {
                "vid": ids[ii],
                "bucket": home[ii] ^ masks[0, cc],
                "e": pdf[vec_col].iloc[ii].to_numpy(),
            }
        )
    else:
        out = pd.DataFrame(
            {
                "vid": np.zeros(0, np.int64),
                "bucket": np.zeros(0, np.int64),
                "e": pdf[vec_col].iloc[:0].to_numpy(),
            }
        )
    if capped.any():
        fb = pd.DataFrame(
            {
                "vid": ids[capped],
                "bucket": np.int64(-1),
                "e": pdf[vec_col].iloc[capped].to_numpy(),
            }
        )
        out = pd.concat([out, fb], ignore_index=True)
    return out


def _neardup_lsh(vectors, dist2_max, *, id_col, vec_col, n_planes, max_probe_planes=4):
    """LSH candidates (bucket equi-join, exact-coverage multi-probe
    bounded at 2^max_probe_planes copies/row) + exact int64 verify.
    Fully distributed: no full-table collect.

    Rows whose uncertain-plane count exceeds the cap cannot be probed
    exactly within the bound; they fall back to a brute-force band: the
    over-cap PROBE rows cross-join the home table and are verified
    exactly.  Coverage stays exact: a true pair (a < b) is found either
    through a's bounded probe set (a under-cap: probes reach b's home)
    or through the fallback band (a over-cap).  When the data/threshold
    combination makes most rows over-cap (unit vectors with a radius
    where sqrt(dim*thr) exceeds any possible projection), the operator
    therefore degrades to the blocked O(n^2) exact path EXPLICITLY —
    same asymptotics the "exact coverage" multi-probe was silently
    hiding as 2^n_planes shuffle copies, minus the amplification.
    """
    elem_t = vectors.schema[vec_col].dataType.elementType
    from pyspark.sql.types import ArrayType

    thr = int(dist2_max)

    # carry the SOURCE element type: re-emitting double embeddings as
    # float32 could shift a quantized unit at rounding boundaries and
    # silently diverge from the exact oracle (r2 advice)
    bucket_schema = StructType(
        [
            StructField("vid", LongType()),
            StructField("bucket", LongType()),
            StructField("e", ArrayType(elem_t)),
        ]
    )

    def make_bucketizer(probe: bool):
        def bucketize(it):
            for pdf in it:
                if pdf.empty:
                    continue
                yield _bucketize_frame(
                    pdf,
                    id_col=id_col,
                    vec_col=vec_col,
                    n_planes=n_planes,
                    thr=thr,
                    probe=probe,
                    max_probe_planes=max_probe_planes,
                )

        return bucketize

    from .textops import rebalance_scan

    src = rebalance_scan(vectors.select(id_col, vec_col), id_col)
    # home_df feeds BOTH the probe-band bucket cogroup and the over-cap
    # fallback grid cogroup below — persist it so the whole-table
    # quantize+project mapInPandas pass runs once per action, not once
    # per consumer (even an empty fallback band still scans its input
    # to prove it empty)
    home_df = src.mapInPandas(make_bucketizer(False), schema=bucket_schema).persist()
    probe_df = src.mapInPandas(make_bucketizer(True), schema=bucket_schema).select(
        F.col("vid").alias("pvid"), "bucket", F.col("e").alias("pe")
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("dist2", LongType()),
        ]
    )

    def nlj_block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        """Exact blocked NLJ kernel shared by BOTH bands: all
        (p_id < h_id, dist2 <= thr) pairs between the group's probe
        rows (pvid, pe) and home rows (vid, e), int64 Gram distances,
        probe side chunked so the d2 matrix stays ~64 MB."""
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "dist2": []}).astype(
                {"id_a": "int64", "id_b": "int64", "dist2": "int64"}
            )
        p_ids = left["pvid"].to_numpy(dtype=np.int64)
        p_mat = _quantize_np(np.stack(left["pe"].to_numpy()))
        h_ids = right["vid"].to_numpy(dtype=np.int64)
        h_mat = _quantize_np(np.stack(right["e"].to_numpy()))
        h_norm = (h_mat * h_mat).sum(axis=1)
        outs = []
        step = max(1, GRAM_CHUNK_ELEMS // max(1, len(h_ids)))
        for s in range(0, len(p_ids), step):
            pm = p_mat[s : s + step]
            pn = (pm * pm).sum(axis=1)
            d2 = pn[:, None] + h_norm[None, :] - 2 * _int_matmul(pm, h_mat.T)
            ii, jj = np.nonzero(
                (d2 <= thr) & (p_ids[s : s + step, None] < h_ids[None, :])
            )
            if len(ii):
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": p_ids[s + ii],
                            "id_b": h_ids[jj],
                            "dist2": d2[ii, jj],
                        }
                    )
                )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "dist2": []}).astype(
                {"id_a": "int64", "id_b": "int64", "dist2": "int64"}
            )
        return pd.concat(outs, ignore_index=True)

    # Probe band: per-BUCKET cogroup NLJ, not a row-pair equi-join.
    # The old probe.join(home_df, "bucket") attached BOTH embeddings to
    # every candidate pair — O(candidates * dim) Arrow traffic, which
    # the round-5 probe-regime gate query exposed at sf1 (147 s; the
    # r4 all-over-cap gate never exercised this band at scale).
    # Cogrouping on the bucket moves each home row once per bucket and
    # each probe copy once; the exact int64 distance check runs
    # locally.  Coverage: every true pair meets through the smaller
    # id's probe set (under-cap: its probes reach the larger id's home
    # bucket — unique per pair, so no duplicates) or the fallback band
    # (over-cap).  Group size is n/2^n_planes home rows on average —
    # n_planes is the partitioning knob as the table grows; the kernel
    # chunks the probe side so the distance matrix stays bounded.
    pairs = cogroup_apply(
        probe_df.filter(F.col("bucket") >= 0),
        ["bucket"],
        home_df,
        ["bucket"],
        nlj_block,
        out_schema,
    )

    # Over-cap fallback band: blocked nested-loop join at GRID-CELL
    # granularity via cogroup, NOT a row-pair crossJoin.  The old
    # crossJoin materialized O(n_overcap * n_home) rows each carrying
    # two embedding copies through Arrow — ~400 GB and a 1-2-task stage
    # at 20k x 20k (caught by the round-4 sf1 gate).
    #
    # Round-5: 2-D GRID blocking replaces round-4's replicate-to-every-
    # block scheme.  That shape hash-split only the home side into
    # B = shuffle-partition blocks and replicated every over-cap row to
    # ALL of them — O(n_overcap * B) shuffled copies, which in the
    # all-over-cap regime (true for the gate's own data/threshold) is
    # the full table times the partition count, growing with cluster
    # size (r4 verdict #2).  The grid instead splits BOTH sides into
    # g = ceil(sqrt(B)) blocks — probe rows by pmod(pvid, g), home rows
    # by pmod(vid, g) — and pairs every (probe-block, home-block) cell,
    # so each side replicates exactly g times: movement
    # O((n_overcap + n_home) * sqrt(B)) for the same g*g >= B parallel
    # tasks.  Each unordered pair meets in EXACTLY one cell (the cell
    # id is a function of the two row ids), so coverage and uniqueness
    # are unchanged.  Per-task memory is O(n_home/g) home rows — at a
    # scale where that no longer fits a task, raise
    # spark.sql.shuffle.partitions (g grows as its square root).
    #
    # Cost trade, stated: the cogroup re-shuffles the home table g
    # times even when the fallback band turns out empty (Spark cannot
    # prove a cogroup output empty from one empty side, and counting
    # over-cap rows up front would launch a job at plan-build time,
    # which this function promises not to do).  sqrt(B) linear copies
    # of the vector table buy the removal of a quadratic Arrow stream —
    # at every scale where the fallback matters, the right trade.
    #
    # Key-type discipline (the round-4 wrong-answer bug): both sides'
    # grid-cell keys are built as EXPLICIT bigint.  Spark's CoGroup
    # does not reconcile int32-vs-int64 grouping keys — it delivers
    # each key twice, once per side, silently dropping every pair (see
    # functions/grouped.py).  cogroup_apply asserts the types match.
    spark = vectors.sparkSession
    try:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # e.g. "auto" under AQE in some deployments
        par = int(spark.sparkContext.defaultParallelism)
    g = math.isqrt(par)
    g += int(g * g < par)  # ceil(sqrt(par)), >= 1
    blocks = F.explode(
        F.sequence(F.lit(0).cast("bigint"), F.lit(g - 1).cast("bigint"))
    )
    overcap = probe_df.filter(F.col("bucket") == -1).select("pvid", "pe")
    oc_rep = overcap.withColumn("cb", blocks).select(
        (F.pmod(F.col("pvid"), F.lit(g)).cast("bigint") * g + F.col("cb")).alias(
            "gcell"
        ),
        "pvid",
        "pe",
    )
    home_blk = home_df.withColumn("rb", blocks).select(
        (F.col("rb") * g + F.pmod(F.col("vid"), F.lit(g)).cast("bigint")).alias(
            "gcell"
        ),
        "vid",
        "e",
    )

    fb_pairs = cogroup_apply(
        oc_rep, ["gcell"], home_blk, ["gcell"], nlj_block, out_schema
    )

    # a pair can meet in several probe buckets (multi-probe) -> distinct
    # (fallback pairs are disjoint from probe pairs by the pvid<vid rule
    # but distinct keeps the contract uniform)
    return pairs.unionByName(fb_pairs).distinct()


def _neardup_exact(vectors, dist2_max, *, id_col, vec_col):
    """Blocked exact all-pairs: broadcast the (small) quantized matrix,
    stream partitions against it.  O(n^2) work distributed over
    partitions — right for <= ~10^5 vectors; beyond that use LSH
    candidates + this as the verify stage."""
    spark = vectors.sparkSession
    pdf = vectors.select(id_col, vec_col).toPandas()
    all_ids = pdf[id_col].to_numpy(dtype=np.int64)
    all_mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
    all_norm = (all_mat * all_mat).sum(axis=1)
    b = spark.sparkContext.broadcast((all_ids, all_mat, all_norm))
    thr = int(dist2_max)

    schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("dist2", LongType()),
        ]
    )

    def block(it):
        ids_all, mat_all, norm_all = b.value
        for pdf_ in it:
            if pdf_.empty:
                continue
            p_ids = pdf_[id_col].to_numpy(dtype=np.int64)
            p_mat = _quantize_np(np.stack(pdf_[vec_col].to_numpy()))
            p_norm = (p_mat * p_mat).sum(axis=1)
            d2 = p_norm[:, None] + norm_all[None, :] - 2 * _int_matmul(p_mat, mat_all.T)
            ii, jj = np.nonzero((d2 <= thr) & (p_ids[:, None] < ids_all[None, :]))
            if len(ii):
                yield pd.DataFrame(
                    {
                        "id_a": p_ids[ii],
                        "id_b": ids_all[jj],
                        "dist2": d2[ii, jj],
                    }
                )

    return vectors.select(id_col, vec_col).mapInPandas(block, schema=schema)


def neardup_oracle_sql(
    table: str, dist2_max: int, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    qe = _quant_expr_duck(vec_col)
    return f"""
WITH q AS (SELECT {id_col} AS vid, {qe} AS e FROM {table}),
d AS (
  SELECT a.vid AS id_a, b.vid AS id_b,
         CAST(list_sum(list_transform(a.e, (x, ixv) ->
           (x - b.e[ixv]) * (x - b.e[ixv]))) AS BIGINT) AS dist2
  FROM q a JOIN q b ON a.vid < b.vid
)
SELECT id_a, id_b, dist2 FROM d WHERE dist2 <= {dist2_max}
"""


# deterministic id-sample predicate shared by the sf1 sampled oracle
# (DuckDB side) and the Spark-result filter: pure int64 arithmetic,
# identical in both dialects.  keep/mod ~ the sampled fraction.
_SAMPLE_MIX = 2_654_435_761  # Knuth multiplicative constant, odd
_SAMPLE_MOD = 1_000_000_007


def _sample_pred(col: str, mod: int, keep: int) -> str:
    # reduce mod P BEFORE the multiply: (id % P) * MIX < 2^93 would
    # overflow int64, but (id % P) < 2^30 and MIX < 2^32 keep the
    # product < 2^62.  Identical values for id < P (the gate regime) —
    # (id % P) * MIX == id * MIX (mod P) — while ids beyond ~3.47e9 no
    # longer crash DuckDB (OutOfRangeException) or silently wrap in
    # non-ANSI Spark (r5 advice).
    return f"(((({col} % {_SAMPLE_MOD}) * {_SAMPLE_MIX}) % {_SAMPLE_MOD}) % {mod}) < {keep}"


def neardup_sample_filter_sql(*, mod: int = 100, keep: int = 5) -> str:
    """Predicate selecting result pairs that TOUCH the id sample —
    applied to the engine's full neardup output before fingerprinting."""
    return f"({_sample_pred('id_a', mod, keep)}) OR ({_sample_pred('id_b', mod, keep)})"


def neardup_sampled_oracle_sql(
    table: str,
    dist2_max: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mod: int = 100,
    keep: int = 5,
) -> str:
    """Brute-force oracle restricted to pairs touching a deterministic
    ~keep/mod id sample — O((keep/mod) * n^2) instead of O(n^2), which
    makes a CONTENT check tractable in DuckDB at sf1 (r4 verdict #3:
    the sf1 neardup row was rows-only with criterion n >= 0, so a
    wrong-answer regression sailed through it).  Emits normalized
    (id_a < id_b) distinct pairs; compare against the engine's full
    output filtered by ``neardup_sample_filter_sql`` (same predicate,
    same integer arithmetic)."""
    qe = _quant_expr_duck(vec_col)
    return f"""
WITH q AS (SELECT {id_col} AS vid, {qe} AS e FROM {table}),
s AS (SELECT * FROM q WHERE {_sample_pred('vid', mod, keep)}),
d AS (
  SELECT LEAST(a.vid, b.vid) AS id_a, GREATEST(a.vid, b.vid) AS id_b,
         CAST(list_sum(list_transform(a.e, (x, ixv) ->
           (x - b.e[ixv]) * (x - b.e[ixv]))) AS BIGINT) AS dist2
  FROM s a JOIN q b ON a.vid <> b.vid
)
SELECT DISTINCT id_a, id_b, dist2 FROM d WHERE dist2 <= {dist2_max}
"""


# --- IVF: deterministic integer k-means + probe-and-rerank --------------------

def _dist2_to_centroids(mat: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, k) exact int64 squared-L2 distances to centroids."""
    return (
        (mat * mat).sum(axis=1)[:, None]
        + (cent * cent).sum(axis=1)[None, :]
        - 2 * _int_matmul(mat, cent.T)
    )


_RERANK_EMPTY = {"query_id": "int64", "neighbor_id": "int64", "dist2": "int64"}


def _gram_topk_group(
    left: pd.DataFrame, right: pd.DataFrame, k: int
) -> pd.DataFrame:
    """Shared cogroup rerank kernel (ann_ivf per-cluster, ann_lsh
    per-bucket): exact int64 Gram distances of the group's queries
    (cols query_id, qe) against its vectors (cols vid, e), lossless
    per-group top-k with the (dist2, neighbor_id) tie-break.

    Memory bound: the query side is chunked so the d2 matrix stays
    ~64 MB regardless of cell size; the VECTOR side of one group must
    fit in a task, which is the caller's partitioning knob (IVF: pick
    n_clusters ~ n/target_cell_rows, the standard sqrt(n)-cells rule;
    LSH: 2^n_planes buckets) — documented at both call sites.

    Top-k per query is O(n_v) argpartition + a sort of only the
    boundary-tie candidate set (every element whose distance <= the
    k-th smallest joins the tie-broken sort, so ties at the boundary
    resolve by neighbor_id exactly like a full lexsort would).
    """
    empty = pd.DataFrame(
        {"query_id": [], "neighbor_id": [], "dist2": []}
    ).astype(_RERANK_EMPTY)
    if left.empty or right.empty:
        return empty
    qids_ = left["query_id"].to_numpy(dtype=np.int64)
    qm = _quantize_np(np.stack(left["qe"].to_numpy()))
    vids = right["vid"].to_numpy(dtype=np.int64)
    pm = _quantize_np(np.stack(right["e"].to_numpy()))
    pn = (pm * pm).sum(axis=1)
    qn = (qm * qm).sum(axis=1)
    outs = []
    step = max(1, GRAM_CHUNK_ELEMS // max(1, len(vids)))  # d2 rows per chunk
    for s0 in range(0, len(qids_), step):
        d2 = (
            qn[s0 : s0 + step, None]
            + pn[None, :]
            - 2 * _int_matmul(qm[s0 : s0 + step], pm.T)
        )
        for j in range(d2.shape[0]):
            qid = qids_[s0 + j]
            mask = vids != qid
            cid, cd = vids[mask], d2[j][mask]
            if len(cid) == 0:
                continue
            kk = min(k, len(cid))
            if kk < len(cid):
                part = np.argpartition(cd, kk - 1)
                thr = cd[part[kk - 1]]
                cand = np.nonzero(cd <= thr)[0]
            else:
                cand = np.arange(len(cid))
            sel = cand[np.lexsort((cid[cand], cd[cand]))][:kk]
            outs.append(
                pd.DataFrame(
                    {"query_id": qid, "neighbor_id": cid[sel], "dist2": cd[sel]}
                )
            )
    return pd.concat(outs, ignore_index=True) if outs else empty



def kmeans_quantized(
    vectors: DataFrame,
    *,
    k: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's k-means over QUANTIZED int64 vectors, fully deterministic:

    - init: per-cluster integer means of the sign-projection buckets
      (log2 k planes — spread-out, data-dependent, no RNG),
    - assignment: exact int64 squared-L2 argmin (ties -> lowest id),
    - update: integer mean sum // count.  All arithmetic is
      order-independent, so the result is bit-identical run to run —
      floats would drift with partial-aggregation order.

    Distributed shape: one mapInPandas pass per iteration emits per-
    partition (cluster, count, dim-sums); only k * n_partitions tiny
    rows reach the driver (the classic partial-aggregate reduce).
    Returns (k, d) int64 centroids.
    """
    spark = vectors.sparkSession
    n_planes = max(1, (k - 1).bit_length())

    from pyspark.sql.types import ArrayType

    sums_schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("cnt", LongType()),
            StructField("sums", ArrayType(LongType())),
        ]
    )

    def partials(assign_fn):
        def run(it):
            acc: dict[int, tuple[int, np.ndarray]] = {}
            for pdf in it:
                if pdf.empty:
                    continue
                mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
                cl = assign_fn(mat)
                for c in np.unique(cl):
                    sel = mat[cl == c]
                    cnt, s = acc.get(int(c), (0, np.zeros(mat.shape[1], np.int64)))
                    acc[int(c)] = (cnt + len(sel), s + sel.sum(axis=0))
            if acc:
                yield pd.DataFrame(
                    {
                        "cluster": list(acc.keys()),
                        "cnt": [v[0] for v in acc.values()],
                        "sums": [v[1] for v in acc.values()],
                    }
                )

        return run

    def reduce_centroids(rows, prev: np.ndarray) -> np.ndarray:
        cent = prev.copy()
        agg: dict[int, tuple[int, np.ndarray]] = {}
        for r in rows:
            c = int(r["cluster"])
            cnt, s = agg.get(c, (0, np.zeros(len(r["sums"]), np.int64)))
            agg[c] = (cnt + int(r["cnt"]), s + np.asarray(r["sums"], np.int64))
        for c, (cnt, s) in agg.items():
            if cnt > 0:
                cent[c] = s // cnt
        return cent

    src = vectors.select(id_col, vec_col)

    # init: sign-projection bucket means (buckets beyond k fold via mod)
    def bucket_assign(mat):
        planes = _plane_signs(mat.shape[1], n_planes)
        bits = (_int_matmul(mat, planes.T) > 0).astype(np.int64)
        b = (bits << np.arange(n_planes, dtype=np.int64)[None, :]).sum(axis=1)
        return b % k

    first = src.select(vec_col).first()
    if first is None:
        raise ValueError("kmeans_quantized: empty vectors DataFrame")
    dim = len(first[0])
    cent = np.zeros((k, dim), dtype=np.int64)
    rows = src.mapInPandas(partials(bucket_assign), schema=sums_schema).collect()
    cent = reduce_centroids(rows, cent)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def lloyd_assign(mat, _bc=bc):
            return _dist2_to_centroids(mat, _bc.value).argmin(axis=1)

        rows = src.mapInPandas(partials(lloyd_assign), schema=sums_schema).collect()
        cent = reduce_centroids(rows, cent)
        bc.unpersist()  # one broadcast per iteration; don't leak them
    return cent


def ann_ivf(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 4,
    query_pred: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: deterministic integer k-means coarse
    quantizer, queries probe their ``n_probe`` nearest centroids, exact
    int64 rerank inside the probed cells.

    The scale shape: the big side is assigned once (narrow pass), the
    candidate join is an equi-join on cluster id, and only probed-cell
    rows are reranked.  Recall < 1 by design -> rows-only gate; recall
    is asserted against ``ann_topk`` in pytest.  Returns
    (query_id, neighbor_id, dist2, rank).
    """
    spark = vectors.sparkSession
    cent = kmeans_quantized(
        vectors, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col
    )
    bc = spark.sparkContext.broadcast(cent)

    from pyspark.sql.types import ArrayType

    # carry the SOURCE element type (double embeddings must not narrow
    # to float32 before the exact quantized rerank — r2 advice)
    elem_t = vectors.schema[vec_col].dataType.elementType
    assign_schema = StructType(
        [
            StructField("vid", LongType()),
            StructField("cluster", LongType()),
            StructField("e", ArrayType(elem_t)),
        ]
    )

    def assign(it):
        for pdf in it:
            if pdf.empty:
                continue
            mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            d2 = _dist2_to_centroids(mat, bc.value)
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].to_numpy(dtype=np.int64),
                    "cluster": d2.argmin(axis=1),
                    "e": pdf[vec_col],
                }
            )

    assigned = vectors.select(id_col, vec_col).mapInPandas(assign, schema=assign_schema)

    probe_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("cluster", LongType()),
            StructField("qe", ArrayType(elem_t)),
        ]
    )

    def probe(it):
        for pdf in it:
            if pdf.empty:
                continue
            mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            d2 = _dist2_to_centroids(mat, bc.value)
            probe_k = min(n_probe, d2.shape[1])  # n_probe > n_clusters clamp
            order = np.argsort(d2, axis=1, kind="stable")[:, :probe_k]
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            rep = np.repeat(np.arange(len(ids)), probe_k)
            yield pd.DataFrame(
                {
                    "query_id": ids[rep],
                    "cluster": order.ravel(),
                    "qe": pdf[vec_col].iloc[rep].to_numpy(),
                }
            )

    qs = _query_rows(vectors, id_col, query_ids, query_pred).select(
        id_col, vec_col
    )
    probes = qs.mapInPandas(probe, schema=probe_schema)

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("dist2", LongType()),
        ]
    )

    # Rerank by COGROUP on cluster, not a row-pair join: the old
    # probes.join(assigned, "cluster") materialized every
    # (query, vector) pair with BOTH embeddings attached — O(n_queries
    # * cell_size) duplicated arrays through the shuffle (1 GB of Arrow
    # traffic at sf1 for 400 queries).  Cogrouping moves each side ONCE
    # per cluster; the int64 Gram matrix (|q|^2+|p|^2-2qp, exact — same
    # arithmetic as the per-pair (q-p)^2 sum) and a per-group top-k run
    # locally, so only n_probe*k candidate rows per query reach the
    # final global rank window.  Per-group top-k is lossless: any
    # global top-k neighbour is in the top-k of its own cluster group.

    # group size knob: one cluster's vectors must fit a task — pick
    # n_clusters ~ n / target_cell_rows (the standard sqrt(n)-cells
    # rule) as the table grows; _gram_topk_group chunks the query side
    # so the distance matrix itself is bounded regardless
    ranked = cogroup_apply(
        probes,
        ["cluster"],
        assigned,
        ["cluster"],
        lambda left, right: _gram_topk_group(left, right, k),
        out_schema,
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def clustered_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 50,
    noise: float = 0.02,
) -> DataFrame:
    """Deterministic CLUSTERED re-embedding keyed only by the id column
    — the fixture approximate-ANN operators are actually for.

    Isotropic random unit vectors (the synthetic gate embeddings) are
    the information-theoretic worst case for any LSH/IVF family: a
    near-orthogonal "neighbour"'s projection signs are coin flips, so
    recall cannot exceed the scanned fraction.  This transform maps each
    id to one of ``n_clusters`` unit centers plus tight noise — the
    regime where bucketing genuinely concentrates true neighbours.

    Partition-independent and bit-deterministic: center c and per-row
    noise are seeded PCG64 streams keyed by (cluster id) and (row id)
    respectively, never by partition or arrival order, so any
    repartitioning reproduces identical vectors."""
    from pyspark.sql.types import ArrayType

    elem_t = df.schema[vec_col].dataType.elementType
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(vec_col, ArrayType(elem_t)),
        ]
    )
    np_t = np.float32 if isinstance(elem_t, FloatType) else np.float64

    def run(it):
        centers: dict[int, np.ndarray] = {}
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            dim = len(pdf[vec_col].iloc[0])
            vecs = []
            for i in ids:
                c = int(i) % n_clusters
                center = centers.get(c)
                if center is None:
                    center = np.random.default_rng(1_000_003 + c).normal(0, 1, dim)
                    center /= np.linalg.norm(center)
                    centers[c] = center
                nz = np.random.default_rng(2_000_033 + int(i)).normal(0, 1, dim)
                v = center + noise * nz
                vecs.append((v / np.linalg.norm(v)).astype(np_t))
            yield pd.DataFrame({id_col: ids, vec_col: vecs})

    return df.select(id_col, vec_col).mapInPandas(run, schema=out_schema)


# --- approximate scale path ---------------------------------------------------

_PLANE_CACHE: dict = {}


def _plane_signs(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes (no RNG: derived from index math so
    every executor regenerates identical planes).  Memoized per
    (dim, n_planes) — callers invoke this once per pandas batch.

    Signs come from bit 0 of splitmix64(h*dim + i).  The previous
    linear-congruence parity collapsed to ``(i + h) % 2`` — every odd
    multiplier vanishes mod 2 — so all planes were the SAME hyperplane
    up to global sign (one effective LSH bit; r3 fix).  splitmix64's
    multiply-xorshift avalanche makes the low bit effectively
    independent across (h, i)."""
    cached = _PLANE_CACHE.get((dim, n_planes))
    if cached is not None:
        return cached
    idx = (
        np.arange(n_planes, dtype=np.uint64)[:, None] * np.uint64(dim)
        + np.arange(dim, dtype=np.uint64)[None, :]
    )
    z = (idx + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x2545F4914F6CDD1D)
    z ^= z >> np.uint64(31)
    planes = np.where(z & np.uint64(1) == 0, 1, -1).astype(np.int64)
    _PLANE_CACHE[(dim, n_planes)] = planes
    return planes


def ann_lsh_bucketed(
    vectors: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_probe_planes: int = 3,
    query_pred: str | None = None,
) -> DataFrame:
    """Approximate top-k: sign-random-projection bucket join, exact
    rerank within bucket.  Recall < 1 by design -> no SQL oracle (the
    driver records a rows-only check); accuracy is asserted in pytest
    against ann_topk on fixture data.

    Query-side multi-probe (``n_probe_planes`` = m): each query also
    probes every sign combination of its m lowest-|projection| planes —
    2^m buckets per query, the planes a true neighbour is most likely
    to flip.  The TABLE side still emits exactly one row per vector;
    only the tiny query set fans out, so the join stays a bucket
    equi-join with the big side unamplified (the knob trades query-side
    probe count for recall, the standard multi-probe LSH design)."""
    spark = vectors.sparkSession
    m = min(n_probe_planes, n_planes)

    def bucketize(it):
        planes = None
        for pdf in it:
            if pdf.empty:
                continue
            mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            if planes is None:
                planes = _plane_signs(mat.shape[1], n_planes)
            proj = _int_matmul(mat, planes.T)
            bits = (proj > 0).astype(np.int64)
            bucket = (bits << np.arange(n_planes, dtype=np.int64)[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].to_numpy(dtype=np.int64),
                    "bucket": bucket,
                    "e": pdf[vec_col],
                }
            )

    def probe(it):
        planes = None
        for pdf in it:
            if pdf.empty:
                continue
            mat = _quantize_np(np.stack(pdf[vec_col].to_numpy()))
            if planes is None:
                planes = _plane_signs(mat.shape[1], n_planes)
            proj = _int_matmul(mat, planes.T)
            home = (
                (proj > 0).astype(np.int64)
                << np.arange(n_planes, dtype=np.int64)[None, :]
            ).sum(axis=1)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            # m lowest-|proj| planes per query, all 2^m sign combos
            low = np.argsort(np.abs(proj), axis=1, kind="stable")[:, :m]
            masks = np.arange(1 << m, dtype=np.int64)
            flip = np.zeros((len(ids), 1 << m), dtype=np.int64)
            for j in range(m):
                flip ^= np.where(
                    (masks[None, :] >> j) & 1 == 1, 1 << low[:, j : j + 1], 0
                )
            buckets = home[:, None] ^ flip
            rep = np.repeat(np.arange(len(ids)), 1 << m)
            yield pd.DataFrame(
                {
                    "query_id": ids[rep],
                    "bucket": buckets.ravel(),
                    "qe": pdf[vec_col].iloc[rep].to_numpy(),
                }
            )

    from pyspark.sql.types import ArrayType

    elem_t = vectors.schema[vec_col].dataType.elementType
    schema = StructType(
        [
            StructField("vid", LongType()),
            StructField("bucket", LongType()),
            StructField("e", ArrayType(elem_t)),
        ]
    )
    probe_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("bucket", LongType()),
            StructField("qe", ArrayType(elem_t)),
        ]
    )
    src = vectors.select(id_col, vec_col)
    # no cache: after the multi-probe refactor the bucketized table has
    # exactly one consumer (the join) — a cache would only pin a copy
    bucketed = src.mapInPandas(bucketize, schema=schema)
    qs = _query_rows(src, id_col, query_ids, query_pred).mapInPandas(
        probe, schema=probe_schema
    )
    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("dist2", LongType()),
        ]
    )

    # Rerank by COGROUP on bucket (same shape as ann_ivf's per-cluster
    # rerank): the row-pair bucket join attached both embeddings to
    # every (query, vector) candidate; cogrouping moves each side once
    # per bucket, computes the exact int64 Gram locally, and keeps a
    # lossless per-group top-k — each vid has ONE home bucket, so a
    # (query, vid) pair occurs in exactly one group and any global
    # top-k member is in its own group's top-k.

    # group size knob: one bucket's vectors must fit a task — bucket
    # population is n / 2^n_planes on average, so n_planes scales with
    # the table; _gram_topk_group chunks the query side so the distance
    # matrix itself is bounded regardless
    ranked = cogroup_apply(
        qs,
        ["bucket"],
        bucketed,
        ["bucket"],
        lambda left, right: _gram_topk_group(left, right, k),
        out_schema,
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
