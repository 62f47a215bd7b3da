"""Text-analysis operators (Spark side) + their DuckDB oracle SQL.

Each operator is pure built-in Catalyst expressions generated from the
shared formulas in texthash.py — JVM-side, WholeStageCodegen, zero
Python in the hot path.  ``*_oracle_sql`` emits the identical formula
in DuckDB dialect for the driver's correctness gate.

At 100 TB: these are all narrow (per-row) transformations — no shuffle,
fully pipelined with the parquet scan; column pruning means only
``text`` (+ id) is read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import texthash as T

_SPARK = T.Dialect("spark")
_DUCK = T.Dialect("duckdb")

# 31^i multipliers of the 8-char polynomial word hash (texthash.whash_sql)
_POW31 = np.array([31**i for i in range(8)], dtype=np.int64)


def rebalance_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition ``df`` up to the core count when its natural
    partitioning is narrower (guide §2/§6).

    Why a real repartition and not a file-split conf: the small local
    parquet fixtures hold ONE row group, and parquet byte-range splits
    cannot subdivide a row group — lowering ``openCostInBytes`` was
    measured to produce 32 tasks of which 31 read zero rows while one
    straggler read everything (worse than the 2-way split it replaced).
    Only a shuffle actually redistributes a single-row-group file.

    Scale-adaptive by construction: a real-scale input arrives with
    >= cores partitions (many row groups / files), the condition is
    false, and NO Exchange is added — the at-scale plan contracts in
    tests/test_plan_shapes.py stay true.  The key is a stable column
    hash (deterministic under task retry, unlike round-robin)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, F.col(key_col))
    return df


def _whash_np(words: list[str]) -> np.ndarray:
    """Vectorized texthash.whash_sql: numpy 'U8' storage is UTF-32 code
    points padded with 0, exactly ``ascii(substr(w, i, 1))`` for i=1..8
    (ascii of an out-of-range position is 0 in Spark/DuckDB too)."""
    wa = np.asarray(words, dtype="U8")
    if wa.size == 0:
        return np.zeros(0, dtype=np.int64)
    codes = wa.view(np.uint32).reshape(wa.size, 8).astype(np.int64)
    # max term ~ 0x10FFFF * 31^7 ~ 3.1e16, 8-term sum < 2.5e17: int64-safe
    return (codes * _POW31).sum(axis=1) % T.P


def _split_docs(texts) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Split a batch of non-null texts on single spaces (Python
    ``str.split(' ')`` == Spark ``split(col, ' ')``: both keep empty
    tokens).  Returns (all_words, words_per_doc, doc_start_offsets)."""
    all_words: list[str] = []
    counts = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        ws = t.split(" ")
        all_words.extend(ws)
        counts[i] = len(ws)
    starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return all_words, counts, starts


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """token_count, token_count_bpe, stopword_count, lang_pred, quality,
    fingerprint and simhash16 over (id, text) rows, with the integer/IEEE
    arithmetic of :func:`text_features_oracle_sql` (see the per-feature
    notes inline).  The whole feature set is computed per Arrow batch in
    vectorized NumPy (guide §4.2: batch-native kernels beat per-row JVM
    expression trees).  No shuffle at all: every feature is doc-local.
    NULL-text docs are excluded; the oracle applies the same predicate."""
    others = [c for c in df.columns if c != text_col]
    if not others:
        raise ValueError("with_text_features needs at least an id column")
    df = df.filter(F.col(text_col).isNotNull())
    df = rebalance_scan(df, others[0])
    stop_arr = np.asarray(list(T.STOPWORDS), dtype="U8")
    bits16 = np.arange(T.SIMHASH_BITS, dtype=np.int64)

    fields = [df.schema[c] for c in others]
    out_schema = StructType(
        list(fields)
        + [
            StructField("token_count", LongType()),
            StructField("token_count_bpe", LongType()),
            StructField("stopword_count", LongType()),
            StructField("lang_pred", StringType()),
            StructField("quality", DoubleType()),
            StructField("fingerprint", LongType()),
            StructField("simhash16", LongType()),
        ]
    )

    def run(it):
        for batch in it:
            # sub-chunk docs so the (words x 16) vote matrix stays
            # bounded (~50 MB) regardless of Arrow batch sizing
            for s in range(0, len(batch), 8192):
                pdf = batch.iloc[s : s + 8192]
                if pdf.empty:
                    continue
                yield _feature_chunk(pdf)

    def _feature_chunk(pdf):
            texts = pdf[text_col]
            all_words, counts, starts = _split_docs(texts)
            wh = _whash_np(all_words)
            tok = counts
            # stopwords are all < 8 chars, so 'U8' truncation cannot
            # create a false match: a truncated word is exactly 8 chars,
            # never equal to a shorter stopword
            wa8 = np.asarray(all_words, dtype="U8")
            stop = np.add.reduceat(
                np.isin(wa8, stop_arr).astype(np.int64), starts
            )
            wlen = np.fromiter(map(len, all_words), np.int64, len(all_words))
            # CAST(FLOOR((len + 3) / 4.0) AS BIGINT) == (len + 3) // 4
            bpe = np.add.reduceat((wlen + 3) // 4, starts)
            pos = np.arange(len(all_words), dtype=np.int64) - np.repeat(
                starts, counts
            )
            fp = np.add.reduceat((wh + pos * T.FP_STEP) % T.P, starts) % T.P
            votes = (((wh[:, None] >> bits16) & 1) * 2 - 1).astype(np.int64)
            seg = np.add.reduceat(votes, starts, axis=0)
            simhash = ((seg > 0).astype(np.int64) << bits16).sum(axis=1)
            chars = texts.str.len().to_numpy(dtype=np.float64)
            tokf = tok.astype(np.float64)
            stopf = stop.astype(np.float64)
            quality = tokf / (chars + 1.0) + stopf / (tokf + 1.0)
            lang = np.where(stopf / tokf >= 0.15, "en", "other")
            out = pdf[others].copy()
            out["token_count"] = tok
            out["token_count_bpe"] = bpe
            out["stopword_count"] = stop
            out["lang_pred"] = lang
            out["quality"] = quality
            out["fingerprint"] = fp
            out["simhash16"] = simhash
            return out

    return df.select(*others, text_col).mapInPandas(run, schema=out_schema)


def text_features_oracle_sql(table: str, id_col: str, text_col: str = "text") -> str:
    d = _DUCK
    wh = T.whash_arr(d, text_col)
    return f"""
SELECT {id_col},
       {T.token_count_sql(d, text_col)} AS token_count,
       {T.bpe_count_sql(d, text_col)} AS token_count_bpe,
       {T.stopword_count_sql(d, text_col)} AS stopword_count,
       {T.lang_id_sql(d, text_col)} AS lang_pred,
       {T.quality_score_sql(d, text_col)} AS quality,
       {T.fingerprint_sql(d, wh)} AS fingerprint,
       CAST({T.simhash_sql(d, wh)} AS BIGINT) AS simhash16
FROM {table}
WHERE {text_col} IS NOT NULL
"""


def extract_text_sql(d: T.Dialect, html_col: str) -> str:
    """html (binary) -> extracted plain text, one shared formula:

      decode utf-8
      -> drop <script>/<style> elements with their contents ((?s) makes
         '.' span newlines in both Java regex and RE2)
      -> strip remaining tags
      -> unescape the five standard entities (&amp; last)
      -> collapse whitespace runs, trim

    Deterministic and dialect-identical, so extraction is oracle-gated
    and the north-star per-row invariant (byte-identical extracted text
    per url) is checkable against any stored text column.  All built-in
    string expressions — codegen'd, no Python, pipelined with the scan.
    """
    x = d.decode_utf8(html_col)
    # NOTE: no bare backslash classes ([^>]* instead of \s*) — Spark SQL
    # single-quoted literals drop unknown backslash escapes
    x = d.regexp_replace(x, "(?s)<(script|style)[^>]*>.*?</(script|style)[^>]*>", " ")
    x = d.regexp_replace(x, "<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&amp;", "&"),
    ):
        x = f"replace({x}, '{ent}', '{ch}')"
    x = d.regexp_replace(x, "[ \\t\\n\\r]+", " ")
    return f"trim({x})"


def minhash_sigs(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, s0..s{J-1}) minhash signatures over 3-word shingles, with the
    shingle + permutation arithmetic of :func:`minhash_oracle_select`
    (int64-safe: max(A_j) * P < 3.5e18), computed per Arrow batch.
    Doc-local, so no shuffle; docs with < 3 words have no shingles and
    drop out (they can never produce an LSH candidate pair; the oracle's
    NULL sigs agree)."""
    a_np = np.asarray(T.MINHASH_A, dtype=np.int64)
    b_np = np.asarray(T.MINHASH_B, dtype=np.int64)
    src = rebalance_scan(df.select(id_col, text_col), id_col)
    out_schema = StructType(
        [StructField(id_col, LongType())]
        + [StructField(f"s{j}", LongType()) for j in range(T.N_SIG)]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            mask = pdf[text_col].notna()
            if not mask.all():
                pdf = pdf[mask]
                if pdf.empty:
                    continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            all_words, counts, starts = _split_docs(pdf[text_col])
            wh = _whash_np(all_words)
            if len(wh) < 3:
                continue
            doc_idx = np.repeat(np.arange(len(ids), dtype=np.int64), counts)
            # shingles over the concatenation, masked to within-doc
            sh = (wh[:-2] + 31 * wh[1:-1] + 961 * wh[2:]) % T.P
            valid = doc_idx[:-2] == doc_idx[2:]
            sh = sh[valid]
            if sh.size == 0:
                continue
            sdoc = doc_idx[:-2][valid]
            seg = np.flatnonzero(np.r_[True, sdoc[1:] != sdoc[:-1]])
            out = {id_col: ids[sdoc[seg]]}
            for j in range(T.N_SIG):
                out[f"s{j}"] = np.minimum.reduceat(
                    (a_np[j] * sh + b_np[j]) % T.P, seg
                )
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=out_schema)


def minhash_oracle_select(table: str, id_col: str, text_col: str = "text") -> str:
    """SELECT id, s0.. sJ  (DuckDB dialect), reusable as a CTE body."""
    d = _DUCK
    sigs = ", ".join(
        f"{T.minhash_sig_sql(d, '_sh', j)} AS s{j}" for j in range(T.N_SIG)
    )
    return (
        f"SELECT {id_col}, {sigs} FROM "
        f"(SELECT {id_col}, {T.shingle_arr_sql(d, text_col)} AS _sh FROM {table})"
    )


# --- document chunking (training-data prep) ----------------------------------

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def _chunk_counts_sql(d: T.Dialect, n: str, c: int, v: int) -> str:
    """Number of chunks for an n-token doc: 1 if n <= c, else
    1 + ceil((n - c) / stride) with stride = c - v — pure integer
    arithmetic (DIV vs // is the only dialect split)."""
    s = c - v
    idiv = "DIV" if d.name == "spark" else "//"
    return (
        f"(CASE WHEN {n} <= {c} THEN 1 "
        f"ELSE 1 + (({n} - {c} + {s - 1}) {idiv} {s}) END)"
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Token-bounded overlapping chunks — the canonical prep step that
    turns raw documents into training-window-sized pieces.  Whitespace
    tokens, chunk k covers token positions [1 + k*stride, ... + chunk
    _tokens); the final chunk is allowed to be short, and every token
    belongs to at least one chunk.  All built-ins (split / sequence /
    explode / slice / array_join — no HOF lambdas, no Python), one
    narrow explode whose output is exactly the chunk table.

    Returns (id, chunk_idx, n_tokens, chunk_text)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"chunk_documents needs 0 <= overlap < chunk_tokens, "
            f"got overlap={overlap}, chunk_tokens={chunk_tokens}"
        )
    d = _SPARK
    stride = chunk_tokens - overlap
    words = d.split(text_col)
    n = d.size("_w")
    nc = _chunk_counts_sql(d, "_n", chunk_tokens, overlap)
    start = f"(1 + chunk_idx * {stride})"
    return (
        df.filter(F.col(text_col).isNotNull())
        .selectExpr(id_col, f"{words} AS _w")
        .selectExpr(id_col, "_w", f"{n} AS _n")
        .selectExpr(id_col, "_w", "_n", f"{nc} AS _nc")
        .select(
            F.col(id_col),
            F.expr("explode(sequence(0, _nc - 1))").alias("chunk_idx"),
            F.col("_w"),
            F.col("_n"),
        )
        .selectExpr(
            id_col,
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            f"CAST(least({chunk_tokens}, _n - {start} + 1) AS BIGINT) AS n_tokens",
            f"array_join(slice(_w, {start}, {chunk_tokens}), ' ') AS chunk_text",
        )
    )


def chunk_documents_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> str:
    d = _DUCK
    stride = chunk_tokens - overlap
    nc = _chunk_counts_sql(d, "n", chunk_tokens, overlap)
    start = f"(1 + chunk_idx * {stride})"
    end = f"least({start} + {chunk_tokens - 1}, n)"
    return f"""
WITH w AS (
  SELECT {id_col}, {d.split(text_col)} AS ws FROM {table}
  WHERE {text_col} IS NOT NULL
),
c AS (SELECT {id_col}, ws, {d.size('ws')} AS n FROM w),
k AS (
  SELECT {id_col}, ws, n, unnest(range(0, {nc})) AS chunk_idx FROM c
)
SELECT {id_col},
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST({end} - {start} + 1 AS BIGINT) AS n_tokens,
       array_to_string(list_slice(ws, {start}, {end}), ' ') AS chunk_text
FROM k
"""
