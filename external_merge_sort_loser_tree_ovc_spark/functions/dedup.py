"""Deduplication operators over a document table.

Four families, each with a DuckDB oracle generator sharing the exact
formula (texthash.py):

- exact:        group-by text hash, keep min id (one shuffle on a
                64-ish-bit key; at 100 TB use xxhash64(text) as the
                group key so the shuffle carries 8 bytes, not the text);
- minhash+LSH:  J=16 minhash signatures over 3-word shingles -> 4
                bands of 4 (Horner-fold band values) -> candidate pairs
                via self-equi-join on (band, band_value);
- simhash:      wide banded simhash (4 bands x 15 bits) -> per-band
                equi-join candidates with exact pigeonhole coverage of
                hamming <= 3, bit_count verify (the 16-bit equality
                variant remains for feature extraction only);
- n-gram Jaccard: word-bigram inverted index self-join with an optional
                document-frequency cutoff (``df_cap``); the >= tau test
                is integer-exact (q*intersection >= p*union).

Scale notes: pair-generation joins are quadratic in bucket size — hot
buckets (boilerplate docs) are the skew risk at 100 TB.  Both banded
simhash (``band_df_cap``) and n-gram Jaccard (``df_cap``) implement the
cutoff as a broadcast anti-join against the over-cap key set, and their
oracle generators mirror the same definition so the gate stays exact
under either setting.  AQE's skew-join split handles the shuffle side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from . import texthash as T
from .textops import minhash_oracle_select, minhash_sigs, _DUCK


def _drop_hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows whose key combination is shared by more than ``cap``
    rows: broadcast anti-join against the over-cap key set (the
    boilerplate hot-bucket guard shared by every pair-generation op)."""
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


# --- exact ------------------------------------------------------------------

def exact_dedup_scale_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Aggregate fingerprint of the SCALE-path exact dedup (group on
    ``xxhash64(text)`` so the shuffle key is 8 bytes, never the text):
    (n_groups, n_rows, max_group).  xxhash64 exists only in Spark, so
    the oracle checks the hash-invariant aggregates — identical values
    prove the hash grouping partitions rows exactly like text equality
    (a collision would merge two groups: n_groups drops, max_group
    grows, the gate fails)."""
    g = df.groupBy(F.xxhash64(F.col(text_col)).alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_group"),
    )


def exact_dedup_scale_oracle_sql(table: str, text_col: str = "text") -> str:
    return f"""
WITH g AS (SELECT {text_col} AS t, COUNT(*) AS c FROM {table} GROUP BY {text_col})
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS BIGINT) AS max_group
FROM g
"""


def exact_dedup_survivors(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(survivor_id, dup_count) — xxhash64 is Spark-only, so the oracle
    compares on the survivor set keyed by min-id per text."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("survivor_id", "dup_count")
    )


def exact_dedup_oracle_sql(table: str, id_col: str, text_col: str = "text") -> str:
    return (
        f"SELECT MIN({id_col}) AS survivor_id, COUNT(*) AS dup_count "
        f"FROM {table} GROUP BY {text_col}"
    )


# --- minhash + LSH ------------------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    band_df_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded minhash.

    Unpivots the J signature columns into (id, band, bv) with one
    ``stack`` projection (no N_BANDS-way union), then a self equi-join
    on (band, bv).  At scale the join shuffles only (id, band, bv)
    triples — 24 bytes/row — never the text.

    ``band_df_cap``: band values shared by more than this many docs
    (boilerplate near-identical corpora) are dropped before the
    self-join via a broadcast anti-join — bounds every join bucket; a
    pair then needs a sub-cap band in common."""
    sigs = minhash_sigs(df.select(id_col, text_col), id_col, text_col)
    sig_cols = [f"s{j}" for j in range(T.N_SIG)]
    stack = ", ".join(
        f"{b}, {T.lsh_band_sql(sig_cols, b)}" for b in range(T.N_BANDS)
    )
    bands = sigs.select(
        F.col(id_col),
        F.expr(f"stack({T.N_BANDS}, {stack}) AS (band, bv)"),
    ).select(id_col, "band", "bv")
    # the band table feeds up to four consumers (hot-key agg, anti-join
    # probe, both self-join sides): persist so the signature pass runs
    # once per action, not once per consumer.  Same lifetime contract as
    # the ngram gram index below — harnesses clearCache between queries.
    bands = bands.persist()
    if band_df_cap is not None:
        bands = _drop_hot_keys(bands, ["band", "bv"], band_df_cap)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "bv")
    b_ = bands.select(F.col(id_col).alias("id_b"), "band", "bv")
    return (
        a.join(b_, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    band_df_cap: int | None = None,
) -> str:
    """Oracle for ``minhash_lsh_pairs`` — mirrors the hot-bucket cutoff
    (``band_df_cap``) with the identical definition, so the gate runs
    the same capped configuration that a 100 TB job would."""
    sig_sel = minhash_oracle_select(table, id_col, text_col)
    sig_cols = [f"s{j}" for j in range(T.N_SIG)]
    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, {T.lsh_band_sql(sig_cols, b)} AS bv FROM sigs"
        for b in range(T.N_BANDS)
    )
    cap_cte = ""
    bands_src = "bands"
    if band_df_cap is not None:
        cap_cte = f""",
capped AS (
  SELECT band, bv FROM bands GROUP BY band, bv HAVING COUNT(*) > {band_df_cap}
),
bands_ok AS (
  SELECT b.* FROM bands b ANTI JOIN capped c USING (band, bv)
)"""
        bands_src = "bands_ok"
    return f"""
WITH sigs AS ({sig_sel}),
bands AS ({band_rows}){cap_cte}
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
FROM {bands_src} a JOIN {bands_src} b ON a.band = b.band AND a.bv = b.bv
WHERE a.{id_col} < b.{id_col}
"""


# --- banded wide simhash (hamming <= K, the scale path) -----------------------

def simhash_band_table(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, b0..b3): four 15-bit simhash bands per document.

    Arrow/NumPy: the 60 rehash votes per word hash are one vectorized
    (words x 60) matrix per Arrow batch (guide §4.2).  All
    int64-safe: max(a_k) * max(wh) < P^2 ~ 4.7e18 < 2^63.  Doc-local,
    so the explode/agg shuffle disappears from the plan.

    NULL-text docs are excluded (no content -> no near-dup candidate);
    the oracle generator applies the same predicate, keeping engine and
    oracle aligned on nullable corpora."""
    from .textops import _split_docs, _whash_np, rebalance_scan

    nbits = T.SIMHASH_BANDS * T.SIMHASH_BAND_BITS
    ab = np.asarray([T.simhash_bit_params(k) for k in range(nbits)], dtype=np.int64)
    a_np, b_np = ab[:, 0], ab[:, 1]
    jbits = np.arange(T.SIMHASH_BAND_BITS, dtype=np.int64)
    src = rebalance_scan(
        df.filter(F.col(text_col).isNotNull()).select(id_col, text_col), id_col
    )
    out_schema = StructType(
        [StructField(id_col, LongType())]
        + [StructField(f"b{b}", LongType()) for b in range(T.SIMHASH_BANDS)]
    )

    def run(it):
        for pdf in it:
            # sub-chunk docs so the (words x 60) vote matrix stays
            # bounded (~100 MB) regardless of Arrow batch sizing
            for s in range(0, len(pdf), 4096):
                sub = pdf.iloc[s : s + 4096]
                if sub.empty:
                    continue
                ids = sub[id_col].to_numpy(dtype=np.int64)
                all_words, counts, starts = _split_docs(sub[text_col])
                wh = _whash_np(all_words)
                votes = ((((a_np * wh[:, None]) + b_np) % T.P & 1) * 2 - 1).astype(
                    np.int64
                )
                seg = np.add.reduceat(votes, starts, axis=0)
                pos = (seg > 0).astype(np.int64)
                out = {id_col: ids}
                for b in range(T.SIMHASH_BANDS):
                    blk = pos[
                        :, b * T.SIMHASH_BAND_BITS : (b + 1) * T.SIMHASH_BAND_BITS
                    ]
                    out[f"b{b}"] = (blk << jbits).sum(axis=1)
                yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=out_schema)


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    k: int = T.SIMHASH_HAMMING_K,
    band_df_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs at wide-simhash hamming distance <= k (default 3).

    Candidates: per-band equi-join on (band, value) — pigeonhole over
    4 bands of 15 bits guarantees every pair within hamming 3 agrees on
    a full band, so coverage is exact.  Verify: bit_count over the
    band XORs.  The shuffle carries (id, band, value) = 24 bytes/row.

    ``band_df_cap``: drop band values shared by more than this many
    documents before the self-join (the boilerplate hot-bucket guard for
    100 TB runs — a candidate pair is then only required to meet in a
    sub-cap band).  None = exact pigeonhole coverage.
    """
    # the band table feeds THREE consumers (candidate bands + both
    # verify sides): persist so the 60-vote pass runs once per action,
    # not once per consumer (same lifetime contract as the gram index)
    sh = simhash_band_table(df, id_col, text_col).persist()
    stack = ", ".join(f"{b}, b{b}" for b in range(T.SIMHASH_BANDS))
    bands = sh.select(
        F.col(id_col), F.expr(f"stack({T.SIMHASH_BANDS}, {stack}) AS (band, bv)")
    ).select(id_col, "band", "bv")
    if band_df_cap is not None:
        bands = _drop_hot_keys(bands, ["band", "bv"], band_df_cap)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "bv")
    b_ = bands.select(F.col(id_col).alias("id_b"), "band", "bv")
    cand = (
        a.join(b_, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sha = sh.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"b{i}").alias(f"xa{i}") for i in range(T.SIMHASH_BANDS)],
    )
    shb = sh.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"b{i}").alias(f"xb{i}") for i in range(T.SIMHASH_BANDS)],
    )
    ham = None
    for i in range(T.SIMHASH_BANDS):
        t = F.bit_count(F.col(f"xa{i}").bitwiseXOR(F.col(f"xb{i}")))
        ham = t if ham is None else ham + t
    return (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= k)
        .select("id_a", "id_b", "hamming")
    )


def simhash_hamming_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    k: int = T.SIMHASH_HAMMING_K,
    band_df_cap: int | None = None,
) -> str:
    """Same banded pipeline in DuckDB (bands, candidate equi-join,
    bit_count verify) — formula-identical to the Spark side."""
    d = _DUCK
    band_sel = ", ".join(
        f"CAST({T.simhash_band_sql(d, '_wh', b)} AS BIGINT) AS b{b}"
        for b in range(T.SIMHASH_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, b{b} AS bv FROM sh"
        for b in range(T.SIMHASH_BANDS)
    )
    cap_cte = ""
    bands_src = "bands"
    if band_df_cap is not None:
        cap_cte = f""",
capped AS (
  SELECT band, bv FROM bands GROUP BY band, bv HAVING COUNT(*) > {band_df_cap}
),
bands_ok AS (
  SELECT b.* FROM bands b ANTI JOIN capped c USING (band, bv)
)"""
        bands_src = "bands_ok"
    ham = " + ".join(
        f"bit_count(xor(x.b{i}, y.b{i}))" for i in range(T.SIMHASH_BANDS)
    )
    return f"""
WITH wh AS (SELECT {id_col}, {T.whash_arr(d, text_col)} AS _wh FROM {table}
            WHERE {text_col} IS NOT NULL),
sh AS (SELECT {id_col}, {band_sel} FROM wh),
bands AS ({band_rows}){cap_cte},
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM {bands_src} a JOIN {bands_src} b
    ON a.band = b.band AND a.bv = b.bv AND a.{id_col} < b.{id_col}
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming
  FROM cand JOIN sh x ON x.{id_col} = id_a JOIN sh y ON y.{id_col} = id_b
) WHERE hamming <= {k}
"""


# --- n-gram Jaccard -------------------------------------------------------------

def _explode_bigrams_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) rows — output identical to
    ``explode(_bigrams_spark(text_col))``: words come from a literal
    single-space split that keeps empty tokens (Python ``str.split(' ')``
    == Spark ``split(col, ' ', -1)``), grams are ``w[i] + ' ' + w[i+1]``,
    NULL texts produce no rows (matching unnest-of-NULL in the oracle).

    Exists because Catalyst higher-order string lambdas evaluate
    interpreted per ELEMENT — the HOF explode alone took 26 s at sf1;
    this Arrow pass does the same concatenations at C-loop speed."""
    from pyspark.sql.types import StringType

    from .textops import rebalance_scan

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("g", StringType())]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids: list[int] = []
            grams: list[str] = []
            for i, t in zip(
                pdf[id_col].to_numpy(dtype=np.int64), pdf[text_col]
            ):
                if t is None:
                    continue
                ws = t.split(" ")
                gs = [a + " " + b for a, b in zip(ws, ws[1:])]
                grams.extend(gs)
                ids.extend([int(i)] * len(gs))
            if ids:
                yield pd.DataFrame({id_col: ids, "g": grams})

    return rebalance_scan(df.select(id_col, text_col), id_col).mapInPandas(
        run, schema=out_schema
    )


def _bigrams_spark(text_col: str) -> str:
    s = f"split({text_col}, ' ')"
    return (
        f"transform(slice({s}, 1, size({s}) - 1), "
        f"(x, ixv) -> concat(x, ' ', element_at({s}, ixv + 2)))"
    )


def _bigrams_duck(text_col: str) -> str:
    s = f"string_split({text_col}, ' ')"
    return (
        f"list_transform(list_slice({s}, 1, len({s}) - 1), "
        f"(x, ixv) -> x || ' ' || {s}[ixv + 1])"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    tau_num: int = 1,
    tau_den: int = 2,
    df_cap: int | None = None,
) -> DataFrame:
    """Pairs with word-bigram Jaccard >= tau_num/tau_den (integer-exact
    comparison).  Inverted-index self-join, then exact set arithmetic.

    ``df_cap``: grams appearing in more than this many documents are
    excluded from the index AND from the per-doc gram counts (Jaccard is
    then over the sub-cap gram sets — the standard stop-gram cutoff).
    One boilerplate bigram ("of the") otherwise creates a quadratic hot
    bucket in the self-join at scale; the cutoff bounds every bucket at
    df_cap.  The oracle generator takes the same cap, so the gate stays
    bit-exact under either setting.
    """
    grams = (
        _explode_bigrams_arrow(df, id_col, text_col)
        # 16-byte composite shuffle key: every downstream op (distinct,
        # df-cap, self-join) keys on TWO independent xxhash64 values of
        # the gram, never the ~25-byte string.  128 bits keep
        # birthday-collision odds negligible at ANY gram cardinality (a
        # single 64-bit hash reaches percent-level odds around 10^9
        # distinct grams — the design scale); the sf1 gate additionally
        # cross-checks the pair set against the string-keyed oracle at
        # its own scale.
        # Argument-order matters for independence: Spark's multi-arg
        # xxhash64 SEED-CHAINS left to right (each arg is hashed with
        # the running hash as seed), so xxhash64(g, lit) would be a
        # deterministic function of xxhash64(g) alone — two grams
        # colliding on the first hash would always collide on the
        # second (r4 advice).  Leading with the literal makes g2 =
        # XXH64(g, seed=XXH64(lit)) — an independently-seeded hash of g.
        .select(
            F.col(id_col),
            F.xxhash64(F.col("g")).alias("g"),
            F.xxhash64(F.lit(0x9E3779B9), F.col("g")).alias("g2"),
        )
        .distinct()
        # the gram index feeds THREE consumers (hot-key cap, per-doc
        # counts, both sides of the self-join) — persist so the explode
        # +distinct runs once per action, not once per consumer.
        # Lifetime note: the cache lives until the session clears it
        # (a lazy-returning function cannot unpersist its own plan);
        # sweep harnesses (bench.py, sf1_gate.py) clearCache between
        # queries for exactly this reason
        .persist()
    )
    if df_cap is not None:
        grams = _drop_hot_keys(grams, ["g", "g2"], df_cap)
    counts = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col(id_col).alias("id_a"), "g", "g2")
    b = grams.select(F.col(id_col).alias("id_b"), "g", "g2")
    inter = (
        a.join(b, ["g", "g2"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(
            F.col("c") * F.lit(tau_den)
            >= F.lit(tau_num) * (F.col("na") + F.col("nb") - F.col("c"))
        )
        .select("id_a", "id_b")
    )


def decontamination_flags(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    eval_mod: int = 97,
    min_shared: int = 3,
    df_cap: int | None = None,
    df_cap_frac: float | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag TRAINING docs that share at
    least ``min_shared`` distinct (df-capped) word bigrams with the
    EVAL set (docs with ``id % eval_mod == 0`` stand in for a held-out
    benchmark corpus).  The shape is the decontamination semi-join a
    training pipeline runs before every release: inverted gram index,
    eval grams distinct-projected, one equi-join on the 128-bit gram
    key, count per training doc.  ``df_cap`` drops boilerplate grams
    from BOTH sides (a stop-gram shared with everything is evidence of
    nothing), bounding every join bucket exactly as in
    ``ngram_jaccard_pairs``.

    ``df_cap_frac``: scale-INVARIANT form of the cap — grams appearing
    in more than ``frac * n_docs`` documents are dropped.  An absolute
    DF cap doesn't transfer across corpus sizes (the round-5 sf1 gate
    showed cap=64 drops nearly every gram at 10x the corpus, flagging
    nothing); a fractional stop-gram cutoff is what a pipeline would
    ship.  The corpus count is folded INTO the plan as a broadcast 1x1
    scalar aggregate (r5 verdict #5: the old plan-build ``df.count()``
    was an extra full corpus scan before the real job at 100 TB) —
    building this DataFrame launches no Spark job.

    Returns (id, n_shared) for flagged training docs."""
    grams = (
        _explode_bigrams_arrow(df, id_col, text_col)
        .select(
            F.col(id_col),
            F.xxhash64(F.col("g")).alias("g"),
            F.xxhash64(F.lit(0x9E3779B9), F.col("g")).alias("g2"),
        )
        .distinct()
        .persist()
    )
    if df_cap_frac is not None:
        # same arithmetic as the old driver-side max(1, int(frac * n)):
        # one double multiply + floor, identical in the DuckDB oracle
        cap_df = df.agg(
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(F.lit(float(df_cap_frac)) * F.count(F.lit(1))).cast(
                    "bigint"
                ),
            ).alias("_cap")
        )
        hot = (
            grams.groupBy("g", "g2")
            .agg(F.count(F.lit(1)).alias("_n"))
            .crossJoin(F.broadcast(cap_df))  # 1x1 scalar join
            .filter(F.col("_n") > F.col("_cap"))
            .select("g", "g2")
        )
        grams = grams.join(F.broadcast(hot), ["g", "g2"], "left_anti")
    elif df_cap is not None:
        grams = _drop_hot_keys(grams, ["g", "g2"], df_cap)
    is_eval = F.pmod(F.col(id_col), F.lit(eval_mod)) == 0
    eval_grams = grams.filter(is_eval).select("g", "g2").distinct()
    train = grams.filter(~is_eval)
    return (
        train.join(eval_grams, ["g", "g2"])
        # gram rows are distinct per (id, gram), so count(*) counts
        # DISTINCT shared grams
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontamination_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    eval_mod: int = 97,
    min_shared: int = 3,
    df_cap: int | None = None,
    df_cap_frac: float | None = None,
) -> str:
    gram_cte = f"""
  SELECT DISTINCT {id_col}, unnest({_bigrams_duck(text_col)}) AS g FROM {table}
"""
    cap_expr = (
        f"GREATEST(1, CAST(FLOOR({df_cap_frac} * (SELECT COUNT(*) FROM {table})) AS BIGINT))"
        if df_cap_frac is not None
        else (str(df_cap) if df_cap is not None else None)
    )
    if cap_expr is not None:
        gram_cte = f"""
  SELECT * FROM ({gram_cte}) g0
  WHERE g NOT IN (
    SELECT g FROM ({gram_cte}) GROUP BY g HAVING COUNT(*) > {cap_expr}
  )
"""
    return f"""
WITH grams AS ({gram_cte}),
ev AS (SELECT DISTINCT g FROM grams WHERE {id_col} % {eval_mod} = 0),
tr AS (
  SELECT grams.{id_col}, COUNT(*) AS n_shared
  FROM grams JOIN ev USING (g)
  WHERE grams.{id_col} % {eval_mod} <> 0
  GROUP BY grams.{id_col}
)
SELECT {id_col}, n_shared FROM tr WHERE n_shared >= {min_shared}
"""


def ngram_jaccard_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    tau_num: int = 1,
    tau_den: int = 2,
    df_cap: int | None = None,
) -> str:
    gram_cte = f"""
  SELECT DISTINCT {id_col}, unnest({_bigrams_duck(text_col)}) AS g FROM {table}
"""
    if df_cap is not None:
        gram_cte = f"""
  SELECT * FROM ({gram_cte}) g0
  WHERE g NOT IN (
    SELECT g FROM ({gram_cte}) GROUP BY g HAVING COUNT(*) > {df_cap}
  )
"""
    return f"""
WITH grams AS ({gram_cte}),
counts AS (SELECT {id_col}, COUNT(*) AS n FROM grams GROUP BY {id_col}),
inter AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, COUNT(*) AS c
  FROM grams a JOIN grams b ON a.g = b.g AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2
)
SELECT id_a, id_b
FROM inter
JOIN counts ca ON ca.{id_col} = id_a
JOIN counts cb ON cb.{id_col} = id_b
WHERE c * {tau_den} >= {tau_num} * (ca.n + cb.n - c)
"""


# --- within-doc repetition filter (Gopher/MassiveText-style) ----------------


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    dup_num: int = 1,
    dup_den: int = 5,
) -> DataFrame:
    """Per-document word-bigram repetition statistics — the classic
    within-document quality filter (fraction of duplicated n-grams;
    Gopher's repetition rules): ``(id, total_bigrams, distinct_bigrams,
    max_gram_count, dup_flag)`` with ``dup_flag = 1`` iff
    ``(total - distinct) * dup_den > total * dup_num`` (integer-exact,
    no float fraction).

    Scale shape: every statistic is DOC-LOCAL, so the whole operator is
    one narrow `mapInPandas` pass — no shuffle at all (the previous
    shape shuffled the full (id, gram) stream twice; guide §2.4 remove
    shuffles outright).  Gram counting is exact string counting per
    document (collections.Counter == the oracle's GROUP BY id, g);
    NULL texts produce no rows in either engine."""
    from collections import Counter

    from pyspark.sql.types import IntegerType

    from .textops import rebalance_scan

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("total_bigrams", LongType()),
            StructField("distinct_bigrams", LongType()),
            StructField("max_gram_count", LongType()),
            StructField("dup_flag", IntegerType()),
        ]
    )

    def run(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids, tot, dst, mx = [], [], [], []
            for i, t in zip(pdf[id_col].to_numpy(dtype=np.int64), pdf[text_col]):
                if t is None:
                    continue
                ws = t.split(" ")
                if len(ws) < 2:
                    continue
                c = Counter(a + " " + b for a, b in zip(ws, ws[1:]))
                ids.append(int(i))
                tot.append(len(ws) - 1)
                dst.append(len(c))
                mx.append(max(c.values()))
            if not ids:
                continue
            total = np.asarray(tot, dtype=np.int64)
            distinct = np.asarray(dst, dtype=np.int64)
            yield pd.DataFrame(
                {
                    id_col: np.asarray(ids, dtype=np.int64),
                    "total_bigrams": total,
                    "distinct_bigrams": distinct,
                    "max_gram_count": np.asarray(mx, dtype=np.int64),
                    "dup_flag": (
                        (total - distinct) * dup_den > total * dup_num
                    ).astype(np.int32),
                }
            )

    return rebalance_scan(df.select(id_col, text_col), id_col).mapInPandas(
        run, schema=out_schema
    )


def repetition_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    dup_num: int = 1,
    dup_den: int = 5,
) -> str:
    return f"""
WITH g AS (
  SELECT {id_col}, unnest({_bigrams_duck(text_col)}) AS g FROM {table}
),
per AS (SELECT {id_col}, g, COUNT(*) AS c FROM g GROUP BY 1, 2)
SELECT {id_col},
       CAST(SUM(c) AS BIGINT) AS total_bigrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
       CAST(MAX(c) AS BIGINT) AS max_gram_count,
       CAST(CASE WHEN (SUM(c) - COUNT(*)) * {dup_den} > SUM(c) * {dup_num}
            THEN 1 ELSE 0 END AS INT) AS dup_flag
FROM per GROUP BY {id_col}
"""


# --- incremental (delta) dedup: new batch vs existing corpus ----------------


def incremental_dedup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    batch_mod: int = 10,
    batch_lt: int = 2,
) -> DataFrame:
    """Daily-ingest dedup: documents with ``id % batch_mod < batch_lt``
    form the NEW batch, the rest the existing corpus; survivors are new
    documents whose text does not already appear in the corpus.

    Scale shape: LEFT ANTI join on ``xxhash64(text)`` — both sides
    shuffle 8-byte keys instead of document bodies (the corpus side
    projects the hash only), the same verified scheme as the
    ``q_dedup_exact_scale`` path.  At 100 TB the corpus-hash side is a
    compact bucketable table maintained across ingests.  NULL texts are
    excluded on both sides (hash-of-NULL would otherwise equate them
    while SQL equality never does)."""
    src = df.filter(F.col(text_col).isNotNull())
    is_new = (F.col(id_col) % batch_mod) < batch_lt
    new_b = src.filter(is_new).select(
        id_col, "n_chars", F.xxhash64(text_col).alias("_h")
    )
    corpus = src.filter(~is_new).select(F.xxhash64(text_col).alias("_h"))
    return new_b.join(corpus, "_h", "left_anti").select(id_col, "n_chars")


def incremental_dedup_oracle_sql(
    table: str,
    id_col: str,
    text_col: str = "text",
    *,
    batch_mod: int = 10,
    batch_lt: int = 2,
) -> str:
    return f"""
SELECT n.{id_col}, n.n_chars
FROM {table} n
WHERE n.{text_col} IS NOT NULL AND n.{id_col} % {batch_mod} < {batch_lt}
  AND NOT EXISTS (
    SELECT 1 FROM {table} c
    WHERE c.{text_col} IS NOT NULL
      AND c.{id_col} % {batch_mod} >= {batch_lt}
      AND c.{text_col} = n.{text_col}
  )
"""
