"""Shared text-hash formulas, generated for BOTH Spark SQL and DuckDB.

Every text operator in this engine (minhash, simhash, fingerprint,
lang-id, quality) is defined by ONE arithmetic formula emitted in two
SQL dialects: the Spark side runs it as built-in Catalyst expressions
(JVM, WholeStageCodegen — the fast path; no Python at all), and the
DuckDB side is the driver's correctness oracle.  Because both engines
evaluate the identical integer arithmetic, results match bit-for-bit.

Word hash: ``whash(w) = (sum_{i=1..8} ascii(substr(w,i,1)) * 31^(i-1))
mod P`` with P = 2^31 - 1.  ``ascii`` of an out-of-range position is 0
in both engines (verified), so words shorter than 8 chars hash cleanly.

The reference repo has no scalar function surface at all (SURVEY.md
§2.2) — this module is part of the training-data-pipeline layer the
task mandates on top of the sort/merge core.
"""

from __future__ import annotations

P = 2_147_483_647  # 2^31 - 1, Mersenne prime
# minhash permutation params (fixed, deterministic)
MINHASH_A = [
    1103515245, 1103245, 12345, 1013904223, 22695477, 1664525, 69069, 75,
    48271, 16807, 69621, 40692, 65539, 1583458089, 784588716, 950706376,
]
MINHASH_B = [
    12345, 1013904223, 1103515245, 22695477, 69069, 1664525, 75, 1103245,
    16807, 48271, 40692, 69621, 1583458089, 65539, 950706376, 784588716,
]
N_SIG = 16
N_BANDS = 4  # bands of N_SIG // N_BANDS = 4 signatures each
BAND_R = N_SIG // N_BANDS
SIMHASH_BITS = 16
# banded wide simhash (near-dup pairs at hamming <= K): 4 bands x 15
# bits = 60 bits total.  Pigeonhole: two hashes within hamming K=3 agree
# on at least one full band, so a per-band equi-join provably covers
# every true pair — no 2^16-bucket quadratic trap, no missed near-dups.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
SIMHASH_HAMMING_K = 3
FP_STEP = 1_000_003  # fingerprint positional multiplier

STOPWORDS = (
    "the of and to in a is that for it with as was on be at by this had not are but".split()
)


class Dialect:
    """Tiny dialect shim: spark vs duckdb differences only."""

    def __init__(self, name: str):
        if name not in ("spark", "duckdb"):
            raise ValueError(f"unknown dialect {name!r}: spark or duckdb")
        self.name = name

    def split(self, col: str) -> str:
        return (
            f"split({col}, ' ')" if self.name == "spark" else f"string_split({col}, ' ')"
        )

    def transform(self, arr: str, var: str, body: str) -> str:
        return (
            f"transform({arr}, {var} -> {body})"
            if self.name == "spark"
            else f"list_transform({arr}, {var} -> {body})"
        )

    def transform_idx(self, arr: str, var: str, idxvar: str, body_1based: str) -> str:
        """body is written against a 1-based index name {idxvar}."""
        if self.name == "duckdb":
            return f"list_transform({arr}, ({var}, {idxvar}) -> {body_1based})"
        # spark's lambda index is 0-based -> substitute (i+1)
        body = body_1based.replace(idxvar, f"({idxvar} + 1)")
        return f"transform({arr}, ({var}, {idxvar}) -> {body})"

    def arr_min(self, arr: str) -> str:
        return f"array_min({arr})" if self.name == "spark" else f"list_min({arr})"

    def arr_sum(self, arr: str) -> str:
        if self.name == "spark":
            return f"aggregate({arr}, CAST(0 AS BIGINT), (acc, el) -> acc + el)"
        return f"CAST(list_sum({arr}) AS BIGINT)"

    def arr_filter(self, arr: str, var: str, body: str) -> str:
        return (
            f"filter({arr}, {var} -> {body})"
            if self.name == "spark"
            else f"list_filter({arr}, {var} -> {body})"
        )

    def size(self, arr: str) -> str:
        return f"size({arr})" if self.name == "spark" else f"len({arr})"

    def regexp_replace(self, x: str, pattern: str, repl: str) -> str:
        """Replace ALL matches (Spark does globally by default; DuckDB
        needs the 'g' flag)."""
        if self.name == "spark":
            return f"regexp_replace({x}, '{pattern}', '{repl}')"
        return f"regexp_replace({x}, '{pattern}', '{repl}', 'g')"

    def decode_utf8(self, b: str) -> str:
        return f"decode({b}, 'UTF-8')" if self.name == "spark" else f"decode({b})"

    def shr(self, x: str, k: int) -> str:
        return f"shiftright({x}, {k})" if self.name == "spark" else f"({x} >> {k})"

    def band(self, x: str, y: str) -> str:  # bitwise and
        return f"({x} & {y})"


def whash_sql(w: str) -> str:
    """The 8-char polynomial word hash (dialect-independent)."""
    terms = [
        f"CAST(ascii(substr({w}, {i + 1}, 1)) AS BIGINT) * CAST({31 ** i} AS BIGINT)"
        for i in range(8)
    ]
    return f"((({' + '.join(terms)}) % {P}))"


def whash_arr(d: Dialect, text_col: str) -> str:
    """Array of word hashes for a text column."""
    return d.transform(d.split(text_col), "w", f"CAST({whash_sql('w')} AS BIGINT)")


def shingle_arr_sql(d: Dialect, text_col: str) -> str:
    """3-word shingle hashes: sh_i = (wh_i + K1*wh_{i+1} + K2*wh_{i+2})
    mod P over the word-hash array.  Much more discriminative than
    single-word hashing (small vocabularies collide otherwise).
    Texts with < 3 words produce an empty array -> NULL minhash sig in
    BOTH engines (consistent)."""
    if d.name == "duckdb":
        s = f"string_split({text_col}, ' ')"
        wh_at = lambda idx: f"{whash_sql(f'{s}[{idx}]')}"  # noqa: E731
        return (
            f"list_transform(list_slice({s}, 1, len({s}) - 2), (w0, ixv) -> "
            f"({whash_sql('w0')} + 31 * {wh_at('ixv + 1')} "
            f"+ 961 * {wh_at('ixv + 2')}) % {P})"
        )
    s = f"split({text_col}, ' ')"
    wh_at = lambda idx: f"{whash_sql(f'element_at({s}, {idx})')}"  # noqa: E731
    # spark lambda index is 0-based; element_at is 1-based
    return (
        f"transform(slice({s}, 1, size({s}) - 2), (w0, ixv) -> "
        f"({whash_sql('w0')} + 31 * {wh_at('ixv + 2')} "
        f"+ 961 * {wh_at('ixv + 3')}) % {P})"
    )


def minhash_sig_sql(d: Dialect, sh_arr: str, j: int) -> str:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return d.arr_min(d.transform(sh_arr, "h", f"({a} * h + {b}) % {P}"))


def simhash_sql(d: Dialect, wh_arr: str) -> str:
    """16-bit simhash: bit j set iff sum over words of ±1 (by bit j of
    whash) is > 0."""
    parts = []
    for j in range(SIMHASH_BITS):
        bit = d.band(d.shr("h", j), "1")
        s = d.arr_sum(d.transform(wh_arr, "h", f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END"))
        parts.append(f"(CASE WHEN ({s}) > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def simhash_bit_params(k: int) -> tuple[int, int]:
    """Deterministic (a, b) rehash params for global simhash bit k: bit k
    of the wide simhash votes on the parity of (a*wh + b) mod P, giving
    60 independent bits from a 31-bit word hash."""
    a = (2654435761 * (k + 1)) % P or 1
    b = (40503 * (k + 7)) % P
    return a, b


def simhash_bit_vote_sql(h: str, k: int) -> str:
    """±1 vote of one word hash on global bit k (dialect-independent)."""
    a, b = simhash_bit_params(k)
    return f"(CASE WHEN ((({a} * {h} + {b}) % {P}) & 1) = 1 THEN 1 ELSE -1 END)"


def simhash_band_sql(d: Dialect, wh_arr: str, band: int) -> str:
    """One 15-bit band of the wide simhash from a word-hash array."""
    parts = []
    for j in range(SIMHASH_BAND_BITS):
        k = band * SIMHASH_BAND_BITS + j
        s = d.arr_sum(d.transform(wh_arr, "h", simhash_bit_vote_sql("h", k)))
        parts.append(f"(CASE WHEN ({s}) > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def fingerprint_sql(d: Dialect, wh_arr: str) -> str:
    """Order-dependent document fingerprint:
    (sum_i (whash_i + (i-1)*FP_STEP) % P) % P, i 1-based."""
    # idxvar must not collide with any other token in the body (the spark
    # dialect rewrites it textually to 0-based)
    terms = d.transform_idx(wh_arr, "h", "ixv", f"(h + (ixv - 1) * {FP_STEP}) % {P}")
    return f"({d.arr_sum(terms)} % {P})"


def token_count_sql(d: Dialect, text_col: str) -> str:
    return f"CAST({d.size(d.split(text_col))} AS BIGINT)"


def stopword_count_sql(d: Dialect, text_col: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"CAST({d.size(d.arr_filter(d.split(text_col), 'w', f'w IN ({lst})'))} AS BIGINT)"


def bpe_word_units_sql(word_expr: str) -> str:
    """BPE-ish subword units of ONE word: ceil(len/4) — the standard
    ~4-chars-per-token estimate of a trained BPE tokenizer, as pure
    integer arithmetic.  (An actual regex alternation over the full
    text measured 7x the whole feature query's cost in Java regex —
    the arithmetic form rides the word explode the features already
    pay for, zero extra passes.)  Identical in both dialects: integer
    floor-div via (len + 3) / 4 with explicit CAST."""
    return f"CAST(FLOOR((LENGTH({word_expr}) + 3) / 4.0) AS BIGINT)"


def bpe_count_sql(d: Dialect, text_col: str) -> str:
    """Whole-text BPE-ish token count: sum of per-word ceil(len/4)."""
    units = d.transform(d.split(text_col), "w", bpe_word_units_sql("w"))
    return f"CAST({d.arr_sum(units)} AS BIGINT)"


def lang_id_sql(d: Dialect, text_col: str) -> str:
    """Stopword-ratio heuristic language id: >= 15% English stopwords
    -> 'en' else 'other'.  (A real n-gram model plugs in the same way.)"""
    sw = stopword_count_sql(d, text_col)
    tok = token_count_sql(d, text_col)
    return f"(CASE WHEN CAST({sw} AS DOUBLE) / {tok} >= 0.15 THEN 'en' ELSE 'other' END)"


def quality_score_sql(d: Dialect, text_col: str) -> str:
    """Deterministic quality score from length / token stats:
    tokens, mean word length, and a stopword-ratio factor combined into
    one double.  Identical IEEE arithmetic in both engines."""
    tok = token_count_sql(d, text_col)
    sw = stopword_count_sql(d, text_col)
    chars = f"CAST(length({text_col}) AS DOUBLE)"
    return (
        f"(CAST({tok} AS DOUBLE) / ({chars} + 1.0)"
        f" + CAST({sw} AS DOUBLE) / ({tok} + 1.0))"
    )


def lsh_band_sql(sig_cols: list[str], band: int) -> str:
    """Band value: Horner fold of BAND_R adjacent signatures mod P.

    With r=4 rows per band the candidate curve is
    P(pair) = 1 - (1 - j^4)^4 — the standard ~0.55-Jaccard knee —
    instead of the r=2 curve that fires from j~0.3 (too permissive at
    corpus scale).  Every intermediate stays < P * 1000003 < 2^52, so
    the identical expression is overflow-safe in Spark and DuckDB; a
    band-value collision only ever ADDS a candidate pair."""
    acc = sig_cols[BAND_R * band]
    for s in sig_cols[BAND_R * band + 1 : BAND_R * (band + 1)]:
        acc = f"((({acc}) * 1000003 + {s}) % {P})"
    return f"CAST({acc} AS BIGINT)"
