"""Spark-native deterministic web-page table generator.

The Iceberg Common-Crawl table stand-in (BASELINE.json input_hint
schema: url, warc_ts, html, text, lang + derived lat/lon geocode).
Generated entirely with built-in column expressions over
``spark.range`` — distributed, seeded, no Python, no external data —
so the scaling benchmark can synthesize millions of rows in seconds
and every regeneration is byte-identical per url (the input_hint
per-row invariant).

Scenarios mirror the reference's duplicate-key tests mapped onto
geography (FIXTURES.md §B): geo_uniform / geo_hotcell (>=50% of pages
on one coordinate — the hot-cell split test) / geo_sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_WORDS = (
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


def _mix(col, salt: int):
    """Deterministic 63-bit nonneg hash of a long column (xxhash64)."""
    return F.abs(F.xxhash64(col, F.lit(salt)))


def synth_pages(
    spark: SparkSession,
    n: int,
    *,
    seed: int = 42,
    scenario: str = "geo_uniform",
    n_words: int = 40,
    parallelism: int | None = None,
) -> DataFrame:
    """n synthetic pages: (page_id, url, warc_ts, html, text, lang,
    lat, lon).  One narrow stage — no shuffle, no Python."""
    rng = spark.range(0, n, 1, parallelism or spark.sparkContext.defaultParallelism)
    h = _mix(F.col("id"), seed)
    host = h % F.lit(max(1, n // 10))
    url = F.concat(
        F.lit("https://host"), host.cast("string"), F.lit(".example/p"),
        F.col("id").cast("string"),
    )
    ts = F.timestamp_seconds(F.lit(1735689600) + (h % F.lit(86400 * 365)))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ["en", "de", "fr", "es", "zh", "ru", "pt", "ja"]]),
        ((h % 8) + 1).cast("int"),
    )
    vocab = F.array(*[F.lit(w) for w in _WORDS])
    wlen = (F.lit(5) + _mix(F.col("id"), seed + 1) % F.lit(max(1, n_words - 4))).cast("int")
    base = _mix(F.col("id"), seed + 2)
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), wlen - 1),
            lambda i: F.element_at(
                vocab, ((base + i.cast("bigint") * 7919) % len(_WORDS) + 1).cast("int")
            ),
        ),
        " ",
    )
    lat = (h % 1_600_000).cast("double") / 10000.0 - 80.0
    lon = ((F.shiftright(h, 21) % 3_600_000).cast("double")) / 10000.0 - 180.0
    if scenario == "geo_hotcell":
        hot = (h % 2) == 0
        lat = F.when(hot, F.lit(48.8566)).otherwise(lat)
        lon = F.when(hot, F.lit(2.3522)).otherwise(lon)
    df = rng.select(
        F.col("id").alias("page_id"),
        url.alias("url"),
        ts.alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "utf-8"
        ).alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        lat.alias("lat"),
        lon.alias("lon"),
    )
    if scenario == "geo_sorted":
        df = df.orderBy("lat", "lon")
    return df
