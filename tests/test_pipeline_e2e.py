"""End-to-end flagship pipeline + Spark-native page generator tests."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from external_merge_sort_loser_tree_ovc_spark.plans.pipeline import flagship_pipeline
from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages


def test_synth_pages_deterministic(spark):
    """byte-identical text per url across regenerations — the
    input_hint per-row invariant."""
    a = synth_pages(spark, 2000, seed=7).select("url", "text", "html").toPandas()
    b = synth_pages(spark, 2000, seed=7).select("url", "text", "html").toPandas()
    a = a.sort_values("url", ignore_index=True)
    b = b.sort_values("url", ignore_index=True)
    assert (a.url == b.url).all()
    assert (a.text == b.text).all()
    assert all(bytes(x) == bytes(y) for x, y in zip(a.html, b.html))
    assert a.url.is_unique


def test_synth_pages_schema_and_ranges(spark):
    df = synth_pages(spark, 500)
    assert [f.name for f in df.schema.fields] == [
        "page_id", "url", "warc_ts", "html", "text", "lang", "lat", "lon",
    ]
    pdf = df.select("lat", "lon").toPandas()
    assert pdf.lat.between(-90, 90).all()
    assert pdf.lon.between(-180, 180).all()


def test_synth_pages_hotcell(spark):
    pdf = synth_pages(spark, 2000, scenario="geo_hotcell").toPandas()
    hot = ((pdf.lat - 48.8566).abs() < 1e-9) & ((pdf.lon - 2.3522).abs() < 1e-9)
    assert hot.mean() >= 0.45


@pytest.mark.parametrize("scenario", ["geo_uniform", "geo_hotcell"])
def test_flagship_pipeline(spark, scenario, monkeypatch):
    """Full pipeline at small scale: witness holds (asserted inside),
    the sorted frame is globally ordered on its whole key (morton, urlh)
    across partitions, PIP hits match a brute-force check, comparisons
    counted."""
    import external_merge_sort_loser_tree_ovc_spark.plans.pipeline as P
    from external_merge_sort_loser_tree_ovc_spark.operators.witness import (
        assert_globally_sorted,
    )

    checked = []
    pip_join = P.pip_join

    def checking_pip_join(sorted_df, *a, **kw):
        # the flagship hands the local checkpoint of its sorted frame
        # to pip_join
        assert_globally_sorted(sorted_df, ["morton", "urlh"])
        checked.append(True)
        return pip_join(sorted_df, *a, **kw)

    monkeypatch.setattr(P, "pip_join", checking_pip_join)
    pages = synth_pages(spark, 20000, scenario=scenario)
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = set(jsc.getPersistentRDDs().keys())
    m = flagship_pipeline(
        spark, pages, num_partitions=8, memory_budget_rows=1024
    )
    # both local checkpoints are released on return
    assert set(jsc.getPersistentRDDs().keys()) == before
    assert checked == [True]
    assert m["n_pages"] == 20000
    assert m["n_tiles"] > 0
    assert m["ovc_compares"] > 0
    assert m["spill_rows"] > 0
    # brute-force PIP check
    from external_merge_sort_loser_tree_ovc_spark.spatial.pip import default_polygons

    pdf = pages.select("lat", "lon").toPandas()
    for p in default_polygons():
        expect = int(p.contains(pdf.lon.to_numpy(), pdf.lat.to_numpy()).sum())
        got = m["pip_hits"].get(p.poly_id, 0)
        assert got == expect, f"poly {p.poly_id}: {got} != {expect}"


def test_flagship_raises_on_witness_mismatch(spark, monkeypatch):
    """The in==out witness check raises explicitly (it survives
    ``python -O``) when the sorted output's parity differs."""
    import external_merge_sort_loser_tree_ovc_spark.plans.pipeline as P

    calls = []
    witness_summary = P.witness_summary

    def skewed_witness(df, cols=None):
        w = dict(witness_summary(df, cols))
        calls.append(w)
        if len(calls) == 2:  # the output side
            w["parity"] ^= 1
        return w

    monkeypatch.setattr(P, "witness_summary", skewed_witness)
    pages = synth_pages(spark, 2000)
    with pytest.raises(AssertionError, match="witness violated"):
        flagship_pipeline(spark, pages, num_partitions=2, memory_budget_rows=512)
    assert len(calls) == 2


def test_flagship_releases_checkpoints_on_raise(spark, monkeypatch):
    """Under the ``test_flagship_raises_on_witness_mismatch`` setup the
    input and output local checkpoints are still released: the set of
    persistent RDDs is the one before the call."""
    import external_merge_sort_loser_tree_ovc_spark.plans.pipeline as P

    calls = []
    witness_summary = P.witness_summary

    def skewed_witness(df, cols=None):
        w = dict(witness_summary(df, cols))
        calls.append(w)
        if len(calls) == 2:  # the output side
            w["parity"] ^= 1
        return w

    monkeypatch.setattr(P, "witness_summary", skewed_witness)
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    pages = synth_pages(spark, 2000)
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(AssertionError, match="witness violated"):
        flagship_pipeline(spark, pages, num_partitions=2, memory_budget_rows=512)
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_salted_partition_splits_hot_cell(spark):
    """north_rule skew handling: partitioned on the flagship key
    (morton, urlh), the hot cell's rows end up in >1 partition;
    partition sizes stay bounded."""
    from external_merge_sort_loser_tree_ovc_spark.operators.sort import (
        salted_repartition_by_range,
    )
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import with_grid, with_morton

    pages = synth_pages(spark, 20000, scenario="geo_hotcell")
    enc = with_morton(with_grid(pages, "lat", "lon", 12)).withColumn(
        "urlh", F.shiftrightunsigned(F.xxhash64("url"), 24)
    )
    parted = salted_repartition_by_range(
        enc, ["morton", "urlh"], num_partitions=8
    )
    dist = (
        parted.withColumn("pid", F.spark_partition_id())
        .filter((F.col("lat") - 48.8566).cast("double") ** 2 < 1e-12)
        .groupBy("pid")
        .count()
        .toPandas()
    )
    assert len(dist) >= 2, "hot cell not split across partitions"
    assert dist["count"].max() < 20000 * 0.9


def test_catalog_read_pages_fallback(spark, tmp_path):
    from external_merge_sort_loser_tree_ovc_spark.sources.catalog import (
        PAGE_COLUMNS,
        read_pages,
    )

    p = str(tmp_path / "pages.parquet")
    synth_pages(spark, 300).write.parquet(p)
    df = read_pages(spark, p, columns=PAGE_COLUMNS)
    assert df.columns == PAGE_COLUMNS
    assert df.count() == 300


def test_catalog_iceberg_branch_logic(spark, monkeypatch):
    """No Iceberg jars exist in this sandbox (no network), so exercise
    the branch logic itself: with availability mocked True, read_pages
    must route a catalog identifier to the iceberg reader (and pass the
    snapshot-id through), and still route filesystem paths to parquet."""
    from external_merge_sort_loser_tree_ovc_spark.sources import catalog as C

    calls = {}

    class FakeReader:
        def __init__(self):
            self.opts = {}

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self, ident):
            calls["ident"] = ident
            calls["opts"] = dict(self.opts)
            return spark.range(1).selectExpr(
                "CAST('u' AS STRING) url",
                "CAST(NULL AS TIMESTAMP) warc_ts",
                "CAST(NULL AS BINARY) html",
                "CAST('t' AS STRING) text",
                "CAST('en' AS STRING) lang",
            )

    class FakeFormat:
        def format(self, name):
            calls["format"] = name
            return FakeReader()

    monkeypatch.setattr(C, "iceberg_available", lambda s: True)

    class _Spark:
        read = FakeFormat()

    df = C.read_pages(_Spark(), "warehouse.cc.pages", snapshot_id=42,
                      columns=["url", "text"])
    assert calls["format"] == "iceberg"
    assert calls["ident"] == "warehouse.cc.pages"
    assert calls["opts"] == {"snapshot-id": "42"}
    assert df.columns == ["url", "text"]


def test_flagship_resumes_from_external_checkpoint(spark, tmp_path):
    """north_rule resumability at the JOB level: a second run with the
    same --checkpoint dir replays every partition's committed runs
    (fingerprint-verified) and produces identical outputs."""
    ck = str(tmp_path / "ck")
    pages = synth_pages(spark, 12000, seed=3)
    m1 = flagship_pipeline(
        spark, pages, num_partitions=4, checkpoint_dir=ck,
        memory_budget_rows=1024,
    )
    assert m1["partitions_resumed"] == 0
    m2 = flagship_pipeline(
        spark, pages, num_partitions=4, checkpoint_dir=ck,
        memory_budget_rows=1024,
    )
    # every NON-EMPTY partition resumes (an empty partition commits no
    # runs — nothing to replay, recompute costs zero)
    assert m2["partitions_resumed"] >= 3
    assert m2["n_pages"] == m1["n_pages"] == 12000
    assert m2["pip_hits"] == m1["pip_hits"]
    assert m2["n_tiles"] == m1["n_tiles"]
    # changed input with the same checkpoint dir must NOT replay
    m3 = flagship_pipeline(
        spark, synth_pages(spark, 12000, seed=4), num_partitions=4,
        checkpoint_dir=str(tmp_path / "ck"), memory_budget_rows=1024,
    )
    assert m3["partitions_resumed"] == 0
