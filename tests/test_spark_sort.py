"""Spark-level external sort: equivalence with orderBy, witness invariants,
lineage metrics, salting, checkpoint/resume at the DataFrame level."""

import datetime
import decimal
import math
import os

import pytest
from pyspark.sql import functions as F

from external_merge_sort_loser_tree_ovc_spark.operators.sort import (
    _identity_shuffle_keys,
    _murmur3_long,
    _SortMetricsParam,
    external_sort_df,
    salted_repartition_by_range,
    sort_metrics,
)
from external_merge_sort_loser_tree_ovc_spark.operators.witness import (
    assert_globally_sorted,
    sortedness_report,
    witness_summary,
)

KEYS = ["l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber"]


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _mixed_key_frame(spark):
    """(string, int, date) keys with NULLs in every key column and
    non-ASCII strings.  "\uffff" sorts before "\U0001F600" in UTF-8 byte
    order (Spark's) but after it in UTF-16 order."""
    words = ["a", "b", "\uffff", "\U0001F600", "\u00e9", None, "zz", ""]
    rows = [
        (
            words[i % len(words)],
            None if i % 11 == 0 else (i * 7919) % 53,
            None if i % 13 == 0 else datetime.date(2020, 1, 1 + i % 17),
            i,
        )
        for i in range(3000)
    ]
    return spark.createDataFrame(rows, "s string, k int, d date, v bigint")


def test_external_sort_matches_orderby(spark, lineitem):
    for df, keys in ((lineitem, KEYS), (_mixed_key_frame(spark), ["s", "k", "d"])):
        ours = external_sort_df(
            df, keys, num_partitions=4, memory_budget_rows=2000, batch_rows=500
        )
        theirs = df.orderBy(*keys)
        a = [tuple(r) for r in ours.select(*keys).collect()]
        b = [tuple(r) for r in theirs.select(*keys).collect()]
        assert a == b


@pytest.mark.parametrize("partitions", [1, 2])
def test_float_keys_match_orderby(spark, partitions):
    """NaN of either sign sorts after +inf and NULLs first, as in orderBy;
    the kernel used to sort NaN as 0.0.  A tight budget makes it merge."""
    nan = float("nan")
    vals = [2.0, nan, -1.0, None, -nan, 0.0, -0.0, float("inf"), 0.5,
            float("-inf"), None, -2.0, 3.0, nan]
    df = spark.createDataFrame([(v,) for v in vals], "k double")
    ours = external_sort_df(
        df, ["k"], num_partitions=partitions, memory_budget_rows=4, batch_rows=2
    )

    def canon(frame):
        return ["nan" if r.k is not None and math.isnan(r.k) else r.k
                for r in frame.collect()]

    assert canon(ours) == canon(df.orderBy("k"))


def test_witness_invariants_roundtrip(spark, lineitem):
    """Reference Witness contract: count + parity in == out, output has
    zero inversions (Witness.cpp:39-63)."""
    before = witness_summary(lineitem)
    out = external_sort_df(
        lineitem, KEYS, num_partitions=4, memory_budget_rows=2000, batch_rows=500
    )
    out.cache()
    try:
        after = witness_summary(out)
        assert after == before
        rep = assert_globally_sorted(out, ["l_returnflag", "l_linestatus", "l_orderkey"])
        assert rep.rows.sum() == before["rows"]
    finally:
        out.unpersist()


def test_decimal_double_keys_match_orderby(spark):
    """(decimal(38,2), double) keys with NaN, NULL and a 21-digit decimal
    sort like orderBy: decimals take exact rank codes, so the double
    after a decimal tie still puts NaN after +inf.  The tight budget
    makes every partition merge."""
    nan, inf = float("nan"), float("inf")
    D = decimal.Decimal
    big = D("123456789012345678901.25")
    rows = [(D("1.50"), nan), (None, 2.0), (big, 1.0), (D("1.50"), 0.5),
            (D("-3.00"), nan), (big, nan), (D("1.50"), None), (-big, -1.0),
            (D("0.00"), inf), (None, nan), (D("-3.00"), -2.0), (D("1.50"), inf),
            (big, -inf), (D("1.51"), 0.0)]
    df = spark.createDataFrame(rows, "d decimal(38,2), x double")
    ours = external_sort_df(
        df, ["d", "x"], num_partitions=2, memory_budget_rows=4, batch_rows=2
    )

    def canon(frame):
        return [(r.d, "nan" if r.x is not None and math.isnan(r.x) else r.x)
                for r in frame.collect()]

    assert canon(ours) == canon(df.orderBy("d", "x"))


@pytest.mark.parametrize("kind", ["struct", "array"])
def test_key_without_code_rejected_at_plan_build(spark, kind):
    """A key type the kernel has no code for raises TypeError when
    external_sort_df is called, before any Spark job runs."""
    sc = spark.sparkContext
    df = spark.range(4).select(
        (F.struct(F.col("id").alias("a")) if kind == "struct"
         else F.array(F.col("id"))).alias("k"),
        "id",
    )
    group = f"emsort-key-check-{kind}"
    sc.setJobGroup(group, "key type check")
    try:
        with pytest.raises(TypeError, match="no sort code for key type"):
            external_sort_df(df, ["k"], num_partitions=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "vals, ddl",
    [([1, None, 2], "k bigint"),
     ([float("nan"), 1.0, 2.0], "k double"),
     (["a", None, "b"], "k string")],
    ids=["bigint_null", "double_nan", "string_null"],
)
def test_witness_counts_key_code_inversions(spark, vals, ddl):
    """The witness compares Spark's order: NULL first, NaN after every
    number.  Each input has exactly one row below its predecessor."""
    df = spark.createDataFrame([(v,) for v in vals], ddl).coalesce(1)
    rep = sortedness_report(df, ["k"])
    assert int(rep.inversions.sum()) == 1
    with pytest.raises(AssertionError, match="inversions found"):
        assert_globally_sorted(df, ["k"])


def test_witness_boundaries_compare_typed_keys(spark):
    """Sorted bigints whose decimal strings are out of order across a
    partition boundary ('9999' > '10000') pass without boundary_types."""
    df = spark.range(9998, 10002, numPartitions=2)
    rep = assert_globally_sorted(df, ["id"])
    assert list(rep.rows) == [2, 2]


def test_witness_rejects_partitions_out_of_order(spark):
    """Two internally sorted partitions in the wrong order fail the
    boundary check, not the per-partition inversion count."""
    df = spark.range(20, numPartitions=2).select(
        ((F.col("id") + 10) % 20).alias("id")  # partitions hold 10..19, 0..9
    )
    assert int(sortedness_report(df, ["id"]).inversions.sum()) == 0
    with pytest.raises(AssertionError, match="partition boundary out of order"):
        assert_globally_sorted(df, ["id"])


@pytest.mark.parametrize("checkpointed", [True, False], ids=["checkpoint_dir", "none"])
def test_lineage_metrics(spark, lineitem, tmp_path, checkpointed):
    """Every sort reports per-partition metrics through its accumulator,
    checkpointed or not; nothing is written beside the checkpoint."""
    ck = str(tmp_path / "ck") if checkpointed else None
    out = external_sort_df(
        lineitem,
        KEYS,
        num_partitions=2,
        memory_budget_rows=2000,
        batch_rows=500,
        checkpoint_dir=ck,
    )
    n = out.count()
    assert n == lineitem.count()
    lin = sort_metrics(out)
    assert len(lin) == 2
    assert sum(m["rows_in"] for m in lin) == n
    assert all(m["runs_formed"] >= 1 for m in lin)
    assert [m["partition_id"] for m in lin] == [0, 1]
    assert set(lin[0]) >= {
        "rows_in",
        "runs_formed",
        "fan_in",
        "initial_fan_in",
        "depth",
        "passes",
        "spill_rows",
        "partition_id",
    }
    if checkpointed:
        assert not os.path.exists(os.path.join(ck, "_metrics"))
    with pytest.raises(ValueError):
        sort_metrics(lineitem)


@pytest.mark.parametrize("order", [(0, 1), (1, 0)], ids=["retry_last", "retry_first"])
def test_sort_metrics_keep_latest_attempt(order):
    """A retried task's record replaces the failed attempt's, in either
    arrival order, so a partition is counted once."""
    param = _SortMetricsParam()
    recs = {a: {0: {"partition_id": 0, "attempt": a, "rows_in": 10 + a}} for a in (0, 1)}
    acc = param.zero({})
    for a in order:
        acc = param.addInPlace(acc, recs[a])
    assert acc == recs[1]


def test_salted_repartition_splits_hot_key(spark):
    """A hot leading key spans >1 partition when a second key column
    varies within it (skew handling), and no row is lost."""
    df = spark.range(0, 20000).withColumn("cell", F.lit(42)).withColumn(
        "payload", F.col("id") % 100
    )
    parted = salted_repartition_by_range(df, ["cell", "id"], num_partitions=8)
    sizes = parted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    nonempty = [r for r in sizes if r["count"] > 0]
    assert len(nonempty) > 1, "hot key should split across partitions"
    assert sum(r["count"] for r in sizes) == 20000
    assert parted.columns == df.columns


def test_job_level_resume(spark, lineitem, tmp_path):
    """north_rule resumability: a re-run over the same checkpoint dir
    replays committed runs (resumed=True in every partition's lineage)
    instead of re-sorting.  Deterministic hash partitioning stands in
    for a task retry with identical input; the sort's own range shuffle
    must be just as reproducible."""
    ckpt = str(tmp_path / "resume-ckpt")
    df = lineitem.repartition(4, F.col("l_orderkey"))
    keys = ["l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber"]

    out1 = external_sort_df(df, keys, checkpoint_dir=ckpt, skip_shuffle=True)
    n1 = out1.count()
    resumed1 = [m["resumed"] for m in sort_metrics(out1)]
    assert not any(resumed1)

    out2 = external_sort_df(df, keys, checkpoint_dir=ckpt, skip_shuffle=True)
    n2 = out2.count()
    resumed2 = [m["resumed"] for m in sort_metrics(out2)]
    assert n1 == n2 == lineitem.count()
    assert all(resumed2), f"expected all partitions resumed: {resumed2}"

    ck = str(tmp_path / "resume-shuffle")
    for _ in range(2):
        out = external_sort_df(lineitem, keys, num_partitions=4, checkpoint_dir=ck)
        out.count()
    resumed = [m["resumed"] for m in sort_metrics(out)]
    assert all(resumed), f"expected all partitions resumed: {resumed}"


def test_salted_repartition_nulls_first_partition(spark):
    """NULL keys must land in partition 0 (the kernel sorts nulls FIRST
    within a partition, so nulls-first global order holds across
    partition ids — repartitionByRange semantics)."""
    import pandas as pd

    pdf = pd.DataFrame({"k": [None, 5, None, 100, 7, None, 950, 12, 600, 300] * 40,
                        "v": range(400)})
    df = spark.createDataFrame(pdf.astype({"k": "Int64"}))
    parted = salted_repartition_by_range(df, ["k"], num_partitions=4)
    dist = (
        parted.withColumn("pid", F.spark_partition_id())
        .filter(F.col("k").isNull())
        .select("pid")
        .distinct()
        .collect()
    )
    assert {r["pid"] for r in dist} == {0}
    # global nulls-first sortedness through the kernel: zero inversions
    # inside every partition, and partition key-ranges non-overlapping
    # in partition-id order with all nulls in partition 0
    from external_merge_sort_loser_tree_ovc_spark.operators.sort import external_sort_df
    from external_merge_sort_loser_tree_ovc_spark.operators.witness import (
        sortedness_report,
    )

    out = external_sort_df(parted, ["k"], skip_shuffle=True)
    rep = sortedness_report(out, ["k"])
    assert int(rep.inversions.sum()) == 0
    ranges = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"),
             F.sum(F.col("k").isNull().cast("int")).alias("nulls"))
        .orderBy("pid")
        .collect()
    )
    assert all(r["nulls"] == 0 for r in ranges if r["pid"] != 0)
    nonempty = [r for r in ranges if r["lo"] is not None]
    for a, b in zip(nonempty, nonempty[1:]):
        assert a["hi"] <= b["lo"] + 0  # ranges ordered by partition id


def test_identity_shuffle_keys_match_spark_hash(spark):
    """The pure-Python Murmur3 equals F.hash on edge BIGINTs, and the
    preimage table makes repartition(n, x) put bucket t in partition t."""
    ids = [0, 1, -1, 42, 2**31 - 1, -(2**31), 2**32, 2**32 - 1, 2**63 - 1,
           -(2**63), 12345678901234, -987654321]
    df = spark.createDataFrame([(x,) for x in ids], "x bigint")
    got = df.select(
        "x", F.hash("x").alias("h"), F.pmod(F.hash("x"), F.lit(7)).alias("t")
    ).collect()
    assert all(r["h"] == _murmur3_long(r["x"]) for r in got)
    assert all(r["t"] == _murmur3_long(r["x"]) % 7 for r in got)
    for n in (2, 3, 8, 16):
        xs = _identity_shuffle_keys(n)
        placed = (
            spark.createDataFrame(list(enumerate(xs)), "t int, x bigint")
            .repartition(n, "x")
            .select("t", F.spark_partition_id().alias("p"))
            .collect()
        )
        assert sorted((r["t"], r["p"]) for r in placed) == [(t, t) for t in range(n)]
