"""Regression tests for round-2 kernel fixes.

1. Merging runs with UNEVENLY distributed null keys: per-run key
   matrices used to differ in width (the null-flag column existed only
   for runs containing nulls), silently misaligning packed codes.
2. Nullable int64 keys above 2^53: the float64 round trip Arrow takes
   for masked to_numpy() lost precision while still claiming exact=True.
3. Checkpointed sorts of frames carrying non-key list, decimal and
   struct columns resume only on identical content.
4. The resume fingerprint, folded from the row-hash column that
   ``external_sort_df`` adds, sees string content past the 8-byte
   prefix, NULL placement, and rows that occur an even number of times.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import (
    ExternalSorter,
    _merge_order,
)
from external_merge_sort_loser_tree_ovc_spark.kernel.keys_arrow import (
    normalize_arrow_column,
)
from external_merge_sort_loser_tree_ovc_spark.operators.sort import (
    external_sort_df,
    sort_metrics,
)


def _sort_frame(
    tmp_path, frame, keys, mem=64, batch=32, subdir="s", with_row_hash=None, **kw
):
    sorter = ExternalSorter(
        key_cols=keys,
        spill_dir=str(tmp_path / subdir),
        memory_budget_rows=mem,
        batch_rows=batch,
        **kw,
    )
    chunks = [frame.iloc[i : i + batch] for i in range(0, len(frame), batch)]
    if with_row_hash is not None:
        chunks = [with_row_hash(c) for c in chunks]
    out = list(sorter.sort(iter(chunks)))
    return pd.concat(out, ignore_index=True), sorter


def _checkpointed_sort(spark, rows, schema, ck, keys=("k",)):
    """One-partition checkpointed ``external_sort_df``: (resumed flags,
    sorted rows as tuples)."""
    df = spark.createDataFrame(rows, schema).coalesce(1)
    out = external_sort_df(df, list(keys), checkpoint_dir=ck, skip_shuffle=True)
    got = [tuple(r) for r in out.collect()]
    return [m["resumed"] for m in sort_metrics(out)], got


def test_merge_runs_with_uneven_nulls(tmp_path):
    # run 1 all-null keys, runs 2..n no nulls: widths must stay aligned
    rng = np.random.default_rng(7)
    n = 300
    vals = rng.integers(0, 50, n).astype("float64")
    vals[:90] = np.nan  # first chunks -> first run carries every null
    df = pd.DataFrame({"k": pd.array(
        [None if np.isnan(v) else int(v) for v in vals], dtype="Int64"
    ), "payload": np.arange(n)})
    got, sorter = _sort_frame(tmp_path, df, ["k"], mem=64, batch=32)
    assert sorter.metrics.runs_formed > 2  # actually exercised the merge
    exp = df.sort_values("k", na_position="first", kind="stable").reset_index(
        drop=True
    )
    pd.testing.assert_series_equal(got["k"], exp["k"])
    # equal keys: payload set per key must survive
    assert sorted(got["payload"]) == sorted(exp["payload"])


def test_merge_tables_null_flag_width_direct():
    t_null = pa.table({"k": pa.array([None, 1, 2], type=pa.int64())})
    t_clean = pa.table({"k": pa.array([0, 3, 5], type=pa.int64())})
    idx = _merge_order([t_null, t_clean], ["k"])
    merged = pa.concat_tables([t_null, t_clean]).take(pa.array(idx))
    assert merged.column("k").to_pylist() == [None, 0, 1, 2, 3, 5]


def test_nullable_int64_keys_above_2_53(tmp_path):
    base = 1 << 60
    # consecutive huge ints are indistinguishable after a float64 round trip
    ks = [base + 3, base + 1, None, base + 2, base + 0]
    df = pd.DataFrame({"k": pd.array(ks, dtype="Int64"), "i": range(5)})
    got, _ = _sort_frame(tmp_path, df, ["k"], mem=2, batch=2)
    assert got["k"].tolist()[1:] == [base, base + 1, base + 2, base + 3]
    assert pd.isna(got["k"].iloc[0])


def test_normalize_nullable_bool_and_timestamp():
    b = pa.chunked_array([pa.array([True, None, False])])
    nk = normalize_arrow_column(b)
    assert nk.codes.dtype == np.uint64 and nk.isnull is not None
    ts = pa.chunked_array(
        [pa.array([1_700_000_000_000_000, None], type=pa.timestamp("us"))]
    )
    nk2 = normalize_arrow_column(ts)
    assert nk2.codes.dtype == np.uint64 and nk2.isnull[1]


def test_fingerprint_handles_exotic_non_key_columns(spark, tmp_path):
    """A checkpointed sort of a frame with list, decimal and struct
    columns sorts, replays identical input, and refuses to replay after
    one list element changes.  A map column cannot be hashed, so a
    checkpointed sort of it fails when the plan is built."""
    from decimal import Decimal

    schema = "k bigint, emb array<float>, dec decimal(21,2), st struct<a:int,b:string>"
    rows = [
        (3, [0.75, 4.0], Decimal("3.00"), (3, "z")),
        (1, [0.5, 0.25], Decimal("1.00"), (1, "x")),
        (2, [1.5, 2.0], Decimal("2.00"), (2, "y")),
    ]
    ck = str(tmp_path / "ck")
    assert _checkpointed_sort(spark, rows, schema, ck) == ([False], sorted(rows))
    assert _checkpointed_sort(spark, rows, schema, ck) == ([True], sorted(rows))
    changed = [rows[0], rows[1], (2, [1.5, 8.0], Decimal("2.00"), (2, "y"))]
    assert _checkpointed_sort(spark, changed, schema, ck) == ([False], sorted(changed))

    maps = spark.createDataFrame([(1, {"a": 1})], "k bigint, m map<string,int>")
    assert external_sort_df(maps, ["k"], skip_shuffle=True).count() == 1
    with pytest.raises(Exception, match="HASH_MAP_TYPE"):
        external_sort_df(maps, ["k"], checkpoint_dir=str(tmp_path / "m"), skip_shuffle=True)


def test_sort_table_with_embedding_column_does_not_crash(tmp_path):
    n = 200
    rng = np.random.default_rng(3)
    df = pd.DataFrame(
        {
            "k": rng.integers(0, 1000, n),
            "emb": [rng.random(4).astype("float32") for _ in range(n)],
        }
    )
    got, sorter = _sort_frame(tmp_path, df, ["k"], mem=64, batch=32)
    assert sorter.metrics.runs_formed > 1
    assert got["k"].is_monotonic_increasing


def test_full_fingerprint_sees_past_prefix(spark, tmp_path):
    """Spark's row hash reads whole strings: a checkpointed
    ``external_sort_df`` does not replay over strings that changed past
    byte 8 at the same length."""
    ck = str(tmp_path / "ck")
    a = [(i % 3, f"prefix00-{'A' * 20}-{i}") for i in range(6)]
    b = [(i % 3, f"prefix00-{'B' * 20}-{i}") for i in range(6)]
    assert _checkpointed_sort(spark, a, "k int, s string", ck, ("k", "s")) == (
        [False], sorted(a)
    )
    assert _checkpointed_sort(spark, b, "k int, s string", ck, ("k", "s")) == (
        [False], sorted(b)
    )


def test_checkpoint_resume_invalidates_on_deep_content_change(tmp_path, with_row_hash):
    """A committed checkpoint must NOT replay when input changed past
    byte 8 of a string column: the fingerprint folds whole-row hashes."""
    n = 120
    mk = lambda tag: pd.DataFrame(  # noqa: E731
        {
            "k": np.arange(n) % 13,
            "s": [f"prefix00-{tag}-{i:04d}" for i in range(n)],
        }
    )
    df1 = mk("aaaa")
    out1, s1 = _sort_frame(
        tmp_path, df1, ["k"], mem=32, batch=16, subdir="ck", checkpoint_inputs=True,
        with_row_hash=with_row_hash,
    )
    assert not s1.metrics.resumed
    # identical input resumes
    out2, s2 = _sort_frame(
        tmp_path, df1, ["k"], mem=32, batch=16, subdir="ck", checkpoint_inputs=True,
        with_row_hash=with_row_hash,
    )
    assert s2.metrics.resumed
    pd.testing.assert_frame_equal(out1, out2)
    # changed content (same prefixes, same lengths) must NOT resume
    df3 = mk("bbbb")
    out3, s3 = _sort_frame(
        tmp_path, df3, ["k"], mem=32, batch=16, subdir="ck", checkpoint_inputs=True,
        with_row_hash=with_row_hash,
    )
    assert not s3.metrics.resumed
    assert set(out3["s"]) == set(df3["s"])


def test_fingerprint_batching_invariance_with_nulls(tmp_path, with_row_hash):
    """The same rows, NULLs included, fed in different batch splits
    replay; one changed value does not."""
    frame = pd.DataFrame(
        {"x": ["a", None, "b", "c"], "k": pd.array([1, 2, None, 4], dtype="Int64")}
    )

    def run(frame, splits):
        sorter = ExternalSorter(
            key_cols=["k"], spill_dir=str(tmp_path / "ck"), memory_budget_rows=4,
            batch_rows=2, checkpoint_inputs=True,
        )
        chunks = [with_row_hash(frame.iloc[a:b]) for a, b in zip(splits, splits[1:])]
        out = pd.concat(list(sorter.sort(iter(chunks))), ignore_index=True)
        return sorter.metrics.resumed, out

    resumed, whole = run(frame, [0, 4])
    assert not resumed
    resumed, split = run(frame, [0, 1, 3, 4])
    assert resumed
    pd.testing.assert_frame_equal(split, whole)
    changed = frame.assign(x=["a", None, "b", "d"])
    resumed, out = run(changed, [0, 1, 3, 4])
    assert not resumed
    assert out["x"].tolist() == ["b", "a", None, "d"]  # sorted by k, NULL first


PAIRED = ([2, 1, 2, 1, 3, 3, 4, 4], [9, 8, 9, 8, 7, 7, 6, 6])


@pytest.mark.parametrize("via", ["kernel", "external_sort_df"])
def test_resume_rejects_paired_duplicates(request, tmp_path, via):
    """Every row of these inputs occurs twice, so an XOR of row hashes
    folds to 0 for both; the second must not replay the first's
    checkpoint."""
    ck = str(tmp_path / "ck")
    if via == "kernel":
        with_row_hash = request.getfixturevalue("with_row_hash")

        def run(vals):
            sorter = ExternalSorter(
                key_cols=["k"], spill_dir=ck, memory_budget_rows=4, batch_rows=2,
                checkpoint_inputs=True,
            )
            chunk = with_row_hash(pd.DataFrame({"k": vals}))
            out = pd.concat(list(sorter.sort([chunk])), ignore_index=True)
            return [sorter.metrics.resumed], out["k"].tolist()
    else:
        spark = request.getfixturevalue("spark")

        def run(vals):
            resumed, got = _checkpointed_sort(spark, [(v,) for v in vals], "k bigint", ck)
            return resumed, [r[0] for r in got]

    assert run(PAIRED[0]) == ([False], [1, 1, 2, 2, 3, 3, 4, 4])
    assert run(PAIRED[1]) == ([False], [6, 6, 7, 7, 8, 8, 9, 9])


def test_resume_sees_null_placement(spark, tmp_path):
    """Spark's hash skips NULLs, so (k, NULL, 'x') and (k, 'x', NULL)
    hash alike unless the row hash also folds isnull flags."""
    ck = str(tmp_path / "ck")
    schema = "k bigint, a string, b string"
    first = [(k, None, "x") for k in range(6)]
    second = [(k, "x", None) for k in range(6)]
    assert _checkpointed_sort(spark, first, schema, ck) == ([False], first)
    assert _checkpointed_sort(spark, first, schema, ck) == ([True], first)
    assert _checkpointed_sort(spark, second, schema, ck) == ([False], second)
