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
5. Float keys sort like Spark: NaN of either sign after +inf.  Exact
   mode keeps NULLs of a whole-row integer key, and an all-NULL string
   key sorts.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import (
    ExternalSorter,
    _merge_order,
)
from external_merge_sort_loser_tree_ovc_spark.kernel.keys import (
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
    codes, isnull = normalize_arrow_column(b)
    assert codes.dtype == np.uint64 and isnull is not None
    ts = pa.chunked_array(
        [pa.array([1_700_000_000_000_000, None], type=pa.timestamp("us"))]
    )
    codes2, isnull2 = normalize_arrow_column(ts)
    assert codes2.dtype == np.uint64 and isnull2[1]


def _sort_arrow(tmp_path, tbl, keys, mode, mem=4, batch=2):
    """Sort an Arrow table under a budget that forms many runs and merges
    them in intermediate passes (B = 2)."""
    sorter = ExternalSorter(
        key_cols=keys,
        spill_dir=str(tmp_path / "s"),
        memory_budget_rows=mem,
        batch_rows=batch,
        mode=mode,
    )
    pages = (tbl.slice(i, batch) for i in range(0, tbl.num_rows, batch))
    return pa.concat_tables(list(sorter.sort_tables(pages))), sorter


def _nan_as_str(xs):
    return ["nan" if isinstance(x, float) and np.isnan(x) else x for x in xs]


@pytest.mark.parametrize("mode", ["fast", "exact"])
def test_nan_keys_sort_after_inf(tmp_path, mode):
    """NaN of either sign sorts after +inf (Spark's order), NULLs first;
    NaN used to take the code of 0.0."""
    vals = [2.0, np.nan, -1.0, None, np.copysign(np.nan, -1.0), 0.0, -0.0,
            np.inf, -np.inf, 0.5, None, -2.0, 3.0] * 3
    tbl = pa.table({"k": pa.array(vals, pa.float64()), "i": range(len(vals))})
    out, sorter = _sort_arrow(tmp_path, tbl, ["k"], mode)
    assert sorter.metrics.passes > 2  # intermediate merges ran
    nulls = [v for v in vals if v is None]
    nans = [v for v in vals if v is not None and np.isnan(v)]
    rest = sorted(v for v in vals if v is not None and not np.isnan(v))
    assert _nan_as_str(out.column("k").to_pylist()) == _nan_as_str(
        nulls + rest + nans
    )


def test_exact_mode_whole_row_int_key_keeps_nulls(tmp_path):
    """A whole-row integer key with NULLs takes the tree that gathers the
    Arrow rows; rebuilding rows from the int64 matrix turned every NULL
    into INT64_MIN."""
    tbl = pa.table({
        "a": pa.array([5, None, 3, 1, None, 4, 2, 7], pa.int64()),
        "b": pa.array(range(1, 9), pa.int64()),
    })
    out, sorter = _sort_arrow(tmp_path, tbl, ["a", "b"], "exact")
    assert out.column("a").to_pylist() == [None, None, 1, 2, 3, 4, 5, 7]
    assert out.column("b").to_pylist() == [2, 5, 4, 7, 3, 6, 1, 8]
    assert sorter.metrics.ovc_compares > 0


@pytest.mark.parametrize("mode", ["fast", "exact"])
def test_all_null_string_key(tmp_path, mode):
    """An all-NULL string column has an empty dictionary; its rank codes
    used to index it out of bounds."""
    tbl = pa.table({
        "s": pa.array([None] * 6, pa.string()),
        "i": pa.array([3, 1, 2, 6, 5, 4], pa.int64()),
    })
    out, _ = _sort_arrow(tmp_path, tbl, ["s", "i"], mode)
    assert out.column("i").to_pylist() == [1, 2, 3, 4, 5, 6]


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
