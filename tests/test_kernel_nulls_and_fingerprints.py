"""Regression tests for round-2 kernel fixes.

1. Merging runs with UNEVENLY distributed null keys: per-run key
   matrices used to differ in width (the null-flag column existed only
   for runs containing nulls), silently misaligning packed codes.
2. Nullable int64 keys above 2^53: the float64 round trip Arrow takes
   for masked to_numpy() lost precision while still claiming exact=True.
3. Row fingerprints over tables carrying unsupported NON-key columns
   (embedding arrays, decimals, structs) must not crash run formation.
4. Resume-validation fingerprints (checkpoint_inputs=True) are
   content-sensitive past the 8-byte string prefix.
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
    row_fingerprint_table,
)


def _sort_frame(tmp_path, frame, keys, mem=64, batch=32, subdir="s", **kw):
    sorter = ExternalSorter(
        key_cols=keys,
        spill_dir=str(tmp_path / subdir),
        memory_budget_rows=mem,
        batch_rows=batch,
        **kw,
    )
    chunks = [frame.iloc[i : i + batch] for i in range(0, len(frame), batch)]
    out = list(sorter.sort(iter(chunks)))
    return pd.concat(out, ignore_index=True), sorter


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


def test_fingerprint_handles_exotic_non_key_columns():
    tbl = pa.table(
        {
            "k": pa.array([1, 2, 3], type=pa.int64()),
            "emb": pa.array(
                [[0.1, 0.2], [0.3, 0.4], [0.5, 0.6]],
                type=pa.list_(pa.float32()),
            ),
            "dec": pa.array([1, 2, 3]).cast(pa.decimal128(21, 2)),
            "st": pa.array(
                [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}, {"a": 3, "b": "z"}]
            ),
        }
    )
    f1 = row_fingerprint_table(tbl)
    # content-sensitive in the list column
    tbl2 = tbl.set_column(
        1,
        "emb",
        pa.array([[0.1, 0.2], [0.3, 0.9], [0.5, 0.6]], type=pa.list_(pa.float32())),
    )
    assert f1 != row_fingerprint_table(tbl2)
    # batching-invariant
    halves = row_fingerprint_table(tbl.slice(0, 2)) ^ row_fingerprint_table(
        tbl.slice(2)
    )
    assert f1 == halves


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


def test_full_fingerprint_sees_past_prefix():
    a = pa.table({"s": pa.array(["prefix00" + "A" * 20])})
    b = pa.table({"s": pa.array(["prefix00" + "B" * 20])})
    # fast mode is prefix+length only: cannot tell these apart
    assert row_fingerprint_table(a) == row_fingerprint_table(b)
    assert row_fingerprint_table(a, full=True) != row_fingerprint_table(b, full=True)


def test_checkpoint_resume_invalidates_on_deep_content_change(tmp_path):
    """A committed checkpoint must NOT replay when input changed past
    byte 8 of a string column (checkpoint_inputs=True -> full
    fingerprints)."""
    n = 120
    mk = lambda tag: pd.DataFrame(  # noqa: E731
        {
            "k": np.arange(n) % 13,
            "s": [f"prefix00-{tag}-{i:04d}" for i in range(n)],
        }
    )
    df1 = mk("aaaa")
    out1, s1 = _sort_frame(
        tmp_path, df1, ["k"], mem=32, batch=16, subdir="ck", checkpoint_inputs=True
    )
    assert not s1.metrics.resumed
    # identical input resumes
    out2, s2 = _sort_frame(
        tmp_path, df1, ["k"], mem=32, batch=16, subdir="ck", checkpoint_inputs=True
    )
    assert s2.metrics.resumed
    pd.testing.assert_frame_equal(out1, out2)
    # changed content (same prefixes, same lengths) must NOT resume
    df3 = mk("bbbb")
    out3, s3 = _sort_frame(
        tmp_path, df3, ["k"], mem=32, batch=16, subdir="ck", checkpoint_inputs=True
    )
    assert not s3.metrics.resumed
    assert set(out3["s"]) == set(df3["s"])


def test_fingerprint_batching_invariance_with_nulls():
    """The null-flag component must mix unconditionally: a row's hash
    cannot depend on whether its batch-mates happen to include a null
    (that broke xor-fold invariance and falsely invalidated resumes)."""
    for full in (False, True):
        t = pa.table(
            {"x": pa.array(["a", None, "b"]), "k": pa.array([1, 2, None])}
        )
        whole = row_fingerprint_table(t, full=full)
        split = row_fingerprint_table(t.slice(0, 1), full=full) ^ row_fingerprint_table(
            t.slice(1), full=full
        )
        assert whole == split
        t2 = pa.table(
            {"x": pa.array(["a", None, "c"]), "k": pa.array([1, 2, None])}
        )
        assert row_fingerprint_table(t2, full=full) != whole
