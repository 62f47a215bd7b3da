"""ExternalSorter tests: metric formulas (W/B/X/depth, reference
Sort.cpp:75-100), spill accounting, graceful internal→external degradation
(reference DRAM.cpp:75-134 / Test2), checkpoint resume, fast & exact modes."""

import math

import numpy as np
import pandas as pd
import pytest

from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import ExternalSorter
from external_merge_sort_loser_tree_ovc_spark.kernel.planner import (
    initial_fan_in,
    merge_depth,
)
from external_merge_sort_loser_tree_ovc_spark.sources.fixtures import kernel_frame


def run_sort(tmp_path, frame, key_cols, mem, batch, mode="fast", subdir="s"):
    sorter = ExternalSorter(
        key_cols=key_cols,
        spill_dir=str(tmp_path / subdir),
        memory_budget_rows=mem,
        batch_rows=batch,
        mode=mode,
    )
    chunks = [frame.iloc[i : i + batch] for i in range(0, len(frame), batch)]
    out = list(sorter.sort(iter(chunks)))
    result = pd.concat(out, ignore_index=True) if out else frame.iloc[0:0]
    return result, sorter.metrics


def assert_sorted(df, key_cols):
    if len(df) < 2:
        return
    mat = df[key_cols].to_numpy()
    prev = mat[:-1]
    cur = mat[1:]
    # lexicographic non-decreasing
    k = mat.shape[1]
    ok = np.zeros(len(cur), dtype=bool)
    decided = np.zeros(len(cur), dtype=bool)
    for j in range(k):
        lt = (prev[:, j] < cur[:, j]) & ~decided
        gt = (prev[:, j] > cur[:, j]) & ~decided
        ok |= lt
        decided |= lt | gt
    ok |= ~decided  # fully equal
    assert ok.all(), "output not lexicographically sorted"


def parity(df):
    """Reference witness parity: xor over (col_i << i) (Witness.cpp:47),
    order-independent."""
    p = 0
    arr = df.to_numpy(dtype=np.int64)
    for i in range(arr.shape[1]):
        col = arr[:, i] << min(i, 32)
        p ^= int(np.bitwise_xor.reduce(col)) if len(col) else 0
    return p


@pytest.mark.parametrize(
    "n,mem,batch",
    [
        (40000, 2000, 400),   # t0: multi-pass merge
        (2300, 110, 10),      # t1: W=23,B=10,X=5
        (22000, 20500, 500),  # t2: graceful, spill ~ I-M
        (15000, 20500, 500),  # t3: in-memory
        (0, 2000, 400),       # t4
        (1, 2000, 400),       # t5
    ],
)
def test_external_sort_scenarios(tmp_path, n, mem, batch):
    frame = kernel_frame(n, 4, 7, 0, seed=11)
    out, m = run_sort(tmp_path, frame, list(frame.columns), mem, batch)
    assert len(out) == n == m.rows_in
    assert parity(out) == parity(frame)
    assert_sorted(out, list(frame.columns))
    if n and n <= mem:
        assert m.spill_rows == 0, "in-memory sort must not spill"
    if n > mem:
        w, b = m.runs_formed, m.fan_in
        assert m.initial_fan_in == initial_fan_in(w, b)
        assert m.depth == merge_depth(w, b)


def test_graceful_degradation_spill_bound(tmp_path):
    """Reference Test2: input slightly exceeds memory — only the overflow
    spills (spill ≈ I − M), because the tail run stays in memory."""
    n, mem, batch = 22000, 20500, 500
    frame = kernel_frame(n, 4, 7, 0, seed=5)
    out, m = run_sort(tmp_path, frame, list(frame.columns), mem, batch)
    assert len(out) == n
    # tail stays in memory: spilled rows = rows in the one full buffer
    assert m.spill_rows == mem - batch
    assert m.spill_rows <= n


def test_spill_versus_passes_bound(tmp_path):
    """README.md:7-8 cost claim: total spill ≲ passes × I."""
    n, mem, batch = 40000, 2000, 400
    frame = kernel_frame(n, 4, 7, 0, seed=13)
    out, m = run_sort(tmp_path, frame, list(frame.columns), mem, batch)
    assert m.spill_rows <= m.passes * n


def test_exact_mode_counts_comparisons(tmp_path):
    n, mem, batch = 8000, 1000, 100
    frame = kernel_frame(n, 4, 10, 0, seed=17)
    out, m = run_sort(tmp_path, frame, list(frame.columns), mem, batch, mode="exact")
    assert len(out) == n
    assert_sorted(out, list(frame.columns))
    assert m.ovc_compares > 0
    # loser tree: ~log2(B) ovc compares per pop on the final merge
    assert m.ovc_compares <= len(out) * (math.ceil(math.log2(m.fan_in + 1)) + 2)
    # OVC savings: column comparisons well under naive 4/compare
    assert m.col_compares < 4 * m.ovc_compares


def _ck_sorter(tmp_path, frame, mem, batch):
    return ExternalSorter(
        key_cols=list(frame.columns),
        spill_dir=str(tmp_path / "ck"),
        memory_budget_rows=mem,
        batch_rows=batch,
        checkpoint_inputs=True,
    )


def _chunks(frame, batch, with_row_hash):
    """``frame`` in ``batch``-row chunks carrying the row-hash column."""
    return iter(
        [with_row_hash(frame.iloc[i : i + batch]) for i in range(0, len(frame), batch)]
    )


def test_checkpoint_resume_verified(tmp_path, with_row_hash):
    """Verified resume: identical re-fed input -> replay committed runs
    (merge passes skipped); the manifest fingerprint gates it."""
    n, mem, batch = 12000, 1000, 200
    frame = kernel_frame(n, 4, 7, 0, seed=23)
    s1 = _ck_sorter(tmp_path, frame, mem, batch)
    out1 = pd.concat(list(s1.sort(_chunks(frame, batch, with_row_hash))), ignore_index=True)
    assert not s1.metrics.resumed
    assert list(out1.columns) == list(frame.columns)  # the hash column is dropped

    s2 = _ck_sorter(tmp_path, frame, mem, batch)
    out2 = pd.concat(list(s2.sort(_chunks(frame, batch, with_row_hash))), ignore_index=True)
    assert s2.metrics.resumed
    pd.testing.assert_frame_equal(out1, out2)
    assert_sorted(out2, list(frame.columns))


def test_checkpoint_rejects_changed_input(tmp_path, with_row_hash):
    """If the re-fed input differs (nondeterministic upstream
    partitioning), the stale checkpoint must NOT replay — the kernel
    recomputes from the new input."""
    n, mem, batch = 6000, 1000, 200
    frame1 = kernel_frame(n, 4, 7, 0, seed=31)
    s1 = _ck_sorter(tmp_path, frame1, mem, batch)
    pd.concat(list(s1.sort(_chunks(frame1, batch, with_row_hash))), ignore_index=True)

    frame2 = kernel_frame(n - 500, 4, 7, 0, seed=32)
    s2 = ExternalSorter(
        key_cols=list(frame2.columns),
        spill_dir=str(tmp_path / "ck"),
        memory_budget_rows=mem,
        batch_rows=batch,
        checkpoint_inputs=True,
    )
    out2 = pd.concat(list(s2.sort(_chunks(frame2, batch, with_row_hash))), ignore_index=True)
    assert not s2.metrics.resumed
    assert len(out2) == n - 500
    exp = frame2.sort_values(list(frame2.columns), kind="stable", ignore_index=True)
    pd.testing.assert_frame_equal(
        out2.sort_values(list(out2.columns), ignore_index=True),
        exp.sort_values(list(exp.columns), ignore_index=True),
    )
    # and a third run with frame2 again DOES resume from the new manifest
    s3 = _ck_sorter(tmp_path, frame2, mem, batch)
    out3 = pd.concat(list(s3.sort(_chunks(frame2, batch, with_row_hash))), ignore_index=True)
    assert s3.metrics.resumed
    assert_sorted(out3, list(frame2.columns))


def test_string_keys(tmp_path):
    rng = np.random.default_rng(3)
    words = ["alpha", "Beta", "gamma", "ALPHA", "zeta", "η-eta", "", "alphaa"]
    frame = pd.DataFrame(
        {
            "s": rng.choice(words, size=5000),
            "v": rng.integers(0, 100, size=5000),
        }
    )
    out, m = run_sort(tmp_path, frame, ["s", "v"], 1000, 100)
    exp = frame.sort_values(["s", "v"], kind="stable", ignore_index=True)
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True), exp, check_dtype=False
    )


def test_planner_static_schedule():
    # reference Test1 geometry: W=23 runs, fan-in B=10.  The sorter's
    # own X-first schedule is pinned by test_kernel_metric_parity.
    assert initial_fan_in(23, 10) == 5  # (23-2) % 9 + 2
    assert merge_depth(23, 10) == 3  # 1 + ceil(log_10 23)


def test_fast_mode_production_merge_counters(tmp_path):
    """Round-3: fast-mode comparison counters come from the ONE
    production packed merge (vmerge.merge2_compare_counts), not a shadow
    exact sort.  Deterministic geometry -> pinned counts."""
    n, mem, batch = 8000, 1000, 100
    frame = kernel_frame(n, 4, 10, 0, seed=17)
    out, m = run_sort(tmp_path, frame, list(frame.columns), mem, batch, mode="fast")
    assert len(out) == n
    assert_sorted(out, list(frame.columns))
    assert m.mode == "fast"
    assert m.ovc_compares > 0
    # tournament of pairwise merges: <= ceil(log2 W) compares/row total
    assert m.ovc_compares + m.col_compares <= n * math.ceil(math.log2(m.runs_formed))
    # same input, same geometry -> identical counters (determinism)
    out2, m2 = run_sort(
        tmp_path, frame, list(frame.columns), mem, batch, mode="fast", subdir="s2"
    )
    assert (m2.ovc_compares, m2.col_compares) == (m.ovc_compares, m.col_compares)


def test_exact_mode_string_keys_counts(tmp_path):
    """Round-3 gap #3 closed: exact (counted loser-tree) mode now covers
    string-keyed schemas via order-preserving global rank codes; counts
    are nonzero and pinned (the reference-style instrumentation no
    longer silently vanishes on string keys)."""
    rng = np.random.default_rng(11)
    words = ["alpha", "Beta", "gamma", "ALPHA", "zeta", "eta", "", "alphaa"]
    frame = pd.DataFrame(
        {
            "s": rng.choice(words, size=6000),
            "v": rng.integers(0, 50, size=6000).astype(np.int64),
        }
    )
    out, m = run_sort(tmp_path, frame, ["s", "v"], 800, 100, mode="exact")
    assert m.mode == "exact"
    exp = frame.sort_values(["s", "v"], kind="stable", ignore_index=True)
    # multiset equality + sortedness (tie order: deterministic global
    # index, not run order — documented in _final_exact_merge)
    pd.testing.assert_frame_equal(
        out.sort_values(["s", "v"], kind="stable", ignore_index=True),
        exp,
        check_dtype=False,
    )
    assert_sorted(out.assign(s=out.s.map(lambda x: x.encode())), ["s"])
    assert m.ovc_compares > 0
    assert m.col_compares >= 0
    # pinned: deterministic fixture + geometry => exact counter parity
    # across refactors (update ONLY with an explained kernel change)
    assert (m.ovc_compares, m.col_compares) == (PIN_STR_EXACT_OVC, PIN_STR_EXACT_COL)


PIN_STR_EXACT_OVC = 17606
PIN_STR_EXACT_COL = 1959


def test_decimal_keys_take_rank_codes(tmp_path):
    """A decimal KEY column sorts through dense-rank key codes, exact at
    its precision, like a string key."""
    from decimal import Decimal

    rng = np.random.default_rng(9)
    vals = [Decimal(int(v)) / 100 for v in rng.integers(-10_000, 10_000, 3000)]
    frame = pd.DataFrame({"d": vals, "v": rng.integers(0, 100, 3000)})
    out, m = run_sort(tmp_path, frame, ["d", "v"], 500, 100)
    assert len(out) == 3000
    exp = frame.sort_values(["d", "v"], kind="stable", ignore_index=True)
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True), exp, check_dtype=False
    )


@pytest.mark.parametrize("kind", ["list", "struct"])
def test_key_matrix_rejects_nested_keys(kind):
    """A key type with no code raises TypeError naming the type; there
    is no second sort order to fall back to."""
    import pyarrow as pa

    from external_merge_sort_loser_tree_ovc_spark.kernel.keys import key_matrix_table

    col = (pa.array([[2, 1], [1]]) if kind == "list"
           else pa.array([{"a": 2}, {"a": 1}]))
    tbl = pa.table({"k": col, "v": [0, 1]})
    with pytest.raises(TypeError, match=kind):
        key_matrix_table(tbl, ["v", "k"])


def test_all_null_key_chunks(tmp_path):
    """A pandas chunk whose key column is all None arrives as a
    null-typed Arrow column: its rows code as NULL and sort first."""
    frame = pd.DataFrame({
        "k": [None] * 200 + [f"s{v:03d}" for v in range(200, 0, -1)],
        "v": range(400),
    })
    out, _ = run_sort(tmp_path, frame, ["k"], 120, 40)
    assert out["k"][:200].isna().all()
    assert out["k"][200:].tolist() == [f"s{v:03d}" for v in range(1, 201)]


def test_exact_mode_subset_keys_sorted(tmp_path):
    """r3 review fix: exact mode with key_cols a SUBSET (or reordering)
    of the schema must sort by the keys only — the whole-row tree would
    assume payload order the runs don't have."""
    rng = np.random.default_rng(21)
    frame = pd.DataFrame(
        {
            "payload": [f"p{v}" for v in rng.integers(0, 1000, 4000)],
            "k": rng.integers(0, 40, 4000),
        }
    )
    out, m = run_sort(tmp_path, frame, ["k"], 600, 100, mode="exact")
    assert m.mode == "exact"
    assert (np.diff(out["k"].to_numpy()) >= 0).all(), "not sorted by k"
    # multiset preserved
    assert sorted(out["payload"]) == sorted(frame["payload"])
    assert m.ovc_compares > 0


# -- bounded-memory merge: key-only order, payload gathered page by page -------


def _arrow_sort(tbl, keys, mem, batch, step=None, **kw):
    """Sort ``tbl`` with the kernel from ``step``-row input batches; the
    output tables and the sorter."""
    import pyarrow as pa

    sorter = ExternalSorter(
        key_cols=keys,
        memory_budget_rows=mem,
        batch_rows=batch,
        **kw,
    )
    step = step or batch
    batches = (tbl.slice(i, step) for i in range(0, tbl.num_rows, step))
    return pa.concat_tables(list(sorter.sort_tables(batches))), sorter


@pytest.mark.parametrize("checkpoint", [False, True])
@pytest.mark.parametrize("batch", [500, 1000])  # 1000: W > B, intermediate pass
def test_merge_memory_bounded_by_pages(tmp_path, batch, checkpoint):
    """No merge materializes the partition: the Arrow pool peak while the
    sorted output streams stays under half the input's size (a merge that
    gathered whole runs held about twice the input)."""
    import pyarrow as pa

    n = 100_000
    rng = np.random.default_rng(41)
    pad = "x" * 110
    tbl = pa.table({
        "k": pa.array(rng.permutation(n).astype(np.int64)),
        "text": pa.array([f"{pad}{i:010d}" for i in range(n)]),
    })
    sorter = ExternalSorter(
        key_cols=["k"], spill_dir=str(tmp_path / "s"), memory_budget_rows=10_000,
        batch_rows=batch, checkpoint_inputs=checkpoint,
    )
    base = pa.total_allocated_bytes()
    peak, rows, last = 0, 0, -1
    batches = (tbl.slice(i, 5000) for i in range(0, n, 5000))
    for out in sorter.sort_tables(batches):
        peak = max(peak, pa.total_allocated_bytes() - base)
        k = out.column("k").to_numpy()
        assert k[0] >= last and (np.diff(k) >= 0).all()
        last = k[-1]
        rows += out.num_rows
        del out
    assert rows == n
    assert (sorter.metrics.passes > 2) == (batch == 1000)
    assert peak < 0.5 * tbl.nbytes, (peak, tbl.nbytes)


def _order_path_table(path, n, rng):
    import decimal

    import pyarrow as pa

    ids = rng.permutation(n).astype(np.int64)
    if path == "packed":
        return pa.table({"a": rng.integers(0, 50, n), "id": ids}), ["a", "id"]
    if path == "matrix":
        full = np.iinfo(np.int64)
        return pa.table({
            "a": rng.integers(full.min, full.max, n, dtype=np.int64),
            "b": rng.integers(full.min, full.max, n, dtype=np.int64),
            "id": ids,
        }), ["a", "b"]
    if path == "string":
        words = np.array(["", "alpha", "alphaa", "Beta", "η-eta", "zeta-long-word"])
        return pa.table({"s": rng.choice(words, n), "id": ids}), ["s", "id"]
    if path == "decimal":
        vals = [decimal.Decimal(int(v)).scaleb(-2) for v in ids - n // 2]
        return pa.table({"d": pa.array(vals, pa.decimal128(12, 2)), "id": ids}), ["d"]
    # NULL keys only in the first third of the input, so in the first runs
    k = pa.array(
        [None if i < n // 3 and i % 3 else int(v) for i, v in enumerate(ids % 97)],
        pa.int64(),
    )
    return pa.table({"k": k, "id": ids}), ["k", "id"]


@pytest.mark.parametrize("checkpoint", [False, True])
@pytest.mark.parametrize("path", ["packed", "matrix", "string", "decimal", "nulls"])
def test_streamed_gather_order_paths(tmp_path, path, checkpoint):
    """Every merge-order path (packed codes, full-width key matrix,
    string ranks, decimal ranks, uneven NULLs), through
    intermediate and final merges with W > B, matches a stable Arrow
    sort row for row, payload included."""
    import pyarrow.compute as pc

    rng = np.random.default_rng(sum(map(ord, path)))
    tbl, keys = _order_path_table(path, 6000, rng)
    out, sorter = _arrow_sort(
        tbl, keys, 600, 100, step=350, spill_dir=str(tmp_path / "s"),
        emit_rows=256, checkpoint_inputs=checkpoint,
    )
    m = sorter.metrics
    assert m.runs_formed > m.fan_in and m.passes > 2
    want = tbl.take(pc.sort_indices(
        tbl, sort_keys=[(c, "ascending") for c in keys], null_placement="at_start"
    ))
    assert out.equals(want)
    counted = m.ovc_compares + m.col_compares > 0
    assert counted == (path in ("packed", "string", "decimal", "nulls"))


def test_resume_from_single_batch_runs(tmp_path, with_row_hash):
    """A checkpoint whose runs are one record batch each (the layout
    before runs were paged) still replays: page cursors assume no page
    size."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from external_merge_sort_loser_tree_ovc_spark.kernel.runs import RunStore

    n, mem, batch = 6000, 1000, 100
    frame = kernel_frame(n, 4, 7, 0, seed=37)
    s1 = _ck_sorter(tmp_path, frame, mem, batch)
    out1 = pd.concat(list(s1.sort(_chunks(frame, batch, with_row_hash))), ignore_index=True)
    store, doc = RunStore.load(str(tmp_path / "ck"))
    # the manifest records (rows, XOR, wrapping sum) of the row hashes
    h = with_row_hash(frame).iloc[:, -1].to_numpy().view(np.uint64)
    xor, total = np.bitwise_xor.reduce(h), h.sum(dtype=np.uint64)
    assert doc["fingerprint"] == f"{n}:{int(xor):016x}:{int(total):016x}"
    assert len(store.runs) > 1
    for r in store.runs:
        with ipc.open_file(pa.OSFile(r.path)) as f:
            assert f.num_record_batches > 1
            tbl = f.read_all().combine_chunks()
        with ipc.new_file(r.path, tbl.schema) as w:
            w.write_batch(tbl.to_batches()[0])
        with ipc.open_file(pa.OSFile(r.path)) as f:
            assert f.num_record_batches == 1

    s2 = _ck_sorter(tmp_path, frame, mem, batch)
    out2 = pd.concat(list(s2.sort(_chunks(frame, batch, with_row_hash))), ignore_index=True)
    assert s2.metrics.resumed
    pd.testing.assert_frame_equal(out1, out2)


def test_merge_unifies_run_schemas(tmp_path):
    """Runs formed from all-NULL pandas chunks carry a null-typed column;
    every emitted slice still has the promoted schema, even a slice drawn
    from such runs alone."""
    import pyarrow as pa

    n = 400
    rng = np.random.default_rng(1)
    frame = pd.DataFrame({  # the NULL rows: 6 whole chunks, the smallest keys
        "k": np.concatenate([rng.permutation(192), 192 + rng.permutation(208)]),
        "p": [None] * 192 + [f"v{i}" for i in range(208)],
    })
    sorter = ExternalSorter(
        key_cols=["k"], spill_dir=str(tmp_path / "s"), memory_budget_rows=64,
        batch_rows=32, emit_rows=16,
    )
    outs = list(sorter.sort_tables(
        pa.Table.from_pandas(frame.iloc[i : i + 32], preserve_index=False)
        for i in range(0, n, 32)
    ))
    assert {o.schema.field("p").type for o in outs} == {pa.string()}
    got = pa.concat_tables(outs).to_pandas()
    pd.testing.assert_frame_equal(got, frame.sort_values("k", ignore_index=True))
