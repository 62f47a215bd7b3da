"""Tests of the benchmark itself (not collected by the repo's tests/ suite).

    python -m pytest perfbench/tests -q

The smoke tests start fresh Spark sessions (~20-30 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc, proc.stdout.strip().splitlines()


def _processes_in(cwd: str) -> list[str]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if os.readlink(f"/proc/{pid}/cwd") == cwd:
                pids.append(pid)
        except OSError:
            pass
    return pids


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_tiny_workload(workload):
    proc, lines = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--tiny")
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(lines[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, lines
    assert set(res["metrics"]) == {k for k, _ in run.END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    # sessions run in the work dir; none of their processes (driver, JVM,
    # pyspark's worker daemon) may outlive the benchmark
    assert _processes_in(os.path.realpath(os.path.join(ROOT, ".perfbench_work"))) == []


def test_smoke_tiny_traced_sort():
    args = ("--workload", "geo_sort_uniform", "--seed", "3", "--seconds", "1",
            "--trace", "1", "--tiny")
    runs = [json.loads(_bench(*args)[1][-1]) for _ in range(2)]
    for res in runs:
        assert res["correct"], res
        assert set(res["metrics"]) == set(tracing.PER_LAYER)
        # layers explain part of the job; the root's own time is the rest
        assert 0.0 < res["metrics"]["trace.accounted_frac"]["value"] < 1.0
    # kernel and partitioner counters repeat exactly
    for k in ("kernel.runs_formed", "kernel.spill_rows", "kernel.ovc_compares",
              "kernel.col_compares", "sort.partition_skew", "pip.candidates"):
        assert runs[0]["metrics"][k] == runs[1]["metrics"][k], k
    assert runs[0]["metrics"]["kernel.spill_rows"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    """In a tree holding only the benchmark, it exits non-zero and prints
    no result line."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc, lines = _bench("--workload", "spatial_join", "--seed", "1", "--seconds", "1",
                         "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in lines)


def _sorted_lineitem(tmp_path):
    data, oracle = inputs.prepare(
        {"kind": "lineitem", "scenario": "tpch", "size": 0.001}, 5,
        str(tmp_path / "data"), str(tmp_path / "base"),
    )
    import pyarrow.parquet as pq

    from external_merge_sort_loser_tree_ovc_spark.queries import SORT_KEYS

    table = pq.read_table(os.path.join(data, "lineitem.parquet"))
    order = pc.sort_indices(table, [(k, "ascending") for k in SORT_KEYS])
    return table.take(order), oracle, SORT_KEYS


def test_dropped_row_and_swapped_pair_both_fail(tmp_path):
    from external_merge_sort_loser_tree_ovc_spark.queries import PARITY_TERMS

    table, oracle, keys = _sorted_lineitem(tmp_path)

    def outputs(t):
        return checks.summarize_sorted(t, keys, PARITY_TERMS)

    assert checks.check("lineitem", outputs(table), oracle, None) == []
    dropped = pa.concat_tables([table.slice(0, 100), table.slice(101)])
    # an adjacent pair with distinct keys, swapped
    i = next(i for i in range(table.num_rows - 1)
             if table.slice(i, 1).select(keys).to_pylist()
             != table.slice(i + 1, 1).select(keys).to_pylist())
    idx = list(range(table.num_rows))
    idx[i], idx[i + 1] = idx[i + 1], idx[i]
    swapped = table.take(pa.array(idx))
    bad = [checks.check("lineitem", outputs(t), oracle, None) for t in (dropped, swapped)]
    assert sum(bool(b) for b in bad) == 2, bad
    assert any(b.startswith("rows") for b in bad[0])
    assert any(b.startswith("inversions") for b in bad[1])


def test_geo_counter_drift_fails():
    oracle = {"n_pages": 10, "pip_hits": {"1": 2}, "n_tiles": 3}
    out = {"n_pages": 10, "pip_hits": {"1": 2}, "n_tiles": 3, "spill_rows": 10,
           "runs_formed": 4, "merge_passes_max": 2, "ovc_compares": 30, "col_compares": 0}
    ref = {c: out[c] for c in checks.COUNTERS}
    assert checks.check("geo_sort", out, oracle, ref) == []
    assert checks.check("geo_sort", dict(out, ovc_compares=31), oracle, ref)
    assert checks.check("geo_sort", dict(out, n_pages=9), oracle, ref)


def test_counter_reference_is_per_program_version(tmp_path):
    pkg = tmp_path / run.PACKAGE
    pkg.mkdir()
    (pkg / "kernel.py").write_text("A = 1\n")
    old = run.package_digest(str(tmp_path))
    assert run.package_digest(str(tmp_path)) == old
    (pkg / "kernel.py").write_text("A = 2\n")
    new = run.package_digest(str(tmp_path))
    assert new != old
    data = tmp_path / "data"
    data.mkdir()
    (data / f"counters-{old}.json").write_text(json.dumps({"runs_formed": 36}))
    path, others = run.counter_references(str(data), new)
    # another version's counters are a reference to compare, not to check
    assert path == str(data / f"counters-{new}.json")
    assert others == {old: {"runs_formed": 36}}


def test_pip_oracle_matches_package_polygons():
    import numpy as np

    from external_merge_sort_loser_tree_ovc_spark.spatial.pip import default_polygons

    polys = {p.poly_id: list(zip(p.vx.tolist(), p.vy.tolist())) for p in default_polygons()}
    assert polys == inputs.POLYGONS
    lon = np.linspace(-130, 80, 2001)
    lat = np.linspace(-20, 70, 2001)
    for p in default_polygons():
        assert (inputs.ray_cast(inputs.POLYGONS[p.poly_id], lon, lat)
                == p.contains(lon, lat)).all()


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == tracing.PER_LAYER
