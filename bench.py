#!/usr/bin/env python
"""Benchmark harness.

Default: runs the headline queries from the registry plus the flagship
geospatial pipeline at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line:

  {"metric": ..., "value": <total headline sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "pages_per_sec": ...,
   "merge_comparisons_per_sec": ...}

Scaling mode (north_rule evidence — no real cluster in this sandbox):

  python bench.py --scaling 8,32 --pages 2000000

re-runs the flagship pipeline in fresh subprocesses at local[8] and
local[32] on the SAME synthesized input and reports throughput at both
plus efficiency = (T_small * N_small) / (T_big * N_big).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "q_sort_lineitem",
    "q_cell_counts",
    "q_pip_join",
    "q_knn",
    "q_raster_tiles",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_text_features",
    "q_ann_topk",
    "q_tpch_q1",
    "q_revenue_by_nation",
    "q_window_topk",
    "q_events_sessions",
]


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    from external_merge_sort_loser_tree_ovc_spark.runtime import default_local_dir

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("emsort-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # shuffle files on fast local scratch by default: on one box, disk
        # bandwidth is the resource that does NOT multiply with cores
        # (a real cluster adds local disks with every executor) — see
        # external_merge_sort_loser_tree_ovc_spark/runtime.py
        .config("spark.local.dir", default_local_dir())
        # bandwidth-bound stages can be oversubscription-limited: with
        # task.cpus=k, local[N] runs N/k concurrent tasks, each with the
        # whole bus share of k cores.  Default 1; see the round-5
        # scaling notes in BASELINE.md for when >1 wins on one box.
        .config("spark.task.cpus", os.environ.get("SPARK_GRAFT_TASK_CPUS", "1"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def warmup(spark, sf_dir: str) -> None:
    """Warm the JVM (codegen, shuffle service), the parquet footer cache,
    and the reusable Python worker pool before any timed query — the
    first job of a fresh local session otherwise pays 5-15 s of one-time
    startup that says nothing about the engine."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).select(F.sum("id")).collect()
    if os.path.exists(f"{sf_dir}/lineitem.parquet"):
        # warm the parquet reader + shuffle; optional so --flagship-only
        # --input works on hosts without the TPCH testdata
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        li.groupBy("l_returnflag").agg(F.count(F.lit(1))).collect()

    def _ident(it):
        for b in it:
            yield b

    small = spark.range(0, 10_000, 1, CPUS).selectExpr("id")
    small.mapInArrow(_ident, small.schema).write.format("noop").mode(
        "overwrite"
    ).save()


def _materialize(df):
    df.write.format("noop").mode("overwrite").save()


def run_default() -> dict:
    from external_merge_sort_loser_tree_ovc_spark.plans.pipeline import flagship_pipeline
    from external_merge_sort_loser_tree_ovc_spark.queries import QUERIES
    from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages

    # contention stamps bracket the sweep: membw_gbps_pre/post record the
    # box's aggregate memcpy bandwidth (8 procs) at sweep start and end
    # so a slow window is attributable — idle-box reference values live
    # in BASELINE.md's membw table
    membw_pre = membw_probe()
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, SF_DIR)
    # best-of-2 per query: this box's shared vCPUs show 3-10x run-to-run
    # variance on identical plans (documented in BASELINE.md); the min of
    # two runs measures the engine, the max measures the neighbours
    times: dict[str, float] = {}
    for _ in range(2):
        for name in HEADLINE:
            t0 = time.perf_counter()
            _materialize(QUERIES[name](spark, SF_DIR))
            dt = round(time.perf_counter() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
            # release operator-internal persists (ngram gram index, LSH
            # home table, ...) outside the timed window — without this
            # a sweep accumulates one cached copy per invocation
            spark.catalog.clearCache()

    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "500000"))
    # drop DataFrame caches left by the query sweep (q_ann_lsh etc.) so
    # the flagship's own persist isn't fighting a full storage pool
    spark.catalog.clearCache()
    # best-of-2, plus a third attempt when the first two disagree by
    # >1.5x (the flagship's shuffle+spill stage shows 2-3x run-to-run
    # variance under neighbour load; one extra attempt bounds the odds
    # of recording a contended tail as the headline)
    fm = None
    attempts: list[float] = []
    for i in range(3):
        if i == 2 and max(attempts) <= 1.5 * min(attempts):
            break
        pages = synth_pages(spark, n_pages)
        t0 = time.perf_counter()
        m = flagship_pipeline(spark, pages, num_partitions=CPUS)
        dt = round(time.perf_counter() - t0, 3)
        attempts.append(dt)
        if fm is None or dt < times["flagship_pipeline"]:
            times["flagship_pipeline"] = dt
            fm = m
        spark.catalog.clearCache()

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    doc = {
        "metric": "headline query suite + flagship spatial pipeline wall time",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "flagship_pages": fm["n_pages"],
        "pages_per_sec": round(fm["pages_per_sec"], 1),
        "ovc_compares": fm.get("ovc_compares", 0),
        "col_compares": fm.get("col_compares", 0),
        "merge_comparisons_per_sec": round(fm.get("merge_comparisons_per_sec", 0.0), 1),
        "spill_rows": fm["spill_rows"],
        "runs_formed": fm["runs_formed"],
        "cpus": CPUS,
        "membw_gbps_pre": round(membw_pre, 1),
    }
    spark.stop()
    # settle before the post stamp: JVM teardown (shutdown hooks, GC,
    # executor thread joins) churns every core for several seconds and
    # reads as a fake bandwidth collapse (0.2 GB/s measured mid-
    # teardown vs 65.7 idle one minute later, same box state)
    time.sleep(10)
    doc["membw_gbps_post"] = round(membw_probe(), 1)
    return doc


def run_flagship_once(cpus: int, n_pages: int, input_path: str | None = None) -> dict:
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, SF_DIR)
    from external_merge_sort_loser_tree_ovc_spark.plans.pipeline import flagship_pipeline
    from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages

    if input_path:
        pages = spark.read.parquet(input_path)
    else:
        pages = synth_pages(spark, n_pages, parallelism=cpus)
    # partition count is a function of DATA SIZE, not core count — fixed
    # ~500k-row partitions, exactly as a real cluster sizes partitions by
    # bytes; scaling levels then run the SAME work on more/fewer cores
    n_parts = max(cpus, (n_pages + 499_999) // 500_000)
    # SPARK_GRAFT_BUDGET_ROWS pins the kernel memory budget instead of
    # the ~8-runs auto size: a tight budget forces runs >> fan-in, i.e.
    # the multi-pass deep-merge regime (the I >> M shape a 100 TB sort
    # actually runs), which is CPU-bound rather than bus-bound on this
    # box — used for the deep-regime scaling row in BASELINE.md.
    budget_env = os.environ.get("SPARK_GRAFT_BUDGET_ROWS")
    m = flagship_pipeline(
        spark,
        pages,
        num_partitions=n_parts,
        memory_budget_rows=int(budget_env) if budget_env else None,
    )
    spark.stop()
    return m


def _materialize_scaling_input(n_pages: int) -> str:
    """Write the synthesized page table to parquet ONCE so every scaling
    level reads the identical stored input — a job over an Iceberg table
    reads storage; generating data inline would time the generator."""
    path = f"/tmp/emsort-scaling-{n_pages}.parquet"
    if os.path.isdir(path):
        return path
    spark = build_spark(min(16, CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages

    synth_pages(spark, n_pages, parallelism=16).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def run_scaling(levels: list[int], n_pages: int, repeat: int = 3) -> dict:
    """Each level in a fresh subprocess (fresh JVM, honest timing), all
    reading the same materialized parquet input.  Repeated ``repeat``
    times per level, best run kept: this box is noisy (shared vCPUs),
    and best-of isolates capability from interference."""
    input_path = _materialize_scaling_input(n_pages)
    results = {}
    for cpus in levels:
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        cmd = [
            sys.executable,
            os.path.abspath(__file__),
            "--flagship-only",
            "--pages",
            str(n_pages),
            "--input",
            input_path,
        ]
        best = None
        for _ in range(repeat):
            out = subprocess.run(
                cmd, env=env, capture_output=True, text=True, check=True
            )
            m = json.loads(out.stdout.strip().splitlines()[-1])
            if best is None or m["s_sort"] < best["s_sort"]:
                best = m
        results[cpus] = best

    def job_sec(m):  # full job: scan->encode->witness->sort->pip->tiles
        return (
            m["s_encode_witness"]
            + m["s_sort"]
            + m["s_witness_out"]
            + m["s_pip"]
            + m["s_tiles"]
        )

    lo, hi = min(levels), max(levels)
    tp = {c: n_pages / job_sec(results[c]) for c in levels}
    eff = tp[hi] / (tp[lo] * (hi / lo))
    return {
        "metric": f"flagship scaling local[{lo}] -> local[{hi}]",
        "value": round(eff, 3),
        "unit": "efficiency",
        "pages": n_pages,
        "throughput_pages_per_sec": {str(c): round(tp[c], 1) for c in levels},
        "job_seconds": {str(c): round(job_sec(results[c]), 2) for c in levels},
        "sort_seconds": {str(c): round(results[c]["s_sort"], 2) for c in levels},
        "merge_comparisons_per_sec": {
            str(c): round(results[c].get("merge_comparisons_per_sec", 0.0), 1)
            for c in levels
        },
        "scaling_efficiency": round(eff, 3),
    }


_MEMBW_WORKER = r"""
import sys, numpy as np, time
dur = float(sys.argv[1]) if len(sys.argv) > 1 else 6.0
a = np.ones((1 << 23), dtype=np.float64)  # 64 MiB
b = np.empty_like(a)
t0 = time.perf_counter(); moved = 0
while time.perf_counter() - t0 < dur:
    np.copyto(b, a); moved += a.nbytes * 2
print(moved / (time.perf_counter() - t0))
"""


def membw_probe(nproc: int = 8, dur: float = 6.0) -> float:
    """One-shot contention stamp: aggregate memcpy GB/s of ``nproc``
    independent processes right now.  On an idle box this is a stable
    hardware number (see BASELINE.md membw table; keep dur=6.0 to stay
    comparable with it — short probes under-read while first-touch page
    faults amortize: 28 GB/s at 1.5 s vs 65 at 6 s, measured).  A
    materially lower reading than the table means neighbours are on the
    bus and the per-query times of that window measure contention, not
    the engine."""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _MEMBW_WORKER, str(dur)],
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(nproc)
    ]
    tot = 0.0
    for p in procs:
        out, _ = p.communicate()
        # a worker killed/starved under the very contention this probe
        # detects must degrade the stamp, not crash the benchmark
        lines = (out or "").strip().splitlines()
        if p.returncode == 0 and lines:
            try:
                tot += float(lines[-1])
            except ValueError:
                pass
    return tot / 1e9


def run_membw_scaling(levels: list[int], repeat: int = 2) -> dict:
    """Hardware attribution probe: aggregate memcpy bandwidth of N
    independent processes.  Establishes the ceiling ANY memory-bound
    stage inherits on this box (see BASELINE.md round-3 scaling) —
    a real cluster adds this per-node resource with every executor."""
    results = {}
    for nproc in levels:
        best = 0.0
        for _ in range(repeat):
            best = max(best, membw_probe(nproc))
        results[nproc] = best
    lo, hi = min(levels), max(levels)
    eff = results[hi] / (results[lo] * (hi / lo))
    return {
        "metric": f"aggregate memcpy bandwidth scaling {lo} -> {hi} procs",
        "value": round(eff, 3),
        "unit": "efficiency",
        "gb_per_sec": {str(k): round(v, 1) for k, v in results.items()},
        "scaling_efficiency": round(eff, 3),
    }


def _kernel_worker_main(rows: int, out_path: str):
    """One executor-analogue process: exact-mode kernel sort of a fixed
    seeded fixture, spill on tmpfs; writes compares+seconds JSON."""
    import tempfile

    from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import (
        ExternalSorter,
    )
    from external_merge_sort_loser_tree_ovc_spark.runtime import default_spill_root
    from external_merge_sort_loser_tree_ovc_spark.sources.fixtures import kernel_frame

    frame = kernel_frame(rows, cols=4, domain=10_000, scan_type=0, seed=7)
    batch = 4096
    with tempfile.TemporaryDirectory(dir=default_spill_root()) as d:
        sorter = ExternalSorter(
            key_cols=list(frame.columns),
            spill_dir=d,
            memory_budget_rows=rows // 16,
            batch_rows=batch,
            mode="exact",
        )
        t0 = time.perf_counter()
        chunks = (frame.iloc[i : i + batch] for i in range(0, len(frame), batch))
        for _ in sorter.sort(chunks):
            pass
        dt = time.perf_counter() - t0
    m = sorter.metrics
    with open(out_path, "w") as f:
        json.dump(
            {"compares": m.ovc_compares + m.col_compares, "sec": dt, "rows": rows},
            f,
        )


def run_kernel_scaling(levels: list[int], rows: int, repeat: int = 3) -> dict:
    """North-rule CPU evidence without Spark overheads: N independent
    kernel processes (the executor-core analogue — a real cluster adds
    whole processes with their own memory, not threads against one
    shared heap) each run the SAME exact-mode external sort; aggregate
    merge-comparison throughput at N vs 4N processes gives the scaling
    efficiency of the compute kernel itself."""
    results = {}
    for nproc in levels:
        best = 0.0
        for _ in range(repeat):
            import tempfile

            with tempfile.TemporaryDirectory() as td:
                outs = [os.path.join(td, f"{i}.json") for i in range(nproc)]
                t0 = time.perf_counter()
                procs = [
                    subprocess.Popen(
                        [
                            sys.executable,
                            os.path.abspath(__file__),
                            "--kernel-worker",
                            str(rows),
                            o,
                        ]
                    )
                    for o in outs
                ]
                for p in procs:
                    assert p.wait() == 0
                wall = time.perf_counter() - t0
                total = sum(json.load(open(o))["compares"] for o in outs)
                best = max(best, total / wall)
        results[nproc] = best
    lo, hi = min(levels), max(levels)
    eff = results[hi] / (results[lo] * (hi / lo))
    return {
        "metric": f"kernel merge-compare throughput scaling {lo} -> {hi} procs",
        "value": round(eff, 3),
        "unit": "efficiency",
        "rows_per_proc": rows,
        "compares_per_sec": {str(k): round(v, 1) for k, v in results.items()},
        "scaling_efficiency": round(eff, 3),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", type=str, default=None, help="e.g. 2,8 or 8,32")
    ap.add_argument("--kernel-scaling", type=str, default=None, help="e.g. 2,8")
    ap.add_argument("--membw", type=str, default=None, help="e.g. 8,32")
    ap.add_argument("--kernel-worker", nargs=2, default=None)
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--pages", type=int, default=2_000_000)
    ap.add_argument("--input", type=str, default=None)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--flagship-only", action="store_true")
    args = ap.parse_args()

    if args.kernel_worker:
        _kernel_worker_main(int(args.kernel_worker[0]), args.kernel_worker[1])
        return
    if args.kernel_scaling:
        levels = [int(x) for x in args.kernel_scaling.split(",")]
        print(json.dumps(run_kernel_scaling(levels, args.rows, args.repeat)))
        return
    if args.membw:
        levels = [int(x) for x in args.membw.split(",")]
        print(json.dumps(run_membw_scaling(levels)))
        return

    if args.flagship_only:
        m = run_flagship_once(CPUS, args.pages, args.input)
        print(json.dumps(m))
        return
    if args.scaling:
        levels = [int(x) for x in args.scaling.split(",")]
        print(json.dumps(run_scaling(levels, args.pages, args.repeat)))
        return
    print(json.dumps(run_default()))


if __name__ == "__main__":
    main()
