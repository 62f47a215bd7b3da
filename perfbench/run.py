#!/usr/bin/env python3
"""The repo benchmark: fresh-session workloads of the OVC sort + spatial engine.

    python3 perfbench/run.py --workload geo_sort_uniform --seed 1 --seconds 20 --trace 0

Run from the repository root.  For ``--seconds`` seconds the benchmark
starts one fresh Spark session after another (a new Python driver and
JVM each, see ``session.py``), runs the workload once per session and
checks every output against an oracle that does not use the engine.  The
last stdout line is one JSON object:

  --trace 0: end-to-end metrics (medians over the sessions of this run)
      setup_s        session build + generic warm-up + import of the package
                     modules the workload calls, per fresh session
      job_per_setup  wall seconds of the workload's one execution (job_s,
                     printed above the JSON) over the same session's set-up
                     before the package import (spark_setup_s)
      peak_rss_mb    peak summed RSS of the session's process tree (Python
                     driver, JVM, Python workers) during the execution
  --trace 1: per-layer metrics from one extra traced session (see
      ``tracing.py``), plus the tracing overhead against this run's
      untraced median.

``failed`` counts executions that raised, timed out or mismatched the
oracle; the lines above the JSON print every metric with its unit and
sample count, and ``failed_frac``.  Kernel counters of the sort workloads
must repeat exactly between executions of one version of the package on
one input; a counter that differs from another version's is printed, not
failed.  Inputs and oracles are cached per (workload, size, seed) under
``.perfbench_work/`` in the repository root; every file the benchmark
writes stays there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "external_merge_sort_loser_tree_ovc_spark"
sys.path[:0] = [HERE, ROOT]

# partition counts are fixed per workload (not taken from the core count)
# so kernel and partitioner counters match across boxes
WORKLOADS = {
    "geo_sort_uniform": {
        "kind": "geo_sort", "scenario": "geo_uniform", "size": 500_000, "partitions": 4,
        "why": "flagship pipeline on uniform pages: forced spill, ~8 runs per "
               "partition, packed-OVC merge and salted partitioner on the critical path",
    },
    "geo_sort_hotcell": {
        "kind": "geo_sort", "scenario": "geo_hotcell", "size": 500_000, "partitions": 4,
        "why": "same pipeline with >=50% of pages on one coordinate: the salt decides "
               "partition balance and the slowest task sets the sort time",
    },
    "lineitem_sort": {
        # sf0.5 writes ~90 MB of parquet: above the 64 MB size gate of
        # range_partition_fixed_bounds, so that partitioner runs
        "kind": "lineitem", "scenario": "tpch", "size": 0.5, "partitions": 4,
        "why": "q_sort_witness on seed-permuted TPC-H lineitem: mixed string+int "
               "keys, an 11-column payload through mapInArrow, the bounds partitioner",
    },
    "spatial_join": {
        "kind": "spatial_join", "scenario": "geo_uniform", "size": 500_000,
        "knn_points": 20_000, "partitions": 4,
        "why": "pip_join plus multi-round kNN ring expansion; never calls the sort "
               "kernel, so kernel or partitioner changes predict no change here",
    },
}
# --tiny: the same workloads at smoke-test size
TINY = {"geo_sort": 20_000, "lineitem": 0.01, "spatial_join": 20_000}
TINY_KNN_POINTS = 3_000

# job_per_setup is the job's wall time over the same session's set-up
# time before the package import (spark_setup_s).  On a shared 4-CPU VM,
# speed drifted by up to 2x over tens of minutes, and set-up and job
# drifted together.  In three blocks of ten seeds per workload, job_s moved
# 12-21% between the block medians and spread up to 27% of its median
# within a block; the ratio moved <= 4% and spread <= 18%.  The denominator
# runs no package code, so no package change can move it.  job_s and
# spark_setup_s are printed and recorded.
END_TO_END = [("setup_s", "s"), ("job_per_setup", "ratio"), ("peak_rss_mb", "MB")]
# no session may still be running this many seconds after the start, so a
# run always ends (sessions killed past it count as failed) within 180 s
DEADLINE_S = 170.0
PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_sha(root: str) -> str:
    """HEAD's sha read straight from .git (no git binary needed); the
    benchmark may run in a plain copy of the tree, then it is unknown."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def package_digest(root: str) -> str:
    """Content hash of the package's Python sources: names the version of
    the program a kernel-counter reference belongs to (the benchmark may
    run in a plain copy of the tree, without git)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def counter_references(data: str, program: str) -> tuple[str, dict]:
    """This version's counter reference file for an input, and the
    references other versions left there ({program: counters})."""
    others = {}
    for name in sorted(os.listdir(data)):
        if name.startswith("counters-") and name != f"counters-{program}.json":
            with open(os.path.join(data, name)) as f:
                others[name[len("counters-"):-len(".json")]] = json.load(f)
    return os.path.join(data, f"counters-{program}.json"), others


def child_env(work: str) -> dict:
    """Pinned environment for a session: spill and scratch dirs inside the
    work dir (the package would otherwise pick /dev/shm or disk by free
    space), the package importable by driver and Python workers."""
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SPILL_ROOT": os.path.join(work, "spill"),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
            # Spark prefers this over spark.local.dir when it is set
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # the JVM spark-submit starts to build the driver's command line
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return env


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process, so that
    ``_reap`` can find and wait for every process a session started."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of a session and wait until it has ended.  The
    JVM shares the session's process group, but pyspark's worker daemon
    moves to a group of its own; both end up as this (subreaper)
    process's children once the session process is gone."""
    import session

    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    me = os.getpid()
    while kids := [p for p, pp in session.process_parents().items() if pp == me]:
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def run_session(spec: dict, data: str, work: str, timeout: float, trace_dir=None) -> dict:
    """One fresh session in a child process group; returns its result."""
    n = sum(f.endswith("-req.json") for f in os.listdir(os.path.join(work, "sessions")))
    req_path = os.path.join(work, "sessions", f"{n:04d}-req.json")
    res_path = os.path.join(work, "sessions", f"{n:04d}-res.json")
    spawned = time.time()
    with open(req_path, "w") as f:
        json.dump({"spec": spec, "data": data, "work": work, "trace_dir": trace_dir,
                   "spawned_at": spawned}, f)
    with open(os.path.join(work, "sessions", f"{n:04d}.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "session.py"), req_path, res_path],
            cwd=work, env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(proc)
    if not os.path.exists(res_path):
        return {"ok": False, "error": f"session ended without a result (rc={proc.returncode}, "
                                      f"timeout {timeout:.0f} s)"}
    with open(res_path) as f:
        return json.load(f)


def prune_inputs(root: str, current: str, keep: int = 4) -> None:
    """Keep the ``keep`` most recently used input sets (a 500k-page input
    is ~50 MB and every seed makes a new one)."""
    os.utime(current)
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def workload_spec(name: str, tiny: bool) -> dict:
    spec = dict(WORKLOADS[name], name=name)
    spec.pop("why")
    if tiny:
        spec["size"] = TINY[spec["kind"]]
        if "knn_points" in spec:
            spec["knn_points"] = TINY_KNN_POINTS
    return spec


def main(argv=None) -> int:
    t_begin = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    import checks
    import inputs

    become_subreaper()
    spec = workload_spec(args.workload, args.tiny)
    work = os.path.join(ROOT, ".perfbench_work")
    # scratch left by earlier runs (sessions are SIGKILLed at the end)
    for d in ("sessions", "spill", "local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in ("data", "sessions", "spill", "local", "tmp", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)

    t0 = time.monotonic()
    data, oracle = inputs.prepare(spec, args.seed, os.path.join(work, "data"),
                                  os.path.join(work, "base"))
    prep_s = time.monotonic() - t0
    prune_inputs(os.path.join(work, "data"), data)
    program = package_digest(ROOT)
    counters_path, other_counters = counter_references(data, program)
    counter_diffs: list[str] = []
    # write back the new inputs and the pruned ones now, not while a
    # session is being timed
    os.sync()

    def remaining() -> float:
        return DEADLINE_S - (time.monotonic() - t_begin)

    samples = {"setup_s": [], "spark_setup_s": [], "job_s": [], "job_per_setup": [],
               "peak_rss_mb": []}
    errors: list[str] = []
    confs: dict = {}
    attempted = 0

    def attempt(trace_dir=None) -> dict | None:
        nonlocal attempted
        attempted += 1
        res = run_session(spec, data, work, max(5.0, remaining()), trace_dir)
        confs.update(res.get("confs", {}))
        if not res.get("ok"):
            errors.append(res.get("error", "unknown error").strip().splitlines()[-1])
            return None
        ref = None
        if os.path.exists(counters_path):
            with open(counters_path) as f:
                ref = json.load(f)
        bad = checks.check(spec["kind"], res["outputs"], oracle, ref)
        if bad:
            errors.append("; ".join(bad))
            return None
        if ref is None and spec["kind"] == "geo_sort":
            ref = {c: res["outputs"][c] for c in checks.COUNTERS}
            with open(counters_path, "w") as f:
                json.dump(ref, f)
        for other, theirs in other_counters.items():
            for c in checks.COUNTERS:
                d = f"{c} {theirs.get(c)} (program {other}) -> {ref[c]}"
                if theirs.get(c) != ref[c] and d not in counter_diffs:
                    counter_diffs.append(d)
        return res

    # sessions back to back; another one starts only if it is predicted
    # (from the last one's length) to end within --seconds
    t_measure = last = time.monotonic()
    while attempted == 0 or (
        2 * time.monotonic() - last - t_measure <= args.seconds
        and remaining() > 2 * (time.monotonic() - last) + 10
    ):
        last = time.monotonic()
        res = attempt()
        if res is not None:
            res["job_per_setup"] = res["job_s"] / res["spark_setup_s"]
            for k in samples:
                samples[k].append(res[k])
    traced = None
    if args.trace:
        trace_dir = os.path.join(work, "trace")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        traced = attempt(trace_dir)

    failed = len(errors)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spec": spec, "nproc": nproc(), "git_sha": git_sha(ROOT),
        "program": program, "confs": confs, "counter_diffs": counter_diffs,
        "prep_s": prep_s, "samples": samples, "attempted": attempted, "failed": failed,
        "errors": errors,
    }
    median = {k: statistics.median(v) for k, v in samples.items() if v}
    if args.trace:
        import tracing

        metrics = {}
        if traced is not None:
            record["trace_result"] = traced["trace"]
            metrics = tracing.per_layer_metrics(traced, median.get("job_s"))
    else:
        metrics = {k: {"value": median[k], "unit": u} for k, u in END_TO_END if k in median}
    record["metrics"] = metrics
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(work, "results", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} nproc={record['nproc']} "
          f"partitions={spec['partitions']} size={spec['size']} git={record['git_sha'][:12]} "
          f"program={program} "
          f"prep_s={prep_s:.2f}")
    for k, u in END_TO_END + [("job_s", "s"), ("spark_setup_s", "s")]:
        if samples[k]:
            print(f"{k:>14} {median[k]:10.4f} {u:<6} (median of n={len(samples[k])})")
    print(f"{'failed_frac':>14} {failed / attempted:10.4f} ratio  ({failed} of {attempted})")
    for e in errors:
        print(f"# failure: {e}")
    for d in counter_diffs:
        print(f"# kernel counter differs from another version: {d}")
    if args.trace:
        for k, m in metrics.items():
            print(f"{k:>28} {m['value']:14.4f} {m['unit']}")
    ok = failed == 0 and set(metrics) == (
        set(tracing.PER_LAYER) if args.trace else {k for k, _ in END_TO_END}
    )
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
