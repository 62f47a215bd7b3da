"""One fresh Spark session: build it, warm it up, run one workload once.

Run as a child process by ``run.py``; every timed execution is the first
execution of its workload in a brand-new JVM and Python driver, the way
``jobs/flagship_job.py`` runs under spark-submit.  Process-global memos
in the package therefore start empty on every execution.

    python3 perfbench/session.py <request.json> <result.json>

The request names the workload, its data directory, the work directory
and whether to trace.  The result holds set-up seconds (session build and
warm-up, then the import of the package modules the workload calls), job
seconds, the peak RSS of this process tree during the job, and the
workload's outputs (or the error), for the parent to check against the
oracle.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PAGE = os.sysconf("SC_PAGE_SIZE")


def process_parents() -> dict[int, int]:
    """{pid: parent pid} of every live (non-zombie) process, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state not in "ZX":
            parent[int(name)] = int(ppid)
    return parent


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for pid, ppid in process_parents().items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process tree, sampled every ``period`` s.

    The peak is taken over the median of each three consecutive samples:
    a process the JVM spawns shares the JVM's pages until it execs, so a
    single sample can count the JVM twice."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._last: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        self._last = (self._last + [_tree_rss_bytes(os.getpid())])[-3:]
        self.peak = max(self.peak, sorted(self._last)[len(self._last) // 2])

    def _loop(self):
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def spark_confs(spec: dict, work: str, trace_dir: str | None) -> dict[str, str]:
    """Every Spark setting the measured code path depends on, pinned."""
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.master": f"local[{len(os.sched_getaffinity(0))}]",
        "spark.app.name": f"perfbench-{spec['name']}",
        # a fixed, pre-touched 2 GiB heap (sized for a 15 GiB box whose
        # tmpfs spill shares the RAM): left to grow, the heap's RSS followed
        # GC sizing and spread peak_rss_mb 4-10% across seeds, against
        # 0.2-1.1% with the heap fixed
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(spec["partitions"]),
        "spark.default.parallelism": str(spec["partitions"]),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        os.makedirs(os.path.join(trace_dir, "eventlog"), exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(trace_dir, "eventlog"),
            }
        )
    return confs


def build_session(confs: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Generic warm-up that touches no workload data and no package code:
    one small job with a shuffle (codegen, block manager) and an Arrow
    Python stage (starts the Python worker daemon)."""
    from pyspark.sql import functions as F

    def ident(it):
        yield from it

    (spark.range(0, 40_000, 1, 4).mapInArrow(ident, "id long")
     .groupBy((F.col("id") % 7).alias("k")).count().collect())


# the package modules each workload calls, imported as the last step of
# set-up, so work a change moves into import time shows in setup_s
WORKLOAD_MODULES = {
    "geo_sort": ["plans.pipeline"],
    "lineitem": ["queries"],
    "spatial_join": ["spatial.knn", "spatial.ops", "spatial.pip"],
}


def import_workload(kind: str) -> None:
    for mod in WORKLOAD_MODULES[kind]:
        importlib.import_module(f"external_merge_sort_loser_tree_ovc_spark.{mod}")


# --- workloads: one execution each, returning the outputs to check ----------


def run_geo_sort(spark, spec, data):
    from external_merge_sort_loser_tree_ovc_spark.plans.pipeline import flagship_pipeline

    pages = spark.read.parquet(os.path.join(data, "pages.parquet"))
    m = flagship_pipeline(spark, pages, num_partitions=spec["partitions"])
    out = {k: m[k] for k in ("n_pages", "n_tiles", "spill_rows", "runs_formed",
                             "merge_passes_max", "ovc_compares", "col_compares")}
    out["pip_hits"] = {str(k): v for k, v in sorted(m["pip_hits"].items())}
    return out


def run_lineitem(spark, spec, data):
    from external_merge_sort_loser_tree_ovc_spark.queries import QUERIES

    row = QUERIES["q_sort_witness"](spark, data).collect()[0]
    return {"rows": int(row["rows"]), "parity": int(row["parity"]),
            "inversions": int(row["inversions"])}


def run_spatial_join(spark, spec, data):
    from pyspark.sql import functions as F

    from external_merge_sort_loser_tree_ovc_spark.spatial.knn import knn_join
    from external_merge_sort_loser_tree_ovc_spark.spatial.ops import pip_join
    from external_merge_sort_loser_tree_ovc_spark.spatial.pip import default_polygons
    from inputs import KNN_K

    def read(name):
        return spark.read.parquet(os.path.join(data, f"{name}.parquet"))

    hits = pip_join(read("pages"), default_polygons(), res=6, keep_cols=["url"])
    counts = hits.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n")).collect()
    knn = knn_join(read("points"), read("queries"), KNN_K, index_shift=None).collect()
    return {
        "pip_hits": {str(r["poly_id"]): int(r["n"]) for r in sorted(counts)},
        "knn": sorted([int(r["query_id"]), int(r["point_id"]), int(r["dist2"]), int(r["rank"])]
                      for r in knn),
    }


RUNNERS = {"geo_sort": run_geo_sort, "lineitem": run_lineitem, "spatial_join": run_spatial_join}


def main(req_path: str, out_path: str) -> int:
    with open(req_path) as f:
        req = json.load(f)
    spec, data, work = req["spec"], req["data"], req["work"]
    trace_dir = req.get("trace_dir")
    res: dict = {"ok": False}
    spark = tracer = None
    try:
        confs = spark_confs(spec, work, trace_dir)
        spark = build_session(confs)
        warm_up(spark)
        res["spark_setup_s"] = time.time() - req["spawned_at"]
        import_workload(spec["kind"])
        res["setup_s"] = time.time() - req["spawned_at"]
        res["confs"] = confs
        if trace_dir:
            import tracing

            tracer = tracing.Tracer(spark, trace_dir)
        null = contextlib.nullcontext()
        with RssSampler() as rss, tracer.installed(spec) if tracer else null:
            t0 = time.perf_counter()
            with tracer.span("job") if tracer else null:
                res["outputs"] = RUNNERS[spec["kind"]](spark, spec, data)
            res["job_s"] = time.perf_counter() - t0
        res["peak_rss_mb"] = rss.peak / (1 << 20)
        spark.stop()
        spark = None
        if tracer:
            res["trace"] = tracer.finish(work, res["job_s"])
        res["ok"] = True
    except Exception:  # reported to the parent, which counts the failure
        res["error"] = traceback.format_exc()[-4000:]
    finally:
        if spark is not None:
            spark.stop()
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, out_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
