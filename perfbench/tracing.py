"""Traced run: per-layer spans, worker-side iterator timing, Spark event log.

Spans are recorded from the benchmark's side, around each call into a
layer's public function; the call's DataFrame result is persisted and
counted inside the span, so the work the layer planned is attributed to
it.  Each span carries its own Spark job group, so jobs, stages and task
metrics from the (uncompressed) event log map back to spans.  Spans stay
in memory and are written to ``spans.json`` when the run ends, with self
times (span minus its children).

Per-layer metrics (``PER_LAYER``) are sums over spans of one name.  The
self times of all spans add up to the traced ``job_s`` by construction;
``trace.accounted_frac`` is the share of it in the layer spans alone,
so ``pipeline.self_s`` (the root span's own time) and the tracer's own
partition dump are the part no layer explains.  The in-process kernel
metrics come from re-sorting one materialized partition with
``ExternalSorter`` in this process, after the Spark session has stopped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time
import uuid

pc = time.perf_counter

# name -> (unit, which direction is better), in report order
PER_LAYER = {
    "spatial.encode_s": ("s", "lower"),
    "sort.partition_s": ("s", "lower"),
    "sort.plan_jobs": ("count", "lower"),
    "sort.partition_skew": ("ratio", "lower"),
    "sort.kernel_stage_s": ("s", "lower"),
    "sort.task_skew": ("ratio", "lower"),
    "arrow.to_python_wait_s": ("s", "lower"),
    "kernel.compute_s": ("s", "lower"),
    "arrow.to_jvm_s": ("s", "lower"),
    "kernel.sort_s": ("s", "lower"),
    "kernel.normalize_s": ("s", "lower"),
    "kernel.spill_write_s": ("s", "lower"),
    "kernel.spill_read_s": ("s", "lower"),
    "kernel.merge_s": ("s", "lower"),
    "kernel.runs_formed": ("count", "lower"),
    "kernel.passes": ("count", "lower"),
    "kernel.spill_rows": ("count", "lower"),
    "kernel.ovc_compares": ("count", "lower"),
    "kernel.col_compares": ("count", "lower"),
    "kernel.compares": ("count", "lower"),
    "kernel.ovc_resolved_frac": ("ratio", "higher"),
    "witness.in_s": ("s", "lower"),
    "witness.out_s": ("s", "lower"),
    "witness.sortedness_s": ("s", "lower"),
    "pip.join_s": ("s", "lower"),
    "pip.candidates": ("count", "lower"),
    "pip.hits": ("count", "higher"),
    "pip.hit_frac": ("ratio", "higher"),
    "tiles.s": ("s", "lower"),
    "knn.s": ("s", "lower"),
    "knn.jobs": ("count", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_s": ("s", "lower"),
    "spark.fetch_wait_s": ("s", "lower"),
    "spark.py_in_mb": ("MB", "lower"),
    "spark.py_out_mb": ("MB", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.run_s": ("s", "lower"),
    "spark.spill_disk_mb": ("MB", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.accounted_frac": ("ratio", "higher"),
}

# span name -> per-layer time metric (summed self time)
SPAN_METRICS = {
    "spatial.encode": "spatial.encode_s",
    "sort.kernel_stage": "sort.kernel_stage_s",
    "witness.in": "witness.in_s",
    "witness.out": "witness.out_s",
    "witness.sortedness": "witness.sortedness_s",
    "pip.join": "pip.join_s",
    "tiles": "tiles.s",
    "knn": "knn.s",
    "job": "pipeline.self_s",
}
MB = 1 << 20


def timed_map_fn(fn, out_dir: str, label: str):
    """Wrap a mapInArrow / mapInPandas function so each task records how
    long it waited for input batches from the JVM, how long the JVM took
    to accept each output batch, and the rest (the function's compute),
    plus row counts; one JSON file per task under ``out_dir``."""

    def run(iterator):
        acc = {"label": label, "in_wait_s": 0.0, "out_s": 0.0, "rows_in": 0,
               "rows_out": 0, "hits": 0}

        def source():
            while True:
                t = pc()
                try:
                    b = next(iterator)
                except StopIteration:
                    acc["in_wait_s"] += pc() - t
                    return
                acc["in_wait_s"] += pc() - t
                acc["rows_in"] += b.num_rows if hasattr(b, "num_rows") else len(b)
                yield b

        t0 = pc()
        try:
            for out in fn(source()):
                if hasattr(out, "num_rows"):
                    acc["rows_out"] += out.num_rows
                else:
                    acc["rows_out"] += len(out)
                    if "inside" in out.columns:
                        acc["hits"] += int(out["inside"].sum())
                t = pc()
                yield out
                acc["out_s"] += pc() - t
        finally:
            acc["total_s"] = pc() - t0
            path = os.path.join(out_dir, f"{label}-{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump(acc, f)

    return run


class Tracer:
    def __init__(self, spark, trace_dir: str):
        from pyspark import cloudpickle

        # workers cannot import this file: ship timed_map_fn by value
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        self.sc = spark.sparkContext
        self.trace_dir = trace_dir
        self.task_dir = os.path.join(trace_dir, "tasks")
        os.makedirs(self.task_dir, exist_ok=True)
        self.run_id = uuid.uuid4().hex[:12]  # ties the spans and job groups to this run
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.values: dict[str, float] = {}
        self._persisted = []
        self._witness_calls = 0
        self.sort_input = None  # the last partitioner output, materialized
        self.kernel_input = None  # (arrow table, ExternalSorter kwargs, keys)

    # -- spans -------------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{self.run_id}-{sid}-{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        rec["start"] = pc()
        try:
            yield rec
        finally:
            rec["end"] = pc()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def add(self, metric: str, value: float) -> None:
        self.values[metric] = self.values.get(metric, 0) + value

    def materialize(self, df) -> list[int]:
        """Persist ``df`` and count it per partition (one job)."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        return [int(r["count"]) for r in rows]

    # -- layer wrappers ------------------------------------------------------------
    def _wrap_layer(self, name, orig, materialize=True, on_map=None):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                with self._map_timing(a, on_map):
                    out = orig(*a, **kw)
                if materialize and out is not None:
                    self.materialize(out)
            return out

        return wrapper

    @contextlib.contextmanager
    def _map_timing(self, args, method):
        """While a layer builds its plan, wrap the function it hands to
        ``DataFrame.<method>`` with ``timed_map_fn``."""
        if method is None:
            yield
            return
        cls = type(args[0])
        own = method in cls.__dict__
        orig = getattr(cls, method)
        task_dir = self.task_dir

        def patched(df, fn, *a, **kw):
            return orig(df, timed_map_fn(fn, task_dir, method), *a, **kw)

        setattr(cls, method, patched)
        try:
            yield
        finally:
            if own:
                setattr(cls, method, orig)
            else:
                delattr(cls, method)

    def _wrap_witness(self, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            self._witness_calls += 1
            with self.span("witness.in" if self._witness_calls == 1 else "witness.out"):
                return orig(*a, **kw)

        return wrapper

    def _wrap_partitioner(self, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span("sort.partition"):
                with self.span("sort.partition.plan") as plan:
                    out = orig(*a, **kw)
                self.add("sort.plan_jobs", plan["jobs"])
                if out is not None:
                    rows = self.materialize(out)
                    self.sort_input = out
                    self.add("sort.partition_skew", max(rows) / statistics.mean(rows))
            return out

        return wrapper

    def _wrap_sort(self, orig):
        from external_merge_sort_loser_tree_ovc_spark.operators.witness import (
            assert_globally_sorted,
        )

        @functools.wraps(orig)
        def wrapper(df, keys, **kw):
            out = self._wrap_layer("sort.kernel_stage", orig, on_map="mapInArrow")(df, keys, **kw)
            # salted range partitions split equal leading keys across
            # neighbours, so only the leading key is globally ordered there
            order = keys[:1] if kw.get("skip_shuffle") else keys
            types = [str if dict(df.dtypes)[k] == "string" else int for k in order]
            with self.span("witness.sortedness"):
                assert_globally_sorted(out, order, boundary_types=types)
            if self.sort_input is not None:
                with self.span("trace.partition_dump"):
                    self._dump_partition(self.sort_input, keys, kw)
            return out

        return wrapper

    def _dump_partition(self, src, keys, kw) -> None:
        """Keep the largest kernel input partition (as Arrow, in partition
        order) for the in-process kernel re-sort after the session ends."""
        from pyspark.sql import functions as F

        top = (src.groupBy(F.spark_partition_id().alias("p")).count()
               .orderBy(F.col("count").desc(), "p").first())
        table = src.filter(F.spark_partition_id() == top["p"]).toArrow()
        self.kernel_input = (table, kw, list(keys))

    @contextlib.contextmanager
    def installed(self, spec: dict):
        """Patch the layer entry points the workload calls."""
        import external_merge_sort_loser_tree_ovc_spark.operators.sort as S
        import external_merge_sort_loser_tree_ovc_spark.plans.pipeline as P
        import external_merge_sort_loser_tree_ovc_spark.queries as Q
        import external_merge_sort_loser_tree_ovc_spark.spatial.knn as KN
        import external_merge_sort_loser_tree_ovc_spark.spatial.ops as OPS

        kind = spec["kind"]
        patches = []
        if kind == "geo_sort":
            patches = [
                (P, "with_morton", self._wrap_layer("spatial.encode", P.with_morton)),
                (P, "witness_summary", self._wrap_witness(P.witness_summary)),
                (P, "salted_repartition_by_range",
                 self._wrap_partitioner(P.salted_repartition_by_range)),
                (P, "external_sort_df", self._wrap_sort(P.external_sort_df)),
                (P, "pip_join", self._wrap_layer("pip.join", P.pip_join, on_map="mapInPandas")),
                (P, "with_tile", self._wrap_layer("tiles", P.with_tile)),
            ]
        elif kind == "lineitem":
            patches = [
                (S, "range_partition_fixed_bounds",
                 self._wrap_partitioner(S.range_partition_fixed_bounds)),
                (Q, "external_sort_df", self._wrap_sort(Q.external_sort_df)),
                (Q, "sortedness_report",
                 self._wrap_layer("witness.sortedness", Q.sortedness_report, materialize=False)),
            ]
        elif kind == "spatial_join":
            patches = [
                (OPS, "pip_join", self._wrap_layer("pip.join", OPS.pip_join,
                                                   on_map="mapInPandas")),
                (KN, "knn_join", self._wrap_layer("knn", KN.knn_join)),
            ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
        for mod, name, new in patches:
            setattr(mod, name, new)
        try:
            yield self
        finally:
            for mod, name, old in saved:
                setattr(mod, name, old)
            for df in self._persisted:
                df.unpersist()

    # -- report --------------------------------------------------------------------
    def finish(self, work: str, job_s: float) -> dict:
        """After the session stopped: self times, task files, event log and
        the in-process kernel; returns {"metrics": ..., "spans": ...}."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"]
        for s in self.spans:
            if s["parent"] is not None:
                by_id[s["parent"]]["self_s"] -= s["dur_s"]
        m = {k: 0.0 for k in PER_LAYER}
        m.update(self.values)
        for s in self.spans:
            if s["name"] in SPAN_METRICS:
                m[SPAN_METRICS[s["name"]]] += s["self_s"]
            if s["name"] == "sort.partition":
                m["sort.partition_s"] += s["dur_s"]
            if s["name"] == "knn":
                m["knn.jobs"] += s["jobs"]
        m["trace.job_s"] = job_s
        m["trace.accounted_frac"] = sum(
            s["self_s"] for s in self.spans
            if s["parent"] is not None and not s["name"].startswith("trace.")
        ) / job_s
        m.update(self._task_metrics())
        m.update(event_log_metrics(os.path.join(self.trace_dir, "eventlog"), self.spans))
        if self.kernel_input is not None:
            m.update(kernel_in_process(*self.kernel_input, os.path.join(work, "spill")))
        with open(os.path.join(self.trace_dir, "spans.json"), "w") as f:
            json.dump(self.spans, f, indent=1)
        return {"metrics": m, "spans": self.spans}

    def _task_metrics(self) -> dict:
        out = {"arrow.to_python_wait_s": 0.0, "kernel.compute_s": 0.0, "arrow.to_jvm_s": 0.0,
               "pip.candidates": 0, "pip.hits": 0}
        for name in os.listdir(self.task_dir):
            with open(os.path.join(self.task_dir, name)) as f:
                t = json.load(f)
            if t["label"] == "mapInArrow":
                out["arrow.to_python_wait_s"] += t["in_wait_s"]
                out["arrow.to_jvm_s"] += t["out_s"]
                out["kernel.compute_s"] += t["total_s"] - t["in_wait_s"] - t["out_s"]
            else:
                out["pip.candidates"] += t["rows_in"]
                out["pip.hits"] += t["hits"]
        out["pip.hit_frac"] = out["pip.hits"] / out["pip.candidates"] if out["pip.candidates"] else 0.0
        return out


# --- Spark event log -------------------------------------------------------------


def event_log_metrics(log_dir: str, spans: list[dict]) -> dict:
    """Task-level totals over the jobs of the traced execution, plus the
    kernel stage's task skew (max / median executor run time)."""
    span_of_group = {s["group"]: s for s in spans}
    stage_span: dict[int, dict] = {}
    tasks: list[tuple[int, dict, dict]] = []
    # Spark 4 writes a rolling log: a directory of event files per app
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a torn last line of a rolled file
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in span_of_group:
                        for sid in ev["Stage IDs"]:
                            stage_span[sid] = span_of_group[group]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Info", {}),
                                  ev.get("Task Metrics") or {}))
    out = {k: 0.0 for k in PER_LAYER if k.startswith("spark.")}
    stage_runs: dict[int, list[float]] = {}
    for stage, info, tm in tasks:
        if stage not in stage_span:
            continue
        out["spark.tasks"] += 1
        out["spark.failed_tasks"] += bool(info.get("Failed"))
        out["spark.run_s"] += tm.get("Executor Run Time", 0) / 1e3
        out["spark.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["spark.spill_disk_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
        sr = tm.get("Shuffle Read Metrics", {})
        out["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
        out["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics", {})
        out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        out["spark.shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            if name == "data sent to Python workers":
                out["spark.py_in_mb"] += int(acc.get("Update", 0)) / MB
            elif name == "data returned from Python workers":
                out["spark.py_out_mb"] += int(acc.get("Update", 0)) / MB
        if stage_span[stage]["name"] == "sort.kernel_stage":
            stage_runs.setdefault(stage, []).append(tm.get("Executor Run Time", 0) / 1e3)
    if stage_runs:
        # the kernel stage: the stage of the kernel span with most task time
        runs = max(stage_runs.values(), key=sum)
        out["sort.task_skew"] = max(runs) / statistics.median(runs) if statistics.median(runs) else 0.0
    return out


# --- in-process kernel --------------------------------------------------------------


def kernel_in_process(table, kw: dict, keys: list[str], spill_root: str) -> dict:
    """Re-sort one partition with ``ExternalSorter`` in this process, under
    the geometry the operator was given, timing the kernel's layers; the
    output is checked (rows, parity, inversions) against the input."""
    import shutil
    import tempfile

    import pyarrow as pa

    import external_merge_sort_loser_tree_ovc_spark.kernel.external_sort as ES
    import external_merge_sort_loser_tree_ovc_spark.kernel.vmerge as VM
    from external_merge_sort_loser_tree_ovc_spark.kernel.runs import RunStore
    from external_merge_sort_loser_tree_ovc_spark.operators.sort import (
        DEFAULT_BATCH_ROWS,
        DEFAULT_BUDGET_ROWS,
    )

    from checks import summarize_sorted

    timers = {"kernel.normalize_s": 0.0, "kernel.spill_write_s": 0.0,
              "kernel.spill_read_s": 0.0, "kernel.merge_s": 0.0}

    def timed(metric, fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            t = pc()
            try:
                return fn(*a, **k)
            finally:
                timers[metric] += pc() - t

        return wrapper

    patches = [(ES, "key_matrix_table", "kernel.normalize_s"),
               (RunStore, "write_run", "kernel.spill_write_s"),
               (RunStore, "read_run", "kernel.spill_read_s"),
               (VM, "merge_runs_packed", "kernel.merge_s")]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    spill = tempfile.mkdtemp(prefix="trace-kernel-", dir=spill_root)
    try:
        for obj, name, metric in patches:
            setattr(obj, name, timed(metric, getattr(obj, name)))
        sorter = ES.ExternalSorter(
            key_cols=keys, spill_dir=spill,
            memory_budget_rows=kw.get("memory_budget_rows", DEFAULT_BUDGET_ROWS),
            batch_rows=kw.get("batch_rows", DEFAULT_BATCH_ROWS),
            mode=kw.get("mode", "fast"),
            checkpoint_inputs=kw.get("checkpoint_dir") is not None,
        )
        batches = (pa.Table.from_batches([b]) for b in table.to_batches(max_chunksize=10_000))
        t0 = pc()
        out = pa.concat_tables(list(sorter.sort_tables(batches)))
        sort_s = pc() - t0
    finally:
        for obj, name, old in saved:
            setattr(obj, name, old)
        shutil.rmtree(spill, ignore_errors=True)
    ints = [k for k in keys if pa.types.is_integer(table.schema.field(k).type)]
    terms = [(k, 1 + 7918 * i) for i, k in enumerate(ints)]
    got = summarize_sorted(out, keys, terms)
    want = summarize_sorted(table, [], terms)
    if (got["rows"], got["parity"], got["inversions"]) != (want["rows"], want["parity"], 0):
        raise AssertionError(f"in-process kernel output mismatch: {got} vs input {want}")
    mt = sorter.metrics
    compares = mt.ovc_compares + mt.col_compares
    return dict(
        timers,
        **{
            "kernel.sort_s": sort_s,
            "kernel.runs_formed": mt.runs_formed,
            "kernel.passes": mt.passes,
            "kernel.spill_rows": mt.spill_rows,
            "kernel.ovc_compares": mt.ovc_compares,
            "kernel.col_compares": mt.col_compares,
            "kernel.compares": compares,
            "kernel.ovc_resolved_frac": mt.ovc_compares / compares if compares else 0.0,
        },
    )


def per_layer_metrics(traced: dict, untraced_job_s: float | None) -> dict:
    m = dict(traced["trace"]["metrics"])
    m["trace.overhead_s"] = m["trace.job_s"] - untraced_job_s if untraced_job_s else 0.0
    return {k: {"value": float(m[k]), "unit": u} for k, (u, _) in PER_LAYER.items()}

