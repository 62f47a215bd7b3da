"""Flagship pipeline: the north-star job end to end.

  pages --geocode/cell-encode (codegen)--> morton key (+ 40-bit url-hash
        tiebreak, so the sort key is all-integer and packs into ONE
        uint64 per row: 24 morton bits + 40 hash bits)
        --salted_repartition_by_range (deterministic range shuffle on
          (morton, urlh): a hot cell splits at its url-hash quantiles)-->
        per-partition OVC external merge sort (mapInArrow kernel,
        packed single-int compares, counted IN the production merge)
        --> point-in-polygon join (broadcast cover + ray-cast refine)
        --> raster tile counts
        + per-partition lineage/metrics (runs, passes, spill, compares)

This is SURVEY §3.4's lifecycle as one callable, used by ``bench.py``
(throughput + scaling efficiency) and the e2e tests.

Materialization: the encoded input and the sorted output are each
stored once as an eager ``localCheckpoint`` (rows, no columnar cache
encoding; the consumers plan against a truncated lineage), and both
are released before the call returns or raises.  Building a columnar
``persist`` cache of the kernel's output took nearly half of the
kernel stage (500k pages, 4 CPUs), for three small consumers
(witness-out, PIP, tiles).  The page count comes from the output
witness, not from a separate count job.

Instrumentation comes from the ONE production sort (like the reference,
``Sort.cpp:90-100``): the packed vectorized merge counts, per pairwise
merge step, how many head-to-head comparisons resolved on the single
packed integer (``ovc_compares``) vs how many tied on the code and
would need a suffix/column compare (``col_compares``) — see
``kernel/vmerge.merge2_compare_counts``.  The round-2 shadow exact-mode
sort (a SECOND full sort run only to count compares) is gone.

Throughput definitions (unambiguous, reported side by side):
  pages_per_sec       = n_pages / (s_sort + s_pip + s_tiles)   — the
                        engine core: sort + the two spatial consumers;
                        excludes input synthesis/encode and witness
                        verification legs.
  pages_per_sec_total = n_pages / total_sec — whole job wall clock
                        including encode, both witness passes and
                        lineage collection.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sort import (
    external_sort_df,
    salted_repartition_by_range,
    sort_metrics,
)
from ..runtime import default_spill_root, release
from ..operators.witness import witness_summary
from ..spatial.ops import pip_join, with_grid, with_morton, with_tile
from ..spatial.pip import default_polygons


def flagship_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    *,
    cell_res: int = 12,
    tile_zoom: int = 6,
    num_partitions: int | None = None,
    memory_budget_rows: int | None = None,
    checkpoint_dir: str | None = None,
) -> dict:
    """Run the full pipeline; returns a metrics dict (wall seconds per
    stage, pages/sec, merge comparisons/sec, witness parity in==out).

    ``memory_budget_rows=None`` auto-sizes the kernel budget so each
    partition forms several external runs (~8) — the external-merge
    geometry the engine exists to demonstrate; pass an explicit value to
    pin the geometry (tests do).

    The encoded input and the sorted output are eager local checkpoints,
    released on return and on raise.  Trade-off: a local checkpoint has
    no lineage, so on a cluster an executor lost after materialization
    makes the next consumer (witness, PIP or tiles) raise instead of
    recomputing the lost blocks; rerun the job.  With ``checkpoint_dir``
    the rerun still replays the kernel's committed runs.
    """
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    out: dict = {}
    t0 = time.perf_counter()

    enc = with_morton(with_grid(pages, "lat", "lon", cell_res))
    # 40-bit url-hash tiebreak: morton at res<=12 needs <=24 bits, so
    # (morton, urlh) spans <=64 bits and pack_columns_shared packs the
    # whole key into one uint64 -> every production merge is single-
    # machine-integer compares (the OVC thesis, reference README.md:4-5)
    # WITH counters.  Deterministic (hash of content, no RNG).
    # ORDER CONTRACT: the output is ordered by (morton, urlh) across
    # partitions — the range partition and the per-partition sort use
    # the same key, so partition i's last row never exceeds partition
    # i+1's first.  It is NOT ordered by (morton, url): distinct urls
    # collide in the 40-bit hash with ~n^2/2^41 probability per morton
    # cell, and colliding rows tie on the full packed key, so their
    # relative order is run-formation arrival order.  The witness checks
    # multiset parity + sortedness of the packed key, which is exactly
    # what holds.  Consumers needing a total deterministic order must
    # add a second null-free 64-bit key column instead of widening this
    # one.
    enc = enc.select(
        "url", "warc_ts", "text", "lang", "lat", "lon", "cell", "morton"
    ).withColumn("urlh", F.shiftrightunsigned(F.xxhash64("url"), 24))

    spill_root = default_spill_root()
    # an explicit checkpoint_dir persists across invocations: re-running
    # the job with the same dir replays committed per-partition runs
    # (fingerprint-verified) instead of re-sorting — the north_rule's
    # resumability.  Without one, a private dir is used and removed; it
    # is still a checkpoint dir, so every row spills (spill_rows ==
    # n_pages) and the sorted runs cover the whole input.
    own_ckpt = checkpoint_dir is None
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="emsort-flagship-", dir=spill_root)
    os.makedirs(ckpt, exist_ok=True)
    held: list[DataFrame] = []  # local checkpoints, released in finally
    try:
        # the encoded input feeds THREE passes (witness-in, range sampler,
        # the shuffle itself): against a storage-backed table each extra
        # pass is a column-pruned scan, but a synthesized/derived input
        # would be recomputed per pass, timing the generator, not the
        # engine.  A local checkpoint stores its rows once; a columnar
        # persist cache bought nothing over it.
        enc = enc.localCheckpoint(eager=True)
        held.append(enc)
        # witness below the sort (reference plan shape:
        # Witness(Sort(Witness(...))))
        w_in = witness_summary(enc, ["url", "text"])
        n_in = w_in["rows"]
        t1 = time.perf_counter()
        out["s_encode_witness"] = t1 - t0

        # auto budget: ~8 runs per partition so run formation and the
        # k-way merge both execute (a budget >= partition size would
        # sort in memory and the external-merge machinery would never
        # run).  batch_rows sizes fan-in B = budget/batch - 1 ABOVE the
        # run count, so all runs merge in ONE final pass — no
        # intermediate rewrite, the minimum-I/O geometry the reference
        # also picks whenever W <= B (this box shares one memory bus
        # across all cores; every avoided rewrite pass is scaling
        # efficiency).  Intermediate/X-merge geometry stays exercised by
        # the kernel tests and any caller with an explicit tight budget.
        budget = memory_budget_rows or max(2048, n_in // (n_parts * 8) or 1)
        batch_rows = max(128, budget // 16)

        # one key partitions and orders: urlh splits a hot cell
        keys = ["morton", "urlh"]
        parted = salted_repartition_by_range(enc, keys, num_partitions=n_parts)
        sorted_df = external_sort_df(
            parted,
            keys,
            memory_budget_rows=budget,
            batch_rows=batch_rows,
            checkpoint_dir=ckpt,
            skip_shuffle=True,
        )
        # the witness, PIP and tiles read the sorted rows from here; the
        # metrics accumulator stays on sorted_df (sort_metrics below)
        sorted_ck = sorted_df.localCheckpoint(eager=True)
        held.append(sorted_ck)
        t2 = time.perf_counter()
        out["s_sort"] = t2 - t1

        w_out = witness_summary(sorted_ck, ["url", "text"])
        if w_out != w_in:
            raise AssertionError(f"witness violated: {w_in} != {w_out}")
        out["n_pages"] = w_out["rows"]
        t3 = time.perf_counter()
        out["s_witness_out"] = t3 - t2

        hits = pip_join(
            sorted_ck, default_polygons(), res=6, keep_cols=["url"]
        )
        pip_counts = (
            hits.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        out["pip_hits"] = {int(r["poly_id"]): int(r["n"]) for r in pip_counts}
        t4 = time.perf_counter()
        out["s_pip"] = t4 - t3

        tiles = with_tile(sorted_ck, "lat", "lon", tile_zoom)
        tile_counts = tiles.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n"))
        out["n_tiles"] = tile_counts.count()
        t5 = time.perf_counter()
        out["s_tiles"] = t5 - t4

        # lineage / instrumentation from the kernel's per-partition
        # metrics — including the production-merge comparison counters
        lineage = sort_metrics(sorted_df)
        out["spill_rows"] = sum(m["spill_rows"] for m in lineage)
        out["runs_formed"] = sum(m["runs_formed"] for m in lineage)
        out["merge_passes_max"] = max((m["passes"] for m in lineage), default=0)
        out["partitions_resumed"] = sum(1 for m in lineage if m["resumed"])
        out["ovc_compares"] = sum(m["ovc_compares"] for m in lineage)
        out["col_compares"] = sum(m["col_compares"] for m in lineage)
        out["merge_comparisons_per_sec"] = (
            (out["ovc_compares"] + out["col_compares"]) / out["s_sort"]
            if out["s_sort"] > 0
            else 0.0
        )
    finally:
        for df in held:
            release(df)
        if own_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)

    total = time.perf_counter() - t0
    out["total_sec"] = total
    core = out["s_sort"] + out["s_pip"] + out["s_tiles"]
    out["pages_per_sec"] = out["n_pages"] / core if core > 0 else 0.0
    out["pages_per_sec_total"] = out["n_pages"] / total if total > 0 else 0.0
    out["throughput_definition"] = (
        "pages_per_sec = n_pages / (s_sort + s_pip + s_tiles); "
        "pages_per_sec_total = n_pages / total_sec"
    )
    return out
